package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Listener-counted Spark jobs, for specs that pin a job budget. */
object JobLog {

  /** Descriptions of the jobs submitted (from any thread) while `body`
    * runs. Fence jobs before and after bound the window on the listener
    * bus, so no event of `body` is still in flight when this returns
    * and none from before it is counted.
    */
  def jobsOf[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val tag = s"fence-${System.nanoTime()}"
    val opened = new CountDownLatch(1)
    val closed = new CountDownLatch(1)
    @volatile var recording = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        if (d == s"$tag-open") { recording = true; opened.countDown() }
        else if (d == s"$tag-close") { recording = false; closed.countDown() }
        else if (recording) seen.add(d)
      }
    }
    def fence(name: String, latch: CountDownLatch): Unit = {
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(prev)
      assert(latch.await(60, TimeUnit.SECONDS), s"listener never saw $name")
    }
    sc.addSparkListener(listener)
    try {
      fence(s"$tag-open", opened)
      val out = body
      fence(s"$tag-close", closed)
      (out, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
