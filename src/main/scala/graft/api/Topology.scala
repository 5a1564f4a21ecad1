package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

/** Storm-style topology facade (SURVEY §2A) — the migration surface for a
  * user of the reference framework. Spouts, bolts, and groupings map onto
  * declarative DataFrame composition, so a hand-wired topology becomes a
  * Catalyst logical plan and the scheduler/exchange/codegen machinery
  * replaces the reference's per-task goroutine loop (§2A A10, not ported
  * by design).
  *
  * Mapping (reference primitive → here):
  *  - Spout                   → [[TopologyBuilder.parquetSpout]] /
  *                              [[TopologyBuilder.streamSpout]] (A2)
  *  - Bolt Execute/Emit       → [[Stream.bolt]], [[Stream.filterBolt]],
  *                              [[Stream.flatMapBolt]] (A3/A4)
  *  - ShuffleGrouping         → [[Stream.shuffleGrouping]] (A5)
  *  - FieldsGrouping          → [[Stream.fieldsGrouping]] (A6)
  *  - AllGrouping             → [[Stream.allGrouping]] (A7)
  *  - GlobalGrouping          → [[Stream.globalGrouping]] (A8)
  *  - multiple output streams → reuse one Stream in several branches (A4)
  *  - tick tuples             → [[Stream.toStreamingSink]] trigger (A12)
  *  - ack/at-least-once       → checkpointed exactly-once sinks, strictly
  *                              stronger (A11) — nothing to configure
  */
final case class Stream(df: DataFrame) {

  /** General bolt: any 1→n tuple transform expressed on the DataFrame. */
  def bolt(f: DataFrame => DataFrame): Stream = Stream(f(df))

  /** 1→1 projection bolt. */
  def projectBolt(cols: Column*): Stream = Stream(df.select(cols: _*))

  /** 1→0/1 filter bolt. */
  def filterBolt(cond: Column): Stream = Stream(df.filter(cond))

  /** 1→n generator bolt (explode-style emit). `generator` must be a
    * generator expression (explode/posexplode/inline); supply one output
    * name per generated column — posexplode emits two (pos, value) and
    * inline one per struct field, so they need the multi-name overload.
    */
  def flatMapBolt(outputName: String, generator: Column): Stream =
    flatMapBolt(generator, outputName)

  /** Multi-output generator bolt: `outputNames` must match the number of
    * columns the generator emits (multi-alias resolution).
    */
  def flatMapBolt(generator: Column, outputNames: String*): Stream = {
    require(outputNames.nonEmpty, "flatMapBolt needs at least one output name")
    Stream(df.select(generator.as(outputNames)))
  }

  /** A5: round-robin repartition to n parallel downstream tasks. */
  def shuffleGrouping(n: Int): Stream = Stream(df.repartition(n))

  /** A6: hash-partition by key fields — equal keys reach the same task,
    * enabling keyed state/aggregation downstream.
    */
  def fieldsGrouping(n: Int, fields: String*): Stream =
    Stream(df.repartition(n, fields.map(df.col): _*))

  /** A7: mark this (small) stream for replication to every task of a
    * subsequent join — Spark's broadcast is the all-grouping analog.
    */
  def allGrouping(): Stream = Stream(broadcast(df))

  /** A8: route everything through a single task (global order/agg).
    * repartition(1), not coalesce(1): coalesce would collapse the whole
    * upstream pipeline into one task; a shuffle keeps upstream parallel
    * and makes only the post-shuffle consumer single-task — matching
    * GlobalGrouping semantics, where only the receiving bolt is serial.
    */
  def globalGrouping(): Stream = Stream(df.repartition(1))

  /** Keyed stateful bolt (fields-grouped counting/agg bolt): groupBy+agg
    * — Spark plans partial+final automatically.
    */
  def aggBolt(keys: Seq[String], aggs: Seq[Column]): Stream =
    Stream(df.groupBy(keys.map(df.col): _*).agg(aggs.head, aggs.tail: _*))

  /** Join two streams (the multi-input bolt). */
  def joinBolt(other: Stream, cond: Column, how: String = "inner"): Stream =
    Stream(df.join(other.df, cond, how))

  /** Streaming sink with a processing-time trigger — the tick-tuple (A12)
    * analog: the topology activates every `every` interval.
    */
  def toStreamingSink(format: String, queryName: String,
      outputMode: String = "append",
      every: Option[String] = None): DataStreamWriter[Row] = {
    val w = df.writeStream.format(format).queryName(queryName).outputMode(outputMode)
    every.fold(w)(e => w.trigger(Trigger.ProcessingTime(e)))
  }

  def collectToDriver(): Array[Row] = df.collect() // test/debug only
}

/** Entry point: declares spouts. Parallelism hints (`SetSpout(_, _, p)`)
  * are session-level here (`spark.sql.shuffle.partitions`) or explicit
  * per-edge via the grouping calls.
  */
final class TopologyBuilder(spark: SparkSession) {

  /** A2 batch spout over parquet. */
  def parquetSpout(path: String): Stream =
    Stream(spark.read.parquet(path))

  /** A2 unbounded spout over a parquet directory (file stream source). */
  def streamSpout(path: String, schema: org.apache.spark.sql.types.StructType,
      globFilter: Option[String] = None): Stream = {
    val r = spark.readStream.schema(schema)
    Stream(globFilter.fold(r)(g => r.option("pathGlobFilter", g)).parquet(path))
  }

  /** A2 test spout emitting at a fixed rate (tuple-per-interval). */
  def rateSpout(rowsPerSecond: Int): Stream =
    Stream(spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString).load())

  /** In-memory spout from literal rows (unit-test analog of NextTuple). */
  def valuesSpout[A <: Product : reflect.runtime.universe.TypeTag](rows: Seq[A]): Stream =
    Stream(spark.createDataFrame(rows))
}
