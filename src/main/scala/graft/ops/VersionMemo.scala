package graft.ops

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes

import graft.io.Fs
import org.apache.spark.sql.SparkSession

/** A memo of values derived from version-dir artifacts: a sidecar's
  * rows, an inferred schema, a scan delegate, a decoded quantizer.
  *
  * Why it may memoize at all: a version dir is immutable once its
  * stage→vN rename lands, so whatever is computed from it stays true.
  * A PATH can still be reused — drop and recreate restarts at v0, a
  * repair or retrofit rewrites a sidecar in place — and the stamp
  * catches those.
  *
  *  - '''Key''': the session UUID (values obey session confs, and a
  *    new session never adopts a dead one's entry), the artifact paths
  *    in `toAbsolutePath.normalize` form, the caller's discriminator,
  *    and the [[stamp]] of every path.
  *  - '''Stamp''': each path's file key and mtime, plus a file's size
  *    or, for a directory, the count, total size, max mtime and
  *    relative-name hash of the parquet files under it. Part names are
  *    writer-unique, so an in-place rewrite misses even with the same
  *    part count inside one mtime granule.
  *    An absent path stamps as `-` and caches like any other. An
  *    `IOException` while stamping (a file vanishing mid-walk) computes
  *    the value and does not cache it.
  *  - '''Bound''': at most `cap` entries, evicted least recently used.
  *    Lookups and inserts hold the memo's lock; the compute runs outside
  *    it, so a slow Spark job for one key never blocks another key (two
  *    racing misses of one key may both compute; the last one stays).
  */
private[graft] final class VersionMemo[V](cap: Int) {
  private val entries = new java.util.LinkedHashMap[String, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, V]): Boolean =
      size > cap
  }

  def apply(spark: SparkSession, paths: Seq[String], tag: String = "")(
      compute: => V): V = {
    val stamps =
      try paths.map(VersionMemo.stamp)
      catch { case _: java.io.IOException => return compute }
    val key = (org.apache.spark.sql.graft.ExprBridge.sessionUUID(spark) +:
      paths.map(Paths.get(_).toAbsolutePath.normalize.toString) ++:
      tag +: stamps).mkString("|")
    entries.synchronized(Option(entries.get(key))).getOrElse {
      val v = compute
      entries.synchronized(entries.put(key, v))
      v
    }
  }
}

private[graft] object VersionMemo {
  def stamp(p: String): String = {
    val d = Paths.get(p)
    if (!Files.exists(d)) return "-"
    val top = Files.readAttributes(d, classOf[BasicFileAttributes])
    if (!top.isDirectory) s"${top.fileKey}|${top.lastModifiedTime.toMillis}|${top.size}"
    else {
      val sig = Fs.walkParquet(d).foldLeft((0L, 0L, 0L, 0L)) {
        case ((n, bytes, mt, hh), f) =>
          val a = Files.readAttributes(f, classOf[BasicFileAttributes])
          (n + 1, bytes + a.size, math.max(mt, a.lastModifiedTime.toMillis),
            hh + d.relativize(f).toString.hashCode.toLong)
      }
      s"${top.fileKey}|${top.lastModifiedTime.toMillis}|$sig"
    }
  }
}
