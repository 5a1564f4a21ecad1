package graft.ops

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructType}

/** Structured Streaming in and out of the versioned table layout — the
  * tier that turns [[Sinks]] tables into streaming endpoints (the
  * Delta-style `writeStream.table` / `readStream.table` pair):
  *
  *  - [[streamTo]]: an exactly-once streaming SINK. Each micro-batch is
  *    an O(batch) [[Sinks.appendVersioned]] through the same OCC commit
  *    every batch writer uses; replayed batches after a restart are
  *    detected and skipped, so a crash anywhere leaves the table with
  *    each batch applied exactly once.
  *  - [[streamFeed]]: a streaming SOURCE over the table's change feed.
  *    Commits link their `_changes` files into the table's `feed/`
  *    directory ([[Sinks.enableStreamFeed]]), which Spark's standard
  *    file-stream source then tails — checkpointable, replayable,
  *    append-only. Feeding one table's commits into the next table's
  *    merge is the bronze→silver pipeline shape.
  *
  * Scale shape: per micro-batch work is O(batch rows) + O(retained
  * versions) metadata (the hardlink carry-over); nothing rescans the
  * table. The feed directory is file-granular, so a 1000-executor
  * consumer parallelizes over feed files like any parquet scan.
  */
object TableStream {

  /** Stream `stream` into the versioned table at `root`, appending one
    * version per non-empty micro-batch.
    *
    * Exactly-once: Spark's checkpoint makes batch CONTENTS deterministic
    * per batch id (replayable sources re-produce the identical batch),
    * and this sink refuses to re-commit a batch id it has already
    * committed — recorded both in the version dir (`_BATCHID`, atomic
    * with the data) and in the table properties (survives vacuuming the
    * stamped version). The commit-then-crash window therefore
    * deduplicates on restart instead of double-appending.
    *
    * One streaming writer per table: batch ids are scoped by a tag
    * derived from `checkpoint`, so a RESTARTED query (same checkpoint)
    * dedupes correctly, while two different queries writing one table
    * would interleave appends — supported by OCC, but their batch ids
    * are independent; coordinate at the application level if ordering
    * matters.
    *
    * Concurrent batch writers (compaction, a MERGE) are handled by CME
    * retry: the append recomputes against the new current and tries
    * again — an append conflicts with nothing semantically (it only adds
    * rows), so the retry always converges.
    *
    * The returned query is NOT awaited; callers drive it
    * (`processAllAvailable`, `awaitTermination`).
    */
  def streamTo(stream: DataFrame, root: String, checkpoint: String,
      statsCols: Seq[String] = Nil, emitFeed: Boolean = true,
      transform: DataFrame => DataFrame = identity): StreamingQuery =
    foreachBatchSink(stream, root, checkpoint) { (batch, batchTag) =>
      // transform runs INSIDE the retry loop: a per-batch enrichment
      // that reads table state (e.g. the ANN quantizer sidecar) must
      // recompute against the current version after a CME re-base.
      // Identity assignment and generated-column derivation (round-16)
      // ride here too — the streaming door is a first-class writer, so
      // a NULL identity cell reserves under the commit lock and a NULL
      // generated cell derives exactly like a SQL INSERT (a retried
      // batch re-reserves: gaps, never collisions — the identity
      // contract; the _BATCHID dedupe already stops double-commits)
      Sinks.appendVersioned(
        Generated.enforce(Identity.assign(transform(batch), root), root),
        root, Sinks.currentVersion(root),
        statsCols, emitFeed = emitFeed, batchTag = Some(batchTag))
      ()
    }

  /** The exactly-once foreachBatch shell [[streamTo]] and
    * [[EqDel.upsertStreamTo]] share: per-batch dedupe via the
    * `_BATCHID` stamp + durable high-water mark, and CME retry around
    * `commit`, which receives the batch frame and the batch tag to
    * stamp into its commit. An empty batch costs no probe job: the
    * tagged commit itself publishes nothing when its write staged no
    * row on an existing table (see [[Sinks.appendVersioned]]'s
    * `batchTag`), and the high-water mark still advances.
    */
  private[graft] def foreachBatchSink(stream: DataFrame, root: String,
      checkpoint: String)(commit: (DataFrame, String) => Unit): StreamingQuery = {
    val tag = writerTag(checkpoint)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        landOnce(root, tag, id)()(commit(batch.toDF(), _))
      }
      .start()
  }

  /** Land batch `id` of writer `tag` exactly once: skip an id already
    * committed, run `setup` once, retry `commit` (handed the batch tag
    * to stamp) across up to five CMEs — a concurrent writer moved the
    * table and the commit re-bases — then advance the durable
    * high-water mark. The mark survives vacuum and is written AFTER
    * the commit, so a crash between the two is covered by the
    * version-dir scan in `committed`.
    */
  private def landOnce(root: String, tag: String, id: Long)(
      setup: => Unit = ())(commit: String => Unit): Unit =
    if (!committed(root, tag, id)) {
      setup
      var attempts = 0
      var done = false
      while (!done) {
        try {
          commit(s"$tag:$id")
          done = true
        } catch {
          case _: java.util.ConcurrentModificationException if attempts < 5 =>
            attempts += 1
        }
      }
      TableProps.update(root)(_ + (lastBatchKey(tag) -> id.toString))
    }

  /** One micro-batch landing for the V1 streaming-sink door
    * (`df.writeStream.format("graft")` —
    * [[graft.catalog.GraftDataSource]]): the same dedupe + empty-batch
    * + CME-retry + high-water-mark contract as
    * [[foreachBatchSink]], with the batch handed in directly by
    * Spark's Sink API instead of a foreachBatch closure. A FRESH root
    * creates the table on the first batch (the batch write door's
    * CREATE ordering: empty v0 wins the race, `partitionBy` lands the
    * declared spec, the batch appends under the grid); the row gates
    * run in the catalog door's order.
    */
  private[graft] def sinkBatch(root: String, checkpoint: String, id: Long,
      batch: DataFrame, partitionBy: Seq[String]): Unit =
    landOnce(root, writerTag(checkpoint), id) {
      if (Sinks.currentVersion(root).isEmpty) {
        require(!graft.catalog.GraftViews.isView(root),
          s"$root holds a graft VIEW definition — DROP the view or pick " +
            "a different path")
        partitionBy.foreach(c => require(
          batch.columns.exists(_.equalsIgnoreCase(c)),
          s"partitionBy column $c is not in the stream"))
        val empty = batch.sparkSession.createDataFrame(
          new java.util.ArrayList[Row](), batch.schema)
        // a lost CREATE race is fine — the winner's table absorbs the
        // append below under its own OCC
        try Sinks.publishVersioned(empty, root, None)
        catch { case _: java.util.ConcurrentModificationException => () }
        if (partitionBy.nonEmpty &&
            !TableProps.load(root).contains(TableProps.PartitionKey))
          TableProps.update(root)(_ + (TableProps.PartitionKey ->
            StructType(partitionBy.map(c =>
              batch.schema(batch.columns.find(_.equalsIgnoreCase(c)).get)))
              .toDDL))
      } else {
        val declared = TableProps.partitionCols(root)
        require(partitionBy.isEmpty ||
          partitionBy.map(_.toLowerCase) == declared.map(_.toLowerCase),
          s"partitionBy(${partitionBy.mkString(", ")}) does not match the " +
            s"table's declared partitioning (${declared.mkString(", ")}) — " +
            "omit partitionBy: the declared layout applies to every write")
      }
    } { stamp =>
      Sinks.appendVersioned(
        graft.catalog.GraftCheck.enforce(
          Generated.enforce(Identity.assign(batch, root), root), root),
        root, Sinks.currentVersion(root), emitFeed = true,
        batchTag = Some(stamp))
      ()
    }

  /** The table's change feed as a streaming DataFrame: every committed
    * `_changes` row (keys ++ payload ++ `_change_type`) plus
    * `_commit_version` parsed from the feed file name. Standard
    * file-stream source semantics: a fresh checkpoint replays the feed
    * from the beginning; an existing one resumes exactly where it left
    * off.
    *
    * The schema is pinned at stream start (from existing feed files, or
    * from the table schema when the feed is still empty) — columns added
    * by later schema evolution need a stream restart to appear, the
    * same contract as every fixed-schema file stream.
    */
  def streamFeed(spark: SparkSession, root: String): DataFrame = {
    val feedPath = feedDir(root)
    stampCommitVersion(
      spark.readStream.schema(feedSchema(spark, root)).parquet(feedPath.toString))
  }

  /** The `readStream.format("graft")` door's V1 Source (B205 —
    * [[graft.catalog.GraftDataSource]]): Spark's own file-stream
    * source over `feed/` (checkpointed seen-file tracking, robust to
    * the reconciler's out-of-order back-links — a prefix-index offset
    * over a sorted listing would NOT be), each batch stamped with
    * `_commit_version` exactly like [[streamFeed]].
    */
  private[graft] def feedSource(spark: SparkSession, root: String,
      metadataPath: String,
      options: Map[String, String] = Map.empty)
      : org.apache.spark.sql.execution.streaming.Source = {
    val feedPath = feedDir(root)
    val raw = feedSchema(spark, root)
    // reader options pass through to the delegate (maxFilesPerTrigger,
    // maxFileAge, latestFirst — the file-stream source's own surface);
    // "path" is ours
    val base = org.apache.spark.sql.GraftSqlShims.parquetFileSource(
      spark, feedPath.toString, raw, metadataPath,
      options.filter(!_._1.equalsIgnoreCase("path")))
    // the engine drives a file-stream source through its admission
    // control (latestOffset with a read limit, maxFilesPerTrigger et
    // al.) — the wrapper must forward those interfaces or the engine
    // falls back to getOffset, which FileStreamSource refuses
    import org.apache.spark.sql.connector.read.streaming.{Offset => ConnOffset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
    new org.apache.spark.sql.execution.streaming.Source
        with SupportsAdmissionControl with SupportsTriggerAvailableNow {
      private val ac = base.asInstanceOf[SupportsAdmissionControl]
      override def schema: StructType = feedStreamSchema(raw)
      override def getOffset
          : Option[org.apache.spark.sql.execution.streaming.Offset] =
        base.getOffset
      override def getDefaultReadLimit: ReadLimit = ac.getDefaultReadLimit
      override def latestOffset(startOffset: ConnOffset,
          limit: ReadLimit): ConnOffset = ac.latestOffset(startOffset, limit)
      override def reportLatestOffset(): ConnOffset = ac.reportLatestOffset()
      override def initialOffset(): ConnOffset = base.initialOffset()
      override def deserializeOffset(json: String): ConnOffset =
        base.deserializeOffset(json)
      override def prepareForTriggerAvailableNow(): Unit = base match {
        case t: SupportsTriggerAvailableNow => t.prepareForTriggerAvailableNow()
        case _ => ()
      }
      override def getBatch(
          start: Option[org.apache.spark.sql.execution.streaming.Offset],
          end: org.apache.spark.sql.execution.streaming.Offset): DataFrame =
        stampCommitVersion(base.getBatch(start, end))
      override def commit(end: ConnOffset): Unit = base.commit(end)
      override def stop(): Unit = base.stop()
    }
  }

  /** [[feedSource]]'s declared schema for `root` — what the provider's
    * `sourceSchema` must report before any source exists. The feed-dir
    * requirement fires HERE too, so a feed-less table refuses at
    * `load()` instead of a later `start()`.
    */
  private[graft] def feedSourceSchema(spark: SparkSession,
      root: String): StructType = {
    feedDir(root)
    feedStreamSchema(feedSchema(spark, root))
  }

  /** `root`'s feed directory, which must exist: a table streams its
    * change feed only from commits made after [[Sinks.enableStreamFeed]].
    */
  private def feedDir(root: String): java.nio.file.Path = {
    val feedPath = Paths.get(root, Sinks.FeedDir)
    require(Files.isDirectory(feedPath),
      s"no feed directory under $root — call Sinks.enableStreamFeed(root) " +
        "before the first commit you want streamed")
    feedPath
  }

  private def feedStreamSchema(raw: StructType): StructType =
    raw.add("_commit_version", org.apache.spark.sql.types.LongType)

  private def stampCommitVersion(df: DataFrame): DataFrame =
    df.withColumn("_commit_version",
      regexp_extract(col("_metadata.file_name"), "^v(\\d+)-", 1).cast("long"))

  /** Feed row schema: borrowed from the NEWEST commit's feed file when
    * any exist (feed rows speak the logical names of their commit time,
    * so the newest file carries the LIVE logical names — a consumer
    * resuming after a metadata-only RENAME landed mid-stream picks up
    * the new name, TableStreamSpec pins the leg), else the current
    * table schema + `_change_type`. One fixed schema per stream start —
    * a REPLAY-FROM-SCRATCH (fresh checkpoint) across a rename boundary
    * would read pre-rename feed files under the new name and surface
    * nulls for the renamed column; bootstrap such a replica from a
    * CLONE + resume instead (the same boundary contract Delta CDF
    * declares across column-mapping changes).
    */
  private def feedSchema(spark: SparkSession, root: String): StructType = {
    val feedPath = Paths.get(root, Sinks.FeedDir)
    val files = graft.io.Fs.listDir(feedPath)
      .filter(_.getFileName.toString.endsWith(".parquet"))
    if (files.nonEmpty) {
      val ver = "^v(\\d+)-".r
      val newest = files.maxBy(f =>
        ver.findFirstMatchIn(f.getFileName.toString)
          .map(_.group(1).toLong).getOrElse(-1L))
      spark.read.parquet(newest.toString).schema
    }
    else Sinks.currentVersion(root) match {
      case Some(_) => Sinks.readCurrent(spark, root).schema.add("_change_type", StringType)
      case None => throw new IllegalStateException(
        s"cannot infer the feed schema of $root: the feed is empty and no " +
          "version is published — publish first, or start the reader later")
    }
  }

  /** True iff batch `id` of writer `tag` already committed: the durable
    * property high-water mark, OR a `_BATCHID` stamp in any version at
    * or below current (orphans above current never ran to visibility and
    * must NOT count — their batch really does need re-appending).
    */
  private[graft] def committed(root: String, tag: String, id: Long): Boolean = {
    if (TableProps.load(root).get(lastBatchKey(tag)).exists(_.toLong >= id)) return true
    Sinks.currentVersion(root).exists { cur =>
      Sinks.listVersions(root).filter(_ <= cur).exists { v =>
        val f = Paths.get(Sinks.versionPath(root, v), Sinks.BatchIdFile)
        Files.exists(f) && {
          val s = new String(Files.readAllBytes(f), "UTF-8").trim
          s.startsWith(tag + ":") && s.drop(tag.length + 1).toLong >= id
        }
      }
    }
  }

  /** Durable high-water-mark property key for writer `tag` — also
    * written by [[Sinks.compactVersioned]] when vacuum evicts a
    * `_BATCHID`-stamped version.
    */
  private[graft] def lastBatchKey(tag: String) = s"graft.stream.lastBatch.$tag"

  /** Stable per-checkpoint writer tag (8 hex chars of the checkpoint
    * path's UUID hash) — restarts of the same query share it, distinct
    * queries do not.
    */
  private def writerTag(checkpoint: String): String =
    java.util.UUID.nameUUIDFromBytes(checkpoint.getBytes("UTF-8"))
      .toString.replace("-", "").take(8)
}
