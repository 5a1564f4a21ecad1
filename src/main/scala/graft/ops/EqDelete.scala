package graft.ops

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Equality deletes (SURVEY B-round-14; the Iceberg-v2 eq-delete
  * design): streaming CDC upserts WITHOUT a per-batch read phase.
  *
  * The per-batch MERGE join (B105/B119's bronze→silver loop) reads the
  * standing table once per micro-batch to find the rows each upsert
  * replaces — at 100 TB, that read IS the cost. An equality delete
  * inverts the work: the writer commits its batch BLIND — new data
  * files plus an `_eqdel` sidecar row per upserted/deleted key — and
  * READERS apply the tombstones: a row is hidden iff some eq-delete
  * with a LATER sequence number carries its key. Commit cost is
  * O(batch); the read-side reconciliation is one (usually broadcast)
  * anti-join that compaction folds away into real deletes. The
  * commit's work is one action: an `observe` node on the batch hands
  * the row count and key tuples of the data-stage write to the driver,
  * which writes the tombstone part itself through Spark's parquet
  * writer — so a streaming micro-batch is the `dedupeBy` shuffle plus
  * that write. A batch whose plan estimates [[ObservedKeysMaxBytes]]
  * or more keeps its keys on the executors: it is pinned and the part
  * is a distributed write ([[applyCdc]]).
  *
  * Sequencing: each commit's sidecar rows carry `__gf_seq` =
  * base-version + 1 (strictly increasing along any commit lineage —
  * OCC conflicts kill the stage, so a committed seq always exceeds its
  * base's), and every data file's OWN sequence rides the `_eqseq`
  * sidecar (`file`, `seq`), stamped for all newly staged files of
  * every linked commit once the table is under eq-delete maintenance.
  * A file with no entry is older than every tombstone (seq −1). A
  * delete applies to a row iff `del.seq > file.seq` — rows written IN
  * the tombstone's own commit survive it, which is exactly what makes
  * an upsert batch self-consistent.
  *
  * Scale shape: `_eqdel` holds O(pending upserted keys) rows and
  * `_eqseq` O(files) — both metadata-scale, both folded at the part-
  * count checkpoint and materialized away entirely by compaction (the
  * rewrite reads through the funnel, so the published files are
  * already reconciled). The read-side plan is scan → [seq attach:
  * broadcast join on the file key] → [anti-join on the key columns
  * with the seq predicate] — two metadata-sided joins, no shuffle of
  * the data side under AQE's broadcast planning.
  *
  * Composition rules mirror [[Dv]]: COW DML refuses (raw file reads
  * would resurrect hidden rows; compact first); MOR DML composes (its
  * writer scan subtracts eq-deletes first); metadata-only partition
  * evolution re-keys the `_eqseq` stamps with the moved files and
  * carries the tombstones verbatim (they name no files); and every
  * read — Scala, SQL via [[graft.plans.DvReadRule]], stats/bloom-pruned
  * fast paths — goes through [[Sinks.snapshotRead]], the one place the
  * subtraction is applied.
  * [[graft.plans.MetaCountRewrite]] declines outright (hidden-row
  * counts are not knowable from metadata).
  */
object EqDel {

  val Sidecar = "_eqdel"
  val SeqSidecar = "_eqseq"
  private val SeqCol = "__gf_seq"
  /** `_eqseq` rows: a data file's version-dir-relative key and its seq. */
  private[ops] val SeqSchema = StructType(Seq(
    StructField("file", org.apache.spark.sql.types.StringType, nullable = false),
    StructField("seq", LongType, nullable = false)))

  def exists(dir: String): Boolean = {
    val p = Paths.get(dir, Sidecar)
    Files.isDirectory(p) && graft.io.Fs.listDir(p)
      .exists(_.getFileName.toString.endsWith(".parquet"))
  }

  /** True iff the table lineage is under eq-delete maintenance — new
    * data files must be seq-stamped even by commits that carry no
    * tombstones of their own (a plain append's rows are NEWER than
    * every pending tombstone, and only a stamp proves it).
    */
  private[graft] def maintained(dir: String): Boolean =
    exists(dir) || Files.isDirectory(Paths.get(dir, SeqSidecar))

  /** The key columns of `dir`'s pending tombstones (sidecar schema
    * minus the sequence column), from the driver-side footer inference.
    */
  def keyColumns(spark: SparkSession, dir: String): Seq[String] =
    if (!exists(dir)) Nil
    else Sinks.inferSchema(spark, s"$dir/$Sidecar").fieldNames
      .filterNot(_ == SeqCol).toSeq

  /** One sidecar of `dir` as a frame under its driver-inferred schema —
    * building the read launches no inference job.
    */
  private def readSidecar(spark: SparkSession, dir: String, which: String): DataFrame = {
    val p = s"$dir/$which"
    spark.read.schema(Sinks.inferSchema(spark, p)).parquet(p)
  }

  /** Pending tombstones as (seq, keys...) — inspection/spec surface. */
  def pending(spark: SparkSession, dir: String): DataFrame = {
    require(exists(dir), s"no $Sidecar under $dir")
    readSidecar(spark, dir, Sidecar)
  }

  /** Subtract `dir`'s equality deletes from a frame carrying the
    * version-dir-relative file key in `fileKey` — rows whose key tuple
    * appears in a tombstone with a LATER sequence than their file's
    * are dropped. The working columns are removed again; every other
    * column (including `_metadata` when present) passes through.
    */
  private[graft] def subtractByKey(df: DataFrame, dir: String,
      fileKey: Column): DataFrame = {
    val spark = df.sparkSession
    val dels = readSidecar(spark, dir, Sidecar)
    val keys = dels.columns.filterNot(_ == SeqCol).toSeq
    require(keys.nonEmpty, s"$dir/$Sidecar carries no key columns")
    val clash = df.columns.filter(_.startsWith("__gf_"))
    require(clash.isEmpty,
      s"equality-delete read of $dir: column(s) ${clash.mkString(", ")} use " +
        "the reserved '__gf_' working prefix — rename them")
    val missing = keys.filterNot(k => df.columns.exists(_.equalsIgnoreCase(k)))
    require(missing.isEmpty,
      s"equality-delete key column(s) ${missing.mkString(", ")} absent from " +
        s"the scanned frame of $dir — sidecar/schema drift")
    // file → seq (metadata-scale; files without an entry are seq −1).
    // max() absorbs a duplicate stamp defensively — entries are written
    // once per file, but a fold crash retry must not break reads.
    val seqs =
      if (!Files.isDirectory(Paths.get(dir, SeqSidecar)))
        spark.range(0).selectExpr("CAST(NULL AS STRING) AS __gf_sfile",
          "CAST(NULL AS BIGINT) AS __gf_fseq")
      else readSidecar(spark, dir, SeqSidecar)
        .groupBy(col("file").as("__gf_sfile"))
        .agg(max("seq").as("__gf_fseq"))
        .select(col("__gf_sfile"), col("__gf_fseq"))
    // NO broadcast() hint: this plan is also injected by the optimizer
    // rules (DvReadRule's swap), where a ResolvedHint node would arrive
    // AFTER EliminateResolvedHint already ran and crash planning. Both
    // join sides are metadata-scale parquet reads whose size statistics
    // drive auto-broadcast planning anyway.
    val withSeq = df
      .withColumn("__gf_rkey", fileKey)
      .join(seqs, col("__gf_rkey") === col("__gf_sfile"), "left")
    // tombstones under working names; the anti-join's equi keys hash-
    // partition (or broadcast) and the seq comparison rides as the
    // join condition — null keys never match (CDC keys are non-null by
    // the writer contract, and a null-keyed data row must survive)
    val d2 = dels.select((col(SeqCol).as("__gf_dseq") +:
      keys.map(k => col(k).as(s"__gf_dk_$k"))): _*)
    val cond = keys.map(k => df(k) === d2(s"__gf_dk_$k")).reduce(_ && _) &&
      d2("__gf_dseq") > coalesce(col("__gf_fseq"), lit(-1L))
    withSeq.join(d2, cond, "left_anti")
      .drop("__gf_rkey", "__gf_sfile", "__gf_fseq")
  }

  /** Subtract from a raw scan carrying the `_metadata` struct; the
    * struct passes through for the deletion-vector stage behind it.
    */
  private[graft] def subtract(raw: DataFrame, dir: String): DataFrame = {
    require(Dv.safeDir(dir),
      s"cannot apply equality deletes under $dir: the path is not " +
        "URI-transparent, so file sequence keys cannot be matched against " +
        "_metadata.file_path — move/clone the table or compact first")
    subtractByKey(raw, dir, Dv.relKey(dir))
  }

  /** Fold a multi-part sidecar pile inside a writer-private STAGE dir
    * down to one part — the log-checkpoint move bounding reader-side
    * part counts (amortized O(1) per commit, metadata-scale bytes).
    * `_eqseq`: live file keys only, max seq each (COW-replaced keys are
    * dead weight). `_eqdel`: one row per key at its MAX seq (a later
    * tombstone's scope strictly contains an earlier one's), MINUS the
    * DEAD tombstones (round-14 sweep): a tombstone only hides rows in
    * files with a strictly OLDER sequence, so once every live file's
    * seq is at or above it — e.g. after a scoped compaction rewrote
    * (and re-stamped) everything it could have applied to — it can
    * never hide anything again and is dropped. When the sweep empties
    * the pile entirely, BOTH sidecars are removed: the table exits
    * eq-delete maintenance (future carried files are then unstamped =
    * seq −1, correctly older than any future tombstone).
    *
    * Fold `_eqseq` BEFORE `_eqdel` — the sweep reads the staged seq
    * pile to compute the live floor.
    */
  private[graft] def compactSidecar(spark: SparkSession, stageDir: String,
      which: String): Unit = {
    val scDir = Paths.get(stageDir, which)
    if (!Files.isDirectory(scDir)) return
    import spark.implicits._
    val raw = readSidecar(spark, stageDir, which)
    val liveFiles = graft.io.Fs.walkParquet(Paths.get(stageDir))
      .map(p => Paths.get(stageDir).relativize(p).toString)
    if (which == SeqSidecar) {
      val liveKeys = liveFiles.toDF("file")
      val folded = raw.join(liveKeys, Seq("file"), "left_semi")
        .groupBy("file").agg(max("seq").as("seq"))
      val tmp = Paths.get(stageDir, s"$which.fold")
      folded.coalesce(1).write.parquet(tmp.toString)
      graft.io.Fs.deleteRecursively(scDir)
      Files.move(tmp, scDir)
      ()
    } else {
      // the live seq floor: files without a stamp are seq −1; an empty
      // table hides nothing, so every tombstone is dead
      val seqDir = Paths.get(stageDir, SeqSidecar)
      val stamps: Map[String, Long] =
        if (!Files.isDirectory(seqDir)) Map.empty
        else readSidecar(spark, stageDir, SeqSidecar)
          .groupBy("file").agg(max("seq").as("seq"))
          .as[(String, Long)].collect().toMap
      val minLive =
        if (liveFiles.isEmpty) Long.MaxValue
        else liveFiles.map(f => stamps.getOrElse(f, -1L)).min
      val keys = raw.columns.filterNot(_ == SeqCol).toSeq
      val folded = raw.groupBy(keys.map(col): _*).agg(max(SeqCol).as(SeqCol))
        .filter(col(SeqCol) > lit(minLive))
      if (folded.isEmpty) {
        // nothing pending: exit eq-delete maintenance entirely
        graft.io.Fs.deleteRecursively(scDir)
        if (Files.isDirectory(seqDir)) graft.io.Fs.deleteRecursively(seqDir)
      } else {
        val tmp = Paths.get(stageDir, s"$which.fold")
        folded.coalesce(1).write.parquet(tmp.toString)
        graft.io.Fs.deleteRecursively(scDir)
        Files.move(tmp, scDir)
      }
      ()
    }
  }

  /** Refuse an operation that raw-reads files under pending equality
    * deletes (COW rewrites — the resurrection hazard).
    */
  private[graft] def requireNone(dir: String, what: String): Unit =
    require(!maintained(dir),
      s"$what cannot run on a version under equality-delete maintenance " +
        s"($dir/$Sidecar): run CALL system.compact (or " +
        "Sinks.compactVersioned) to fold the tombstones into files first")

  /** One blind upsert commit: `batch`'s rows land as new data files and
    * every row's key tuple becomes a tombstone for all PRIOR files —
    * plus `extraDeletes` key tuples (CDC deletes) that tombstone
    * without replacing. O(batch) + hardlinks; no table read. Keys must
    * be non-null and unique within the batch (the MERGE multi-match
    * contract — two same-key rows in one batch would both survive).
    * Without `extraDeletes` this is [[applyCdc]]'s plain-key route.
    */
  def upsertBatch(spark: SparkSession, batch: DataFrame, root: String,
      keys: Seq[String], extraDeletes: Option[DataFrame] = None,
      batchTag: Option[String] = None): Long = {
    require(keys.nonEmpty, "upsertBatch requires at least one key column")
    extraDeletes match {
      case None => applyCdc(batch, root, keys, batchTag = batchTag)
      case Some(d) =>
        keys.foreach(k => require(batch.columns.exists(_.equalsIgnoreCase(k)),
          s"key column $k not in the batch (${batch.columns.mkString(", ")})"))
        require(d.columns.map(_.toLowerCase).sorted.toSeq ==
            keys.map(_.toLowerCase).sorted,
          s"extraDeletes must carry exactly the key columns ${keys.mkString(", ")}")
        commitUpsert(batch, root, KeyFrame(
          batch.select(keys.map(col): _*).unionByName(d.select(keys.map(col): _*))),
          batchTag)
    }
  }

  /** The shared commit tail: `data`'s rows land as new files, `tombs`
    * become the commit's tombstones. Callers have validated both.
    */
  private def commitUpsert(data: DataFrame, root: String,
      tombs: Tombstones, batchTag: Option[String]): Long = {
    val exp = Sinks.currentVersion(root)
    Sinks.stageLinkedPublish(Sinks.alignToLive(data, root, exp), root, exp,
      Nil, emitFeed = false, batchTag = batchTag, carry = _ => true,
      opTag = "eq-upsert",
      rebase = AppendRebase(e => Sinks.alignToLive(data, root, e)),
      eqDelete = Some(tombs))
  }

  /** Exactly-once streaming upsert sink: each micro-batch is ONE blind
    * [[applyCdc]] commit — the bronze→silver CDC loop without the
    * per-batch MERGE join. Rows whose `opCol` (when given) equals
    * 'delete' tombstone their key without replacing it; every other
    * row upserts. `dedupeBy` (ordering columns, when given) collapses a
    * multi-op batch to its LAST row per key first —
    * [[Merge.latestPerKey]], still O(batch), still zero table reads —
    * and the ordering columns are dropped from what lands (they
    * sequence the CDC, they are not payload). Batch-id dedupe, restart
    * behavior, and CME retry are [[TableStream.streamTo]]'s, verbatim
    * (the same `_BATCHID` stamp + durable high-water-mark contract).
    * A batch under [[ObservedKeysMaxBytes]] runs as two Spark jobs:
    * the `dedupeBy` shuffle map stage and the data-stage write.
    */
  def upsertStreamTo(stream: DataFrame, root: String, checkpoint: String,
      keys: Seq[String], opCol: Option[String] = None,
      dedupeBy: Seq[String] = Nil): StreamingQuery =
    TableStream.foreachBatchSink(stream, root, checkpoint) {
      (batch, batchTag) =>
        applyCdc(batch, root, keys, opCol, dedupeBy, Some(batchTag))
        ()
    }

  /** Plan-size guard of [[applyCdc]]'s one-write route: a batch whose
    * plan statistics estimate fewer bytes hands its tombstone keys to
    * the driver through the data-stage write (an `observe` node), and
    * the driver writes the `_eqdel` part. At or above it the keys never
    * reach the driver, so a backfill-sized batch cannot exhaust it: the
    * batch is pinned and the part is a distributed write. Decided from
    * plan metadata before anything runs; an unknown estimate counts as
    * large.
    */
  private[graft] val ObservedKeysMaxBytes: Long = 32L << 20

  /** One CDC batch, routed: optional `dedupeBy` ordering collapse,
    * optional `opCol` delete/upsert split, then ONE blind upsert commit
    * in which every collapsed row — upsert or delete — tombstones its
    * key. Shared by the streaming sink, [[upsertBatch]] and the
    * `CALL graft.system.eq_upsert` SQL door. Returns the committed
    * version (a streaming micro-batch with no rows leaves the table at
    * its base version and publishes nothing).
    *
    * Below [[ObservedKeysMaxBytes]] the commit runs ONE action: the
    * data-stage write, whose `observe` node (placed before the op
    * filter, so it sees deletes too) collects the row count and the
    * key tuples for the driver-written tombstone part. Nothing is
    * pinned — a second pass would only re-run the source scan. At or
    * above the guard the collapsed batch is pinned for the commit's
    * two actions (the data stage and the distributed tombstone write;
    * separate jobs share no exchange, so without the pin each would
    * re-run the scan and the latest-per-key aggregation) and released
    * in the finally.
    */
  def applyCdc(batch0: DataFrame, root: String, keys: Seq[String],
      opCol: Option[String] = None, dedupeBy: Seq[String] = Nil,
      batchTag: Option[String] = None): Long = {
    require(keys.nonEmpty, "applyCdc requires at least one key column")
    val collapsed =
      if (dedupeBy.isEmpty) batch0
      else Merge.latestPerKey(batch0, keys, dedupeBy).drop(dedupeBy: _*)
    opCol.foreach(oc => require(collapsed.columns.exists(_.equalsIgnoreCase(oc)),
      s"op column $oc not in the batch (${collapsed.columns.mkString(", ")})"))
    keys.foreach(k => require(collapsed.columns.exists(_.equalsIgnoreCase(k)),
      s"key column $k not in the batch (${collapsed.columns.mkString(", ")})"))
    def upserts(b: DataFrame): DataFrame =
      opCol.fold(b)(oc => b.filter(not(col(oc) <=> lit("delete"))).drop(oc))
    if (collapsed.queryExecution.analyzed.stats.sizeInBytes < ObservedKeysMaxBytes) {
      val (observed, tombs) = ObservedKeys.attach(collapsed, keys)
      commitUpsert(upserts(observed), root, tombs, batchTag)
    } else {
      val batch = collapsed.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try commitUpsert(upserts(batch), root,
        KeyFrame(batch.select(keys.map(col): _*)), batchTag)
      finally { batch.unpersist(); () }
    }
  }

  /** Where an upsert commit's tombstone keys come from. The staging
    * step writes them as the commit's `_eqdel` part at `__gf_seq` =
    * base + 1, under the base version's physical column names.
    */
  private[ops] sealed trait Tombstones {
    /** Write the part into `sidecar`. */
    def stage(sidecar: Path, seq: Long, physical: String => String): Unit

    /** How many tombstones [[stage]] wrote into `sidecar`. */
    def count(sidecar: Path): Long =
      graft.io.Fs.parquetRows(graft.io.Fs.listDir(sidecar)
        .filter(_.getFileName.toString.endsWith(".parquet")))
  }

  /** Key tuples of a frame, written by a distributed job of their own. */
  private[ops] final case class KeyFrame(keys: DataFrame) extends Tombstones {
    def stage(sidecar: Path, seq: Long, physical: String => String): Unit =
      Sinks.labeled(keys.sparkSession, "eq-delete tombstone sidecar") {
        keys.select(keys.columns.toSeq.map(c => col(s"`$c`").as(physical(c))) :+
            lit(seq).as(SeqCol): _*)
          .coalesce(1).write.mode("overwrite").parquet(sidecar.toString)
      }
  }

  /** Key tuples an `observe` node collects while the data-stage write
    * runs — the count of observed rows and every row's key tuple, which
    * the driver then writes as one part ([[graft.io.Fs.writePart]]).
    * The first [[stage]] waits for the write's metrics and keeps them,
    * so a re-stage after a lost commit race (an auto-rebase re-runs the
    * write, whose observation is already spent) rewrites the same keys
    * at its own new base + 1. Metrics that never arrive (a listener bus
    * that dropped the event) fall back to `keyFrame`'s distributed
    * write. Built by [[ObservedKeys.attach]]; lives only as long as the
    * commit that holds it.
    */
  private[ops] final class ObservedKeys private (obs: Observation,
      keyFrame: DataFrame) extends Tombstones {
    private lazy val delivered: Option[(Long, Seq[Row])] =
      try {
        val r = scala.concurrent.Await.result(obs.future,
          scala.concurrent.duration.Duration(ObservedKeys.WaitSeconds, "s"))
        Some((r.getLong(0), r.getSeq[Row](1)))
      } catch { case _: java.util.concurrent.TimeoutException =>
        System.err.println("[graft] the data-stage write delivered no tombstone " +
          s"keys within ${ObservedKeys.WaitSeconds} s; writing them with a job")
        None
      }

    def stage(sidecar: Path, seq: Long, physical: String => String): Unit =
      delivered match {
        case Some((_, rows)) =>
          graft.io.Fs.writePart(keyFrame.sparkSession, sidecar,
            StructType(keyFrame.schema.fields.map(f => f.copy(name = physical(f.name))) :+
              StructField(SeqCol, LongType, nullable = false)),
            rows.iterator.map(r => Row.fromSeq(r.toSeq :+ seq)))
        case None => KeyFrame(keyFrame).stage(sidecar, seq, physical)
      }

    override def count(sidecar: Path): Long =
      delivered.fold(super.count(sidecar))(_._1)
  }

  private[ops] object ObservedKeys {
    private val WaitSeconds = 60L

    /** `df` with an `observe` node that records its row count and key
      * tuples, and the [[ObservedKeys]] that reads them once an action
      * on the returned frame (or a frame derived from it) has run.
      */
    def attach(df: DataFrame, keys: Seq[String]): (DataFrame, ObservedKeys) = {
      val obs = Observation()
      val keyCols = keys.map(col)
      (df.observe(obs, count(lit(1)), collect_list(struct(keyCols: _*))),
        new ObservedKeys(obs, df.select(keyCols: _*)))
    }
  }
}
