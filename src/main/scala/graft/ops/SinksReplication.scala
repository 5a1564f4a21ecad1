package graft.ops

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.io.Fs
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cross-table/cross-site data movement: snapshot diffs and the
  * change-data feed, replica sync, WAP branches, zero-copy CLONE,
  * COPY INTO ingestion, and the streaming-readable feed directory.
  *
  * One seam of [[Sinks]] (round-13 split of a 2.9k-line object:
  * pure member motion, zero behavior change — `Sinks.<member>`
  * call sites are untouched because the object mixes this in).
  */
private[graft] trait SinksReplication { this: Sinks.type =>

  /** Row-level change feed between two committed versions — what a
    * downstream consumer applies to move a replica from `fromV` to `toV`
    * (the read half of CDC; [[graft.ops.Merge.applyTo]] is the write
    * half).
    *
    * With `keyCols` empty: bag semantics — `_change_type` ∈
    * {insert, delete} from two `exceptAll` diffs. With keys: ONE
    * full-outer key join classifies each key as insert (post only),
    * delete (pre only), update (both, payload differs — emitted as
    * `update_preimage` + `update_postimage` rows, Delta-CDF style), or
    * unchanged (dropped). Output: keys ++ payload ++ `_change_type`.
    *
    * Schema evolution mirrors [[Merge.upsert]]: a column ADDED in `toV`
    * appears in the feed with the `fromV` side read as null (so a row
    * whose only change is the new column classifies as an update, and
    * replaying the feed reproduces `toV` including the new column); a
    * column DROPPED in `toV` is not evolution and fails loudly.
    *
    * Scale shape: the keyed path is a single key-hash shuffle of the two
    * version scans; the payload comparison is one null-safe struct
    * equality per key — no window, no collect, skew handled by AQE like
    * any other key join.
    */
  def changesBetween(spark: SparkSession, root: String, fromV: Long, toV: Long,
      keyCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions._
    val rawFrom = readVersion(spark, root, fromV)
    val to = readVersion(spark, root, toV)
    require(rawFrom.columns.sameElements(to.columns) || keyCols.nonEmpty,
      s"schema drift between v$fromV and v$toV requires keyCols to classify")
    if (keyCols.isEmpty) {
      to.exceptAll(rawFrom).withColumn("_change_type", lit("insert"))
        .unionByName(rawFrom.exceptAll(to).withColumn("_change_type", lit("delete")))
    } else {
      val dropped = rawFrom.columns.filterNot(to.columns.contains)
      require(dropped.isEmpty,
        s"columns dropped in v$toV are not schema evolution: ${dropped.mkString(", ")}")
      // a KEY column may never be evolution — null-backfilling a key
      // would full-outer-join every from-row on null
      require(keyCols.forall(rawFrom.columns.contains),
        s"key columns absent from v$fromV: ${keyCols.filterNot(rawFrom.columns.contains).mkString(", ")}")
      // additive evolution: null-backfill new columns on the from side so
      // a new-column-only change classifies as an update, not unchanged
      val from = to.columns.filterNot(rawFrom.columns.contains).foldLeft(rawFrom)(
        (d, c) => d.withColumn(c, lit(null).cast(to.schema(c).dataType)))
      val payload = to.columns.filterNot(keyCols.contains).toSeq
      require(payload.nonEmpty, "keyCols must not cover every column")
      val pre = from.select(keyCols.map(col) :+
        struct(payload.map(col): _*).as("_pre"): _*)
      val post = to.select(keyCols.map(col) :+
        struct(payload.map(col): _*).as("_post"): _*)
      val changed = pre.join(post, keyCols, "full_outer")
        .withColumn("_rows",
          when(col("_pre").isNull,
            array(struct(lit("insert").as("t"), col("_post").as("p"))))
          .when(col("_post").isNull,
            array(struct(lit("delete").as("t"), col("_pre").as("p"))))
          .when(col("_pre") <=> col("_post"),
            // unchanged key drops out via an empty array; slicing a
            // one-element build to length 0 yields the empty array of
            // the right type without spelling the payload struct type
            slice(array(struct(lit("x").as("t"), col("_pre").as("p"))), 1, 0))
          .otherwise(array(
            struct(lit("update_preimage").as("t"), col("_pre").as("p")),
            struct(lit("update_postimage").as("t"), col("_post").as("p")))))
      changed.select(keyCols.map(col) :+ explode(col("_rows")).as("_c"): _*)
        .select(keyCols.map(col) ++
          payload.map(p => col(s"_c.p.$p").as(p)) :+
          col("_c.t").as("_change_type"): _*)
    }
  }


  /** The O(delta) change-feed fast path: when EVERY version in
    * `(fromV, toV]` carries a writer-persisted `_changes` sidecar, return
    * their concatenation with a `_commit_version` column (the Delta
    * `table_changes` row shape) — no snapshot is opened, the read is
    * proportional to what actually changed. Returns None when any step
    * lacks a sidecar (a writer that didn't emit changes, a version
    * created by plain [[publishVersioned]]) — callers fall back to
    * [[changesBetween]], which is always available but O(table).
    *
    * Composition caveat: per-step feeds are exact for each step; summed
    * signed contributions telescope correctly (what [[Mview]] needs), and
    * last-write-wins collapse per key reproduces the net state change
    * (what replica sync needs) — but the bag of rows is NOT the same as
    * the NET classification [[changesBetween]] returns (a key inserted
    * then deleted appears twice here, not zero times).
    */
  def changeFeed(spark: SparkSession, root: String,
      fromV: Long, toV: Long): Option[DataFrame] = {
    import org.apache.spark.sql.functions.lit
    require(fromV <= toV, s"fromV $fromV > toV $toV")
    if (fromV == toV) {
      // the empty feed must still carry the documented row shape (keys ++
      // payload ++ _change_type ++ _commit_version) or an idle poller's
      // first filter on it would throw; borrow the schema from toV's own
      // sidecar, and report unavailable if there is none to borrow
      val side = Paths.get(versionPath(root, toV), ChangesSidecar)
      return if (Files.isDirectory(side))
        Some(spark.read.parquet(side.toString)
          .withColumn("_commit_version", lit(toV)).limit(0))
      else None
    }
    // walk the BASE chain backwards from toV: each step must carry a
    // sidecar whose recorded base links to the previous live version.
    // This rejects gaps (a plain publish without a feed), vacuumed
    // intermediates, and crash-orphaned versions whose feed was never
    // live (their base equals their successor's base, so the walk never
    // visits them).
    var cur = toV
    var chain = List.empty[Long]
    while (cur != fromV) {
      val side = Paths.get(versionPath(root, cur), ChangesSidecar)
      val baseFile = side.resolve("_BASE")
      if (!Files.isDirectory(side) || !Files.exists(baseFile)) return None
      val base = new String(Files.readAllBytes(baseFile), "UTF-8").trim.toLong
      if (base < fromV || base >= cur) return None // chain crosses the window or is malformed
      chain ::= cur
      cur = base
    }
    Some(chain.map { v =>
      spark.read.parquet(Paths.get(versionPath(root, v), ChangesSidecar).toString)
        .withColumn("_commit_version", lit(v))
    }.reduce(_.unionByName(_, allowMissingColumns = true)))
  }

  /** Adapt a [[changesBetween]] keyed feed into a [[Merge.upsert]] delta:
    * inserts and update postimages become 'upsert', deletes 'delete',
    * preimages drop. By construction
    * `Merge.upsert(v_from, changesAsDelta(changesBetween(from, to)))`
    * reproduces v_to exactly (ScaleSpec pins the round trip) — the CDC
    * read and write halves compose into replica sync.
    */
  def changesAsDelta(changes: DataFrame, opCol: String = "op"): DataFrame = {
    import org.apache.spark.sql.functions._
    changes.filter(col("_change_type") =!= "update_preimage")
      .withColumn(opCol,
        when(col("_change_type") === "delete", lit("delete")).otherwise(lit("upsert")))
      .drop("_change_type")
  }

  /** Catch `replicaRoot` up to `sourceRoot`'s current version by
    * replaying the change feed instead of recopying — the operational
    * composition of [[changesBetween]] (read half) and [[Merge.upsert]]
    * (write half). The replica records which SOURCE version it reflects
    * in a `_SYNCED_FROM` sidecar (its own version numbers advance
    * independently, one per apply).
    *
    *  - First sync bootstraps with a full copy of the source's current.
    *  - Later syncs ship ONE end-state diff (`changesBetween(last, cur)`)
    *    regardless of how many source versions elapsed — O(changed keys)
    *    data movement, the whole point at 100 TB.
    *  - If the last-synced version has been VACUUMED (compaction
    *    retention passed it), the incremental path is impossible; sync
    *    falls back to a full bootstrap copy — the standard CDC
    *    gap-resync behavior.
    *
    * Returns the source version the replica now reflects.
    */
  def syncReplica(spark: SparkSession, sourceRoot: String, replicaRoot: String,
      keys: Seq[String]): Long = {
    // keyless bag mode is fine for changesBetween but means nothing to
    // MERGE (a zero-column join key) — reject it before it can corrupt
    require(keys.nonEmpty, "syncReplica requires key columns")
    val srcV = currentVersion(sourceRoot).getOrElse(
      throw new IllegalStateException(s"no published version under $sourceRoot"))
    val marker = Paths.get(replicaRoot, "_SYNCED_FROM")
    val synced =
      if (Files.exists(marker))
        Some(new String(Files.readAllBytes(marker), "UTF-8").trim.toLong)
      else None
    def bootstrap(): Unit = {
      val full = readVersion(spark, sourceRoot, srcV)
      publishVersioned(full, replicaRoot, currentVersion(replicaRoot))
      ()
    }
    synced match {
      case Some(s) if s == srcV => () // already current
      case Some(s) if listVersions(sourceRoot).contains(s) =>
        import org.apache.spark.sql.functions._
        // writer-persisted feeds make the catch-up O(changed rows):
        // drop preimages, keep each key's LAST change across the steps
        // (last-write-wins reproduces the net state change), map to
        // upsert/delete ops. Snapshot diff remains the fallback.
        val delta = changeFeed(spark, sourceRoot, s, srcV) match {
          case Some(feed) =>
            Merge.latestPerKey(
                feed.filter(col("_change_type") =!= "update_preimage"),
                keys, Seq("_commit_version"))
              .withColumn("op",
                when(col("_change_type") === "delete", lit("delete"))
                  .otherwise(lit("upsert")))
              .drop("_change_type", "_commit_version")
          case None => changesAsDelta(changesBetween(spark, sourceRoot, s, srcV, keys))
        }
        Merge.applyTo(spark, replicaRoot, delta, keys)
      case _ => bootstrap() // never synced, or the base was vacuumed
    }
    val tmp = Paths.get(replicaRoot, "_SYNCED_FROM.tmp")
    Files.write(tmp, srcV.toString.getBytes("UTF-8"))
    Files.move(tmp, marker, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    srcV
  }


  /** Zero-copy CLONE: publish the source table's live version (or `asOf`
    * version) as version 0 of a NEW table at `dstRoot` — the Delta
    * `CREATE TABLE ... SHALLOW CLONE` analog, except that hardlink carry
    * makes it as durable as a deep clone on this binding: the clone
    * shares immutable inodes with the source, so vacuuming either table
    * later only unlinks names (shared inodes survive — the same
    * guarantee the streaming feed dir relies on). On an object-store
    * binding the same moves become a manifest copy: zero data bytes
    * move in either world.
    *
    * The clone carries the source's table metadata — partition spec,
    * CHECK constraints, table properties — and its descriptive sidecars
    * (stats, bloom, ANN quantizer), so file skipping and constraint
    * enforcement work on the clone from the first read. It does NOT
    * carry: version history (the clone starts at v0 — time travel on
    * the clone sees only its own commits), the change feed (no
    * predecessor to diff against), or streaming writer high-water marks
    * (`graft.stream.lastBatch.*` — Delta's rule: stream metadata is not
    * cloned; a stream targeting the clone is a NEW writer and must use
    * a fresh checkpoint). After the clone, the tables evolve fully
    * independently — every writer path copies-on-write, so neither can
    * ever observe the other's subsequent commits.
    */
  /** Write-audit-publish branching (the Iceberg branch / WAP recipe on
    * this table tier): [[branchTable]] zero-copy-clones the base's live
    * snapshot into a BRANCH table and records `(base root, base
    * version)` in the branch's properties; writers then commit to the
    * branch freely (every writer path applies — DML, appends,
    * expectations audits) while base readers never see a byte; and
    * [[mergeBranch]] FAST-FORWARDS the base to the branch's live
    * snapshot — hardlink adoption of the branch's version dir as one
    * ordinary OCC commit, O(metadata) at any table size.
    *
    * The fast-forward is only legal while the base still sits at the
    * recorded branch point: if the base advanced, the merge REFUSES
    * (the branch is stale — re-branch from the new base and replay;
    * the same rule Iceberg's fast-forward call enforces). A merged
    * branch refuses a second merge for the same reason. Table-level
    * properties stay per-table (the branch carries a copy from branch
    * time; merge moves DATA and its descriptive sidecars — stats,
    * bloom, ANN, DV, column mapping, partition spec — not props), and
    * the base's next feed reconcile diffs the adopted snapshot like
    * any commit.
    */
  def branchTable(spark: SparkSession, srcRoot: String,
      branchRoot: String): Long = {
    val baseV = currentVersion(srcRoot).getOrElse(
      throw new IllegalStateException(s"no published version under $srcRoot"))
    cloneTable(spark, srcRoot, branchRoot, asOf = Some(baseV))
    TableProps.update(branchRoot)(_ +
      ("graft.branch.of" -> srcRoot) +
      ("graft.branch.base" -> baseV.toString))
    // returns the RECORDED branch point (what mergeBranch will check
    // against), not a re-read of the base — a concurrent base commit
    // must not make the report disagree with the recorded pin
    baseV
  }

  /** Fast-forward the branch's base table to the branch's live
    * snapshot; returns the base's new version. See [[branchTable]].
    */
  def mergeBranch(spark: SparkSession, branchRoot: String): Long = {
    val props = TableProps.load(branchRoot)
    val baseRoot = props.getOrElse("graft.branch.of",
      throw new IllegalStateException(
        s"$branchRoot is not a branch (no graft.branch.of property) — " +
          "create it with branchTable / CALL graft.system.branch"))
    val branchBase = props.get("graft.branch.base").flatMap(_.toLongOption)
      .getOrElse(throw new IllegalStateException(
        s"$branchRoot: graft.branch.base property missing or unparsable"))
    val baseCur = currentVersion(baseRoot).getOrElse(
      throw new IllegalStateException(
        s"branch base $baseRoot no longer holds a published table"))
    require(baseCur == branchBase,
      s"fast-forward refused: $baseRoot advanced to v$baseCur since the " +
        s"branch point v$branchBase — re-branch from the current base " +
        "and replay the branch's changes")
    val branchV = currentVersion(branchRoot).getOrElse(
      throw new IllegalStateException(s"no published version under $branchRoot"))
    val src = Paths.get(versionPath(branchRoot, branchV))
    // a DV-carrying branch snapshot keeps its row-index keys only under
    // a URI-transparent base path — same refusal as clone
    if (Dv.exists(src.toString))
      require(Dv.safeDir(baseRoot),
        s"cannot fast-forward a deletion-vector-carrying branch into " +
          s"$baseRoot: the path is not URI-transparent — compact the " +
          "branch first")
    val stage = Paths.get(
      s"$baseRoot/.stage-${ProcessHandle.current().pid()}-${System.nanoTime()}")
    try {
      stageSnapshotLinks(src, stage)
      stampOp(stage, "merge-branch")
      commitStaged(baseRoot, stage, Some(baseCur))
    } catch {
      case e: Throwable => Fs.deleteRecursively(stage); throw e
    }
  }

  def cloneTable(spark: SparkSession, srcRoot: String, dstRoot: String,
      asOf: Option[Long] = None): Long = {
    val srcV = asOf.getOrElse(currentVersion(srcRoot).getOrElse(
      throw new IllegalStateException(s"no published version under $srcRoot")))
    val src = Paths.get(versionPath(srcRoot, srcV))
    if (!Files.exists(src))
      throw new IllegalStateException(
        s"version $srcV does not exist under $srcRoot (available: " +
          s"${listVersions(srcRoot).mkString(", ")}) — it may have been vacuumed")
    require(currentVersion(dstRoot).isEmpty,
      s"clone target $dstRoot already holds a published table")
    // a deletion-vector sidecar stores file keys relative to the VERSION
    // DIR as `_metadata.file_path` reports them (URI-encoded); cloned
    // into a non-URI-transparent target every key would mismatch and the
    // subtraction silently resurrect deleted rows — refuse up front
    // (the read side also fails loudly now, but the clone should never
    // commit an unreadable table)
    if (Dv.exists(src.toString))
      require(Dv.safeDir(dstRoot),
        s"cannot clone a deletion-vector-carrying version into $dstRoot: " +
          "the target path is not URI-transparent, so the carried vector " +
          "keys could not be matched at read time — clone to a path of " +
          "[A-Za-z0-9/._-], or CALL system.compact on the source first")
    Files.createDirectories(Paths.get(dstRoot))
    // table-level metadata first (partition spec must be in place before
    // any read of the committed clone pins partition types); writer
    // high-water marks are per-table identities and stay behind
    val srcProps = TableProps.load(srcRoot)
    if (srcProps.nonEmpty)
      TableProps.store(dstRoot,
        srcProps.filterNot(_._1.startsWith("graft.stream.lastBatch.")))
    val stage = Paths.get(s"$dstRoot/.stage-${ProcessHandle.current().pid()}-${System.nanoTime()}")
    try {
      stageSnapshotLinks(src, stage)
      stampOp(stage, "clone")
      commitStaged(dstRoot, stage, None)
    } catch {
      case e: Throwable => Fs.deleteRecursively(stage); throw e
    }
  }

  /** COPY INTO sidecar/props names (B137): each ingesting commit stages
    * a `_copyin` receipt (the source paths it ingested, atomic with the
    * data); after the commit the receipt folds into `_PROPS` keys
    * (durable past vacuum — [[compactVersioned]] folds evicted receipts
    * the way it folds streaming batch stamps).
    */
  private[graft] val CopyinSidecar = "_copyin"
  private[graft] def copyinPropKey(src: String): String =
    "graft.copyin." + java.security.MessageDigest.getInstance("MD5")
      .digest(src.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** COPY INTO (B137): idempotent batch file ingestion — load every
    * not-yet-ingested file under `srcDir` into the table as ONE commit,
    * exactly once across any number of re-runs, crashes, and vacuums
    * (the Delta `COPY INTO` / Snowflake loading-metadata pattern, the
    * batch door next to B119's streaming ingestion). File identity is
    * the source PATH — the landing-zone convention: files are immutable
    * once dropped; replacing content under the same name is not an
    * ingestion trigger.
    *
    * Idempotence is two-tier, like the streaming batch stamps: the
    * commit itself carries its receipt (`_copyin`, atomic with the
    * data), and the receipt folds into `_PROPS` afterwards — a crash
    * between the two leaves the receipt discoverable in the retained
    * version, and vacuum folds evicted receipts before deleting. A
    * re-run therefore skips everything either tier knows.
    *
    * First ingestion into an absent table creates it from the batch's
    * schema; later batches must match the live schema (the append
    * alignment guard — loud failure, no commit). Returns
    * `(version, newly ingested paths)` — the current version unchanged
    * when nothing new arrived.
    */
  def copyInto(spark: SparkSession, root: String, srcDir: String,
      format: String = "parquet",
      options: Map[String, String] = Map.empty): (Long, Seq[String]) = {
    val src = Paths.get(srcDir)
    require(Files.isDirectory(src), s"copyInto source $srcDir is not a directory")
    val dataExt = format.toLowerCase match {
      case "parquet" => Some(".parquet")
      case "avro" => Some(".avro") // round-14: avro-core container read
      case _ => None
    }
    val candidates = Fs.listDir(src)
      .filter(p => Files.isRegularFile(p))
      .filterNot { p =>
        val n = p.getFileName.toString
        n.startsWith("_") || n.startsWith(".")
      }
      .filter(p => dataExt.forall(p.getFileName.toString.endsWith(_)))
      .map(_.toString).sorted
    val already = ingestedSources(spark, root)
    val newFiles = candidates.filterNot(already)
    if (newFiles.isEmpty)
      return (currentVersion(root).getOrElse(-1L), Nil)
    import spark.implicits._
    val receipt = newFiles.toDF("src")
    // avro routes through AvroIO (the spark-avro connector is absent —
    // see sources/AvroIO); everything else through Spark's own readers
    val df =
      if (format.equalsIgnoreCase("avro"))
        graft.sources.AvroIO.readFiles(spark, newFiles)
      else spark.read.format(format).options(options).load(newFiles: _*)
    val v = currentVersion(root) match {
      case None =>
        publishVersioned(df, root, None,
          sidecars = Seq(CopyinSidecar -> receipt), opTag = "copy-into")
      case cur @ Some(_) =>
        // rebase = false: the receipt dedupe (`ingestedSources`) read
        // BEFORE staging — a concurrent COPY INTO of the same source
        // must surface as a CME so the retry re-reads the receipts,
        // never double-ingests
        appendVersioned(df, root, cur,
          commitSidecars = Seq(CopyinSidecar -> receipt), opTag = "copy-into",
          rebase = false)
    }
    // durable fold; a crash before this line is healed by the receipt
    TableProps.update(root)(p =>
      p ++ newFiles.map(f => copyinPropKey(f) -> f))
    (v, newFiles)
  }

  /** Every source path this table has ever ingested: the durable props
    * fold ∪ the receipts still sitting in retained versions at or below
    * current (orphans above current never became visible — their files
    * really do need re-ingesting).
    */
  private[ops] def ingestedSources(spark: SparkSession, root: String): Set[String] = {
    val fromProps = TableProps.load(root).collect {
      case (k, v) if k.startsWith("graft.copyin.") => v
    }.toSet
    val dirs = currentVersion(root).toSeq.flatMap(c =>
        listVersions(root).filter(_ <= c))
      .map(v => Paths.get(versionPath(root, v), CopyinSidecar))
      .filter(Files.isDirectory(_))
      .filter(d => Fs.listDir(d).exists(_.getFileName.toString.endsWith(".parquet")))
    val fromReceipts =
      if (dirs.isEmpty) Set.empty[String]
      else spark.read.parquet(dirs.map(_.toString): _*)
        .select("src").collect().map(_.getString(0)).toSet
    fromProps ++ fromReceipts
  }


  // ---------- streaming-readable change feed directory ----------

  /** Sibling directory of the version dirs holding every live commit's
    * `_changes` files, hardlinked under `v<N>-<i>-<file>` names. Unlike
    * the underscore-prefixed sidecars this directory is a plain name:
    * it must be visible to Spark's file-stream source
    * ([[graft.ops.TableStream.streamFeed]]), which ignores `_`/`.`
    * path components. It is append-only — vacuuming a version does not
    * invalidate its feed links (shared inodes survive), so a slow
    * streaming consumer never loses data to retention.
    */
  val FeedDir = "feed"

  /** Opt the table into the streaming feed: once the directory exists,
    * EVERY commit (publish, append, merge, SQL DML) that carries a
    * `_changes` sidecar links it in as part of the commit, inside the
    * lock.
    */
  def enableStreamFeed(root: String): Unit = {
    Files.createDirectories(Paths.get(root, FeedDir))
    ()
  }

  /** Watermark file inside `feed/`: the highest version whose chain has
    * been fully reconciled. Bounds [[reconcileFeedLocked]] to the
    * commits since the last pass (O(new commits), not O(retained
    * history) under the commit lock every micro-batch). Crash-safe: the
    * watermark advances only AFTER a complete walk, so a commit that
    * died before its links left the watermark below it and the next
    * pass revisits. Underscore-prefixed, so feed readers never see it.
    */
  private val FeedWatermark = "_RECONCILED"

  /** Re-walk the ENTIRE live chain and relink anything missing,
    * ignoring the watermark — the operator repair for feed links lost
    * below it (a manually cleaned directory, a restored backup).
    * Ordinary crash windows never need this; the per-commit reconcile
    * heals them.
    */
  def repairFeed(root: String): Unit = withCommitLock(root) {
    Files.deleteIfExists(Paths.get(root, FeedDir, FeedWatermark))
    reconcileFeedLocked(root)
  }

  /** Link every live commit's `_changes` files into `feed/`. Runs under
    * the commit lock. Walks the base chain back from the CURRENT
    * version — never a bare directory listing — so an orphan version
    * (crash between rename and pointer flip; its data was never live)
    * can never leak rows into the feed. The walk follows the
    * version-level `_VBASE` marker (every commit writes one), so
    * commits WITHOUT a feed — compaction, plain publishes, restores —
    * are traversed, not treated as the end of history: a feed-carrying
    * version stranded behind one still gets (re-)linked before
    * compaction's vacuum could delete its only copy. Idempotent by
    * target name, which also makes it the crash repair: a commit that
    * died after the pointer flip but before its feed links is healed by
    * the next commit's pass.
    */
  private[graft] def reconcileFeedLocked(root: String): Unit = {
    val feed = Paths.get(root, FeedDir)
    if (!Files.isDirectory(feed)) return
    val wmFile = feed.resolve(FeedWatermark)
    val wm =
      if (Files.exists(wmFile))
        new String(Files.readAllBytes(wmFile), "UTF-8").trim.toLong
      else -1L
    val top = currentVersion(root)
    var cur = top
    while (cur.isDefined && cur.get > wm) {
      val vdir = Paths.get(versionPath(root, cur.get))
      val side = vdir.resolve(ChangesSidecar)
      if (Files.isDirectory(side) && Files.exists(side.resolve("_BASE"))) {
        Fs.listDir(side).filter(_.getFileName.toString.endsWith(".parquet"))
          .sortBy(_.getFileName.toString).zipWithIndex.foreach { case (f, i) =>
            val dst = feed.resolve(s"v${cur.get}-$i-${f.getFileName}")
            if (!Files.exists(dst)) linkOrCopy(f, dst)
          }
      }
      // predecessor: the version-level base; fall back to the feed
      // sidecar's base for versions committed before _VBASE existed
      val base = Seq(vdir.resolve(VersionBaseFile), side.resolve("_BASE"))
        .find(Files.exists(_))
        .map(p => new String(Files.readAllBytes(p), "UTF-8").trim.toLong)
      cur = base match {
        // a malformed base (>= its successor) would cycle the walk — stop
        case Some(b) if b >= 0 && b < cur.get => Some(b)
        case _ => None
      }
    }
    // advance the watermark only after the walk completed
    top.foreach { t =>
      val tmp = feed.resolve(FeedWatermark + ".tmp")
      Files.write(tmp, t.toString.getBytes("UTF-8"))
      Files.move(tmp, wmFile, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
  }
}
