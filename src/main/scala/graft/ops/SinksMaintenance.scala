package graft.ops

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.io.Fs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Operator hygiene and layout maintenance: orphan vacuum,
  * compaction with retention, and target-size file planning.
  *
  * One seam of [[Sinks]] (round-13 split of a 2.9k-line object:
  * pure member motion, zero behavior change — `Sinks.<member>`
  * call sites are untouched because the object mixes this in).
  */
private[graft] trait SinksMaintenance { this: Sinks.type =>

  /** Operator hygiene: remove CRASH DEBRIS that retention-based vacuum
    * never touches — `.stage-*` dirs of writers that died before their
    * commit, and version dirs ABOVE the live pointer (a crash between
    * the version-dir rename and the pointer flip, or a multi-table
    * transaction killed before its marker). Both are invisible to every
    * reader and harmless, but they accumulate bytes forever on a busy
    * table. Only entries older than `olderThanMs` go (default 24 h —
    * the standard VACUUM trade: an IN-FLIGHT writer staging longer than
    * the window loses its not-yet-committed stage and fails cleanly at
    * commit, never corrupts); runs under the commit lock, so no commit
    * is concurrently promoting an above-current dir. `_txn-*` markers
    * are deliberately kept: a marker may be referenced by conditional
    * pointers of OTHER tables, which this table-scoped pass cannot see.
    *
    * Round-15 (the Delta VACUUM other half): the pass also diffs the
    * REFERENCED set against the directory tree and unlinks what nothing
    * references — FOREIGN top-level entries (a stray temp file, a
    * half-written `_PROPS.tmp`, a directory some other tool dropped
    * into the root) and aged tag-write tmps under `_tags/`. The
    * referenced set falls out of the layout: every retained `v<N>` dir
    * is self-contained (its data files AND sidecars — `_dv`, `_stats`,
    * `_changes`, `_eqdel`/`_eqseq`, layout legs, markers — live inside
    * it), so "referenced" is exactly {v* dirs, `_CURRENT`, `_PROPS`,
    * `_LOCK`, `_tags`, live `.stage-*`, `_txn-*`}. Tagged versions are
    * v* dirs and never candidates; removal is `unlink`, so an
    * inode-shared carry (zero-copy CLONE, WAP branch, linked commit)
    * in ANOTHER root keeps its bytes by POSIX link counting. Returns
    * (stage dirs removed, orphan versions removed, foreign entries
    * removed).
    */
  def vacuumOrphans(root: String,
      olderThanMs: Long = 24L * 3600 * 1000): (Int, Int, Int) = withCommitLock(root) {
    val cutoff = System.currentTimeMillis() - olderThanMs
    def oldEnough(p: Path): Boolean =
      try Files.getLastModifiedTime(p).toMillis < cutoff
      catch { case _: java.io.IOException => false }
    val entries = Fs.listDir(Paths.get(root))
    val stages = entries.filter(p =>
      p.getFileName.toString.startsWith(".stage-") && oldEnough(p))
    val cur = currentVersion(root)
    def isVersionDir(n: String): Boolean =
      n.startsWith("v") && n.length > 1 && n.drop(1).forall(_.isDigit)
    val orphans = entries.filter { p =>
      val n = p.getFileName.toString
      isVersionDir(n) && cur.forall(_ < n.drop(1).toLong) && oldEnough(p)
    }
    val foreign = entries.filter { p =>
      val n = p.getFileName.toString
      // the streaming CDC feed dir is a LIVE root-level artifact (its
      // name is not underscore-prefixed): sweeping it would erase the
      // whole change feed + _RECONCILED watermark of any feed-enabled
      // table idle past the age window — the retention vacuum in this
      // file reconciles the feed before evicting versions for exactly
      // that reason, so the orphan pass must never treat it as foreign.
      val referenced = isVersionDir(n) || n == "_CURRENT" || n == "_PROPS" ||
        n == "_LOCK" || n == "_tags" || n.startsWith(".stage-") ||
        n.startsWith("_txn-") || n == FeedDir
      // round-16 (the feed finding's whole CLASS, closed): OTHER
      // underscore-prefixed entries are user/system-reserved and
      // survive — Delta's documented VACUUM contract, protecting
      // streaming checkpoints (`_checkpoint`), `_spark_metadata`, and
      // any `_`-prefixed operator artifact parked at the table root.
      // Only recognizably ENGINE-SHAPED debris among them is swept:
      // `_temporary` (the Hadoop committer's crash leftovers) and
      // half-written `*.tmp*` files (`_PROPS.tmp`).
      val sparedUserReserved = n.startsWith("_") &&
        n != "_temporary" && !n.contains(".tmp")
      !referenced && !sparedUserReserved && oldEnough(p)
    }
    val tagTmps = {
      val td = Paths.get(root, "_tags")
      if (!Files.isDirectory(td)) Nil
      else Fs.listDir(td).filter { p =>
        val n = p.getFileName.toString
        n.startsWith(".") && n.contains(".tmp") && oldEnough(p)
      }
    }
    (stages ++ orphans ++ foreign ++ tagTmps).foreach(Fs.deleteRecursively)
    (stages.size, orphans.size, foreign.size + tagTmps.size)
  }


  /** Compaction over the versioned layout: rewrite the live version into
    * ceil(bytes / targetBytes) files as a NEW version and flip the
    * pointer — readers see no window where the table is absent. The
    * vacuum keeps the newest `retainVersions` snapshots BELOW the
    * compaction base (the time-travel retention window) plus the base
    * itself (readers that resolved just before the flip) and everything
    * at or after it; deletion runs under the commit lock — so a
    * concurrent writer that commits v+1 between our flip and the vacuum
    * can never lose its committed directory. Orphaned `.stage-*` dirs
    * from crashed publishes are also removed, but only when the owning
    * pid (encoded in the dir name) is no longer alive — a live writer's
    * in-flight staging dir is untouchable. Production table formats age
    * all of these out by retention time instead; `retainVersions` is the
    * snapshot-count spelling of the same policy for [[readVersion]]
    * pinning.
    */
  def compactVersioned(spark: SparkSession, root: String,
      targetBytes: Long = 128L * 1024 * 1024, retainVersions: Int = -1,
      retainHours: Double = -2.0): Long = {
    // declared per-table retention policy (round-14,
    // 'graft.retain.versions' / 'graft.retain.hours'): the SENTINEL
    // defaults (-1 / -2.0) resolve from _PROPS so a no-argument
    // maintenance call honors the table's own declaration; an explicit
    // argument — including retainHours = -1 for "count-based only" —
    // always wins over the policy.
    val (polV, polH) = TableProps.retainPolicy(root)
    val effRetain = if (retainVersions >= 0) retainVersions else polV.getOrElse(0)
    val effHours = if (retainHours >= -1.0) retainHours else polH.getOrElse(-1.0)
    val liveV = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no published version under $root"))
    val live = versionPath(root, liveV)
    val nFiles = fileCount(Paths.get(live), targetBytes)
    // a compaction must not silently demote the table from skippable to
    // full-scan: carry the live version's stats columns into the rewrite
    // AND re-cluster by them — a round-robin repartition would spread
    // every key range across every output file, leaving the re-annotated
    // stats formally present but useless (each file's min/max ≈ the
    // global extent). Range-partitioning on the stats columns keeps
    // single-column pruning exact; a multi-dimensional (Z-order) layout
    // that must survive compaction should be re-laid with its own key
    // and republished instead.
    // sidecar columns are PHYSICAL; the rewrite below reads LOGICAL
    // (through the funnel) and re-lands logical-named files, converging
    // a renamed table back to unmapped — so translate for the recluster.
    // Declared auto-stats columns ('graft.stats.columns') join the set:
    // compaction is the retrofit pass for a property declared after data
    val statsCols = (Stats.sidecarCols(spark, live)
      .map(ColMap.toLogicalName(live, _)) ++ TableProps.statsColumns(root) ++
      TableProps.clusterColumns(root))
      .distinct
    val base = snapshotRead(spark, root, live)
    val pcols = TableProps.partitionCols(root)
    // DECLARED clustering ('graft.cluster.columns', round-14) owns the
    // rewrite's layout when present: compaction RE-CLUSTERS by the
    // declared key — range + sort for one column, normalized Z-order
    // for several — instead of by whatever columns happen to carry
    // stats, so a Z-ordered table keeps its multi-dimensional locality
    // through every maintenance pass with no per-call arguments.
    val clusterCols = TableProps.clusterColumns(root)
    val rewritten =
      if (clusterCols.nonEmpty) clusterFrame(base, clusterCols, pcols, Some(nFiles))
      else if (statsCols.isEmpty && pcols.nonEmpty) {
        // partitioned table: cluster the rewrite BY the partition columns
        // so each task holds whole partition values — a round-robin
        // repartition would make every task write a sliver into every
        // partition dir, multiplying small files instead of merging them
        import org.apache.spark.sql.functions.col
        base.repartition(nFiles, pcols.map(col): _*)
      }
      else if (statsCols.isEmpty) base.repartition(nFiles)
      else {
        import org.apache.spark.sql.functions.col
        base.repartitionByRange(nFiles, statsCols.map(col): _*)
          .sortWithinPartitions(statsCols.map(col): _*)
      }
    // a compaction must not silently demote the table from
    // point-skippable to full-scan either (round-14; before this, the
    // rewrite DROPPED the `_bloom` sidecar and point lookups silently
    // degraded until an operator remembered CALL system.bloom_index):
    // rebuild the filters over the rewritten files inside the SAME
    // staged commit — the declared columns, plus whatever the live
    // sidecar already indexed (a manually-CALLed index survives too).
    val bloomCols = (Bloom.sidecarCols(spark, live)
      .map(ColMap.toLogicalName(live, _)) ++ TableProps.bloomColumns(root))
      .distinct
    val v = publishVersioned(rewritten, root, Some(liveV), statsCols,
      bloomCols = bloomCols, opTag = "compact")
    // retention vacuum: keep the pre-compaction base (readers that
    // resolved just before the flip) plus `retainVersions` below it —
    // as a below-the-CURRENT count that is retainVersions + 1
    // (resolved values: expireVersions must not re-apply the policy on
    // top of the already-adjusted count)
    expireVersions(spark, root, effRetain + 1, effHours)
    v
  }

  /** Predicate-scoped compaction (round-14, B175): rewrite ONLY the
    * files whose identity-partition directory values satisfy `where` —
    * a SQL boolean over the table's partition columns — into
    * target-size, re-clustered files; every other live file carries by
    * hardlink. At 100 TB compaction is never all-at-once: the
    * operational shape is "compact yesterday's partition after the late
    * data settles", and a full rewrite would pay O(table) to fix
    * O(partition) small files.
    *
    * Matching is driver-side directory arithmetic (metadata-scale): each
    * file's partition values parse from its directory path and evaluate
    * through Spark's own expression engine over a tiny typed frame —
    * arbitrary predicates (IN, BETWEEN, ranges …) over partition columns
    * work; referencing any non-partition (or transform-derived) column
    * fails loudly before anything is staged. A file whose layout lacks a
    * referenced directory value (a pre-evolution `_layout` leg keeping
    * the value in file data, an undecodable segment) conservatively
    * CARRIES; a leg file whose own path does carry the value rewrites —
    * landing under the current layout, materializing its evolution.
    *
    * Composition: the rewrite reads its files through the reconciling
    * funnel ([[snapshotRead]]), so deletion vectors and pending
    * equality-delete tombstones are MATERIALIZED into the rewritten
    * partitions (their stale sidecar rows, keyed by replaced files, are
    * inert); carried files keep subtracting exactly as before — under
    * eq-delete maintenance the staged files are seq-stamped above every
    * pending tombstone, so reconciled rows are not re-killed. Stats and
    * bloom sidecars re-annotate the staged delta by inheritance
    * (declared + existing columns, [[stageLinkedNoCommit]]); declared
    * clustering re-clusters the rewritten rows. No retention vacuum
    * runs — scoped maintenance must not expire history as a side
    * effect (`CALL system.expire_versions` owns that).
    */
  def compactVersionedWhere(spark: SparkSession, root: String, where: String,
      targetBytes: Long = 128L * 1024 * 1024): Long = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    require(where.trim.nonEmpty,
      "compactVersionedWhere requires a predicate; use compactVersioned " +
        "for a whole-table rewrite")
    val liveV = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no published version under $root"))
    val live = versionPath(root, liveV)
    val partSchema = partitionSchemaFor(root, live).getOrElse(
      throw new IllegalArgumentException(
        s"$root is unpartitioned: a scoped compaction selects whole " +
          "partitions — use compactVersioned"))
    // the predicate may reference IDENTITY partition columns only: a
    // data column's values are not in any directory, and a transform's
    // SOURCE values are not recoverable from its derived directories
    val refs = spark.sessionState.sqlParser.parseExpression(where).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.name
    }.distinct
    require(refs.nonEmpty, s"predicate '$where' references no column")
    refs.foreach { r =>
      val ok = partSchema.fields.exists(f => f.name.equalsIgnoreCase(r) &&
        Transforms.parse(f.name).isEmpty)
      require(ok,
        "scoped compaction predicates may reference identity partition " +
          s"columns only (${partSchema.fieldNames.mkString(", ")}); got: $r")
    }
    val liveP = Paths.get(live)
    val rels = Fs.walkParquet(liveP).map(p => liveP.relativize(p).toString)
    def rawOf(rel: String, c: String): Option[String] =
      rel.split('/').dropRight(1).collectFirst {
        case s if s.contains('=') &&
            s.substring(0, s.indexOf('=')).equalsIgnoreCase(c) =>
          s.substring(s.indexOf('=') + 1)
      }
    val pcolNames = partSchema.fieldNames.toSeq
    val rows = rels.map { rel =>
      org.apache.spark.sql.Row.fromSeq(rel +: pcolNames.map { c =>
        rawOf(rel, c).map { raw =>
          try graft.plans.MetaCountRewrite.unescapePath(raw)
          catch { case _: Exception => null }
        }.filterNot(_ == "__HIVE_DEFAULT_PARTITION__").orNull
      })
    }
    val rawSchema = StructType(
      StructField("__gf_file", StringType, nullable = false) +:
        pcolNames.map(c => StructField(c, StringType, nullable = true)))
    val tuples = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), rawSchema)
    // declared types via Spark's own cast (a failed cast reads null and
    // the file conservatively carries — maintenance scope, never data)
    val typed = partSchema.fields.foldLeft(tuples)((d, f) =>
      d.withColumn(f.name, col(s"`${f.name}`").cast(f.dataType)))
    val matching = typed.filter(expr(where))
      .select("__gf_file").collect().map(_.getString(0)).toSet
    if (matching.isEmpty) return liveV // nothing selected: no-op commit-free
    val matchBytes = rels.filter(matching).map(r =>
      Files.size(liveP.resolve(r))).sum
    val nFiles = math.max(1,
      math.ceil(matchBytes.toDouble / targetBytes).toInt)
    val aligned = snapshotRead(spark, root, live,
      Some(matching.toSeq.sorted.map(k => s"$live/$k")))
    // same layout selection as the full rewrite: declared clustering
    // wins; else range-cluster by the stats columns; else cluster by
    // the partition columns so each value lands from one task
    val pcols = TableProps.partitionCols(root)
    val clusterCols = TableProps.clusterColumns(root)
    val statsLayoutCols = (Stats.sidecarCols(spark, live)
      .map(ColMap.toLogicalName(live, _)) ++ TableProps.statsColumns(root) ++
      clusterCols).distinct
      .filter(c => aligned.columns.exists(_.equalsIgnoreCase(c)))
    val rewritten =
      if (clusterCols.nonEmpty) clusterFrame(aligned, clusterCols, pcols, Some(nFiles))
      else if (statsLayoutCols.isEmpty && pcols.nonEmpty)
        aligned.repartition(nFiles, pcols.map(col): _*)
      else if (statsLayoutCols.isEmpty) aligned.repartition(nFiles)
      else aligned.repartitionByRange(nFiles, statsLayoutCols.map(col): _*)
        .sortWithinPartitions(statsLayoutCols.map(col): _*)
    stageLinkedPublish(rewritten, root, Some(liveV), Nil,
      emitFeed = false, batchTag = None,
      carry = rel => !matching(rel), opTag = "compact-where")
  }

  /** Fold the equality-delete sidecars NOW, as an O(metadata) commit
    * (round-14): carry every live data file by hardlink, fold `_eqseq`
    * to live-file max-seqs and `_eqdel` to max-seq-per-key MINUS the
    * dead tombstones ([[EqDel.compactSidecar]]'s sweep), and commit.
    * No data file is read or written — this is how an operator sheds
    * reader-side anti-join debt after a bulk upsert burst without
    * waiting for the part-count checkpoint or paying a compaction
    * rewrite. After a scoped compaction has re-stamped every file a
    * tombstone could apply to, this commit EXITS eq-delete maintenance
    * entirely (both sidecars removed). Returns the new version.
    */
  def eqCheckpoint(spark: SparkSession, root: String): Long = {
    val v = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no published version under $root"))
    require(EqDel.maintained(versionPath(root, v)),
      s"$root is not under equality-delete maintenance — nothing to fold")
    val empty = readCurrent(spark, root).limit(0)
    val stage = stageLinkedNoCommit(empty, root, Some(v), Nil,
      emitFeed = false, batchTag = None, carry = _ => true,
      skipDataWrite = true, opTag = "eq-checkpoint").get
    try {
      EqDel.compactSidecar(spark, stage.toString, EqDel.SeqSidecar)
      EqDel.compactSidecar(spark, stage.toString, EqDel.Sidecar)
      commitStaged(root, stage, Some(v))
    } catch {
      case e: Throwable => Fs.deleteRecursively(stage); throw e
    }
  }

  /** The declared-clustering layout of a compaction rewrite (round-14,
    * `graft.cluster.columns`): one column — or any non-numeric
    * dimension — range-clusters hierarchically (exact pruning on the
    * leading column, locality within ranges for the rest); two or more
    * numeric/date/timestamp dimensions take the normalized Z-order
    * interleave ([[Layout.zorderN]] over [[Layout.normalize]]d grids —
    * the same recipe as [[zorderTable]], whose normalization rationale
    * applies verbatim: raw interleaving degenerates to a single-column
    * sort). Bounds come from one tiny min/max aggregate; an empty or
    * all-null dimension degrades to a plain repartition.
    */
  /** `nFiles = None` leaves the shuffle's partition count to AQE (the
    * write-time spelling: a small delta coalesces into few files with
    * no explicit sizing); compaction passes its computed target count.
    */
  private[ops] def clusterFrame(base: DataFrame, clusterCols: Seq[String],
      pcols: Seq[String], nFiles: Option[Int]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, min => smin, max => smax}
    import org.apache.spark.sql.types.{DateType, NumericType, TimestampType}
    val schema = base.schema
    val canonical = clusterCols.map(c => schema.find(_.name.equalsIgnoreCase(c))
      .getOrElse(throw new IllegalArgumentException(
        s"cluster column $c is not in the table schema " +
          s"(${schema.fieldNames.mkString(", ")})")))
    def gridable(f: org.apache.spark.sql.types.StructField): Boolean =
      f.dataType match {
        case DateType | TimestampType => true
        case _: NumericType => true
        case _ => false
      }
    val dims = canonical.map(f => col(f.name))
    def ranged(keys: Seq[Column]): DataFrame = nFiles match {
      case Some(n) => base.repartitionByRange(n, keys: _*)
        .sortWithinPartitions(keys: _*)
      case None => base.repartitionByRange(keys: _*)
        .sortWithinPartitions(keys: _*)
    }
    if (canonical.size == 1 || !canonical.forall(gridable)) {
      ranged(pcols.map(col) ++ dims)
    } else {
      def asNum(f: org.apache.spark.sql.types.StructField): Column =
        f.dataType match {
          case DateType =>
            org.apache.spark.sql.functions.unix_date(col(f.name)).cast("double")
          case TimestampType =>
            org.apache.spark.sql.functions.unix_micros(col(f.name)).cast("double")
          case _ => col(f.name).cast("double")
        }
      val effBits = math.min(16, 63 / canonical.size)
      val boundCols = canonical.flatMap(f => Seq(smin(asNum(f)), smax(asNum(f))))
      val bounds = base.agg(boundCols.head, boundCols.tail: _*).head()
      val allBounded = canonical.indices.forall(i =>
        !bounds.isNullAt(2 * i) && !bounds.isNullAt(2 * i + 1))
      if (!allBounded) nFiles.fold(base)(base.repartition(_)) // empty / all-null dim
      else {
        val z = Layout.zorderN(canonical.zipWithIndex.map { case (f, i) =>
          Layout.normalize(asNum(f), lit(bounds.getDouble(2 * i)),
            lit(bounds.getDouble(2 * i + 1)), effBits)
        }, effBits)
        ranged(pcols.map(col) :+ z)
      }
    }
  }

  /** Snapshot expiration WITHOUT a rewrite (round-13; the Delta VACUUM /
    * Iceberg expire_snapshots spelling): unlink retired version
    * directories, keeping the live version, the newest `retainVersions`
    * below it, every version committed within `retainHours`, and every
    * tagged version — a pure metadata operation. Before [[expireVersions]]
    * existed, retention was only reachable THROUGH [[compactVersioned]],
    * which couples history expiry to an O(table) rewrite; an operator
    * expiring history on a 100 TB table must not pay that. Returns the
    * evicted version numbers.
    *
    * Durability contracts identical to the compaction-coupled path (the
    * logic moved here verbatim): a vacuumed version may hold the only
    * `_BATCHID` stamp proving a streaming batch committed, or the only
    * `_copyin` receipt proving files were ingested — both fold into
    * `_PROPS` BEFORE any deletion (outside the commit lock, which is
    * not reentrant; the candidate set below the live version is
    * immutable, so the two lock windows see the same candidates).
    * Tagged versions are pinned: the evict set excludes BOTH a pre-fold
    * tag snapshot (a version whose metadata was never folded can never
    * be deleted) and a fresh read under the lock (tags created since
    * are honored; tagVersion runs under the same lock). The streaming
    * feed is re-verified first and eviction is SKIPPED when the
    * reconcile cannot complete — vacuum is the step that would make an
    * unlinked `_changes` unrecoverable. Aged crash debris (dead
    * `.stage-*` dirs) is swept in the same pass.
    */
  def expireVersions(spark: SparkSession, root: String,
      retainVersions: Int = -1, retainHours: Double = -2.0): Seq[Long] = {
    // sentinel args resolve from the declared per-table retention
    // policy (round-14) exactly as in [[compactVersioned]]; time-based
    // retention keeps any version committed within the window even past
    // the count cutoff — TIMESTAMP AS OF resolves by the same commit
    // instant ([[commitInstantMs]]: durable `_COMMIT_TS` marker, mtime
    // fallback), so any timestamp in the window stays travelable,
    // including after a backup/copy/restore rewrites dir mtimes.
    val (polV, polH) = TableProps.retainPolicy(root)
    val effRetain =
      if (retainVersions >= 0) retainVersions else polV.getOrElse(0)
    val effHours =
      if (retainHours >= -1.0) retainHours else polH.getOrElse(-1.0)
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no published version under $root"))
    val cutoffMs: Option[Long] =
      if (effHours < 0) None
      else Some(System.currentTimeMillis() - (effHours * 3600 * 1000).toLong)
    def withinWindow(v: Long): Boolean = cutoffMs.exists(cut =>
      commitInstantMs(versionPath(root, v)) >= cut)
    val taggedPinned = listTags(root).values.toSet
    val evictCandidates =
      listVersions(root).filter(_ < cur).sorted.dropRight(effRetain)
        .filterNot(withinWindow).filterNot(taggedPinned)
    val stamps = evictCandidates.flatMap { ev =>
      val f = Paths.get(versionPath(root, ev), BatchIdFile)
      if (!Files.exists(f)) None
      else {
        val s = new String(Files.readAllBytes(f), "UTF-8").trim
        val i = s.lastIndexOf(':')
        if (i <= 0) None
        else s.drop(i + 1).toLongOption.map(id => (s.take(i), id))
      }
    }
    if (stamps.nonEmpty) TableProps.update(root) { props =>
      stamps.foldLeft(props) { case (p, (tag, id)) =>
        val key = TableStream.lastBatchKey(tag)
        val prev = p.get(key).flatMap(_.toLongOption).getOrElse(-1L)
        if (id > prev) p + (key -> id.toString) else p
      }
    }
    val copyinDirs = evictCandidates
      .map(ev => Paths.get(versionPath(root, ev), CopyinSidecar))
      .filter(Files.isDirectory(_))
    if (copyinDirs.nonEmpty) {
      val srcs = spark.read.parquet(copyinDirs.map(_.toString): _*)
        .select("src").collect().map(_.getString(0)).toSeq
      if (srcs.nonEmpty) TableProps.update(root)(p =>
        p ++ srcs.map(f => copyinPropKey(f) -> f))
    }
    val evicted = scala.collection.mutable.ArrayBuffer.empty[Long]
    withCommitLock(root) {
      val feedOk =
        try { reconcileFeedLocked(root); true }
        catch { case e: Exception =>
          System.err.println(s"[graft] feed reconcile before vacuum of $root " +
            s"failed — retaining all versions this pass: $e")
          false
        }
      // the live pointer may have MOVED since the pre-fold candidate
      // pass (a concurrent commit) — re-resolving under the lock keeps
      // "never touch the current version" exact, while intersecting
      // with the folded candidates keeps every deleted version's
      // durability metadata folded
      val curNow = currentVersion(root).getOrElse(cur)
      val below = listVersions(root).filter(_ < math.min(cur, curNow))
      val evict = if (feedOk) below.sorted.dropRight(effRetain)
                    .filterNot(withinWindow)
                    .filterNot(taggedPinned)
                    .filterNot(listTags(root).values.toSet)
                    .toSet.intersect(evictCandidates.toSet)
                  else Set.empty[Long]
      Fs.listDir(Paths.get(root)).foreach { p =>
        val name = p.getFileName.toString
        if (name.startsWith("v") && name.length > 1 && name.drop(1).forall(_.isDigit)
            && evict(name.drop(1).toLong)) {
          Fs.deleteRecursively(p)
          evicted += name.drop(1).toLong
        }
        else if (name.startsWith(".stage-") && stageOwnerDead(name))
          Fs.deleteRecursively(p)
      }
    }
    evicted.toSeq.sorted
  }

  /** Right-to-erasure purge (B179, the GDPR/CCPA operation): physically
    * remove every row matching `where` from the table — the LIVE version
    * AND all history — and PROVE it before returning.
    *
    * This is the one operation where MOR conveniences invert into
    * hazards: a deletion vector hides rows but keeps their bytes; a
    * retained version keeps last month's copy; a `_changes` sidecar
    * carries row payloads. So purge is three steps plus a proof:
    *
    *  1. Touched-file pass over the live version's RAW file contents
    *     (deliberately NOT the reconciling funnel: a row already
    *     MOR-deleted still has bytes in its file and must force the
    *     rewrite). Files with any matching byte are rewritten from their
    *     RECONCILED content (their DVs materialize away) minus the
    *     matching rows; every clean file carries by hardlink with its DV
    *     subtraction intact — O(affected files), the Delta
    *     `REORG … APPLY (PURGE)` shape, with no change feed emitted (a
    *     purge must not re-publish the purged payload; the CDF chain
    *     breaks here exactly as it does at RESTORE).
    *  2. History expiry: every version below the purged live is
    *     unlinked ([[expireVersions]] with zero retention — the
    *     per-table retention policy is deliberately NOT honored; purge
    *     is the legal override). Snapshot tags would pin copies, so
    *     purge REFUSES while any tag exists rather than silently
    *     keeping data.
    *  3. Staging-debris sweep rides the expiry (a crashed writer's
    *     stage dir could hold matching rows).
    *  4. Verification: one raw scan over every remaining data file under
    *     the live version asserting ZERO matching rows, plus the
    *     history-is-gone check — the method fails loudly rather than
    *     report a purge it cannot prove. (Run without concurrent
    *     writers: a commit racing the expiry fails this proof loudly —
    *     never silently.)
    *
    * Refusals (each with its remedy): snapshot tags (drop them first);
    * pending equality deletes (tombstones carry KEYS, which may be the
    * identifier being erased — `CALL system.compact` folds them away);
    * column-mapped or mixed-layout versions (compact first, same as
    * COW DML). Zero-copy CLONEs and WAP branches are SEPARATE table
    * roots hardlinking the same inodes — purge this table's clones
    * explicitly, exactly as with Delta shallow clones.
    *
    * Returns (rowsPurged, filesRewritten, versionsExpired, liveVersion).
    */
  def purgeWhere(spark: SparkSession, root: String, where: String): (Long, Int, Int, Long) = {
    import org.apache.spark.sql.functions.{col, expr, input_file_name, lit, not, coalesce}
    require(where.trim.nonEmpty, "purge requires a predicate")
    val tags = listTags(root)
    require(tags.isEmpty,
      s"purge cannot run while snapshot tags pin history (${tags.keys.mkString(", ")}) " +
        "— drop them first (CALL system.drop_tag)")
    val liveV = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no published version under $root"))
    val live = versionPath(root, liveV)
    EqDel.requireNone(live, "purge")
    require(!ColMap.exists(live),
      "purge cannot run on a column-mapped version — CALL system.compact " +
        "first to materialize the renames")
    require(!hasLayoutLegs(live),
      "purge cannot run on a mixed-layout version — CALL system.compact " +
        "first to materialize the partition evolution")
    val pred = expr(where)
    def decode(uri: String): String =
      try Paths.get(new java.net.URI(uri)).toString
      catch { case _: Exception => uri }
    def relOf(path: String): String = {
      val marker = live.stripSuffix("/") + "/"
      val i = path.indexOf(marker)
      require(i >= 0, s"purge: file $path is not under $live")
      path.substring(i + marker.length)
    }
    // RAW read of every data file (sidecars excluded by the walk),
    // explicit-file with basePath so partition-directory columns
    // reconstruct even next to the flat schema-anchor file, deletion
    // vectors deliberately NOT applied — a hidden row's bytes still
    // force the rewrite. The declared read schema pins partition types.
    def rawLive(dir: String): DataFrame = {
      val fs = Fs.walkParquet(Paths.get(dir)).map(_.toString)
      if (fs.isEmpty)
        return readCurrent(spark, root).limit(0)
      Transforms.dropHidden(spark.read.option("basePath", dir)
        .schema(snapshotSchema(spark, root, dir)).parquet(fs: _*))
    }
    val touchedAbs = rawLive(live).filter(pred).select(input_file_name())
      .distinct().collect().map(r => decode(r.getString(0))).toSeq
    val touched = touchedAbs.map(relOf).toSet
    var purgedRows = 0L
    if (touched.nonEmpty) {
      // reconciled content of ONLY the touched files (their DVs
      // materialize away here), minus the matching rows — DELETE
      // semantics: NULL-evaluating rows survive
      val reconciled = snapshotRead(spark, root, live, Some(touchedAbs.sorted))
      val survivors = reconciled.filter(not(coalesce(pred, lit(false))))
      // counted BEFORE the commit (the pre-purge reconciled state is
      // still readable) — O(touched files), the honest number a privacy
      // audit wants; note a row hidden by a DV counts as already deleted
      purgedRows = reconciled.filter(coalesce(pred, lit(false))).count()
      // layout selection mirrors the scoped compaction: declared
      // clustering wins, else stats columns, else partition columns
      val pcols = TableProps.partitionCols(root)
      val clusterCols = TableProps.clusterColumns(root)
      val statsLayoutCols = (Stats.sidecarCols(spark, live) ++
        TableProps.statsColumns(root) ++ clusterCols).distinct
        .filter(c => survivors.columns.exists(_.equalsIgnoreCase(c)))
      val nFiles = math.max(1, touched.size / 2)
      val rewritten =
        if (clusterCols.nonEmpty) clusterFrame(survivors, clusterCols, pcols, Some(nFiles))
        else if (statsLayoutCols.isEmpty && pcols.nonEmpty)
          survivors.repartition(nFiles, pcols.map(col): _*)
        else if (statsLayoutCols.isEmpty) survivors.repartition(nFiles)
        else survivors.repartitionByRange(nFiles, statsLayoutCols.map(col): _*)
          .sortWithinPartitions(statsLayoutCols.map(col): _*)
      stageLinkedPublish(rewritten, root, Some(liveV), Nil,
        emitFeed = false, batchTag = None,
        carry = rel => !touched(rel), opTag = "purge")
    }
    // history expiry ALWAYS runs — old versions may hold matching rows
    // even when the live version is already clean (deleted last week,
    // retained since). Zero retention, policy deliberately bypassed.
    val expired = expireVersions(spark, root,
      retainVersions = 0, retainHours = -1.0)
    // ---- the proof ----
    val newV = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"purge: table vanished under $root"))
    val leftover = listVersions(root).filterNot(_ == newV)
    require(leftover.isEmpty,
      s"purge verification failed: versions ${leftover.mkString(", ")} still " +
        s"present under $root (concurrent writer? tag added mid-purge?) — " +
        "re-run purge")
    val remaining = rawLive(versionPath(root, newV))
      .filter(pred).count()
    require(remaining == 0,
      s"purge verification failed: $remaining matching row(s) remain in " +
        s"v$newV of $root (concurrent writer?) — re-run purge")
    (purgedRows, touched.size, expired.size, newV)
  }

  /** True iff a `.stage-<pid>-<nano>` dir's owning process is provably
    * gone (crashed publish debris). Unparseable names or live pids are
    * conservatively kept.
    */
  private def stageOwnerDead(name: String): Boolean =
    name.stripPrefix(".stage-").takeWhile(_.isDigit).toLongOption.exists { pid =>
      pid != ProcessHandle.current().pid() && !ProcessHandle.of(pid).isPresent
    }

  /** Small-file compaction of a FLAT parquet directory, in place.
    * Streaming sinks and fine-grained backfills accrete thousands of tiny
    * files; at 100 TB the resulting scan-planning and open() overhead
    * dominates reads, so periodic compaction is table maintenance, not an
    * optimization. Sizing comes from the files' on-disk footprint (no
    * extra scan of the data).
    *
    * Durability contract: the rewrite lands in `<path>.compact_tmp`, then
    * the live dir is swapped via two POSIX renames. A crash between the
    * renames is recoverable — the previous data survives intact in
    * `<path>.compact_old`, and the next `compact` call restores it before
    * doing anything else. For a no-gap swap (concurrent readers), use the
    * versioned layout ([[publishVersioned]]/[[compactVersioned]]) — a
    * directory rename cannot be made atomic for readers, least of all on
    * object stores.
    *
    * Partitioned (nested-directory) datasets are rejected: a flat rewrite
    * would silently drop the partitioning (and the top-level byte count
    * would be 0). Compact partitioned tables per-partition or via the
    * versioned layout.
    */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val dir = Paths.get(path)
    val bak = Paths.get(path + ".compact_old")
    // crash recovery: a previous run that died between the two renames
    // left the data in .compact_old and no live dir — restore first. A
    // backup ALONGSIDE a live dir is debris from a crash after the swap
    // completed but before cleanup — drop it, or the rename below would
    // fail forever on the existing target.
    if (!Files.exists(dir) && Files.exists(bak))
      Files.move(bak, dir, StandardCopyOption.ATOMIC_MOVE)
    else if (Files.exists(dir) && Files.exists(bak))
      Fs.deleteRecursively(bak)
    val entries = Fs.listDir(dir)
    val nested = entries.filter(p => Files.isDirectory(p))
    require(nested.isEmpty,
      s"compact() requires a flat parquet directory; $path contains " +
        s"subdirectories (${nested.take(3).map(_.getFileName).mkString(", ")}…) — " +
        "use compactVersioned or per-partition compaction for partitioned tables")
    val nFiles = fileCount(dir, targetBytes)
    val tmp = path + ".compact_tmp"
    spark.read.parquet(path).repartition(nFiles)
      .write.mode("overwrite").parquet(tmp)
    Files.move(dir, bak, StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(tmp), dir, StandardCopyOption.ATOMIC_MOVE)
    Fs.deleteRecursively(bak)
  }

  /** ceil(total parquet bytes / target), from file metadata only. */
  private[ops] def fileCount(dir: Path, targetBytes: Long): Int = {
    // recursive: partitioned versions nest data files under col=val/ dirs
    val totalBytes = Fs.walkParquet(dir).map(Files.size).sum
    math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
  }
}
