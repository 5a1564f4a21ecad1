package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Merge-on-read DML (deletion vectors): the positioned live scan,
  * the shared O(delta) vector commit, and the DELETE/UPDATE writers.
  *
  * One seam of [[Sinks]] (round-13 split of a 2.9k-line object:
  * pure member motion, zero behavior change — `Sinks.<member>`
  * call sites are untouched because the object mixes this in).
  */
private[graft] trait SinksMor { this: Sinks.type =>

  /** Merge-on-read DELETE (B135): record the row POSITIONS matching
    * `cond` in the live version's `_dv` deletion-vector sidecar and
    * commit with every data file carried by hardlink — commit cost is
    * O(matched rows + existing vector), zero data bytes rewritten. The
    * COW worst case this exists for: a predicate matching 0.1% of rows
    * spread across every file rewrites the whole table under B114;
    * here it writes one small sidecar. Readers subtract the vector at
    * scan time ([[snapshotRead]], [[graft.plans.DvReadRule]]); `CALL
    * system.compact` purges it into files. The commit emits the deleted
    * rows as its `_changes` feed (only NEWLY deleted rows — re-matching
    * an already-deleted row is a no-op), so CDC consumers and replicas
    * see the same delta a COW delete would have produced.
    *
    * `cond` must reference table columns by NAME (the frame it filters
    * is a fresh scan of the live version). NULL condition values keep
    * the row — the same three-valued semantics as SQL DELETE.
    */
  /** The live version's rows with their deletion-vector positions
    * exposed (`_dv_key`, `_dv_pos`) and the existing vector already
    * subtracted — the frame every merge-on-read writer filters.
    */
  private[graft] def liveWithPositions(spark: SparkSession, root: String,
      dir: String): DataFrame = {
    require(Dv.safeDir(dir),
      s"merge-on-read DML requires a URI-transparent table path, got $dir" +
        " — use copy-on-write DML for this table")
    // the shared scan base: one frame over every layout leg (legs union
    // under their own specs after a metadata-only evolution; flat
    // versions read exactly as before) with `_metadata` as its last
    // column — so DV keys stay version-dir-relative in both shapes
    val base = scanVersion(spark, root, dir)
    import org.apache.spark.sql.functions.col
    // metadata-only renames: callers (and their conditions/assignments)
    // speak LOGICAL names; the scan's columns are PHYSICAL — alias in
    // the same projection that keeps `_metadata` (a later select
    // would lose the metadata struct)
    val colmap = ColMap.load(dir)
    val physToLogical = colmap.map { case (l, p) => p.toLowerCase -> l }
    val dataCols = base.columns.toIndexedSeq.filterNot(_ == "_metadata")
    val cols = dataCols.map(c => physToLogical.getOrElse(c.toLowerCase, c))
    Dv.requireNoReserved(cols, s"merge-on-read DML on $root")
    val positioned = base
      .select((dataCols.map(c =>
        col(s"`$c`").as(physToLogical.getOrElse(c.toLowerCase, c))) :+
        col("_metadata")): _*)
      .withColumn("_dv_key", Dv.relKey(dir))
      .withColumn("_dv_pos", col("_metadata.row_index"))
      .drop("_metadata")
    // pending equality deletes hide rows from the WRITER's scan too —
    // a MOR UPDATE matching a tombstoned row must not resurrect an
    // updated copy of it (round-14)
    val eqApplied =
      if (!EqDel.exists(dir)) positioned
      else EqDel.subtractByKey(positioned, dir, col("_dv_key"))
    // join-free existing-vector subtraction, same path as the read side
    // (Dv.subtract) — the writer's scan stays Exchange-free too, with
    // the same oversized-vector anti-join fallback
    Dv.subtractByKey(eqApplied, dir, col("_dv_key"), col("_dv_pos"))
  }

  /** The merge-on-read commit every DV writer shares: merge
    * `vectorDelta` (positions leaving the live set) into the existing
    * vector, land `newRows` as the commit's only new data files, carry
    * everything else by hardlink, and ride `feed` as the `_changes`
    * sidecar — one atomic commit.
    */
  private[graft] def morPublish(spark: SparkSession, root: String,
      expected: Long, newRows: DataFrame, vectorDelta: DataFrame,
      feed: DataFrame, skipDataWrite: Boolean = false): Long = {
    // O(delta) vector commit: encode ONLY this commit's positions as
    // per-file roaring bitmaps ([[Dv.deltaBitmaps]]); the existing
    // vector parts are carried by hardlink and OR-merged at read time —
    // under heavy delete churn each commit writes O(matched) sidecar
    // bytes, never the cumulative vector (round-9 verdict item 1)
    stageLinkedPublish(newRows, root, Some(expected), Nil,
      emitFeed = false, batchTag = None, carry = _ => true,
      skipDataWrite = skipDataWrite, changeFeedDf = Some(feed),
      dvDelta = Some(Dv.deltaBitmaps(vectorDelta)), opTag = "mor-dml",
      // auto-rebase on file-granular disjointness: the touched-key set
      // is O(files the predicate matched), computed ONLY on the rebase
      // path (never on the happy path)
      rebase = MorRebase(() =>
        vectorDelta.select(org.apache.spark.sql.functions.col("file"))
          .distinct().collect().map(_.getString(0)).toSet))
  }

  def deleteVector(spark: SparkSession, root: String, cond: Column): Long = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no published version under $root"))
    val dir = versionPath(root, cur)
    val live = liveWithPositions(spark, root, dir)
    val cols = live.columns.filterNot(_.startsWith("_dv_")).toSeq
    import org.apache.spark.sql.functions.{coalesce, lit, col => c}
    val matched = live.filter(coalesce(cond, lit(false)))
    val delta = matched.select(c("_dv_key").as("file"), c("_dv_pos").as("row_index"))
    val feed = matched.select(cols.map(c).toIndexedSeq: _*)
      .withColumn("_change_type", lit("delete"))
    morPublish(spark, root, cur, live.limit(0).select(cols.map(c).toIndexedSeq: _*),
      delta, feed, skipDataWrite = true)
  }

  /** Merge-on-read UPDATE (B136): the DV composition of delete+insert —
    * matched rows' OLD positions join the `_dv` vector (their files
    * carried untouched by hardlink) while their UPDATED copies land as
    * the commit's only new files. Commit cost is O(matched rows +
    * existing vector): a predicate matching a handful of rows per file
    * across a 100 TB table moves those rows, not the table. Readers
    * need no new machinery — the same scan-time subtraction hides the
    * old copies, and the new copies are ordinary data files (a
    * partition-value-changing assignment just lands the copy in its new
    * directory). The commit's `_changes` feed carries the full
    * update_preimage/update_postimage pairs.
    *
    * `assignments` maps top-level column names to replacement
    * expressions (evaluated against the matched rows); `cond` uses the
    * same NAME-bound, NULL-keeps-row semantics as [[deleteVector]].
    */
  def updateVector(spark: SparkSession, root: String, cond: Column,
      assignments: Map[String, Column],
      validate: DataFrame => DataFrame = identity): Long = {
    require(assignments.nonEmpty, "updateVector requires at least one assignment")
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no published version under $root"))
    val dir = versionPath(root, cur)
    val live = liveWithPositions(spark, root, dir)
    val cols = live.columns.filterNot(_.startsWith("_dv_")).toSeq
    assignments.keys.foreach(k => require(
      cols.exists(_.equalsIgnoreCase(k)),
      s"assignment targets unknown column $k (have ${cols.mkString(", ")})"))
    import org.apache.spark.sql.functions.{coalesce, lit, col => c}
    val matched = live.filter(coalesce(cond, lit(false)))
    val delta =
      matched.select(c("_dv_key").as("file"), c("_dv_pos").as("row_index"))
    def toCols(df: DataFrame) = df.select(cols.map(c).toIndexedSeq: _*)
    val updated = toCols(matched.select(cols.map { n =>
      assignments.collectFirst {
        case (k, v) if k.equalsIgnoreCase(n) => v.as(n)
      }.getOrElse(c(n))
    }.toIndexedSeq: _*))
    val feed = toCols(matched).withColumn("_change_type", lit("update_preimage"))
      .unionByName(updated.withColumn("_change_type", lit("update_postimage")))
    // `validate` wraps the frame that is WRITTEN (CHECK-constraint
    // enforcement from the catalog tier rides here) — a failing row
    // aborts the staged write before any commit move
    morPublish(spark, root, cur, validate(updated), delta, feed)
  }
}
