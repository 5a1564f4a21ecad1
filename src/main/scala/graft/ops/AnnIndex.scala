package graft.ops

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF index: the ANN index as a versioned TABLE (SURVEY
  * B125), extending the in-session IVF path (B62) with build-once /
  * probe-many semantics.
  *
  * Layout: the index root is an ordinary [[Sinks]] versioned table,
  * declared `PARTITIONED BY (bucket BIGINT)` before the first publish —
  * every corpus row lands under its coarse-quantizer bucket's partition
  * directory, and the quantizer itself (the centroid table, a few KB) is
  * persisted as a `_centroids` sidecar inside the same version dir. The
  * index therefore inherits the whole table tier for free: OCC commits,
  * time travel to previous index builds, compaction, vacuum.
  *
  * Probe shape at scale: [[search]] broadcasts the centroid sidecar,
  * ranks probe buckets per query over that tiny table only, and joins
  * the probed (query, bucket) set back to the index scan ON THE
  * PARTITION COLUMN — Spark's dynamic partition pruning then skips every
  * unprobed bucket directory at runtime (AnnIndexSpec plan-asserts the
  * dynamicpruning filter), so a probe reads `nprobe/k` of the corpus
  * from disk rather than scanning and discarding. In-bucket scoring
  * rides the bounded-heap top-k aggregate ([[Similarity.ivfTopK]]), so
  * the shuffle never carries scored corpus rows.
  *
  * Crash contract: the `_centroids` sidecar is staged INSIDE the data
  * commit ([[Sinks.publishVersioned]]'s `sidecars`), so data and
  * quantizer become visible in one atomic rename — a committed index
  * version without its required quantizer cannot exist. [[search]]
  * still fails loudly if the sidecar is absent (an index built before
  * this contract, a hand-damaged directory) instead of probing with
  * wrong centroids; rebuild with [[buildFixed]]/[[buildLearned]] to
  * repair. Assignments must match the persisted quantizer exactly,
  * which is why centroids are stored rather than re-derived from the
  * assignments (re-deriving computes the NEXT Lloyd iteration's means,
  * not the ones the assignment used).
  */
object AnnIndex {

  val CentroidsSidecar = "_centroids"

  /** Build from a precomputed assignment column (e.g. the fixture
    * `label`): bucket = `corpus(assignCol)`, quantizer = per-bucket mean
    * vectors — the deterministic, oracle-able path (B62's
    * `ivfCentroids` contract).
    */
  def buildFixed(spark: SparkSession, corpus: DataFrame, root: String,
      assignCol: String = "label"): Long = {
    val cents = Similarity.meanByCluster(corpus, assignCol).localCheckpoint()
    publish(spark, corpus.withColumn("bucket", col(assignCol).cast("long")),
      cents, root)
  }

  /** Build with a learned spherical-k-means quantizer: bucket = nearest
    * centroid per row ([[Similarity.assignClusters]] — broadcast
    * centroid array, no row blowup).
    */
  def buildLearned(spark: SparkSession, corpus: DataFrame, root: String,
      k: Int, iters: Int): Long = {
    val cents = Similarity.kmeansCentroids(corpus, k, iters) // checkpointed per iter
    val assigned = Similarity.assignClusters(corpus, cents)
      .filter(col("cluster") >= 0) // null/zero-norm rows are unindexable
      .withColumn("bucket", col("cluster"))
    publish(spark, assigned, cents, root)
  }

  private def publish(spark: SparkSession, assigned: DataFrame,
      cents: DataFrame, root: String, extraCols: Seq[String] = Nil,
      extraSidecars: Seq[(String, DataFrame)] = Nil): Long = {
    TableProps.update(root) { m =>
      m + (TableProps.PartitionKey -> "bucket BIGINT")
    }
    // one shuffle by bucket so each partition dir gets few files (every
    // task writing every bucket would fan n_tasks × k small files)
    val rows = assigned.select(
        (Seq("vec_id", "embedding") ++ extraCols :+ "bucket").map(col): _*)
      .repartition(col("bucket"))
    // the quantizer rides INSIDE the staged commit (same contract as
    // _stats/_bloom): data and centroids become visible in ONE atomic
    // rename, so the crash window where an index committed without its
    // required quantizer CANNOT exist — [[search]]'s loud-failure path
    // remains only for pre-round-9 indexes
    Sinks.publishVersioned(rows, root, Sinks.currentVersion(root),
      sidecars = (CentroidsSidecar -> cents) +: extraSidecars)
  }

  /** As [[buildFixed]], with SQ8 in-bucket compression (round-9 verdict
    * item 7): each row additionally stores its symmetric-int8 code
    * (`qcodes: array<tinyint>`, 1 byte/dim vs 4 for the float — the
    * [[graft.functions.Vec.quantizeInt8]] form q_quantize_roundtrip
    * oracles) and its reconstruction scale. [[searchSq8]] then scores
    * probes on the CODES column and re-ranks only a shortlist from the
    * floats; because both columns live in the same parquet files, column
    * pruning makes the approx pass read ~1/4 the bytes per probed
    * bucket — the probe-IO lever at 100 TB (a PQ codebook would cut
    * further; SQ8 keeps the oracle exact and the machinery engine-local).
    */
  def buildFixedSq8(spark: SparkSession, corpus: DataFrame, root: String,
      assignCol: String = "label"): Long = {
    val cents = Similarity.meanByCluster(corpus, assignCol).localCheckpoint()
    val q = graft.functions.Vec.quantizeInt8(col("embedding"))
    publish(spark,
      corpus.withColumn("bucket", col(assignCol).cast("long"))
        .withColumn("_q", q)
        .withColumn("qscale", col("_q.scale"))
        // [-127,127] codes fit a signed byte exactly
        .withColumn("qcodes", transform(col("_q.codes"), c => c.cast("byte"))),
      cents, root, extraCols = Seq("qscale", "qcodes"))
  }

  /** As [[buildFixed]], with TRUE product-quantization codes (round-9
    * verdict item 4; [[Pq]]): each row additionally stores its M-byte
    * PQ code (`pqcodes: array<tinyint>`, one byte per subspace — 32×
    * smaller than the float column at M=8 over 64 dims, a further 4×
    * under SQ8), and the per-subspace codebooks ride the commit as the
    * `_pq` sidecar next to the coarse quantizer. [[searchPq]] scores
    * stage 1 entirely on the codes (column-pruned scan + the codegen'd
    * ADC gather) and exact-reranks a shortlist from the floats, so the
    * answer stays identical to [[search]] — q_ann_pq_codebook shares
    * the flat oracle.
    */
  def buildFixedPq(spark: SparkSession, corpus: DataFrame, root: String,
      assignCol: String = "label", m: Int = 8, k: Int = 16,
      iters: Int = 10, sampleN: Int = 16384): Long = {
    val cents = Similarity.meanByCluster(corpus, assignCol).localCheckpoint()
    val withUnit = corpus.withColumn("_unit", Pq.unit(col("embedding")))
      .filter(col("_unit").isNotNull)
    // bounded deterministic sample for codebook training (see [[Pq]])
    val samples = withUnit.orderBy("vec_id").limit(sampleN)
      .select("_unit").collect().map(_.getSeq[Double](0).toArray)
    val books = Pq.train(samples, m, k, iters)
    publish(spark,
      withUnit.withColumn("bucket", col(assignCol).cast("long"))
        .withColumn("pqcodes", Pq.encodeCol(col("_unit"), books)),
      cents, root, extraCols = Seq("pqcodes"),
      extraSidecars = Seq(Pq.Sidecar -> Pq.toFrame(spark, books)))
  }

  /** The PQ approx pass (stage 1 of [[searchPq]]), exposed for the
    * spec's ReadSchema assert: the scan must read `pqcodes`, never the
    * float `embedding`. Scoring is the codegen'd ADC gather over a
    * per-query LUT attached to the (broadcast) probed-query rows.
    */
  private[graft] def pqShortlist(spark: SparkSession, root: String,
      queries: DataFrame, nprobe: Int, shortlist: Int): DataFrame = {
    import org.apache.spark.sql.graft.ExprBridge
    val books = pqBooksDecoded(spark, root)
    val codes = Sinks.readCurrent(spark, root)
      .withColumnRenamed("bucket", "label")
      .select(col("label"), col("vec_id"), col("pqcodes"))
    val probed = probeLive(spark, root, queries, nprobe)
      .withColumn("lut", Pq.lutCol(Pq.unit(col("qvec")), books))
    Similarity.topKPerQuery(
      codes.join(broadcast(probed), Seq("label"))
        .select(col("label"), col("query_id"), col("vec_id"),
          ExprBridge.column(graft.functions.PqAdc(
            ExprBridge.expr(col("pqcodes")),
            ExprBridge.expr(col("lut")))).as("cos_sim"))
        .observe(obsName("pq.stage1"),
          count(lit(1)).as("candidates"),
          approx_count_distinct(col("label")).as("probed_buckets")),
      shortlist)
  }

  /** Two-stage PQ search against a [[buildFixedPq]] index: ADC-rank a
    * shortlist per query on the M-byte codes, then EXACT-rerank those
    * candidates from the float vectors — value-identical to [[search]]
    * with a shortlist comfortably above k (PQ cosine error at M=8/K=16
    * is larger than SQ8's, hence the deeper 16k default shortlist;
    * AnnIndexSpec pins equality and the stage-1 recall floor).
    */
  def searchPq(spark: SparkSession, root: String, queries: DataFrame,
      nprobe: Int, k: Int, shortlist: Int = 0): DataFrame = {
    val sl = if (shortlist > 0) shortlist else math.max(16 * k, 128)
    val short = pqShortlist(spark, root, queries, nprobe, sl)
      .select(col("query_id"), col("vec_id"))
      .observe(obsName("pq.shortlist"), count(lit(1)).as("shortlist_rows"))
      .join(queries, "query_id")
    Similarity.topKPerQuery(
      rerankScan(spark, root, queries, nprobe)
        .join(broadcast(short), Seq("vec_id"))
        .select(col("query_id"), col("vec_id"),
          graft.functions.Vec.cosine6Native(col("embedding"), col("qvec")).as("cos_sim"))
        .observe(obsName("pq.rerank"), count(lit(1)).as("rerank_candidates")),
      k)
  }

  /** The exact-rerank scan of stage 2, restricted to the PROBED buckets.
    *
    * Every shortlist candidate lives in a bucket stage 1 probed, so a
    * semi-join on the partition column is value-preserving — and because
    * `bucket` IS the partition column and the probed set is broadcast,
    * dynamic partition pruning skips every unprobed bucket directory at
    * the scan, exactly like stage 1. Without this restriction the join
    * on `vec_id` alone cannot prune, and the rerank reads the float
    * `embedding` column of the ENTIRE index — at 100 TB that one scan
    * negates the whole code-compression win (the round-10 verdict's
    * weak flag on B130/B143). AnnIndexSpec plan-asserts that the scan
    * reading `embedding` carries a `dynamicpruning` partition filter in
    * both code paths.
    */
  private def rerankScan(spark: SparkSession, root: String,
      queries: DataFrame, nprobe: Int): DataFrame = {
    val probed = probeLive(spark, root, queries, nprobe)
      .select(col("label")).distinct()
    Sinks.readCurrent(spark, root)
      .withColumnRenamed("bucket", "label")
      .join(broadcast(probed), Seq("label"))
      .select(col("vec_id"), col("embedding"))
  }

  // The DECODED quantizer (label → centroid, sorted by label) of index
  // version dir `live`: collecting the few-KB sidecar once per version
  // removes the per-search centroid-side stages outright — see
  // [[probeLive]]. The caller resolves once and the value is read from
  // that same dir, so a concurrent rebuild can never file one version's
  // quantizer under another's key.
  private val centroidArrMemo = new VersionMemo[Seq[(Long, Seq[Double])]](256)
  private[graft] def centroidsDecoded(spark: SparkSession,
      live: String): Seq[(Long, Seq[Double])] = {
    val p = centroidsDir(live) // existence / loud-failure contract first
    centroidArrMemo(spark, Seq(p)) {
      spark.read.parquet(p)
        .select(col("label").cast("long"),
          col("centroid").cast("array<double>"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
        .sortBy(_._1).toSeq
    }
  }

  /** Per-query probe-bucket ranking against the LIVE persisted
    * quantizer — the stage-collapsed twin of
    * [[Similarity.probeBuckets]] for the serving paths: the decoded
    * centroid table rides as ONE literal (collected once per version
    * dir, memoized like the PQ codebook), each query row scores and
    * ranks it in a single row-local expression, and the nprobe winners
    * explode out. Value-identical to the window form — same cosine,
    * same (c_sim DESC, label ASC) order with NULLS LAST, same
    * fewer-buckets-than-nprobe behavior (AnnIndexSpec pins the parity)
    * — but the probe subtree plans with NO exchange at all: the window
    * form paid a broadcast of the centroid sidecar plus a hash
    * exchange + sort + WindowExec per probe surface (the two-stage
    * searches run TWO of them), which at sub-second serving latency
    * was pure AQE stage-wave coordination (the driver's 32-core
    * q_ann_index ran SLOWER than its 8-core leg). The centroid table
    * is metadata-scale by construction (a coarse quantizer is KBs at
    * any corpus size), so the literal is bounded the same way the
    * broadcast it replaces was.
    */
  private[graft] def probeLive(spark: SparkSession, root: String,
      queries: DataFrame, nprobe: Int): DataFrame = {
    val cents = typedLit(centroidsDecoded(spark, Sinks.resolve(root)))
    // (sort key, label) per centroid: ascending struct order ==
    // (c_sim DESC NULLS LAST, label ASC) — cosine is in [-1, 1], so a
    // null (zero-norm centroid) maps past every real score
    val ranked = sort_array(transform(cents, c => struct(
      coalesce(-graft.functions.Vec.cosine6Native(col("qvec"),
        c.getField("_2")), lit(2.0)).as("nk"),
      c.getField("_1").as("label"))))
    queries.select(col("query_id"), col("qvec"),
        explode(slice(ranked, 1, nprobe)).as("p"))
      .select(col("query_id"), col("qvec"), col("p.label").as("label"))
  }

  // The DECODED codebook array of the live version: without the memo
  // every searchPq call paid one collect job at plan-construction time
  // — pure driver latency in the probe-many serving pattern.
  private val pqBooksMemo = new VersionMemo[Array[Array[Array[Double]]]](256)
  private def pqBooksDecoded(spark: SparkSession,
      root: String): Array[Array[Array[Double]]] = {
    val p = pqBooksDir(Sinks.resolve(root))
    pqBooksMemo(spark, Seq(p))(Pq.fromFrame(spark.read.parquet(p)))
  }

  private def pqBooksDir(live: String): String = {
    val p = s"$live/${Pq.Sidecar}"
    require(Files.isDirectory(Paths.get(p)),
      s"no ${Pq.Sidecar} under $live — not a PQ index; build with " +
        "AnnIndex.buildFixedPq")
    p
  }

  /** The SQ8 approx pass (stage 1 of [[searchSq8]]), exposed so the spec
    * can plan-assert that its scan reads the CODES column and NOT the
    * float embeddings. Cosine is scale-invariant, so the per-row scale
    * never participates in scoring — codes alone rank the shortlist.
    */
  private[graft] def sq8Shortlist(spark: SparkSession, root: String,
      queries: DataFrame, nprobe: Int, shortlist: Int): DataFrame = {
    val codes = Sinks.readCurrent(spark, root)
      .withColumnRenamed("bucket", "label")
      .select(col("label"), col("vec_id"), col("qcodes"))
    val probed = probeLive(spark, root, queries, nprobe)
    Similarity.topKPerQuery(
      codes.join(broadcast(probed), Seq("label"))
        .select(col("label"), col("query_id"), col("vec_id"),
          graft.functions.Vec.cosine6Native(col("qcodes"), col("qvec")).as("cos_sim"))
        .observe(obsName("sq8.stage1"),
          count(lit(1)).as("candidates"),
          approx_count_distinct(col("label")).as("probed_buckets")),
      shortlist)
  }

  /** Two-stage SQ8 search against a [[buildFixedSq8]] index: rank a
    * `shortlist`-deep candidate set per query on the int8 codes (cheap
    * bytes, column-pruned scan, same dynamic bucket pruning as
    * [[search]]), then EXACT-rerank only those candidates from the float
    * vectors — with a shortlist comfortably above k, the result is
    * value-identical to [[search]] (q_ann_pq shares q_ann_index's
    * oracle; AnnIndexSpec asserts equality outright). Default shortlist
    * = max(8k, 64): int8 cosine error is ~1e-2, vastly smaller than
    * typical top-k score gaps at that depth.
    */
  def searchSq8(spark: SparkSession, root: String, queries: DataFrame,
      nprobe: Int, k: Int, shortlist: Int = 0): DataFrame = {
    val sl = if (shortlist > 0) shortlist else math.max(8 * k, 64)
    val short = sq8Shortlist(spark, root, queries, nprobe, sl)
      .select(col("query_id"), col("vec_id"))
      .observe(obsName("sq8.shortlist"), count(lit(1)).as("shortlist_rows"))
      .join(queries, "query_id") // re-attach qvec (queries are broadcast-small)
    Similarity.topKPerQuery(
      rerankScan(spark, root, queries, nprobe)
        .join(broadcast(short), Seq("vec_id"))
        .select(col("query_id"), col("vec_id"),
          graft.functions.Vec.cosine6Native(col("embedding"), col("qvec")).as("cos_sim"))
        .observe(obsName("sq8.rerank"), count(lit(1)).as("rerank_candidates")),
      k)
  }

  /** Index maintenance: split OVERSIZED buckets in place, at
    * O(hot buckets) — never O(index). Streaming ingestion and skewed
    * corpora concentrate rows in a few coarse cells over time, and a
    * hot bucket is pure probe-cost poison: every query whose ranking
    * touches it scans its whole directory. Any bucket holding more
    * than `factor` × the mean row count is re-quantized with k=2
    * spherical k-means over ITS rows only (fixed `iters`, `roundDp`
    * centroid rounding — the deterministic Lloyd's of
    * [[Similarity.kmeansCentroids]]); one half keeps the bucket id,
    * the other takes a fresh id above the current max, and the
    * quantizer sidecar swaps the split centroid for the two halves'
    * actual means — all in ONE linked commit: untouched bucket dirs
    * carry by hardlink, only split buckets' rows rewrite, and data +
    * new quantizer become visible atomically (the same contract as the
    * build). Code columns (`qcodes`/`pqcodes`) are bucket-independent
    * and carry as data, so SQ8/PQ indexes split without re-encoding.
    * Returns the committed version, or the CURRENT version untouched
    * when no bucket exceeds the threshold (no empty commit).
    */
  def splitBuckets(spark: SparkSession, root: String, factor: Double = 2.0,
      iters: Int = 5, roundDp: Int = 6): Long = {
    require(factor > 1.0, s"split factor must be > 1, got $factor")
    val expected = Sinks.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no published index under $root"))
    val dir = Sinks.versionPath(root, expected)
    Dv.requireNone(dir, "ANN bucket split")
    val cur = Sinks.readCurrent(spark, root)
    // bucket histogram — metadata-scale (one row per bucket)
    val sizes = cur.groupBy("bucket").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    val mean = sizes.map(_._2).sum.toDouble / math.max(sizes.size, 1)
    val hot = sizes.collect { case (b, n) if n > factor * mean && n >= 2 => b }
    if (hot.isEmpty) return expected
    var nextId = sizes.map(_._1).max + 1
    val cents = centroids(spark, root)
    // 2-means seeds come from EACH BUCKET'S OWN rows — its min and max
    // vec_id, one metadata-scale aggregate over the hot buckets only.
    // (Global vec_id < 2 seeding is wrong here: a hot bucket rarely
    // holds ids 0/1, so the split would find 0-1 seeds and either keep
    // every row or relabel the whole bucket — no progress, and every
    // later CALL would rewrite the same hot bucket again.)
    val seedsByBucket = cur.filter(col("bucket").isin(hot: _*))
      .groupBy(col("bucket"))
      .agg(min(col("vec_id")).as("lo"), max(col("vec_id")).as("hi"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // per hot bucket: 2-means over its rows (partition pruning makes
    // each pass scan ONE bucket dir), relabel the halves, mean vectors.
    // A bucket whose 2-means collapses to one centroid (all-identical
    // vectors, or one seed after dedup) CANNOT split — carry it
    // untouched instead of rewriting it to no effect every call.
    val splits = hot.flatMap { b =>
      val (lo, hi) = seedsByBucket(b)
      if (lo == hi) None // a single distinct vec_id can never split
      else {
        val rows = cur.filter(col("bucket") === b)
        val two = Similarity.kmeansCentroidsSeeded(
          rows.select(col("vec_id"), col("embedding")), Seq(lo, hi),
          iters, roundDp)
        // tiny frame (<= 2 rows): a collapsed clustering means no split
        if (two.count() < 2) None
        else {
          val freshId = nextId; nextId += 1
          val assigned = Similarity.assignClusters(rows.drop("bucket"), two)
            .withColumn("bucket",
              when(col("cluster") === 0, lit(b)).otherwise(lit(freshId)))
            .drop("cluster")
          val halves = Similarity.meanByCluster(
            assigned.withColumnRenamed("bucket", "label"), "label")
          Some((b, assigned, halves))
        }
      }
    }
    if (splits.isEmpty) return expected
    val rewrites = splits.map(_._2)
    val replacements = splits.map(_._3)
    val rewritten = rewrites.reduce(_ unionByName _)
    val hotSet = splits.map(_._1).toSet
    // only SPLIT buckets swap their centroid; a skipped hot bucket
    // (unsplittable) keeps its original quantizer entry
    val newCents = cents.filter(!col("label").isin(hotSet.toSeq: _*))
      .unionByName(replacements.reduce(_ unionByName _))
      .localCheckpoint() // tiny; pin before the commit swaps the sidecar
    Sinks.stageLinkedPublish(
      Sinks.alignToLive(rewritten, root, Some(expected)), root, Some(expected),
      statsCols = Nil, emitFeed = false, batchTag = None,
      carry = rel => {
        val dirName = rel.takeWhile(_ != '/')
        !(dirName.startsWith("bucket=") &&
          dirName.stripPrefix("bucket=").toLongOption.exists(hotSet))
      },
      opTag = "rebucket",
      replaceSidecars = Seq(CentroidsSidecar -> newCents))
  }

  /** Append new vectors to the live index at O(delta): assign against
    * the PERSISTED quantizer — old and new rows must agree on the
    * bucketing scheme, so the stored centroids are authoritative, never
    * re-derived — then linked-append the bucketed rows through
    * [[Sinks.appendVersioned]]: existing bucket files carry by hardlink,
    * the quantizer sidecar rides along, and the partition layout comes
    * from the table's own `_PROPS`. Rows with null/zero-norm embeddings
    * are unindexable and dropped, same as the build paths.
    */
  def append(spark: SparkSession, newRows: DataFrame, root: String): Long = {
    val cents = centroids(spark, root)
    val assigned = Similarity.assignClusters(newRows, cents)
      .filter(col("cluster") >= 0)
      .select(col("vec_id"), col("embedding"),
        col("cluster").cast("long").as("bucket"))
    Sinks.appendVersioned(assigned, root, Sinks.currentVersion(root))
  }

  /** Exactly-once streaming ingestion into the live index: each
    * micro-batch assigns against the persisted quantizer and
    * linked-appends through [[TableStream.streamTo]]'s per-batch dedupe
    * stamps (restart-safe, CME-retried against concurrent writers). The
    * quantizer is re-read per batch — cheap (a few KB), and it makes a
    * mid-stream rebuild behave correctly: batches after the rebuild
    * file under the NEW scheme, whose version already re-filed every
    * older row. The index must exist before streaming starts
    * ([[buildFixed]]/[[buildLearned]]) — there is no quantizer to
    * assign against otherwise, and [[centroids]] fails loudly.
    */
  def streamTo(stream: DataFrame, root: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    centroids(stream.sparkSession, root) // fail at start, not first batch
    TableStream.streamTo(stream, root, checkpoint, emitFeed = false,
      transform = batch => {
        val cents = centroids(batch.sparkSession, root)
        Similarity.assignClusters(batch, cents)
          .filter(col("cluster") >= 0)
          .select(col("vec_id"), col("embedding"),
            col("cluster").cast("long").as("bucket"))
      })
  }

  /** The persisted quantizer of the LIVE index version. */
  def centroids(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(centroidsDir(Sinks.resolve(root)))

  /** The quantizer sidecar of index version dir `live`, failing loudly
    * when it is missing.
    */
  private def centroidsDir(live: String): String = {
    val p = s"$live/$CentroidsSidecar"
    require(Files.isDirectory(Paths.get(p)),
      s"no $CentroidsSidecar under $live — index incomplete (crash between " +
        "commit and quantizer write?); rebuild with AnnIndex.buildFixed/buildLearned")
    p
  }

  /** Search observability (round-14): every `search*` attaches an
    * `observe()` metrics node — the Spark-native channel a 100 TB
    * operator already harvests (QueryExecutionListener / streaming
    * progress) — reporting the probe's actual IO shape per executed
    * query: `candidates` (in-bucket rows scored — the bytes the probe
    * really read after dynamic partition pruning), `probed_buckets`
    * (approx-distinct buckets opened; over n_buckets total it is the
    * probed fraction), and for the two-stage paths `shortlist_rows` /
    * `rerank_candidates` (stage-2 exact-scoring volume). Metric names
    * are uniqued per call (`graft.ann.search#<n>`) because Spark
    * refuses duplicate observation names inside one query — a plan
    * composing two searches must not fail; read them back via
    * `df.queryExecution.observedMetrics` keyed by prefix. The nodes sit
    * ABOVE the bucket join, so scan-side pruning (DPP, column pruning)
    * is untouched — AnnIndexSpec's plan asserts still hold.
    */
  private val obsId = new java.util.concurrent.atomic.AtomicLong(0L)
  private def obsName(op: String): String = s"graft.ann.$op#${obsId.incrementAndGet()}"

  /** The observed metrics of an executed search, keyed by metric-name
    * PREFIX (`graft.ann.search`, `graft.ann.sq8`, `graft.ann.pq`) —
    * collect() the frame first; metrics exist only after execution.
    */
  def observedMetrics(df: DataFrame, prefix: String): Seq[org.apache.spark.sql.Row] =
    df.queryExecution.observedMetrics.collect {
      case (name, row) if name == prefix || name.startsWith(prefix + "#") => row
    }.toSeq

  /** Top-k cosine search against the live persisted index: probe the
    * `nprobe` nearest buckets per query (ranked over the broadcast
    * centroid sidecar), exact cosine inside probed buckets only, with
    * dynamic partition pruning skipping unprobed bucket dirs at the
    * scan. Returns `(query_id, vec_id, cos_sim, rnk)`.
    */
  def search(spark: SparkSession, root: String, queries: DataFrame,
      nprobe: Int, k: Int): DataFrame = {
    val corpus = Sinks.readCurrent(spark, root)
      .withColumnRenamed("bucket", "label")
    val probed = probeLive(spark, root, queries, nprobe)
    val scored = corpus.join(broadcast(probed), Seq("label"))
      .select(col("label"), col("query_id"), col("vec_id"),
        graft.functions.Vec.cosine6Native(col("embedding"), col("qvec")).as("cos_sim"))
      .observe(obsName("search"),
        count(lit(1)).as("candidates"),
        approx_count_distinct(col("label")).as("probed_buckets"))
    Similarity.topKPerQuery(scored, k)
  }
}
