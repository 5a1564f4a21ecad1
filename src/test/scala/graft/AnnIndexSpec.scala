package graft

import graft.io.Tables
import graft.ops.{AnnIndex, Similarity, Sinks}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** B125 persisted IVF index: bucket-partitioned layout, dynamic
  * partition pruning at probe time, search ≡ the in-session IVF path
  * (which q_ann_ivf_fixed oracles), and the loud-failure crash contract
  * for a missing quantizer sidecar.
  */
class AnnIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.sf001

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/idx"

  private def queries5 = Tables.embeddings(spark, sf001)
    .filter(col("vec_id") < 5)
    .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))

  test("buildFixed lays buckets out as partition dirs and search matches the in-session IVF") {
    val root = tmp("annidx")
    val emb = Tables.embeddings(spark, sf001)
    val v = AnnIndex.buildFixed(spark, emb, root)
    assert(v == 0L)
    // partition-dir layout: one bucket=N dir per fixture label
    val live = java.nio.file.Paths.get(Sinks.resolve(root))
    val bucketDirs = graft.io.Fs.listDir(live)
      .filter(p => java.nio.file.Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("bucket="))
    val nLabels = emb.select("label").distinct().count()
    assert(bucketDirs.size == nLabels, s"${bucketDirs.size} bucket dirs for $nLabels labels")
    // search ≡ the oracled in-session path, value for value
    val got = AnnIndex.search(spark, root, queries5, nprobe = 2, k = 10)
      .orderBy("query_id", "rnk").collect().toSeq
    val want = Similarity.ivfTopK(emb, Similarity.ivfCentroids(emb), queries5,
        nprobe = 2, k = 10)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(got == want)
    assert(got.size == 50)
  }

  test("probeLive ranks the identical nprobe buckets as the window form, with no exchange or window") {
    val root = tmp("annprobe")
    val emb = Tables.embeddings(spark, sf001)
    AnnIndex.buildFixed(spark, emb, root)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id").cast("long"), col("label").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // exact parity at a normal depth AND past the bucket count (the
    // fewer-buckets-than-nprobe edge both forms must truncate alike)
    for (nprobe <- Seq(1, 3, 99)) {
      val win = canon(Similarity.probeBuckets(
        AnnIndex.centroids(spark, root), queries5, nprobe))
      val lit = canon(AnnIndex.probeLive(spark, root, queries5, nprobe))
      assert(lit == win, s"probe sets diverge at nprobe=$nprobe")
    }
    // the stage-collapse claim: the probe subtree plans with no
    // exchange, no window — one projection over the queries scan
    val plan = AnnIndex.probeLive(spark, root, queries5, 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Window"),
      s"probe subtree still stages:\n$plan")
  }

  test("search probes with dynamic partition pruning — unprobed bucket dirs are skipped") {
    val root = tmp("annidxdpp")
    AnnIndex.buildFixed(spark, Tables.embeddings(spark, sf001), root)
    val plan = AnnIndex.search(spark, root, queries5, nprobe = 2, k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"probe scan lost dynamic partition pruning:\n$plan")
  }

  test("search emits IO observability metrics; composing two searches in one plan still runs (round-14)") {
    val root = tmp("annobs")
    val emb = Tables.embeddings(spark, sf001)
    AnnIndex.buildFixed(spark, emb, root)
    val nBuckets = emb.select("label").distinct().count()
    val res = AnnIndex.search(spark, root, queries5, nprobe = 2, k = 10)
    res.collect() // metrics exist only after execution
    val m = AnnIndex.observedMetrics(res, "graft.ann.search")
    assert(m.size == 1, s"expected one search metrics row, got ${m.size}")
    val candidates = m.head.getAs[Long]("candidates")
    val probedBuckets = m.head.getAs[Long]("probed_buckets")
    // candidates = rows actually scored inside probed buckets: more than
    // the 50 returned, far less than 5 queries × the whole corpus
    assert(candidates > 50 && candidates < 5L * emb.count(),
      s"candidates=$candidates")
    // 5 queries × nprobe=2 probes cover at most 10 buckets, at least 2
    assert(probedBuckets >= 2 && probedBuckets <= math.min(10, nBuckets),
      s"probed_buckets=$probedBuckets of $nBuckets")
    // unique observation names: a plan composing two searches must not
    // collide (Spark refuses duplicate observed-metric names per query)
    val both = AnnIndex.search(spark, root, queries5, nprobe = 2, k = 10)
      .unionByName(AnnIndex.search(spark, root, queries5, nprobe = 1, k = 10))
    // collect() (not count()) — metrics live on THIS dataset's own
    // QueryExecution; count() would execute a derived plan
    assert(both.collect().length == 100)
    assert(AnnIndex.observedMetrics(both, "graft.ann.search").size == 2)
  }

  test("two-stage searches report shortlist and rerank volumes (round-14)") {
    val root = tmp("annobs2")
    val emb = Tables.embeddings(spark, sf001)
    AnnIndex.buildFixedSq8(spark, emb, root)
    val res = AnnIndex.searchSq8(spark, root, queries5, nprobe = 2, k = 10)
    res.collect()
    val sl = AnnIndex.observedMetrics(res, "graft.ann.sq8.shortlist")
    val rr = AnnIndex.observedMetrics(res, "graft.ann.sq8.rerank")
    val s1 = AnnIndex.observedMetrics(res, "graft.ann.sq8.stage1")
    assert(sl.size == 1 && rr.size == 1 && s1.size == 1)
    val shortlistRows = sl.head.getAs[Long]("shortlist_rows")
    val rerankCandidates = rr.head.getAs[Long]("rerank_candidates")
    // shortlist depth default = max(8k, 64) = 80 per query, capped by
    // what the probed buckets hold; stage 2 exact-scores each shortlist
    // candidate at most once per query
    assert(shortlistRows > 0 && shortlistRows <= 5L * 80,
      s"shortlist_rows=$shortlistRows")
    assert(rerankCandidates >= 50 && rerankCandidates <= shortlistRows,
      s"rerank_candidates=$rerankCandidates vs shortlist $shortlistRows")
    // the stage-1 code scan scored more rows than the shortlist kept
    assert(s1.head.getAs[Long]("candidates") >= shortlistRows)
  }

  test("missing _centroids sidecar fails loudly with a rebuild hint, not wrong probes") {
    // the sidecar now rides the staged commit, so this state can only be
    // reached by hand-damaging the directory (or a pre-round-9 index) —
    // the loud failure stays as the last line of defense
    val root = tmp("annidxcrash")
    AnnIndex.buildFixed(spark, Tables.embeddings(spark, sf001), root)
    graft.io.Fs.deleteRecursively(java.nio.file.Paths.get(
      Sinks.resolve(root), AnnIndex.CentroidsSidecar))
    val err = intercept[IllegalArgumentException] {
      AnnIndex.search(spark, root, queries5, nprobe = 2, k = 10)
    }
    assert(err.getMessage.contains("rebuild"))
  }

  test("quantizer rides the staged commit — no kill point can commit data without it") {
    import java.nio.file.{Files, Path, Paths}
    import graft.ops.{CommitProtocol, LocalFsCommit}
    val emb = Tables.embeddings(spark, sf001)
    for (step <- Seq("publish", "flip")) {
      val root = tmp(s"annidxkill$step")
      // fail the named commit move, scoped to THIS table (the binding is
      // process-global; sibling suites keep committing through it)
      val failing = new CommitProtocol {
        def readPointer(r: String) = LocalFsCommit.readPointer(r)
        def versionExists(r: String, v: Long) = LocalFsCommit.versionExists(r, v)
        def publishVersionDir(s: Path, d: Path): Unit = {
          if (step == "publish" && d.toString.startsWith(root))
            throw new RuntimeException("kill@publish")
          LocalFsCommit.publishVersionDir(s, d)
        }
        def flipPointer(r: String, v: Long): Unit = {
          if (step == "flip" && r.startsWith(root))
            throw new RuntimeException("kill@flip")
          LocalFsCommit.flipPointer(r, v)
        }
        def withCommitLock[T](r: String)(b: => T) = LocalFsCommit.withCommitLock(r)(b)
      }
      Sinks.commitProtocol = failing
      try intercept[RuntimeException](AnnIndex.buildFixed(spark, emb, root))
      finally Sinks.commitProtocol = LocalFsCommit
      // the invariant the old advisory-sidecar pattern could not give:
      // EVERY version directory that exists — live or orphaned — carries
      // its quantizer; a data-without-quantizer window cannot exist
      Sinks.listVersions(root).foreach { v =>
        assert(Files.isDirectory(Paths.get(
            Sinks.versionPath(root, v), AnnIndex.CentroidsSidecar)),
          s"kill@$step left v$v without its quantizer")
      }
      assert(Sinks.currentVersion(root).isEmpty, s"kill@$step flipped the pointer")
      // a clean rebuild repairs fully (allocating past any orphan)
      AnnIndex.buildFixed(spark, emb, root)
      assert(AnnIndex.search(spark, root, queries5, nprobe = 2, k = 10).count() == 50)
    }
  }

  test("SQ8 index: code-shortlist + exact rerank equals the flat search exactly") {
    val root = tmp("annidxsq8")
    val emb = Tables.embeddings(spark, sf001)
    AnnIndex.buildFixedSq8(spark, emb, root)
    // bucket files carry the byte codes alongside the floats
    val live = Sinks.readCurrent(spark, root)
    assert(live.columns.contains("qcodes") && live.columns.contains("qscale"))
    assert(live.schema("qcodes").dataType.simpleString == "array<tinyint>",
      "SQ8 codes must be 1-byte elements")
    val got = AnnIndex.searchSq8(spark, root, queries5, nprobe = 2, k = 10)
      .orderBy("query_id", "rnk").collect().toSeq
    val flat = AnnIndex.search(spark, root, queries5, nprobe = 2, k = 10)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(got == flat, "rerank must make compression invisible in the answer")
    assert(got.size == 50)
  }

  test("PQ index: ADC shortlist + exact rerank equals the flat search; recall floor beats chance") {
    val root = tmp("annidxpq")
    val emb = Tables.embeddings(spark, sf001)
    AnnIndex.buildFixedPq(spark, emb, root)
    val live = Sinks.readCurrent(spark, root)
    assert(live.columns.contains("pqcodes"))
    assert(live.schema("pqcodes").dataType.simpleString == "array<tinyint>",
      "PQ codes must be 1-byte elements")
    // M=8 codes per 64-dim row: 8 bytes vs 256 float bytes — 32x
    assert(live.select(org.apache.spark.sql.functions.size(col("pqcodes")))
      .head().getInt(0) == 8)
    // the `_pq` codebook sidecar rode the atomic commit
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(
      Sinks.versionPath(root, 0L), graft.ops.Pq.Sidecar)))
    val got = AnnIndex.searchPq(spark, root, queries5, nprobe = 2, k = 10)
      .orderBy("query_id", "rnk").collect().toSeq
    val flat = AnnIndex.search(spark, root, queries5, nprobe = 2, k = 10)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(got == flat, "rerank must make PQ compression invisible in the answer")
    assert(got.size == 50)
    // stage-1 quality floor: the ADC shortlist at depth 40 must recall
    // most of the exact top-10 (codes alone, before any rerank)
    val shortIds = AnnIndex.pqShortlist(spark, root, queries5, nprobe = 2, shortlist = 40)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactIds = flat.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exactIds.count(shortIds.contains).toDouble / exactIds.size
    assert(recall >= 0.8, f"PQ stage-1 recall@40 too low: $recall%.2f")
  }

  test("PQ shortlist pass scans codes, not floats, and keeps dynamic bucket pruning") {
    val root = tmp("annidxpqio")
    AnnIndex.buildFixedPq(spark, Tables.embeddings(spark, sf001), root)
    val plan = AnnIndex.pqShortlist(spark, root, queries5, nprobe = 2, shortlist = 80)
      .queryExecution.executedPlan.toString
    val idxScans = plan.linesIterator
      .filter(l => l.contains("ReadSchema") && l.contains(root)).toSeq
    assert(idxScans.nonEmpty, s"no index scan found in:\n$plan")
    assert(!idxScans.exists(_.contains("embedding")),
      s"PQ shortlist scan reads the float embeddings:\n${idxScans.mkString("\n")}")
    assert(idxScans.exists(_.contains("pqcodes")),
      s"PQ shortlist scan lost the code column:\n${idxScans.mkString("\n")}")
    assert(plan.contains("dynamicpruning"), s"PQ probe lost DPP:\n$plan")
  }

  test("SQ8 shortlist pass scans codes, not floats (column pruning = the IO cut)") {
    val root = tmp("annidxsq8io")
    AnnIndex.buildFixedSq8(spark, Tables.embeddings(spark, sf001), root)
    val plan = AnnIndex.sq8Shortlist(spark, root, queries5, nprobe = 2, shortlist = 80)
      .queryExecution.executedPlan.toString
    // the approx stage's scan OF THE INDEX must NOT materialize the
    // float embedding column — ReadSchema carries qcodes only (scans of
    // the query fixture legitimately read their qvec floats)
    val idxScans = plan.linesIterator
      .filter(l => l.contains("ReadSchema") && l.contains(root)).toSeq
    assert(idxScans.nonEmpty, s"no index scan found in:\n$plan")
    assert(!idxScans.exists(_.contains("embedding")),
      s"shortlist scan reads the float embeddings:\n${idxScans.mkString("\n")}")
    assert(idxScans.exists(_.contains("qcodes")),
      s"shortlist scan lost the code column:\n${idxScans.mkString("\n")}")
    // and the probe still dynamic-partition-prunes the bucket dirs
    assert(plan.contains("dynamicpruning"), s"SQ8 probe lost DPP:\n$plan")
  }

  test("STAGE-2 rerank scans only probed buckets — DPP fires on the float scan (SQ8 + PQ)") {
    // the round-10 weak flag: a rerank joined on vec_id alone reads the
    // float column of EVERY bucket dir. The probed-bucket semi-join must
    // put a dynamicpruning partition filter on the scan that reads
    // `embedding` — in BOTH two-stage paths.
    val rootS = tmp("annidxsq8st2")
    val rootP = tmp("annidxpqst2")
    val emb = Tables.embeddings(spark, sf001)
    AnnIndex.buildFixedSq8(spark, emb, rootS)
    AnnIndex.buildFixedPq(spark, emb, rootP)
    for ((root, df) <- Seq(
        rootS -> AnnIndex.searchSq8(spark, rootS, queries5, nprobe = 2, k = 10),
        rootP -> AnnIndex.searchPq(spark, rootP, queries5, nprobe = 2, k = 10))) {
      val plan = df.queryExecution.executedPlan.toString
      val floatScans = plan.linesIterator
        .filter(l => l.contains("ReadSchema") && l.contains(root) &&
          l.contains("embedding")).toSeq
      assert(floatScans.nonEmpty, s"no rerank float scan of $root found in:\n$plan")
      assert(floatScans.forall(_.contains("dynamicpruning")),
        s"stage-2 rerank scan of $root reads ALL buckets (no DPP):\n" +
          floatScans.mkString("\n"))
    }
  }

  test("splitBuckets: hot buckets split at O(split), quantizer swaps atomically, cold buckets carry by inode") {
    import java.nio.file.{Files, Paths}
    val root = tmp("annidxsplit")
    val emb = Tables.embeddings(spark, sf001)
    // skew the assignment: ~80% of rows pile into bucket 0
    val skewed = emb.withColumn("label",
      when(col("vec_id") % 10 < 8, lit(0L)).otherwise(col("label")))
    AnnIndex.buildFixed(spark, skewed, root)
    val preCents = AnnIndex.centroids(spark, root).count()
    val preSizes = Sinks.readCurrent(spark, root).groupBy("bucket").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val coldKeys = graft.io.Fs.walkParquet(Paths.get(Sinks.versionPath(root, 0L)))
      .filter(f => !f.toString.contains("bucket=0/"))
      .map(f => Files.readAttributes(f,
        classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()).toSet
    val v1 = AnnIndex.splitBuckets(spark, root, factor = 2.0)
    assert(v1 == 1L)
    // cold bucket dirs carried by hardlink — the O(split) contract
    val postCold = graft.io.Fs.walkParquet(Paths.get(Sinks.versionPath(root, 1L)))
      .filter(f => !f.toString.contains("bucket=0/"))
      .map(f => Files.readAttributes(f,
        classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()).toSet
    assert(coldKeys.subsetOf(postCold),
      "untouched bucket files must carry by inode")
    // the quantizer swapped WITH the data: one more centroid per split,
    // rows conserved, the hot bucket genuinely smaller
    val postSizes = Sinks.readCurrent(spark, root).groupBy("bucket").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(postSizes.values.sum == preSizes.values.sum, "rows must be conserved")
    assert(postSizes.size == preSizes.size + 1, "one split adds one bucket")
    assert(postSizes(0L) < preSizes(0L), "the hot bucket must shrink")
    assert(AnnIndex.centroids(spark, root).count() == preCents + 1)
    assert(Sinks.history(spark, root).orderBy("version")
      .select("operation").collect().map(_.getString(0)).last == "rebucket")
    // every vector is still findable: with an exhaustive probe the
    // table+quantizer pair must be self-consistent (rank-1 self-hit
    // always); at nprobe=3 the split quantizer keeps a recall floor
    // (ANN recall near half-boundaries is legitimately approximate)
    val self = Sinks.readCurrent(spark, root).filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val nBuckets = postSizes.size
    val exhaustive = AnnIndex.search(spark, root, self, nprobe = nBuckets, k = 1)
      .filter(col("rnk") === 1).collect()
    assert(exhaustive.nonEmpty &&
      exhaustive.forall(r => r.getLong(0) == r.getLong(1)),
      "each vector must find itself at rank 1 under an exhaustive probe")
    val probed = AnnIndex.search(spark, root, self, nprobe = 3, k = 1)
      .filter(col("rnk") === 1).collect()
    val selfHits = probed.count(r => r.getLong(0) == r.getLong(1))
    assert(selfHits.toDouble / probed.length >= 0.8,
      s"nprobe=3 self-recall too low after split: $selfHits/${probed.length}")
    // time travel: the pre-split index still serves under ITS quantizer
    assert(Sinks.readVersion(spark, root, 0L).count() == preSizes.values.sum)
    // a balanced index is a no-op: no empty commit, version unchanged
    val v2 = AnnIndex.splitBuckets(spark, root, factor = 1000.0)
    assert(v2 == 1L && Sinks.currentVersion(root).contains(1L))
  }

  test("splitBuckets seeds 2-means from the bucket's OWN rows — a hot bucket without vec_id 0/1 still splits") {
    // round-11 advisor (high): global vec_id < 2 seeding found 0-1 seeds
    // in any hot bucket lacking ids 0/1, so the split made no progress
    // and every CALL rewrote the hot bucket again. Seeds are now the
    // bucket's own min/max vec_id.
    val root = tmp("annidxsplitseed")
    val emb = Tables.embeddings(spark, sf001)
    // pile ~80% of rows into bucket 5 while PINNING ids 0 and 1 elsewhere
    val skewed = emb.withColumn("label",
      when(col("vec_id") < 2, lit(0L))
        .when(col("vec_id") % 10 < 8, lit(5L))
        .otherwise(col("label")))
    AnnIndex.buildFixed(spark, skewed, root)
    val preSizes = Sinks.readCurrent(spark, root).groupBy("bucket").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val v1 = AnnIndex.splitBuckets(spark, root, factor = 2.0)
    assert(v1 == 1L, "the hot bucket must actually split")
    val postSizes = Sinks.readCurrent(spark, root).groupBy("bucket").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(postSizes.values.sum == preSizes.values.sum, "rows conserved")
    assert(postSizes.size == preSizes.size + 1, "one split adds one bucket")
    assert(postSizes(5L) < preSizes(5L), "the hot bucket must shrink")
    assert(AnnIndex.centroids(spark, root).count() == postSizes.size,
      "quantizer entries must match the post-split bucket set")
  }

  test("splitBuckets skips an unsplittable bucket (identical vectors) instead of rewriting it forever") {
    val root = tmp("annidxsplitnoop")
    val emb = Tables.embeddings(spark, sf001)
    // hot bucket 5 holds ONE distinct vector repeated — 2-means can never
    // produce two halves; the commit-churn guard must carry it untouched
    val one = emb.filter(col("vec_id") === 42)
      .select(col("embedding")).head().getSeq[Float](0)
    val skewed = emb.withColumn("label",
      when(col("vec_id") % 10 < 8, lit(5L)).otherwise(col("label")))
      .withColumn("embedding",
        when(col("label") === 5L,
          typedLit(one.toArray)).otherwise(col("embedding")))
    AnnIndex.buildFixed(spark, skewed, root)
    val v1 = AnnIndex.splitBuckets(spark, root, factor = 2.0)
    assert(v1 == 0L && Sinks.currentVersion(root).contains(0L),
      "an unsplittable hot bucket must not commit a no-progress rewrite")
  }

  test("append grows the index at O(delta): quantizer rides, new vectors are findable") {
    val root = tmp("annidxgrow")
    val emb = Tables.embeddings(spark, sf001)
    val half = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 =!= 0)
    AnnIndex.buildFixed(spark, half, root)
    val v0Files = graft.io.Fs.walkParquet(
      java.nio.file.Paths.get(Sinks.versionPath(root, 0L))).map(_.getFileName.toString).toSet
    val v1 = AnnIndex.append(spark, rest, root)
    assert(v1 == 1L)
    // the quantizer carried into the appended version (search must work)
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(
      Sinks.versionPath(root, 1L), AnnIndex.CentroidsSidecar)),
      "append dropped the quantizer sidecar")
    // v0's files carried by name — the append staged only the delta
    val v1Files = graft.io.Fs.walkParquet(
      java.nio.file.Paths.get(Sinks.versionPath(root, 1L))).map(_.getFileName.toString).toSet
    assert(v0Files.subsetOf(v1Files), "append rewrote carried index files")
    assert(Sinks.readCurrent(spark, root).count() == emb.count())
    // an APPENDED vector probes to itself as its own nearest neighbor
    val probe = rest.limit(1)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val top1 = AnnIndex.search(spark, root, probe, nprobe = 2, k = 1).head()
    assert(top1.getAs[Long]("query_id") == top1.getAs[Long]("vec_id"),
      s"appended vector is not its own top hit: $top1")
  }

  test("streaming ingestion: micro-batches land exactly-once, streamed vectors probe to themselves") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tmp("annidxstream")
    val emb = Tables.embeddings(spark, sf001)
    AnnIndex.buildFixed(spark, emb.filter(col("vec_id") % 2 === 0), root)
    val rest = emb.filter(col("vec_id") % 2 =!= 0)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toSeq
    val ckpt = java.nio.file.Files.createTempDirectory("annck").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val q = AnnIndex.streamTo(input.toDF().toDF("vec_id", "embedding"), root, ckpt)
    try {
      input.addData(rest.take(rest.size / 2): _*)
      q.processAllAvailable()
      input.addData(rest.drop(rest.size / 2): _*)
      q.processAllAvailable()
    } finally q.stop()
    // every streamed row landed exactly once
    assert(Sinks.readCurrent(spark, root).count() == emb.count())
    assert(Sinks.readCurrent(spark, root).select("vec_id").distinct().count() == emb.count())
    assert(Sinks.listVersions(root).size >= 3) // build + >=2 batch commits
    // the quantizer still rides the streamed versions; a streamed vector
    // probes to itself as its own nearest neighbor
    val vid = rest.last._1
    val probe = emb.filter(col("vec_id") === vid)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val top1 = AnnIndex.search(spark, root, probe, nprobe = 2, k = 1).head()
    assert(top1.getAs[Long]("vec_id") == vid, s"streamed vector lost: $top1")
    // streaming into a root with no index fails at START, not first batch
    // (no published version at all → IllegalState from resolve; a table
    // missing only the quantizer → IllegalArgument with a rebuild hint)
    intercept[Exception] {
      AnnIndex.streamTo(input.toDF().toDF("vec_id", "embedding"),
        tmp("annidxnone"), java.nio.file.Files.createTempDirectory("annck2").toString)
    }
  }

  test("probe under continuous ingest: every inter-batch probe serves the FRESH version, latency stays flat") {
    // round-11 verdict item 7: a probe between micro-batches pays the
    // sidecar/footer re-read when the version advances — the memo keys
    // by version dir, so the re-read happens ONCE per version, and probe
    // latency must not grow with the number of ingested batches.
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tmp("annidxliveprobe")
    val emb = Tables.embeddings(spark, sf001)
    AnnIndex.buildFixed(spark, emb, root)
    val maxId = emb.agg(max("vec_id")).head().getLong(0)
    val donors = emb.select("vec_id", "embedding")
      .as[(Long, Array[Float])].limit(40).collect().toSeq
    val ckpt = java.nio.file.Files.createTempDirectory("annckLive").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val q = AnnIndex.streamTo(input.toDF().toDF("vec_id", "embedding"), root, ckpt)
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    try {
      (0 until 8).foreach { i =>
        // 5 fresh vectors per batch (donor embeddings under new ids)
        val batch = donors.slice(i * 5, i * 5 + 5).zipWithIndex
          .map { case ((_, e), j) => (maxId + 1 + i * 5 + j, e) }
        input.addData(batch: _*)
        q.processAllAvailable()
        // probe for a vector of THIS batch: the new version serves it
        val (vid, vec) = batch.head
        val probe = Seq((vid, vec)).toDF("query_id", "qvec")
        val t0 = System.nanoTime()
        // k=2: the ingested vector shares its donor's embedding, so the
        // two tie at cos=1.0 — containment, not rank-1, is the freshness
        // claim
        val top = AnnIndex.search(spark, root, probe, nprobe = 3, k = 2)
          .collect().map(_.getAs[Long]("vec_id")).toSet
        lat += (System.nanoTime() - t0) / 1e9
        assert(top.contains(vid),
          s"batch $i: freshly ingested vector $vid not served, got $top")
      }
    } finally q.stop()
    System.err.println(
      "[spec] probe-under-ingest latencies: " +
        lat.map(t => f"$t%.3f").mkString(", "))
    // flatness: the LAST probe (8 versions later) must not have grown
    // past a generous multiple of the early steady state — the memo +
    // version-dir keying claim, with headroom for CI noise
    val early = lat.take(3).min
    assert(lat.last < early * 10 + 0.5,
      s"probe latency grew under ingest: first3min=$early last=${lat.last}")
  }

  test("restore carries the quantizer sidecar — a rewound index still serves probes") {
    val root = tmp("annidxrest")
    val emb = Tables.embeddings(spark, sf001)
    AnnIndex.buildFixed(spark, emb, root)                 // v0: fixed index
    AnnIndex.buildLearned(spark, emb, root, k = 4, iters = 1) // v1: learned
    val v2 = Sinks.restoreVersion(spark, root, 0L)        // rewind to fixed
    assert(v2 == 2L)
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(
      Sinks.versionPath(root, v2), AnnIndex.CentroidsSidecar)),
      "restore dropped the quantizer sidecar")
    // the restored index answers EXACTLY like the original fixed build
    val got = AnnIndex.search(spark, root, queries5, nprobe = 2, k = 10)
      .orderBy("query_id", "rnk").collect().toSeq
    val want = Similarity.ivfTopK(emb, Similarity.ivfCentroids(emb), queries5,
        nprobe = 2, k = 10)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(got == want)
  }

  test("rebuild publishes a new version; the previous index stays time-travelable") {
    val root = tmp("annidxver")
    val emb = Tables.embeddings(spark, sf001)
    AnnIndex.buildFixed(spark, emb, root)
    val v1 = AnnIndex.buildLearned(spark, emb, root, k = 8, iters = 2)
    assert(v1 == 1L)
    assert(Sinks.listVersions(root) == Seq(0L, 1L))
    // live search uses the learned index: every bucket it serves is a
    // learned-centroid label, and results still rank by true cosine
    val cents = AnnIndex.centroids(spark, root)
    val labels = cents.select("label").collect().map(_.getLong(0)).toSet
    val served = Sinks.readCurrent(spark, root)
      .select("bucket").distinct().collect().map(_.getLong(0)).toSet
    assert(served.subsetOf(labels))
    // v0 (fixed index) remains readable for time travel
    val v0buckets = Sinks.readVersion(spark, root, 0L)
      .select("bucket").distinct().count()
    assert(v0buckets == emb.select("label").distinct().count())
    val got = AnnIndex.search(spark, root, queries5, nprobe = 3, k = 5)
    assert(got.count() == 25)
  }

  test("the decoded quantizer is keyed by and read from one version dir across a rebuild") {
    val root = tmp("annrekey")
    val emb = Tables.embeddings(spark, sf001)
    AnnIndex.buildFixed(spark, emb, root)
    val oldLive = Sinks.resolve(root)
    // a rebuild over half the corpus: different per-label means
    AnnIndex.buildFixed(spark, emb.filter(col("vec_id") % 2 === 0), root)
    val newLive = Sinks.resolve(root)
    assert(oldLive != newLive)
    def stored(live: String): Seq[(Long, Seq[Double])] =
      spark.read.parquet(s"$live/${AnnIndex.CentroidsSidecar}")
        .select(col("label").cast("long"), col("centroid").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    val (oldQ, newQ) = (stored(oldLive), stored(newLive))
    assert(oldQ != newQ, "the rebuild must change the quantizer")
    assert(AnnIndex.centroidsDecoded(spark, oldLive) == oldQ)
    assert(AnnIndex.centroidsDecoded(spark, newLive) == newQ)
    // memoized answers stay per version dir
    assert(AnnIndex.centroidsDecoded(spark, oldLive) == oldQ)
  }

  test("an index deleted and rebuilt at the same root probes with the new quantizer") {
    val root = tmp("annreroot")
    val emb = Tables.embeddings(spark, sf001)
    AnnIndex.buildFixed(spark, emb, root)
    val live = Sinks.resolve(root)
    AnnIndex.probeLive(spark, root, queries5, 3).collect() // warms the memos
    graft.io.Fs.deleteRecursively(java.nio.file.Paths.get(root))
    AnnIndex.buildFixed(spark, emb.withColumn("label", col("vec_id") % 3), root)
    assert(Sinks.resolve(root) == live, "the rebuild must reuse the version dir path")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id").cast("long"), col("label").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val stored = spark.read.parquet(s"$live/${AnnIndex.CentroidsSidecar}")
    val want = canon(Similarity.probeBuckets(stored, queries5, 3))
    assert(want.map(_._2).toSet == Set(0L, 1L, 2L))
    assert(canon(AnnIndex.probeLive(spark, root, queries5, 3)) == want,
      "probes ranked the deleted index's quantizer")
  }
}
