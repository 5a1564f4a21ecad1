package graft

import graft.io.Tables
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §2B B59–B64 coverage the DuckDB oracle can't express: MinHash
  * estimate quality, SimHash locality, IVF recall, multimodal binary
  * plumbing, rolling fingerprints, dedup idempotence.
  */
class LlmSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.sf001

  private def docsWithDups = {
    import spark.implicits._
    Tables.documents(spark, sf001)
      .unionByName(
        Tables.documents(spark, sf001).limit(5)
          .withColumn("doc_id", col("doc_id") + 1000000))
  }

  test("B59 dropExactDups removes injected duplicates and is idempotent") {
    val docs = docsWithDups
    val deduped = Dedup.dropExactDups(docs)
    val nDistinct = docs.select(countDistinct(col("text"))).head().getLong(0)
    assert(deduped.count() == nDistinct)
    assert(Dedup.dropExactDups(deduped).count() == nDistinct)
    // survivor is always the lowest doc_id (the original, not the clone)
    assert(deduped.filter(col("doc_id") >= 1000000).count() == 0)
  }

  test("B61 native CosineSim is bit-identical to the HOF cosine on every fixture pair") {
    import graft.functions.{CosineSim, Vec}
    CosineSim.register(spark)
    val emb = Tables.embeddings(spark, sf001)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    // all 500×5 fixture pairs: HOF and native must agree to the BIT
    // (same sequential fold order) — this is what licenses the hot-path
    // swap without re-running the DuckDB oracle per call site
    val both = emb.crossJoin(broadcast(q))
      .select(
        Vec.cosine(col("embedding"), col("qvec")).as("hof"),
        Vec.cosineNative(col("embedding"), col("qvec")).as("native"))
    assert(both.count() == 2500)
    val diverging = both.filter(
      !(col("hof") <=> col("native"))).count()
    assert(diverging == 0, s"$diverging pairs diverge between HOF and native cosine")
    // null/edge semantics match too: zero vector, length mismatch, null
    // element, null array
    val edges = spark.sql(
      """SELECT
        |  cosine_sim(array(0.0d, 0.0d), array(1.0d, 2.0d)) AS zero_norm,
        |  cosine_sim(array(1.0d), array(1.0d, 2.0d)) AS len_mismatch,
        |  cosine_sim(array(1.0d, CAST(NULL AS DOUBLE)), array(1.0d, 2.0d)) AS null_elem,
        |  cosine_sim(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS null_arr,
        |  cosine_sim(array(3.0d, 4.0d), array(3.0d, 4.0d)) AS self
        |""".stripMargin).head()
    assert(edges.isNullAt(0) && edges.isNullAt(1) && edges.isNullAt(2) && edges.isNullAt(3))
    assert(edges.getDouble(4) == 1.0)
    // float inputs take the same widening cast as Vec.asDouble
    val floatIn = spark.sql(
      "SELECT cosine_sim(CAST(array(1.5, 2.5) AS ARRAY<FLOAT>), array(1.5d, 2.5d)) AS c")
      .head().getDouble(0)
    assert(floatIn == 1.0)
  }

  test("B61 CosineSim survives CODEGEN_ONLY mode (doGenCode compiles, no interpreted fallback)") {
    import graft.functions.{CosineSim, Vec}
    CosineSim.register(spark)
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    // FALLBACK (default) silently swallows a broken doGenCode by
    // interpreting; CODEGEN_ONLY turns that into a hard failure
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      val got = Tables.embeddings(spark, sf001).filter(col("vec_id") < 50)
        .select(col("vec_id"),
          Vec.cosineNative(col("embedding"), col("embedding")).as("self"))
        .collect()
      assert(got.length == 50)
      // self-similarity is exactly 1 for nonzero vectors
      assert(got.forall(r => math.abs(r.getDouble(1) - 1.0) < 1e-12))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("B60 MinHash estimate approximates exact Jaccard on shingle sets") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf001).limit(100)
    val n = 2
    val sigs = docs.select(col("doc_id"),
      array_distinct(Dedup.shingles(col("text"), n)).as("sh"),
      Dedup.minhashSignature(col("text"), n, 64).as("sig"))
    val a = sigs.select(col("doc_id").as("ida"), col("sh").as("sha"), col("sig").as("siga"))
    val b = sigs.select(col("doc_id").as("idb"), col("sh").as("shb"), col("sig").as("sigb"))
    val pairs = a.join(b, col("idb") > col("ida") && col("idb") <= col("ida") + 3)
      .select(Dedup.jaccard(col("sha"), col("shb")).as("exact"),
        Dedup.minhashEstimate(col("siga"), col("sigb")).as("est"))
      .as[(Double, Double)].collect()
    assert(pairs.nonEmpty)
    val mae = pairs.map { case (e, m) => math.abs(e - m) }.sum / pairs.length
    // 64 permutations => stderr ~ sqrt(j(1-j)/64) <= 0.0625; MAE well under
    assert(mae < 0.08, s"MinHash MAE too high: $mae over ${pairs.length} pairs")
  }

  test("B60 native MinHashAgg produces bit-identical signatures to the HOF form") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf001)
    val hof = docs.select(col("doc_id"),
      Dedup.minhashSignature(col("text"), 2, 32).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val agg = Dedup.minhashSignaturesAgg(docs, n = 2, numPerm = 32)
      .as[(Long, Seq[Long])].collect().toMap
    assert(agg.keySet == hof.keySet)
    val diffs = hof.keys.filter(k => hof(k) != agg(k))
    assert(diffs.isEmpty, s"signatures differ for docs: ${diffs.take(5)}")
    // and the native scalar expression (the production path inside
    // minhashCandidates) matches both
    graft.functions.MinHashSig.register(spark)
    val native = docs.select(col("doc_id"),
        expr("minhash_sig(text, 2, 32)").as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(native.keySet == hof.keySet)
    val ndiffs = hof.keys.filter(k => hof(k) != native(k))
    assert(ndiffs.isEmpty, s"native sigs differ for docs: ${ndiffs.take(5)}")
  }

  test("B60 native md5 MinHash expression is bit-identical to the HOF form") {
    import spark.implicits._
    // fixture docs plus the shingling edge cases: empty text, fewer
    // words than n (whole-doc shingle), repeated/trailing spaces
    // (split limit -1 keeps empties), and exactly-n words
    val edges = Seq((100001L, ""), (100002L, "one"), (100003L, "a  b"),
      (100004L, "a b "), (100005L, "x y z")).toDF("doc_id", "text")
    val docs = Tables.documents(spark, sf001).select("doc_id", "text")
      .unionByName(edges)
    val hof = docs.select(col("doc_id"),
        Dedup.minhashSignatureMd5Hof(col("text"), 3, 16).as("sig"))
      .as[(Long, Seq[String])].collect().toMap
    val native = docs.select(col("doc_id"),
        Dedup.minhashSignatureMd5(col("text"), 3, 16).as("sig"))
      .as[(Long, Seq[String])].collect().toMap
    assert(native.keySet == hof.keySet)
    val diffs = hof.keys.filter(k => hof(k) != native(k))
    assert(diffs.isEmpty, s"md5 sigs differ for docs: ${diffs.take(5)}")
    // schema-invisible swap: same result type as the HOF form
    val hofType = docs.select(
      Dedup.minhashSignatureMd5Hof(col("text"), 3, 16).as("sig")).schema("sig").dataType
    val natType = docs.select(
      Dedup.minhashSignatureMd5(col("text"), 3, 16).as("sig")).schema("sig").dataType
    assert(natType == hofType, s"result type drifted: $natType vs $hofType")
  }

  test("B60 native bands expression is bit-identical to the HOF banding form") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.ExprBridge
    def native(sig: org.apache.spark.sql.Column, b: Int, r: Int) =
      ExprBridge.column(graft.functions.Bands(
        ExprBridge.expr(sig), Literal(b), Literal(r)))
    // md5 (string) signatures: fixture docs + signature edge cases —
    // a signature SHORTER than bands*rowsPerBand (partial and empty
    // band windows) and single-element bands
    val strSigs = Tables.documents(spark, sf001).select("doc_id", "text")
      .select(col("doc_id"), Dedup.minhashSignatureMd5(col("text"), 3, 16).as("sig"))
      .unionByName(Seq(
        (200001L, Seq("aa", "bb", "cc")), // 3 elements under 4 bands × 4
        (200002L, Seq.empty[String]),
        (200003L, Seq("zz"))).toDF("doc_id", "sig"))
    for ((b, r) <- Seq((4, 4), (8, 2), (16, 1), (3, 5))) {
      val hof = strSigs.select(col("doc_id"),
          Dedup.bandsHof(col("sig"), b, r).as("bk"))
        .as[(Long, Seq[String])].collect().toMap
      val nat = strSigs.select(col("doc_id"), native(col("sig"), b, r).as("bk"))
        .as[(Long, Seq[String])].collect().toMap
      assert(nat == hof, s"string band keys differ at bands=$b rows=$r: " +
        hof.keys.filter(k => hof(k) != nat(k)).take(3).toSeq)
    }
    // xxhash64 (long) signatures: the HOF form concat_ws'd the slice
    // through an implicit array<bigint> → array<string> cast; the
    // native expression must render the identical decimal strings
    val longSigs = Tables.documents(spark, sf001).select("doc_id", "text")
      .select(col("doc_id"), Dedup.minhashSignature(col("text"), 2, 32).as("sig"))
      .unionByName(Seq(
        (200004L, Seq(Long.MinValue, -1L, 0L, Long.MaxValue)),
        (200005L, Seq.empty[Long])).toDF("doc_id", "sig"))
    val hofL = longSigs.select(col("doc_id"),
        Dedup.bandsHof(col("sig"), 8, 4).as("bk"))
      .as[(Long, Seq[String])].collect().toMap
    val natL = longSigs.select(col("doc_id"), native(col("sig"), 8, 4).as("bk"))
      .as[(Long, Seq[String])].collect().toMap
    assert(natL == hofL, "long band keys differ: " +
      hofL.keys.filter(k => hofL(k) != natL(k)).take(3).toSeq)
    // schema-invisible swap
    val hofType = strSigs.select(Dedup.bandsHof(col("sig"), 4, 4).as("bk"))
      .schema("bk").dataType
    val natType = strSigs.select(native(col("sig"), 4, 4).as("bk"))
      .schema("bk").dataType
    assert(natType == hofType, s"result type drifted: $natType vs $hofType")
  }

  test("bands() with a null band count returns a null row and declares a nullable result") {
    graft.functions.Bands.register(spark)
    // the signature is never null, so only the count can null the result
    val df = spark.sql("SELECT bands(sig, CAST(NULL AS INT), 2) AS bk FROM " +
      "(SELECT array('a', 'b', 'c', 'd') AS sig)")
    assert(df.schema("bk").nullable, df.schema.treeString)
    assert(df.collect().toSeq == Seq(org.apache.spark.sql.Row(null)))
  }

  test("B60 LSH candidates include every truly-similar pair (no false negatives)") {
    import spark.implicits._
    // construct near-duplicates: doc + same doc with last token changed
    val base = Tables.documents(spark, sf001).limit(20)
    val mutated = base
      .withColumn("doc_id", col("doc_id") + 5000)
      .withColumn("text", concat(col("text"), lit(" extratoken")))
    val corpus = base.unionByName(mutated)
    val candidates = Dedup.minhashCandidates(corpus, n = 2, bands = 8, rowsPerBand = 4)
      .as[(Long, Long)].collect().toSet
    val expected = base.select(col("doc_id")).as[Long].collect()
      .map(id => (id, id + 5000)).toSet
    val missed = expected -- candidates
    assert(missed.isEmpty, s"LSH missed near-dup pairs: $missed")
  }

  test("B60 md5-permutation LSH (oracle-portable variant) also catches near-dups") {
    import spark.implicits._
    val base = Tables.documents(spark, sf001).limit(20)
    val mutated = base
      .withColumn("doc_id", col("doc_id") + 5000)
      .withColumn("text", concat(col("text"), lit(" extratoken")))
    val corpus = base.unionByName(mutated)
    val candidates = Dedup.minhashCandidatesMd5(corpus, n = 3, bands = 8, rowsPerBand = 2)
      .as[(Long, Long)].collect().toSet
    val expected = base.select(col("doc_id")).as[Long].collect()
      .map(id => (id, id + 5000)).toSet
    val missed = expected -- candidates
    assert(missed.isEmpty, s"md5 LSH missed near-dup pairs: $missed")
  }

  test("null-text docs form no LSH candidate clique and are never paired") {
    import spark.implicits._
    // three null-text docs + two real near-dups: without the null guard
    // every null doc would share the all-null bucket with every other —
    // m(m-1)/2 bogus pairs and, downstream, silent deletion of unrelated
    // records by the survivor rule
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again"),
      (2L, "the quick brown fox jumps over the lazy dog again"),
      (900L, null.asInstanceOf[String]), (901L, null.asInstanceOf[String]),
      (902L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidatesMd5(docs, n = 3, bands = 4, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "real near-dup pair lost")
    assert(pairs.forall { case (a, b) => a < 900 && b < 900 },
      s"null-text docs paired: $pairs")
  }

  test("signLshCandidates fails fast when bands*bits exceeds the embedding dim") {
    val e = intercept[Exception] {
      Similarity.signLshCandidates(Tables.embeddings(spark, sf001),
        bands = 8, bits = 16).count() // 128 > dim 64
    }
    assert(e.getMessage != null && e.getMessage.contains("exceeds embedding dim")
      || e.getCause != null && e.getCause.getMessage.contains("exceeds embedding dim"),
      s"wrong failure: $e")
  }

  test("connected components: chains collapse transitively, singletons self-cluster") {
    import spark.implicits._
    // path graph 1-2-3-4-5-6-7-8 (diameter 7) forces multiple propagation
    // rounds; 10-11 is an independent component; 20 is a singleton node
    val nodes = (1L to 8L).union(Seq(10L, 11L, 20L)).toDF("doc_id")
    val edges = (1L to 7L).map(i => (i, i + 1)).union(Seq((10L, 11L)))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert((1L to 8L).forall(got(_) == 1L), s"chain did not collapse: $got")
    assert(got(10L) == 10L && got(11L) == 10L)
    assert(got(20L) == 20L)
  }

  test("dupClusters groups injected near-duplicates and keeps min-id survivors") {
    import spark.implicits._
    val base = Tables.documents(spark, sf001).limit(10)
    // two mutated generations of each doc: base ~ gen1 ~ gen2
    val gen1 = base.withColumn("doc_id", col("doc_id") + 5000)
      .withColumn("text", concat(col("text"), lit(" tailtok")))
    val gen2 = base.withColumn("doc_id", col("doc_id") + 10000)
      .withColumn("text", concat(col("text"), lit(" tailtok moretok")))
    val corpus = base.unionByName(gen1).unionByName(gen2)
    val clusters = Dedup.dupClusters(corpus, n = 3, bands = 8, rowsPerBand = 2)
      .as[(Long, Long)].collect().toMap
    val baseIds = base.select("doc_id").as[Long].collect()
    // every generation chain lands in its base doc's cluster
    baseIds.foreach { id =>
      assert(clusters(id + 5000) == clusters(id) && clusters(id + 10000) == clusters(id),
        s"chain for doc $id split: ${clusters(id)}, ${clusters(id + 5000)}, ${clusters(id + 10000)}")
      assert(clusters(id) <= id, "cluster label is not a min doc_id")
    }
  }

  test("B60 SimHash locality: near-identical docs have small hamming distance") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf001).limit(20)
      .select(col("doc_id"), col("text"),
        concat(col("text"), lit(" extratoken")).as("text2"))
    val dists = docs.select(
      Dedup.hamming(Dedup.simhashBits(col("text")), Dedup.simhashBits(col("text2"))).as("d"))
      .as[Int].collect()
    assert(dists.forall(_ <= 16), s"near-dup hamming too large: ${dists.toSeq}")
    // distinct random docs should usually differ by much more
    val cross = Tables.documents(spark, sf001).limit(10)
    val aa = cross.select(col("doc_id").as("ida"), Dedup.simhashBits(col("text")).as("sa"))
    val bb = cross.select(col("doc_id").as("idb"), Dedup.simhashBits(col("text")).as("sb"))
    val far = aa.join(bb, col("idb") > col("ida"))
      .select(Dedup.hamming(col("sa"), col("sb")).as("d")).as[Int].collect()
    assert(far.sum.toDouble / far.length > 8.0, "unrelated docs look similar")
  }

  test("B62 IVF search achieves high recall on genuinely clustered vectors") {
    import spark.implicits._
    // The fixture's label clusters are near-random (intra-label cosine
    // ~0.02 — measured), so IVF's recall contract is validated on
    // synthetic tight clusters instead; fixture behavior is covered by
    // the structural test below.
    val rnd = new scala.util.Random(7)
    val dim = 16
    val centers = Array.tabulate(10)(c =>
      Array.tabulate(dim)(d => if (d == c) 5.0f else 0.0f))
    val vecs = (0 until 200).map { i =>
      val c = i % 10
      val v = centers(c).clone()
      (0 until dim).foreach(d => v(d) = v(d) + rnd.nextGaussian().toFloat * 0.3f)
      (i.toLong, v.toSeq, c)
    }
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(emb, queries, 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(emb, Similarity.ivfCentroids(emb), queries,
      nprobe = 2, k = 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall too low on clustered data: $recall")
    // same bound with LEARNED centroids: seed k-means, re-bucket the
    // corpus by the learned assignment, search unchanged
    val cents = Similarity.kmeansCentroids(emb, k = 10, iters = 3)
    val bucketed = Similarity.assignClusters(emb, cents)
      .drop("label").withColumnRenamed("cluster", "label")
    val learned = Similarity.ivfTopK(bucketed, cents, queries, nprobe = 2, k = 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recallL = (exact & learned).size.toDouble / exact.size
    assert(recallL >= 0.9, s"IVF recall with k-means centroids too low: $recallL")
  }

  test("B62 bruteForceTopK rank order matches the window formulation exactly") {
    import spark.implicits._
    import graft.functions.Vec
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, sf001)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val agg = Similarity.bruteForceTopK(emb, queries, 10)
      .select("query_id", "vec_id", "cos_sim", "rnk")
      .as[(Long, Long, Double, Long)].collect().toSet
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val win = emb.crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        Vec.cosine6(col("embedding"), col("qvec")).as("cos_sim"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 10)
      .select("query_id", "vec_id", "cos_sim", "rnk")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(agg == win, s"topk_agg disagrees with window top-k:\n  agg-only=${(agg -- win).take(5)}\n  win-only=${(win -- agg).take(5)}")
  }

  test("B62 k-means on tight clusters recovers a pure partition") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 16
    val centers = Array.tabulate(10)(c =>
      Array.tabulate(dim)(d => if (d == c) 5.0f else 0.0f))
    val vecs = (0 until 200).map { i =>
      val c = i % 10
      val v = centers(c).clone()
      (0 until dim).foreach(d => v(d) = v(d) + rnd.nextGaussian().toFloat * 0.3f)
      (i.toLong, v.toSeq, c)
    }
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val cents = Similarity.kmeansCentroids(emb, k = 10, iters = 3)
    // every learned cluster contains members of exactly one true cluster
    val purity = Similarity.assignClusters(emb, cents)
      .groupBy("cluster")
      .agg(countDistinct(col("label")).as("n_true"))
      .select("n_true").as[Long].collect()
    assert(purity.nonEmpty && purity.forall(_ == 1),
      s"k-means clusters are impure: ${purity.toSeq}")
  }

  test("B62 IVF structural contract on fixture data: results come only from probed buckets") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf001)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val res = Similarity.ivfTopK(emb, Similarity.ivfCentroids(emb), queries,
      nprobe = 2, k = 10)
    // k results per query, ranks 1..10, all cos_sim in [-1,1]
    val perQuery = res.groupBy("query_id").count().select("count").as[Long].collect()
    assert(perQuery.forall(_ == 10))
    val labelsUsed = res.join(emb, Seq("vec_id"))
      .groupBy("query_id").agg(countDistinct(col("label")).as("nl"))
      .select("nl").as[Long].collect()
    assert(labelsUsed.forall(_ <= 2), s"results leaked outside nprobe buckets: ${labelsUsed.toSeq}")
  }

  test("B64 multimodal: binary payload + meta struct survive a parquet round-trip") {
    import spark.implicits._
    val packed = Multimodal.packBinary(Tables.documents(spark, sf001))
    val out = java.nio.file.Files.createTempDirectory("mm").toString
    packed.write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out)
    assert(back.schema("payload").dataType.typeName == "binary")
    assert(back.count() == packed.count())
    // payload decodes back to the original text; meta matches
    val mismatches = back
      .join(Tables.documents(spark, sf001), Seq("doc_id"))
      .filter(expr("cast(payload as string)") =!= col("text")
        || col("meta.n_bytes") =!= length(col("text")))
      .count()
    assert(mismatches == 0)
  }

  test("B64 decode stub + frame sampling produce bounded deterministic output") {
    val media = Multimodal.decodeStub(
      Multimodal.packBinary(Tables.documents(spark, sf001).limit(50)))
    val dims = media.select("decoded.width", "decoded.height").collect()
    assert(dims.forall(r => r.getInt(0) >= 1 && r.getInt(0) <= 1280
      && r.getInt(1) >= 1 && r.getInt(1) <= 720))
    val frames = Multimodal.frameSample(media, frameBytes = 16, stride = 32, maxFrames = 4)
    assert(frames.count() > 0)
    val counts = frames.groupBy("doc_id").count().select(max("count")).head().getLong(0)
    assert(counts <= 4, s"frame explosion unbounded: $counts")
    // deterministic: same input -> same output
    val again = Multimodal.frameSample(media, 16, 32, 4)
    assert(frames.exceptAll(again).isEmpty && again.exceptAll(frames).isEmpty)
  }

  test("B64 mapPartitions feature extraction emits fixed-dim vectors in [0,1]") {
    import spark.implicits._
    val media = Multimodal.packBinary(Tables.documents(spark, sf001).limit(30))
    val feats = Multimodal.extractFeatures(media, dim = 8)
    val rows = feats.select(col("features")).as[Seq[Double]].collect()
    assert(rows.length == 30)
    assert(rows.forall(f => f.length == 8 && f.forall(v => v >= 0.0 && v <= 1.0)))
  }

  test("int8 quantization round-trip preserves cosine > 0.999 and bounds codes") {
    import spark.implicits._
    import graft.functions.Vec
    val emb = Tables.embeddings(spark, sf001)
    val q = Vec.quantizeInt8(col("embedding"))
    val rows = emb.select(
      Vec.cosine6(col("embedding"), Vec.dequantizeInt8(q)).as("rt"),
      array_max(transform(q.getField("codes"), c => abs(c))).as("max_code"))
      .as[(Double, Int)].collect()
    assert(rows.forall(_._1 > 0.999), s"worst rt cosine: ${rows.map(_._1).min}")
    assert(rows.forall(_._2 <= 127), "code out of int8 range")
  }

  test("redact replaces emails, digit runs, and hex ids (order + case)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "contact me at someone@example.com thanks", "en", "s", 40L),
      (2L, "id 1234567890 and hash deadbeefdeadbeefdead", "en", "s", 44L),
      (3L, "clean text only", "en", "s", 15L),
      // hex id STARTING with a 6+ digit run: hex pass must win
      (4L, "token 00112233aabbccddeeff end", "en", "s", 30L),
      // mixed-case PII must still be caught
      (5L, "mail John.Doe@Example.COM and DEADBEEFDEADBEEFDEAD", "en", "s", 50L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.ops.TextAnalysis.redact(docs)
      .orderBy("doc_id").select("text_redacted").as[String].collect()
    assert(out(0) == "contact me at <EMAIL> thanks")
    assert(out(1) == "id <NUM> and hash <HEX>")
    assert(out(2) == "clean text only")
    assert(out(3) == "token <HEX> end", s"hex-with-digit-prefix mangled: ${out(3)}")
    assert(out(4) == "mail <EMAIL> and <HEX>", s"mixed case leaked: ${out(4)}")
  }

  test("B63 rolling fingerprint: shared content shares fingerprints") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf001).limit(10)
    val fp1 = TextAnalysis.rollingFingerprint(docs, k = 3, w = 4)
      .select(col("doc_id"), col("fingerprints"))
    val mutated = docs.withColumn("text", concat(lit("prefixword "), col("text")))
    val fp2 = TextAnalysis.rollingFingerprint(mutated, k = 3, w = 4)
      .select(col("doc_id").as("doc_id2"), col("fingerprints").as("fp2"))
    val overlap = fp1.join(fp2, col("doc_id") === col("doc_id2"))
      .select((size(array_intersect(col("fingerprints"), col("fp2"))).cast("double") /
        size(col("fingerprints"))).as("frac"))
      .as[Double].collect()
    assert(overlap.forall(_ > 0.5), s"fingerprint overlap too low: ${overlap.toSeq}")
  }

  test("B61 sign-LSH near-dup search finds every true near-duplicate pair") {
    import spark.implicits._
    // fixture embeddings are near-random (no cos>=0.9 pairs), so recall is
    // validated on constructed near-dups: same sign pattern, tiny
    // magnitude-only perturbation => LSH must propose the pair and the
    // exact rerank must keep it.
    val rnd = new scala.util.Random(11)
    val dim = 64
    val base = (0 until 50).map(i =>
      (i.toLong, Array.fill(dim)((rnd.nextFloat() - 0.5f) * 2f)))
    val dups = base.map { case (id, v) =>
      (id + 1000L, v.map(x => x * (1.0f + 0.01f * rnd.nextFloat()))) }
    val emb = (base ++ dups).toDF("vec_id", "embedding")
    val found = Similarity.cosineNearDupPairs(emb, bands = 8, bits = 8, threshold = 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val expected = base.map { case (id, _) => (id, id + 1000L) }.toSet
    val missed = expected -- found
    assert(missed.isEmpty, s"sign-LSH missed near-dup pairs: ${missed.take(5)}")
    // and the LSH result agrees with exact ground truth on what it proposes
    val exact = Similarity.cosineNearDupPairsExact(emb, maxId = 2000, threshold = 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(found.subsetOf(exact), "LSH+rerank produced a pair below threshold")
  }

  test("B64 frame sampling: no zero-length trailing frame, null payloads drop") {
    import spark.implicits._
    // 64 = exact multiple of stride 32 (the old floor(n/stride) bound
    // emitted a third, EMPTY frame here); 63 = one byte short; null text
    val docs = Seq(
      (1L, "a" * 64, "en", "web"),
      (2L, "b" * 63, "en", "web"),
      (3L, null.asInstanceOf[String], "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val media = Multimodal.packBinary(docs)
    val frames = Multimodal.frameSample(media, frameBytes = 16, stride = 32, maxFrames = 4)
      .select(col("doc_id"), col("frame_no"), octet_length(col("frame")).as("len"))
      .as[(Long, Int, Int)].collect()
    assert(frames.forall(_._3 > 0), s"zero-length frame emitted: ${frames.toSeq}")
    assert(frames.count(_._1 == 1L) == 2, "64B/stride 32 must yield exactly 2 frames")
    assert(frames.count(_._1 == 2L) == 2)
    assert(!frames.exists(_._1 == 3L), "null payload must yield no frames")
    // feature extraction tolerates the null payload (all-zero features)
    val feats = Multimodal.extractFeatures(media, dim = 4)
    assert(feats.count() == 3)
    val nullFeats = feats.filter(col("doc_id") === 3L)
      .select("features").as[Seq[Double]].head()
    assert(nullFeats == Seq(0.0, 0.0, 0.0, 0.0))
  }

  test("B63 tokenizer is whitespace-robust; empty docs score 0 quality, not null") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hello\nworld", "en", "web", 11),
      (2L, "a  b", "en", "web", 4),
      (3L, "", "en", "web", 0),
      (4L, "  the  end\t", "en", "web", 11))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val stats = TextAnalysis.tokenStats(docs)
      .select("doc_id", "ws_tokens").as[(Long, Int)].collect().toMap
    assert(stats == Map(1L -> 2, 2L -> 2, 3L -> 0, 4L -> 2),
      s"whitespace tokenization wrong: $stats")
    val q = TextAnalysis.qualityScore(docs).filter(col("doc_id") === 3L)
      .select("n_tokens", "punct_ratio", "stop_ratio", "avg_token_len", "quality")
      .as[(Int, Double, Double, Double, Double)].head()
    assert(q == ((0, 0.0, 0.0, 0.0, 0.0)),
      s"empty doc must score all-zero (null would pass quality<x gates): $q")
  }

  test("B155 HTML strip: blocks go wholesale, tags drop, entities decode, whitespace collapses, malformed degrades") {
    import spark.implicits._
    val cases = Seq(
      (1L, "<p>hello <b>world</b></p>"),
      (2L, "<script>if (a < b) alert('x');</script>keep"),
      (3L, "<STYLE media=\"all\">p{color:red}</STYLE>text"),
      (4L, "a&amp;b &lt;tag&gt; &quot;q&quot; it&#39;s a&nbsp;b"),
      (8L, "escaped: &amp;lt;b&amp;gt; stays literal"),
      (5L, "multi\n\n  space\t\tcollapse"),
      (9L, "vertical\u000Btab collapses"), // Java \s has U+000B, RE2 doesn't — class is explicit
      (6L, "<div><p>unclosed nesting <span>ok"), // malformed: degrade, don't throw
      (7L, "")
    ).toDF("doc_id", "text")
    val got = cases
      .select(col("doc_id"), TextAnalysis.stripHtml(col("text")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "hello world")
    assert(got(2L) == "keep", s"script body must vanish entirely: '${got(2L)}'")
    assert(got(3L) == "text", s"style body must vanish (case-insensitive): '${got(3L)}'")
    assert(got(4L) == "a&b <tag> \"q\" it's a b")
    assert(got(8L) == "escaped: &lt;b&gt; stays literal",
      s"&amp; must decode LAST (no double-decode): '${got(8L)}'")
    assert(got(5L) == "multi space collapse")
    assert(got(9L) == "vertical tab collapses")
    assert(got(6L) == "unclosed nesting ok")
    assert(got(7L) == "")
  }

  test("B139 semantic dedup: near-identical embedding groups collapse to the min-id survivor") {
    val spark2 = spark
    import spark2.implicits._
    // two tight groups (identical and sign-identical vectors share LSH
    // buckets and cosine 1.0) plus two orthogonal-ish singletons
    val v1 = Array.fill(64)(0.125f)
    val v2 = Array.tabulate(64)(i => if (i % 2 == 0) 0.17f else -0.05f)
    val lone1 = Array.tabulate(64)(i => if (i == 0) 1f else 0f)
    val lone2 = Array.tabulate(64)(i => if (i == 63) -1f else 0f)
    val corpus = Seq(
      (10L, v1), (11L, v1), (12L, v1),
      (20L, v2), (21L, v2),
      (30L, lone1), (40L, lone2)
    ).toDF("vec_id", "embedding")
    val out = graft.ops.Similarity.semanticDedup(corpus,
        bands = 8, bits = 8, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(out(10L) == ((10L, 1)) && out(11L) == ((10L, 0)) && out(12L) == ((10L, 0)),
      s"group 1 must collapse to min id 10: $out")
    assert(out(20L) == ((20L, 1)) && out(21L) == ((20L, 0)))
    assert(out(30L) == ((30L, 1)) && out(40L) == ((40L, 1)),
      "singletons survive as their own clusters")
    // survivor count = number of components
    assert(out.values.count(_._2 == 1) == 4)
  }
}
