package graft

import graft.ops.Dsir
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** B147 DSIR importance resampling: hashed-n-gram log importance
  * ratios rank target-like raw documents first; selection is
  * deterministic top-k over the raw pool only.
  */
class DsirSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    // target corpus: distinctive vocabulary "alpha beta gamma"
    (1L, "alpha beta gamma alpha beta", true),
    (2L, "beta gamma alpha beta gamma", true),
    // raw doc reusing target vocabulary — should outscore the rest
    (10L, "alpha beta gamma beta alpha", false),
    // raw doc with disjoint vocabulary
    (11L, "xray yankee zulu xray yankee", false),
    // raw doc mixing both
    (12L, "alpha beta zulu xray gamma", false)
  ).toDF("doc_id", "text", "tgt")

  test("target-like raw documents score higher; weights cover every doc") {
    val w = Dsir.weights(docs, "doc_id", "text", col("tgt"), buckets = 64)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(w.size == 5)
    val s10 = w(10L).getLong(3)
    val s11 = w(11L).getLong(3)
    val s12 = w(12L).getLong(3)
    assert(s10 > s12 && s12 > s11,
      s"expected target-like > mixed > disjoint, got $s10 / $s12 / $s11")
    // 5 tokens -> 5 unigrams + 4 bigrams
    assert(w(10L).getLong(2) == 9L)
  }

  test("native dsir_buckets is bit-identical to the HOF gram-bucket chain") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.ExprBridge
    // fixture docs + edges: empty text (one empty-string unigram),
    // single token (no bigrams), repeated spaces (split -1 keeps
    // empties), unicode
    val edges = Seq((400001L, ""), (400002L, "one"), (400003L, "a  b"),
      (400004L, "x y "), (400005L, "ü ö")).toDF("doc_id", "text")
    val all = graft.io.Tables.documents(spark, TestSpark.sf001)
      .select("doc_id", "text").unionByName(edges)
    for (buckets <- Seq(64, 1024)) {
      val hof = all.select(col("doc_id"),
          Dsir.gramBucketsHof(col("text"), buckets).as("b"))
        .as[(Long, Seq[Long])].collect().toMap
      val nat = all.select(col("doc_id"),
          ExprBridge.column(graft.functions.DsirBuckets(
            ExprBridge.expr(col("text")), Literal(buckets))).as("b"))
        .as[(Long, Seq[Long])].collect().toMap
      assert(nat == hof, s"bucket arrays differ at buckets=$buckets: " +
        hof.keys.filter(k => hof(k) != nat(k)).take(3).toSeq)
    }
  }

  test("dsir_buckets() with a null bucket count returns a null row and declares a nullable result") {
    graft.functions.DsirBuckets.register(spark)
    val df = spark.sql("SELECT dsir_buckets(text, CAST(NULL AS INT)) AS b FROM " +
      "(SELECT 'alpha beta' AS text)")
    assert(df.schema("b").nullable, df.schema.treeString)
    assert(df.collect().toSeq == Seq(org.apache.spark.sql.Row(null)))
  }

  test("selectTopK flags only raw docs, ranks deterministically, targets rank 0") {
    val sel = Dsir.selectTopK(
        Dsir.weights(docs, "doc_id", "text", col("tgt"), buckets = 64),
        "doc_id", k = 1)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("sel_rank"), r.getAs[Boolean]("selected"))).toMap
    assert(sel(1L) == (0L, false) && sel(2L) == (0L, false))
    assert(sel(10L) == (1L, true))
    assert(!sel(11L)._2 && !sel(12L)._2)
  }

  test("empty text contributes its single empty unigram and an exact integer weight") {
    val d = Seq((1L, "a b", true), (2L, "", false)).toDF("doc_id", "text", "tgt")
    val w = Dsir.weights(d, "doc_id", "text", col("tgt"), buckets = 16)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(w(2L).getLong(2) == 1L)
    // one gram, add-1 smoothing both sides: weight is one bucket's
    // micro log-ratio — bounded by |ln of the smoothed ratio| * 1e6
    assert(math.abs(w(2L).getLong(3)) < 20_000_000L)
  }

  test("ratio table stays bounded by the bucket count (broadcast-size invariant)") {
    val w = Dsir.weights(docs, "doc_id", "text", col("tgt"), buckets = 2)
      .collect()
    assert(w.length == 5) // 2 buckets absorb every gram; chain still total
  }
}
