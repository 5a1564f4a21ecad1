package graft

import graft.io.Tables
import graft.ops.Corpus
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §2B B120–B122: corpus-prep contracts the oracle sweep doesn't
  * pin — planted-contamination detection, packing tape invariants,
  * mixture determinism and rate semantics.
  */
class CorpusSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.sf001

  test("B120 contamination finds a planted benchmark copy and only reports real overlap") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf001)
    // plant: training doc 900001 IS benchmark doc 0's text; 900002 is clean
    val benchRow = docs.filter(col("doc_id") === 0)
      .select(lit(900001L).as("doc_id"), col("text"))
    val clean = Seq((900002L, "completely fresh words nowhere else zz yy xx ww vv uu"))
      .toDF("doc_id", "text")
    val train = docs.filter(col("doc_id") > 0).select("doc_id", "text")
      .unionByName(benchRow).unionByName(clean)
    val bench = docs.filter(col("doc_id") === 0).select("doc_id", "text")
    val rep = Corpus.ngramContamination(train, bench, "doc_id", "text", n = 4)
    val planted = rep.filter(col("doc_id") === 900001L).head()
    // a verbatim copy: every distinct 4-gram of the doc is contaminated
    assert(planted.getAs[Double]("hit_ratio") === 1.0)
    assert(planted.getAs[Long]("n_hit") === planted.getAs[Long]("n_grams"))
    val cleanRow = rep.filter(col("doc_id") === 900002L).head()
    assert(cleanRow.getAs[Long]("n_hit") === 0L)
    // ratio stays in [0,1] everywhere (per-doc grams are distinct'd)
    assert(rep.filter(col("hit_ratio") > 1.0 || col("hit_ratio") < 0.0).count() === 0)
  }

  test("B120 documents shorter than n words contribute no gram rows") {
    import spark.implicits._
    val tiny = Seq((1L, "only three words"), (2L, "a b c d e")).toDF("doc_id", "text")
    val g = Corpus.ngramDigests(tiny, "doc_id", "text", n = 4)
    assert(g.filter(col("doc_id") === 1L).count() === 0)
    assert(g.filter(col("doc_id") === 2L).count() === 2) // 5 - 4 + 1
  }

  test("B121 packing lays each stream's tape contiguously and chunks by the budget") {
    val packed = Corpus.packSequences(Tables.documents(spark, sf001),
      budget = 256, streamCol = "lang", orderCol = "doc_id", textCol = "text")
      .cache()
    // per stream: offsets are gapless — start_off == sum of earlier docs'
    // tokens, i.e. consecutive (start_off + n_tok) == next start_off
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy("doc_id")
    val gaps = packed
      .withColumn("prev_end", lag(col("start_off") + col("n_tok"), 1, 0L).over(w))
      .filter(col("start_off") =!= col("prev_end"))
    assert(gaps.count() === 0)
    // seq bounds are exactly the chunk indices of [start, start + n_tok)
    val bad = packed.filter(
      col("seq_first") =!= floor(col("start_off") / 256) ||
        col("seq_last") =!= floor((col("start_off") + col("n_tok") - 1) / 256) ||
        col("seq_last") < col("seq_first"))
    assert(bad.count() === 0)
    // a doc spanning k sequences has n_tok > (k-1)*budget - spans are real
    val spanBad = packed.filter(
      (col("seq_last") - col("seq_first")) * 256 - col("n_tok") >= lit(256))
    assert(spanBad.count() === 0)
    packed.unpersist()
  }

  test("B122 mixture rates cap at 1.0, rate-1 domains keep every row, selection is deterministic") {
    val d = Tables.documents(spark, sf001)
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
    val plan = Corpus.mixturePlan(d, "lang", "n_tok", targetShare = 0.2,
      budgetTokens = 50000L).cache()
    assert(plan.filter(col("rate") > 1.0).count() === 0)
    val sel = Corpus.mixtureSelect(d, plan, "lang", "doc_id").cache()
    // rate >= 1.0 domains are passed through whole
    val full = plan.filter(col("rate") >= 1.0).select("lang")
      .collect().map(_.getString(0)).toSet
    val perLang = d.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val selPerLang = sel.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    full.foreach { l => assert(selPerLang(l) === perLang(l), s"lang $l") }
    // downsampled domains select a strict, deterministic subset
    val sel2 = Corpus.mixtureSelect(d, plan, "lang", "doc_id")
    assert(sel.select("doc_id").exceptAll(sel2.select("doc_id")).count() === 0)
    assert(sel2.select("doc_id").exceptAll(sel.select("doc_id")).count() === 0)
    plan.unpersist(); sel.unpersist()
  }

  test("B122 a generous budget selects everything; a zero-ish rate selects almost nothing") {
    val d = Tables.documents(spark, sf001)
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
    val all = Corpus.mixtureSelect(d,
      Corpus.mixturePlan(d, "lang", "n_tok", 1.0, 100000000L), "lang", "doc_id")
    assert(all.count() === d.count())
    val tiny = Corpus.mixtureSelect(d,
      Corpus.mixturePlan(d, "lang", "n_tok", 0.001, 1000L), "lang", "doc_id")
    assert(tiny.count() < d.count() / 10)
  }

  test("B124 lmScore matches an independent JVM bigram-model computation") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat"),
      (3L, "quartz vex jumble"),
      (4L, "single"), // < 2 tokens: no bigrams, must drop out
      (5L, "The CAT sat!")) // case/punct-normalizes to doc 2's bigrams
      .toDF("doc_id", "text")
    val alpha = 0.5
    // independent model: plain Scala maps, no Spark involved
    val tok = Map(
      1L -> Seq("the", "cat", "sat", "on", "the", "mat"),
      2L -> Seq("the", "cat", "sat"),
      3L -> Seq("quartz", "vex", "jumble"),
      4L -> Seq("single"),
      5L -> Seq("the", "cat", "sat"))
    val bigrams = tok.toSeq.flatMap { case (id, t) =>
      t.zip(t.drop(1)).map(b => (id, b))
    }
    val c12 = bigrams.groupBy(_._2).map { case (b, xs) => b -> xs.size.toDouble }
    val c1 = bigrams.groupBy(_._2._1).map { case (w, xs) => w -> xs.size.toDouble }
    val vsize = tok.values.flatten.toSet.size.toDouble
    val expected = bigrams.groupBy(_._1).map { case (id, xs) =>
      val nll = xs.map { case (_, b) =>
        -math.log((c12(b) + alpha) / (c1(b._1) + alpha * vsize))
      }
      id -> (xs.size.toLong,
        BigDecimal(nll.sum / nll.size).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = Corpus.lmScore(docs, "doc_id", "text", alpha)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 5L), s"wrong doc set: ${got.keySet}")
    for ((id, (n, nll)) <- expected) {
      assert(got(id)._1 === n, s"doc $id bigram count")
      assert(math.abs(got(id)._2 - nll) < 1e-6, s"doc $id nll: got ${got(id)._2}, want $nll")
    }
    // the common-phrase docs must score LOWER (more likely) than the
    // rare-token doc — the thresholding property the filter relies on
    assert(got(2L)._2 < got(3L)._2)
  }

  test("B124 Zipf-head skew: salted scoring spreads the hot bigram and stays value-identical") {
    import spark.implicits._
    // natural-language bigram keys are Zipfian: at 100 TB the "of the"
    // partition of lmScore's bi⋈c12 shuffle dwarfs the rest, and AQE's
    // skew split cannot fire on this shape (the count-table side carries
    // its aggregate between shuffle and join — verified: no skew=true
    // even under forceOptimizeSkewedJoin). saltBuckets is the fix; this
    // pins BOTH halves of its contract on a synthetic Zipf head.
    val hot = (1L to 400L).map(i => (i, ("zz " * 60).trim)) // (zz,zz) × ~24k
    val tail = (401L to 800L).map(i => (i, s"w${i} x${i} y${i} q${i}"))
    val docs = (hot ++ tail).toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val plain = Corpus.lmScore(docs, "doc_id", "text")
    val salted = Corpus.lmScore(docs, "doc_id", "text", saltBuckets = 8)
    // 1. value-identical: salting changes placement, never arithmetic
    assert(canon(salted) == canon(plain))
    // 2. the salt key really is in the join (the hot key spreads over 8
    //    reducers instead of one)
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains(graft.ops.Skew.saltColName),
      s"salted plan lost the salt join key:\n${plan.take(3000)}")
    // 3. and the salt genuinely spreads the head: the hot bigram's rows
    //    take several distinct salt values (content-derived from doc_id)
    val spread = docs.filter(col("doc_id") <= 400)
      .select(pmod(xxhash64(col("doc_id"), lit("zz"), lit("zz")), lit(8L)).as("s"))
      .distinct().count()
    assert(spread >= 6, s"content salt spread only $spread/8 buckets")
  }

  test("B133 line dedup keeps first occurrence corpus-wide, bypasses short lines, reassembles in order") {
    val spark2 = spark
    import spark2.implicits._
    val boiler = "subscribe to our newsletter today"
    val docs = Seq(
      (1L, s"unique opening paragraph one\n$boiler\nclosing thoughts of doc one"),
      (2L, s"$boiler\nsecond document's own content here"),
      (3L, s"$boiler\n$boiler\na b\nthird doc body text line"),
      // every long line a duplicate of doc 1/3 content? no — all dup of boiler
      (4L, s"$boiler")
    ).toDF("doc_id", "text")
    val out = graft.ops.Corpus.dedupLines(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    // doc 1 saw the boilerplate first (smallest doc_id) — keeps all 3 lines
    assert(out(0).getString(1) ==
      s"unique opening paragraph one\n$boiler\nclosing thoughts of doc one")
    assert(out(0).getLong(2) == 3 && out(0).getLong(3) == 0)
    // doc 2 loses the boilerplate, keeps its own line
    assert(out(1).getString(1) == "second document's own content here")
    assert(out(1).getLong(2) == 1 && out(1).getLong(3) == 1)
    // doc 3: both boiler copies lost (first occurrence is doc 1's), the
    // short "a b" line bypasses dedup, own body kept — order preserved
    assert(out(2).getString(1) == "a b\nthird doc body text line")
    assert(out(2).getLong(2) == 2 && out(2).getLong(3) == 2)
    // doc 4: everything lost — row still comes back, empty
    assert(out(3).getString(1) == "" && out(3).getLong(2) == 0 && out(3).getLong(3) == 1)
    // short duplicate lines are untouched in every doc
    val short = Seq((10L, "a b\nc d"), (11L, "a b\nc d")).toDF("doc_id", "text")
    val so = graft.ops.Corpus.dedupLines(short, "doc_id", "text").orderBy("doc_id").collect()
    assert(so.forall(r => r.getString(1) == "a b\nc d" && r.getLong(3) == 0))
  }

  test("span dedup: duplicated n-token spans leave EVERY doc; within-doc repeats count; short docs bypass") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps high"),   // shares 'the quick brown' with 2
      (2L, "the quick brown dog sits low"),
      (3L, "entirely unique words live here fine"),
      (4L, "spam spam spam spam"),              // within-doc repeated 'spam spam spam'
      (5L, "too short")                         // < n tokens, bypasses
    ).toDF("doc_id", "text")
    val out = graft.ops.Corpus.dedupSpans(docs, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // the shared leading 3-gram is cut from BOTH docs (no survivor —
    // the ExactSubstr semantics), the unique tails stay
    assert(out(0) == (1L, "fox jumps high", 6L, 3L))
    assert(out(1) == (2L, "dog sits low", 6L, 3L))
    assert(out(2) == (3L, "entirely unique words live here fine", 6L, 0L))
    // 'spam spam spam' occurs twice WITHIN doc 4 (positions 0 and 1) —
    // the spans overlap-cover all four tokens, everything goes
    assert(out(3) == (4L, "", 4L, 4L))
    assert(out(4) == (5L, "too short", 2L, 0L))
  }

  test("BPE pair counts: word-frequency weighting, single-char words bypass, multibyte chars pair by character") {
    import spark.implicits._
    val docs = Seq(
      (1L, "low low lower"),   // low x2 + lower x1
      (2L, "low a 日本語")      // low x1 more; 'a' bypasses; CJK pairs
    ).toDF("doc_id", "text")
    val m = graft.ops.Corpus.bpePairCounts(docs, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 'lo'/'ow' come from low (n=3) AND lower (n=1)
    assert(m("lo") == 4L && m("ow") == 4L)
    assert(m("we") == 1L && m("er") == 1L)
    assert(m("日本") == 1L && m("本語") == 1L)
    assert(!m.contains("a "))
  }

  test("shuffle shards: deterministic per seed, reshuffles across seeds, dense per-shard sequences") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val a = graft.ops.Corpus.shuffleShards(docs, "doc_id", "epoch0", 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    val b = graft.ops.Corpus.shuffleShards(docs, "doc_id", "epoch0", 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    val c = graft.ops.Corpus.shuffleShards(docs, "doc_id", "epoch1", 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    assert(a.sameElements(b), "same seed must reproduce the identical permutation")
    assert(!a.sameElements(c), "a new seed must reshuffle")
    assert(a.length == 200 && a.map(_._1).distinct.length == 200)
    assert(a.forall(t => t._2 >= 0 && t._2 < 4))
    // within each shard the positions are exactly 0..n-1
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.sameElements(rows.indices.map(_.toLong)))
    }
  }

  test("chunking: windows, overlap, tails, exact multiples, empty docs, no-overlap stride") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abcdefghij"),      // len 10: one short window
      (2L, "a" * 25),          // len 25 @ chunk 10 stride 5: 4 windows, tail len 10
      (3L, "b" * 20),          // len 20: exact multiple -> 3 windows, tail len 10
      (4L, ""),                // empty -> no rows
      (5L, "c" * 11)           // len 11: 2 windows, tail len 6
    ).toDF("doc_id", "text")
    val out = graft.ops.Corpus.chunk(docs, "doc_id", "text", 10, 5)
      .orderBy("doc_id", "chunk_no").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(!out.exists(_._1 == 4L), "empty docs must yield no chunks")
    assert(out.filter(_._1 == 1L).map(_._4).toSeq == Seq("abcdefghij"))
    val d2 = out.filter(_._1 == 2L)
    assert(d2.length == 4 && d2.map(_._3).toSeq == Seq(0L, 5L, 10L, 15L))
    assert(d2.forall(_._4.length == 10))
    // consecutive windows overlap by chunk - stride characters
    assert(d2(0)._4.drop(5) == d2(1)._4.take(5))
    val d3 = out.filter(_._1 == 3L)
    assert(d3.length == 3 && d3.last._4.length == 10)
    val d5 = out.filter(_._1 == 5L)
    assert(d5.length == 2 && d5.last._4 == "c" * 6)
    // full coverage: every char of every doc appears in some window
    assert(d5.map(t => (t._3, t._3 + t._4.length)).foldLeft(0L) {
      case (cov, (s, e)) => assert(s <= cov); math.max(cov, e) } == 11L)
    // stride == chunk: disjoint windows tile the text exactly
    val tiled = graft.ops.Corpus.chunk(docs.filter($"doc_id" === 2L),
      "doc_id", "text", 10, 10).orderBy("chunk_no").collect()
    assert(tiled.map(_.getString(3)).mkString == "a" * 25)
    // invalid strides refuse
    intercept[IllegalArgumentException](
      graft.ops.Corpus.chunk(docs, "doc_id", "text", 10, 11))
    intercept[IllegalArgumentException](
      graft.ops.Corpus.chunk(docs, "doc_id", "text", 10, 0))
  }

  test("native NgramMd5 is bit-identical to the HOF digest form (16 and 32 hex)") {
    import spark.implicits._
    import org.apache.spark.sql.graft.ExprBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    // fixture docs plus edge cases: empty text, fewer words than n,
    // doubled/trailing spaces (split limit -1 keeps empties), exactly n
    val edges = Seq((900101L, ""), (900102L, "one two"), (900103L, "a  b c d"),
      (900104L, "a b c "), (900105L, "w x y z")).toDF("doc_id", "text")
    val docs = Tables.documents(spark, sf001).select("doc_id", "text")
      .unionByName(edges)
    for (hexLen <- Seq(16, 32)) {
      val n = 4
      val w = split(col("text"), " ")
      val hof = docs.select(col("doc_id"), w.as("w"))
        .filter(size(col("w")) >= n)
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(1), size(col("w")) - (n - 1)),
            i => substring(md5(array_join(slice(col("w"), i, lit(n)), " ")), 1, hexLen))))
        .as[(Long, Int, String)].collect().toSet
      val native = docs.select(col("doc_id"), posexplode(ExprBridge.column(
          graft.functions.NgramMd5(
            ExprBridge.expr(col("text")), Literal(n), Literal(hexLen)))))
        .as[(Long, Int, String)].collect().toSet
      assert(native == hof,
        s"hexLen=$hexLen: ${(native -- hof).take(3)} vs ${(hof -- native).take(3)}")
    }
  }

  test("native Bigrams is value-identical to the zip_with/slice HOF form") {
    import spark.implicits._
    import org.apache.spark.sql.graft.ExprBridge
    // fixture docs plus edge cases: empty, one token, exactly two,
    // punctuation-only, unicode uppercase (lower() parity), digits,
    // leading/trailing separators (split's boundary empties), mixed
    // unicode/digit token boundaries, single-character tokens
    val edges = Seq((910101L, ""), (910102L, "solo"), (910103L, "Two words"),
      (910104L, "?!,;"), (910105L, "ÀÉÎ öü ss"), (910106L, "a1 2b c3 4d"),
      (910107L, "  lead and trail  "), (910108L, "x—y–z"),
      (910109L, "A-b C9 ü x"), (910110L, "a b")).toDF("doc_id", "text")
    val docs = Tables.documents(spark, sf001).select("doc_id", "text")
      .unionByName(edges)
    val t = array_remove(split(lower(col("text")), "[^a-z0-9]+"), "")
    val hof = docs.select(col("doc_id"), t.as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        posexplode(zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))))
      .select(col("doc_id"), col("pos"), col("col.w1"), col("col.w2"))
      .as[(Long, Int, String, String)].collect().toSet
    val native = docs.select(col("doc_id"),
        posexplode(ExprBridge.column(
          graft.functions.Bigrams(ExprBridge.expr(col("text"))))))
      .select(col("doc_id"), col("pos"), col("col.w1"), col("col.w2"))
      .as[(Long, Int, String, String)].collect().toSet
    assert(native == hof,
      s"${(native -- hof).take(3)} vs ${(hof -- native).take(3)}")
  }
}
