package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-corpus preparation operators: benchmark decontamination,
  * sequence packing, and domain-mixture resampling — the three
  * corpus-level transforms a pretraining data pipeline runs AFTER
  * dedup/quality filtering ([[Dedup]], [[TextAnalysis]]) and BEFORE
  * export.
  *
  * All three are engine-portable by construction (md5-based hashing and
  * IEEE-double arithmetic only), so each has an exact DuckDB oracle in
  * the harness — no rows-only escape hatch.
  *
  * Scale shape, per operator:
  *  - [[ngramContamination]]: candidate generation is an equi-join on a
  *    16-hex-char n-gram digest; the benchmark side is distinct'd first
  *    and in practice tiny relative to the corpus (benchmarks are MBs,
  *    corpora are TBs), so Catalyst broadcasts it and the training side
  *    never shuffles its grams. The shuffle that remains is the per-doc
  *    count aggregation — O(distinct grams), never O(text bytes).
  *  - [[packSequences]]: the cumulative-offset window partitions by the
  *    stream column, so packing is embarrassingly parallel across
  *    streams; no global total order exists anywhere in the plan (a
  *    single-stream call degenerates to one partition — callers at 100 TB
  *    pack per shard/language, which is also what training shards want).
  *  - [[mixturePlan]] / [[mixtureSelect]]: one aggregate over the corpus
  *    to size each domain, then the tiny per-domain rate table joins back
  *    by broadcast; selection is a row-local hash compare, shuffle-free.
  */
object Corpus {

  /** Word n-gram digests per document: `(idCol, h)` where `h` is the
    * first 16 hex chars of md5 over the space-joined n-gram. Documents
    * shorter than `n` words contribute no rows (and so never reach the
    * contamination join). The digest (not the gram text) is what
    * shuffles — 16 bytes per gram regardless of gram length.
    */
  def ngramDigests(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    // native one-loop digest array ([[graft.functions.NgramMd5]]),
    // bit-identical to the HOF transform/slice/array_join form it
    // replaces (CorpusSpec pins parity) without the interpreted
    // per-gram lambda + slice/join/hex allocations; a short doc yields
    // an empty array, so explode drops it — the same "no rows below n
    // words" contract the size filter used to enforce, one split cheaper
    import org.apache.spark.sql.graft.ExprBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    docs.select(col(idCol),
      explode(ExprBridge.column(graft.functions.NgramMd5(
        ExprBridge.expr(col(textCol)), Literal(n), Literal(16)))).as("h"))
  }

  /** Benchmark decontamination report: for every training document, how
    * many of its DISTINCT word n-grams also appear in the benchmark set
    * (the n-gram-overlap contamination check run before pretraining, so
    * eval answers are not in the training set). Returns one row per
    * training document with >= n words:
    * `(idCol, n_grams, n_hit, hit_ratio)` — callers decontaminate by
    * dropping/redacting rows above a ratio threshold.
    *
    * The benchmark side is distinct'd to a bare digest column before the
    * join; training grams are distinct'd per document so a gram repeated
    * inside one doc counts once (ratio stays in [0,1]).
    */
  def ngramContamination(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val benchGrams = ngramDigests(bench, idCol, textCol, n).select("h").distinct()
    val trainGrams = ngramDigests(train, idCol, textCol, n).distinct()
    // ONE pass over the training gram stream: a left join against the
    // (distinct'd, tiny) benchmark digests marks hits, and a single
    // per-doc aggregate counts totals and hits together. The previous
    // shape — separate `tot` and `hit` aggregates re-joined per doc —
    // aggregated the corpus-scale gram stream twice and paid a third
    // shuffle for the tot⋈hit join; count(mark) over the left join is
    // value-identical (bench digests are distinct, so the join never
    // multiplies rows).
    trainGrams
      .join(broadcast(benchGrams.withColumn("_hit", lit(1))), Seq("h"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"), count(col("_hit")).as("n_hit"))
      .select(col(idCol), col("n_grams"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_grams"), 6).as("hit_ratio"))
  }

  /** Concatenate-then-chunk sequence packing (the GPT-style pretraining
    * layout): documents in each stream are laid end to end in `orderCol`
    * order and the token stream is cut into fixed `budget`-token
    * sequences. Returns per-document placement:
    * `(orderCol, streamCol, n_tok, start_off, seq_first, seq_last)` —
    * `start_off` is the document's offset into its stream's token tape,
    * `seq_first`/`seq_last` the first and last sequence index it lands
    * in (a document longer than `budget` spans several).
    *
    * Token count = whitespace word count; swap in a real tokenizer by
    * pre-computing a token-count column and calling [[packCounted]].
    */
  def packSequences(docs: DataFrame, budget: Int,
      streamCol: String, orderCol: String, textCol: String): DataFrame =
    packCounted(
      docs.withColumn("n_tok", size(split(col(textCol), " ")).cast("long")),
      budget, streamCol, orderCol)

  /** [[packSequences]] over a pre-tokenized frame carrying `n_tok`. */
  def packCounted(docs: DataFrame, budget: Int,
      streamCol: String, orderCol: String): DataFrame = {
    require(budget >= 1, s"sequence budget must be >= 1, got $budget")
    val w = Window.partitionBy(streamCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("cum", sum(col("n_tok")).over(w))
      .select(col(orderCol), col(streamCol), col("n_tok"),
        (col("cum") - col("n_tok")).as("start_off"),
        floor((col("cum") - col("n_tok")) / budget).as("seq_first"),
        floor((col("cum") - 1) / budget).as("seq_last"))
  }

  /** Exact-substring span dedup (the ExactSubstr pass of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL
    * 2022): any `n`-token span whose exact text occurs 2+ times ACROSS
    * THE CORPUS is removed from every document it appears in (the
    * published tool's semantics — all copies go; the doc-level and
    * line-level passes keep survivors, this one cuts repeated
    * boilerplate wherever it hides inside otherwise-unique documents).
    * Documents shorter than `n` tokens bypass. Returns one row per
    * input document: `(idCol, text_dedup, n_tokens, n_tokens_dropped)`
    * — tokens are whitespace words, re-joined single-spaced (the same
    * normalization both engines compute, so the result is oracle-able).
    *
    * Scale shape: gram digests are the ONLY join key (16-byte md5 of
    * the span text — never span text itself); the duplicate election is
    * an algebraic count on the digest (map-side combine absorbs hot
    * boilerplate), matched start positions fold back per document as a
    * small array, and coverage is a codegen'd `exists` per token — no
    * token×span join, no window over corpus-scale rows, two shuffles
    * total (digest, then document key).
    */
  def dedupSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 2, s"span length must be >= 2 tokens, got $n")
    val toks = docs.select(col(idCol), split(col(textCol), " ").as("t"))
    // native one-loop digest array (full 32-hex here) — the posexplode
    // positions are the same ascending window starts the HOF
    // transform/sequence form produced, and a short doc's empty array
    // explodes to no rows exactly like the size filter did
    val grams = {
      import org.apache.spark.sql.graft.ExprBridge
      import org.apache.spark.sql.catalyst.expressions.Literal
      docs.select(col(idCol), posexplode(ExprBridge.column(
          graft.functions.NgramMd5(
            ExprBridge.expr(col(textCol)), Literal(n), Literal(32)))))
        .select(col(idCol), col("pos").as("p"), col("col").as("digest"))
    }
    val dup = grams.groupBy("digest")
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
    val matched = grams.join(dup.select("digest"), "digest")
      .groupBy(col(idCol)).agg(collect_list(col("p")).as("starts"))
    toks.join(matched, Seq(idCol), "left")
      .select(col(idCol), col("t"),
        coalesce(col("starts"), array().cast("array<int>")).as("starts"))
      .select(col(idCol), col("t"),
        filter(zip_with(col("t"), sequence(lit(0), size(col("t")) - 1),
            (w, i) => struct(w.as("w"), i.as("i"))),
          s => !exists(col("starts"),
            p => p <= s.getField("i") && s.getField("i") < p + n)).as("kept"))
      .select(col(idCol),
        array_join(transform(col("kept"), s => s.getField("w")), " ")
          .as("text_dedup"),
        size(col("t")).cast("long").as("n_tokens"),
        (size(col("t")) - size(col("kept"))).cast("long").as("n_tokens_dropped"))
  }

  /** Sliding-window document chunking (the RAG / long-context prep
    * pass): split each document into fixed-size character windows of
    * `chunkChars` advancing by `stride`, so consecutive chunks overlap
    * by `chunkChars - stride` characters and the final window carries
    * the (possibly shorter) tail. Returns one row per chunk:
    * `(idCol, chunk_no, chunk_start, chunk_text, n_chars)`; empty
    * documents yield no chunks. Chunk count per doc =
    * `1 + ceil((len - chunkChars) / stride)` once the text outgrows one
    * window.
    *
    * Scale shape: a single codegen'd `sequence`→`transform`→`posexplode`
    * per row — no shuffle, no UDF, no driver participation; output rows
    * scale with corpus chars / stride, embarrassingly parallel at any
    * corpus size. Character windows by design (deterministic and
    * oracle-able); token-aligned chunking = pre-tokenize and chunk the
    * token array with the same expression shape.
    */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
      chunkChars: Int, stride: Int): DataFrame = {
    require(chunkChars >= 1, s"chunkChars must be >= 1, got $chunkChars")
    require(stride >= 1 && stride <= chunkChars,
      s"stride must be in [1, chunkChars], got $stride")
    val len = length(col(textCol))
    val nChunks = when(len <= chunkChars, lit(1))
      .otherwise(ceil((len - lit(chunkChars)).cast("double") / stride)
        .cast("int") + 1)
    docs.filter(len > 0)
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => col(textCol).substr(i * stride + 1, lit(chunkChars)))))
      .select(col(idCol),
        col("pos").cast("long").as("chunk_no"),
        (col("pos") * stride).cast("long").as("chunk_start"),
        col("col").as("chunk_text"),
        length(col("col")).cast("long").as("n_chars"))
  }

  /** Corpus-wide adjacent-symbol pair frequencies — the counting step a
    * BPE tokenizer trainer iterates (Sennrich et al., ACL 2016: the
    * highest-count pair becomes the next merge). Pairs are adjacent
    * CHARACTER bigrams within whitespace words, weighted by word
    * frequency. Returns `(pair, pair_count)`.
    *
    * Scale shape — the reason this is two cheap shuffles and not a
    * corpus explosion: the corpus first aggregates to its VOCABULARY
    * (`word → count`, map-side combine absorbs the Zipf head), and only
    * the distinct-word frame — O(vocab), millions of rows at 100 TB,
    * not trillions — explodes into character pairs. The driver never
    * participates; iterating trainers re-call with the previous round's
    * merges applied upstream (the expression shape is merge-agnostic:
    * it pairs whatever symbols whitespace splitting yields).
    */
  def bpePairCounts(docs: DataFrame, textCol: String): DataFrame = {
    val vocab = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("n"))
    vocab
      .select(col("n"), explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum(col("n")).as("pair_count"))
  }

  /** Deterministic epoch shuffle + shard assignment (the training-order
    * pass every data loader needs): each document's shuffle key is
    * `md5(seed # id)` — content-stable (the same corpus and seed always
    * produce the same order; a new seed reshuffles for the next epoch;
    * no RNG, no partition-order sensitivity) — its shard is the key's
    * first 8 hex chars mod `shards`, and its position within the shard
    * is the dense rank of the key. Returns one row per document:
    * `(idCol, shard, seq_in_shard, shuffle_key)`.
    *
    * Scale shape: ONE hash shuffle keyed by the shard column, then a
    * per-shard sort + row_number — each window partition is exactly one
    * shard, so the per-task working set is corpus/`shards`. Callers size
    * `shards` so a shard is a few GB (which is also what training shard
    * FILES want to be): at 100 TB that's tens of thousands of shards,
    * each a task-sized unit. Writing follows the same key:
    * `repartition(col("shard")).sortWithinPartitions("seq_in_shard")`
    * streams each shard file in final order with no further shuffle.
    */
  def shuffleShards(docs: DataFrame, idCol: String, seed: String,
      shards: Int): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    import org.apache.spark.sql.expressions.Window
    val key = md5(concat(lit(seed), lit("#"), col(idCol).cast("string")))
    val w = Window.partitionBy("shard")
      .orderBy(col("shuffle_key"), col(idCol))
    docs.select(col(idCol), key.as("shuffle_key"))
      .withColumn("shard",
        (conv(substring(col("shuffle_key"), 1, 8), 16, 10).cast("long")
          % shards).cast("int"))
      .withColumn("seq_in_shard", row_number().over(w).cast("long") - 1)
      .select(col(idCol), col("shard"), col("seq_in_shard"),
        col("shuffle_key"))
  }

  /** Per-domain resampling plan for a target mixture: each domain's
    * sampling rate to hit `targetShare * budgetTokens` tokens from it
    * (capped at 1.0 — this layer never upsamples; epoch repetition is the
    * trainer's job). Returns `(groupCol, n_docs, tokens, rate)`.
    */
  def mixturePlan(docs: DataFrame, groupCol: String, tokCol: String,
      targetShare: Double, budgetTokens: Long): DataFrame = {
    require(targetShare > 0 && targetShare <= 1.0,
      s"targetShare must be in (0,1], got $targetShare")
    docs.groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"), sum(col(tokCol)).as("tokens"))
      .withColumn("rate",
        least(lit(1.0), lit(targetShare) * budgetTokens / col("tokens").cast("double")))
  }

  /** Deterministic per-domain downsampling against a [[mixturePlan]]:
    * a document survives iff the first 8 hex chars of `md5(id)` fall
    * below the domain's rate threshold — content-stable (the same corpus
    * always selects the same rows; no RNG, no partition-order
    * sensitivity), and engine-portable for the oracle. The plan side is
    * a handful of rows, so the join broadcasts; the hash compare is
    * row-local. A rate >= 1.0 keeps every row (the threshold compare
    * alone cannot express "all": floor(2^32) does not fit 8 hex chars).
    */
  def mixtureSelect(docs: DataFrame, plan: DataFrame,
      groupCol: String, idCol: String): DataFrame = {
    val thr = lpad(lower(hex(floor(col("rate") * lit(4294967296L)).cast("long"))),
      8, "0")
    docs.join(broadcast(plan.select(col(groupCol), col("rate"))), groupCol)
      .filter(col("rate") >= 1.0 ||
        substring(md5(col(idCol).cast("string")), 1, 8) < thr)
  }

  /** Bigram-LM corpus scoring (B124): per-document average negative
    * log-likelihood under an add-α-smoothed bigram model trained on the
    * corpus itself — the perplexity-style quality signal real pipelines
    * threshold on (boilerplate and templated spam score low, rare-token
    * noise scores high). `p(w2|w1) = (c(w1,w2)+α) / (c1(w1)+α·V)` with
    * `c1` = occurrences of `w1` as a bigram head and `V` = corpus
    * vocabulary size; the score is `avg(-ln p)` over a doc's bigrams
    * (perplexity = e^score). Docs with fewer than 2 tokens have no
    * bigrams and drop out.
    *
    * Scale shape: tokenization and bigram assembly are one compiled
    * loop per row ([[graft.functions.Bigrams]] — no shuffle, no UDF,
    * no interpreted lambda); the
    * model is two count aggregates over the bigram stream; scoring
    * re-joins the stream to the counts on the bigram key — all
    * equi-shuffles on count tables ≪ corpus size, with the vocabulary
    * scalar broadcast as one row. Nothing collects to the driver.
    *
    * Skew note (100 TB): bigram keys are Zipfian — the `bi ⋈ c12`
    * shuffle's "of the" partition dwarfs the rest. AQE's skew-join split
    * CANNOT rescue this plan: `OptimizeSkewedJoin` only matches a
    * sort-merge join whose children are bare shuffle stages, and the
    * count-table side here always carries its aggregate between shuffle
    * and join (verified against the executed plan — no split fires even
    * with `forceOptimizeSkewedJoin`). `saltBuckets > 1` therefore
    * pre-salts declaratively via [[Skew.saltedJoinMulti]]: the
    * corpus-scale bigram stream takes a content-derived salt (doc_id
    * varies within a hot key, so the head really spreads), the count
    * table replicates `saltBuckets`× (it is ≪ corpus), and each hot
    * key's rows land on `saltBuckets` reducers instead of one. Join
    * multiplicity is unchanged, so the result is value-identical
    * (CorpusSpec pins salted ≡ unsalted on a synthetic Zipf head).
    * Default 1 = unsalted, the right plan when counts broadcast.
    */
  def lmScore(docs: DataFrame, idCol: String, textCol: String,
      alpha: Double = 0.5, saltBuckets: Int = 1): DataFrame = {
    import org.apache.spark.sql.graft.ExprBridge
    // array_remove, not filter(length>0): value-identical and codegen'd
    // (the HOF filter interprets its lambda per token on the hot path)
    val tokCol = array_remove(split(lower(col(textCol)), "[^a-z0-9]+"), "")
    val toks = docs.select(col(idCol), tokCol.as("t"))
    // Bigram assembly is the native single-loop expression
    // ([[graft.functions.Bigrams]]): value-identical to the zip_with/
    // slice HOF form (parity pinned in CorpusSpec) but compiled —
    // this subtree is evaluated on every corpus pass (c12 build AND
    // the probe side), so the per-row win applies twice. <2 tokens →
    // empty array, so explode keeps the old filter(size>=2) contract.
    val bi = docs.select(col(idCol),
        explode(ExprBridge.column(graft.functions.Bigrams(
          ExprBridge.expr(col(textCol))))).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c12 = bi.groupBy("w1", "w2")
      .agg(count(lit(1)).cast("double").as("n12"))
    // head counts ride the (small) bigram-count table as a WINDOW sum —
    // c1(w1) = Σ_w2 c12(w1,w2), exact (integral counts, double-safe) —
    // not a separate groupBy branch: a second aggregate over c12 made
    // the optimizer plan the corpus-scale tokenize+explode+count
    // subtree TWICE (the c12 build feeds a broadcast, so there is no
    // shuffle stage for AQE to reuse), and the executed plan re-scanned
    // the corpus just to rebuild c12 for the rollup. The window
    // shuffles only the vocab²-scale count table, and carrying n1 on
    // the same row halves the probe joins (one broadcast, not two).
    val counts = c12.withColumn("n1",
      sum(col("n12")).over(Window.partitionBy("w1")))
    val v = toks.select(explode(col("t")).as("w"))
      .agg(countDistinct(col("w")).cast("double").as("vsize"))
    val withCounts =
      if (saltBuckets <= 1) bi.join(counts, Seq("w1", "w2"))
      else Skew.saltedJoinMulti(bi, counts, Seq("w1", "w2"), saltBuckets)
    withCounts
      .crossJoin(broadcast(v))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log((col("n12") + alpha) / (col("n1") + lit(alpha) * col("vsize")))), 6)
          .as("nll"))
  }

  /** Corpus-global line/span dedup (the C4 / RefinedWeb pass): any line
    * of `minChars`+ characters that occurs more than once ACROSS the
    * whole corpus is kept only at its first occurrence (smallest
    * (`idCol`, line position)); shorter lines bypass dedup entirely —
    * they are structure (blank lines, bullets), not content, and
    * cutting them would mangle documents while their duplicate mass
    * would make the line key maximally skewed. Documents are split on
    * `sep` (literal), deduped, and reassembled in original line order.
    *
    * Returns one row per INPUT document:
    * `(idCol, text_dedup, n_kept, n_dropped)` — `text_dedup` is the
    * empty string when every line was a seen-elsewhere duplicate.
    *
    * Scale shape: the election is `groupBy(md5(line)) → min(doc, pos)`
    * — an algebraic aggregate, so hot keys (boilerplate repeated across
    * millions of pages) pre-combine map-side and no single task owns a
    * popular line (a window `row_number() OVER (PARTITION BY line)`
    * would). The join of lines back to their winners is equi on the
    * digest; its skew is AQE's to split (same contract as
    * [[lmScore]]'s count join). Reassembly shuffles once on the
    * document key — uniform by construction. Only the 16-byte digest,
    * never line text, is a JOIN KEY anywhere.
    */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", minChars: Int = 10): DataFrame = {
    require(minChars >= 1, s"minChars must be >= 1, got $minChars")
    val lines = docs
      .select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))))
      .withColumnRenamed("pos", "line_no")
      .withColumnRenamed("col", "line")
    val elig = lines.filter(length(col("line")) >= minChars)
      .withColumn("h", md5(col("line")))
    val winners = elig.groupBy("h")
      .agg(min(struct(col(idCol), col("line_no"))).as("keep"))
    val keptElig = elig.join(winners, "h")
      .where(struct(col(idCol), col("line_no")) === col("keep"))
      .select(col(idCol), col("line_no"), col("line"))
    val keptShort = lines.filter(length(col("line")) < minChars)
      .select(col(idCol), col("line_no"), col("line"))
    val kept = keptElig.unionByName(keptShort)
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("line_no"), col("line")))),
            x => x.getField("line")), sep).as("text_dedup"),
        count(lit(1)).as("n_kept"))
    // every input document comes back, even one whose lines all lost
    docs.select(col(idCol),
        size(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .cast("long").as("_n_lines"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("_n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }
}
