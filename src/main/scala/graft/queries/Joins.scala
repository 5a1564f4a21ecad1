package graft.queries

import graft.Q
import graft.io.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators (SURVEY §2B B18–B26).
  *
  * Scale posture: dimension tables (region/nation, literal lookup tables)
  * are explicitly `broadcast(...)` so the plan never shuffles the fact
  * side for them; fact⋈fact joins (lineitem⋈orders) stay shuffle joins on
  * their keys, which is the partitioning a 1000-executor cluster needs.
  * The as-of join is implemented with the union+window trick — a single
  * shuffle by key instead of the quadratic range self-join a naive
  * formulation would cost (the oracle uses the naive SQL, which is fine
  * at sf0.01 but would not be at 100 TB).
  */
object Joins extends QueryModule {

  val queries: Map[String, Q] = Map(
    // B18 inner equi chain + agg — BENCH headline q_join_agg (TPC-H Q5
    // shape). Lineitem is PARTIALLY AGGREGATED to one row per order
    // BEFORE the join chain: the orders join then shuffles one row per
    // order instead of ~4 lineitems, and the customer join carries the
    // reduced width onward. Catalyst does not push aggregates below
    // joins itself; measured ~14% at sf0.1 and a strictly smaller
    // shuffle at any scale. Revenue is summed as per-row integer CENTS
    // (mirrored in the oracle) so the two-level regrouping stays exact —
    // double re-association at 1e8 magnitudes can drift a nation past a
    // half-cent rounding boundary.
    "q_join_agg" -> ((s, dir) => {
      val cents = round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
        .cast("long")
      val perOrder = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(cents).as("rev_cents"), count(lit(1)).as("cnt"))
      perOrder
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("rev_cents")) / 100.0, 2).as("revenue"),
          sum(col("cnt")).as("n_items"))
        .orderBy("n_name")
    }),

    // B19 broadcast hash join against the dim chain.
    "q_join_broadcast" -> ((s, dir) => {
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_customers"),
          round(avg(col("c_acctbal")), 4).as("avg_acctbal"))
        .orderBy("r_name")
    }),

    // B20 left outer join (kept rows counted via null-side probes).
    "q_join_left" -> ((s, dir) => {
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_mktsegment")
        .agg(countDistinct(col("c_custkey")).as("n_customers"),
          count(col("o_orderkey")).as("n_orders"),
          sum(when(col("o_orderkey").isNull, 1).otherwise(0)).as("n_no_order_rows"))
        .orderBy("c_mktsegment")
    }),

    // B20 full outer join over pre-aggregated sides.
    "q_join_full" -> ((s, dir) => {
      val cc = Tables.customer(s, dir).groupBy(col("c_nationkey").as("nk_c"))
        .agg(count(lit(1)).as("c_cnt"))
      val ss = Tables.supplier(s, dir).groupBy(col("s_nationkey").as("nk_s"))
        .agg(count(lit(1)).as("s_cnt"))
      cc.join(ss, col("nk_c") === col("nk_s"), "full")
        .select(coalesce(col("nk_c"), col("nk_s")).as("nationkey"),
          col("c_cnt"), col("s_cnt"))
        .orderBy("nationkey")
    }),

    // B21 left semi (EXISTS).
    "q_join_semi" -> ((s, dir) => {
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_with_orders"))
        .orderBy("c_mktsegment")
    }),

    // B21 left anti (NOT EXISTS) — against the pending-order subset so the
    // anti side is non-empty at every scale factor.
    "q_join_anti" -> ((s, dir) => {
      val pending = Tables.orders(s, dir).filter(col("o_orderstatus") === "P")
      Tables.customer(s, dir)
        .join(pending, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_without_pending"))
        .orderBy("c_mktsegment")
    }),

    // B22 theta/range join against a literal band table (broadcast).
    "q_join_range" -> ((s, dir) => {
      val bands = s.createDataFrame(Seq(
        ("budget", 0.0, 1000.0),
        ("mid", 1000.0, 1500.0),
        ("premium", 1500.0, 1e9))).toDF("band", "lo", "hi")
      Tables.part(s, dir)
        .join(broadcast(bands), col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_parts"),
          round(avg(col("p_retailprice")), 4).as("avg_price"))
        .orderBy("band")
    }),

    // B153 BINNED range join — the scale-safe spelling of B22 when both
    // sides are large: 100 overlapping price bands × all orders meet in
    // an EQUI-join on a 2000-wide bin id with the exact [lo,hi) check as
    // a residual; the oracle runs the naive theta-join, so the hash
    // match proves bin quantization changes nothing.
    "q_range_binned" -> ((s, dir) => {
      val bands = s.range(0, 100).select(col("id").as("band"),
        (col("id") * 1500.0).as("lo"), (col("id") * 1500.0 + 4000.0).as("hi"))
      graft.ops.RangeJoin.binnedPointJoin(
          Tables.orders(s, dir).select("o_orderkey", "o_totalprice"),
          "o_totalprice", bands, "lo", "hi", binWidth = 2000.0)
        .groupBy("band")
        // exact integer cents, not a rounded float sum — the oracled-
        // output rule (a rounded double sum can land on a half-ulp
        // boundary where the engines' round modes disagree)
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long"))
            .as("sum_price_cents"))
        .orderBy("band")
    }),

    // B23 cross join.
    "q_cross_join" -> ((s, dir) => {
      val statuses = Tables.orders(s, dir)
        .select(col("o_orderstatus").as("status")).distinct()
      Tables.region(s, dir).select("r_name")
        .crossJoin(statuses)
        .orderBy("r_name", "status")
    }),

    // B24 as-of join: for each purchase, the latest click by the same user
    // at ts <= purchase ts. Implemented scalably as union + running max
    // over a single per-user window (one shuffle); the oracle is the naive
    // range-join SQL, hash-matched.
    "q_asof_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("is_purchase", when(col("event_type") === "purchase", 1).otherwise(0))
      // clicks sort before purchases at equal ts => ts<= semantics.
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("is_purchase"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      e.withColumn("last_click_ts",
          max(when(col("is_purchase") === 0, col("ts"))).over(w))
        .filter(col("is_purchase") === 1 && col("last_click_ts").isNotNull)
        .select(col("event_id"), col("last_click_ts"))
        .orderBy("event_id")
    }),

    // B24 forward as-of join: for each click, the EARLIEST purchase by
    // the same user at ts >= click ts — the attribution-window twin of
    // q_asof_join, same union+window trick (one shuffle; min over a
    // current-row→following frame instead of a running max). At equal
    // ts the click sorts first, so the frame includes the simultaneous
    // purchase (>= semantics).
    "q_asof_forward" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("is_purchase", when(col("event_type") === "purchase", 1).otherwise(0))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("is_purchase"), col("event_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      e.withColumn("next_purchase_ts",
          min(when(col("is_purchase") === 1, col("ts"))).over(w))
        .filter(col("is_purchase") === 0 && col("next_purchase_ts").isNotNull)
        .select(col("event_id"), col("next_purchase_ts"))
        .orderBy("event_id")
    }),

    // Bloom-prefiltered fact⋈dim join: high-value orders' keys become a
    // broadcast Bloom filter that prunes lineitem BEFORE the join
    // shuffle; the exact join then removes the false positives, so the
    // result is identical to the plain join (which is the oracle).
    "q_bloom_join" -> ((s, dir) => {
      val hot = Tables.orders(s, dir).filter(col("o_totalprice") > 450000)
      val pre = graft.ops.BloomJoin.semiFilter(
        Tables.lineitem(s, dir), "l_orderkey", hot, "o_orderkey", 100000L)
      pre.join(hot, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // B26 self join: consecutive line numbers within an order.
    "q_self_join" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val a = li.select(col("l_orderkey").as("k"), col("l_linenumber").as("ln"), col("l_quantity").as("qa"))
      val b = li.select(col("l_orderkey").as("k2"), col("l_linenumber").as("ln2"), col("l_quantity").as("qb"))
      a.join(b, col("k") === col("k2") && col("ln2") === col("ln") + 1)
        .select(col("k").as("l_orderkey"), col("ln").as("l_linenumber"),
          round(col("qb") - col("qa"), 4).as("qty_delta"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Skew-mitigated join under the oracle: documents is skewed on
    // `lang` (5 values), so the per-lang dim join runs through
    // Skew.saltedJoin — the hot key spreads over 8 salt buckets while
    // the 5-row dim replicates 8x. The oracle is the plain join: salting
    // must be result-invariant.
    "q_skew_join" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "lang", "n_chars")
      val langStats = Tables.documents(s, dir).groupBy("lang")
        .agg(avg(col("n_chars")).as("lang_avg_chars"))
      graft.ops.Skew.saltedJoin(docs, langStats, "lang", 8)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_chars") > col("lang_avg_chars"), 1).otherwise(0)).as("n_above_avg"))
        .orderBy("lang")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_join_agg" ->
      """SELECT n_name,
        | round(sum(CAST(round(l_extendedprice*(1-l_discount)*100, 0) AS BIGINT)) / 100.0, 2) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_join_broadcast" ->
      """SELECT r_name, count(*) AS n_customers,
        | round(avg(c_acctbal),4) AS avg_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q_join_left" ->
      """SELECT c_mktsegment,
        | count(DISTINCT c_custkey) AS n_customers,
        | count(o_orderkey) AS n_orders,
        | CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_order_rows
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_join_full" ->
      """SELECT coalesce(nk_c, nk_s) AS nationkey, c_cnt, s_cnt
        |FROM (SELECT c_nationkey AS nk_c, count(*) AS c_cnt FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey AS nk_s, count(*) AS s_cnt FROM supplier GROUP BY 1) s
        |ON nk_c = nk_s
        |ORDER BY nationkey""".stripMargin,

    "q_join_semi" ->
      """SELECT c_mktsegment, count(*) AS n_with_orders
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_join_anti" ->
      """SELECT c_mktsegment, count(*) AS n_without_pending
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_join_range" ->
      """SELECT band, count(*) AS n_parts, round(avg(p_retailprice),4) AS avg_price
        |FROM part
        |JOIN (VALUES ('budget',0.0,1000.0),('mid',1000.0,1500.0),('premium',1500.0,1e9)) bands(band,lo,hi)
        |  ON p_retailprice >= lo AND p_retailprice < hi
        |GROUP BY band ORDER BY band""".stripMargin,

    "q_range_binned" ->
      """WITH b AS (SELECT CAST(i AS BIGINT) AS band, i * 1500.0 AS lo,
        |             i * 1500.0 + 4000.0 AS hi
        |           FROM generate_series(0, 99) t(i))
        |SELECT band, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |    AS sum_price_cents
        |FROM orders JOIN b ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band ORDER BY band""".stripMargin,

    "q_cross_join" ->
      """SELECT r_name, status
        |FROM region
        |CROSS JOIN (SELECT DISTINCT o_orderstatus AS status FROM orders) s
        |ORDER BY r_name, status""".stripMargin,

    "q_asof_join" ->
      """SELECT p.event_id, max(CAST(c.ts AS TIMESTAMP)) AS last_click_ts
        |FROM events p
        |JOIN events c
        |  ON c.user_id = p.user_id
        | AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
        | AND c.event_type = 'click'
        |WHERE p.event_type = 'purchase'
        |GROUP BY p.event_id ORDER BY p.event_id""".stripMargin,

    "q_asof_forward" ->
      """SELECT c.event_id, min(CAST(p.ts AS TIMESTAMP)) AS next_purchase_ts
        |FROM events c
        |JOIN events p
        |  ON p.user_id = c.user_id
        | AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
        | AND p.event_type = 'purchase'
        |WHERE c.event_type = 'click'
        |GROUP BY c.event_id ORDER BY c.event_id""".stripMargin,

    "q_self_join" ->
      """SELECT a.l_orderkey, a.l_linenumber,
        | round(b.l_quantity - a.l_quantity, 4) AS qty_delta
        |FROM lineitem a
        |JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        | AND b.l_linenumber = a.l_linenumber + 1
        |ORDER BY a.l_orderkey, a.l_linenumber""".stripMargin,

    // Salting must not change the result: the oracle is the plain join.
    "q_skew_join" ->
      """WITH ls AS (
        |  SELECT lang, avg(n_chars) AS lang_avg_chars FROM documents GROUP BY lang)
        |SELECT d.lang AS lang, count(*) AS n_docs,
        | CAST(sum(CASE WHEN d.n_chars > ls.lang_avg_chars THEN 1 ELSE 0 END) AS BIGINT) AS n_above_avg
        |FROM documents d JOIN ls ON d.lang = ls.lang
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    // The Bloom prefilter never drops a matching row, so the oracle is
    // simply the unfiltered exact join.
    "q_bloom_join" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 450000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
  )
}
