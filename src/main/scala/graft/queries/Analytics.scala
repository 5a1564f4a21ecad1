package graft.queries

import graft.Q
import graft.io.Tables
import org.apache.spark.sql.functions._

/** Composite multi-operator analytics — TPC-H-shaped queries adapted to
  * the fixture schema plus a funnel analysis in the reference's
  * event-stream idiom. These exercise operator *composition* (the way a
  * real user chains scans, joins, aggs, windows, and top-k) rather than
  * one operator per query.
  */
object Analytics extends QueryModule {

  val queries: Map[String, Q] = Map(
    // TPC-H Q3 shape (shipping priority): segment filter, date band,
    // 3-way join, grouped revenue, top-10.
    "q_shipping_priority" -> ((s, dir) => {
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q10 shape (returned items): revenue lost to returns per
    // customer, dimension join chain, top-20.
    "q_returned_items" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
      l.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q12 shape: order-priority buckets per line status via
    // conditional aggregation over a joined band.
    "q_priority_buckets" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0))
            .as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0))
            .as("low_line_count"))
        .orderBy("l_linestatus")
    }),

    // TPC-H Q14 shape: promo revenue share — a ratio of conditional sums
    // (single global row; 4dp-rounded — the ratio normalizes away the
    // partial-sum drift that forces 2dp on raw price sums).
    "q_promo_share" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-07-01").cast("timestamp"))
        .agg(round(
          sum(when(col("p_type").like("%a%"),
            col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0)) * 100.0
            / sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("promo_pct"))
    }),

    // Market basket: top part pairs co-occurring within an order
    // (self-join on orderkey, pair-key dedup, top-20 by support).
    "q_part_pairs" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey")).distinct()
      val a = li.select(col("l_orderkey").as("k"), col("l_partkey").as("pa"))
      val b = li.select(col("l_orderkey").as("k2"), col("l_partkey").as("pb"))
      a.join(b, col("k") === col("k2") && col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("pa"), col("pb"))
        .limit(20)
    }),

    // Event funnel: per user, first view -> first click after that view
    // -> first purchase after that click; stage conversion counts.
    "q_event_funnel" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("first_view"))
      val cl = e.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") >= col("first_view"))
        .groupBy(col("user_id"), col("first_view"))
        .agg(min(col("ts")).as("first_click"))
      val p = e.filter(col("event_type") === "purchase")
        .join(cl, Seq("user_id"))
        .filter(col("ts") >= col("first_click"))
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_purchase"))
      v.select(lit("1_viewed").as("stage"), col("user_id"))
        .union(cl.select(lit("2_clicked").as("stage"), col("user_id")))
        .union(p.select(lit("3_purchased").as("stage"), col("user_id")))
        .groupBy("stage").agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("stage")
    }),

    // TPC-H Q18 shape (large-volume orders): pre-aggregate lineitem per
    // order, HAVING-filter on the summed quantity, then join the small
    // surviving set to orders+customer. The agg-before-join order matters
    // at scale: the 3-way join only ever sees qualifying orderkeys.
    "q_big_orders" -> ((s, dir) => {
      val big = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))
        .filter(col("sum_qty") > 150)
      big.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    }),

    // TPC-H Q22 shape (idle wealthy customers): above-average balance AND
    // no RECENT orders — scalar subquery for the average, anti join for
    // "no orders since the cutoff", grouped by market segment. (Every
    // fixture customer has *some* order, so the unwindowed Q22 predicate
    // would be vacuously empty; the cutoff keeps the anti join load-bearing.)
    "q_idle_customers" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val avgBal = c.agg(avg(col("c_acctbal")).as("avg_bal"))
      val recent = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      c.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("c_acctbal")), 2).as("total_bal"))
        .orderBy("c_mktsegment")
    }),

    // SCD1 / latest-record-per-key: newest order per customer via max_by
    // over a (date, orderkey) struct — partial-aggregating shuffle that
    // moves ONE row per key per partition, not a whole-partition window
    // sort; the composite key makes the pick deterministic on date ties.
    "q_scd1_latest" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(max_by(
          struct(col("o_orderkey"), col("o_orderdate"), col("o_totalprice")),
          struct(col("o_orderdate"), col("o_orderkey"))).as("last"))
        .select(col("o_custkey"), col("last.o_orderkey").as("last_orderkey"),
          col("last.o_orderdate").as("last_orderdate"),
          col("last.o_totalprice").as("last_totalprice"))
        .orderBy("o_custkey")
    }),

    // MERGE-shaped keyed upsert (graft.ops.Merge): a CDC delta derived
    // from each customer's latest order — delete when that order is
    // finalized ('F'), full-row update otherwise, plus synthetic inserts
    // under offset keys — applied to the customer table via ONE
    // full-outer key join. Oracle = full recompute of the same merge in
    // DuckDB; MergeSpec covers idempotence + the stored versioned-table
    // path.
    "q_merge_upsert" -> ((s, dir) => {
      val base = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_mktsegment"))
      val last = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(max_by(
          struct(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")),
          struct(col("o_orderdate"), col("o_orderkey"))).as("last"))
      val updates = last.select(
        col("o_custkey").as("c_custkey"),
        concat(lit("Customer#Merged"), col("o_custkey").cast("string")).as("c_name"),
        round(col("last.o_totalprice"), 2).as("c_acctbal"),
        lit("MERGED").as("c_mktsegment"),
        when(col("last.o_orderstatus") === "F", lit("delete"))
          .otherwise(lit("upsert")).as("op"))
      // insert keys = NEGATED custkeys: disjoint from the (positive)
      // customer key domain at every scale factor, unlike any fixed
      // offset, so the delta keeps its one-row-per-key contract
      val inserts = last.filter(col("last.o_orderkey") % 3 === 0).select(
        (-col("o_custkey")).as("c_custkey"),
        concat(lit("Customer#New"), col("o_custkey").cast("string")).as("c_name"),
        round(col("last.o_totalprice"), 2).as("c_acctbal"),
        lit("INSERTED").as("c_mktsegment"),
        lit("upsert").as("op"))
      graft.ops.Merge.upsert(base, updates.unionByName(inserts), Seq("c_custkey"))
        .orderBy("c_custkey")
    }),

    // STREAMING MERGE end-to-end: the orders CDC feed arrives through a
    // real readStream file source, each micro-batch is collapsed to its
    // newest op per key (latestPerKey) and applied to the stored
    // versioned customer table via foreachBatch + Merge.applyTo; the
    // harness reads the FINAL TABLE STATE, and DuckDB recomputes the
    // same merge from scratch — the streaming engine, the CDC collapse,
    // the full-outer merge join, and the atomic versioned publish are
    // all under one oracle. (The fixture is one parquet file, so
    // AvailableNow delivers one batch and the per-batch collapse equals
    // the global collapse the oracle computes.)
    "q_streaming_merge" -> ((s, dir) => {
      import graft.ops.{Merge, Sinks}
      val rootDir = java.nio.file.Files.createTempDirectory("graft_qsm")
      graft.streaming.StreamOps.cleanOnExit(rootDir)
      val root = rootDir.toString + "/t"
      val base = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_mktsegment"))
      Sinks.publishVersioned(base, root)
      // stream a PRIVATE dir holding only a symlink to the orders
      // fixture — the file stream source lists its path recursively for
      // partition discovery, and a reused harness dir accumulates
      // table layouts whose mixed directory structures fail that
      // inference
      val srcDir = java.nio.file.Files.createTempDirectory("graft_qsu_src")
      graft.streaming.StreamOps.cleanOnExit(srcDir)
      java.nio.file.Files.createSymbolicLink(srcDir.resolve("orders.parquet"),
        java.nio.file.Paths.get(graft.io.Tables.path(dir, "orders")))
      val cdc = s.readStream
        .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
          "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING")
        .parquet(srcDir.toString)
        .select(col("o_custkey").as("c_custkey"),
          concat(lit("Customer#Merged"), col("o_custkey").cast("string")).as("c_name"),
          round(col("o_totalprice"), 2).as("c_acctbal"),
          lit("MERGED").as("c_mktsegment"),
          when(col("o_orderstatus") === "F", lit("delete"))
            .otherwise(lit("upsert")).as("op"),
          col("o_orderdate").as("seq"), col("o_orderkey").as("seq2"))
      val ckptDir = java.nio.file.Files.createTempDirectory("graft_qsm_ck")
      graft.streaming.StreamOps.cleanOnExit(ckptDir)
      val ckpt = ckptDir.toString
      val q = cdc.writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            val delta = Merge.latestPerKey(batch, Seq("c_custkey"), Seq("seq", "seq2"))
              .drop("seq", "seq2")
            Merge.applyTo(s, root, delta, Seq("c_custkey"))
          }
          ()
        }
        .start()
      q.awaitTermination()
      Sinks.readCurrent(s, root).orderBy("c_custkey")
    }),

    // Equality-delete streaming upsert (round-14, B170): the SAME CDC
    // stream as q_streaming_merge, applied WITHOUT a per-batch MERGE
    // join — each micro-batch commits BLIND (new data files + key
    // tombstones in the `_eqdel` sidecar, O(batch), no table read) and
    // the READ reconciles: a row is hidden iff a later-sequence
    // tombstone carries its key. The final state is hash-identical to
    // the full-merge recompute (the oracle), which is exactly the
    // eq-delete contract: writers go blind, readers (and compaction)
    // pay the reconciliation. Within-batch multi-op keys collapse via
    // latestPerKey first — the same O(batch) window, no table access.
    "q_streaming_upsert" -> ((s, dir) => {
      import graft.ops.{EqDel, Sinks}
      val rootDir = java.nio.file.Files.createTempDirectory("graft_qsu")
      graft.streaming.StreamOps.cleanOnExit(rootDir)
      val root = rootDir.toString + "/t"
      val base = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_mktsegment"))
      Sinks.publishVersioned(base, root)
      // stream a PRIVATE dir holding only a symlink to the orders
      // fixture — the file stream source lists its path recursively for
      // partition discovery, and a reused harness dir accumulates
      // table layouts whose mixed directory structures fail that
      // inference
      val srcDir = java.nio.file.Files.createTempDirectory("graft_qsu_src")
      graft.streaming.StreamOps.cleanOnExit(srcDir)
      java.nio.file.Files.createSymbolicLink(srcDir.resolve("orders.parquet"),
        java.nio.file.Paths.get(graft.io.Tables.path(dir, "orders")))
      val cdc = s.readStream
        .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
          "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING")
        .parquet(srcDir.toString)
        .select(col("o_custkey").as("c_custkey"),
          concat(lit("Customer#Merged"), col("o_custkey").cast("string")).as("c_name"),
          round(col("o_totalprice"), 2).as("c_acctbal"),
          lit("MERGED").as("c_mktsegment"),
          when(col("o_orderstatus") === "F", lit("delete"))
            .otherwise(lit("upsert")).as("op"),
          col("o_orderdate").as("seq"), col("o_orderkey").as("seq2"))
      val ckptDir = java.nio.file.Files.createTempDirectory("graft_qsu_ck")
      graft.streaming.StreamOps.cleanOnExit(ckptDir)
      // THE door, end to end: op-column routing + within-batch ordering
      // collapse are upsertStreamTo's own (exactly what a CDC consumer
      // deploys), not harness-side plumbing
      val q = EqDel.upsertStreamTo(cdc, root, ckptDir.toString,
        keys = Seq("c_custkey"), opCol = Some("op"),
        dedupeBy = Seq("seq", "seq2"))
      q.processAllAvailable(); q.stop()
      Sinks.readCurrent(s, root).orderBy("c_custkey")
    }),

    // B33 exact percentiles (interpolated): quartiles + p95 of extended
    // price per return flag — Spark `percentile` and DuckDB
    // `quantile_cont` share the linear-interpolation definition.
    "q_percentiles" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25"),
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_extendedprice, 0.75)"), 4).as("p75"),
          round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95"))
        .orderBy("l_returnflag")
    }),

    // Winsorization (outlier capping for feature pipelines): clip
    // extended price to the per-flag [p01, p99] band. The percentile
    // table is 3 rows -> broadcast back; the data pays one scan + one
    // map-side join, no second shuffle.
    "q_winsorize" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val pct = li.groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, 0.01)").as("p01"),
          expr("percentile(l_extendedprice, 0.99)").as("p99"))
      li.join(broadcast(pct), "l_returnflag")
        .withColumn("capped",
          greatest(least(col("l_extendedprice"), col("p99")), col("p01")))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(avg(col("l_extendedprice")), 4).as("avg_raw"),
          round(avg(col("capped")), 4).as("avg_winsorized"),
          round(max(col("capped")), 4).as("max_winsorized"))
        .orderBy("l_returnflag")
    }),

    // TPC-H Q7 shape (bilateral trade volume): supplier-nation x
    // customer-nation flows for one nation pair, by ship year. The
    // nation dim joins broadcast twice under DIFFERENT aliases and the
    // pair condition is a disjunction — the OR lives in a post-join
    // filter over two broadcast equi-joins, never a nested-loop join.
    "q_nation_trade" -> ((s, dir) => {
      val n1 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1998-01-01")
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
          (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // TPC-H Q5 shape (local supplier volume): 6-table join — lineitem
    // shuffle-joins orders (both big, on their keys); supplier and the
    // nation⋈region dim chain broadcast; the c_nationkey = s_nationkey
    // residual makes it a genuinely multi-way plan, not a star.
    "q_local_supplier_volume" -> ((s, dir) => {
      val asia = Tables.nation(s, dir).join(
        broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1997-01-01")
      Tables.lineitem(s, dir)
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .filter(col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(asia), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(desc("revenue"), col("n_name"))
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q_priority_buckets" ->
      """SELECT l_linestatus,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q_promo_share" ->
      """SELECT round(
        |  sum(CASE WHEN p_type LIKE '%a%' THEN l_extendedprice*(1-l_discount) ELSE 0.0 END) * 100.0
        |  / sum(l_extendedprice*(1-l_discount)), 4) AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01'""".stripMargin,

    "q_part_pairs" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_orders
        |FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY pa, pb
        |ORDER BY n_orders DESC, pa, pb LIMIT 20""".stripMargin,

    "q_event_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS first_view
        |  FROM events WHERE event_type = 'view' GROUP BY user_id
        |), cl AS (
        |  SELECT e.user_id, v.first_view, min(CAST(e.ts AS TIMESTAMP)) AS first_click
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) >= v.first_view
        |  GROUP BY e.user_id, v.first_view
        |), p AS (
        |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS first_purchase
        |  FROM events e JOIN cl ON e.user_id = cl.user_id
        |  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= cl.first_click
        |  GROUP BY e.user_id
        |)
        |SELECT stage, count(DISTINCT user_id) AS n_users FROM (
        |  SELECT '1_viewed' AS stage, user_id FROM v
        |  UNION ALL SELECT '2_clicked', user_id FROM cl
        |  UNION ALL SELECT '3_purchased', user_id FROM p)
        |GROUP BY stage ORDER BY stage""".stripMargin,

    "q_big_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, round(sum(l_quantity),2) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING sum_qty > 150)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,

    "q_idle_customers" ->
      """SELECT c_mktsegment,
        | count(*) AS n_customers,
        | round(sum(c_acctbal),2) AS total_bal
        |FROM customer c
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_scd1_latest" ->
      """SELECT o_custkey,
        | last_orderkey, last_orderdate, last_totalprice
        |FROM (
        |  SELECT o_custkey, o_orderkey AS last_orderkey,
        |    o_orderdate AS last_orderdate, o_totalprice AS last_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,

    "q_merge_upsert" ->
      """WITH last AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice, o_orderstatus FROM (
        |    SELECT o_custkey, o_orderkey, o_totalprice, o_orderstatus,
        |      row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |    FROM orders) WHERE rn = 1),
        |delta AS (
        |  SELECT o_custkey AS c_custkey,
        |    'Customer#Merged' || CAST(o_custkey AS VARCHAR) AS c_name,
        |    round(o_totalprice, 2) AS c_acctbal,
        |    'MERGED' AS c_mktsegment,
        |    CASE WHEN o_orderstatus = 'F' THEN 'delete' ELSE 'upsert' END AS op
        |  FROM last
        |  UNION ALL
        |  SELECT -o_custkey,
        |    'Customer#New' || CAST(o_custkey AS VARCHAR),
        |    round(o_totalprice, 2), 'INSERTED', 'upsert'
        |  FROM last WHERE o_orderkey % 3 = 0),
        |base AS (
        |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer)
        |SELECT coalesce(b.c_custkey, d.c_custkey) AS c_custkey,
        | CASE WHEN d.op IS NOT NULL THEN d.c_name ELSE b.c_name END AS c_name,
        | CASE WHEN d.op IS NOT NULL THEN d.c_acctbal ELSE b.c_acctbal END AS c_acctbal,
        | CASE WHEN d.op IS NOT NULL THEN d.c_mktsegment ELSE b.c_mktsegment END AS c_mktsegment
        |FROM base b FULL JOIN delta d ON b.c_custkey = d.c_custkey
        |WHERE d.op IS NULL OR d.op <> 'delete'
        |ORDER BY c_custkey""".stripMargin,

    "q_streaming_merge" ->
      """WITH last AS (
        |  SELECT o_custkey, o_totalprice, o_orderstatus FROM (
        |    SELECT o_custkey, o_totalprice, o_orderstatus,
        |      row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |    FROM orders) WHERE rn = 1),
        |delta AS (
        |  SELECT o_custkey AS c_custkey,
        |    'Customer#Merged' || CAST(o_custkey AS VARCHAR) AS c_name,
        |    round(o_totalprice, 2) AS c_acctbal,
        |    'MERGED' AS c_mktsegment,
        |    CASE WHEN o_orderstatus = 'F' THEN 'delete' ELSE 'upsert' END AS op
        |  FROM last),
        |base AS (
        |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer)
        |SELECT coalesce(b.c_custkey, d.c_custkey) AS c_custkey,
        | CASE WHEN d.op IS NOT NULL THEN d.c_name ELSE b.c_name END AS c_name,
        | CASE WHEN d.op IS NOT NULL THEN d.c_acctbal ELSE b.c_acctbal END AS c_acctbal,
        | CASE WHEN d.op IS NOT NULL THEN d.c_mktsegment ELSE b.c_mktsegment END AS c_mktsegment
        |FROM base b FULL JOIN delta d ON b.c_custkey = d.c_custkey
        |WHERE d.op IS NULL OR d.op <> 'delete'
        |ORDER BY c_custkey""".stripMargin,

    // identical semantics to q_streaming_merge by construction — the
    // eq-delete read-side reconciliation must land on the same state a
    // serial MERGE produces
    "q_streaming_upsert" ->
      """WITH last AS (
        |  SELECT o_custkey, o_totalprice, o_orderstatus FROM (
        |    SELECT o_custkey, o_totalprice, o_orderstatus,
        |      row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |    FROM orders) WHERE rn = 1),
        |delta AS (
        |  SELECT o_custkey AS c_custkey,
        |    'Customer#Merged' || CAST(o_custkey AS VARCHAR) AS c_name,
        |    round(o_totalprice, 2) AS c_acctbal,
        |    'MERGED' AS c_mktsegment,
        |    CASE WHEN o_orderstatus = 'F' THEN 'delete' ELSE 'upsert' END AS op
        |  FROM last),
        |base AS (
        |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer)
        |SELECT coalesce(b.c_custkey, d.c_custkey) AS c_custkey,
        | CASE WHEN d.op IS NOT NULL THEN d.c_name ELSE b.c_name END AS c_name,
        | CASE WHEN d.op IS NOT NULL THEN d.c_acctbal ELSE b.c_acctbal END AS c_acctbal,
        | CASE WHEN d.op IS NOT NULL THEN d.c_mktsegment ELSE b.c_mktsegment END AS c_mktsegment
        |FROM base b FULL JOIN delta d ON b.c_custkey = d.c_custkey
        |WHERE d.op IS NULL OR d.op <> 'delete'
        |ORDER BY c_custkey""".stripMargin,

    "q_percentiles" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.25),4) AS p25,
        | round(quantile_cont(l_extendedprice, 0.5),4) AS p50,
        | round(quantile_cont(l_extendedprice, 0.75),4) AS p75,
        | round(quantile_cont(l_extendedprice, 0.95),4) AS p95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_winsorize" ->
      """WITH pct AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.01) AS p01,
        |    quantile_cont(l_extendedprice, 0.99) AS p99
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT li.l_returnflag, count(*) AS n,
        | round(avg(l_extendedprice), 4) AS avg_raw,
        | round(avg(greatest(least(l_extendedprice, p99), p01)), 4) AS avg_winsorized,
        | round(max(greatest(least(l_extendedprice, p99), p01)), 4) AS max_winsorized
        |FROM lineitem li JOIN pct ON li.l_returnflag = pct.l_returnflag
        |GROUP BY li.l_returnflag ORDER BY li.l_returnflag""".stripMargin,

    "q_nation_trade" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        | CAST(year(l_shipdate) AS INTEGER) AS l_year,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        |GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q_local_supplier_volume" ->
      """SELECT n_name,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
  )
}
