package graft.queries

import graft.Q
import graft.io.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** B3 JSON/CSV scans, oracled end-to-end: each query writes `events` out
  * in the text format, reads it back with an explicit schema, and
  * aggregates; the DuckDB oracle computes the same aggregate straight
  * from the parquet fixture. Equal hashes therefore prove the
  * write→scan round-trip is value-lossless — a stronger statement than
  * scanning a canned file.
  *
  * Timestamps travel as BIGINT microseconds (`unix_micros`): JSON/CSV
  * timestamp FORMATTING is lossy (millisecond default patterns) and
  * engine-specific, while int64 text round-trips exactly. Doubles are
  * safe as-is — Spark writes shortest-round-trip decimal forms.
  *
  * The write happens eagerly at plan-build time into a per-(format, sf)
  * path under /tmp (overwrite mode, so repeated runs reuse the same
  * directory rather than leaking).
  */
object ScanOps extends QueryModule {

  private val rtSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts_us", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private def roundTrip(s: SparkSession, dir: String, fmt: String): DataFrame = {
    val src = Tables.events(s, dir).select(
      col("event_id"), unix_micros(col("ts")).as("ts_us"),
      col("user_id"), col("event_type"), col("value"), col("props"))
    val out = s"/tmp/graft_rt_${fmt}_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    fmt match {
      case "json" =>
        src.write.mode("overwrite").json(out)
        s.read.schema(rtSchema).json(out)
      case "csv" =>
        src.write.mode("overwrite").option("header", "true").csv(out)
        s.read.schema(rtSchema).option("header", "true").csv(out)
      case "orc" =>
        src.write.mode("overwrite").orc(out)
        s.read.schema(rtSchema).orc(out)
      // XML is a built-in source since Spark 4 (SPARK-44265 folded the
      // spark-xml package into core). Avro would complete the format
      // matrix but its connector module (spark-avro) is not on this
      // cluster's classpath and the environment has no egress to add it —
      // XML is the remaining mainstream text format that IS available.
      case "xml" =>
        src.write.mode("overwrite").option("rowTag", "event").xml(out)
        s.read.schema(rtSchema).option("rowTag", "event").xml(out)
    }
  }

  private def rtAgg(rt: DataFrame): DataFrame =
    rt.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"),
        min(col("ts_us")).as("min_ts_us"),
        max(col("ts_us")).as("max_ts_us"),
        sum(length(col("props"))).as("props_chars"))
      .orderBy("event_type")

  val queries: Map[String, Q] = Map(
    "q_json_scan" -> ((s, dir) => rtAgg(roundTrip(s, dir, "json"))),
    "q_csv_scan"  -> ((s, dir) => rtAgg(roundTrip(s, dir, "csv"))),
    // ORC round-trip: the columnar alternative a mixed lake serves; same
    // write→scan identity proof as json/csv (binary columnar formats
    // carry int64/double losslessly by construction).
    "q_orc_scan"  -> ((s, dir) => rtAgg(roundTrip(s, dir, "orc"))),
    "q_xml_scan"  -> ((s, dir) => rtAgg(roundTrip(s, dir, "xml"))),

    // Partition pruning on the driver's own path: a date-partitioned copy
    // of events (written once per sf under /tmp, event_date=yyyy-MM-dd
    // directories) is read back with a one-week partition filter — the
    // 100 TB layout where a day's query opens a day's files. The filter
    // lands in the scan's PartitionFilters (asserted in RelationalSpec:
    // 7 of 30 date partitions survive planning), and the aggregate is
    // oracled against the unpartitioned fixture, proving the
    // partitioned round-trip value-lossless.
    "q_partition_pruning" -> ((s, dir) => {
      val out = partitionedEventsCopy(s, dir)
      s.read.parquet(out)
        .filter(col("event_date").between("2024-01-08", "2024-01-14"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("sum_value"))
        .orderBy("event_type")
    }),

    // The versioned-table SQL door: GraftCatalog exposes the Sinks
    // commit layout as a DataSource V2 catalog, and this query reads
    // BOTH through SQL — `VERSION AS OF 0` (time travel to the full
    // fixture) unioned with the bare table name (the _CURRENT pointer,
    // = the r_regionkey<3 subset published as v1). The oracle rebuilds
    // the same union from the raw fixture, hash-proving version
    // resolution AND pointer resolution end to end.
    // DESCRIBE HISTORY with per-commit OPERATION metadata (round-10),
    // DERIVED against the fixture (round-11): each retained version's
    // row count is read back VIA TIME TRAVEL and joined to the history
    // row, and the oracle recomputes those counts from the raw nation
    // fixture — so the hash proves the publish -> append -> COW-delete
    // chain actually landed the data each operation claims (v0 = the
    // <20 subset, v1 = the full fixture, v2 = minus the deleted key),
    // not merely that the `_OP` stamps were written.
    "q_table_history" -> ((s, dir) => {
      val root = opHistoryWarehouse(s, dir)
      import s.implicits._
      val counts = graft.ops.Sinks.listVersions(root)
        .map(v => (v, graft.ops.Sinks.readVersion(s, root, v).count()))
        .toDF("version", "n_rows")
      graft.ops.Sinks.history(s, root)
        .select(col("version"), col("operation"), col("is_current"))
        .join(counts, "version")
        .select(col("version"), col("operation"), col("is_current"), col("n_rows"))
        .orderBy("version")
    }),

    // B149 snapshot tags through SQL: the warehouse tags v0 'baseline'
    // and then COMPACTS with zero retention — without the tag the full
    // fixture snapshot would be vacuumed, so the `VERSION AS OF
    // 'baseline'` leg hash-matching the raw fixture proves BOTH tag
    // resolution and tag-pinned retention; the 'cur' leg proves the
    // compaction rewrite preserved the live subset.
    "q_catalog_tag" -> ((s, dir) => {
      val wh = tagWarehouse(s, dir)
      val cat = "grafttag_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      s.sql(
        s"""SELECT 'baseline' AS src, r_regionkey, r_name
           |FROM $cat.regions VERSION AS OF 'baseline'
           |UNION ALL
           |SELECT 'cur' AS src, r_regionkey, r_name
           |FROM $cat.regions
           |ORDER BY src, r_regionkey""".stripMargin)
    }),

    // B151 WAP through SQL-visible state: the warehouse branches the
    // full-fixture base, publishes the r_regionkey<3 subset ON THE
    // BRANCH, and fast-forward-merges — so the base's current version
    // hash-matching the subset proves the merge adopted the audited
    // branch snapshot, and the `VERSION AS OF 0` leg proves the
    // pre-merge base survived as history.
    "q_catalog_branch" -> ((s, dir) => {
      val wh = branchWarehouse(s, dir)
      val cat = "graftbr_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      s.sql(
        s"""SELECT 'pre' AS src, r_regionkey, r_name
           |FROM $cat.regions VERSION AS OF 0
           |UNION ALL
           |SELECT 'merged' AS src, r_regionkey, r_name
           |FROM $cat.regions
           |ORDER BY src, r_regionkey""".stripMargin)
    }),

    // B178 persistent views: the warehouse holds nations + regions; the
    // query creates a view, NESTS a second view over it (filter on the
    // aggregate), and reads a join of the nested view with the base
    // table — so a hash match proves creation, storage, read-time
    // inlining, nesting, and optimizer composition (the whole plan is
    // one aggregate+join, as if written inline). CREATE OR REPLACE keeps
    // the query idempotent across harness reruns.
    "q_view" -> ((s, dir) => {
      val wh = viewWarehouse(s, dir)
      val cat = "graftvw_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      s.sql(s"""CREATE OR REPLACE VIEW $cat.v_top AS
        SELECT n_regionkey, count(*) AS cnt FROM $cat.nations GROUP BY n_regionkey""")
      s.sql(s"""CREATE OR REPLACE VIEW $cat.v_big AS
        SELECT * FROM $cat.v_top WHERE cnt >= 5""")
      s.sql(
        s"""SELECT r.r_name AS region, v.cnt
           |FROM $cat.v_big v JOIN $cat.regions r ON v.n_regionkey = r.r_regionkey
           |ORDER BY region""".stripMargin)
    }),

    // B184 the path-based read door: spark.read.format("graft") with
    // versionAsOf against the time-travel warehouse — same state, same
    // oracle shape as q_catalog_timetravel, but through the FORMAT
    // surface (no catalog registration), so a hash match proves the
    // provider resolves versions and serves the identical snapshot.
    "q_format_read" -> ((s, dir) => {
      val tbl = catalogWarehouse(s, dir) + "/regions"
      val v0 = s.read.format("graft").option("versionAsOf", 0).load(tbl)
      val cur = s.read.format("graft").load(tbl)
      v0.select(lit("v0").as("src"), col("r_regionkey"), col("r_name"))
        .unionAll(cur.select(lit("cur").as("src"), col("r_regionkey"), col("r_name")))
        .orderBy("src", "r_regionkey")
    }),

    // B186 storage-partitioned join: customers and suppliers both laid
    // out as identity-partitioned catalog tables on their nation key;
    // with v2 bucketing on, the scan wrapper reports key-grouped
    // partitioning and the join runs WITHOUT an Exchange on either side
    // (plan-asserted in ScanStatsSpec — here the hash match proves the
    // shuffle-free plan computes the exact same aggregate DuckDB gets
    // from the raw fixture). pushPartValues pads partition-set
    // mismatches; the confs stay on for the session (they only affect
    // identity-partitioned graft scans, where SPJ is result-identical).
    "q_spj_join" -> ((s, dir) => {
      val wh = spjWarehouse(s, dir)
      val cat = "graftspj_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      s.sql(
        s"""SELECT c.c_nationkey AS nationkey, count(*) AS pairs,
           |       sum(c.c_custkey + s.s_suppkey) AS keysum
           |FROM $cat.cust_by_nation c
           |JOIN $cat.supp_by_nation s ON c.c_nationkey = s.s_nationkey
           |GROUP BY c.c_nationkey
           |ORDER BY nationkey""".stripMargin)
    }),

    // B190 DEFAULT column values through the INSERT doors: each run
    // truncates the scratch table (deterministic reruns, the q_truncate
    // pattern), inserts a fixture stripe OMITTING the defaulted columns
    // plus one VALUES row using the explicit DEFAULT keyword, and reads
    // everything back — the hash match proves Spark's analyzer filled
    // the stored defaults exactly as the oracle's literals.
    "q_default_values" -> ((s, dir) => {
      val wh = defaultsWarehouse(s, dir)
      val cat = "graftdf_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      s.sql(s"TRUNCATE TABLE $cat.defs")
      s.sql(s"INSERT INTO $cat.defs (n_nationkey, n_name) " +
        s"SELECT n_nationkey, n_name FROM $cat.nations WHERE n_nationkey < 8")
      s.sql(s"INSERT INTO $cat.defs VALUES (100, 'manual', DEFAULT, 7)")
      // the warehouse is content-stamped and reused across runs — expire
      // the truncate/insert churn so /tmp never accumulates versions
      // (the q_truncate discipline)
      s.sql(s"CALL $cat.system.expire_versions('defs', retain_versions => 1)")
        .collect()
      s.sql(s"SELECT n_nationkey, n_name, src, score FROM $cat.defs " +
        "ORDER BY n_nationkey")
    }),

    // Round-15: the one-statement ADD COLUMN ... DEFAULT (existence
    // defaults). Pre-ADD files lack the column entirely; the parquet
    // readers backfill them with the ADD-time folded constant carried
    // by the version's added-column marker, while post-ADD inserts
    // materialize the current default or their explicit value (NULL
    // included). The hash match proves the backfill is value-exact on
    // both row populations.
    "q_add_default" -> ((s, dir) => {
      val wh = defaultsWarehouse(s, dir)
      val cat = "graftdf_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      s.sql(s"SELECT n_nationkey, n_name, grade FROM $cat.defs2 " +
        "ORDER BY n_nationkey")
    }),

    // Round-16 (B198): MERGE WITH SCHEMA EVOLUTION — the source's extra
    // columns ADD metadata-only (ColMap ADD records through Spark's own
    // ResolveMergeIntoSchemaEvolution → alterTable) before the upsert.
    // The hash match proves all three populations exact: matched rows
    // updated with real values, unmatched source rows inserted, and
    // pre-existing rows outside the source NULL-backfilled in the new
    // columns without a byte of their files rewritten.
    "q_merge_evolution" -> ((s, dir) => {
      val wh = mergeEvolutionWarehouse(s, dir)
      val cat = "graftmev_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      s.sql(s"SELECT c_custkey, c_name, c_mktsegment, c_acctbal " +
        s"FROM $cat.cust_ev ORDER BY c_custkey")
    }),

    // Round-16 (B199): generated columns — every seg2 value was derived
    // by the insert funnel from the NULL compute-me marker; the filter
    // on the SOURCE column rides the invertible-shape rewrite into a
    // directory predicate (plan-asserted in GeneratedSpec). The hash
    // match proves derivation and pruning value-exact vs the recompute.
    "q_generated_cols" -> ((s, dir) => {
      val wh = generatedWarehouse(s, dir)
      val cat = "graftgen_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      s.sql(
        s"""SELECT seg2, count(*) AS n_rows,
           |       sum(c_custkey) AS keysum
           |FROM $cat.cust_gen
           |WHERE c_mktsegment >= 'F'
           |GROUP BY seg2 ORDER BY seg2""".stripMargin)
    }),

    // Round-16 (B203): atomic CREATE OR REPLACE preserving history —
    // the live read serves the REPLACED definition (new schema/values),
    // the VERSION AS OF read serves the pre-replace table from the same
    // root; the hash match proves the replace landed as one versioned
    // commit with the old epoch intact underneath.
    "q_replace_table" -> ((s, dir) => {
      val wh = replaceTableWarehouse(s, dir)
      val cat = "graftrpl_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      s.sql(
        s"""SELECT 'new' AS epoch, count(*) AS n_rows, sum(ck) AS vsum
           |FROM $cat.cust_rp
           |UNION ALL
           |SELECT 'old', count(*), sum(c_custkey)
           |FROM $cat.cust_rp VERSION AS OF 1
           |ORDER BY epoch""".stripMargin)
    }),

    // Round-16 (B204/B205): the streaming doors END-TO-END — the bronze
    // table's insert feed is tailed by readStream.format("graft") and
    // landed into silver by writeStream.format("graft") (zero catalog,
    // zero hand-wired sources). The hash match proves the full
    // bronze→silver stream moved every row exactly once.
    "q_stream_doors" -> ((s, dir) => {
      val wh = streamDoorsWarehouse(s, dir)
      s.read.format("graft").load(s"$wh/silver")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_rows"), sum(col("c_custkey")).as("keysum"),
          round(sum(col("c_acctbal")), 4).as("balsum"))
        .orderBy("c_mktsegment")
    }),

    // Round-16 (B201): the path-based WRITE door —
    // `df.write.format("graft")` CREATEs the table (empty v0 + declared
    // partition spec, data as v1) and APPENDs O(delta) through the same
    // commit protocol as the catalog door, no registration needed. The
    // hash match proves both commits landed value-exact and the declared
    // grid holds the data (partition dirs pruned on the read below).
    "q_format_write" -> ((s, dir) => {
      val wh = formatWriteWarehouse(s, dir)
      s.read.format("graft").load(s"$wh/nat_w")
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n_rows"), sum(col("n_nationkey")).as("keysum"))
        .orderBy("n_regionkey")
    }),

    // Round-16 (B199, the MERGE boundary lifted): MERGE derives
    // generated columns — matched UPDATE actions substitute their
    // assigned expressions into the generation SQL (the UPDATE-door
    // semantic), unmatched INSERT actions derive from the action's
    // values, and the partition grid re-files the moved rows under the
    // re-derived directories. The hash match proves both derivations
    // exact vs DuckDB's full-join recompute of the whole merge.
    "q_generated_merge" -> ((s, dir) => {
      val wh = generatedMergeWarehouse(s, dir)
      val cat = "graftgmg_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      s.sql(
        s"""SELECT seg2, count(*) AS n_rows, sum(c_custkey) AS keysum,
           |       round(sum(c_acctbal), 4) AS balsum
           |FROM $cat.cust_gm
           |GROUP BY seg2 ORDER BY seg2""".stripMargin)
    }),

    // B189 bucket co-location: orders and lineitem land as PURE-bucket
    // hidden-partitioned catalog tables on the order key (bucket(16)) —
    // the HIGH-cardinality co-location identity dirs can't give. The
    // pure-bucket family stays on the v2 scan where the wrapper reports
    // bucket(n, key) KeyGroupedPartitioning (resolved through the
    // catalog's bucket function), so the fact-fact join runs with ZERO
    // Exchange (plan-asserted in BucketSpjSpec); the hash match proves
    // the shuffle-free grouping is value-exact. Grouped modulo the
    // order key so the result is a stable small table.
    "q_spj_bucket" -> ((s, dir) => {
      val wh = spjBucketWarehouse(s, dir)
      val cat = "graftbkt_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      s.sql(
        s"""SELECT o.o_orderkey % 10 AS okey_mod, count(*) AS pairs,
           |       sum(o.o_orderkey + l.l_linenumber) AS keysum
           |FROM $cat.orders_bkt o
           |JOIN $cat.lineitem_bkt l ON o.o_orderkey = l.l_orderkey
           |GROUP BY o.o_orderkey % 10
           |ORDER BY okey_mod""".stripMargin)
    }),

    // Round-15 (B192): the co-bucketed fact-fact join AFTER a
    // merge-on-read DELETE. The deletion vector used to swap the
    // relation to the v1 funnel, re-introducing the full shuffle until
    // a compaction; the reader-side subtraction (MorSpj) keeps the v2
    // scan and its bucket(16) KeyGroupedPartitioning, so the join stays
    // zero-Exchange (plan-asserted in MorSpjSpec) — and the hash match
    // against the flat recompute proves the per-file bitmap probe is
    // value-exact through the shuffle-free grouping.
    "q_spj_mor" -> ((s, dir) => {
      val wh = spjMorWarehouse(s, dir)
      val cat = "graftsmor_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      s.sql(
        s"""SELECT o.o_orderkey % 10 AS okey_mod, count(*) AS pairs,
           |       sum(o.o_orderkey + l.l_linenumber) AS keysum
           |FROM $cat.orders_bkt o
           |JOIN $cat.lineitem_bkt l ON o.o_orderkey = l.l_orderkey
           |GROUP BY o.o_orderkey % 10
           |ORDER BY okey_mod""".stripMargin)
    }),

    // Round-16 (B192 ext.): the co-bucketed join AFTER the orders side's
    // columns were RENAMED (payload and the bucket-source join key) and
    // a MOR DELETE landed on top — the metadata-only mapping used to
    // drop the version to the v1 funnel's shuffle until compaction; the
    // reader-side colmap path scans physical footer names, re-aliases
    // logical, and keeps bucket(16) KeyGroupedPartitioning, so the join
    // stays zero-Exchange through rename + deletion vector. The hash
    // match proves the aliasing and the subtraction value-exact.
    "q_spj_rename" -> ((s, dir) => {
      val wh = spjRenameWarehouse(s, dir)
      val cat = "graftsren_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      s.sql(
        s"""SELECT o.okey % 10 AS okey_mod, count(*) AS pairs,
           |       sum(o.okey + l.l_linenumber) AS keysum
           |FROM $cat.orders_ren o
           |JOIN $cat.lineitem_ren l ON o.okey = l.l_orderkey
           |GROUP BY o.okey % 10
           |ORDER BY okey_mod""".stripMargin)
    }),

    // Round-15 (B195): identity columns — GENERATED BY DEFAULT AS
    // IDENTITY (START WITH 10 INCREMENT BY 2). The warehouse build
    // inserts three omitted-id rows (single-row commits — each reserves
    // its value under the commit lock) interleaved with one explicit
    // value; the hash match proves reservation arithmetic and the
    // BY DEFAULT explicit-keep are value-exact.
    "q_identity" -> ((s, dir) => {
      val wh = identityWarehouse(s, dir)
      val cat = "graftid_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      s.sql(s"SELECT id, name FROM $cat.ids ORDER BY id")
    }),

    // Round-15 (B193 ext.): CROSS-GRANULARITY temporal SPJ — the
    // day-partitioned event table joins a MONTH-partitioned twin with
    // zero Exchange: the day grid's partition values reduce to the
    // month grid through the calendar-floor ReducibleFunction
    // (plan-asserted in RangeSpjSpec), and the hash match proves the
    // reduced grouping is value-exact.
    "q_spj_grain" -> ((s, dir) => {
      val wh = spjDaysWarehouse(s, dir)
      val cat = "graftdspj_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      s.conf.set(
        "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled", "true")
      s.sql(
        s"""SELECT l.user_id % 5 AS grp, count(*) AS pairs,
           |       sum(l.event_id + m.eid2) AS idsum
           |FROM $cat.ev_l l
           |JOIN $cat.ev_m m ON l.ts = m.ts
           |GROUP BY l.user_id % 5
           |ORDER BY grp""".stripMargin)
    }),

    // Round-15 (B197): VariantType for semi-structured event props.
    // The warehouse ingests events.props (a JSON string) as a VARIANT
    // column (`parse_json`) into a catalog table — Spark 4's binary
    // variant encoding in parquet — and the query reads typed paths
    // back with `variant_get`, which the scan builder can push down
    // (SupportsPushDownVariantExtractions forwards to the parquet
    // delegate). Upgrades B17's per-access get_json_object string
    // parsing to typed, pushdown-friendly access. The hash match
    // against DuckDB's json_extract twin proves the variant encode →
    // store → typed-decode loop is value-exact.
    "q_variant_props" -> ((s, dir) => {
      val wh = variantWarehouse(s, dir)
      val cat = "graftvar_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      s.sql(
        s"""SELECT user_id % 10 AS grp, count(*) AS n,
           |       sum(variant_get(pv, '$$.k', 'bigint')) AS ksum,
           |       max(variant_get(pv, '$$.k', 'bigint')) AS kmax
           |FROM $cat.ev_var
           |GROUP BY user_id % 10
           |ORDER BY grp""".stripMargin)
    }),

    // Round-15 (B193): the co-DAY-partitioned event-event join — the
    // dominant 100 TB stream-history shape. Both tables are hidden-
    // partitioned `PARTITIONED BY (days(ts))`; the scan wrapper reports
    // days(ts) KeyGroupedPartitioning resolved through the catalog's
    // `days` ScalarFunction, so the exact-instant join runs with ZERO
    // Exchange (plan-asserted in RangeSpjSpec) — the hash match against
    // DuckDB's flat recompute proves the temporal grid grouping (DATE
    // directory values parsed from the hidden `_tp_ts__day=` paths) is
    // value-exact.
    "q_spj_days" -> ((s, dir) => {
      val wh = spjDaysWarehouse(s, dir)
      val cat = "graftdspj_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      s.sql(
        s"""SELECT l.user_id % 7 AS grp, count(*) AS pairs,
           |       sum(l.event_id + r.event_id) AS idsum
           |FROM $cat.ev_l l
           |JOIN $cat.ev_r r ON l.ts = r.ts
           |GROUP BY l.user_id % 7
           |ORDER BY grp""".stripMargin)
    }),

    // B187 SQL metadata tables: the per-partition rollup of the
    // nation-partitioned customer table read as an ordinary relation
    // (`<table>.partitions`) — served from directory + footer metadata,
    // zero data pages opened. The oracle recomputes the same rollup
    // from the raw fixture, so a hash match proves the partition
    // directory arithmetic AND the footer row counts are value-exact.
    "q_meta_tables" -> ((s, dir) => {
      val wh = spjWarehouse(s, dir)
      val cat = "graftspj_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      s.sql(s"SELECT c_nationkey, n_rows FROM $cat.cust_by_nation.`partitions` " +
        "ORDER BY c_nationkey")
    }),

    // B182 TRUNCATE TABLE through the native v2 path: each run
    // truncates the scratch table (an empty OCC-committed version),
    // re-inserts a fixed stripe, expires the accumulated history, and
    // reads the result — deterministic across reruns BECAUSE truncate
    // resets the state first. The oracle recomputes the stripe from
    // the raw fixture, so the hash proves truncate + insert + read.
    "q_truncate" -> ((s, dir) => {
      val wh = truncateWarehouse(s, dir)
      val cat = "grafttr_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      s.sql(s"TRUNCATE TABLE $cat.scratch")
      s.sql(s"INSERT INTO $cat.scratch SELECT n_nationkey, n_name FROM " +
        s"$cat.nations WHERE n_nationkey < 10")
      s.sql(s"CALL $cat.system.expire_versions('scratch', retain_versions => 1)")
        .collect()
      s.sql(s"SELECT n_nationkey, n_name FROM $cat.scratch ORDER BY n_nationkey")
    }),

    // B111's materialized views through the round-14 CALL doors: the
    // warehouse CREATEs the MV with a STORED definition, appends a
    // delta, and refreshes BY TARGET NAME ONLY (the stored definition
    // drives the O(delta) change-feed path); the query re-issues the
    // refresh (a verified no-op when current) and reads the MV. The
    // oracle recomputes the aggregate over fixture+delta, so the hash
    // proves create + stored-definition refresh end to end.
    "q_mview_sql" -> ((s, dir) => {
      val wh = mviewSqlWarehouse(s, dir)
      val cat = "graftmv_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      s.sql(s"CALL $cat.system.mview_refresh('nation_by_region')").collect()
      s.sql(
        s"""SELECT n_regionkey, n_rows, sum_n_nationkey
           |FROM $cat.nation_by_region ORDER BY n_regionkey""".stripMargin)
    }),

    // B180 metadata-served NDV through the CALL door: the warehouse
    // declares 'graft.ndv.columns' so publish annotates per-file HLL
    // sketches; the query merges them WITHOUT opening a data file. At
    // the fixture's cardinalities (25 names, 5 region keys) the sketch
    // is still in its exact coupon mode, so the estimate IS the exact
    // distinct count and DuckDB's count(DISTINCT) hash-matches — the
    // q_freq_types trick applied to sketch serving.
    "q_ndv" -> ((s, dir) => {
      val wh = ndvWarehouse(s, dir)
      val cat = "graftndvq_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      s.sql(s"CALL $cat.system.ndv('nations')")
        .orderBy("column")
    }),

    // B179 right-to-erasure purge through the CALL door: the warehouse
    // holds nations with a MOR-deleted tail (history + a deletion
    // vector), the query purges a key stripe and reads the final state —
    // the oracle recomputes survivors from the raw fixture, so a hash
    // match proves the purge removed exactly the matching rows and
    // nothing else, with the DV subtraction still exact on carried
    // files. Idempotent across reruns (a re-purge is a verified no-op).
    "q_purge" -> ((s, dir) => {
      val wh = purgeWarehouse(s, dir)
      val cat = "graftpu_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      s.sql(s"CALL $cat.system.purge('nations', " +
        "where => 'n_nationkey % 7 = 3')").collect()
      s.sql(
        s"""SELECT n_nationkey, n_name, n_regionkey FROM $cat.nations
           |ORDER BY n_nationkey""".stripMargin)
    }),

    "q_catalog_timetravel" -> ((s, dir) => {
      val wh = catalogWarehouse(s, dir)
      // catalog name is PER SF DIR: Spark instantiates a catalog once per
      // name and snapshots its options, so reusing one name across dirs
      // in a session would silently pin the first dir's warehouse
      val cat = "graftwh_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      s.sql(
        s"""SELECT 'v0' AS src, r_regionkey, r_name
           |FROM $cat.regions VERSION AS OF 0
           |UNION ALL
           |SELECT 'cur' AS src, r_regionkey, r_name
           |FROM $cat.regions
           |ORDER BY src, r_regionkey""".stripMargin)
    }),

    // Change-data-feed read over the versioned table: v0 = the nation
    // fixture, v1 = deletes (key>=20) + updates (regionkey bump for
    // key<5) + one insert. changesBetween classifies every key in ONE
    // full-outer key join (Delta-CDF row shape: insert / delete /
    // update_preimage / update_postimage); the oracle rebuilds v0/v1 as
    // CTEs from the fixture and classifies with the same join in SQL.
    "q_table_changes" -> ((s, dir) => {
      val tbl = cdfWarehouse(s, dir)
      graft.ops.Sinks.changesBetween(s, tbl, 0L, 1L, Seq("n_nationkey"))
        .orderBy("_change_type", "n_nationkey")
    }),

    // The same CDF read through the SQL door: the `table_changes` TVF
    // (GraftExtensions.injectTableFunction) resolves the table, builds
    // the keyed diff plan at analysis time, and composes with the
    // surrounding SQL — same oracle as q_table_changes, so a hash match
    // proves the TVF surface is value-identical to the Scala API.
    "q_table_changes_sql" -> ((s, dir) => {
      val tbl = cdfWarehouse(s, dir)
      s.sql(
        s"""SELECT n_nationkey, n_name, n_regionkey, _change_type
           |FROM table_changes('$tbl', 0, 1, 'n_nationkey')
           |ORDER BY _change_type, n_nationkey""".stripMargin)
    }),

    // Z-order (Morton) clustering key over (customer, order-day) — the
    // multi-dimensional layout key that makes parquet min/max stats
    // prune on EITHER dimension after
    // `repartitionByRange(z).sortWithinPartitions(z)`. Pure bit
    // arithmetic, so the identical shift chain runs in the oracle and
    // the z-values hash-match end to end.
    "q_zorder" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          graft.ops.Layout.zorder2(
            col("o_custkey"),
            datediff(to_date(col("o_orderdate")), lit("1995-01-01"))).as("z"))
        .orderBy("o_orderkey")
    }),

    // B157 N-dimensional Z-order (k=3): custkey / order-day / price on
    // a shared 8-bit grid, bit j of dim i landing at z bit j*3+i — the
    // OPTIMIZE ZORDER key for >2 clustering dimensions. Pure bit
    // arithmetic, recomputed term-by-term in the oracle.
    "q_zorder3" -> ((s, dir) => {
      val a = col("o_custkey").bitwiseAND(lit(255L))
      val b = datediff(to_date(col("o_orderdate")), lit("1995-01-01"))
        .cast("long").bitwiseAND(lit(255L))
      val c = floor(col("o_totalprice")).cast("long").bitwiseAND(lit(255L))
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          graft.ops.Layout.zorderN(Seq(a, b, c), bits = 8).as("z3"))
        .orderBy("o_orderkey")
    }),

    // File-level data skipping (B109): orders, Z-order-clustered on
    // (custkey, order-day) and published through the versioned commit
    // with footer min/max stats, read back through Stats.readCurrentWhere
    // — only the files whose custkey range can overlap [10, 40] are
    // OPENED (SkippingSpec asserts the prune count; at 100 TB this is
    // the difference between listing a table and scanning it). The
    // oracle computes the same aggregate from the unclustered fixture,
    // hash-proving that skipping never changes results.
    "q_stats_skipping" -> ((s, dir) => {
      val tbl = statsTable(s, dir)
      graft.ops.Stats.readCurrentWhere(s, tbl, "o_custkey", 10L, 40L)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus")
    }),

    // Bloom-filter point-lookup skipping (B123): orders HASH-laid on
    // o_orderkey — every file's [min,max] spans the whole key domain, so
    // B109 range stats open all 8 files for any point probe — then
    // published with a per-file `_bloom` sidecar. The membership probe
    // keeps ~1 file (SkippingSpec asserts the count); at 100 TB this
    // turns an unclustered point lookup from a full scan into a
    // metadata operation, the same trick as Delta's bloom index. The
    // probe key is a scalar both engines derive identically, and the
    // oracle runs the same lookup on the raw fixture — hash-proving
    // membership pruning never changes results.
    "q_bloom_skipping" -> ((s, dir) => {
      val (tbl, k) = bloomTable(s, dir)
      graft.ops.Bloom.readCurrentWhereEq(s, tbl, "o_orderkey", k)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    }),

    // Incremental materialized view (B111): a stored GROUP BY aggregate
    // over a versioned orders table, advanced to the mutated v1 by
    // replaying the change feed (insert/delete/update signed
    // contributions) rather than recomputing — O(changed rows) per
    // refresh at any table size. The oracle recomputes the same
    // aggregate over the reconstructed v1 in SQL, so a hash match proves
    // the incremental path lands on exactly the full-recompute answer.
    "q_mview_incremental" -> ((s, dir) => {
      val (_, mv) = mviewWarehouse(s, dir)
      graft.ops.Mview.readCurrent(s, mv)
        .select(col("o_orderstatus"), col("o_orderpriority"),
          col("n_rows"), col("sum_o_cents").as("sum_cents"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }),

    // Bucketed co-located join (B110): orders and lineitem written as
    // bucket-sorted catalog tables on the join key; the sort-merge join
    // then needs NO shuffle exchange on either side (ScaleSpec
    // plan-asserts it) — the write-once/join-many layout that removes
    // the dominant shuffle from every downstream join at 100 TB. The
    // merge hint keeps the plan on the co-located SMJ path (a broadcast
    // would sidestep the layout being exercised); the oracle is the
    // plain join over the fixtures, proving the bucketed round-trip
    // value-lossless.
    "q_bucketed_join" -> ((s, dir) => {
      val (ot, lt) = bucketedTables(s, dir)
      val cents = round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
      s.table(lt)
        .join(s.table(ot).hint("merge"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("long")).as("qty"),
          round(sum(cents) / 100.0, 2).as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // Schema evolution through the SQL door (round-9 headline): customer
    // CTAS'd into a catalog table WITH a CHECK constraint, then
    // RENAME COLUMN c_name→cust_name (the constraint's expression is
    // rewritten through the rename), DROP COLUMN c_mktsegment (the
    // column leaves data, schema, and every name-keyed sidecar),
    // ALTER COLUMN c_nationkey TYPE BIGINT (widening retype), and an
    // INSERT INTO the evolved table (the rewritten constraint still
    // gates). Each step is an ordinary OCC version; the pre-evolution
    // versions stay time-travelable under their old schema (CatalogSpec
    // covers that plus the reject paths). The oracle rebuilds the final
    // state from the raw fixture + the inserted row, hash-proving the
    // whole evolution chain value-lossless.
    "q_catalog_schema_evolution" -> ((s, dir) => {
      val cat = schemaEvolutionCatalog(s, dir)
      s.sql(
        s"""SELECT c_custkey, cust_name, c_nationkey,
           |  CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
           |FROM $cat.cust ORDER BY c_custkey""".stripMargin)
    }),

    // PARTITIONED BY catalog table end to end: events CTAS'd through the
    // SQL door into a Hive-partitioned versioned table (partition spec in
    // the _PROPS sidecar — every later publish re-lays it), then read
    // back with a partition-column predicate that prunes DIRECTORIES at
    // planning (CatalogSpec plan-asserts PartitionFilters; at 100 TB this
    // is the first and cheapest pruning tier, ahead of file stats and
    // row-group stats). The oracle recomputes from the raw fixture, so a
    // hash match proves the partitioned round-trip value-lossless.
    "q_catalog_partitioned" -> ((s, dir) => {
      val cat = partitionedCatalog(s, dir)
      s.sql(
        s"""SELECT event_type, count(*) AS n_events,
           |  count(DISTINCT user_id) AS n_users,
           |  round(sum(value), 4) AS sum_value
           |FROM $cat.events_part
           |WHERE event_type IN ('click', 'purchase')
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),

    // B132 metadata-only count: a global unfiltered count(*)/count(col)
    // over a Graft catalog table is answered from the _stats sidecar by
    // the MetaCountRewrite optimizer rule — the plan collapses to a
    // LocalRelation, zero data files open (ScaleSpec plan-asserts it).
    // The warehouse has LIVED first: published with stats, appended to,
    // then COW-DELETEd through SQL DML — the sidecar follows every
    // commit, so the metadata answer stays exact across the table's
    // whole life. At 100 TB this is the difference between a KB-scale
    // driver metadata read and scanning every file just to count it.
    // The oracle recomputes the same counts from the raw fixture.
    "q_meta_count" -> ((s, dir) => {
      val cat = metaCatalog(s, dir)
      // min/max over o_clerk (string, round-14): answered from the
      // DATA-exact `s_exact` sidecar bounds the annotator computed at
      // commit time — footer binary stats are truncatable and never
      // trusted as answers (MetaCountSpec pins the decline on era
      // sidecars without the bit)
      s.sql(
        s"""SELECT count(*) AS n_rows, count(o_custkey) AS n_cust,
           |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
           |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
           |  min(o_orderpriority) AS min_prio, max(o_orderpriority) AS max_prio
           |FROM $cat.ord_meta""".stripMargin)
    }),

    // Filtered metadata counts (round-14, B132 extension): count(*)
    // under a predicate classifies every file from metadata — identity
    // partition directories decide ALL/NONE outright (directory
    // arithmetic, zero files opened for a partition-only predicate),
    // sidecar ranges prove interior files (counted from metadata) and
    // disjoint files (skipped), and only BOUNDARY files scan with the
    // exact predicate — the Delta metadata+boundary trick. The three
    // scalar subqueries exercise the three shapes: partition-only,
    // partition+range hybrid, range-only. MetaCountSpec plan-asserts
    // each shape; the oracle recomputes all three from the raw fixture.
    "q_meta_count_filtered" -> ((s, dir) => {
      val cat = filteredMetaCatalog(s, dir)
      s.sql(
        s"""SELECT
           |  (SELECT count(*) FROM $cat.ord_part
           |   WHERE o_orderstatus = 'O') AS n_status,
           |  (SELECT count(*) FROM $cat.ord_part
           |   WHERE o_orderstatus = 'F' AND o_orderkey < 30000) AS n_mixed,
           |  (SELECT count(*) FROM $cat.ord_part
           |   WHERE o_orderkey >= 30000) AS n_range,
           |  (SELECT max(o_orderkey) FROM $cat.ord_part
           |   WHERE o_orderstatus = 'O') AS max_o,
           |  (SELECT count(o_custkey) FROM $cat.ord_part
           |   WHERE o_orderstatus = 'P') AS n_cust_p""".stripMargin)
    }),

    // Grouped metadata counts (round-14, B171 extension): the
    // partitions-overview probe — GROUP BY an identity partition column
    // with plain counts collapses to a LocalRelation built from
    // directory arithmetic + sidecar row counts, ZERO files opened
    // (MetaCountSpec plan-asserts it). On a 100 TB table this is the
    // operational "how big is each segment" query, normally a full
    // scan. The oracle recomputes the grouping from the raw fixture.
    "q_meta_count_grouped" -> ((s, dir) => {
      val cat = filteredMetaCatalog(s, dir)
      s.sql(
        s"""SELECT o_orderstatus, count(*) AS n_orders,
           |  count(o_custkey) AS n_cust
           |FROM $cat.ord_part
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),

    // Metadata-served SUM/AVG (round-14, B174): parquet footers carry no
    // sums, so the stats annotator records each file's DATA-exact sum
    // for declared integer columns (`sum_l`) — and sum(col) collapses to
    // a LocalRelation (global), to directory arithmetic under a
    // partition-only predicate (the per-segment revenue probe), or to
    // interior-sums + boundary-scan under a range (the hybrid). avg(col)
    // serves only where double accumulation is provably lossless
    // (same-sign values, |total| <= 2^53) — anything else declines to
    // the scan, so the metadata answer can never differ in the last
    // ulp. MetaCountSpec plan-asserts each shape; the oracle recomputes
    // all five from the raw fixture.
    "q_meta_sum" -> ((s, dir) => {
      val cat = filteredMetaCatalog(s, dir)
      s.sql(
        s"""SELECT
           |  (SELECT sum(o_orderkey) FROM $cat.ord_part) AS sum_key,
           |  (SELECT avg(o_orderkey) FROM $cat.ord_part) AS avg_key,
           |  (SELECT sum(o_orderkey) FROM $cat.ord_part
           |   WHERE o_orderstatus = 'O') AS sum_o,
           |  (SELECT avg(o_orderkey) FROM $cat.ord_part
           |   WHERE o_orderstatus = 'O') AS avg_o,
           |  (SELECT sum(o_orderkey) FROM $cat.ord_part
           |   WHERE o_orderkey >= 100 AND o_orderkey < 30000) AS sum_mid,
           |  (SELECT count(DISTINCT o_orderstatus) FROM $cat.ord_part)
           |    AS n_status""".stripMargin)
    }),

    // Avro container scan (round-14, closes B3's documented gap): the
    // spark-avro connector is absent from this classpath, but avro-core
    // ships with Spark itself — AvroIO writes one container per
    // partition and reads them back via a one-header driver schema read
    // plus executor-side record streams. The oracle aggregates the
    // PARQUET original, so the hash proves the whole write→read avro
    // roundtrip lossless — longs, strings, doubles, AND the timestamp
    // column (timestamp-micros logical type).
    "q_avro_scan" -> ((s, dir) => {
      val path = avroFixture(s, dir)
      graft.sources.AvroIO.read(s, path)
        .groupBy("o_orderstatus").agg(
          count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .cast("long").as("cents"),
          min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"),
          min("o_orderdate").as("min_date"), max("o_orderdate").as("max_date"))
        .orderBy("o_orderstatus")
    }),

    // Grouped HYBRID metadata aggregates (round-14, B171/B174
    // completion): GROUP BY a partition column UNDER a range predicate —
    // THE dashboard query ("per-segment counts for the last window") —
    // no longer declines to a full scan: interior files inject
    // per-group metadata partials through a Union leg while only
    // boundary files scan, one outer aggregate merging the two
    // (MetaCountSpec pins the file subset and the interior-only-group
    // survival). The oracle recomputes the grouping from the raw
    // fixture.
    "q_meta_grouped_range" -> ((s, dir) => {
      val cat = filteredMetaCatalog(s, dir)
      s.sql(
        s"""SELECT o_orderstatus, count(*) AS n_orders,
           |  count(o_custkey) AS n_cust, sum(o_orderkey) AS sum_key,
           |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
           |FROM $cat.ord_part
           |WHERE o_orderkey >= 100 AND o_orderkey < 30000
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),

    // B164 SQL-side file skipping end to end: the same ord_meta table
    // (stats sidecar + delta append + COW DELETE), read through
    // spark.sql with a range predicate on a covered column —
    // StatsSkipRule swaps the scan for the pruned file list
    // (SkippingSpec asserts the opened-file count); the oracle
    // recomputes the whole table state + the range from the raw
    // fixture, so the hash proves the pruned read exact.
    "q_stats_skipping_sql" -> ((s, dir) => {
      val cat = metaCatalog(s, dir)
      s.sql(
        s"""SELECT o_orderstatus, count(*) AS n_orders,
           |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
           |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
           |FROM $cat.ord_meta
           |WHERE o_orderkey BETWEEN 1000 AND 5000
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),

    // B165 timestamp file skipping through the SQL door (round-13): the
    // events table published ts-clustered with auto-declared stats
    // ('graft.stats.columns' — the sidecar exists because the TABLE
    // says so, no caller passed statsCols), then read via spark.sql
    // with a time-range predicate — THE dominant scan filter on a
    // 100 TB event table. StatsSkipRule compares the literal's micros
    // against the annotate-time-normalized footer bounds (ms/µs/ns
    // files all comparable; SkippingSpec pins the per-unit legs and
    // opened-file counts). The oracle recomputes from the raw fixture,
    // hash-proving pruned time-range reads exact.
    "q_stats_skipping_ts" -> ((s, dir) => {
      val cat = tsSkipCatalog(s, dir)
      s.sql(
        s"""SELECT event_type, count(*) AS n_events,
           |  count(DISTINCT user_id) AS n_users,
           |  round(sum(value), 4) AS sum_value,
           |  min(event_id) AS min_eid, max(event_id) AS max_eid
           |FROM $cat.events_ts
           |WHERE ts >= timestamp'2024-01-10 00:00:00'
           |  AND ts < timestamp'2024-01-13 00:00:00'
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),

    // Metadata-only freshness probe (round-13): the single most common
    // operational query on a 100 TB event table — `min(ts)/max(ts)` —
    // answered from the _stats sidecar's value-exact micros (µs/ms
    // units only; ns floor/ceil declines) with ZERO data files opened
    // (MetaCountSpec plan-asserts LocalRelation). Same events_ts table
    // as q_stats_skipping_ts, so the sidecar it reads was auto-collected
    // by declaration across a CTAS and an INSERT; the oracle recomputes
    // count/min/max from the raw fixture + the shifted insert rows.
    "q_meta_count_ts" -> ((s, dir) => {
      val cat = tsSkipCatalog(s, dir)
      s.sql(
        s"""SELECT count(*) AS n_rows, min(ts) AS min_ts, max(ts) AS max_ts
           |FROM $cat.events_ts""".stripMargin)
    }),

    // Decimal file skipping end to end (round-13, B165 sibling): orders
    // re-landed with an exact DECIMAL(14,2) price (derived from integer
    // cents — both engines construct the identical value), price-range-
    // clustered, stats DECLARED via 'graft.stats.columns'. The sidecar
    // stores (unscaled, scale); the rule rescales the literal bound per
    // file, so the money-band scan — the other classic warehouse filter
    // — opens only overlapping files (SkippingSpec pins the counts and
    // the flavor-mismatch keeps). Aggregates exit as integer cents, so
    // the hash is decimal-representation-independent.
    "q_stats_skipping_dec" -> ((s, dir) => {
      val cat = decSkipCatalog(s, dir)
      s.sql(
        s"""SELECT o_orderstatus, count(*) AS n_orders,
           |  CAST(sum(price) * 100 AS BIGINT) AS cents,
           |  CAST(min(price) * 100 AS BIGINT) AS min_cents,
           |  CAST(max(price) * 100 AS BIGINT) AS max_cents
           |FROM $cat.ord_dec
           |WHERE price BETWEEN 50000.00 AND 100000.00
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),

    // B137 COPY INTO end to end: a landing directory gains two region
    // files (ingested as one commit), then a third (ingested alone by
    // the second CALL — the first two are receipt-deduped). The read
    // proves exactly-once: every landing row appears exactly once no
    // matter how many times the CALL re-ran during warehouse builds.
    // The oracle recomputes both drops from the raw fixture.
    "q_copy_into" -> ((s, dir) => {
      val cat = copyIntoCatalog(s, dir)
      s.sql(
        s"""SELECT r_regionkey, r_name FROM $cat.region_land
           |ORDER BY r_regionkey""".stripMargin)
    }),

    // B135 merge-on-read DELETE end to end: orders under
    // graft.dml.mode=mor, a SQL DELETE whose predicate touches rows in
    // EVERY file (the COW worst case — a rewrite would move the whole
    // table; here zero data bytes move, one small _dv sidecar commits),
    // then an INSERT whose linked commit carries the vector. The read
    // subtracts at scan time via DvReadRule; the oracle recomputes
    // delete + insert from the raw fixture — hash-proving the
    // subtraction row-exact. DvSpec pins the zero-rewrite inode claim.
    "q_mor_delete" -> ((s, dir) => {
      val cat = morCatalog(s, dir)
      s.sql(
        s"""SELECT o_orderstatus, count(*) AS n_orders,
           |  min(o_orderkey) AS min_key,
           |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
           |FROM $cat.ord_mor
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),

    // B136 merge-on-read UPDATE read-back: the rows the UPDATE touched
    // (their OLD copies are vector-hidden; these are the commit's new
    // files) — value-for-value vs the fixture recompute of the whole
    // delete→insert→update chain.
    "q_mor_update" -> ((s, dir) => {
      val cat = morCatalog(s, dir)
      s.sql(
        s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
           |FROM $cat.ord_mor WHERE o_custkey > 1000000
           |ORDER BY o_orderkey""".stripMargin)
    }),

    // B138 merge-on-read MERGE read-back: the rows the MERGE touched
    // (matched update re-landed as a new copy behind the vector, plus
    // the not-matched insert) — value-for-value vs the fixture
    // recompute of the whole delete→insert→update→merge chain.
    "q_mor_merge" -> ((s, dir) => {
      val cat = morCatalog(s, dir)
      s.sql(
        s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
           |FROM $cat.ord_mor WHERE o_orderkey >= 90000000
           |ORDER BY o_orderkey""".stripMargin)
    }),

    // B134 partition evolution end to end: events CTAS'd UNPARTITIONED,
    // then `CALL system.repartition_table` re-lays the live version
    // Hive-partitioned by event_type (one OCC commit; history keeps its
    // own layout via the version-local _PSPEC stamp), then an INSERT
    // lands through the evolved spec. The final read prunes partitions
    // at the scan (PartitionEvolutionSpec plan-asserts it) and the
    // oracle recomputes from the raw fixture + the inserted row —
    // hash-proving the whole evolve-then-write chain value-lossless.
    "q_partition_evolution" -> ((s, dir) => {
      val cat = partitionEvolutionCatalog(s, dir)
      s.sql(
        s"""SELECT event_type, count(*) AS n_events,
           |  count(DISTINCT user_id) AS n_users,
           |  round(sum(value), 4) AS sum_value
           |FROM $cat.events_pe
           |WHERE event_type IN ('click', 'purchase')
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),

    // B160 METADATA-ONLY partition evolution (Iceberg spec-append form)
    // end to end through the SQL door: events_pem CTAS'd unpartitioned,
    // `CALL system.repartition_table(metadata_only => true)` records the
    // event_type spec with ZERO data movement (the old files hardlink
    // under a `_layout0/` leg keeping their own `_PSPEC`), then an
    // INSERT lands Hive-partitioned under the NEW spec — so the final
    // read unions two layouts of one version: directory pruning fires on
    // the new files, the leg serves event_type from file contents. The
    // oracle recomputes from the raw fixture + the inserted row,
    // hash-proving the mixed-layout read value-lossless.
    "q_partition_evolution_meta" -> ((s, dir) => {
      val cat = partitionEvolutionMetaCatalog(s, dir)
      s.sql(
        s"""SELECT event_type, count(*) AS n_events,
           |  count(DISTINCT user_id) AS n_users,
           |  round(sum(value), 4) AS sum_value,
           |  min(event_id) AS min_event, max(event_id) AS max_event
           |FROM $cat.events_pem
           |WHERE event_type IN ('view', 'click')
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),

    // B161 HIDDEN partitioning end to end through the SQL door:
    // events_hp CTAS'd `PARTITIONED BY (days(ts), bucket(8, user_id))`
    // — the table partitions by derived `_tp_*` columns the user never
    // sees (writers materialize them, readers hide them), an INSERT
    // lands through the same derivation, and the final read filters on
    // RAW ts — HiddenPartitionRule injects the `_tp_ts__day` directory
    // predicate so the scan partition-prunes a spec that is invisible
    // in the schema (HiddenPartitionSpec plan-asserts the pruning).
    // The oracle recomputes from the raw fixture + the inserted row.
    "q_hidden_partitioning" -> ((s, dir) => {
      val cat = hiddenPartitionCatalog(s, dir)
      s.sql(
        s"""SELECT event_type, count(*) AS n_events,
           |  count(DISTINCT user_id) AS n_users,
           |  round(sum(value), 4) AS sum_value
           |FROM $cat.events_hp
           |WHERE ts >= timestamp'2024-01-08 00:00:00'
           |  AND ts < timestamp'2024-01-15 00:00:00'
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),

    // B166 hour-grain hidden partitioning end to end: events_hph CTAS'd
    // `PARTITIONED BY (hours(ts))` — epoch-hour INT directories derived
    // by UTC-pinned floor division — an INSERT through the derivation,
    // then a SUB-DAY window on raw ts: HiddenPartitionRule maps the
    // bounds through the same epoch math, so the scan prunes to the
    // window's hours (HiddenPartitionSpec plan-asserts). The oracle
    // recomputes from the raw fixture + the inserted row.
    "q_hidden_hour" -> ((s, dir) => {
      val cat = hiddenPartitionCatalog(s, dir)
      s.sql(
        s"""SELECT event_type, count(*) AS n_events,
           |  count(DISTINCT user_id) AS n_users,
           |  round(sum(value), 4) AS sum_value
           |FROM $cat.events_hph
           |WHERE ts >= timestamp'2024-01-09 06:00:00'
           |  AND ts < timestamp'2024-01-09 18:00:00'
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),

    // B162 METADATA-ONLY type widening end to end through the SQL door:
    // ord_w CTAS'd with an INT key column, `ALTER TABLE ... ALTER COLUMN
    // cust TYPE BIGINT` records the widening in the column-mapping
    // marker with every data file hardlinked (zero movement — WidenSpec
    // inode-asserts), then an INSERT lands a value beyond int range.
    // The final aggregate reads MIXED footers (int32 files upcast per
    // file, the new file natively wide); the oracle recomputes from the
    // raw fixture with an explicit CAST.
    "q_type_widening" -> ((s, dir) => {
      val cat = typeWideningCatalog(s, dir)
      s.sql(
        s"""SELECT o_orderstatus, count(*) AS n_orders,
           |  CAST(sum(cust) AS BIGINT) AS sum_cust, max(cust) AS max_cust
           |FROM $cat.ord_w
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),

    // B131 zero-copy CLONE end to end through the SQL door: nation
    // CTAS'd as nat_src, `CALL system.clone` publishes its live version
    // as v0 of nat_clone (hardlink carry — no data bytes move), then the
    // two tables DIVERGE: an INSERT lands only in the clone, a DELETE
    // lands only in the source. Reading both back tagged proves (a) the
    // clone content-matches the source snapshot it was taken from and
    // (b) post-clone commits are fully independent in both directions —
    // every writer path copies-on-write, so shared inodes can never leak
    // a change across. The oracle rebuilds both sides from the raw
    // fixture.
    "q_clone" -> ((s, dir) => {
      val cat = cloneCatalog(s, dir)
      s.sql(
        s"""SELECT 'src' AS side, n_nationkey, n_name, n_regionkey
           |FROM $cat.nat_src
           |UNION ALL
           |SELECT 'clone' AS side, n_nationkey, n_name, n_regionkey
           |FROM $cat.nat_clone
           |ORDER BY side, n_nationkey""".stripMargin)
    }),
  )

  /** Write (once per sf dir) and return the date-partitioned events copy.
    * Staleness-checked (a regenerated fixture invalidates the cache via
    * mtime) and race-safe across processes: the copy is built in a
    * process-unique staging dir and atomically renamed into place; if a
    * concurrent builder won the rename, its copy is used and the staging
    * dir dropped.
    */
  def partitionedEventsCopy(s: SparkSession, dir: String): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val out = "/tmp/graft_part_events_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val marker = Paths.get(out, "_GRAFT_STAMP")
    val stamp = Tables.srcStamp(dir, "events")
    // freshness = mtime AND content sanity: a copy built while the
    // session's ns-timestamp conf was not in effect collapses every row
    // to epoch-era dates (one 1970 partition) and an mtime check alone
    // would trust that corrupt build forever. The fixture's events span
    // many days, so a sane layout always has several partition dirs.
    def saneLayout: Boolean = {
      val dirs = graft.io.Fs.listDir(Paths.get(out))
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("event_date="))
      dirs.size > 1 && !dirs.exists(
        _.getFileName.toString.startsWith("event_date=19"))
    }
    val fresh = Files.exists(marker) &&
      new String(Files.readAllBytes(marker), "UTF-8").trim == stamp && saneLayout
    if (!fresh) {
      val staging = out + ".stage-" + ProcessHandle.current().pid()
      Tables.events(s, dir)
        .withColumn("event_date", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("event_date").parquet(staging)
      // the stamp rides the staged copy so the rename publishes both
      java.nio.file.Files.write(Paths.get(staging, "_GRAFT_STAMP"),
        stamp.getBytes("UTF-8"))
      // retire a stale live copy by ATOMIC RENAME, never an in-place
      // delete — a concurrent reader mid-scan keeps its open file
      // handles (POSIX unlink semantics) and new plans re-resolve
      if (Files.exists(Paths.get(out))) {
        val retired = Paths.get(out + ".old-" + ProcessHandle.current().pid()
          + "-" + System.nanoTime())
        try Files.move(Paths.get(out), retired, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.NoSuchFileException => () } // other retirer won
        graft.io.Fs.deleteRecursively(retired)
      }
      try Files.move(Paths.get(staging), Paths.get(out), StandardCopyOption.ATOMIC_MOVE)
      catch { // lost the race to a concurrent builder — use theirs
        case _: java.nio.file.FileAlreadyExistsException
             | _: java.nio.file.AccessDeniedException
             | _: java.nio.file.DirectoryNotEmptyException =>
          graft.io.Fs.deleteRecursively(Paths.get(staging))
      }
    }
    out
  }

  /** Versioned warehouse for q_catalog_timetravel: `regions` v0 = the
    * full fixture, v1 (current) = the r_regionkey<3 subset. Built once
    * per sf dir through the real commit protocol; rebuilt when the
    * fixture regenerates (v0 mtime vs source mtime).
    */
  def catalogWarehouse(s: SparkSession, dir: String): String = this.synchronized {
    import java.nio.file.{Files, Paths}
    import graft.ops.Sinks
    val root = "/tmp/graft_wh_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val tbl = root + "/regions"
    // content-stamp equality, not >=-mtime (epoch-stamped regeneration)
    val stampFile = Paths.get(root, "_SRCSTAMP")
    val stamp = Tables.srcStamp(dir, "region")
    val fresh = Files.isDirectory(Paths.get(tbl)) &&
      Sinks.listVersions(tbl) == Seq(0L, 1L) &&
      Files.exists(stampFile) &&
      new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
    if (!fresh) {
      graft.io.Fs.deleteRecursively(Paths.get(root))
      Sinks.publishVersioned(Tables.region(s, dir), tbl, None)
      Sinks.publishVersioned(
        Tables.region(s, dir).filter(col("r_regionkey") < 3), tbl, Some(0L))
      Files.write(stampFile, stamp.getBytes("UTF-8"))
    }
    root
  }

  /** Warehouse for q_view (B178): plain single-version publishes of the
    * nation + region fixtures — the interesting state (the views) is
    * (re)created BY the query through the SQL door. Cached per sf dir by
    * content stamp like [[catalogWarehouse]].
    */
  private def viewWarehouse(s: SparkSession, dir: String): String =
    this.synchronized {
      import java.nio.file.{Files, Paths}
      import graft.ops.Sinks
      val root = "/tmp/graft_view_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      val stampFile = Paths.get(root, "_SRCSTAMP")
      val stamp = Tables.srcStamp(dir, "nation") + "|" + Tables.srcStamp(dir, "region")
      val fresh = Files.isDirectory(Paths.get(root + "/nations")) &&
        Files.isDirectory(Paths.get(root + "/regions")) &&
        Files.exists(stampFile) &&
        new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
      if (!fresh) {
        graft.io.Fs.deleteRecursively(Paths.get(root))
        Sinks.publishVersioned(Tables.nation(s, dir), root + "/nations", None)
        Sinks.publishVersioned(Tables.region(s, dir), root + "/regions", None)
        Files.write(stampFile, stamp.getBytes("UTF-8"))
      }
      root
    }

  /** Warehouse for q_spj_join (B186): customer and supplier projected
    * to (key, nationkey) and published identity-partitioned on the
    * nation key — the co-partitioned layout the storage-partitioned
    * join rides. Stats columns declared so the same tables also serve
    * exact plan statistics (B185). Cached per sf dir by content stamp.
    */
  private def spjWarehouse(s: SparkSession, dir: String): String =
    this.synchronized {
      import java.nio.file.{Files, Paths}
      import graft.ops.{Sinks, TableProps}
      val root = "/tmp/graft_spj_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      val stampFile = Paths.get(root, "_SRCSTAMP")
      val stamp = Tables.srcStamp(dir, "customer") + "|" + Tables.srcStamp(dir, "supplier")
      val fresh = Files.isDirectory(Paths.get(root + "/cust_by_nation")) &&
        Files.isDirectory(Paths.get(root + "/supp_by_nation")) &&
        Files.exists(stampFile) &&
        new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
      if (!fresh) {
        graft.io.Fs.deleteRecursively(Paths.get(root))
        val cust = root + "/cust_by_nation"
        TableProps.store(cust, Map(TableProps.PartitionKey -> "c_nationkey INT",
          TableProps.StatsKey -> "c_custkey"))
        Sinks.publishVersioned(
          Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
          cust, None)
        val supp = root + "/supp_by_nation"
        TableProps.store(supp, Map(TableProps.PartitionKey -> "s_nationkey INT",
          TableProps.StatsKey -> "s_suppkey"))
        Sinks.publishVersioned(
          Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey")),
          supp, None)
        Files.write(stampFile, stamp.getBytes("UTF-8"))
      }
      root
    }

  /** Warehouse for q_default_values (B190): `nations` (the read source)
    * and `defs`, CREATEd through the catalog door with two DEFAULTed
    * columns — the query truncates and refills it each run. Cached per
    * sf dir by content stamp.
    */
  private def defaultsWarehouse(s: SparkSession, dir: String): String =
    this.synchronized {
      import java.nio.file.{Files, Paths}
      import graft.ops.Sinks
      val root = "/tmp/graft_defs_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      val stampFile = Paths.get(root, "_SRCSTAMP")
      val stamp = Tables.srcStamp(dir, "nation") + "|df2"
      val fresh = Files.isDirectory(Paths.get(root + "/defs")) &&
        Files.exists(stampFile) &&
        new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
      if (!fresh) {
        graft.io.Fs.deleteRecursively(Paths.get(root))
        Files.createDirectories(Paths.get(root))
        val cat = "graftdfwh_" + dir.replaceAll("[^A-Za-z0-9]", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        Sinks.publishVersioned(Tables.nation(s, dir), root + "/nations", None)
        s.sql(s"CREATE TABLE $cat.defs (n_nationkey BIGINT, n_name STRING, " +
          "src STRING DEFAULT 'fixture', score INT DEFAULT 40 + 2) USING parquet")
        // defs2 (round-15, q_add_default): rows BEFORE the one-statement
        // ADD COLUMN ... DEFAULT read the ADD-time existence constant,
        // rows after fill the current default (or their explicit value)
        s.sql(s"CREATE TABLE $cat.defs2 (n_nationkey BIGINT, n_name STRING) " +
          "USING parquet")
        s.sql(s"INSERT INTO $cat.defs2 SELECT n_nationkey, n_name FROM " +
          s"$cat.nations WHERE n_nationkey < 5")
        s.sql(s"ALTER TABLE $cat.defs2 ADD COLUMNS (grade STRING DEFAULT 'std')")
        s.sql(s"INSERT INTO $cat.defs2 SELECT n_nationkey, n_name, 'post' " +
          s"FROM $cat.nations WHERE n_nationkey >= 5 AND n_nationkey < 8")
        s.sql(s"INSERT INTO $cat.defs2 (n_nationkey, n_name) VALUES (200, 'omitted')")
        s.sql(s"INSERT INTO $cat.defs2 VALUES (201, 'nullrow', NULL)")
        Files.write(stampFile, stamp.getBytes("UTF-8"))
      }
      root
    }

  /** Warehouse for q_spj_bucket (B189): orders + lineitem projected to
    * their join-relevant columns and CREATEd `PARTITIONED BY
    * (bucket(16, <orderkey>))` through the catalog door — the
    * co-bucketed high-cardinality layout. Cached per sf dir by content
    * stamp.
    */
  private def spjBucketWarehouse(s: SparkSession, dir: String): String =
    this.synchronized {
      import java.nio.file.{Files, Paths}
      val root = "/tmp/graft_bktspj_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      val stampFile = Paths.get(root, "_SRCSTAMP")
      val stamp = Tables.srcStamp(dir, "orders") + "|" + Tables.srcStamp(dir, "lineitem")
      val fresh = Files.isDirectory(Paths.get(root + "/orders_bkt")) &&
        Files.isDirectory(Paths.get(root + "/lineitem_bkt")) &&
        Files.exists(stampFile) &&
        new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
      if (!fresh) {
        graft.io.Fs.deleteRecursively(Paths.get(root))
        Files.createDirectories(Paths.get(root))
        val cat = "graftbktwh_" + dir.replaceAll("[^A-Za-z0-9]", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
          .createOrReplaceTempView("spj_bucket_orders_src")
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"))
          .createOrReplaceTempView("spj_bucket_lineitem_src")
        s.sql(s"CREATE TABLE $cat.orders_bkt (o_orderkey BIGINT, o_custkey BIGINT) " +
          "USING parquet PARTITIONED BY (bucket(16, o_orderkey))")
        s.sql(s"INSERT INTO $cat.orders_bkt SELECT * FROM spj_bucket_orders_src")
        s.sql(s"CREATE TABLE $cat.lineitem_bkt (l_orderkey BIGINT, l_linenumber INT) " +
          "USING parquet PARTITIONED BY (bucket(16, l_orderkey))")
        s.sql(s"INSERT INTO $cat.lineitem_bkt SELECT * FROM spj_bucket_lineitem_src")
        Files.write(stampFile, stamp.getBytes("UTF-8"))
      }
      root
    }

  /** Warehouse for q_spj_mor (B192): the q_spj_bucket layout plus a
    * merge-on-read DELETE on the orders side (`o_custkey % 7 = 3`, a
    * NON-partition column — genuinely row-level). The build asserts the
    * DELETE routed MOR and that the version qualifies for the
    * reader-side subtraction path, so the query exercises exactly the
    * SPJ-under-DV plan. Cached per sf dir by content stamp.
    */
  private def spjMorWarehouse(s: SparkSession, dir: String): String =
    this.synchronized {
      import java.nio.file.{Files, Paths}
      val root = "/tmp/graft_morspj_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      val stampFile = Paths.get(root, "_SRCSTAMP")
      val stamp = Tables.srcStamp(dir, "orders") + "|" +
        Tables.srcStamp(dir, "lineitem") + "|mor1"
      val fresh = Files.isDirectory(Paths.get(root + "/orders_bkt")) &&
        Files.isDirectory(Paths.get(root + "/lineitem_bkt")) &&
        Files.exists(stampFile) &&
        new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
      if (!fresh) {
        graft.io.Fs.deleteRecursively(Paths.get(root))
        Files.createDirectories(Paths.get(root))
        val cat = "graftmorwh_" + dir.replaceAll("[^A-Za-z0-9]", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
          .createOrReplaceTempView("spj_mor_orders_src")
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"))
          .createOrReplaceTempView("spj_mor_lineitem_src")
        s.sql(s"CREATE TABLE $cat.orders_bkt (o_orderkey BIGINT, o_custkey BIGINT) " +
          "USING parquet PARTITIONED BY (bucket(16, o_orderkey)) " +
          "TBLPROPERTIES ('graft.dml.mode' = 'mor')")
        s.sql(s"INSERT INTO $cat.orders_bkt SELECT * FROM spj_mor_orders_src")
        s.sql(s"CREATE TABLE $cat.lineitem_bkt (l_orderkey BIGINT, l_linenumber INT) " +
          "USING parquet PARTITIONED BY (bucket(16, l_orderkey))")
        s.sql(s"INSERT INTO $cat.lineitem_bkt SELECT * FROM spj_mor_lineitem_src")
        s.sql(s"DELETE FROM $cat.orders_bkt WHERE o_custkey % 7 = 3")
        val live = graft.ops.Sinks.resolve(root + "/orders_bkt")
        require(graft.ops.Dv.exists(live),
          "q_spj_mor warehouse: the DELETE must route merge-on-read")
        require(graft.catalog.MorSpj.readerSide(root + "/orders_bkt", live),
          "q_spj_mor warehouse: the version must take the reader-side SPJ path")
        Files.write(stampFile, stamp.getBytes("UTF-8"))
      }
      root
    }

  /** Warehouse for q_spj_rename (round-16, B192 ext.): the co-bucketed
    * orders/lineitem pair with the ORDERS side renamed after load
    * (payload AND the bucket-source join key) plus a post-rename MOR
    * DELETE — the metadata-only mapping used to drop the version to the
    * v1 funnel and its shuffle; the reader-side colmap path keeps the
    * v2 scan (physical-name delegate, logical re-alias) so the join
    * stays zero-Exchange through rename + deletion vector. Cached per
    * content stamp.
    */
  private def spjRenameWarehouse(s: SparkSession, dir: String): String =
    this.synchronized {
      import java.nio.file.{Files, Paths}
      val root = "/tmp/graft_spjren_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      val stampFile = Paths.get(root, "_SRCSTAMP")
      val stamp = Tables.srcStamp(dir, "orders") + "|" +
        Tables.srcStamp(dir, "lineitem") + "|ren1"
      val fresh = Files.isDirectory(Paths.get(root + "/orders_ren")) &&
        Files.isDirectory(Paths.get(root + "/lineitem_ren")) &&
        Files.exists(stampFile) &&
        new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
      if (!fresh) {
        graft.io.Fs.deleteRecursively(Paths.get(root))
        Files.createDirectories(Paths.get(root))
        val cat = "graftrenwh_" + dir.replaceAll("[^A-Za-z0-9]", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
          .createOrReplaceTempView("spj_ren_orders_src")
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"))
          .createOrReplaceTempView("spj_ren_lineitem_src")
        s.sql(s"CREATE TABLE $cat.orders_ren (o_orderkey BIGINT, o_custkey BIGINT) " +
          "USING parquet PARTITIONED BY (bucket(16, o_orderkey)) " +
          "TBLPROPERTIES ('graft.dml.mode' = 'mor')")
        s.sql(s"INSERT INTO $cat.orders_ren SELECT * FROM spj_ren_orders_src")
        s.sql(s"CREATE TABLE $cat.lineitem_ren (l_orderkey BIGINT, l_linenumber INT) " +
          "USING parquet PARTITIONED BY (bucket(16, l_orderkey))")
        s.sql(s"INSERT INTO $cat.lineitem_ren SELECT * FROM spj_ren_lineitem_src")
        // rename BOTH columns (the bucket-source key is the hard case),
        // then a MOR DELETE so the vector and the mapping compose
        s.sql(s"ALTER TABLE $cat.orders_ren RENAME COLUMN o_custkey TO cust")
        s.sql(s"ALTER TABLE $cat.orders_ren RENAME COLUMN o_orderkey TO okey")
        s.sql(s"DELETE FROM $cat.orders_ren WHERE cust % 7 = 3")
        val live = graft.ops.Sinks.resolve(root + "/orders_ren")
        require(graft.ops.Dv.exists(live) && graft.ops.ColMap.exists(live),
          "q_spj_rename warehouse: DV and mapping must both be present")
        require(graft.catalog.MorSpj.readerSide(root + "/orders_ren", live),
          "q_spj_rename warehouse: the version must take the reader-side path")
        Files.write(stampFile, stamp.getBytes("UTF-8"))
      }
      root
    }

  /** Warehouse for q_identity (B195): a table with a BY DEFAULT
    * identity column, filled by deterministic single-row inserts (the
    * row-to-id mapping of a multi-row batch depends on partition
    * layout; one row per commit pins it). Cached once (content is
    * fixture-independent).
    */
  private def identityWarehouse(s: SparkSession, dir: String): String =
    this.synchronized {
      import java.nio.file.{Files, Paths}
      val root = "/tmp/graft_ident_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      val stampFile = Paths.get(root, "_SRCSTAMP")
      val stamp = "id1"
      val fresh = Files.isDirectory(Paths.get(root + "/ids")) &&
        Files.exists(stampFile) &&
        new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
      if (!fresh) {
        graft.io.Fs.deleteRecursively(Paths.get(root))
        Files.createDirectories(Paths.get(root))
        val cat = "graftidwh_" + dir.replaceAll("[^A-Za-z0-9]", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE TABLE $cat.ids (id BIGINT GENERATED BY DEFAULT AS " +
          "IDENTITY (START WITH 10 INCREMENT BY 2), name STRING) USING parquet")
        s.sql(s"INSERT INTO $cat.ids (name) VALUES ('a')")
        s.sql(s"INSERT INTO $cat.ids (name) VALUES ('b')")
        s.sql(s"INSERT INTO $cat.ids VALUES (5, 'explicit')")
        s.sql(s"INSERT INTO $cat.ids (name) VALUES ('c')")
        Files.write(stampFile, stamp.getBytes("UTF-8"))
      }
      root
    }

  /** Warehouse for q_variant_props (B197): events with `props`
    * ingested as a VARIANT column into a catalog table. Cached per sf
    * dir by content stamp.
    */
  private def variantWarehouse(s: SparkSession, dir: String): String =
    this.synchronized {
      import java.nio.file.{Files, Paths}
      import graft.ops.Sinks
      val root = "/tmp/graft_variant_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      val stampFile = Paths.get(root, "_SRCSTAMP")
      val stamp = Tables.srcStamp(dir, "events") + "|var1"
      val fresh = Files.isDirectory(Paths.get(root + "/ev_var")) &&
        Files.exists(stampFile) &&
        new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
      if (!fresh) {
        graft.io.Fs.deleteRecursively(Paths.get(root))
        Files.createDirectories(Paths.get(root))
        val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
          expr("parse_json(props)").as("pv"))
        Sinks.publishVersioned(ev, root + "/ev_var", None)
        Files.write(stampFile, stamp.getBytes("UTF-8"))
      }
      root
    }

  /** Warehouse for q_spj_days (B193): events projected to two
    * day-partitioned catalog tables (`PARTITIONED BY (days(ts))`) —
    * the co-partitioned temporal-grid layout. Cached per sf dir by
    * content stamp.
    */
  private def spjDaysWarehouse(s: SparkSession, dir: String): String =
    this.synchronized {
      import java.nio.file.{Files, Paths}
      val root = "/tmp/graft_dayspj_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      val stampFile = Paths.get(root, "_SRCSTAMP")
      val stamp = Tables.srcStamp(dir, "events") + "|days2"
      val fresh = Files.isDirectory(Paths.get(root + "/ev_l")) &&
        Files.isDirectory(Paths.get(root + "/ev_r")) &&
        Files.isDirectory(Paths.get(root + "/ev_m")) &&
        Files.exists(stampFile) &&
        new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
      if (!fresh) {
        graft.io.Fs.deleteRecursively(Paths.get(root))
        Files.createDirectories(Paths.get(root))
        val cat = "graftdspjwh_" + dir.replaceAll("[^A-Za-z0-9]", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        val ev = Tables.events(s, dir)
        ev.select(col("ts"), col("event_id"), col("user_id"))
          .createOrReplaceTempView("spj_days_l_src")
        ev.select(col("ts"), col("event_id"))
          .createOrReplaceTempView("spj_days_r_src")
        s.sql(s"CREATE TABLE $cat.ev_l (ts TIMESTAMP, event_id BIGINT, " +
          "user_id BIGINT) USING parquet PARTITIONED BY (days(ts))")
        s.sql(s"INSERT INTO $cat.ev_l SELECT * FROM spj_days_l_src")
        s.sql(s"CREATE TABLE $cat.ev_r (ts TIMESTAMP, event_id BIGINT) " +
          "USING parquet PARTITIONED BY (days(ts))")
        s.sql(s"INSERT INTO $cat.ev_r SELECT * FROM spj_days_r_src")
        // ev_m (q_spj_grain): the MONTH-partitioned twin for the
        // cross-granularity reducer join
        ev.select(col("ts"), (col("event_id") * 2).as("eid2"))
          .createOrReplaceTempView("spj_days_m_src")
        s.sql(s"CREATE TABLE $cat.ev_m (ts TIMESTAMP, eid2 BIGINT) " +
          "USING parquet PARTITIONED BY (months(ts))")
        s.sql(s"INSERT INTO $cat.ev_m SELECT * FROM spj_days_m_src")
        Files.write(stampFile, stamp.getBytes("UTF-8"))
      }
      root
    }

  /** Warehouse for q_truncate (B182): `nations` (the read source) and
    * `scratch` (the table every run truncates and refills). Cached per
    * sf dir by content stamp.
    */
  private def truncateWarehouse(s: SparkSession, dir: String): String =
    this.synchronized {
      import java.nio.file.{Files, Paths}
      import graft.ops.Sinks
      val root = "/tmp/graft_trunc_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      val stampFile = Paths.get(root, "_SRCSTAMP")
      val stamp = Tables.srcStamp(dir, "nation") + "|tr1"
      val fresh = Files.isDirectory(Paths.get(root + "/scratch")) &&
        Files.exists(stampFile) &&
        new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
      if (!fresh) {
        graft.io.Fs.deleteRecursively(Paths.get(root))
        val nat = Tables.nation(s, dir)
        Sinks.publishVersioned(nat, root + "/nations", None)
        Sinks.publishVersioned(
          nat.select(col("n_nationkey"), col("n_name")), root + "/scratch", None)
        Files.write(stampFile, stamp.getBytes("UTF-8"))
      }
      root
    }

  /** Warehouse for q_mview_sql: `nation` published, the MV created via
    * CALL mview_create (definition stored in its _PROPS), a duplicate
    * of the n_nationkey<5 rows appended, and ONE refresh applied — all
    * inside the stamped build so query reruns are idempotent (their
    * refresh is a no-op).
    */
  private def mviewSqlWarehouse(s: SparkSession, dir: String): String =
    this.synchronized {
      import java.nio.file.{Files, Paths}
      import graft.ops.Sinks
      val root = "/tmp/graft_mvsql_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      val stampFile = Paths.get(root, "_SRCSTAMP")
      val stamp = Tables.srcStamp(dir, "nation") + "|mv1"
      val fresh = Files.isDirectory(Paths.get(root + "/nation_by_region")) &&
        Files.exists(stampFile) &&
        new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
      if (!fresh) {
        graft.io.Fs.deleteRecursively(Paths.get(root))
        val cat = "graftmvb_" + dir.replaceAll("[^A-Za-z0-9]", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        val nat = Tables.nation(s, dir)
        Sinks.publishVersioned(nat, root + "/nation_src", None)
        s.sql(s"CALL $cat.system.mview_create('nation_src', 'nation_by_region', " +
          "dims => 'n_regionkey', keys => 'n_nationkey', " +
          "sum_cols => 'n_nationkey')").collect()
        Sinks.appendVersioned(nat.filter(col("n_nationkey") < 5),
          root + "/nation_src", Some(0L), emitFeed = true)
        s.sql(s"CALL $cat.system.mview_refresh('nation_by_region')").collect()
        Files.write(stampFile, stamp.getBytes("UTF-8"))
      }
      root
    }

  /** Warehouse for q_ndv (B180): nations published with declared
    * `graft.ndv.columns`, so the commit annotates per-file HLL sketches
    * the query then merges at metadata scale. Multi-file layout so the
    * union is real. Cached per sf dir by content stamp.
    */
  private def ndvWarehouse(s: SparkSession, dir: String): String =
    this.synchronized {
      import java.nio.file.{Files, Paths}
      import graft.ops.{Sinks, TableProps}
      val root = "/tmp/graft_ndv_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      val tbl = root + "/nations"
      val stampFile = Paths.get(root, "_SRCSTAMP")
      val stamp = Tables.srcStamp(dir, "nation") + "|ndv1"
      val fresh = Files.isDirectory(Paths.get(tbl)) &&
        Files.exists(stampFile) &&
        new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
      if (!fresh) {
        graft.io.Fs.deleteRecursively(Paths.get(root))
        TableProps.store(tbl,
          Map(TableProps.NdvKey -> "n_name,n_regionkey"))
        Sinks.publishVersioned(
          Tables.nation(s, dir).repartition(4), tbl, None)
        Files.write(stampFile, stamp.getBytes("UTF-8"))
      }
      root
    }

  /** Warehouse for q_merge_evolution (round-16, B198): `cust_ev` starts
    * as the two-column (c_custkey, c_name) even-key half of the customer
    * fixture; one `MERGE WITH SCHEMA EVOLUTION` from the four-column
    * `% 3 == 0` slice then ADDs c_mktsegment/c_acctbal METADATA-ONLY
    * (Spark's ResolveMergeIntoSchemaEvolution → our alterTable → ColMap
    * ADD records — zero pre-existing bytes rewritten) and runs the
    * upsert: matched evens gain real values, unmatched odds insert, and
    * every even key outside the source keeps NULL in the new columns
    * (the null-backfill the metadata ADD promises). Cached per content
    * stamp; the merge is build-time, the query is read-only.
    */
  private def mergeEvolutionWarehouse(s: SparkSession, dir: String): String =
    this.synchronized {
      import java.nio.file.{Files, Paths}
      import graft.ops.Sinks
      val wh = "/tmp/graft_mev_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      val cat = "graftmev_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      val tbl = s"$wh/cust_ev"
      val stampFile = Paths.get(wh, "_SRCSTAMP")
      val stamp = Tables.srcStamp(dir, "customer") + "|mev1"
      val fresh = Files.isDirectory(Paths.get(tbl)) &&
        Files.exists(stampFile) &&
        new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
      if (!fresh) {
        graft.io.Fs.deleteRecursively(Paths.get(wh))
        val cust = Tables.customer(s, dir)
        Sinks.publishVersioned(
          cust.filter(col("c_custkey") % 2 === 0)
            .select("c_custkey", "c_name").repartition(4), tbl, None)
        cust.filter(col("c_custkey") % 3 === 0)
          .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
          .createOrReplaceTempView("mev_src")
        s.sql(
          s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.cust_ev t
             |USING mev_src s ON t.c_custkey = s.c_custkey
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        Files.createDirectories(Paths.get(wh))
        Files.write(stampFile, stamp.getBytes("UTF-8"))
      }
      wh
    }

  /** Warehouse for q_generated_cols (round-16, B199): `cust_gen` declares
    * `seg2 STRING GENERATED ALWAYS AS (substring(c_mktsegment, 1, 2))`
    * and is PARTITIONED BY (seg2) — the INSERT passes NULL (the
    * compute-me marker) and the insert funnel derives every value, so
    * the grid directories hold derived prefixes and source-column
    * predicates prune them (GeneratedSpec plan-asserts; the oracle here
    * proves the derivation value-exact against DuckDB's recompute).
    */
  private def generatedWarehouse(s: SparkSession, dir: String): String =
    this.synchronized {
      import java.nio.file.{Files, Paths}
      val wh = "/tmp/graft_gencol_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      val cat = "graftgen_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      val tbl = s"$wh/cust_gen"
      val stampFile = Paths.get(wh, "_SRCSTAMP")
      val stamp = Tables.srcStamp(dir, "customer") + "|gen1"
      val fresh = Files.isDirectory(Paths.get(tbl)) &&
        Files.exists(stampFile) &&
        new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
      if (!fresh) {
        graft.io.Fs.deleteRecursively(Paths.get(wh))
        s.sql(s"CREATE TABLE $cat.cust_gen (c_custkey BIGINT, " +
          "c_mktsegment STRING, c_acctbal DOUBLE, " +
          "seg2 STRING GENERATED ALWAYS AS (substring(c_mktsegment, 1, 2))" +
          ") USING parquet PARTITIONED BY (seg2)")
        Tables.customer(s, dir)
          .select("c_custkey", "c_mktsegment", "c_acctbal")
          .createOrReplaceTempView("gen_cust_src")
        s.sql(s"INSERT INTO $cat.cust_gen " +
          "SELECT c_custkey, c_mktsegment, c_acctbal, NULL FROM gen_cust_src")
        Files.createDirectories(Paths.get(wh))
        Files.write(stampFile, stamp.getBytes("UTF-8"))
      }
      wh
    }

  /** Warehouse for q_replace_table (round-16, B203): `cust_rp` is CTAS'd
    * from the even-key half, then CREATE OR REPLACE'd into a different
    * schema over the `% 3 == 0` slice — one staged versioned commit,
    * every pre-replace version left travelable. Cached per content stamp.
    */
  private def replaceTableWarehouse(s: SparkSession, dir: String): String =
    this.synchronized {
      import java.nio.file.{Files, Paths}
      val wh = "/tmp/graft_rpl_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      val cat = "graftrpl_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      val tbl = s"$wh/cust_rp"
      val stampFile = Paths.get(wh, "_SRCSTAMP")
      val stamp = Tables.srcStamp(dir, "customer") + "|rpl1"
      val fresh = Files.isDirectory(Paths.get(tbl)) &&
        Files.exists(stampFile) &&
        new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
      if (!fresh) {
        graft.io.Fs.deleteRecursively(Paths.get(wh))
        Tables.customer(s, dir).select("c_custkey", "c_name", "c_mktsegment")
          .createOrReplaceTempView("rpl_cust_src")
        s.sql(s"CREATE TABLE $cat.cust_rp AS SELECT c_custkey, c_name " +
          "FROM rpl_cust_src WHERE c_custkey % 2 = 0")
        s.sql(s"CREATE OR REPLACE TABLE $cat.cust_rp USING parquet AS " +
          "SELECT CAST(c_custkey * 1000 AS BIGINT) AS ck, c_mktsegment AS seg " +
          "FROM rpl_cust_src WHERE c_custkey % 3 = 0")
        Files.createDirectories(Paths.get(wh))
        Files.write(stampFile, stamp.getBytes("UTF-8"))
      }
      wh
    }

  /** Warehouse for q_stream_doors (round-16, B204/B205): `bronze` gets
    * the customer fixture as TWO feed-emitting appends; one streaming
    * query — `readStream.format("graft")` tailing bronze's change feed
    * into `writeStream.format("graft")` — lands the insert rows in
    * `silver` (the first batch CREATES it). Cached per content stamp;
    * the stream is build-time, the query read-only.
    */
  private def streamDoorsWarehouse(s: SparkSession, dir: String): String =
    this.synchronized {
      import java.nio.file.{Files, Paths}
      import graft.ops.Sinks
      val wh = "/tmp/graft_sdoor_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      val stampFile = Paths.get(wh, "_SRCSTAMP")
      val stamp = Tables.srcStamp(dir, "customer") + "|sdoor1"
      val fresh = Files.isDirectory(Paths.get(s"$wh/silver")) &&
        Files.exists(stampFile) &&
        new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
      if (!fresh) {
        graft.io.Fs.deleteRecursively(Paths.get(wh))
        val bronze = s"$wh/bronze"
        Sinks.enableStreamFeed(bronze)
        val cust = Tables.customer(s, dir)
          .select("c_custkey", "c_mktsegment", "c_acctbal")
        Sinks.publishVersioned(cust.limit(0), bronze, None)
        Sinks.appendVersioned(cust.filter(col("c_custkey") % 2 === 0),
          bronze, Some(0L), emitFeed = true)
        Sinks.appendVersioned(cust.filter(col("c_custkey") % 2 === 1),
          bronze, Some(1L), emitFeed = true)
        val q = s.readStream.format("graft").load(bronze)
          .where(col("_change_type") === "insert")
          .drop("_change_type", "_commit_version")
          .writeStream.format("graft")
          .option("checkpointLocation", s"$wh/_cp")
          .start(s"$wh/silver")
        q.processAllAvailable()
        q.stop()
        Files.createDirectories(Paths.get(wh))
        Files.write(stampFile, stamp.getBytes("UTF-8"))
      }
      wh
    }

  /** Warehouse for q_format_write (round-16, B201): `nat_w` is built
    * ENTIRELY through `df.write.format("graft")` — the create
    * (partitionBy landing the spec + grid), then a linked append of the
    * key tail. Cached per content stamp.
    */
  private def formatWriteWarehouse(s: SparkSession, dir: String): String =
    this.synchronized {
      import java.nio.file.{Files, Paths}
      val wh = "/tmp/graft_fmtw_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      val tbl = s"$wh/nat_w"
      val stampFile = Paths.get(wh, "_SRCSTAMP")
      val stamp = Tables.srcStamp(dir, "nation") + "|fmtw1"
      val fresh = Files.isDirectory(Paths.get(tbl)) &&
        Files.exists(stampFile) &&
        new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
      if (!fresh) {
        graft.io.Fs.deleteRecursively(Paths.get(wh))
        val nat = Tables.nation(s, dir).select(
          col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_name"),
          col("n_regionkey").cast("long").as("n_regionkey"))
        nat.filter(col("n_nationkey") < 15)
          .write.format("graft").partitionBy("n_regionkey").save(tbl)
        nat.filter(col("n_nationkey") >= 15)
          .write.format("graft").mode("append").save(tbl)
        Files.createDirectories(Paths.get(wh))
        Files.write(stampFile, stamp.getBytes("UTF-8"))
      }
      wh
    }

  /** Warehouse for q_generated_merge (round-16, B199's MERGE boundary
    * lifted): `cust_gm` declares the generated seg2 partition column;
    * the build INSERTs the even-key half (NULL compute-me markers) and
    * then MERGEs the `% 3 == 0` slice with c_mktsegment prefixed 'X' —
    * matched evens RE-DERIVE seg2 through the update substitution
    * (moving them to new grid directories), unmatched thirds derive
    * through the insert action. Cached per content stamp; the merge is
    * build-time, the query read-only.
    */
  private def generatedMergeWarehouse(s: SparkSession, dir: String): String =
    this.synchronized {
      import java.nio.file.{Files, Paths}
      val wh = "/tmp/graft_genmrg_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      val cat = "graftgmg_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", wh)
      val tbl = s"$wh/cust_gm"
      val stampFile = Paths.get(wh, "_SRCSTAMP")
      val stamp = Tables.srcStamp(dir, "customer") + "|gmrg1"
      val fresh = Files.isDirectory(Paths.get(tbl)) &&
        Files.exists(stampFile) &&
        new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
      if (!fresh) {
        graft.io.Fs.deleteRecursively(Paths.get(wh))
        s.sql(s"CREATE TABLE $cat.cust_gm (c_custkey BIGINT, " +
          "c_mktsegment STRING, c_acctbal DOUBLE, " +
          "seg2 STRING GENERATED ALWAYS AS (substring(c_mktsegment, 1, 2))" +
          ") USING parquet PARTITIONED BY (seg2)")
        Tables.customer(s, dir)
          .select("c_custkey", "c_mktsegment", "c_acctbal")
          .createOrReplaceTempView("gmrg_cust_src")
        s.sql(s"INSERT INTO $cat.cust_gm SELECT c_custkey, c_mktsegment, " +
          "c_acctbal, NULL FROM gmrg_cust_src WHERE c_custkey % 2 = 0")
        s.sql(
          s"""MERGE INTO $cat.cust_gm t
             |USING (SELECT c_custkey, concat('X', c_mktsegment) AS m,
             |              c_acctbal + 10 AS b
             |       FROM gmrg_cust_src WHERE c_custkey % 3 = 0) s
             |ON t.c_custkey = s.c_custkey
             |WHEN MATCHED THEN UPDATE SET c_mktsegment = s.m, c_acctbal = s.b
             |WHEN NOT MATCHED THEN INSERT (c_custkey, c_mktsegment, c_acctbal)
             |  VALUES (s.c_custkey, s.m, s.b)""".stripMargin)
        Files.createDirectories(Paths.get(wh))
        Files.write(stampFile, stamp.getBytes("UTF-8"))
      }
      wh
    }

  /** Warehouse for q_purge (B179): nations v0 = the fixture, v1 = a MOR
    * delete of the n_nationkey >= 20 tail (history that still holds the
    * rows, plus a deletion vector whose carried subtraction the purge
    * must preserve). The purge itself runs IN the query. Rebuilt per
    * content stamp; a post-purge cached warehouse re-purges as a
    * verified no-op, so the result is deterministic across reruns.
    */
  private def purgeWarehouse(s: SparkSession, dir: String): String =
    this.synchronized {
      import java.nio.file.{Files, Paths}
      import graft.ops.Sinks
      val root = "/tmp/graft_purge_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      val tbl = root + "/nations"
      val stampFile = Paths.get(root, "_SRCSTAMP")
      val stamp = Tables.srcStamp(dir, "nation")
      val fresh = Files.isDirectory(Paths.get(tbl)) &&
        Files.exists(stampFile) &&
        new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
      if (!fresh) {
        graft.io.Fs.deleteRecursively(Paths.get(root))
        Sinks.publishVersioned(Tables.nation(s, dir), tbl, None)
        Sinks.deleteVector(s, tbl, col("n_nationkey") >= 20)
        Files.write(stampFile, stamp.getBytes("UTF-8"))
      }
      root
    }

  /** Warehouse for q_catalog_tag: v0 = the full region fixture TAGGED
    * 'baseline', v1 = the r_regionkey<3 subset, then a zero-retention
    * compaction — which vacuums every untagged version below the base
    * but must keep v0 alive for the tag. Cached per sf dir by content
    * stamp like [[catalogWarehouse]].
    */
  private def tagWarehouse(s: SparkSession, dir: String): String =
    this.synchronized {
      import java.nio.file.{Files, Paths}
      import graft.ops.Sinks
      val root = "/tmp/graft_tagwh_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      val tbl = root + "/regions"
      val stampFile = Paths.get(root, "_SRCSTAMP")
      val stamp = "tag1:" + Tables.srcStamp(dir, "region")
      val fresh = Files.isDirectory(Paths.get(tbl)) &&
        Sinks.resolveTag(tbl, "baseline").contains(0L) &&
        Sinks.listVersions(tbl).headOption.contains(0L) &&
        Files.exists(stampFile) &&
        new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
      if (!fresh) {
        graft.io.Fs.deleteRecursively(Paths.get(root))
        Sinks.publishVersioned(Tables.region(s, dir), tbl, None)
        Sinks.publishVersioned(
          Tables.region(s, dir).filter(col("r_regionkey") < 3), tbl, Some(0L))
        Sinks.tagVersion(tbl, "baseline", 0L)
        // zero retention: only the tag keeps v0 readable
        Sinks.compactVersioned(s, tbl, retainVersions = 0)
        Files.write(stampFile, stamp.getBytes("UTF-8"))
      }
      root
    }

  /** Warehouse for q_catalog_branch: base v0 = the full region fixture,
    * a branch takes the r_regionkey<3 subset as its own commit, and a
    * fast-forward merge adopts it as base v1. Cached per sf dir by
    * content stamp.
    */
  private def branchWarehouse(s: SparkSession, dir: String): String =
    this.synchronized {
      import java.nio.file.{Files, Paths}
      import graft.ops.Sinks
      val root = "/tmp/graft_brwh_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      val tbl = root + "/regions"
      val stampFile = Paths.get(root, "_SRCSTAMP")
      val stamp = "br1:" + Tables.srcStamp(dir, "region")
      val fresh = Files.isDirectory(Paths.get(tbl)) &&
        Sinks.listVersions(tbl) == Seq(0L, 1L) &&
        Files.exists(stampFile) &&
        new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
      if (!fresh) {
        graft.io.Fs.deleteRecursively(Paths.get(root))
        Sinks.publishVersioned(Tables.region(s, dir), tbl, None)
        val br = root + "/regions__audit"
        Sinks.branchTable(s, tbl, br)
        Sinks.publishVersioned(
          Tables.region(s, dir).filter(col("r_regionkey") < 3), br, Some(0L))
        Sinks.mergeBranch(s, br)
        Files.write(stampFile, stamp.getBytes("UTF-8"))
      }
      root
    }

  /** Deterministic operation chain for q_table_history: v0 full publish
    * ("publish"), v1 linked append ("append"), v2 SQL COW DELETE
    * ("cow-dml"). The stamp includes a format tag so caches built
    * before the `_OP` marker existed invalidate.
    */
  private def opHistoryWarehouse(s: SparkSession, dir: String): String =
    this.synchronized {
      import java.nio.file.{Files, Paths}
      import graft.ops.Sinks
      val wh = "/tmp/graft_ophist_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      val tbl = wh + "/nat"
      val stampFile = Paths.get(tbl, "_SRCSTAMP")
      val stamp = Tables.srcStamp(dir, "nation") + ":op1"
      val fresh = Files.isDirectory(Paths.get(tbl)) &&
        Sinks.listVersions(tbl) == Seq(0L, 1L, 2L) &&
        Files.exists(stampFile) &&
        new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
      if (!fresh) {
        graft.io.Fs.deleteRecursively(Paths.get(wh))
        val n = Tables.nation(s, dir)
          .select("n_nationkey", "n_name", "n_regionkey")
        Sinks.publishVersioned(n.filter(col("n_nationkey") < 20), tbl, None)
        Sinks.appendVersioned(n.filter(col("n_nationkey") >= 20), tbl, Some(0L))
        val cat = "graftoph_" + dir.replaceAll("[^A-Za-z0-9]", "_")
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", wh)
        s.sql(s"DELETE FROM $cat.nat WHERE n_nationkey = 0")
        Files.write(stampFile, stamp.getBytes("UTF-8"))
      }
      tbl
    }

  /** Versioned table for q_table_changes: `nations` v0 = the fixture,
    * v1 = keys <20 kept (regionkey+1 for keys <5) plus one inserted row.
    * Returns the TABLE root (not the warehouse root).
    */
  /** Per-sf-dir catalog whose `events_part` table is the events fixture
    * CTAS'd `PARTITIONED BY (event_type)` through the SQL door (v0 =
    * empty CREATE, v1 = the CTAS data, Hive-partitioned). Returns the
    * catalog name. Rebuilt when the fixture regenerates.
    */
  def partitionedCatalog(s: SparkSession, dir: String): String = this.synchronized {
    import java.nio.file.{Files, Paths}
    import graft.ops.{Sinks, TableProps}
    val wh = "/tmp/graft_ptwh_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    // catalog name is PER SF DIR (Spark snapshots catalog options at
    // first use — same reasoning as q_catalog_timetravel)
    val cat = "graftpt_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", wh)
    val tbl = s"$wh/events_part"
    val stampFile = Paths.get(wh, "_SRCSTAMP")
    val stamp = Tables.srcStamp(dir, "events")
    val fresh = Files.isDirectory(Paths.get(tbl)) &&
      Sinks.listVersions(tbl) == Seq(0L, 1L) &&
      TableProps.partitionCols(tbl) == Seq("event_type") &&
      Files.exists(stampFile) &&
      new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
    if (!fresh) {
      graft.io.Fs.deleteRecursively(Paths.get(tbl))
      // partition column last (the catalog enforces the Hive convention)
      Tables.events(s, dir).select("event_id", "user_id", "value", "event_type")
        .createOrReplaceTempView("graft_events_part_src")
      s.sql(
        s"""CREATE TABLE $cat.events_part USING parquet
           |PARTITIONED BY (event_type)
           |AS SELECT * FROM graft_events_part_src""".stripMargin)
      Files.createDirectories(Paths.get(wh))
      Files.write(Paths.get(wh, "_SRCSTAMP"), stamp.getBytes("UTF-8"))
    }
    cat
  }

  /** Per-sf-dir catalog for q_clone: `nat_src` CTAS'd from the nation
    * fixture, `nat_clone` = `CALL system.clone` of its live version,
    * then divergence both ways — INSERT into the clone only, DELETE from
    * the source only. Returns the catalog name; rebuilt on fixture
    * regeneration (content-stamp equality).
    */
  def cloneCatalog(s: SparkSession, dir: String): String = this.synchronized {
    import java.nio.file.{Files, Paths}
    import graft.ops.Sinks
    val wh = "/tmp/graft_clwh_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val cat = "graftcl_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", wh)
    val stampFile = Paths.get(wh, "_SRCSTAMP")
    val stamp = Tables.srcStamp(dir, "nation")
    val fresh = Files.isDirectory(Paths.get(s"$wh/nat_src")) &&
      Sinks.listVersions(s"$wh/nat_src") == Seq(0L, 1L, 2L) &&
      Sinks.listVersions(s"$wh/nat_clone") == Seq(0L, 1L) &&
      Files.exists(stampFile) &&
      new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
    if (!fresh) {
      graft.io.Fs.deleteRecursively(Paths.get(wh))
      Tables.nation(s, dir).createOrReplaceTempView("graft_clone_src")
      s.sql(s"CREATE TABLE $cat.nat_src USING parquet AS SELECT * FROM graft_clone_src")
      s.sql(s"CALL $cat.system.clone(source => 'nat_src', target => 'nat_clone')")
      s.sql(s"INSERT INTO $cat.nat_clone VALUES (900, 'ZEALANDIA', 0)")
      s.sql(s"DELETE FROM $cat.nat_src WHERE n_nationkey >= 20")
      Files.write(stampFile, stamp.getBytes("UTF-8"))
    }
    cat
  }

  /** Per-sf-dir catalog for q_copy_into: a landing dir receives the
    * region fixture as two files (drop 1, one commit) then a
    * key-shifted third (drop 2); `CALL system.copy_into` runs after
    * each drop AND once more redundantly — the receipts make the
    * re-runs no-ops. Returns the catalog name; rebuilt on fixture
    * regeneration (content-stamp equality).
    */
  def copyIntoCatalog(s: SparkSession, dir: String): String = this.synchronized {
    import java.nio.file.{Files, Paths}
    import graft.ops.Sinks
    val wh = "/tmp/graft_ciwh_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val cat = "graftci_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", wh)
    val tbl = s"$wh/region_land"
    val land = s"$wh/landing"
    val stampFile = Paths.get(wh, "_SRCSTAMP")
    val stamp = Tables.srcStamp(dir, "region")
    val fresh = Files.isDirectory(Paths.get(tbl)) &&
      Sinks.listVersions(tbl) == Seq(0L, 1L, 2L) &&
      Files.exists(stampFile) &&
      new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
    if (!fresh) {
      graft.io.Fs.deleteRecursively(Paths.get(wh))
      Files.createDirectories(Paths.get(land))
      val region = Tables.region(s, dir).select("r_regionkey", "r_name")
      def drop(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
        val tmp = s"$wh/.mk_$name"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        Files.move(graft.io.Fs.walkParquet(Paths.get(tmp)).head,
          Paths.get(land, name))
        graft.io.Fs.deleteRecursively(Paths.get(tmp))
      }
      s.sql(s"CREATE TABLE $cat.region_land (r_regionkey INT, r_name STRING) USING parquet")
      drop("r_low.parquet", region.filter(col("r_regionkey") < 3))
      drop("r_high.parquet", region.filter(col("r_regionkey") >= 3))
      s.sql(s"CALL $cat.system.copy_into(table => 'region_land', source => '$land')")
      drop("r_shift.parquet", region
        .withColumn("r_regionkey", col("r_regionkey") + 100))
      s.sql(s"CALL $cat.system.copy_into(table => 'region_land', source => '$land')")
      // redundant re-run: receipts make it a no-op (version count pins it)
      s.sql(s"CALL $cat.system.copy_into(table => 'region_land', source => '$land')")
      Files.write(stampFile, stamp.getBytes("UTF-8"))
    }
    cat
  }

  /** Shared CTE for the q_mor_delete / q_mor_update oracles: the whole
    * MOR chain (DELETE custkey%10=3 → INSERT one row → UPDATE status-P
    * rows) recomputed from the raw fixture.
    */
  private val morOracleCte: String =
    """WITH t AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |  FROM orders WHERE o_custkey % 10 <> 3
      |  UNION ALL SELECT 90000001, 13, 'Z', 42.5),
      |u AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderstatus = 'P' THEN o_custkey + 1000000
      |         ELSE o_custkey END AS o_custkey,
      |    o_orderstatus,
      |    CASE WHEN o_orderstatus = 'P' THEN 100.5
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM t),
      |m AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |    CASE WHEN o_orderkey = 90000001 THEN 777.0
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM u
      |  UNION ALL SELECT 90000002, 99, 'Z', 88.25)
      |""".stripMargin

  /** Per-sf-dir catalog for q_mor_delete: `ord_mor` = orders under
    * `graft.dml.mode=mor` — v0 publish, v1 = merge-on-read SQL DELETE
    * (row positions into `_dv`, all data files carried), v2 = INSERT
    * (linked commit carrying the vector). Returns the catalog name;
    * rebuilt on fixture regeneration (content-stamp equality).
    */
  def morCatalog(s: SparkSession, dir: String): String = this.synchronized {
    import java.nio.file.{Files, Paths}
    import graft.ops.{Sinks, TableProps}
    val wh = "/tmp/graft_morwh_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val cat = "graftmor_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", wh)
    val tbl = s"$wh/ord_mor"
    val stampFile = Paths.get(wh, "_SRCSTAMP")
    // layout tag invalidates caches built before the MERGE step landed
    val stamp = Tables.srcStamp(dir, "orders") + ":mor-merge"
    val fresh = Files.isDirectory(Paths.get(tbl)) &&
      Sinks.listVersions(tbl) == Seq(0L, 1L, 2L, 3L, 4L) &&
      Files.exists(stampFile) &&
      new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
    if (!fresh) {
      graft.io.Fs.deleteRecursively(Paths.get(wh))
      val orders = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      Sinks.publishVersioned(orders.repartition(4), tbl, None)
      TableProps.update(tbl)(_ + ("graft.dml.mode" -> "mor"))
      s.sql(s"DELETE FROM $cat.ord_mor WHERE o_custkey % 10 = 3")
      s.sql(s"INSERT INTO $cat.ord_mor VALUES (90000001, 13, 'Z', 42.5)")
      // B136 MOR UPDATE: old copies join the vector, updated copies are
      // the commit's only new files
      s.sql(s"""UPDATE $cat.ord_mor
               |SET o_custkey = o_custkey + 1000000, o_totalprice = 100.5
               |WHERE o_orderstatus = 'P'""".stripMargin)
      // B138 MOR MERGE: matched update + not-matched insert, one vector
      // commit (no file rewrites)
      s.sql(
        s"""MERGE INTO $cat.ord_mor t USING (
           |  SELECT 90000001 AS mk, 777.0 AS np
           |  UNION ALL SELECT 90000002, 88.25) s
           |ON t.o_orderkey = s.mk
           |WHEN MATCHED THEN UPDATE SET o_totalprice = s.np
           |WHEN NOT MATCHED THEN INSERT
           |  (o_orderkey, o_custkey, o_orderstatus, o_totalprice)
           |  VALUES (s.mk, 99, 'Z', s.np)""".stripMargin)
      Files.createDirectories(Paths.get(wh))
      Files.write(stampFile, stamp.getBytes("UTF-8"))
    }
    cat
  }

  /** Per-sf-dir catalog for q_partition_evolution: `events_pe` CTAS'd
    * UNPARTITIONED from the events fixture (v0 empty + v1 data), evolved
    * to `PARTITIONED BY (event_type)` via `CALL system.repartition_table`
    * (v2), then one INSERT through the evolved spec (v3). Returns the
    * catalog name; rebuilt on fixture regeneration (content-stamp
    * equality).
    */
  def partitionEvolutionCatalog(s: SparkSession, dir: String): String = this.synchronized {
    import java.nio.file.{Files, Paths}
    import graft.ops.Sinks
    val wh = "/tmp/graft_pewh_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val cat = "graftpe_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", wh)
    val tbl = s"$wh/events_pe"
    val stampFile = Paths.get(wh, "_SRCSTAMP")
    val stamp = Tables.srcStamp(dir, "events")
    val fresh = Files.isDirectory(Paths.get(tbl)) &&
      Sinks.listVersions(tbl) == Seq(0L, 1L, 2L, 3L) &&
      Files.exists(stampFile) &&
      new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
    if (!fresh) {
      graft.io.Fs.deleteRecursively(Paths.get(wh))
      Tables.events(s, dir).select("event_id", "user_id", "value", "event_type")
        .createOrReplaceTempView("graft_events_pe_src")
      s.sql(s"CREATE TABLE $cat.events_pe USING parquet AS SELECT * FROM graft_events_pe_src")
      s.sql(s"CALL $cat.system.repartition_table(table => 'events_pe', partition_by => 'event_type')")
      s.sql(s"INSERT INTO $cat.events_pe VALUES (9000000, 999999, 1.5, 'click')")
      Files.createDirectories(Paths.get(wh))
      Files.write(stampFile, stamp.getBytes("UTF-8"))
    }
    cat
  }

  /** Per-sf-dir catalog for q_partition_evolution_meta: `events_pem`
    * CTAS'd UNPARTITIONED (v0 empty + v1 data), evolved to
    * `PARTITIONED BY (event_type)` METADATA-ONLY (v2 — zero data
    * movement, the v1 files hardlink under `_layout0/`), then one
    * INSERT laid out under the new spec (v3 — the mixed-layout
    * version the query reads). Rebuilt on fixture regeneration.
    */
  def partitionEvolutionMetaCatalog(s: SparkSession, dir: String): String = this.synchronized {
    import java.nio.file.{Files, Paths}
    import graft.ops.Sinks
    val wh = "/tmp/graft_pemwh_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val cat = "graftpem_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", wh)
    val tbl = s"$wh/events_pem"
    val stampFile = Paths.get(wh, "_SRCSTAMP")
    val stamp = Tables.srcStamp(dir, "events")
    val fresh = Files.isDirectory(Paths.get(tbl)) &&
      Sinks.listVersions(tbl) == Seq(0L, 1L, 2L, 3L) &&
      Files.exists(stampFile) &&
      new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
    if (!fresh) {
      graft.io.Fs.deleteRecursively(Paths.get(wh))
      Tables.events(s, dir).select("event_id", "user_id", "value", "event_type")
        .createOrReplaceTempView("graft_events_pem_src")
      s.sql(s"CREATE TABLE $cat.events_pem USING parquet AS SELECT * FROM graft_events_pem_src")
      s.sql(s"CALL $cat.system.repartition_table(table => 'events_pem', " +
        "partition_by => 'event_type', metadata_only => true)")
      s.sql(s"INSERT INTO $cat.events_pem VALUES (9000001, 888888, 2.25, 'view')")
      Files.createDirectories(Paths.get(wh))
      Files.write(stampFile, stamp.getBytes("UTF-8"))
    }
    cat
  }

  /** Per-sf-dir catalog for q_hidden_partitioning: `events_hp` CTAS'd
    * `PARTITIONED BY (days(ts), bucket(8, user_id))` — B161 hidden
    * transform partitioning — then one INSERT through the derivation.
    * Rebuilt on fixture regeneration (content-stamp equality).
    */
  def hiddenPartitionCatalog(s: SparkSession, dir: String): String = this.synchronized {
    import java.nio.file.{Files, Paths}
    import graft.ops.Sinks
    val wh = "/tmp/graft_hpwh_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val cat = "grafthpq_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", wh)
    val tbl = s"$wh/events_hp"
    val tblH = s"$wh/events_hph"
    val stampFile = Paths.get(wh, "_SRCSTAMP")
    // recipe tag: round-13 adds the hour-partitioned sibling table
    val stamp = Tables.srcStamp(dir, "events") + ":hour"
    val fresh = Files.isDirectory(Paths.get(tbl)) &&
      Sinks.listVersions(tbl) == Seq(0L, 1L, 2L) &&
      Files.isDirectory(Paths.get(tblH)) &&
      Sinks.listVersions(tblH) == Seq(0L, 1L, 2L) &&
      Files.exists(stampFile) &&
      new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
    if (!fresh) {
      graft.io.Fs.deleteRecursively(Paths.get(wh))
      Tables.events(s, dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .createOrReplaceTempView("graft_events_hp_src")
      s.sql(s"CREATE TABLE $cat.events_hp USING parquet " +
        "PARTITIONED BY (days(ts), bucket(8, user_id)) " +
        "AS SELECT * FROM graft_events_hp_src")
      s.sql(s"INSERT INTO $cat.events_hp VALUES " +
        "(9000002, timestamp'2024-01-09 12:00:00', 777777, 'click', 3.5)")
      // the B166 hour-grain sibling: one epoch-hour INT directory per
      // hour (Iceberg's hour(ts) encoding), same CTAS + INSERT shape,
      // over a 3-day slice (72 hour dirs — hour grain on a month of
      // events would be 720 near-empty dirs at fixture scale; real
      // deployments pick the grain to match volume). Hour dirs × N
      // write tasks would still small-file-explode — exactly what the
      // B163b optimized-write switch exists for: ONE file per hour
      // value per commit.
      s.sql(s"CREATE TABLE $cat.events_hph USING parquet " +
        "PARTITIONED BY (hours(ts)) " +
        "TBLPROPERTIES ('graft.write.distribute' = 'true') " +
        "AS SELECT * FROM graft_events_hp_src " +
        "WHERE ts >= timestamp'2024-01-08 00:00:00' " +
        "AND ts < timestamp'2024-01-11 00:00:00'")
      s.sql(s"INSERT INTO $cat.events_hph VALUES " +
        "(9000003, timestamp'2024-01-09 12:30:00', 777778, 'view', 1.25)")
      Files.createDirectories(Paths.get(wh))
      Files.write(stampFile, stamp.getBytes("UTF-8"))
    }
    cat
  }

  /** Per-sf-dir catalog for q_type_widening: `ord_w` CTAS'd with an INT
    * cust column, widened to BIGINT metadata-only (B162), then one
    * INSERT beyond int range. Rebuilt on fixture regeneration.
    */
  def typeWideningCatalog(s: SparkSession, dir: String): String = this.synchronized {
    import java.nio.file.{Files, Paths}
    import graft.ops.Sinks
    val wh = "/tmp/graft_twwh_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val cat = "graftw_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", wh)
    val tbl = s"$wh/ord_w"
    val stampFile = Paths.get(wh, "_SRCSTAMP")
    // recipe tag: the scale-proof modulo changed the fixture contents,
    // so caches built from the pre-modulo recipe must not pass freshness
    val stamp = Tables.srcStamp(dir, "orders") + ":cust-mod"
    val fresh = Files.isDirectory(Paths.get(tbl)) &&
      Sinks.listVersions(tbl) == Seq(0L, 1L, 2L, 3L) &&
      Files.exists(stampFile) &&
      new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
    if (!fresh) {
      graft.io.Fs.deleteRecursively(Paths.get(wh))
      Tables.orders(s, dir)
        .selectExpr("CAST(o_custkey % 1000000 AS INT) AS cust", "o_orderstatus")
        .createOrReplaceTempView("graft_ord_w_src")
      s.sql(s"CREATE TABLE $cat.ord_w USING parquet AS SELECT * FROM graft_ord_w_src")
      s.sql(s"ALTER TABLE $cat.ord_w ALTER COLUMN cust TYPE BIGINT")
      s.sql(s"INSERT INTO $cat.ord_w VALUES (9999999999, 'Z')")
      Files.createDirectories(Paths.get(wh))
      Files.write(stampFile, stamp.getBytes("UTF-8"))
    }
    cat
  }

  /** Per-sf-dir avro copy of orders (round-14, B3 closure): written
    * once through [[graft.sources.AvroIO.write]], content-stamped like
    * every other fixture cache.
    */
  def avroFixture(s: SparkSession, dir: String): String = this.synchronized {
    import java.nio.file.{Files, Paths}
    val path = "/tmp/graft_avro_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val stampFile = Paths.get(path, "_SRCSTAMP")
    val stamp = Tables.srcStamp(dir, "orders") + ":avro1"
    val fresh = Files.isDirectory(Paths.get(path)) && Files.exists(stampFile) &&
      new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
    if (!fresh) {
      graft.sources.AvroIO.write(Tables.orders(s, dir).repartition(4), path)
      Files.write(stampFile, stamp.getBytes("UTF-8"))
    }
    path
  }

  /** Per-sf-dir catalog for q_meta_count: `ord_meta` = orders published
    * with footer stats (v0), appended to with stats (v1), then COW-
    * DELETEd through SQL DML (v2) — the `_stats` sidecar follows every
    * commit, so the metadata-only count rule stays exact across the
    * table's life. Returns the catalog name; rebuilt on fixture
    * regeneration (content-stamp equality).
    */
  def metaCatalog(s: SparkSession, dir: String): String = this.synchronized {
    import java.nio.file.{Files, Paths}
    import graft.ops.Sinks
    val wh = "/tmp/graft_mcwh_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val cat = "graftmc_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", wh)
    val tbl = s"$wh/ord_meta"
    val stampFile = Paths.get(wh, "_SRCSTAMP")
    // the layout tag invalidates caches built before statsCols changed
    val stamp = Tables.srcStamp(dir, "orders") + ":str-stats2"
    val fresh = Files.isDirectory(Paths.get(tbl)) &&
      Sinks.listVersions(tbl) == Seq(0L, 1L, 2L) &&
      Files.exists(stampFile) &&
      new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
    if (!fresh) {
      graft.io.Fs.deleteRecursively(Paths.get(wh))
      val orders = Tables.orders(s, dir)
      val sc = Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      Sinks.publishVersioned(orders, tbl, None, statsCols = sc)
      Sinks.appendVersioned(orders.filter(col("o_orderkey") < 100), tbl,
        Some(0L), statsCols = sc)
      s.sql(s"DELETE FROM $cat.ord_meta WHERE o_custkey BETWEEN 100 AND 199")
      Files.createDirectories(Paths.get(wh))
      Files.write(stampFile, stamp.getBytes("UTF-8"))
    }
    cat
  }

  /** Per-sf-dir catalog for q_meta_count_filtered: `ord_part` = orders
    * Hive-partitioned by `o_orderstatus` (directory arithmetic decides
    * partition conjuncts) and range-clustered by `o_orderkey` within
    * partitions (sidecar ranges prove interior/disjoint files), stats
    * on the key columns — the layout a filtered metadata count needs to
    * show all three classification shapes.
    */
  def filteredMetaCatalog(s: SparkSession, dir: String): String = this.synchronized {
    import java.nio.file.{Files, Paths}
    import graft.ops.{Sinks, TableProps}
    val wh = "/tmp/graft_fmcwh_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val cat = "graftfmc_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", wh)
    val tbl = s"$wh/ord_part"
    val stampFile = Paths.get(wh, "_SRCSTAMP")
    // :sum tag — the round-14 sum domain needs a sidecar rebuilt with
    // `sum_l`; a cached pre-sum fixture would decline q_meta_sum
    val stamp = Tables.srcStamp(dir, "orders") + ":part-meta:sum"
    val fresh = Files.isDirectory(Paths.get(tbl)) &&
      Sinks.listVersions(tbl) == Seq(0L) &&
      Files.exists(stampFile) &&
      new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
    if (!fresh) {
      graft.io.Fs.deleteRecursively(Paths.get(wh))
      TableProps.update(tbl)(_ +
        (TableProps.PartitionKey -> "o_orderstatus STRING"))
      val orders = Tables.orders(s, dir)
        .repartitionByRange(4, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
      Sinks.publishVersioned(orders, tbl, None,
        statsCols = Seq("o_orderkey", "o_custkey"))
      Files.createDirectories(Paths.get(wh))
      Files.write(stampFile, stamp.getBytes("UTF-8"))
    }
    cat
  }

  /** Per-sf-dir catalog whose `events_ts` table exercises B165 timestamp
    * file skipping end to end through the AUTO-STATS door: CTAS declares
    * 'graft.stats.columns' = 'ts,event_id' and nothing ever calls
    * annotate — the sidecar exists because every commit (the CTAS
    * insert, then a small linked append) collects it by declaration.
    * The data is ts-range-clustered first so a time window prunes files.
    */
  def tsSkipCatalog(s: SparkSession, dir: String): String = this.synchronized {
    import java.nio.file.{Files, Paths}
    import graft.ops.{Sinks, Stats}
    val wh = "/tmp/graft_tswh_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val cat = "graftts_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", wh)
    val tbl = s"$wh/events_ts"
    val stampFile = Paths.get(wh, "_SRCSTAMP")
    val stamp = Tables.srcStamp(dir, "events") + ":auto-ts-stats:v2"
    val fresh = Files.isDirectory(Paths.get(tbl)) &&
      Sinks.listVersions(tbl) == Seq(0L, 1L, 2L) &&
      Files.isDirectory(Paths.get(
        Sinks.versionPath(tbl, 2L) + "/" + Stats.Sidecar)) &&
      Files.exists(stampFile) &&
      new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
    if (!fresh) {
      graft.io.Fs.deleteRecursively(Paths.get(wh))
      Tables.events(s, dir)
        .repartitionByRange(8, col("ts")).sortWithinPartitions("ts")
        .createOrReplaceTempView("graft_ts_src")
      s.sql(
        s"""CREATE TABLE $cat.events_ts USING parquet
           |TBLPROPERTIES ('graft.stats.columns' = 'ts,event_id')
           |AS SELECT * FROM graft_ts_src""".stripMargin)
      // a linked commit (no statsCols passed anywhere) must keep the
      // declared sidecar fresh — its delta rows also prune
      s.sql(s"INSERT INTO $cat.events_ts " +
        "SELECT event_id + 10000000, ts + INTERVAL 365 DAYS, user_id, " +
        s"event_type, value, props FROM $cat.events_ts WHERE event_id < 50")
      Files.createDirectories(Paths.get(wh))
      Files.write(stampFile, stamp.getBytes("UTF-8"))
    }
    cat
  }

  /** Per-sf-dir catalog for q_stats_skipping_dec: orders with an exact
    * DECIMAL(14,2) price (integer cents / 100.0, the construction both
    * engines compute identically), price-range-clustered, stats via the
    * declared-columns property — no caller ever passes statsCols.
    */
  def decSkipCatalog(s: SparkSession, dir: String): String = this.synchronized {
    import java.nio.file.{Files, Paths}
    import graft.ops.{Sinks, Stats}
    val wh = "/tmp/graft_decwh_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val cat = "graftdec_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", wh)
    val tbl = s"$wh/ord_dec"
    val stampFile = Paths.get(wh, "_SRCSTAMP")
    val stamp = Tables.srcStamp(dir, "orders") + ":dec-stats"
    val fresh = Files.isDirectory(Paths.get(tbl)) &&
      Sinks.listVersions(tbl) == Seq(0L, 1L) &&
      Files.isDirectory(Paths.get(
        Sinks.versionPath(tbl, 1L) + "/" + Stats.Sidecar)) &&
      Files.exists(stampFile) &&
      new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
    if (!fresh) {
      graft.io.Fs.deleteRecursively(Paths.get(wh))
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          expr("CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) / 100.0 " +
            "AS DECIMAL(14,2))").as("price"))
        .repartitionByRange(8, col("price")).sortWithinPartitions("price")
        .createOrReplaceTempView("graft_dec_src")
      s.sql(
        s"""CREATE TABLE $cat.ord_dec USING parquet
           |TBLPROPERTIES ('graft.stats.columns' = 'price')
           |AS SELECT * FROM graft_dec_src""".stripMargin)
      Files.createDirectories(Paths.get(wh))
      Files.write(stampFile, stamp.getBytes("UTF-8"))
    }
    cat
  }

  /** Per-sf-dir catalog whose `cust` table has lived a full schema-
    * evolution life: CTAS from the customer fixture with a CHECK
    * constraint on c_name (v0 empty + v1 data), RENAME COLUMN
    * c_name→cust_name (v2 — constraint expression rewritten), DROP
    * COLUMN c_mktsegment (v3), ALTER COLUMN c_nationkey TYPE BIGINT
    * (v4 — widening retype), then INSERT one row through the evolved
    * schema + rewritten constraint (v5). Returns the catalog name;
    * rebuilt on fixture regeneration (content-stamp equality).
    */
  def schemaEvolutionCatalog(s: SparkSession, dir: String): String = this.synchronized {
    import java.nio.file.{Files, Paths}
    import graft.ops.Sinks
    val wh = "/tmp/graft_sewh_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val cat = "graftse_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", wh)
    val tbl = s"$wh/cust"
    val stampFile = Paths.get(tbl, "_SRCSTAMP")
    val stamp = Tables.srcStamp(dir, "customer")
    val fresh = Files.isDirectory(Paths.get(tbl)) &&
      Sinks.listVersions(tbl) == Seq(0L, 1L, 2L, 3L, 4L, 5L) &&
      Files.exists(stampFile) &&
      new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
    if (!fresh) {
      graft.io.Fs.deleteRecursively(Paths.get(tbl))
      Tables.customer(s, dir).createOrReplaceTempView("graft_se_src")
      s.sql(
        s"""CREATE TABLE $cat.cust USING parquet
           |TBLPROPERTIES ('check.has_name' = 'length(c_name) > 0')
           |AS SELECT * FROM graft_se_src""".stripMargin)
      s.sql(s"ALTER TABLE $cat.cust RENAME COLUMN c_name TO cust_name")
      s.sql(s"ALTER TABLE $cat.cust DROP COLUMN c_mktsegment")
      // the third evolution class: widening retype (INT -> BIGINT)
      s.sql(s"ALTER TABLE $cat.cust ALTER COLUMN c_nationkey TYPE BIGINT")
      s.sql(s"INSERT INTO $cat.cust VALUES (9999999, 'ZZZ EVOLVED', 0, 1.5)")
      Files.write(stampFile, stamp.getBytes("UTF-8"))
    }
    cat
  }

  def cdfWarehouse(s: SparkSession, dir: String): String = this.synchronized {
    import java.nio.file.{Files, Paths}
    import graft.ops.Sinks
    val tbl = "/tmp/graft_cdf_" + dir.replaceAll("[^A-Za-z0-9.]", "_") + "/nations"
    val stampFile = Paths.get(tbl, "_SRCSTAMP")
    val stamp = Tables.srcStamp(dir, "nation")
    val fresh = Files.isDirectory(Paths.get(tbl)) &&
      Sinks.listVersions(tbl) == Seq(0L, 1L) &&
      Files.exists(stampFile) &&
      new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
    if (!fresh) {
      import s.implicits._
      graft.io.Fs.deleteRecursively(Paths.get(tbl).getParent)
      val n = Tables.nation(s, dir)
      Sinks.publishVersioned(n, tbl, None)
      val v1 = n.filter(col("n_nationkey") < 20)
        .select(col("n_nationkey"), col("n_name"),
          when(col("n_nationkey") < 5, col("n_regionkey") + 1)
            .otherwise(col("n_regionkey")).as("n_regionkey"))
        .unionByName(Seq((27, "ATLANTIS", 9))
          .toDF("n_nationkey", "n_name", "n_regionkey"))
      Sinks.publishVersioned(v1, tbl, Some(0L))
      Files.write(Paths.get(tbl, "_SRCSTAMP"), stamp.getBytes("UTF-8"))
    }
    tbl
  }

  /** Versioned, Z-order-clustered orders copy with footer stats on both
    * clustering dimensions (B109). Built once per sf dir through the real
    * commit protocol; rebuilt when the fixture regenerates.
    */
  def statsTable(s: SparkSession, dir: String): String = this.synchronized {
    import java.nio.file.{Files, Paths}
    import graft.ops.{Layout, Sinks, Stats}
    val tbl = "/tmp/graft_statsz_" + dir.replaceAll("[^A-Za-z0-9.]", "_") + "/orders_z"
    val stampFile = Paths.get(tbl, "_SRCSTAMP")
    val stamp = Tables.srcStamp(dir, "orders")
    val fresh = Files.isDirectory(Paths.get(tbl)) &&
      Sinks.listVersions(tbl) == Seq(0L) &&
      Files.isDirectory(Paths.get(Sinks.versionPath(tbl, 0L) + "/" + Stats.Sidecar)) &&
      Files.exists(stampFile) &&
      new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
    if (!fresh) {
      graft.io.Fs.deleteRecursively(Paths.get(tbl).getParent)
      val o = Tables.orders(s, dir)
        .withColumn("o_day",
          datediff(to_date(col("o_orderdate")), lit("1995-01-01")))
      // one tiny extent aggregate (4 scalars to the driver — the same
      // materialize-as-literal dance as the Bloom build) so both
      // dimensions land on a common grid before interleaving; raw
      // interleave would let the wider dimension own every top bit
      val ext = o.agg(
        min("o_custkey"), max("o_custkey"), min("o_day"), max("o_day")).head()
      val z = Layout.zorder2(
        Layout.normalize(col("o_custkey"), lit(ext.getLong(0)), lit(ext.getLong(1)), 12),
        Layout.normalize(col("o_day"), lit(ext.getInt(2)), lit(ext.getInt(3)), 12))
      val laid = o
        .withColumn("_z", z)
        .repartitionByRange(16, col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
      Sinks.publishVersioned(laid, tbl, None, statsCols = Seq("o_custkey", "o_day"))
      Files.write(stampFile, stamp.getBytes("UTF-8"))
    }
    tbl
  }

  /** Versioned orders table for q_bloom_skipping (B123): HASH layout on
    * o_orderkey (every file spans the whole key domain — range stats
    * cannot prune a point probe) with both sidecars: `_stats` (so the
    * composition path runs) and `_bloom` on the key. Rebuilt when the
    * fixture changes; the `_bloom` dir doubles as the completion marker.
    *
    * Returns (table root, probe key). The probe key — the smallest
    * o_orderkey >= 1000, the scalar both engines derive identically —
    * is computed ONCE here in the cached build branch and persisted in
    * a `_PROBEKEY` marker beside the table, so the timed q_bloom_skipping
    * region is the actual lookup, not a full orders scan re-deriving a
    * constant (round-8 verdict item 9).
    */
  def bloomTable(s: SparkSession, dir: String): (String, Long) = this.synchronized {
    import java.nio.file.{Files, Paths}
    import graft.ops.{Bloom, Sinks}
    val tbl = "/tmp/graft_bloomz_" + dir.replaceAll("[^A-Za-z0-9.]", "_") + "/orders_h"
    val keyFile = Paths.get(tbl, "_PROBEKEY")
    val stampFile = Paths.get(tbl, "_SRCSTAMP")
    // freshness = stored content stamp EQUALS the fixture's current one
    // (mtime:size) — a >=-mtime check alone would trust a stale cache
    // against an epoch-stamped regenerated fixture
    val stamp = Tables.srcStamp(dir, "orders")
    val fresh = Files.isDirectory(Paths.get(tbl)) &&
      Sinks.listVersions(tbl) == Seq(0L) &&
      Files.isDirectory(Paths.get(Sinks.versionPath(tbl, 0L) + "/" + Bloom.Sidecar)) &&
      Files.exists(keyFile) && Files.exists(stampFile) &&
      new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
    if (!fresh) {
      graft.io.Fs.deleteRecursively(Paths.get(tbl).getParent)
      val laid = Tables.orders(s, dir).repartition(8, col("o_orderkey"))
      Sinks.publishVersioned(laid, tbl, None, statsCols = Seq("o_orderkey"))
      Bloom.annotate(s, Sinks.resolve(tbl), Seq("o_orderkey"),
        expectedItems = 50000L)
      val k = Tables.orders(s, dir).filter(col("o_orderkey") >= 1000)
        .agg(min("o_orderkey")).head().getLong(0)
      Files.write(keyFile, k.toString.getBytes("UTF-8"))
      Files.write(stampFile, stamp.getBytes("UTF-8"))
    }
    (tbl, new String(Files.readAllBytes(keyFile), "UTF-8").trim.toLong)
  }

  /** Source + materialized view for q_mview_incremental (B111).
    * Source v0 = orders with an exact integer-cents column; v1 mutates it
    * three ways (delete keys %13==0, +10% reprice for keys %7==0, insert
    * key-shifted copies of keys %11==3). The MV (count + cents sum by
    * status × priority) is created at v0 and REFRESHED to v1 through the
    * change feed. Returns (srcRoot, mvRoot); rebuilt when the fixture
    * regenerates.
    */
  def mviewWarehouse(s: SparkSession, dir: String): (String, String) = this.synchronized {
    import java.nio.file.{Files, Paths}
    import graft.ops.{Mview, Sinks}
    val root = "/tmp/graft_mview_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val (src, mv) = (s"$root/orders_src", s"$root/orders_mv")
    val stampFile = Paths.get(root, "_SRCSTAMP")
    val stamp = Tables.srcStamp(dir, "orders")
    val fresh = Files.isDirectory(Paths.get(src)) &&
      Sinks.listVersions(src) == Seq(0L, 1L) &&
      Mview.syncedVersions(mv).exists(_._2 == 1L) &&
      Files.exists(stampFile) &&
      new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
    if (!fresh) {
      graft.io.Fs.deleteRecursively(Paths.get(root))
      val dims = Seq("o_orderstatus", "o_orderpriority")
      val v0 = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
        round(col("o_totalprice") * 100, 0).cast("long").as("o_cents"))
      Sinks.publishVersioned(v0, src, None)
      Mview.create(s, src, mv, dims, Seq("o_cents"))
      val v1 = v0.filter(col("o_orderkey") % 13 =!= 0)
        .withColumn("o_cents",
          when(col("o_orderkey") % 7 === 0,
            // integral division (DIV, not /): Spark's / on BIGINT returns
            // DOUBLE, and the oracle must reprice in exact integer cents
            expr("o_cents * 11 DIV 10")).otherwise(col("o_cents")))
        .unionByName(v0.filter(col("o_orderkey") % 11 === 3)
          .withColumn("o_orderkey", col("o_orderkey") + 134217728L))
      Sinks.publishVersioned(v1, src, Some(0L))
      Mview.refresh(s, src, mv, Seq("o_orderkey"), dims, Seq("o_cents"))
      Files.write(Paths.get(root, "_SRCSTAMP"), stamp.getBytes("UTF-8"))
    }
    (src, mv)
  }

  /** Bucket-sorted catalog tables for q_bucketed_join (B110), one pair
    * per sf dir; rebuilt when missing from the session catalog or older
    * than the fixture (the warehouse dir can outlive the metastore and
    * vice versa — both are checked).
    */
  def bucketedTables(s: SparkSession, dir: String): (String, String) = this.synchronized {
    import java.nio.file.{Files, Paths}
    val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
    val (ot, lt) = (s"bq_orders_$sfx", s"bq_lineitem_$sfx")
    val wh = s.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:").stripPrefix("//")
    val stampFile = Paths.get(wh, s"_SRCSTAMP_$sfx")
    val stamp = Tables.srcStamp(dir, "lineitem")
    def liveDir(t: String) = Paths.get(s"$wh/${t.toLowerCase}")
    val fresh = Seq(ot, lt).forall(t => s.catalog.tableExists(t) &&
      Files.isDirectory(liveDir(t))) &&
      Files.exists(stampFile) &&
      new String(Files.readAllBytes(stampFile), "UTF-8").trim == stamp
    if (!fresh) {
      Seq(ot, lt).foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        // a warehouse dir left by a previous JVM (fresh metastore, stale
        // files) makes saveAsTable refuse — clear it explicitly
        graft.io.Fs.deleteRecursively(liveDir(t))
      }
      graft.ops.Layout.writeBucketed(
        Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"),
        ot, buckets = 8, "o_orderkey")
      graft.ops.Layout.writeBucketed(
        Tables.lineitem(s, dir)
          .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount"),
        lt, buckets = 8, "l_orderkey")
      Files.createDirectories(Paths.get(wh))
      Files.write(stampFile, stamp.getBytes("UTF-8"))
    }
    (ot, lt)
  }

  private val aggSql =
    """SELECT event_type, count(*) AS n_events,
      | round(sum(value), 2) AS sum_value,
      | min(epoch_us(CAST(ts AS TIMESTAMP))) AS min_ts_us,
      | max(epoch_us(CAST(ts AS TIMESTAMP))) AS max_ts_us,
      | CAST(sum(length(props)) AS BIGINT) AS props_chars
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_json_scan" -> aggSql,
    "q_csv_scan" -> aggSql,
    "q_orc_scan" -> aggSql,
    "q_xml_scan" -> aggSql,

    "q_catalog_branch" ->
      """SELECT 'merged' AS src, r_regionkey, r_name FROM region
        |WHERE r_regionkey < 3
        |UNION ALL
        |SELECT 'pre' AS src, r_regionkey, r_name FROM region
        |ORDER BY src, r_regionkey""".stripMargin,

    "q_catalog_tag" ->
      """SELECT 'baseline' AS src, r_regionkey, r_name FROM region
        |UNION ALL
        |SELECT 'cur' AS src, r_regionkey, r_name FROM region
        |WHERE r_regionkey < 3
        |ORDER BY src, r_regionkey""".stripMargin,

    // same recompute as q_catalog_timetravel — the format door serves
    // the identical snapshots
    "q_format_read" ->
      """SELECT 'v0' AS src, r_regionkey, r_name FROM region
        |UNION ALL
        |SELECT 'cur' AS src, r_regionkey, r_name FROM region
        |WHERE r_regionkey < 3
        |ORDER BY src, r_regionkey""".stripMargin,

    // the co-partitioned join recomputed flat — a shuffle-free plan must
    // produce byte-identical aggregates
    "q_spj_join" ->
      """SELECT c_nationkey AS nationkey, count(*) AS pairs,
        |       CAST(sum(c_custkey + s_suppkey) AS BIGINT) AS keysum
        |FROM customer JOIN supplier ON c_nationkey = s_nationkey
        |GROUP BY c_nationkey
        |ORDER BY nationkey""".stripMargin,

    // the default-filled stripe recomputed with literals
    "q_default_values" ->
      """SELECT n_nationkey, n_name, 'fixture' AS src,
        |       CAST(42 AS INTEGER) AS score
        |FROM nation WHERE n_nationkey < 8
        |UNION ALL
        |SELECT CAST(100 AS BIGINT), 'manual', 'fixture', CAST(7 AS INTEGER)
        |ORDER BY n_nationkey""".stripMargin,

    // the co-bucketed fact-fact join recomputed flat
    "q_spj_bucket" ->
      """SELECT o_orderkey % 10 AS okey_mod, count(*) AS pairs,
        |       CAST(sum(o_orderkey + l_linenumber) AS BIGINT) AS keysum
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey % 10
        |ORDER BY okey_mod""".stripMargin,

    // the ADD COLUMN DEFAULT populations recomputed from the fixture
    "q_add_default" ->
      """SELECT * FROM (
        |  SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |         'std' AS grade FROM nation WHERE n_nationkey < 5
        |  UNION ALL
        |  SELECT CAST(n_nationkey AS BIGINT), n_name, 'post' FROM nation
        |  WHERE n_nationkey >= 5 AND n_nationkey < 8
        |  UNION ALL SELECT CAST(200 AS BIGINT), 'omitted', 'std'
        |  UNION ALL SELECT CAST(201 AS BIGINT), 'nullrow', NULL
        |) ORDER BY n_nationkey""".stripMargin,

    // the generated-column derivation recomputed inline
    "q_generated_cols" ->
      """SELECT substring(c_mktsegment, 1, 2) AS seg2,
        |       count(*) AS n_rows,
        |       CAST(sum(c_custkey) AS BIGINT) AS keysum
        |FROM customer WHERE c_mktsegment >= 'F'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // both epochs of the replace recomputed from the fixture
    "q_replace_table" ->
      """SELECT 'new' AS epoch, count(*) AS n_rows,
        |       CAST(sum(c_custkey * 1000) AS BIGINT) AS vsum
        |FROM customer WHERE c_custkey % 3 = 0
        |UNION ALL
        |SELECT 'old', count(*), CAST(sum(c_custkey) AS BIGINT)
        |FROM customer WHERE c_custkey % 2 = 0
        |ORDER BY epoch""".stripMargin,

    // the bronze→silver stream recomputed: both appends' inserts = the
    // whole fixture
    "q_stream_doors" ->
      """SELECT c_mktsegment, count(*) AS n_rows,
        |       CAST(sum(c_custkey) AS BIGINT) AS keysum,
        |       round(sum(c_acctbal), 4) AS balsum
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,

    // the write-door populations recomputed from the fixture (create +
    // append = the whole table)
    "q_format_write" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |       count(*) AS n_rows,
        |       CAST(sum(n_nationkey) AS BIGINT) AS keysum
        |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin,

    // the generated-column MERGE recomputed as a full outer join — the
    // derivation applies over the merged post-rows
    "q_generated_merge" ->
      """WITH t0 AS (SELECT c_custkey, c_mktsegment, c_acctbal
        |            FROM customer WHERE c_custkey % 2 = 0),
        |src AS (SELECT c_custkey, 'X' || c_mktsegment AS m,
        |               c_acctbal + 10 AS b
        |        FROM customer WHERE c_custkey % 3 = 0),
        |merged AS (
        |  SELECT COALESCE(s.c_custkey, t0.c_custkey) AS c_custkey,
        |         CASE WHEN s.c_custkey IS NOT NULL THEN s.m
        |              ELSE t0.c_mktsegment END AS c_mktsegment,
        |         CASE WHEN s.c_custkey IS NOT NULL THEN s.b
        |              ELSE t0.c_acctbal END AS c_acctbal
        |  FROM t0 FULL JOIN src s ON t0.c_custkey = s.c_custkey)
        |SELECT substring(c_mktsegment, 1, 2) AS seg2,
        |       count(*) AS n_rows,
        |       CAST(sum(c_custkey) AS BIGINT) AS keysum,
        |       round(sum(c_acctbal), 4) AS balsum
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,

    // the MERGE-evolution populations recomputed as a full outer join
    // of the pre-merge target slice and the wider source slice
    "q_merge_evolution" ->
      """SELECT COALESCE(t.c_custkey, s.c_custkey) AS c_custkey,
        |       COALESCE(s.c_name, t.c_name) AS c_name,
        |       s.c_mktsegment AS c_mktsegment,
        |       s.c_acctbal AS c_acctbal
        |FROM (SELECT c_custkey, c_name FROM customer
        |      WHERE c_custkey % 2 = 0) t
        |FULL JOIN (SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        |           FROM customer WHERE c_custkey % 3 = 0) s
        |  ON t.c_custkey = s.c_custkey
        |ORDER BY c_custkey""".stripMargin,

    // variant typed-path access recomputed over the raw JSON strings
    "q_variant_props" ->
      """SELECT user_id % 10 AS grp, count(*) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |            AS BIGINT) AS ksum,
        |       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |            AS BIGINT) AS kmax
        |FROM events
        |GROUP BY user_id % 10
        |ORDER BY grp""".stripMargin,

    // the identity ladder recomputed literally
    "q_identity" ->
      """SELECT * FROM (VALUES (CAST(10 AS BIGINT), 'a'),
        |  (CAST(12 AS BIGINT), 'b'), (CAST(5 AS BIGINT), 'explicit'),
        |  (CAST(14 AS BIGINT), 'c')) AS t(id, name)
        |ORDER BY id""".stripMargin,

    // the cross-granularity (day⋈month) join recomputed flat
    "q_spj_grain" ->
      """SELECT e1.user_id % 5 AS grp, count(*) AS pairs,
        |       CAST(sum(e1.event_id + e2.event_id * 2) AS BIGINT) AS idsum
        |FROM events e1 JOIN events e2
        |  ON CAST(e1.ts AS TIMESTAMP) = CAST(e2.ts AS TIMESTAMP)
        |GROUP BY e1.user_id % 5
        |ORDER BY grp""".stripMargin,

    // the co-day-partitioned event join recomputed flat — proves the
    // temporal-grid SPJ grouping is value-exact
    "q_spj_days" ->
      """SELECT e1.user_id % 7 AS grp, count(*) AS pairs,
        |       CAST(sum(e1.event_id + e2.event_id) AS BIGINT) AS idsum
        |FROM events e1 JOIN events e2
        |  ON CAST(e1.ts AS TIMESTAMP) = CAST(e2.ts AS TIMESTAMP)
        |GROUP BY e1.user_id % 7
        |ORDER BY grp""".stripMargin,

    // the co-bucketed join after the MOR DELETE, recomputed flat with
    // the delete predicate inverted — proves the reader-side deletion-
    // vector subtraction is value-exact through the shuffle-free join
    "q_spj_mor" ->
      """SELECT o_orderkey % 10 AS okey_mod, count(*) AS pairs,
        |       CAST(sum(o_orderkey + l_linenumber) AS BIGINT) AS keysum
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_custkey % 7 <> 3
        |GROUP BY o_orderkey % 10
        |ORDER BY okey_mod""".stripMargin,

    // the renamed co-bucketed join after the MOR DELETE, recomputed
    // flat under the ORIGINAL fixture names with the delete predicate
    // inverted — proves the logical↔physical aliasing and the vector
    // subtraction value-exact through the shuffle-free join
    "q_spj_rename" ->
      """SELECT o_orderkey % 10 AS okey_mod, count(*) AS pairs,
        |       CAST(sum(o_orderkey + l_linenumber) AS BIGINT) AS keysum
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_custkey % 7 <> 3
        |GROUP BY o_orderkey % 10
        |ORDER BY okey_mod""".stripMargin,

    // partition rollup recomputed from raw rows; dir values are strings
    "q_meta_tables" ->
      """SELECT CAST(c_nationkey AS VARCHAR) AS c_nationkey,
        |       count(*) AS n_rows
        |FROM customer GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,

    // the post-truncate re-insert stripe, from the raw fixture
    "q_truncate" ->
      """SELECT n_nationkey, n_name FROM nation
        |WHERE n_nationkey < 10 ORDER BY n_nationkey""".stripMargin,

    // the MV recomputed from fixture + the duplicated <5 stripe
    "q_mview_sql" ->
      """WITH src AS (
        |  SELECT * FROM nation
        |  UNION ALL
        |  SELECT * FROM nation WHERE n_nationkey < 5)
        |SELECT n_regionkey, count(*) AS n_rows,
        |       CAST(sum(n_nationkey) AS BIGINT) AS sum_n_nationkey
        |FROM src GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    // exact distinct counts — the sketch serves in coupon (exact) mode
    // at these cardinalities, so count(DISTINCT) is the right oracle
    "q_ndv" ->
      """SELECT 'n_name' AS "column", count(DISTINCT n_name) AS ndv FROM nation
        |UNION ALL
        |SELECT 'n_regionkey' AS "column", count(DISTINCT n_regionkey) AS ndv
        |FROM nation
        |ORDER BY "column"""".stripMargin,

    // survivors of (MOR delete of the >=20 tail) + (purge of the %7==3
    // stripe), recomputed from the raw fixture
    "q_purge" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_nationkey < 20 AND n_nationkey % 7 <> 3
        |ORDER BY n_nationkey""".stripMargin,

    // the nested-view read recomputed inline: aggregate -> filter -> join
    "q_view" ->
      """SELECT r.r_name AS region, v.cnt
        |FROM (SELECT n_regionkey, count(*) AS cnt FROM nation
        |      GROUP BY n_regionkey) v
        |JOIN region r ON v.n_regionkey = r.r_regionkey
        |WHERE v.cnt >= 5
        |ORDER BY region""".stripMargin,

    "q_catalog_timetravel" ->
      """SELECT 'v0' AS src, r_regionkey, r_name FROM region
        |UNION ALL
        |SELECT 'cur' AS src, r_regionkey, r_name FROM region
        |WHERE r_regionkey < 3
        |ORDER BY src, r_regionkey""".stripMargin,

    // operations are fixed by construction (publish -> append -> COW
    // delete); the per-version row counts are RECOMPUTED from the raw
    // nation fixture, so the hash proves each commit landed the data
    // its operation claims — read back through time travel on the
    // Spark side
    "q_table_history" ->
      """WITH ops AS (
        |  SELECT * FROM (VALUES (0, 'publish', false), (1, 'append', false),
        |                        (2, 'cow-dml', true))
        |    AS t(version, operation, is_current)),
        |cnts AS (
        |  SELECT 0 AS version, count(*) AS n_rows FROM nation WHERE n_nationkey < 20
        |  UNION ALL SELECT 1, count(*) FROM nation
        |  UNION ALL SELECT 2, count(*) FROM nation WHERE n_nationkey <> 0)
        |SELECT CAST(o.version AS BIGINT) AS version, o.operation, o.is_current,
        |  CAST(c.n_rows AS BIGINT) AS n_rows
        |FROM ops o JOIN cnts c USING (version)
        |ORDER BY version""".stripMargin,

    "q_table_changes" -> tableChangesOracle,
    "q_table_changes_sql" -> tableChangesOracle,

    "q_catalog_schema_evolution" ->
      """SELECT c_custkey, c_name AS cust_name,
        |  CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |  CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
        |FROM (SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer
        |      UNION ALL
        |      SELECT 9999999, 'ZZZ EVOLVED', 0, CAST(1.5 AS DOUBLE))
        |ORDER BY c_custkey""".stripMargin,

    "q_catalog_partitioned" ->
      """SELECT event_type, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  round(sum(value), 4) AS sum_value
        |FROM events
        |WHERE event_type IN ('click', 'purchase')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_meta_count" ->
      """WITH t AS (SELECT * FROM orders
        |           UNION ALL SELECT * FROM orders WHERE o_orderkey < 100)
        |SELECT count(*) AS n_rows, count(o_custkey) AS n_cust,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        |  min(o_orderpriority) AS min_prio, max(o_orderpriority) AS max_prio
        |FROM t WHERE o_custkey NOT BETWEEN 100 AND 199""".stripMargin,

    "q_meta_count_filtered" ->
      """SELECT
        |  (SELECT count(*) FROM orders WHERE o_orderstatus = 'O') AS n_status,
        |  (SELECT count(*) FROM orders
        |   WHERE o_orderstatus = 'F' AND o_orderkey < 30000) AS n_mixed,
        |  (SELECT count(*) FROM orders WHERE o_orderkey >= 30000) AS n_range,
        |  (SELECT max(o_orderkey) FROM orders WHERE o_orderstatus = 'O') AS max_o,
        |  (SELECT count(o_custkey) FROM orders
        |   WHERE o_orderstatus = 'P') AS n_cust_p""".stripMargin,

    "q_meta_count_grouped" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  count(o_custkey) AS n_cust
        |FROM orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // DuckDB sums integers into HUGEINT — cast back to the BIGINT the
    // Spark scan (and therefore the metadata answer) speaks; avg is an
    // exact-integer-total / count double division in both engines
    "q_meta_sum" ->
      """SELECT
        |  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders) AS sum_key,
        |  (SELECT avg(o_orderkey) FROM orders) AS avg_key,
        |  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders
        |   WHERE o_orderstatus = 'O') AS sum_o,
        |  (SELECT avg(o_orderkey) FROM orders
        |   WHERE o_orderstatus = 'O') AS avg_o,
        |  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders
        |   WHERE o_orderkey >= 100 AND o_orderkey < 30000) AS sum_mid,
        |  (SELECT count(DISTINCT o_orderstatus) FROM orders) AS n_status""".stripMargin,

    // the oracle reads the PARQUET original — a hash match proves the
    // avro write→read roundtrip lossless, timestamps included
    "q_avro_scan" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |  min(o_orderdate) AS min_date, max(o_orderdate) AS max_date
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_meta_grouped_range" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  count(o_custkey) AS n_cust,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders
        |WHERE o_orderkey >= 100 AND o_orderkey < 30000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_stats_skipping_sql" ->
      """WITH t AS (SELECT * FROM orders
        |           UNION ALL SELECT * FROM orders WHERE o_orderkey < 100)
        |SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM t WHERE o_custkey NOT BETWEEN 100 AND 199
        |  AND o_orderkey BETWEEN 1000 AND 5000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the +365d appended rows live outside the queried window, so the
    // raw fixture alone reconstructs it; CAST(ts AS TIMESTAMP) is
    // layout-independent (µs-native and legacy-ns fixtures both)
    "q_stats_skipping_ts" ->
      """SELECT event_type, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  round(sum(value), 4) AS sum_value,
        |  min(event_id) AS min_eid, max(event_id) AS max_eid
        |FROM events
        |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-13 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_meta_count_ts" ->
      """WITH t AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events
        |  UNION ALL SELECT CAST(ts AS TIMESTAMP) + INTERVAL 365 DAY
        |    FROM events WHERE event_id < 50)
        |SELECT count(*) AS n_rows, min(ts) AS min_ts, max(ts) AS max_ts
        |FROM t""".stripMargin,

    "q_stats_skipping_dec" ->
      """WITH t AS (SELECT o_orderstatus,
        |  CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) / 100.0
        |    AS DECIMAL(14,2)) AS price FROM orders)
        |SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(price) * 100 AS BIGINT) AS cents,
        |  CAST(min(price) * 100 AS BIGINT) AS min_cents,
        |  CAST(max(price) * 100 AS BIGINT) AS max_cents
        |FROM t WHERE price BETWEEN 50000.00 AND 100000.00
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_copy_into" ->
      """SELECT r_regionkey, r_name FROM (
        |  SELECT r_regionkey, r_name FROM region
        |  UNION ALL
        |  SELECT r_regionkey + 100, r_name FROM region)
        |ORDER BY r_regionkey""".stripMargin,

    "q_mor_delete" ->
      (morOracleCte +
        """SELECT o_orderstatus, count(*) AS n_orders,
          |  min(o_orderkey) AS min_key,
          |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
          |FROM m GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    "q_mor_update" ->
      (morOracleCte +
        """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
          |FROM m WHERE o_custkey > 1000000
          |ORDER BY o_orderkey""".stripMargin),

    "q_mor_merge" ->
      (morOracleCte +
        """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
          |FROM m WHERE o_orderkey >= 90000000
          |ORDER BY o_orderkey""".stripMargin),

    "q_partition_evolution" ->
      """WITH t AS (
        |  SELECT user_id, event_type, value FROM events
        |  UNION ALL SELECT 999999, 'click', 1.5)
        |SELECT event_type, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  round(sum(value), 4) AS sum_value
        |FROM t WHERE event_type IN ('click', 'purchase')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_partition_evolution_meta" ->
      """WITH t AS (
        |  SELECT event_id, user_id, event_type, value FROM events
        |  UNION ALL SELECT 9000001, 888888, 'view', 2.25)
        |SELECT event_type, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  round(sum(value), 4) AS sum_value,
        |  min(event_id) AS min_event, max(event_id) AS max_event
        |FROM t WHERE event_type IN ('view', 'click')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_hidden_partitioning" ->
      """WITH t AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |    event_type, value FROM events
        |  UNION ALL SELECT 9000002, TIMESTAMP '2024-01-09 12:00:00',
        |    777777, 'click', 3.5)
        |SELECT event_type, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  round(sum(value), 4) AS sum_value
        |FROM t WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_hidden_hour" ->
      """WITH t AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |    event_type, value FROM events
        |  UNION ALL SELECT 9000003, TIMESTAMP '2024-01-09 12:30:00',
        |    777778, 'view', 1.25)
        |SELECT event_type, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  round(sum(value), 4) AS sum_value
        |FROM t WHERE ts >= TIMESTAMP '2024-01-09 06:00:00'
        |  AND ts < TIMESTAMP '2024-01-09 18:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_type_widening" ->
      """WITH t AS (
        |  SELECT CAST(o_custkey % 1000000 AS BIGINT) AS cust, o_orderstatus FROM orders
        |  UNION ALL SELECT 9999999999, 'Z')
        |SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(cust) AS BIGINT) AS sum_cust, max(cust) AS max_cust
        |FROM t GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_clone" ->
      """SELECT 'src' AS side, n_nationkey, n_name, n_regionkey
        |FROM nation WHERE n_nationkey < 20
        |UNION ALL
        |SELECT 'clone' AS side, n_nationkey, n_name, n_regionkey
        |FROM (SELECT n_nationkey, n_name, n_regionkey FROM nation
        |      UNION ALL SELECT 900, 'ZEALANDIA', 0)
        |ORDER BY side, n_nationkey""".stripMargin,
  ) ++ oracles2

  /** Shared by the Scala-API read (q_table_changes) and the SQL TVF
    * (q_table_changes_sql): both must land on exactly this recompute.
    */
  private lazy val tableChangesOracle: String =
      """WITH v0 AS (SELECT * FROM nation),
        |v1 AS (
        |  SELECT n_nationkey, n_name,
        |    CASE WHEN n_nationkey < 5 THEN n_regionkey + 1
        |         ELSE n_regionkey END AS n_regionkey
        |  FROM nation WHERE n_nationkey < 20
        |  UNION ALL SELECT 27, 'ATLANTIS', 9
        |),
        |j AS (
        |  SELECT coalesce(a.n_nationkey, b.n_nationkey) AS k,
        |         a.n_nationkey AS ak, b.n_nationkey AS bk,
        |         a.n_name AS an, a.n_regionkey AS ar,
        |         b.n_name AS bn, b.n_regionkey AS br
        |  FROM v0 a FULL OUTER JOIN v1 b ON a.n_nationkey = b.n_nationkey
        |)
        |SELECT k AS n_nationkey, bn AS n_name, br AS n_regionkey,
        |       'insert' AS _change_type
        |FROM j WHERE ak IS NULL
        |UNION ALL
        |SELECT k, an, ar, 'delete' FROM j WHERE bk IS NULL
        |UNION ALL
        |SELECT k, an, ar, 'update_preimage' FROM j
        |WHERE ak IS NOT NULL AND bk IS NOT NULL
        |  AND (an IS DISTINCT FROM bn OR ar IS DISTINCT FROM br)
        |UNION ALL
        |SELECT k, bn, br, 'update_postimage' FROM j
        |WHERE ak IS NOT NULL AND bk IS NOT NULL
        |  AND (an IS DISTINCT FROM bn OR ar IS DISTINCT FROM br)
        |ORDER BY _change_type, n_nationkey""".stripMargin

  private lazy val oracles2: Map[String, String] = Map(
    "q_partition_pruning" ->
      """SELECT event_type, count(*) AS n_events,
        | round(sum(value), 4) AS sum_value
        |FROM events
        |WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE)
        |  BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_stats_skipping" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        | CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
        | min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders
        |WHERE o_custkey BETWEEN 10 AND 40
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_bloom_skipping" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |FROM orders
        |WHERE o_orderkey =
        |  (SELECT min(o_orderkey) FROM orders WHERE o_orderkey >= 1000)""".stripMargin,

    // Reconstruct source v1 (same three mutations over the fixture) and
    // aggregate it directly — the MV's incremental refresh must land on
    // exactly this.
    "q_mview_incremental" ->
      """WITH v0 AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderpriority,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS o_cents
        |  FROM orders),
        |v1 AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderpriority,
        |         CASE WHEN o_orderkey % 7 = 0 THEN (o_cents * 11) // 10
        |              ELSE o_cents END AS o_cents
        |  FROM v0 WHERE o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 134217728, o_orderstatus, o_orderpriority, o_cents
        |  FROM v0 WHERE o_orderkey % 11 = 3
        |)
        |SELECT o_orderstatus, o_orderpriority, count(*) AS n_rows,
        |       CAST(sum(o_cents) AS BIGINT) AS sum_cents
        |FROM v1
        |GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "q_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        | CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        | round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) / 100.0, 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // bit-for-bit recompute of the k=3 interleave: z bit j*3+i = bit j
    // of dimension i; disjoint bit positions make SUM equal to OR
    "q_zorder3" ->
      """WITH d AS (SELECT o_orderkey,
        |    CAST(o_custkey AS BIGINT) & 255 AS x0,
        |    CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |      AS BIGINT) & 255 AS x1,
        |    CAST(floor(o_totalprice) AS BIGINT) & 255 AS x2
        |  FROM orders),
        |e AS (SELECT o_orderkey,
        |    SUM((((x0 >> j) & 1) << (j * 3)) +
        |        (((x1 >> j) & 1) << (j * 3 + 1)) +
        |        (((x2 >> j) & 1) << (j * 3 + 2))) AS z3
        |  FROM d, generate_series(0, 7) g(j) GROUP BY o_orderkey)
        |SELECT o_orderkey, CAST(z3 AS BIGINT) AS z3
        |FROM e ORDER BY o_orderkey""".stripMargin,

    // The same 5-stage Morton spread, one CTE per parallel-prefix step.
    "q_zorder" ->
      """WITH d AS (
        |  SELECT o_orderkey,
        |    CAST(o_custkey AS BIGINT) & 4294967295 AS a,
        |    CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) & 4294967295 AS b
        |  FROM orders),
        |t1 AS (SELECT o_orderkey, (a | (a<<16)) & 281470681808895 AS a,
        |                          (b | (b<<16)) & 281470681808895 AS b FROM d),
        |t2 AS (SELECT o_orderkey, (a | (a<<8)) & 71777214294589695 AS a,
        |                          (b | (b<<8)) & 71777214294589695 AS b FROM t1),
        |t3 AS (SELECT o_orderkey, (a | (a<<4)) & 1085102592571150095 AS a,
        |                          (b | (b<<4)) & 1085102592571150095 AS b FROM t2),
        |t4 AS (SELECT o_orderkey, (a | (a<<2)) & 3689348814741910323 AS a,
        |                          (b | (b<<2)) & 3689348814741910323 AS b FROM t3),
        |t5 AS (SELECT o_orderkey, (a | (a<<1)) & 6148914691236517205 AS a,
        |                          (b | (b<<1)) & 6148914691236517205 AS b FROM t4)
        |SELECT o_orderkey, a | (b<<1) AS z FROM t5 ORDER BY o_orderkey""".stripMargin,
  )
}
