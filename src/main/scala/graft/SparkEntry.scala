package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are contributed by operator-family modules under
  * [[graft.queries]]; this object only aggregates them. Every key in
  * [[oracleSql]] is DuckDB SQL over the driver-registered fixture views
  * producing the same columns (names included) as the Spark query.
  */
object SparkEntry {

  private val modules: Seq[QueryModule] = Seq(
    Aggregates, Scalars, Joins, Windows, SetSort, EventOps, LlmOps, Subqueries,
    Analytics, ScanOps, Curation, SqlEntry, TpchMore, TableStreamOps, TrainPrepOps,
  )

  /** The session [[Bench]] and [[Verify]] run in: `local[SPARK_GRAFT_CPUS]`
    * (default 4) with the Graft extensions, one shuffle partition per
    * core and a UTC session clock. */
  private[graft] def harnessSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // INT96 (Spark's legacy default) carries NO footer statistics or
      // logical annotation — timestamp columns would be unprunable and
      // unskippable; MICROS is the modern annotated int64 (Delta pins the
      // same). See ops/Stats.scala timestamp-domain notes.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // in-process chmod for the local-FS commit path (no libhadoop in
      // this environment, so the stock FS forks a subprocess per
      // staged-write _temporary dir — see graft.io.FastLocalFileSystem)
      .config("spark.hadoop.fs.file.impl", "graft.io.FastLocalFileSystem")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Flagship query; driver smoke-checks rows>0 on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_join_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2B. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap

  /** DuckDB-equivalent SQL per query (omitted => rows-only check). */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracles).toMap

  /** The BENCH headline subset: BASELINE.md's five measured queries first
    * (kept stable across rounds for honest deltas), then the LLM-pipeline
    * operators (word-count, cosine top-k, MinHash LSH), round-5's MERGE
    * upsert and the SQL-door Q1 twin, round-6's oracled IVF search, and
    * round-7's table-layout surfaces (stats-pruned scan, bucketed
    * co-located join, incremental MV refresh read), and round-8's
    * partition-pruned catalog read, and the appended-table and
    * streamed-table reads — each new surface measured under the
    * driver's bench too. Round 9 adds the metadata-only count (the
    * sub-scan-time floor), the corpus line dedup, and the
    * evolve-then-read partitioned table. Round 13 adds the timestamp-
    * and decimal-pruned SQL reads and the metadata-only freshness probe
    * (min/max ts with zero files opened).
    */
  def benchQueries: Seq[String] = Seq(
    "q_pricing_summary", "q_join_agg", "q_window_topk",
    "q_tumbling_window", "q_distinct_users",
    "q_word_count", "q_cosine_topk", "q_minhash_lsh",
    "q_merge_upsert", "q_sql_pricing", "q_ann_ivf_fixed",
    "q_stats_skipping", "q_bucketed_join", "q_mview_incremental",
    "q_catalog_partitioned", "q_table_append", "q_stream_table_sink",
    "q_bloom_skipping", "q_lm_score", "q_ann_index", "q_trainprep_pipeline",
    "q_ann_pq", "q_catalog_schema_evolution", "q_stream_sql",
    "q_meta_count", "q_line_dedup", "q_partition_evolution", "q_mor_delete",
    "q_mor_update", "q_mor_merge", "q_copy_into", "q_ann_pq_codebook",
    "q_ann_ivf", "q_doc_chunks", "q_span_dedup", "q_dsir_select",
    "q_corpus_shards", "q_bpe_pairs", "q_neardup_index",
    "q_range_binned", "q_scd2_apply", "q_incr_ingest",
    "q_partition_evolution_meta", "q_hidden_partitioning", "q_type_widening",
    "q_cluster_sample", "q_stats_skipping_sql", "q_stats_skipping_ts",
    "q_stats_skipping_dec", "q_meta_count_ts", "q_meta_count_filtered",
    "q_streaming_upsert", "q_meta_count_grouped", "q_meta_sum",
    "q_meta_grouped_range", "q_bpe_train", "q_avro_scan",
    "q_view", "q_purge", "q_ndv", "q_mview_sql", "q_sql_textfns",
    "q_truncate", "q_format_read", "q_spj_join", "q_meta_tables",
    "q_spj_bucket", "q_default_values", "q_spj_mor", "q_spj_days",
    "q_add_default", "q_identity", "q_variant_props", "q_spj_grain",
    "q_merge_evolution", "q_generated_cols", "q_spj_rename",
    "q_generated_merge", "q_format_write", "q_replace_table",
    "q_stream_doors")
    .filter(queries.contains)
}
