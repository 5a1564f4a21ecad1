package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.{Dv, EqDel, Sinks, Stats, TableProps, Transforms}

/** SQL metadata tables (B187, the Iceberg `table.history` /
  * `table.files` / `table.partitions` surface): appending a reserved
  * suffix to a catalog table name reads its OPERATIONAL metadata as an
  * ordinary relation —
  *
  * {{{
  *   SELECT * FROM cat.db.events.history    -- one row per retained version
  *   SELECT * FROM cat.db.events.files      -- live per-file inventory
  *   SELECT * FROM cat.db.events.partitions -- per-partition rollup
  *   SELECT * FROM cat.db.events.tags       -- snapshot tags
  *   SELECT * FROM cat.db.events.detail     -- the DESCRIBE DETAIL row
  * }}}
  *
  * so dashboards, health checks, and retention audits compose with
  * plain SQL (joins, filters, ORDER BY) instead of CALL-door result
  * shapes. Resolution never shadows data: [[GraftCatalog.loadTable]]
  * only falls back here when the FULL identifier is not a published
  * table and the prefix IS — a real table named `history` wins.
  *
  * All five serve driver-side directory/footer metadata (the same
  * [[Sinks.history]]/[[Sinks.files]]/[[Sinks.detail]] surfaces the
  * Scala API exposes) through a [[LocalScan]]: the rows materialize on
  * the driver at scan time — metadata scale by construction, no
  * executor stage, and always CURRENT (each query re-resolves the live
  * version; nothing is cached in the table object).
  */
private[catalog] object GraftMetaTables {

  /** Reserved suffixes. Lowercase-matched; none collide with the
    * layout-reserved names ([[GraftCatalog]]'s validPart) so an
    * existing warehouse cannot contain a same-named TABLE directory
    * created by the engine itself — only a user-created table can
    * shadow these, and it wins.
    */
  val Names: Set[String] = Set("history", "files", "partitions", "tags", "detail")

  def table(displayName: String, root: String, meta: String): Table = {
    val builder: () => DataFrame = meta match {
      case "history" => () => Sinks.history(SparkSession.active, root)
      case "files" => () => Sinks.files(SparkSession.active, root)
      case "partitions" => () => partitionsDf(SparkSession.active, root)
      case "tags" => () => tagsDf(SparkSession.active, root)
      case "detail" => () => Sinks.detail(SparkSession.active, root)
    }
    new MetaTable(displayName, builder)
  }

  private def tagsDf(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    Sinks.listTags(root).toSeq.sorted.toDF("tag", "version")
  }

  /** Per-partition rollup of the LIVE version: one row per identity (or
    * hidden-transform) partition directory with its file count, footer
    * row count, and byte footprint — partition columns surfaced as
    * STRINGS in their on-disk spelling (unescaped; hidden transforms
    * named by their human spec, e.g. `day(ts)`). Unpartitioned tables
    * roll up to one row.
    *
    * Footer rows are PRE-reconciliation, so versions whose reads
    * subtract hidden rows refuse loudly (compact first) rather than
    * over-report — the metadata tier's honesty contract.
    */
  private def partitionsDf(spark: SparkSession, root: String): DataFrame = {
    val live = Sinks.resolve(root)
    require(!Dv.exists(live) && !EqDel.exists(live),
      s"$root: partitions metadata declines under deletion vectors / " +
        "pending equality deletes (footer counts include hidden rows) — " +
        "CALL system.compact first")
    require(!Sinks.hasLayoutLegs(live),
      s"$root: partitions metadata declines on a mixed-layout version " +
        "(partition evolution pending materialization) — CALL system.compact first")
    // zero-row files are schema anchors (an empty CREATE publishes one
    // flat file; carries preserve it) — they must not fabricate a
    // partitionless group, exactly the MetaCountRewrite contract
    val inv = Stats.fileInventory(spark, live).collect()
      .filter(_.getLong(2) > 0L)
    // layout truth from the paths themselves; TableProps names the spec
    val specCols = TableProps.partitionCols(root)
    val colNames = specCols.map(c => Transforms.parse(c).fold(c)(_.spec))
    import spark.implicits._
    if (specCols.isEmpty) {
      Seq((inv.length.toLong, inv.map(_.getLong(2)).sum, inv.map(_.getLong(1)).sum))
        .toDF("n_files", "n_rows", "size_bytes")
    } else {
      val grouped = inv.toSeq.map { r =>
        val segs = r.getString(0).split('/').dropRight(1)
        val values = specCols.map { c =>
          segs.collectFirst {
            case s if s.startsWith(c + "=") =>
              val v = ExternalCatalogUtils.unescapePathName(s.drop(c.length + 1))
              if (v == "__HIVE_DEFAULT_PARTITION__") null else v
          }.getOrElse(throw new IllegalStateException(
            s"$root: file ${r.getString(0)} carries no directory for " +
              s"partition column $c — mixed layout? CALL system.compact"))
        }
        (values, r.getLong(1), r.getLong(2))
      }.groupBy(_._1).toSeq.map { case (values, files) =>
        org.apache.spark.sql.Row.fromSeq(
          values ++ Seq(files.size.toLong, files.map(_._3).sum, files.map(_._2).sum))
      }
      val schema = StructType(
        colNames.map(org.apache.spark.sql.types.StructField(_,
          org.apache.spark.sql.types.StringType, nullable = true)) ++
          Seq(org.apache.spark.sql.types.StructField("n_files",
            org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("n_rows",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("size_bytes",
              org.apache.spark.sql.types.LongType, nullable = false)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(grouped.sortBy(_.toString), 1), schema)
    }
  }

  /** A read-only relation whose rows are computed driver-side at scan
    * time. Schema is resolved once per table object (one cheap metadata
    * pass); rows re-resolve the live state on every scan.
    */
  private final class MetaTable(displayName: String, df: () => DataFrame)
    extends Table with SupportsRead {
    private lazy val schema0: StructType = df().schema
    override def name(): String = displayName
    override def schema(): StructType = schema0
    override def capabilities(): util.Set[TableCapability] =
      Set(TableCapability.BATCH_READ).asJava
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder {
        override def build(): Scan = new LocalScan {
          override def readSchema(): StructType = schema0
          override def rows(): Array[InternalRow] =
            df().queryExecution.executedPlan.executeCollect()
          override def description(): String = s"GraftMetaTable $displayName"
        }
      }
  }
}
