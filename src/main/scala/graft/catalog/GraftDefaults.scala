package graft.catalog

import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
import org.apache.spark.sql.types.{DataType, MetadataBuilder, StructField, StructType}

import graft.ops.TableProps

/** DEFAULT column values (B190): `CREATE TABLE t (…, b INT DEFAULT 42)`
  * and `ALTER TABLE t ALTER COLUMN b SET/DROP DEFAULT`, honored by every
  * INSERT door — a column list that omits the column, and the explicit
  * `DEFAULT` keyword in VALUES — because Spark's own analyzer fills the
  * literals once the table's schema carries the `CURRENT_DEFAULT` field
  * metadata and the catalog declares `SUPPORT_COLUMN_DEFAULT_VALUE`.
  *
  * Storage: the default's ORIGINAL SQL text in `_PROPS` under
  * `graft.default.<column>` (parquet footers cannot carry field
  * metadata, so the schema the delegate derives is re-annotated at
  * load). Validation is Spark's own
  * [[ResolveDefaultColumns.analyze]] — constant-foldable, no column
  * references, castable to the column type — run at CREATE/ALTER so a
  * bad default fails loudly with no table (or no change) left behind.
  *
  * `ADD COLUMN … DEFAULT` (round-15, lifting the r14 boundary):
  * the one-statement form records an EXISTENCE default alongside the
  * current default — the default expression FOLDED AT ADD TIME (the
  * Iceberg initial-default semantic: `DEFAULT current_date()` pins the
  * ADD date). It rides the version-local added-column marker
  * ([[graft.ops.ColMap.added]]) as `EXISTS_DEFAULT` field metadata, so
  * the parquet readers backfill the column for files that PREDATE the
  * ADD (exactly the files lacking it — post-ADD inserts always
  * materialize their values, explicit NULLs included) while time
  * travel below the ADD commit serves each version's own schema with
  * no column at all. The existence default is immutable by
  * construction: a later SET/DROP DEFAULT changes only future inserts
  * (`CURRENT_DEFAULT` in `_PROPS`), never what pre-ADD files read —
  * their content was fixed when the ADD committed.
  */
private[catalog] object GraftDefaults {

  val Prefix = "graft.default."

  /** Stored defaults of `root`, keyed by lowercase column name. */
  def load(root: String): Map[String, String] =
    TableProps.load(root).collect {
      case (k, v) if k.startsWith(Prefix) => k.stripPrefix(Prefix) -> v
    }

  /** Defaults declared in a CREATE's schema metadata (Spark encodes the
    * `DEFAULT` clause as `CURRENT_DEFAULT` field metadata).
    */
  def fromSchema(schema: StructType): Map[String, String] =
    schema.fields.flatMap { f =>
      if (f.metadata.contains(ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY))
        Some(f.name.toLowerCase -> f.metadata.getString(
          ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY))
      else None
    }.toMap

  /** Spark's own default-expression validation: parseable, analyzable
    * with NO column references, constant-foldable, coercible to the
    * column type. Throws Spark's dedicated errors on violation.
    */
  def validate(colName: String, dt: DataType, sql: String,
      statementType: String): Unit = {
    val f = StructField(colName, dt, nullable = true,
      new MetadataBuilder()
        .putString(ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY, sql)
        .build())
    ResolveDefaultColumns.analyze(f, statementType,
      ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY)
    ()
  }

  /** Validate `sql` as a default for (`colName`: `dt`) and FOLD it to
    * the ADD-time constant an existence default pins (round-15). The
    * returned literal's `.sql` form round-trips through Spark's own
    * existence-default machinery.
    */
  def foldForExistence(colName: String, dt: DataType, sql: String,
      statementType: String): org.apache.spark.sql.catalyst.expressions.Literal = {
    val f = StructField(colName, dt, nullable = true,
      new MetadataBuilder()
        .putString(ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY, sql)
        .build())
    val analyzed = ResolveDefaultColumns.analyze(f, statementType,
      ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY)
    org.apache.spark.sql.catalyst.expressions.Literal(
      analyzed.eval(null), analyzed.dataType)
  }

  /** Re-annotate a (footer-hygiene-stripped) schema with the EXISTENCE
    * defaults the version's added-column marker carries — what makes
    * pre-ADD files read the ADD-time constant instead of NULL. The
    * marker is the only truth; footer echoes were stripped first.
    */
  def injectExistence(schema: StructType, versionDir: String): StructType = {
    val ex = graft.ops.ColMap.added(versionDir).flatMap { f =>
      if (f.metadata.contains(ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY))
        Some(f.name.toLowerCase -> f.metadata.getString(
          ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY))
      else None
    }.toMap
    if (ex.isEmpty) schema
    else StructType(schema.map { f =>
      ex.get(f.name.toLowerCase).fold(f)(sql =>
        f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putString(
            ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY, sql)
          .build()))
    })
  }

  /** Remove any footer-echoed default metadata from one field — the
    * read-door hygiene every schema view applies before (optionally)
    * re-injecting the `_PROPS` truth.
    */
  def stripFieldDefaults(f: StructField): StructField =
    if (!f.metadata.contains(ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY) &&
        !f.metadata.contains(ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY)) f
    else f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .remove(ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY)
      .remove(ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY)
      .build())

  /** Re-annotate a footer-derived schema with the stored defaults —
    * what makes `INSERT INTO t (a) …` and `VALUES (…, DEFAULT)` resolve
    * through Spark's analyzer. The `_PROPS` store is the ONLY truth:
    * any default metadata the parquet footers echo back (an INSERT
    * writes its analyzed schema — metadata included — into the file it
    * lands) is STRIPPED first, or a dropped default would resurrect
    * from the last file written while it was live. CURRENT only; see
    * the scaladoc boundary.
    */
  def inject(schema: StructType, root: String): StructType = {
    val defaults = load(root)
    StructType(schema.map { f =>
      // CURRENT only is re-derived here; an EXISTS_DEFAULT present on
      // the input is MARKER-sourced (round-15 — the snapshot schema
      // already stripped footer echoes and injected the marker truth),
      // so it passes through untouched
      val cleaned = new MetadataBuilder().withMetadata(f.metadata)
        .remove(ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY)
      defaults.get(f.name.toLowerCase) match {
        case Some(sql) => f.copy(metadata = cleaned.putString(
          ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY, sql).build())
        case None => f.copy(metadata = cleaned.build())
      }
    })
  }

  /** Migrate stored per-column declaration keys (defaults AND identity
    * specs/high-water marks — round-15) through a RENAME/DROP COLUMN
    * evolution: renamed columns re-key (constants and counters need no
    * rewrite), dropped columns shed their declarations.
    */
  def migrate(props: Map[String, String], renameMap: Map[String, String],
      dropSet: Set[String]): Map[String, String] = {
    val renamesLower = renameMap.map { case (o, n) => o.toLowerCase -> n }
    val dropsLower = dropSet.map(_.toLowerCase)
    // longest prefix first: graft.identity. is a prefix of graft.identity.hwm.
    val prefixes = Seq(graft.ops.Identity.HwmPrefix, Prefix,
      graft.ops.Identity.Prefix)
    props.flatMap { case (k, v) =>
      prefixes.find(k.startsWith) match {
        case None => Some(k -> v)
        case Some(p) =>
          val colL = k.stripPrefix(p)
          if (dropsLower.contains(colL)) None
          else Some((p + renamesLower.getOrElse(colL, colL).toLowerCase) -> v)
      }
    }
  }
}
