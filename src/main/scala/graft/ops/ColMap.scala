package graft.ops

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Per-version column NAME MAPPING — the Delta-style column-mapping
  * indirection that makes `ALTER TABLE … RENAME COLUMN` a METADATA
  * commit (SURVEY §2B B127 upgrade; round-9 verdict item 2). Without
  * it a rename must rewrite every data file, O(table); with it the
  * rename commit hardlinks every data file and records the new LOGICAL
  * name against the unchanged PHYSICAL name (the name stored in the
  * parquet footers) in a tiny `_COLMAP` marker inside the version dir.
  *
  * Invariants that keep the two namespaces from ever mixing:
  *
  *  - Data files and the `_stats`/`_bloom` skipping sidecars always
  *    speak PHYSICAL names. Linked commits (appends, COW DML, MOR
  *    commits) translate their new rows logical→physical before the
  *    write ([[Sinks]]'s staged-publish path) and carry the marker
  *    forward, so every file of a version shares one physical schema.
  *  - Everything user-facing speaks LOGICAL names: [[Sinks.snapshotRead]]
  *    (the single read funnel) aliases physical→logical right after
  *    the scan, and the SQL route swaps through the same funnel
  *    ([[graft.plans.DvReadRule]]); CHECK constraints and the change
  *    feed are stored in logical names.
  *  - Full rewrites (compaction, plain publishes, ALTERs that rewrite
  *    anyway) write logical names and DROP the marker: physical
  *    converges back to logical, exactly like compaction purging a
  *    deletion vector.
  *  - Old versions keep their own markers (or none), so time travel
  *    reads every version under the names it had when committed.
  *
  * Partition columns are NOT mappable here — their physical name is a
  * directory component, so renaming one stays a rewrite (documented in
  * [[graft.catalog.GraftCatalog]]'s evolveSchema).
  */
object ColMap {

  /** Marker file inside a version dir: java-Properties lines of
    * `logical=physical`, only for columns whose names differ — plus
    * DROP tombstones as `__graft_dropped.<n>=<physical>` entries
    * (a physical column present in the files but bound to NO logical
    * name; [[toLogical]] discards it at the read funnel, which is what
    * makes `ALTER TABLE … DROP COLUMN` a metadata-only hardlink commit
    * like RENAME — the Delta column-mapping drop). Compaction and any
    * full rewrite purge tombstoned bytes for real (they write the
    * logical schema fresh and drop the marker).
    */
  val MarkerFile = "_COLMAP"

  private val DroppedKeyPrefix = "__graft_dropped."

  private val AddedKeyPrefix = "__graft_added."

  private val WidenedKeyPrefix = "__graft_widened."

  /** Reject logical column names that collide with the marker's
    * reserved key prefixes: a rename/add to such a name would write a
    * marker line that [[load]]/[[dropped]]/[[added]] misclassify —
    * silently hiding the column (or inventing a tombstone) on every
    * later read. Enforced in [[write]] (so no staged commit can land
    * one) and callable by the catalog's ALTER paths for an early, loud
    * statement-level failure.
    */
  def requireValidLogical(name: String): Unit =
    require(!name.startsWith(DroppedKeyPrefix) && !name.startsWith(AddedKeyPrefix) &&
        !name.startsWith(WidenedKeyPrefix),
      s"column name '$name' collides with the reserved $MarkerFile marker " +
        s"prefixes ($DroppedKeyPrefix*, $AddedKeyPrefix*, $WidenedKeyPrefix*) " +
        "— choose another name")

  def exists(dir: String): Boolean =
    Files.exists(Paths.get(dir, MarkerFile))

  private def loadRaw(dir: String): Map[String, String] = {
    val p = Paths.get(dir, MarkerFile)
    if (!Files.exists(p)) Map.empty
    else {
      val props = new java.util.Properties()
      val in = Files.newInputStream(p)
      try props.load(in) finally in.close()
      import scala.jdk.CollectionConverters._
      props.stringPropertyNames().asScala.map(k => k -> props.getProperty(k)).toMap
    }
  }

  /** logical -> physical; empty when the version is unmapped. DROP
    * tombstones and ADD records are NOT logical mappings and never
    * appear here — use [[dropped]] / [[added]].
    */
  def load(dir: String): Map[String, String] =
    loadRaw(dir).filterNot(e => e._1.startsWith(DroppedKeyPrefix) ||
      e._1.startsWith(AddedKeyPrefix) || e._1.startsWith(WidenedKeyPrefix))

  /** PHYSICAL names of columns dropped metadata-only under `dir`:
    * present in the data files, bound to no logical name, discarded by
    * [[toLogical]] and excluded from sidecar-column inheritance.
    */
  def dropped(dir: String): Set[String] =
    loadRaw(dir).collect { case (k, p) if k.startsWith(DroppedKeyPrefix) => p }.toSet

  /** Columns ADDED metadata-only under `dir` (name + type, insertion
    * order): absent from (some or all) data files; [[Sinks.readSchemaFor]]
    * appends them to the read schema, so parquet serves NULL for files
    * that predate the ADD and real values from files written after —
    * the Delta metadata-only ADD COLUMN. Stored as `name TYPE` DDL.
    */
  def added(dir: String): Seq[org.apache.spark.sql.types.StructField] =
    loadRaw(dir).collect {
      case (k, ser) if k.startsWith(AddedKeyPrefix) =>
        // round-15: fields carrying metadata (ADD COLUMN … DEFAULT's
        // existence default) serialize as schema JSON; the legacy
        // metadata-less form stays `name TYPE` DDL
        val f =
          if (ser.trim.startsWith("{"))
            org.apache.spark.sql.types.DataType.fromJson(ser)
              .asInstanceOf[org.apache.spark.sql.types.StructType].fields.head
          else org.apache.spark.sql.types.StructType.fromDDL(ser).fields.head
        (k.stripPrefix(AddedKeyPrefix).toInt, f)
    }.toSeq.sortBy(_._1).map(_._2)

  /** Columns WIDENED metadata-only under `dir` (B162): PHYSICAL name →
    * declared wide type. Files written before the widen keep their
    * narrow footers; [[Sinks.readSchemaFor]] pins the wide type and the
    * parquet reader upcasts per file (byte→short→int→long,
    * float→double — every stored value preserved exactly). Files
    * written after carry the wide type physically. Compaction (any
    * full rewrite) materializes and sheds the entry.
    */
  def widened(dir: String): Map[String, org.apache.spark.sql.types.DataType] =
    loadRaw(dir).collect {
      case (k, ddl) if k.startsWith(WidenedKeyPrefix) =>
        val f = org.apache.spark.sql.types.StructType.fromDDL(ddl).fields.head
        f.name -> f.dataType
    }

  /** Apply `dir`'s widen overrides to a read schema (case-insensitive
    * on physical names; identity when none).
    */
  def applyWidened(dir: String,
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    val w = widened(dir)
    if (w.isEmpty) schema
    else org.apache.spark.sql.types.StructType(schema.map { f =>
      w.collectFirst { case (n, t) if n.equalsIgnoreCase(f.name) => t }
        .fold(f)(t => f.copy(dataType = t))
    })
  }

  /** Write the marker into a STAGED version dir (identity rename
    * entries dropped; an all-identity map with no tombstones, adds, or
    * widens writes nothing, so a chain of renames that lands back on
    * the physical names converges to unmapped).
    */
  def write(stageDir: Path, map: Map[String, String],
      droppedPhys: Set[String] = Set.empty,
      addedCols: Seq[org.apache.spark.sql.types.StructField] = Nil,
      widenedCols: Map[String, org.apache.spark.sql.types.DataType] = Map.empty): Unit = {
    map.keys.foreach(requireValidLogical)
    addedCols.foreach(f => requireValidLogical(f.name))
    widenedCols.keys.foreach(requireValidLogical)
    val effective = map.filterNot { case (l, p) => l == p }
    if (effective.isEmpty && droppedPhys.isEmpty && addedCols.isEmpty &&
      widenedCols.isEmpty) return
    val props = new java.util.Properties()
    effective.foreach { case (l, p) => props.setProperty(l, p) }
    droppedPhys.toSeq.sorted.zipWithIndex.foreach { case (p, i) =>
      props.setProperty(s"$DroppedKeyPrefix$i", p) }
    addedCols.zipWithIndex.foreach { case (f, i) =>
      props.setProperty(s"$AddedKeyPrefix$i",
        if (f.metadata == org.apache.spark.sql.types.Metadata.empty)
          org.apache.spark.sql.types.StructType(Seq(f)).toDDL
        else org.apache.spark.sql.types.StructType(Seq(f)).json) }
    widenedCols.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((n, t), i) =>
      props.setProperty(s"$WidenedKeyPrefix$i",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(n, t))).toDDL) }
    Files.createDirectories(stageDir)
    val out = Files.newOutputStream(stageDir.resolve(MarkerFile))
    try props.store(out, "graft column mapping: logical=physical")
    finally out.close()
  }

  /** Carry the marker from a live version into a staged linked commit. */
  def carry(liveDir: Path, stageDir: Path): Unit = {
    val src = liveDir.resolve(MarkerFile)
    if (Files.exists(src)) {
      Files.createDirectories(stageDir)
      Files.copy(src, stageDir.resolve(MarkerFile))
    }
  }

  /** The physical name of logical column `name` under `dir`'s mapping
    * (case-insensitive lookup, identity when unmapped).
    */
  def toPhysicalName(dir: String, name: String): String = {
    val m = load(dir)
    m.collectFirst { case (l, p) if l.equalsIgnoreCase(name) => p }.getOrElse(name)
  }

  /** The logical name of physical column `name` under `dir`'s mapping. */
  def toLogicalName(dir: String, name: String): String = {
    val m = load(dir)
    m.collectFirst { case (l, p) if p.equalsIgnoreCase(name) => l }.getOrElse(name)
  }

  /** Alias a frame read from `dir`'s PHYSICAL files to LOGICAL names,
    * DISCARDING tombstoned (metadata-dropped) physical columns — the
    * projection Catalyst prunes from the scan, so a dropped column's
    * bytes are never read. Non-mapped columns (including injected ones
    * like `_change_type`) pass through untouched.
    */
  def toLogical(df: DataFrame, dir: String): DataFrame =
    logicalNames(dir, df.columns.toSeq).fold(df)(names =>
      df.select(names.map { case (c, l) =>
        if (c == l) col(s"`$c`") else col(s"`$c`").as(l)
      }.toIndexedSeq: _*))

  /** [[toLogical]] over a schema: the same drops and renames, no frame. */
  def toLogicalSchema(schema: StructType, dir: String): StructType =
    logicalNames(dir, schema.fieldNames.toSeq).fold(schema) { names =>
      val byName = schema.fields.map(f => f.name -> f).toMap
      StructType(names.map { case (c, l) => byName(c).copy(name = l) })
    }

  /** Each kept physical name paired with its logical name; None when
    * `dir` is unmapped (nothing renamed or dropped).
    */
  private def logicalNames(dir: String,
      physical: Seq[String]): Option[Seq[(String, String)]] = {
    val m = load(dir)
    val gone = dropped(dir).map(_.toLowerCase)
    if (m.isEmpty && gone.isEmpty) None
    else {
      val physToLogical = m.map { case (l, p) => p.toLowerCase -> l }
      Some(physical.filterNot(c => gone.contains(c.toLowerCase))
        .map(c => c -> physToLogical.getOrElse(c.toLowerCase, c)))
    }
  }

  /** Rename a LOGICAL-named frame to `dir`'s PHYSICAL names before a
    * linked write, so new data files share the carried files' footer
    * schema. Columns outside the mapping pass through.
    */
  def toPhysical(df: DataFrame, dir: String): DataFrame = {
    val m = load(dir)
    if (m.isEmpty) df
    else df.select(df.columns.toIndexedSeq.map(c =>
      m.collectFirst { case (l, p) if l.equalsIgnoreCase(c) => col(s"`$c`").as(p) }
        .getOrElse(col(s"`$c`"))): _*)
  }
}
