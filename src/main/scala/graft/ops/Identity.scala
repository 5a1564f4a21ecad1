package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{IntegerType, MetadataBuilder, StructField, StructType}

/** Identity columns (round-15; the r14 verdict's item 5):
  * `GENERATED ALWAYS | BY DEFAULT AS IDENTITY (START WITH s INCREMENT
  * BY k)` — standard lakehouse DDL served with the engine's own
  * primitives:
  *
  *  - The SPEC lives in `_PROPS` (`graft.identity.<col>` =
  *    `start:step:allowExplicit`), stripped from footers like every
  *    other declaration (the `_PROPS` store is the only truth) and
  *    re-injected as Spark's `IDENTITY_INFO_*` field metadata on the
  *    writable table so DESCRIBE surfaces it.
  *  - The HIGH-WATER MARK (`graft.identity.hwm.<col>` = next unassigned
  *    value) advances under the table's COMMIT LOCK
  *    ([[TableProps.update]] is one serialized load-modify-write):
  *    every writer reserves `nulls × step` BEFORE assigning, so two
  *    CONCURRENT appenders hold disjoint ranges whatever order their
  *    commits (or OCC auto-rebases) land in. A reservation whose write
  *    later fails leaves a GAP — the standard identity contract
  *    (uniqueness, monotone reservation; never density).
  *  - ASSIGNMENT is O(batch), partition-local: one aggregation job
  *    counts rows/nulls per partition (cumulative offsets), then a
  *    row-local pass fills each NULL identity cell with
  *    `base + step × (offset + rank-among-nulls-in-partition)`. A
  *    partition that sees more nulls than its reservation (a
  *    non-deterministic source recomputed differently between the two
  *    jobs) fails LOUDLY — an overrun into unreserved space could
  *    collide with a concurrent writer and must never be silent.
  *
  * NULL is the "assign me" marker: identity columns stay NULLABLE in
  * the stored schema, so an INSERT that omits the column (Spark fills
  * missing columns with NULL) or writes the DEFAULT keyword analyzes
  * to NULL and generation happens in the write funnel. `GENERATED ALWAYS`
  * refuses explicit non-null values; `BY DEFAULT` keeps them verbatim
  * (the user owns collision risk, per the standard). The column is
  * stored nullable (generated values are never null; a declared
  * NOT NULL would null-gate the INSERT before generation runs).
  */
object Identity {

  val Prefix = "graft.identity."
  val HwmPrefix = "graft.identity.hwm."

  final case class Spec(col: String, start: Long, step: Long,
      allowExplicit: Boolean) {
    def encoded: String = s"$start:$step:$allowExplicit"
  }

  private def decode(col: String, s: String): Spec = {
    val parts = s.split(":")
    Spec(col, parts(0).toLong, parts(1).toLong, parts(2).toBoolean)
  }

  /** Declared identity specs of `root`, keyed by lowercase column. */
  def specs(root: String): Seq[Spec] =
    TableProps.load(root).collect {
      case (k, v) if k.startsWith(Prefix) && !k.startsWith(HwmPrefix) =>
        decode(k.stripPrefix(Prefix), v)
    }.toSeq.sortBy(_.col)

  /** Identity declarations in a CREATE's schema (Spark encodes the
    * `GENERATED … AS IDENTITY` clause as `IDENTITY_INFO_*` metadata).
    */
  def fromSchema(schema: StructType): Seq[Spec] =
    schema.fields.toSeq.flatMap { f =>
      org.apache.spark.sql.catalyst.util.IdentityColumn.getIdentityInfo(f)
        .map(i => Spec(f.name.toLowerCase, i.getStart, i.getStep,
          i.isAllowExplicitInsert))
    }

  /** Encode a connector IdentityColumnSpec as the IDENTITY_INFO_* field
    * metadata [[fromSchema]] reads — the TableInfo CREATE door's bridge
    * (`info.schema()`'s conversion drops the spec; `info.columns()`
    * carries it).
    */
  def encodeField(f: StructField,
      s: org.apache.spark.sql.connector.catalog.IdentityColumnSpec): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putLong(org.apache.spark.sql.catalyst.util.IdentityColumn
        .IDENTITY_INFO_START, s.getStart)
      .putLong(org.apache.spark.sql.catalyst.util.IdentityColumn
        .IDENTITY_INFO_STEP, s.getStep)
      .putBoolean(org.apache.spark.sql.catalyst.util.IdentityColumn
        .IDENTITY_INFO_ALLOW_EXPLICIT_INSERT, s.isAllowExplicitInsert)
      .build())

  private val MetaKeys = Seq(
    org.apache.spark.sql.catalyst.util.IdentityColumn.IDENTITY_INFO_START,
    org.apache.spark.sql.catalyst.util.IdentityColumn.IDENTITY_INFO_STEP,
    org.apache.spark.sql.catalyst.util.IdentityColumn
      .IDENTITY_INFO_ALLOW_EXPLICIT_INSERT)

  /** Strip identity metadata from one field (footer hygiene — the
    * `_PROPS` store is the only truth) and force it NULLABLE (NULL is
    * the assign-me marker; see the scaladoc).
    */
  def stripField(f: StructField): StructField = {
    val has = MetaKeys.exists(f.metadata.contains)
    if (!has) f
    else {
      val b = new MetadataBuilder().withMetadata(f.metadata)
      MetaKeys.foreach(b.remove)
      f.copy(nullable = true, metadata = b.build())
    }
  }

  def strip(schema: StructType): StructType = StructType(schema.map(stripField))

  /** Re-annotate the writable table's schema with the identity
    * metadata — the DESCRIBE surface and Spark's identity checks.
    */
  def inject(schema: StructType, root: String): StructType = {
    val sp = specs(root)
    if (sp.isEmpty) return schema
    val byCol = sp.map(s => s.col -> s).toMap
    StructType(schema.map { f =>
      byCol.get(f.name.toLowerCase) match {
        case None => f
        case Some(s) =>
          f.copy(nullable = true, metadata = new MetadataBuilder()
            .withMetadata(f.metadata)
            .putLong(org.apache.spark.sql.catalyst.util.IdentityColumn
              .IDENTITY_INFO_START, s.start)
            .putLong(org.apache.spark.sql.catalyst.util.IdentityColumn
              .IDENTITY_INFO_STEP, s.step)
            .putBoolean(org.apache.spark.sql.catalyst.util.IdentityColumn
              .IDENTITY_INFO_ALLOW_EXPLICIT_INSERT, s.allowExplicit)
            .build())
      }
    })
  }

  /** Reserve `n` values for `spec` under the commit lock; returns the
    * reservation's base (the first value).
    */
  private def reserve(root: String, spec: Spec, n: Long): Long = {
    var base = spec.start
    TableProps.update(root) { p =>
      base = p.get(HwmPrefix + spec.col).flatMap(_.toLongOption)
        .getOrElse(spec.start)
      p + ((HwmPrefix + spec.col) -> (base + n * spec.step).toString)
    }
    base
  }

  /** Fill NULL identity cells of an incoming batch with freshly
    * reserved values; refuse explicit non-null values under
    * `GENERATED ALWAYS`. Identity when the table declares none.
    */
  def assign(df: DataFrame, root: String): DataFrame = {
    val sp = specs(root).filter(s =>
      df.columns.exists(_.equalsIgnoreCase(s.col)))
    if (sp.isEmpty) return df
    val spark = df.sparkSession
    val schema = df.schema
    val ordinals = sp.map(s => schema.fieldNames
      .indexWhere(_.equalsIgnoreCase(s.col))).toArray
    // BOTH passes run over this ONE RDD instance: partition layout of a
    // fresh plan execution is not stable (a LocalRelation may distribute
    // its rows differently per run), but one RDD's recompute replays the
    // same DAG with the same slices
    val stable = df.rdd
    val nOrd = ordinals.length
    // pass 1: rows + per-identity-column non-null counts per partition
    val stat: Map[Int, (Long, Array[Long])] = stable
      .mapPartitionsWithIndex { (pid, it) =>
        var n = 0L
        val nn = new Array[Long](nOrd)
        it.foreach { row =>
          n += 1
          var i = 0
          while (i < nOrd) {
            if (!row.isNullAt(ordinals(i))) nn(i) += 1
            i += 1
          }
        }
        Iterator((pid, (n, nn)))
      }.collect().toMap
    val pids = stat.keys.toSeq.sorted
    // per spec: refuse explicit under ALWAYS; reserve; cumulative offsets
    val perSpec = sp.zipWithIndex.map { case (s, i) =>
      val explicit = pids.map(p => stat(p)._2(i)).sum
      require(s.allowExplicit || explicit == 0,
        s"identity column ${s.col} is GENERATED ALWAYS — explicit values " +
          s"are not allowed ($explicit supplied); omit the column or " +
          "write DEFAULT/NULL to have values assigned")
      val nullsByPid = pids.map(p => p -> (stat(p)._1 - stat(p)._2(i))).toMap
      val total = nullsByPid.values.sum
      val base = if (total == 0) 0L else reserve(root, s, total)
      var acc = 0L
      val offsets = pids.map { p =>
        val o = p -> acc; acc += nullsByPid(p); o
      }.toMap
      (s, base, offsets, nullsByPid)
    }
    if (perSpec.forall(_._4.values.sum == 0)) return df
    val nSpecs = sp.length
    val specSteps = sp.map(_.step).toArray
    val isInt = ordinals.map(o => schema.fields(o).dataType == IntegerType)
    val baseArr = perSpec.map(_._2).toArray
    val offsetMaps = perSpec.map(_._3).toArray
    val budgetMaps = perSpec.map(_._4).toArray
    val rdd = stable.mapPartitionsWithIndex { (pid, it) =>
      val next = Array.tabulate(nSpecs)(i =>
        baseArr(i) + specSteps(i) * offsetMaps(i).getOrElse(pid, 0L))
      val budget = Array.tabulate(nSpecs)(i =>
        budgetMaps(i).getOrElse(pid, 0L))
      val used = new Array[Long](nSpecs)
      it.map { row =>
        var changed = false
        val vals = row.toSeq.toArray
        var i = 0
        while (i < nSpecs) {
          val o = ordinals(i)
          if (row.isNullAt(o)) {
            used(i) += 1
            if (used(i) > budget(i)) throw new IllegalStateException(
              s"identity assignment overran its reservation in partition " +
                s"$pid — the source recomputed non-deterministically " +
                "between counting and assignment; materialize the batch " +
                "(e.g. cache/stage it) and retry")
            vals(o) = if (isInt(i)) next(i).toInt else next(i)
            next(i) += specSteps(i)
            changed = true
          }
          i += 1
        }
        if (changed) Row.fromSeq(vals.toIndexedSeq) else row
      }
    }
    spark.createDataFrame(rdd, schema)
  }
}
