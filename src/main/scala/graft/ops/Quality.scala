package graft.ops

import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

/** Data-quality operators for pipeline governance: schema drift between
  * two dataset versions (the silent breaker of long-running ingestion).
  * Column profiling lives in q_profile_orders (Subqueries module).
  */
object Quality {

  /** One drift finding: kind ∈ {added, removed, retyped, renullabled}. */
  case class Drift(kind: String, col_name: String, before: String, after: String)

  /** The same type with every nullability flag (top-level, array
    * containsNull, map valueContainsNull, nested struct fields) forced
    * true — so type comparison sees only genuine retypes. Parquet
    * round-trips loosen nested nullability exactly like top-level.
    */
  private def denull(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f => StructField(f.name, denull(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(denull(a.elementType), containsNull = true)
    case m: MapType => MapType(denull(m.keyType), denull(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Compare two schemas field-by-field (order-insensitive, names
    * case-sensitive as Spark resolution is by default). A field whose
    * type differs only in nullability — at any nesting depth — is
    * `renullabled` (soft), not `retyped` (hard).
    */
  def schemaDrift(before: StructType, after: StructType): Seq[Drift] = {
    val b = before.fields.map(f => f.name -> f).toMap
    val a = after.fields.map(f => f.name -> f).toMap
    val added = (a.keySet -- b.keySet).toSeq.sorted
      .map(n => Drift("added", n, "", a(n).dataType.simpleString))
    val removed = (b.keySet -- a.keySet).toSeq.sorted
      .map(n => Drift("removed", n, b(n).dataType.simpleString, ""))
    val common = (a.keySet & b.keySet).toSeq.sorted
    val retyped = common.filter(n => denull(b(n).dataType) != denull(a(n).dataType))
      .map(n => Drift("retyped", n, b(n).dataType.simpleString, a(n).dataType.simpleString))
    val renull = common.filter(n =>
      denull(b(n).dataType) == denull(a(n).dataType) &&
        (b(n).dataType != a(n).dataType || b(n).nullable != a(n).nullable))
      .map(n => Drift("renullabled", n, b(n).nullable.toString, a(n).nullable.toString))
    added ++ removed ++ retyped ++ renull
  }

  /** Gate: throw unless `actual` is drift-free against `expected`
    * (ignoring nullability, which parquet round-trips loosen).
    */
  def requireCompatible(expected: StructType, actual: StructType): Unit = {
    val hard = schemaDrift(expected, actual).filterNot(_.kind == "renullabled")
    require(hard.isEmpty,
      s"schema drift detected: ${hard.map(d => s"${d.kind}:${d.col_name}").mkString(", ")}")
  }
}
