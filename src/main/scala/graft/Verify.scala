package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: run only the named queries (local iteration)
    val only = args.drop(2).toSet
    val spark = SparkEntry.harnessSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val res = fn(spark, sfDir)
        // dump TIMESTAMP columns as NTZ: the session writes annotated
        // int64 micros (TIMESTAMP_MICROS, isAdjustedToUTC=true), which
        // DuckDB types TIMESTAMPTZ and the oracle's plain TIMESTAMP
        // would type-mismatch. Under the pinned UTC session the NTZ
        // cast is value-identical (same wall-clock micros the oracle
        // computes) — a dump representation choice, not a semantic one.
        import org.apache.spark.sql.functions.col
        import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
        val dump = res.select(res.schema.fields.map { f =>
          if (f.dataType == TimestampType)
            col(s"`${f.name}`").cast(TimestampNTZType).as(f.name)
          else col(s"`${f.name}`")
        }.toIndexedSeq: _*)
        dump.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
