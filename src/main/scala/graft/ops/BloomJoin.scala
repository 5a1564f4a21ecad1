package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._

/** Bloom-prefiltered join — the explicit form of the runtime row-level
  * filtering Spark's own `InjectRuntimeFilter` rule applies when it can:
  * build a Bloom filter over the small side's join keys (one aggregate,
  * O(bits) state), broadcast it, and drop non-matching rows of the huge
  * side BEFORE the join shuffle. At 100 TB the win is shuffle bytes: a
  * selective dimension predicate prunes most fact rows at the scan side
  * of the exchange instead of after it.
  *
  * The filter is only a *might*-contain (false positives pass, false
  * negatives never happen), so it composes with — never replaces — the
  * exact join that follows; results are byte-identical to the unfiltered
  * plan, which is exactly what the q_bloom_join oracle asserts.
  *
  * Uses Spark's native `BloomFilterAggregate` / `BloomFilterMightContain`
  * expressions (keys pre-hashed with xxhash64, as the injected rule does)
  * built directly via ExprBridge — codegen'd, no UDF, no registry names.
  */
object BloomJoin {

  /** Rows of `large` whose `largeKey` might appear in `small.smallKey`.
    * `expectedItems` sizes the filter (bits scale with it; FP rate rises
    * if the true distinct count exceeds it).
    *
    * The filter aggregate runs as its own (distributed) job and the
    * resulting sketch — a few MB — lands on the driver to be re-embedded
    * as a literal: `might_contain` requires a constant/scalar-subquery
    * bloom, and this is the same materialize-then-reuse dance Spark's
    * InjectRuntimeFilter performs via its scalar subquery. The driver
    * never sees row data, only the fixed-size sketch.
    */
  def semiFilter(large: DataFrame, largeKey: String,
      small: DataFrame, smallKey: String, expectedItems: Long): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.ExprBridge
    // backtick-quote key names so columns literally containing dots or
    // backticks resolve as columns, not nested-field paths
    def q(name: String) = col("`" + name.replace("`", "``") + "`")
    val bloomBytes = small
      .agg(ExprBridge.aggColumn(new BloomFilterAggregate(
        new XxHash64(Seq(ExprBridge.expr(q(smallKey)))),
        Literal(expectedItems))).as("b"))
      .head().getAs[Array[Byte]]("b")
    if (bloomBytes == null) large.filter(lit(false)) // empty build side
    else large.filter(ExprBridge.column(BloomFilterMightContain(
      ExprBridge.expr(lit(bloomBytes)),
      new XxHash64(Seq(ExprBridge.expr(q(largeKey)))))))
  }
}
