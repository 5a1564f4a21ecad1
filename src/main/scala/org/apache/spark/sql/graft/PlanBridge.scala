package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The `private[sql]` doorway graft's optimizer extension needs:
  * wrap a Catalyst [[LogicalPlan]] back into a public [[DataFrame]]
  * (`Dataset.ofRows` is sql-private in Spark 4.x). Lives under
  * `org.apache.spark.sql.graft` solely for that access — the standard
  * idiom Spark extension libraries use. The one other internal it
  * reaches is `StructType.asNullable`, for driver-side schema inference.
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** `schema` with every field (nested ones included) nullable — what a
    * file-source relation makes of an inferred data schema.
    */
  def asNullable(schema: StructType): StructType = schema.asNullable
}
