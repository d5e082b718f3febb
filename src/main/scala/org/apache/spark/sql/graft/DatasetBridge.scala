package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** LogicalPlan → DataFrame bridge (the [[ColumnBridge]] companion for whole
  * plans).
  *
  * A library that contributes its own logical operator (graft's
  * `TopKPerKeyNode`) needs to hand the analyzer a Dataset over that node;
  * Spark 4 keeps the constructor (`classic.Dataset.ofRows`) `private[sql]`.
  * Same minimal-shim convention as ColumnBridge: compiled into the
  * `org.apache.spark.sql` namespace, touches exactly this one entry point.
  */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}

/** The schema a file-source write stores for `st`: every field nullable,
  * at every depth (`StructType.asNullable` is `private[spark]`). */
object SchemaBridge {
  def asNullable(st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = st.asNullable
}
