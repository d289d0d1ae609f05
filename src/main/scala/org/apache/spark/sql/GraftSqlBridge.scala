package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The `private[sql]` bridge: Spark scopes two things graft needs to
  * its own package, and extension libraries conventionally host such a
  * shim inside `org.apache.spark.sql`; everything else in graft lives
  * in its own namespace and uses public APIs only.
  *
  *   - Turning a custom [[LogicalPlan]] node into a user-facing
  *     [[DataFrame]] requires `Dataset.ofRows` (the classic `Dataset`
  *     object is `private[sql]` in Spark 4).
  *   - Grouping on the driver the way the physical aggregate groups
  *     requires its float-key normalization (-0.0 to 0.0, one NaN),
  *     nested fields included.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def normalizeFloats(key: Expression): Expression =
    NormalizeFloatingNumbers.normalize(key)
}
