// Lives under org.apache.spark.sql so it can see the private[sql]
// Column ⇄ Expression converters — the standard technique third-party
// Spark libraries (frameless, delta, sedona, …) use to expose native
// Catalyst expressions as user-facing Columns without a UDF detour.
package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

object SqlBridge {
  /** Wrap a raw Catalyst Expression as a Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)
  /** Unwrap a Column back to its Catalyst Expression. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** Whether the session's jobs carry their own artifact state, so that
    * executors run their tasks in a class loader of that session's own
    * rather than the default one. The session reads
    * `spark.sql.artifact.isolation.enabled` once, lazily: the first call
    * (or the first job) fixes the answer from the value set then. */
  def artifactIsolated(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].artifactManager.state != null
}
