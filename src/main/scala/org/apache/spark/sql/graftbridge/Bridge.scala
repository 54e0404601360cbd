package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal accessor for Spark's `private[sql]` Column <-> Expression
  * conversion — the one internal seam a library registering native
  * Catalyst expressions needs. Lives in an `org.apache.spark.sql`
  * subpackage solely to satisfy the access modifier; everything else in
  * this project stays in `graft.*` against public API.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap an analyzed logical subtree back into a DataFrame — what a
    * planner rule does when it rewrites a recognized plan shape (e.g. the
    * streaming rank pattern) into a different operator over the same
    * child.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A child of `spark` — a copy of its conf and temp views over the
    * same SparkContext — whose later conf changes, views and streaming
    * queries stay its own. Spark's StreamExecution clones the session
    * the same way at query start.
    */
  def cloneSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .cloneSession()
}
