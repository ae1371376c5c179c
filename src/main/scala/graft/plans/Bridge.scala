package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.ui.SQLAppStatusStore

/** The `private[spark]` / `private[sql]` doorways the engine needs.
  * The custom-operator ladder wraps a LogicalPlan as a DataFrame
  * (`Dataset.ofRows`) and unwraps a Column to its Catalyst Expression —
  * neither has a public equivalent in Spark 4's split API. The run
  * ledger (`graft.tools.Profile`) drains the listener bus before it
  * reads its counters and reads per-operator SQL metrics from the
  * session's status store. This object lives under the
  * `org.apache.spark.sql` namespace solely to reach these members (the
  * standard pattern Spark extension libraries use); nothing else is
  * accessed. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def expr(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Blocks until every event posted so far reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** SQL executions with their plan graphs and per-operator metrics;
    * kept with `spark.ui.enabled=false` too. */
  def sqlStatus(spark: SparkSession): SQLAppStatusStore =
    spark.asInstanceOf[classic.SparkSession].sharedState.statusStore
}
