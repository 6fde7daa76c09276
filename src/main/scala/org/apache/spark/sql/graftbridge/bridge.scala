package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's sql-private Column↔Expression converters so graft's
  * native Catalyst expressions can surface as user-facing Columns on
  * Spark 4 (where `new Column(expr)` no longer exists). */
object bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Render a Column's predicate as SESSION-STABLE SQL text (r15):
    * `ExpressionUtils.expression` returns a lazy `ColumnNodeExpression`
    * whose `.sql` is the useless constant "columnnodeexpression()", so
    * run the real converter — `AttributeReference.sql` renders by NAME
    * with no `#<exprId>`, and string literals render quoted. Used for
    * snapshot cache keys that must not churn per session or collide on
    * literal content. */
  def stableSql(c: Column): String =
    classic.ColumnNodeToExpressionConverter(c.node).sql

  /** Wrap a (possibly custom) logical plan as a DataFrame —
    * `Dataset.ofRows` is private[sql] on Spark 4. Used by
    * [[graft.plans.AsOfJoin]] to surface its custom operator node. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until every event posted to the context's listener bus so
    * far has been delivered to every listener — `listenerBus` is
    * spark-private. [[graft.Probe]] reads its job counter after this, so
    * a job-start event still queued when the timed call returns is
    * charged to that call, not to the next one. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Drop a locally checkpointed RDD's blocks without waiting — what
    * `rdd.unpersist(blocking = false)` does, minus its per-call warning
    * that the lineage is gone: [[graft.Cut]] frees a cut only once
    * nothing can read it again. */
  def dropBlocks(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Apply a SparkSessionExtensions' injected functions to an EXISTING
    * session's registry (session bootstrap only consults
    * `spark.sql.extensions` at session creation; tests share one session,
    * so they exercise the same sql-private hook bootstrap calls). */
  def applyInjectedFunctions(ext: org.apache.spark.sql.SparkSessionExtensions,
                             spark: org.apache.spark.sql.SparkSession): Unit =
    ext.registerFunctions(spark.sessionState.functionRegistry)
}
