package org.apache.spark.sql.graft

import _root_.graft
import org.apache.spark.sql.{classic, execution, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.internal.SQLConf

/** Minimal bridge into Spark's `private[sql]` Column↔Expression seam.
  *
  * Spark 4 hides the classic `new Column(expr)` constructor behind
  * `org.apache.spark.sql.classic.ExpressionUtils`; a package-qualified
  * shim is the standard way for a library to expose its own native
  * Catalyst expressions as user-facing Columns (same access technique
  * Spark's own connectors use). Keep this file tiny: everything else in
  * the engine lives in the public API.
  */
object Bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame (for building custom plans). */
  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** Wrap a custom LogicalPlan back into a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `df` rebound to a sibling of its session that runs without generated
    * code: no whole-stage fusion, and the projection and predicate
    * factories interpreted (either setting alone still compiles). */
  def interpreted(df: DataFrame): DataFrame =
    ofRows(interpretedSibling(df.sparkSession.asInstanceOf[classic.SparkSession]),
      df.queryExecution.analyzed)

  private val Interpreted = Map(
    SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
    SQLConf.CODEGEN_FACTORY_MODE.key -> "NO_CODEGEN")
  /** The last session served and its sibling. */
  private var sibling: (classic.SparkSession, classic.SparkSession) = _

  /** One clone per session (`cloneSession` is private[sql], hence its home
    * here), brought up to the session's runtime conf, execution listeners
    * and experimental rules on every call. Not a clone per call, nor per
    * change: every clone is a new artifact session, and executors load, so
    * compile, generated classes once per artifact session. */
  private def interpretedSibling(of: classic.SparkSession): classic.SparkSession =
    synchronized {
      val s = sibling match {
        case (o, s) if o eq of => s
        case _ => sibling = (of, of.cloneSession()); sibling._2
      }
      val conf = s.sessionState.conf
      val have = conf.getAllConfs
      val want = of.sessionState.conf.getAllConfs ++ Interpreted
      (have.keySet -- want.keySet).foreach(conf.unsetConf)
      want.foreach { case (k, v) => if (!have.get(k).contains(v)) conf.setConfString(k, v) }
      val listeners = of.listenerManager.listListeners().toSeq
      if (s.listenerManager.listListeners().toSeq != listeners) {
        s.listenerManager.clear()
        listeners.foreach(s.listenerManager.register)
      }
      s.experimental.extraStrategies = of.experimental.extraStrategies
      s.experimental.extraOptimizations = of.experimental.extraOptimizations
      s
    }

  /** Planner strategy for graft.plans.AsOfJoinPlan. Lives here because
    * `SparkStrategy`/`planLater` are private[sql] in Spark 4. */
  object AsOfStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[execution.SparkPlan] =
      plan match {
        case graft.plans.AsOfJoinPlan(l, r, lk, rk, lt, rt) =>
          graft.plans.AsOfJoinExec(
            planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
        case _ => Nil
      }
  }
}
