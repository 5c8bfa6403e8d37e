package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** The physical plans a query body actually ran.
  *
  * [[capture]] attaches a `QueryExecutionListener`, runs the body, drains
  * the listener bus, and returns the body's result with one plan per
  * action the body executed (each `localCheckpoint`, `head`, `isEmpty`,
  * `collect`, write …), in completion order, followed by the returned
  * frame's own plan. An executed adaptive plan contributes only its final
  * plan, not AQE's "Initial Plan" section, so counting operators in the
  * rendered plans counts each operator once per action; its query stages
  * are replaced by the plans they ran.
  *
  * Lives in this package because draining the bus
  * (`LiveListenerBus.waitUntilEmpty`) is `private[spark]`.
  */
object ExecutedPlans {

  final case class Run(result: DataFrame, plans: Seq[SparkPlan])

  def capture(spark: SparkSession)(body: => DataFrame): Run = {
    val seen = new ConcurrentLinkedQueue[SparkPlan]
    def record(qe: QueryExecution): Unit =
      try { seen.add(finalPlan(qe.executedPlan)); () }
      catch { case _: Throwable => () } // planning itself failed: nothing ran
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        record(qe)
    }
    spark.listenerManager.register(listener)
    try {
      val result = body
      drainListenerBus(spark)
      Run(result, seen.asScala.toSeq :+ finalPlan(result.queryExecution.executedPlan))
    } finally spark.listenerManager.unregister(listener)
  }

  /** Blocks until every event posted so far has reached its listeners. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** `p` with every adaptive node (subqueries included) replaced by the
    * plan it currently runs — the final plan once it has executed — and
    * every query stage by the plan it wraps, so a traversal of the
    * result sees the operators below each stage (a stage is a leaf).
    */
  private def finalPlan(p: SparkPlan): SparkPlan = p.transformDownWithSubqueries {
    case a: AdaptiveSparkPlanExec => finalPlan(a.executedPlan)
    case q: QueryStageExec => finalPlan(q.plan)
  }
}
