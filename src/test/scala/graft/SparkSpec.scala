package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazy), from the
  * engine's one session factory. */
trait SparkSpec extends AnyFunSuite {
  // 4 threads whatever the host: plan-shape assertions must not depend
  // on its core count
  lazy val spark: SparkSession = graft.tools.Harness.session(cpus = 4)

  /** A native function's plan node, as its registry entry builds it. */
  def graftCall(name: String, args: org.apache.spark.sql.catalyst.expressions.Expression*)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    graft.plans.GraftExtensions.functions.find(_.name == name).get.builder(args)

  /** Flatten an executed plan THROUGH adaptive stage boundaries — AQE wraps
    * materialized stages in leaf QueryStageExec nodes, so a plain collect
    * stops at stage edges (the PlanAudit walk, shared by plan-shape specs).
    */
  def flattenExecuted(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      flattenExecuted(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      flattenExecuted(q.plan)
    case other => other +: other.children.flatMap(flattenExecuted)
  }
}
