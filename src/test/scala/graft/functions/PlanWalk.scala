package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Walks the physical plans a piece of code executes, for specs that ban an
  * expression from a pipeline.
  */
object PlanWalk {

  private object plans extends AdaptiveSparkPlanHelper

  /** The `sql` of every expression in `plan` (subqueries included) that
    * `pick` selects.
    */
  def find(plan: SparkPlan)(pick: PartialFunction[Expression, Expression]): Seq[String] =
    plans.collectWithSubqueries(plan) { case p => p }.flatMap(_.expressions)
      .flatMap(_.collect(pick)).map(_.sql)

  /** Every plan executed while `body` runs, plus the plan of its result. */
  def executedPlans(spark: SparkSession)(body: => Option[DataFrame]): Seq[SparkPlan] = {
    val (df, tally) = graft.obs.RunTally(spark) {
      val df = body
      df.foreach(_.collect())
      df
    }
    tally.plans ++ df.map(_.queryExecution.executedPlan)
  }
}
