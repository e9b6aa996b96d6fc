package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

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
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        seen.add(qe.executedPlan); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val result = try {
      val df = body
      df.foreach(_.collect())
      org.apache.spark.ListenerBusTestDrain(spark.sparkContext)
      df.map(_.queryExecution.executedPlan)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq ++ result
  }
}
