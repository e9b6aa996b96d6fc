package graft.obs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The one listener behind every job pin, plan walk and dev harness: its
  * numbers are final when it returns, and it leaves nothing attached.
  */
class RunTallySpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-runtally-test")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** One job of two stages: 4 map tasks, 3 reduce tasks. */
  private def shuffleJob(): Array[(Int, Int)] =
    spark.sparkContext.parallelize(1 to 100, 4).map(x => (x % 3, x))
      .reduceByKey(_ + _, 3).collect()

  test("job and stage counts are exact when the tally returns") {
    // read at once, no sleep: every stage-completed event of the body's
    // last job must already be counted
    (1 to 5).foreach { i =>
      val (rows, t) = RunTally(spark) { shuffleJob(); shuffleJob() }
      assert(rows.map(_._2).sum == 5050)
      assert(t.jobs == 2, s"round $i: $t")
      assert(t.stages.size == 4 && t.tasks == 14, s"round $i: ${t.stages}")
      assert(t.stages.forall(s => s.wallMs >= 0 && s.runMs >= 0), t.stages.toString)
      assert(t.wallS > 0 && t.stealS >= 0, t.toString)
    }
  }

  test("a body that throws leaves no listener behind") {
    val listeners = org.apache.spark.ListenerCount(spark.sparkContext)
    val e = intercept[IllegalStateException] {
      RunTally(spark) {
        shuffleJob()
        spark.range(10).selectExpr("sum(id)").collect()
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(org.apache.spark.ListenerCount(spark.sparkContext) == listeners)
    // the failed body's events, late or not, land in no later tally
    val (_, t) = RunTally(spark)(spark.sparkContext.parallelize(1 to 10, 2).count())
    assert(t.jobs == 1 && t.stages.size == 1 && t.tasks == 2, t.toString)
    assert(t.plans.isEmpty, t.plans.toString)
  }

  test("the executed plans of the body are captured, in order") {
    object plans extends AdaptiveSparkPlanHelper
    val (_, t) = RunTally(spark) {
      spark.range(10).selectExpr("sum(id)").collect()
      spark.range(5).write.format("noop").mode("overwrite").save()
    }
    assert(t.plans.size == 2, t.plans.mkString("\n"))
    assert(plans.collect(t.plans.head) { case a: HashAggregateExec => a }.nonEmpty,
      t.plans.head.toString)
    assert(!t.plans.last.exists(_.isInstanceOf[HashAggregateExec]), t.plans.last.toString)
    // PlanWalk reads the same list, plus its result's plan
    val walked = graft.functions.PlanWalk.executedPlans(spark)(
      Some(spark.range(7).selectExpr("max(id)")))
    assert(walked.size == 2, walked.mkString("\n"))
  }
}
