package graft.obs

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** What one piece of driver code cost Spark: the one place that listens to
  * the scheduler and to query execution. Dev tools print it, specs pin
  * their job counts and walk their executed plans through it.
  *
  * {{{
  * val (rows, t) = RunTally(spark)(df.collect())
  * println(s"${t.jobs} jobs, ${t.tasks} tasks in ${t.wallS} s")
  * }}}
  */
object RunTally {

  /** One completed stage. Times are milliseconds; `wallMs` is submission to
    * completion (-1 when Spark did not record both), the others are sums
    * over the stage's tasks.
    */
  final case class Stage(id: Int, name: String, tasks: Int, wallMs: Long,
      runMs: Long, cpuMs: Long, gcMs: Long, shuffleWriteMs: Long,
      fetchWaitMs: Long, deserializeMs: Long, bytesRead: Long)

  /** `wallS` times the body alone; `stealS` is the host's `/proc/stat`
    * steal over the same span (0 where there is no `/proc/stat`). `stages`
    * are in completion order, `plans` in execution order.
    */
  final case class Tally(wallS: Double, stealS: Double, jobs: Int,
      stages: Seq[Stage], plans: Seq[SparkPlan]) {
    def tasks: Int = stages.map(_.tasks).sum
    def gcS: Double = stages.map(_.gcMs).sum / 1000.0
  }

  /** Runs `body` with one scheduler listener and one query-execution
    * listener attached. The bus is drained before they attach (no earlier
    * action's events are counted) and after `body` (every event of `body`
    * is counted when this returns); both detach even when `body` throws.
    * Counts everything the SparkContext runs meanwhile, so two tallies on
    * one context must not overlap.
    */
  def apply[T](spark: SparkSession)(body: => T): (T, Tally) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val stages = new ConcurrentLinkedQueue[Stage]()
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val scheduler = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.add(stage(e)); ()
      }
    }
    val queries = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    GraftBusDrain(sc)
    sc.addSparkListener(scheduler)
    spark.listenerManager.register(queries)
    try {
      val steal0 = stealSeconds()
      val t0 = System.nanoTime()
      val result = body
      val wallS = (System.nanoTime() - t0) / 1e9
      val stealS = stealSeconds() - steal0
      GraftBusDrain(sc)
      (result, Tally(wallS, stealS, jobs.get(), stages.asScala.toVector, plans.asScala.toVector))
    } finally {
      spark.listenerManager.unregister(queries)
      sc.removeSparkListener(scheduler)
    }
  }

  private def stage(e: SparkListenerStageCompleted): Stage = {
    val i = e.stageInfo
    val m = i.taskMetrics
    Stage(i.stageId, i.name.linesIterator.nextOption().getOrElse("").take(60), i.numTasks,
      (for (c <- i.completionTime; s <- i.submissionTime) yield c - s).getOrElse(-1L),
      m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
      m.shuffleWriteMetrics.writeTime / 1000000L, m.shuffleReadMetrics.fetchWaitTime,
      m.executorDeserializeTime, m.inputMetrics.bytesRead)
  }

  /** Host-wide stolen CPU seconds so far: field 8 of `/proc/stat`'s `cpu`
    * line, in USER_HZ (100 per second).
    */
  private def stealSeconds(): Double = {
    val f = new java.io.File("/proc/stat")
    if (!f.canRead) 0.0
    else {
      val src = scala.io.Source.fromFile(f)
      try {
        val cols = src.getLines().find(_.startsWith("cpu ")).getOrElse("")
          .trim.split("\\s+").drop(1)
        if (cols.length >= 8) cols(7).toDouble / 100.0 else 0.0
      } finally src.close()
    }
  }
}
