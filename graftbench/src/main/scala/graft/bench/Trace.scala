package graft.bench

import java.time.Instant
import java.time.temporal.ChronoUnit

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval around one call into a layer. Times are epoch
  * microseconds, so spans line up with the engine's millisecond event times.
  */
final case class Span(id: Int, name: String, parent: Int, startUs: Long, endUs: Long) {
  def seconds: Double = (endUs - startUs) / 1e6
  def contains(ms: Long): Boolean = startUs / 1000 <= ms && ms <= (endUs + 999) / 1000
}

object Spans {
  /** Local property naming the open span; Spark copies it into every job the
    * benchmark's thread submits, including the jobs AQE and broadcasts submit.
    */
  val Property = "graft.bench.span"
  def nowUs(): Long = ChronoUnit.MICROS.between(Instant.EPOCH, Instant.now())
}

/** In-memory span recorder for the traced run. `sc == None` records nothing:
  * the timed runs call the same code with tracing off.
  */
final class Spans(sc: Option[SparkContext]) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String, Long)] = Nil
  private var next = 0

  def apply[T](name: String)(body: => T): T = sc match {
    case None => body
    case Some(ctx) =>
      val id = next; next += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      open = (id, name, Spans.nowUs()) :: open
      ctx.setLocalProperty(Spans.Property, id.toString)
      try body
      finally {
        val (_, _, start) = open.head
        open = open.tail
        ctx.setLocalProperty(Spans.Property, open.headOption.map(_._1.toString).orNull)
        done += Span(id, name, parent, start, Spans.nowUs())
      }
  }

  /** Adds a span measured outside the benchmark (a CleanJob stage, whose
    * interval is read back from the job's own stage markers).
    */
  def add(name: String, parent: Int, startUs: Long, endUs: Long): Unit =
    if (sc.isDefined) { done += Span(next, name, parent, startUs, endUs); next += 1 }

  def all: Vector[Span] = done.toVector.sortBy(_.id)

  def named(name: String): Vector[Span] = all.filter(_.name == name)

  def children(id: Int): Vector[Span] = all.filter(_.parent == id)

  /** The span's duration minus the part of it its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = children(s.id).map(k => (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = s.startUs
    kids.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    (s.endUs - s.startUs - covered) / 1e6
  }

  /** Deepest span under `from` (or under the roots) whose interval holds
    * the event time `ms`; among overlapping siblings the later one wins.
    */
  def attribute(from: Int, ms: Long): Int = {
    val byParent = all.groupBy(_.parent)
    @annotation.tailrec
    def descend(id: Int): Int =
      byParent.getOrElse(id, Vector.empty).filter(_.contains(ms))
        .sortBy(_.startUs).lastOption match {
        case Some(k) => descend(k.id)
        case None => id
      }
    descend(from)
  }

  def isUnder(id: Int, ancestor: Int): Boolean = {
    val byId = all.map(s => s.id -> s).toMap
    @annotation.tailrec
    def up(i: Int): Boolean =
      if (i == ancestor) true else byId.get(i) match {
        case Some(s) if s.parent >= 0 => up(s.parent)
        case _ => false
      }
    up(id)
  }

  /** One line per span; `jobs` counts the Spark jobs attributed to the
    * span itself, not to its children.
    */
  def writeJsonLines(path: java.io.File, jobs: Map[Int, Int]): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(Json(scala.collection.immutable.ListMap("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "self_s" -> selfSeconds(s), "jobs" -> jobs.getOrElse(s.id, 0))))
    } finally w.close()
  }
}

/** Engine counters for the traced run: a SparkListener for jobs and tasks
  * and a QueryExecutionListener for planning phases and plan metrics.
  * Each job is attributed to a span through its SQL execution id: the
  * execution's start time, looked up under the span named by the job's
  * local property. The stage call site is not used; jobs AQE submits carry
  * no graft frames in it.
  */
final class EngineTrace extends SparkListener with QueryExecutionListener {

  import EngineTrace._

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stageJob = mutable.Map.empty[Int, Int]
  val stages = mutable.Map.empty[Int, StageAgg]
  val execStartMs = mutable.Map.empty[Long, Long]
  val planned = mutable.ArrayBuffer.empty[Planned]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    jobs += Job(e.jobId, prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      prop(Spans.Property).map(_.toInt).getOrElse(-1), e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
      s.tasks += 1
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.taskRunMs += m.executorRunTime
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execStartMs(s.executionId) = s.time }
    case _ =>
  }

  private def planMs(qe: QueryExecution): (Long, Long) = {
    val phases = qe.tracker.phases.values
    if (phases.isEmpty) (0L, 0L)
    else (phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val (start, ms) = planMs(qe)
    val cand = EngineTrace.candidatePairs(qe.executedPlan)
    synchronized { planned += Planned(start, ms, cand) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
    val (start, ms) = planMs(qe)
    synchronized { planned += Planned(start, ms, 0L) }
  }

  /** Span of each job: its execution's start time (or its own, for jobs
    * outside any SQL execution) resolved under the job's property span.
    */
  def jobSpans(spans: Spans): Map[Int, Int] = synchronized {
    val execProp = jobs.filter(j => j.execId >= 0 && j.span >= 0)
      .groupBy(_.execId).map { case (k, js) => k -> js.minBy(_.id).span }
    jobs.map { j =>
      val from = if (j.span >= 0) j.span else execProp.getOrElse(j.execId, -1)
      val t = if (j.execId >= 0) execStartMs.getOrElse(j.execId, j.timeMs) else j.timeMs
      j.id -> spans.attribute(from, t)
    }.toMap
  }
}

object EngineTrace {
  final case class Job(id: Int, execId: Long, span: Int, timeMs: Long)
  final class StageAgg {
    var tasks = 0L; var cpuNs = 0L; var runMs = 0L; var shuffleWriteBytes = 0L
    var spillBytes = 0L
    val taskRunMs = mutable.ArrayBuffer.empty[Long]
  }
  /** One finished query execution: when planning began, how long the
    * tracker's phases took, and the candidate pairs its plan shuffled.
    */
  final case class Planned(startMs: Long, planMs: Long, candidatePairs: Long)

  private def nodes(p: SparkPlan): Iterator[SparkPlan] = Iterator(p) ++ (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p.children.iterator.flatMap(nodes) ++ p.subqueries.iterator.flatMap(nodes)
  })

  /** Rows through the candidate-pair exchange of the pinned LSH verify
    * (`Dedup.minhashLshPairs` repartitions the distinct (doc_a, doc_b)
    * candidates by number before the Jaccard verify join). The exchange is
    * identified by its origin and output columns; 0 when the plan has none.
    */
  def candidatePairs(plan: SparkPlan): Long =
    nodes(plan).collect {
      case s: ShuffleExchangeExec if s.shuffleOrigin == REPARTITION_BY_NUM &&
          s.output.map(_.name) == Seq("doc_a", "doc_b") => s
    }.toVector.distinct
      .flatMap(_.metrics.get("shuffleRecordsWritten").map(_.value)).sum
}
