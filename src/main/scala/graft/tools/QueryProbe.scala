package graft.tools

import graft.{Bench, SparkEntry}
import graft.spark.CleanJob

/** Micro-bench suite queries in isolation: warm the session, run each named
  * query N times against a SF dir through the same noop sink `graft.Bench`
  * times, print per-rep seconds, and optionally the formatted plan — the dev
  * loop for plan-shape/perf work on a single query.
  *
  * `gen:N` in place of the SF dir first writes an N-doc
  * `CleanJob.DocCorpus` (planted exact/near-dup decade bases) as the only
  * table, `documents.parquet`, in a temp dir: the scale input for the
  * documents-only queries, e.g. qd17's simhash pairs or qd15/qd16's
  * winnowing at 10^5–10^6 docs. The session is `Bench.newSession` at
  * local[SPARK_GRAFT_CPUS] (default 32).
  *
  * Usage: `sbt "runMain graft.tools.QueryProbe <name>[,<name>...] [sfDir|gen:N] [reps] [explain]"`
  */
object QueryProbe {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: QueryProbe <queryName>[,<queryName>...] [sfDir|gen:N] [reps] [explain]")
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val doExplain = args.length > 3 && args(3) == "explain"
    val fns = names.map(name => name -> SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name; have: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")))
    val gen = if (sfDir.startsWith("gen:")) {
      val n = sfDir.stripPrefix("gen:").toLongOption
        .filter(_ >= 1).getOrElse(sys.error(s"gen:N needs N >= 1, got $sfDir"))
      Some(n -> java.nio.file.Files.createTempDirectory("graft-probe-gen").toFile)
    } else None
    val spark = Bench.newSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val dir = gen.fold(sfDir) { case (n, tmp) =>
      val t0 = System.nanoTime()
      CleanJob.DocCorpus.generate(spark, n, spark.sparkContext.defaultParallelism)
        .write.parquet(s"$tmp/documents.parquet")
      println(f"[probe] generated $n docs in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      tmp.toString
    }
    spark.range(1000).write.format("noop").mode("overwrite").save()
    // stage-level attribution (same listener shape as ScaleForensics)
    final case class St(name: String, tasks: Int, wallMs: Long, runMs: Long)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            ev: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = ev.stageInfo
          stages.add(St(i.name.linesIterator.next().take(50), i.numTasks,
            (for (c <- i.completionTime; s0 <- i.submissionTime) yield c - s0)
              .getOrElse(-1L),
            i.taskMetrics.executorRunTime))
        }
      })
    try fns.foreach { case (name, fn) =>
      if (doExplain) fn(spark, dir).explain("formatted")
      val times = (1 to reps).map { _ =>
        stages.clear()
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] $name sf=$sfDir reps=" +
        times.map(t => f"$t%.3f").mkString(","))
      import scala.jdk.CollectionConverters._
      stages.asScala.toSeq.sortBy(-_.wallMs).take(8).foreach { s =>
        println(f"[probe-stage] wall=${s.wallMs}%5dms run=${s.runMs}%6dms " +
          f"tasks=${s.tasks}%3d ${s.name}")
      }
    } finally {
      spark.stop()
      gen.foreach { case (_, tmp) => org.apache.commons.io.FileUtils.deleteDirectory(tmp) }
    }
  }
}
