package graft.tools

import graft.{Bench, SparkEntry}
import graft.obs.RunTally
import graft.spark.CleanJob

/** Micro-bench suite queries in isolation: warm the session, run each query
  * whose name starts with one of the given prefixes (sorted by name, so `q`
  * runs them all) N times against a SF dir through the same noop sink
  * `graft.Bench` times, and print per-rep seconds plus the best rep's
  * [[RunTally]]: steal, GC, jobs, stages, tasks and its 8 longest stages.
  * `explain` prints each query's formatted plan first. The dev loop for
  * plan-shape/perf work on a few queries; `graft.Bench` stays the artifact
  * of record.
  *
  * `gen:N` in place of the SF dir first writes an N-doc
  * `CleanJob.DocCorpus` (planted exact/near-dup decade bases) as the only
  * table, `documents.parquet`, in a temp dir: the scale input for the
  * documents-only queries, e.g. qd17's simhash pairs or qd15/qd16's
  * winnowing at 10^5–10^6 docs. The session is `Bench.newSession` at
  * local[SPARK_GRAFT_CPUS] (default 32); a conf A/B passes Spark's own
  * `-Dspark.*` system properties to the run's JVM.
  *
  * Usage: `sbt "runMain graft.tools.QueryProbe <prefix>[,<prefix>...] [sfDir|gen:N] [reps] [explain]"`
  */
object QueryProbe {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: QueryProbe <prefix>[,<prefix>...] [sfDir|gen:N] [reps] [explain]")
    val prefixes = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val doExplain = args.length > 3 && args(3) == "explain"
    val fns = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.exists(n.startsWith) }
    require(fns.nonEmpty, s"no query starts with ${prefixes.mkString(" or ")}; " +
      s"have: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
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
    try fns.foreach { case (name, fn) =>
      spark.sparkContext.setJobDescription(name)
      if (doExplain) fn(spark, dir).explain("formatted")
      val tallies = (1 to reps).map { _ =>
        RunTally(spark)(fn(spark, dir).write.format("noop").mode("overwrite").save())._2
      }
      val best = tallies.minBy(_.wallS)
      println(f"[probe] $name sf=$sfDir reps=" +
        tallies.map(t => f"${t.wallS}%.3f").mkString(","))
      println(f"[probe] $name best ${best.wallS}%.3f s steal ${best.stealS}%.2f " +
        f"gc ${best.gcS}%.2f jobs ${best.jobs}%d stages ${best.stages.size}%d tasks ${best.tasks}%d")
      best.stages.sortBy(-_.wallMs).take(8).foreach { s =>
        println(f"[probe-stage] wall=${s.wallMs}%5dms run=${s.runMs}%6dms " +
          f"cpu=${s.cpuMs}%6dms gc=${s.gcMs}%4dms tasks=${s.tasks}%3d ${s.name}")
      }
    } finally {
      spark.stop()
      gen.foreach { case (_, tmp) => org.apache.commons.io.FileUtils.deleteDirectory(tmp) }
    }
  }
}
