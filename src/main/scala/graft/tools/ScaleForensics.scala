package graft.tools

import graft.Bench
import graft.obs.RunTally
import graft.spark.{ExtractJob, PagesTable}

/** Per-stage forensics for the cluster-mode scaling cross-check: runs the
  * same extraction legs as `graft.Bench` (SPARK_GRAFT_SCALE_MODE=cluster,
  * local-cluster[1,4] vs [4,4]) under a [[RunTally]] and prints,
  * per timed stage: wall, summed executor run/cpu/GC time, shuffle
  * write/fetch-wait, task count — the evidence base for the cluster-vs-jvm
  * efficiency gap note in BASELINE.md ("Measured results").
  *
  * Usage: `sbt "runMain graft.tools.ScaleForensics [docs] [reps]"`.
  */
object ScaleForensics {

  def main(args: Array[String]): Unit = {
    val docs = args.headOption.map(_.toInt).getOrElse(48000)
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val corpusDir = s"/tmp/graft_bench_skew_corpus_$docs"
    if (!new java.io.File(s"$corpusDir/_SUCCESS").exists()) {
      val s = Bench.newSession(8)
      import s.implicits._
      val familyStride = PagesTable.Families.length
      val skewIdx = PagesTable.Families.indexOf("skew")
      s.range(0, docs.toLong, 1, 32)
        .map(i => PagesTable.genDoc(i * familyStride + skewIdx))
        .write.mode("overwrite").parquet(corpusDir)
      s.stop()
    }

    // tag "jvm": one local[cores] JVM — the same 16 cores without executor
    // processes or netty shuffle; the topology A/B that splits "multi-JVM
    // overhead" from "shared-host ceiling" (VERDICT r4 #2)
    def leg(nExec: Int, cores: Int, tag: String): Unit = {
      val s = if (tag.startsWith("jvm")) Bench.newSession(cores)
        else Bench.newClusterSession(nExec, cores, 8192)
      import s.implicits._
      try {
        val slots = nExec * cores
        val pages = s.read.parquet(corpusDir).as[PagesTable.PageRow]
        val repart = ExtractJob.skewRepartition(pages.toDF(), slots * 4)
          .as[PagesTable.PageRow]
        val extracted = ExtractJob.extract(repart)
          .map(r => r.parse_status)
          .toDF("parse_status")
          .filter(org.apache.spark.sql.functions.col("parse_status") === "ok")
        extracted.count() // warm-up (JIT, codegen, shuffle files)
        val (n, t) = RunTally(s)(extracted.count())
        println(f"LEG $tag nExec=$nExec rate=${n / t.wallS}%.0f docs/s wall=${t.wallS}%.2fs steal=${t.stealS}%.1f cpu-s")
        t.stages.foreach { l =>
          println(f"  stage ${l.id}%3d ${l.name}%-60s tasks=${l.tasks}%3d wall=${l.wallMs}%6dms " +
            f"run=${l.runMs}%7dms cpu=${l.cpuMs}%7dms gc=${l.gcMs}%5dms shW=${l.shuffleWriteMs}%5dms " +
            f"fetchWait=${l.fetchWaitMs}%5dms deser=${l.deserializeMs}%5dms read=${l.bytesRead / 1048576}%4dMB")
        }
      } finally s.stop()
    }

    // legs: cluster-mode lo (1x4) and hi (4x4) as before, plus the
    // equal-width topology pair — one 16-thread JVM vs four 4-core executor
    // JVMs — which isolates multi-JVM cost (netty shuffle, per-heap GC,
    // page-cache sharing) from plain parallelism
    val legSpec = sys.env.getOrElse("SPARK_GRAFT_FORENSIC_LEGS",
      "lo:1x4,hi:4x4,jvm16:1x16,cl16:1x16")
    for (r <- 1 to reps) {
      println(s"=== rep $r docs=$docs ===")
      legSpec.split(",").foreach { spec =>
        val Array(tag, dims) = spec.split(":")
        val Array(ne, co) = dims.split("x").map(_.toInt)
        leg(ne, co, tag)
      }
    }
  }
}
