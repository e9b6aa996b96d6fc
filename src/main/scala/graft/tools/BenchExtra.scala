package graft.tools

import org.apache.spark.sql.SparkSession

/** Optimization-round measurement harness (guide §1.4): times a SUBSET of
  * SparkEntry.queries with the same methodology as the frozen Bench.scala
  * (same session config, same noop sink, same sort order), plus per-query
  * /proc/stat steal telemetry so a noisy window can't masquerade as a
  * regression or a win. Optionally dumps .explain("formatted") per query.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.tools.BenchExtra [reps] [query,query,...]"
  *   SPARK_GRAFT_EXPLAIN_DIR=/root/repo/plans/r06 dumps plans (no timing bias:
  *     explain happens AFTER the timed passes).
  *
  * This is NOT the artifact of record — Bench.scala is. BenchExtra exists so
  * the optimize/measure loop can isolate one query at a time (guide §1).
  */
object BenchExtra {

  private def stolenCpuSeconds(): Double = {
    val line = scala.io.Source.fromFile("/proc/stat").getLines()
      .find(_.startsWith("cpu ")).getOrElse("")
    val cols = line.trim.split("\\s+").drop(1)
    if (cols.length >= 8) cols(7).toDouble / 100.0 else 0.0
  }

  /** Cumulative driver GC wall time in seconds (all collectors). */
  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum / 1000.0
  }

  /** `SPARK_GRAFT_SET`'s comma-separated `key=value` session-conf
    * overrides, in order; empty tokens are skipped. A token without `=` or
    * with an empty key throws IllegalArgumentException naming the token.
    */
  def confOverrides(spec: String): Seq[(String, String)] =
    spec.split(",").toSeq.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => k -> v
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_SET: expected key=value, got '$kv'")
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = if (args.length > 0) args(0).toInt else 1
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").map(_.trim).toSet) else None
    val explainDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_SUFFIX", "before")

    val spark = graft.Bench.newSession(cpus)
    // A/B knob for the optimize loop ONLY (guide §1): comma-separated k=v
    // session-conf overrides, e.g. SPARK_GRAFT_SET=spark.sql.codegen.wholeStage=false
    sys.env.get("SPARK_GRAFT_SET").foreach(confOverrides(_).foreach {
      case (k, v) => spark.conf.set(k, v)
    })
    // per-query job/stage/task telemetry (guide §1.5/§7): distinguishes
    // round-latency-bound queries (many tiny jobs) from data-bound ones
    val jobCount = new java.util.concurrent.atomic.AtomicLong(0)
    val stageCount = new java.util.concurrent.atomic.AtomicLong(0)
    val taskCount = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobCount.incrementAndGet(); ()
        }
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stageCount.incrementAndGet()
          taskCount.addAndGet(s.stageInfo.numTasks); ()
        }
      })
    // same cold-start absorption as Bench
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    spark.range(1000).write.format("noop").mode("overwrite").save()

    val qs = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }

    // Stall watchdog (guide §7.3): if a query's rep exceeds 8 s, print the
    // main thread's stack every 4 s so a driver-side stall (planning,
    // codegen, a blocking await) is attributable. Daemon thread; no effect
    // on timing beyond a per-4s volatile read.
    @volatile var repStartNs = Long.MaxValue
    @volatile var repName = ""
    val mainThread = Thread.currentThread()
    val watchdog = new Thread(() => {
      while (true) {
        Thread.sleep(4000)
        val el = (System.nanoTime() - repStartNs) / 1e9
        if (el > 8.0) {
          val st = mainThread.getStackTrace.take(14)
            .map(_.toString).mkString("\n    ")
          println(f"WATCHDOG $repName%s at ${el}%.1f s, main stack:\n    $st")
        }
      }
    })
    watchdog.setDaemon(true)
    watchdog.start()
    val out = new StringBuilder
    out.append("{")
    var first = true
    qs.foreach { case (name, fn) =>
      spark.sparkContext.setJobDescription(name)
      val times = (1 to reps).map { _ =>
        val st0 = stolenCpuSeconds()
        val gc0 = gcSeconds()
        val j0 = jobCount.get(); val sg0 = stageCount.get()
        val tk0 = taskCount.get()
        val t0 = System.nanoTime()
        repName = name; repStartNs = t0
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        repStartNs = Long.MaxValue
        val dt = (System.nanoTime() - t0) / 1e9
        (dt, stolenCpuSeconds() - st0, gcSeconds() - gc0,
          jobCount.get() - j0, stageCount.get() - sg0, taskCount.get() - tk0)
      }
      val best = times.minBy(_._1)
      if (!first) out.append(",")
      first = false
      out.append(f"""\n "$name%s": {"best_sec": ${best._1}%.3f, "steal_cpu_s": ${best._2}%.2f, "all": [${times.map(t => f"${t._1}%.3f").mkString(",")}]}""")
      println(f"TIMED $name%-28s best ${best._1}%8.3f s  steal ${best._2}%6.2f  gc ${times.map(t => f"${t._3}%.2f").mkString("/")}  jobs ${best._4}%d stages ${best._5}%d tasks ${best._6}%d  all [${times.map(t => f"${t._1}%.2f").mkString(", ")}]")
      explainDir.foreach { dir =>
        val f = new java.io.File(dir, s"${name}_$suffix.txt")
        f.getParentFile.mkdirs()
        val w = new java.io.PrintWriter(f)
        try w.println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        finally w.close()
      }
    }
    out.append("\n}")
    println("BENCHEXTRA_JSON " + out.toString.replaceAll("\n", ""))
    spark.stop()
  }
}
