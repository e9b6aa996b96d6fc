package graft.bench

import java.io.File
import java.nio.file.Files
import java.util.concurrent.TimeUnit

import scala.util.control.NonFatal
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.spark.{CleanJob, ExtractJob, PagesTable, SnapshotStore}
import BenchMain.{Args, Check, Layers, Pass}

/** Order-independent result digest: the wrapping sum of a 64-bit hash of
  * each row's canonical text, so partition layout and row order do not
  * matter but every value of every row does.
  */
object Digest {
  def canon(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => s"bytes${b.length}#${MurmurHash3.bytesHash(b)}"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[_] => a.map(canon).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    // toString would render in the JVM's default time zone
    case t: java.sql.Timestamp => s"ts${t.getTime}.${t.getNanos}"
    case other => other.toString
  }

  def rowHash(r: Row): Long = {
    val s = canon(r)
    (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x5be0cd19).toLong & 0xffffffffL)
  }

  /** Evaluates every column of every row (the timed sink) and returns
    * (digest, rows).
    */
  def of(df: DataFrame): (Long, Long) = {
    val sc = df.sparkSession.sparkContext
    val h = sc.longAccumulator("graftbench.digest")
    val n = sc.longAccumulator("graftbench.rows")
    df.foreachPartition { (it: Iterator[Row]) =>
      var s = 0L
      var c = 0L
      it.foreach { r => s += rowHash(r); c += 1 }
      h.add(s); n.add(c)
    }
    (h.value, n.value)
  }

  def hex(d: Long): String = f"$d%016x"
}

object SuiteWorkload {
  /** Query-name prefix -> the graft.ops module it exercises. */
  val Modules: Map[String, String] = Map(
    "q" -> "Relational", "qc" -> "Clustering", "qd" -> "Dedup", "qg" -> "LinkGraph",
    "qm" -> "Multimodal", "qp" -> "Curation", "qs" -> "Similarity",
    "qt" -> "TextAnalysis", "qu" -> "UrlCuration", "qx" -> "ExtractJob")

  def moduleOf(query: String): String = Modules(query.takeWhile(_.isLetter))

  /** Every 24th query of each module in sorted order, from the first: 12 of
    * the 148, every module at least once. A full pass of all 148 takes
    * about 127 s on 4 cores even at sf0.001 (95 s warm), far more than one
    * run can spend.
    */
  val Stride = 24

  def sample(all: Iterable[String]): Vector[String] =
    all.toVector.sorted.groupBy(moduleOf).values
      .flatMap(_.zipWithIndex.collect { case (q, i) if i % Stride == 0 => q })
      .toVector.sorted

  def readPins(f: File): Map[String, (String, Long)] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
      val Array(name, digest, rows) = l.split("\t")
      name -> (digest, rows.toLong)
    }.toMap finally src.close()
  }
}

/** A fixed sample of SparkEntry.queries on the sf0.001 tables; the seed
  * is recorded but changes nothing (the tables are read-only inputs).
  */
final class SuiteWorkload(a: Args) extends Workload {
  import SuiteWorkload._

  private val queries = SparkEntry.queries
  private val names = sample(queries.keys)
  private val pins = readPins(a.digests)
  private val dataDir = a.data.getAbsolutePath

  def prepare(spark: SparkSession): Unit =
    Option(a.data.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .foreach(f => spark.read.parquet(f.getAbsolutePath).count())

  def pass(spark: SparkSession, spans: Spans): Pass = {
    val results = names.map { name =>
      val (outcome, op) = Workload.op(name) {
        spans(s"query:$name") {
          try {
            val df = spans("SparkEntry.build")(queries(name)(spark, dataDir))
            Right(spans("SparkEntry.exec")(Digest.of(df)))
          } catch { case NonFatal(e) => Left(e.toString.linesIterator.next().take(200)) }
        }
      }
      val check = outcome match {
        case Left(err) => Check(name, ok = false, s"error: $err")
        case Right((d, rows)) => pins.get(name) match {
          case None => Check(name, ok = false, s"no pinned digest (got ${Digest.hex(d)} $rows rows)")
          case Some((pd, prows)) =>
            val ok = pd == Digest.hex(d) && prows == rows
            Check(name, ok, s"digest ${Digest.hex(d)} rows $rows" +
              (if (ok) "" else s" != pinned $pd rows $prows"))
        }
      }
      (op, check)
    }
    val ops = results.map(_._1)
    Pass(ops.map(_.seconds).sum, names.size, ops, names.size,
      results.count(!_._2.ok), results.map(_._2))
  }

  def checks(spark: SparkSession): Vector[Check] = Vector.empty

  def layers(spans: Spans, engine: EngineTrace, jobSpan: Map[Int, Int],
      pass: Pass, out: Layers): Unit = {
    val qs = spans.all.filter(_.name.startsWith("query:"))
    qs.groupBy(s => moduleOf(s.name.stripPrefix("query:"))).toSeq.sortBy(_._1)
      .foreach { case (m, ss) =>
        out(s"ops.${m}_s") = (ss.map(_.seconds).sum, "s")
        out(s"ops.$m.jobs") = (jobSpan.values.count(j => ss.exists(s => spans.isUnder(j, s.id))).toDouble, "count")
      }
    out("SparkEntry.build_s") = (spans.named("SparkEntry.build").map(_.seconds).sum, "s")
    out("SparkEntry.exec_s") = (spans.named("SparkEntry.exec").map(_.seconds).sum, "s")
  }
}

/** ExtractJob.run over seeded skew-family pages (Pareto body sizes, about
  * 6.5 KB/doc) into a fresh SnapshotStore, then the resume pass.
  */
final class ExtractWorkload(a: Args) extends Workload {
  val Docs = 10000L
  private val dir = new File(a.work, "extract")
  private val pagesDir = new File(dir, "pages").getAbsolutePath
  private val partitions = a.cpus * 4
  private var passNo = 0
  private var lastStore: Option[SnapshotStore] = None
  private var storeBytes = 0L

  private def generate(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val stride = PagesTable.Families.length
    val skew = PagesTable.Families.indexOf("skew")
    val seed = a.seed
    spark.range(0L, Docs, 1, partitions)
      .map(i => PagesTable.genDoc(i * stride + skew, seed))
      .write.mode("overwrite").parquet(path)
  }

  private def pages(spark: SparkSession, path: String) = {
    import spark.implicits._
    spark.read.parquet(path).as[PagesTable.PageRow]
  }

  def prepare(spark: SparkSession): Unit = generate(spark, pagesDir)

  def pass(spark: SparkSession, spans: Spans): Pass = {
    passNo += 1
    val store = new SnapshotStore(new File(dir, s"store-$passNo").getAbsolutePath)
    val input = pages(spark, pagesDir)
    def extract(runId: String): Either[String, Long] =
      try Right(ExtractJob.run(spark, input, store, runId, partitions))
      catch { case NonFatal(e) => Left(e.toString.linesIterator.next().take(300)) }
    val (first, run) = Workload.op("ExtractJob.run") {
      spans("ExtractJob.run")(extract(s"run-$passNo"))
    }
    val (second, resume) = Workload.op("SnapshotStore.resume") {
      spans("SnapshotStore.resume")(extract(s"resume-$passNo"))
    }
    val n = first.getOrElse(0L)
    // a failed resume pass re-extracts nothing, but counts every doc as failed
    val again = second.getOrElse(Docs)
    storeBytes = Host.duBytes(new File(store.root, "data"))
    lastStore.foreach(s => Host.deleteRecursively(new File(s.root)))
    lastStore = Some(store)
    val checks = Vector(
      Check("extract.docs_extracted", n == Docs, first.fold(e => s"error: $e", n => s"$n of $Docs")),
      Check("extract.resume_extracts_0", again == 0,
        second.fold(e => s"error: $e", n => s"$n docs re-extracted")))
    Pass(run.seconds, Docs, Vector(run), Docs, math.abs(Docs - n) + again, checks,
      Vector(f"resume pass ${resume.seconds}%.3f s"))
  }

  /** The replay sample: the first 64 input pages of this seed. */
  private def replaySample = CoreSample.skewPages(0L until 64L, a.seed)

  def checks(spark: SparkSession): Vector[Check] =
    lastStore.flatMap(_.read(spark)) match {
      case None => Vector(Check("extract.committed_rows", ok = false, "no committed snapshot"))
      case Some(committed) => checkCommitted(committed)
    }

  private def checkCommitted(committed: DataFrame): Vector[Check] = {
    val rows = committed.count()
    val notOk = committed.filter(col("parse_status") =!= "ok").count()
    val sample = replaySample
    val texts = committed.filter(col("url").isin(sample.map(_._1): _*))
      .select("url", "extracted_text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val replayDiff = sample.count { case (url, html) =>
      !texts.get(url).contains(
        CoreReplay.assemble(url, html, new CoreReplay.StageClock).extractedText)
    }
    val stageDiff = CoreReplay.check(sample)
    lastStore.foreach(s => Host.deleteRecursively(new File(s.root)))
    Vector(
      Check("extract.committed_rows", rows == Docs, s"$rows of $Docs"),
      Check("extract.parse_status_ok", notOk == 0, s"$notOk rows not ok"),
      Check("extract.replay_equals_committed", replayDiff == 0,
        s"$replayDiff of ${sample.size} sample docs differ"),
      Check("extract.replay_equals_extractDocument", stageDiff.isEmpty,
        s"${stageDiff.size} of ${sample.size} differ"))
  }

  def layers(spans: Spans, engine: EngineTrace, jobSpan: Map[Int, Int],
      pass: Pass, out: Layers): Unit = {
    val runs = spans.named("ExtractJob.run").map(_.id)
    val jobs = jobSpan.collect { case (j, s) if runs.exists(spans.isUnder(s, _)) => j }.toSet
    val st = engine.stages.collect {
      case (stage, agg) if engine.stageJob.get(stage).exists(jobs) => agg
    }.toVector
    val mb = 1024.0 * 1024.0
    val widest = st.filter(_.taskRunMs.nonEmpty).sortBy(-_.runMs).headOption
    out("ExtractJob.executor_cpu_s") = (st.map(_.cpuNs).sum / 1e9, "s")
    out("ExtractJob.task_skew") = (widest.map { s =>
      val med = Stats.median(s.taskRunMs.map(_.toDouble).toSeq)
      if (med > 0) s.taskRunMs.max / med else 0.0
    }.getOrElse(0.0), "ratio")
    out("ExtractJob.shuffle_write_mb") = (st.map(_.shuffleWriteBytes).sum / mb, "MB")
    out("SnapshotStore.bytes_written_mb") = (storeBytes / mb, "MB")
    out("SnapshotStore.resume_s") = (spans.named("SnapshotStore.resume").map(_.seconds).sum, "s")
  }
}

object CleanWorkload {
  /** CleanJob's stages in run order (each writes `stage_<name>.stats`). */
  val Stages: Vector[String] = Vector("url", "exact", "lsh_pairs", "cc_survivors",
    "quality_gate", "substr", "line_clean", "repetition_gate", "split_assign")
}

/** CleanJob.run over a seeded DocCorpus: planted URL re-crawls, exact and
  * near duplicates, one of each per decade of doc ids.
  */
final class CleanWorkload(a: Args) extends Workload {
  import CleanWorkload.Stages
  val Docs = 2000L
  /** Decade-aligned, so each decade keeps its planted duplicates. */
  private val offset = 10L * Math.floorMod(a.seed, 1000L)
  private val dir = new File(a.work, "clean")
  private val corpusDir = new File(dir, "corpus").getAbsolutePath
  private var passNo = 0
  private var lastStats: Option[CleanJob.CleanStats] = None

  private def generate(spark: SparkSession, n: Long, path: String): Unit =
    CleanJob.DocCorpus.generate(spark, offset + n, a.cpus * 4)
      .filter(col("doc_id") >= offset)
      .write.mode("overwrite").parquet(s"$path/documents.parquet")

  /** Exact duplicates the corpus really holds once URL dedup removed the
    * re-crawls (id % 10 == 9): the planted copies (id % 10 == 7), plus any
    * near dup whose two substituted words happen to restore its base text.
    */
  private var exactExpected = -1L

  def prepare(spark: SparkSession): Unit = {
    generate(spark, Docs, corpusDir)
    val kept = spark.read.parquet(s"$corpusDir/documents.parquet")
      .filter(col("doc_id") % 10 =!= 9)
    exactExpected = kept.count() - kept.select("text").distinct().count()
  }

  def pass(spark: SparkSession, spans: Spans): Pass = {
    passNo += 1
    val out = new File(dir, s"out-$passNo")
    val (stats, run) = Workload.op("CleanJob.run") {
      spans("CleanJob.run") {
        try Right(CleanJob.run(spark, corpusDir, out.getAbsolutePath))
        catch { case NonFatal(e) => Left(e.toString.linesIterator.next().take(300)) }
      }
    }
    // stage intervals come back from the markers CleanJob writes after
    // each stage: end = marker mtime, start = end - the stage's own time
    for (s <- stats; runSpan <- spans.named("CleanJob.run").lastOption; name <- Stages) {
      val marker = new File(out, s"stage_$name.stats").toPath
      if (Files.exists(marker)) {
        val end = Files.getLastModifiedTime(marker).to(TimeUnit.MICROSECONDS)
        spans.add(s"CleanJob.$name", runSpan.id,
          end - (s.stageSecs.getOrElse(name, 0.0) * 1e6).toLong, end)
      }
    }
    Host.deleteRecursively(out)
    stats.foreach(s => lastStats = Some(s))
    val checks = stats match {
      case Left(err) => Vector(Check("clean.run", ok = false, err))
      case Right(s) =>
        val accidental = exactExpected - Docs / 10
        val conserves = s.nFinal == s.nInput - s.urlRemoved - s.exactRemoved -
          s.nearRemoved - s.qualityRemoved && s.nDelivered == s.nFinal - s.lineGated &&
          s.nReleased == s.nDelivered - s.repetitionGated &&
          s.splitTrain + s.splitVal + s.splitTest == s.nReleased
        Vector(
          Check("clean.input_rows", s.nInput == Docs, s"${s.nInput} of $Docs"),
          Check("clean.url_removed", s.urlRemoved == Docs / 10, s"${s.urlRemoved}, planted ${Docs / 10}"),
          Check("clean.exact_removed", s.exactRemoved == Docs / 10 + accidental &&
            accidental >= 0, s"${s.exactRemoved}, planted ${Docs / 10} + $accidental near dups equal to their base"),
          Check("clean.lineage_conserves", conserves,
            s"in ${s.nInput} final ${s.nFinal} delivered ${s.nDelivered} released ${s.nReleased}"))
    }
    // for correctness an operation is a pipeline stage: a failed check
    // fails the stages it covers, a failed run fails all of them; for
    // latency the operation is the whole run (stage times are per-layer)
    val failedStages = if (stats.isLeft) Stages.size else checks.count(!_.ok)
    Pass(run.seconds, Docs, Vector(run), Stages.size, failedStages, checks,
      stats.toOption.toVector.flatMap(s => Stages.map(n =>
        f"CleanJob.$n ${s.stageSecs.getOrElse(n, 0.0)}%.3f s")))
  }

  def checks(spark: SparkSession): Vector[Check] = Vector.empty

  def layers(spans: Spans, engine: EngineTrace, jobSpan: Map[Int, Int],
      pass: Pass, out: Layers): Unit = {
    val secs = lastStats.map(_.stageSecs).getOrElse(Map.empty[String, Double])
    val verified = lastStats.map(_.nearPairs).getOrElse(0L)
    Stages.foreach(n => out(s"CleanJob.${n}_s") = (secs.getOrElse(n, 0.0), "s"))
    out("CleanJob.self_s") = (spans.named("CleanJob.run").map(spans.selfSeconds).sum, "s")
    val root = spans.named("clean.pass").head.id
    val cand = engine.planned.filter(p => spans.isUnder(spans.attribute(-1, p.startMs), root))
      .map(_.candidatePairs).sum
    out("Dedup.lsh_candidate_pairs") = (cand.toDouble, "count")
    out("Dedup.lsh_verified_pairs") = (verified.toDouble, "count")
    out("Dedup.lsh_verify_yield") = (if (cand > 0) verified.toDouble / cand else 0.0, "ratio")
  }
}

/** Writes the pinned suite digests: every SparkEntry query once over the
  * given tables, one `name<TAB>digest<TAB>rows` line each. Pin only from a
  * commit whose outputs pass tools/check_oracle.py.
  */
object PinDigests {
  def main(args: Array[String]): Unit = {
    val Array(cpus, data, out) = args
    val spark = graft.Bench.newSession(cpus.toInt)
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (d, rows) = Digest.of(fn(spark, data))
      s"$name\t${Digest.hex(d)}\t$rows"
    }
    spark.stop()
    val w = new java.io.PrintWriter(out, "UTF-8")
    try {
      w.println("# query\tdigest\trows  (written by graft.bench.PinDigests)")
      lines.foreach(w.println)
    } finally w.close()
  }
}
