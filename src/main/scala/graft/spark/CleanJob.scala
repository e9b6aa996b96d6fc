package graft.spark

import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftCheckpoint, Observation,
  SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Tables, TextAnalysis}

/** The composed corpus-cleaning pipeline — the ops library's individual
  * passes (canonical-URL dedup -> exact dedup -> MinHash-LSH near-dup pairs
  * -> connected-component clustering -> quality-aware survivorship ->
  * quality gate -> exact-substring span removal -> C4 line-level cleaning)
  * chained the way a production training-data job runs them, with per-stage
  * lineage counts. URL dedup runs FIRST (the cheapest key), so re-crawled
  * pages never reach the shingling/LSH stages at all; the substring REWRITE
  * and the line-level battery run LAST, on the smallest table (the
  * RefinedWeb order for the rewrite; see the stage-6 note on line order).
  *
  * Two design points the suite queries can't show on their own:
  *
  *  - STAGE ORDER IS LOAD-BEARING: exact dedup runs FIRST, so the LSH stage
  *    never sees a k-member exact-dup group (which would put k docs in every
  *    band bucket and cost k^2 candidates per band — the documented hot-band
  *    hazard of minhashLshPairs). The pipeline IS the qd1-before-qd7
  *    contract, executed.
  *  - STAGES CHECKPOINT THROUGH THE STORE: each major stage writes parquet
  *    and the next reads it back (at scale: an Iceberg table per stage).
  *    That bounds lineage, makes every stage independently resumable and
  *    auditable, and matches how multi-day cleaning jobs actually survive
  *    preemption — the extraction job's MERGE/resume story, applied to
  *    cleaning. A stage's row count comes from the footers of the parquet
  *    files its write produced ([[writtenRows]]), not from a Spark job over
  *    the re-read table, so the lineage checks still audit what landed on
  *    disk without paying a read-back per stage.
  *  - ONE WRITE PER STAGE: every stage reads its input through
  *    [[graft.ops.Tables.parquet]] (no schema-inference job) and writes one
  *    frame derived from it. The per-row tallies a stage reports (gated
  *    docs, dropped lines, rewritten docs, split sizes) are observed on that
  *    write ([[writeObserved]]); kept counts still come from the written
  *    footers, so each lineage check compares two independent counts.
  */
object CleanJob {

  /** Deterministic documents-table generator with a CONTROLLED duplicate
    * structure (pure function of the row index, SplitMix64 — no RNG, per
    * the determinism invariant). Per decade of ids [10k, 10k+9]:
    * id%10==7 is an EXACT copy of the decade base (10k), id%10==8 is a
    * NEAR dup of the base (2 words substituted), id%10==5 is fresh text
    * carrying the fixed 12-word BOILERPLATE tail (the cross-document
    * duplicated span the substring stage must cut — otherwise-distinct
    * docs that no document-level dedup catches), everything else is fresh
    * text of 30-79 words over a 64-word vocabulary. So n docs carry n/10
    * exact dups, n/10 near dups, and n/10 boilerplate carriers, each with
    * known membership.
    */
  object DocCorpus {
    final case class DocRow(doc_id: Long, url: String, text: String,
        lang: String, source: String, n_chars: Long)

    private val Vocab: Vector[String] = Vector(
      "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
      "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi",
      "rho", "sigma", "tau", "upsilon", "phi", "chi", "psi", "omega",
      "spark", "shuffle", "partition", "broadcast", "catalyst", "tungsten",
      "parquet", "iceberg", "column", "row", "batch", "stream", "window",
      "join", "filter", "project", "scan", "sort", "merge", "hash",
      "corpus", "token", "gram", "sketch", "sample", "bucket", "band",
      "cluster", "quality", "lineage", "snapshot", "commit", "resume",
      "vector", "cosine", "index", "probe", "code", "scale", "graft")
    require(Vocab.length == 64)

    private val Langs = Vector("en", "fr", "de", "es", "pt")

    /** The planted cross-document boilerplate: a fixed 12-token run every
      * id%10==5 doc carries. 12 >= the substring stage's minLen (8), and
      * the flanking 5-grams mix in doc-specific words, so the stage must
      * cut EXACTLY these 12 tokens from every surviving carrier.
      */
    private[spark] val Boilerplate: Array[String] = Array(
      "snapshot", "commit", "resume", "lineage", "quality", "cluster",
      "bucket", "band", "sketch", "sample", "probe", "index")

    private final class Rng(var state: Long) {
      def nextLong(): Long = {
        state += 0x9e3779b97f4a7c15L
        var z = state
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^ (z >>> 31)
      }
      def nextInt(bound: Int): Int =
        (Math.floorMod(nextLong(), bound.toLong)).toInt
    }

    private def freshWords(id: Long): Array[String] = {
      val rng = new Rng(id * 0x5851f42d4c957f2dL + 0x14057b7ef767814fL)
      val n = 30 + rng.nextInt(50)
      Array.fill(n)(Vocab(rng.nextInt(Vocab.length)))
    }

    private[spark] def genDoc(id: Long): DocRow = {
      val decadeBase = id - (id % 10)
      val words = (id % 10) match {
        case 7 => freshWords(decadeBase) // exact copy of the base doc
        case 8 => // near dup: substitute 2 words at seeded positions
          val w = freshWords(decadeBase)
          val rng = new Rng(id * 0x2545f4914f6cdd1dL + 0x9e3779b97f4a7c15L)
          w(rng.nextInt(w.length)) = Vocab(rng.nextInt(Vocab.length))
          w(rng.nextInt(w.length)) = Vocab(rng.nextInt(Vocab.length))
          w
        case 5 => freshWords(id) ++ Boilerplate
        case _ => freshWords(id)
      }
      val text = words.mkString(" ")
      val rng = new Rng(id + 0xdeadbeefL)
      DocRow(id, genUrl(id), text, Langs(rng.nextInt(Langs.length)),
        s"src${id % 20}", text.length.toLong)
    }

    /** Planted raw URL per doc: one host per ~100 decades, a unique path
      * per doc — EXCEPT id%10==9, which re-crawls the decade base's URL
      * (same canonical form under mixed case + a tracking param, different
      * raw bytes). So stage 0's canonical-URL keep-first removes exactly
      * the 9s and nothing else: the 7s/8s keep distinct URLs so the
      * exact/near text-dedup structure downstream is preserved — URL dedup
      * and text dedup catch DIFFERENT planted populations, as in a real
      * crawl. Noise families (fragment, tracking param) on other residues
      * keep the canonicalizer honest without creating collisions.
      */
    private[spark] def genUrl(id: Long): String = {
      val decadeBase = id - (id % 10)
      val h = (decadeBase / 10) % 997
      (id % 10) match {
        case 9 =>
          s"HTTPS://H$h.EXAMPLE.COM/d/$decadeBase/$decadeBase?utm_source=recrawl"
        case 3 => s"https://h$h.example.com/d/$decadeBase/$id#frag"
        case 5 => s"https://h$h.example.com/d/$decadeBase/$id?utm_medium=feed"
        case _ => s"https://h$h.example.com/d/$decadeBase/$id"
      }
    }

    def generate(spark: SparkSession, n: Long,
        partitions: Int): Dataset[DocRow] = {
      import spark.implicits._
      spark.range(0, n, 1, partitions).as[Long].mapPartitions(_.map(genDoc))
    }

    /** Ingest-batch doc for the incremental-admission demo: FRESH ids
      * (corpusN + j) whose TEXT has a controlled relationship to a corpus
      * of `corpusN` [[genDoc]] rows — j%3==0 an exact copy of a corpus
      * decade-base doc, j%3==1 a 2-word near variant of one (substitutions
      * seeded by the batch id, so it equals no corpus doc exactly), j%3==2
      * fresh text. So a batch of m docs carries ~m/3 known exact dups,
      * ~m/3 known near dups, ~m/3 admissible novelty.
      */
    private[graft] def genBatchDoc(corpusN: Long, j: Long): DocRow = {
      val nDecades = math.max(corpusN / 10, 1L)
      val base = (j % nDecades) * 10
      val id = corpusN + j
      val words = (j % 3) match {
        case 0 => freshWords(base)
        case 1 =>
          val w = freshWords(base)
          val rng = new Rng(id * 0x9e3779b97f4a7c15L + 0x2545f4914f6cdd1dL)
          w(rng.nextInt(w.length)) = Vocab(rng.nextInt(Vocab.length))
          w(rng.nextInt(w.length)) = Vocab(rng.nextInt(Vocab.length))
          w
        case _ => freshWords(id)
      }
      val text = words.mkString(" ")
      val rng = new Rng(id + 0xdeadbeefL)
      // ingest batches arrive from fresh URLs: admission is content-keyed
      DocRow(id, s"https://b${id % 991}.example.com/b/$id", text,
        Langs(rng.nextInt(Langs.length)),
        s"src${id % 20}", text.length.toLong)
    }

    private[graft] def generateBatch(spark: SparkSession, corpusN: Long,
        m: Long, partitions: Int): Dataset[DocRow] = {
      import spark.implicits._
      spark.range(0, m, 1, partitions).as[Long]
        .mapPartitions(_.map(j => genBatchDoc(corpusN, j)))
    }
  }

  /** Rows in the parquet table at `path`, summed from the footers of its
    * data files ([[graft.ops.Tables.dataFiles]], the listing the table
    * reader uses) on the driver — no Spark job.
    */
  private[spark] def writtenRows(spark: SparkSession, path: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    Tables.dataFiles(spark, path).map { st =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Overwrite `path` with `df` as parquet; the rows written. */
  private def writeCounted(df: DataFrame, path: String): Long = {
    df.write.mode("overwrite").parquet(path)
    writtenRows(df.sparkSession, path)
  }

  /** Overwrite `path` with `keep(df)`, observing `tallies` (long aggregates)
    * over `df`'s rows on that same write job, through an `Observation` made
    * for this call. Returns the rows written (footers) and the tallies.
    */
  private def writeObserved(df: DataFrame, path: String, tallies: Column*)(
      keep: DataFrame => DataFrame): (Long, Map[String, Long]) = {
    val o = Observation()
    val n = writeCounted(keep(df.observe(o, tallies.head, tallies.tail: _*)), path)
    (n, o.get.map { case (k, v) => k -> v.asInstanceOf[Long] })
  }

  /** `rows` with the stage input's columns (`in`), its `text` replaced by
    * `clean_text` and `n_chars` recomputed, both moved last: the layout the
    * rewrite stages have always written.
    */
  private def withCleanText(in: DataFrame, rows: DataFrame): DataFrame =
    rows.select(in.columns.toSeq.filterNot(Set("text", "n_chars")).map(col) ++ Seq(
      col("clean_text").as("text"),
      length(col("clean_text")).cast("long").as("n_chars")): _*)

  final case class CleanStats(
      nInput: Long,
      urlRemoved: Long,
      exactRemoved: Long,
      nearPairs: Long,
      nearClusters: Long,
      nearRemoved: Long,
      qualityRemoved: Long,
      nFinal: Long,
      substrRewritten: Long = 0L,
      substrTokensRemoved: Long = 0L,
      lineGated: Long = 0L,
      lineLinesDropped: Long = 0L,
      nDelivered: Long = 0L,
      repetitionGated: Long = 0L,
      nReleased: Long = 0L,
      splitTrain: Long = 0L,
      splitVal: Long = 0L,
      splitTest: Long = 0L,
      stageSecs: Map[String, Double] = Map.empty)

  /** Run the staged pipeline over `corpusDir/documents.parquet`, writing
    * stage outputs under `outDir`. Returns lineage counts (which must
    * conserve: nFinal == nInput - exactRemoved - nearRemoved -
    * qualityRemoved, asserted here so a silently-lossy stage cannot ship).
    *
    * `resume = true` makes the run RESUMABLE at stage granularity — the
    * preemption-survival story multi-day cleaning jobs need: each stage
    * writes its parquet output first and a tiny stats marker
    * (`stage_<name>.stats`, java.util.Properties) AFTER the write lands,
    * so a kill mid-stage leaves no marker and the stage recomputes
    * idempotently (mode=overwrite), while completed stages are skipped
    * (their lineage numbers come from the marker; stageSecs records 0.0).
    * Each marker also records the stage's INPUT row count: resuming
    * against a different upstream (e.g. a regenerated corpus of another
    * size) invalidates the marker instead of serving stale outputs.
    */
  def run(spark: SparkSession, corpusDir: String, outDir: String,
      lshThreshold: Double = 0.5, minQuality: Double = 0.35,
      resume: Boolean = false): CleanStats = {
    val stageSecs = scala.collection.mutable.LinkedHashMap[String, Double]()
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      stageSecs(name) = (System.nanoTime() - t0) / 1e9
      r
    }
    // stage wrapper: marker-gated skip on resume, marker write on success
    def stage(name: String, input: Long)(body: => Map[String, Long]): Map[String, Long] = {
      val f = new java.io.File(s"$outDir/stage_$name.stats")
      val cached: Option[Map[String, Long]] =
        if (resume && f.exists()) {
          val p = new java.util.Properties()
          val in = new java.io.FileInputStream(f)
          try p.load(in) finally in.close()
          import scala.jdk.CollectionConverters._
          val m = p.stringPropertyNames().asScala
            .map(k => k -> p.getProperty(k).toLong).toMap
          if (m.get("input").contains(input)) Some(m) else None
        } else None
      cached match {
        case Some(m) => stageSecs(name) = 0.0; m
        case None =>
          val r = timed(name)(body) + ("input" -> input)
          val p = new java.util.Properties()
          r.foreach { case (k, v) => p.setProperty(k, v.toString) }
          val out = new java.io.FileOutputStream(f)
          try p.store(out, null) finally out.close()
          r
      }
    }
    val docsIn = Tables.docs(spark, corpusDir)
    val nInput = writtenRows(spark, s"$corpusDir/documents.parquet")

    // stage 0: URL-level dedup — runs BEFORE any text pass, as in a real
    // crawl pipeline (a re-crawled URL never reaches the text stages, so
    // the expensive shingling/LSH work downstream shrinks by the re-crawl
    // rate). Canonical-URL keep-first as a hash aggregate on the canonical
    // key (qu2's operator shape). Corpora without a url column (the suite
    // test tables) skip the stage: the text stages then read corpusDir.
    val hasUrls = docsIn.columns.contains("url")
    val urlDir = s"$outDir/stage_url"
    val textInDir = if (hasUrls) urlDir else corpusDir
    val urlKept =
      if (!hasUrls) nInput
      else stage("url", nInput) {
        val canon = docsIn.withColumn("canon_url",
          graft.ops.UrlCuration.canonicalize(col("url")))
        val keep = canon
          .groupBy(col("canon_url")).agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"))
        Map("kept" -> writeCounted(docsIn.join(keep, Seq("doc_id")),
          s"$urlDir/documents.parquet"))
      }("kept")

    // stage 1: exact dedup (keep the smallest doc_id per normalized md5).
    // One hash shuffle; survivors checkpoint to parquet for the next stage.
    val exactDir = s"$outDir/stage_exact"
    val exactKept = stage("exact", urlKept) {
      val textIn = Tables.docs(spark, textInDir)
      val keep = textIn
        .withColumn("fp", Dedup.fingerprintCol(col("text")))
        .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      Map("kept" -> writeCounted(textIn.join(keep, Seq("doc_id")),
        s"$exactDir/documents.parquet"))
    }("kept")

    // stage 2: near-dup candidate pairs on the exact-deduped corpus —
    // banded MinHash-LSH with exact-Jaccard verification (qd7's operator).
    // The verified edge list is ITSELF a checkpointed stage output now
    // (the most expensive stage's work survives preemption).
    val pairsDir = s"$outDir/stage_pairs"
    val nearPairs = stage("lsh_pairs", exactKept) {
      Map("pairs" -> writeCounted(
        Dedup.minhashLshPairs(spark, exactDir,
            shingleSize = 3, threshold = lshThreshold)
          .select(col("doc_a"), col("doc_b")),
        s"$pairsDir/pairs.parquet"))
    }("pairs")

    // stage 3: transitive closure (pointer-jumping CC — throws rather than
    // under-merge) + quality-aware survivorship (qd8's operator)
    val nearDir = s"$outDir/stage_near"
    val ccStats = stage("cc_survivors", exactKept) {
      // the pair list is read once: connectedComponents checkpoints it
      val labels = Dedup.connectedComponents(
        Tables.parquet(spark, s"$pairsDir/pairs.parquet"))
      val sizes = labels.groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"))
      val clusters = labels
        .select(col("doc_id"), col("label").as("cluster_id"))
        .join(sizes, Seq("cluster_id"))
      // survivorship runs once: the job that materializes it also counts
      // the survivors (one per cluster) the drop list below excludes
      val (survivors, nC) = GraftCheckpoint.localCheckpointCounting(
        Dedup.survivorsFrom(clusters, TextAnalysis.qualityScores(spark, exactDir)
          .select(col("doc_id"), col("quality_score"))),
        col("survivor"))
      val dropIds = survivors.filter(!col("survivor")).select(col("doc_id"))
      Map("clusters" -> nC,
        "kept" -> writeCounted(Tables.docs(spark, exactDir)
          .join(dropIds, Seq("doc_id"), "left_anti"), s"$nearDir/documents.parquet"))
    }
    val (nearClusters, nearKept) = (ccStats("clusters"), ccStats("kept"))

    // stage 4: quality gate on the deduped corpus -> the doc-level clean
    // table: the nearDir rows whose qt2 quality score passes. Per-doc
    // scores are deterministic, so this equals gating on the stage-3
    // scores while keeping the stage self-contained for resume.
    val nFinal = stage("quality_gate", nearKept) {
      Map("kept" -> writeCounted(Tables.docs(spark, nearDir)
        .filter(TextAnalysis.qualityScore(col("text")) >= minQuality),
        s"$outDir/clean/documents.parquet"))
    }("kept")

    // stage 5: exact-substring span removal (qd14's operator) — the
    // SUB-document rewrite document-level dedup cannot do: cross-doc
    // duplicated runs >= 8 tokens (boilerplate, templates, mirrors
    // embedded in otherwise-distinct pages) are cut from every surviving
    // doc and the text rebuilt. Runs LAST, on the smallest table, as in
    // RefinedWeb's order (doc-level dedup first shrinks the gram table the
    // substring pass must build).
    val substrStats = stage("substr", nFinal) {
      val in = Tables.docs(spark, s"$outDir/clean")
      val (nOut, t) = writeObserved(Dedup.exactSubstrOf(in),
          s"$outDir/final/documents.parquet",
          coalesce(sum((col("n_spans") > 0).cast("long")), lit(0L)).as("rewritten"),
          coalesce(sum(col("removed_tokens")), lit(0L)).as("tokens_removed"))(
        withCleanText(in, _))
      require(nOut == nFinal,
        s"substr stage must rewrite, never drop: $nOut != $nFinal")
      t
    }

    // stage 6: LINE-level cleaning (qt26's operator, C4 §2.2 / CCNet's
    // per-line pass) — per-line min-words + blocklist rules, within-doc
    // keep-first line dedup, the >=3-surviving-lines doc gate, text rebuilt
    // from surviving lines. Blocklist token "graft" plays C4's
    // "javascript" over this vocabulary. Production order note: RefinedWeb
    // runs line-wise corrections BEFORE dedup (real newlines exist there);
    // this corpus has no newline structure, so segmentation is the
    // doc_id-keyed synthetic one — running it pre-dedup would perturb the
    // planted exact/near-dup populations that the dedup stages are
    // verified against, so it runs LAST here, on the smallest table (the
    // C4-style post-dedup cleanup position). All decisions are within-doc
    // (one map-only pass); the gate is the only stage after quality that
    // may DROP documents, so lineage tracks it separately.
    val lineStats = stage("line_clean", nFinal) {
      val in = Tables.docs(spark, s"$outDir/final")
      val (nOut, t) = writeObserved(TextAnalysis.c4LineCleanOf(in, block = "graft"),
          s"$outDir/delivered/documents.parquet",
          coalesce(sum((col("kept") === 0).cast("long")), lit(0L)).as("gated"),
          coalesce(sum(when(col("kept") === 1,
            col("n_rule_dropped") + col("n_dup_dropped")).otherwise(0L)),
            lit(0L)).as("lines_dropped"))(
        rows => withCleanText(in, rows.filter(col("kept") === 1)))
      require(nOut == nFinal - t("gated"),
        s"line stage drops exactly the gated docs: $nOut != $nFinal - ${t("gated")}")
      t + ("delivered" -> nOut)
    }

    // stage 7: Gopher repetition gate (qt29's operator, Rae et al. 2021
    // §A1.1) — the MassiveText repetition battery over the delivered table:
    // docs failing ANY of the thirteen published thresholds (dup lines/
    // paragraphs, top-{2,3,4}-gram and dup-{5..10}-gram character
    // fractions) are dropped. One map-only native-expression pass that
    // filters on the pass flag; runs LAST because its md5 line segmentation
    // must see the line-cleaned rebuild (production pipelines run it among
    // the quality filters pre-dedup; here the dedup stages are verified
    // against planted populations the gate must not perturb).
    val nDeliveredCnt = lineStats("delivered")
    val repStats = stage("repetition_gate", nDeliveredCnt) {
      val in = Tables.docs(spark, s"$outDir/delivered")
      val (nOut, t) = writeObserved(TextAnalysis.gopherRepetitionOf(in),
          s"$outDir/released/documents.parquet",
          coalesce(sum((col("passes_repetition") === 0).cast("long")), lit(0L))
            .as("gated"))(
        _.filter(col("passes_repetition") === 1).select(in.columns.toSeq.map(col): _*))
      require(nOut == nDeliveredCnt - t("gated"),
        s"repetition stage drops exactly the gated docs: $nOut != " +
          s"$nDeliveredCnt - ${t("gated")}")
      t + ("released" -> nOut)
    }

    // stage 8: leakage-free split assignment over the RELEASED corpus via
    // qd20's VERIFY-FREE bucket-star guard: leakage-safety needs only
    // connectivity and over-merging is conservative, so the cluster key is
    // CC over band-bucket co-membership — LINEAR in corpus size. The
    // pair-enumerating variants were measured and rejected here: qd19 at
    // t=0.1 ran 338 s on the 1M pipeline's 517k released docs, an 8x1
    // banding 289 s at 200k (candidate volume is bucket-quadratic); the
    // star guard co-locates a SUPERSET of every pair either would admit.
    val nReleasedCnt = repStats("released")
    val splitStats = stage("split_assign", nReleasedCnt) {
      def splitSize(split: String) =
        coalesce(sum((col("split") === split).cast("long")), lit(0L)).as(split)
      val (nOut, t) = writeObserved(Dedup.bucketSplit(spark, s"$outDir/released"),
        s"$outDir/splits/splits.parquet",
        splitSize("train"), splitSize("val"), splitSize("test"))(identity)
      require(nOut == nReleasedCnt,
        s"split stage assigns every released doc once: $nOut != $nReleasedCnt")
      t
    }

    val stats = CleanStats(
      nInput = nInput,
      urlRemoved = nInput - urlKept,
      exactRemoved = urlKept - exactKept,
      nearPairs = nearPairs,
      nearClusters = nearClusters,
      nearRemoved = exactKept - nearKept,
      qualityRemoved = nearKept - nFinal,
      nFinal = nFinal,
      substrRewritten = substrStats("rewritten"),
      substrTokensRemoved = substrStats("tokens_removed"),
      lineGated = lineStats("gated"),
      lineLinesDropped = lineStats("lines_dropped"),
      nDelivered = lineStats("delivered"),
      repetitionGated = repStats("gated"),
      nReleased = repStats("released"),
      splitTrain = splitStats("train"),
      splitVal = splitStats("val"),
      splitTest = splitStats("test"),
      stageSecs = stageSecs.toMap)

    require(stats.nFinal ==
      stats.nInput - stats.urlRemoved - stats.exactRemoved -
        stats.nearRemoved - stats.qualityRemoved,
      s"lineage does not conserve: $stats")
    require(stats.nDelivered == stats.nFinal - stats.lineGated,
      s"line-stage lineage does not conserve: $stats")
    require(stats.nReleased == stats.nDelivered - stats.repetitionGated,
      s"repetition-stage lineage does not conserve: $stats")
    require(stats.splitTrain + stats.splitVal + stats.splitTest ==
      stats.nReleased,
      s"split-stage lineage does not conserve: $stats")
    stats
  }
}

/** Production entry point (spark-submit) for the cleaning pipeline.
  *
  *   spark-submit --class graft.spark.CleanJobRunner \
  *     --conf spark.sql.extensions=graft.spark.GraftExtensions \
  *     graft.jar <corpusPath|gen:N> <outDir> [partitions]
  *
  * `gen:N` materializes the seeded dup-structured corpus first (no external
  * data in the sandbox); a real run points at an Iceberg documents table.
  * Prints one JSON line with per-stage lineage and end-to-end throughput.
  */
object CleanJobRunner {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: CleanJobRunner <corpusPath|gen:N> <outDir> [partitions] [resume]\n" +
        "  resume: skip stages whose stats marker exists in <outDir> " +
        "(kill-and-resume; markers self-invalidate if the upstream changed)")
    val input = args(0)
    val outDir = args(1)
    val resume = args.contains("resume")
    val builder = SparkSession.builder()
      .appName("graft-clean")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/graft-clean-scratch"))
    val spark = (if (sys.props.contains("spark.master")) builder
      else builder.master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val partitions = if (args.length > 2) args(2).toInt
      else spark.sparkContext.defaultParallelism * 2
    spark.conf.set("spark.sql.shuffle.partitions", partitions)

    val corpusDir = if (input.startsWith("gen:")) {
      val n = input.stripPrefix("gen:").toLong
      val dir = s"$outDir/corpus"
      CleanJob.DocCorpus.generate(spark, n, partitions)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    } else input

    val t0 = System.nanoTime()
    val stats = CleanJob.run(spark, corpusDir, outDir, resume = resume)
    val wall = (System.nanoTime() - t0) / 1e9
    val stages = stats.stageSecs
      .map { case (k, v) => f""""$k":$v%.1f""" }.mkString(",")
    println(f"""{"metric":"clean_pipeline","n_input":${stats.nInput},""" +
      f""""url_removed":${stats.urlRemoved},""" +
      f""""exact_removed":${stats.exactRemoved},"near_pairs":${stats.nearPairs},""" +
      f""""near_clusters":${stats.nearClusters},"near_removed":${stats.nearRemoved},""" +
      f""""quality_removed":${stats.qualityRemoved},"n_final":${stats.nFinal},""" +
      f""""substr_rewritten":${stats.substrRewritten},""" +
      f""""substr_tokens_removed":${stats.substrTokensRemoved},""" +
      f""""line_gated":${stats.lineGated},""" +
      f""""line_lines_dropped":${stats.lineLinesDropped},""" +
      f""""n_delivered":${stats.nDelivered},""" +
      f""""repetition_gated":${stats.repetitionGated},""" +
      f""""n_released":${stats.nReleased},""" +
      f""""split_train":${stats.splitTrain},"split_val":${stats.splitVal},""" +
      f""""split_test":${stats.splitTest},""" +
      f""""stage_secs":{$stages},""" +
      f""""wall_s":$wall%.1f,"docs_per_sec":${(stats.nInput / wall).toLong}}""")
    spark.stop()
  }
}
