package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Incremental (batch-vs-corpus) dedup as a JOB with a PERSISTED index —
  * the production shape of qd9's daily-ingest admission gate
  * (graft.ops.Dedup.incrementalDedup re-derives the corpus side per query;
  * a daily pipeline amortizes it instead).
  *
  * The index is three corpus-side tables, each a pure map/shuffle derivation
  * of the documents table, persisted once per corpus snapshot and reused by
  * every subsequent batch admission (at scale: Iceberg tables, refreshed
  * incrementally as admitted batches merge in — see README "Iceberg
  * drop-in"):
  *
  *  - `fp`:       (doc_id, fp)   normalized exact-dup fingerprints;
  *  - `shingles`: (doc_id, sh)   sorted distinct word shingles (the
  *                exact-Jaccard verify side);
  *  - `bands`:    (doc_id, bkey) cap-admitted portable LSH band keys (the
  *                candidate-generation side; cap diagnostics as in qd7).
  *
  * Admission then touches the BATCH's text only: one semi-join against `fp`
  * (exact), one band-key equi-join against `bands` + verify against
  * `shingles` (near). The runner measures exactly what the index buys: the
  * same admission with the corpus side recomputed from raw text, A/B, and
  * asserts the outputs are identical.
  */
object IncrementalDedupJob {

  final case class IndexStats(corpusDocs: Long, fpRows: Long,
      shingleRows: Long, bandRows: Long, stageSecs: Map[String, Double])

  private def timedMap[T](acc: scala.collection.mutable.LinkedHashMap[String, Double],
      name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    acc(name) = (System.nanoTime() - t0) / 1e9
    r
  }

  /** Build the corpus-side index under `indexDir`. Stage costs are returned
    * so the runner can report build amortization (build once, admit daily).
    */
  def buildIndex(spark: SparkSession, corpusDir: String, indexDir: String,
      shingleSize: Int = 2, bands: Int = 4, rowsPerBand: Int = 2,
      maxBucket: Int = 4096): IndexStats = {
    val secs = scala.collection.mutable.LinkedHashMap[String, Double]()
    val docs = spark.read.parquet(s"$corpusDir/documents.parquet")
    val n = docs.count()
    timedMap(secs, "fp") {
      docs.select(col("doc_id"), Dedup.fingerprintCol(col("text")).as("fp"))
        .write.mode("overwrite").parquet(s"$indexDir/fp.parquet")
    }
    timedMap(secs, "shingles") {
      Dedup.shinglesOf(docs, shingleSize)
        .write.mode("overwrite").parquet(s"$indexDir/shingles.parquet")
    }
    // bands derive from the PERSISTED shingle table (not raw text): the
    // shingling pass runs once per corpus snapshot, not once per artifact
    timedMap(secs, "bands") {
      Dedup.bandTableOf(spark.read.parquet(s"$indexDir/shingles.parquet"),
          bands, rowsPerBand, maxBucket)
        .write.mode("overwrite").parquet(s"$indexDir/bands.parquet")
    }
    IndexStats(n,
      spark.read.parquet(s"$indexDir/fp.parquet").count(),
      spark.read.parquet(s"$indexDir/shingles.parquet").count(),
      spark.read.parquet(s"$indexDir/bands.parquet").count(),
      secs.toMap)
  }

  /** Admit a batch against corpus-side tables (from the index, or recomputed
    * — the caller chooses; outputs must be identical either way, which the
    * runner asserts). One row per batch doc:
    * (doc_id, exact_dup, n_near, best_jaccard, admit). The body is qd9's
    * ([[Dedup.incrementalDedup]]); the batch's band keys are capped on their
    * own, the corpus side as `corpusBands` was built.
    */
  def admitBatch(batch: DataFrame, corpusFp: DataFrame, corpusSh: DataFrame,
      corpusBands: DataFrame, shingleSize: Int = 2, bands: Int = 4,
      rowsPerBand: Int = 2, maxBucket: Int = 4096, threshold: Double = 0.2,
      admitBelowJaccard: Double = 0.5): DataFrame = {
    val bsh = Dedup.shinglesOf(batch, shingleSize)
    Dedup.admission(
      batch.select(col("doc_id"), Dedup.fingerprintCol(col("text")).as("fp")),
      bsh, Dedup.bandTableOf(bsh, bands, rowsPerBand, maxBucket),
      corpusFp, corpusSh, corpusBands, threshold)
      .withColumn("admit",
        col("exact_dup") === 0 &&
          coalesce(col("best_jaccard"), lit(0.0)) < admitBelowJaccard)
  }
}

/** Production entry point (spark-submit) for incremental admission:
  *
  *   spark-submit --class graft.spark.IncrementalDedupRunner \
  *     graft.jar <corpusPath|gen:N> <outDir> [partitions]
  *
  * `gen:N` materializes a seeded corpus of N docs plus an ingest batch of
  * N/10 docs with known dup structure (1/3 exact copies, 1/3 near variants,
  * 1/3 fresh — DocCorpus.genBatchDoc). The job builds the corpus index,
  * admits the batch against it, re-runs the same admission with the corpus
  * side recomputed from raw text (asserting identical output), and prints
  * one JSON line with per-stage seconds and the index-reuse speedup.
  */
object IncrementalDedupRunner {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: IncrementalDedupRunner <corpusPath|gen:N> <outDir> [partitions]\n" +
        "  gen:N        generate corpus + batch under <outDir>\n" +
        "  <corpusPath> read <corpusPath>/documents.parquet as the corpus; " +
        "the ingest batch MUST already exist at <outDir>/batch/documents.parquet")
    val input = args(0)
    val outDir = args(1)
    val builder = SparkSession.builder()
      .appName("graft-incremental-dedup")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/graft-incr-scratch"))
    val spark = (if (sys.props.contains("spark.master")) builder
      else builder.master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val partitions = if (args.length > 2) args(2).toInt
      else spark.sparkContext.defaultParallelism * 2
    spark.conf.set("spark.sql.shuffle.partitions", partitions)

    val (corpusDir, batchDf, corpusN) = if (input.startsWith("gen:")) {
      val n = input.stripPrefix("gen:").toLong
      val dir = s"$outDir/corpus"
      CleanJob.DocCorpus.generate(spark, n, partitions)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // daily-ingest proportions: the batch is ~1% of the corpus (the
      // admission gate's whole premise is batch << corpus; at batch ~ corpus
      // the whole-corpus closure pipeline is the right tool instead)
      val batch = CleanJob.DocCorpus
        .generateBatch(spark, n, math.max(n / 100, 30), partitions).toDF()
      batch.write.mode("overwrite").parquet(s"$outDir/batch/documents.parquet")
      (dir, spark.read.parquet(s"$outDir/batch/documents.parquet"), n)
    } else {
      // fail fast with a usage-grade message instead of an opaque
      // parquet-not-found deep inside the read (ADVICE r4)
      val batchPath = s"$outDir/batch/documents.parquet"
      require(new java.io.File(batchPath).exists(),
        s"no ingest batch found at $batchPath — with a real <corpusPath> the " +
          "batch to admit must be staged there first (gen:N stages one for you)")
      val batch = spark.read.parquet(batchPath)
      (input, batch, -1L)
    }

    val indexDir = s"$outDir/index"
    val idx = IncrementalDedupJob.buildIndex(spark, corpusDir, indexDir)

    def timeIt[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // A: admission against the persisted index (the daily path)
    val (withIndex, indexSecs) = timeIt {
      val out = IncrementalDedupJob.admitBatch(batchDf,
        spark.read.parquet(s"$indexDir/fp.parquet"),
        spark.read.parquet(s"$indexDir/shingles.parquet"),
        spark.read.parquet(s"$indexDir/bands.parquet"))
      out.write.mode("overwrite").parquet(s"$outDir/admission.parquet")
      spark.read.parquet(s"$outDir/admission.parquet")
    }

    // B: identical admission, corpus side recomputed from raw text (what
    // running qd9 as a standalone query costs every day without the index)
    val corpusDocs = spark.read.parquet(s"$corpusDir/documents.parquet")
    val (recomputed, recomputeSecs) = timeIt {
      val sh = Dedup.shinglesOf(corpusDocs, 2)
      val out = IncrementalDedupJob.admitBatch(batchDf,
        corpusDocs.select(col("doc_id"),
          Dedup.fingerprintCol(col("text")).as("fp")),
        sh, Dedup.bandTableOf(sh))
      out.write.mode("overwrite").parquet(s"$outDir/admission_recompute.parquet")
      spark.read.parquet(s"$outDir/admission_recompute.parquet")
    }
    val diff = withIndex.exceptAll(recomputed).count() +
      recomputed.exceptAll(withIndex).count()
    require(diff == 0,
      s"index-based admission differs from recompute by $diff rows")

    val nBatch = batchDf.count()
    val nExact = withIndex.filter(col("exact_dup") === 1).count()
    val nNear = withIndex.filter(col("exact_dup") === 0 && col("n_near") > 0).count()
    val nAdmitted = withIndex.filter(col("admit")).count()
    val buildStages = idx.stageSecs
      .map { case (k, v) => f""""$k":$v%.1f""" }.mkString(",")
    println(f"""{"metric":"incremental_dedup","corpus_docs":${idx.corpusDocs},""" +
      f""""batch_docs":$nBatch,"index_rows":{"fp":${idx.fpRows},""" +
      f""""shingles":${idx.shingleRows},"bands":${idx.bandRows}},""" +
      f""""index_build_secs":{$buildStages},""" +
      f""""admit_with_index_s":$indexSecs%.1f,""" +
      f""""admit_recompute_s":$recomputeSecs%.1f,""" +
      f""""index_speedup":${recomputeSecs / indexSecs}%.2f,""" +
      f""""recompute_equal":true,""" +
      f""""batch_exact":$nExact,"batch_near":$nNear,"admitted":$nAdmitted}""")
    spark.stop()
  }
}
