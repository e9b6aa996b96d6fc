package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The composed cleaning pipeline on the dup-structured generated corpus:
  * stage counts must match the generator's known membership, and lineage
  * must conserve end to end.
  */
class CleanJobSpec extends AnyFunSuite with BeforeAndAfterAll {

  /** Jobs `CleanJob.run` may start on the 500-doc corpus. */
  private val JOBPIN = 52

  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-clean-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("corpus generator is deterministic with the declared dup structure") {
    val a = CleanJob.DocCorpus.genDoc(123)
    val b = CleanJob.DocCorpus.genDoc(123)
    assert(a == b)
    // id%10==7 is an exact copy of the decade base
    assert(CleanJob.DocCorpus.genDoc(47).text == CleanJob.DocCorpus.genDoc(40).text)
    // id%10==8 differs from the base by at most 2 word substitutions
    val base = CleanJob.DocCorpus.genDoc(40).text.split(" ")
    val near = CleanJob.DocCorpus.genDoc(48).text.split(" ")
    assert(base.length == near.length)
    assert(base.zip(near).count { case (x, y) => x != y } <= 2)
    // id%10==9 re-crawls the decade base's URL: same canonical form,
    // different raw bytes; fresh TEXT (url dedup and text dedup catch
    // different planted populations)
    assert(CleanJob.DocCorpus.genDoc(49).url !=
      CleanJob.DocCorpus.genDoc(40).url)
    assert(CleanJob.DocCorpus.genDoc(49).text !=
      CleanJob.DocCorpus.genDoc(40).text)
    // id%10==5 carries the fixed 12-word boilerplate tail; two carriers
    // from different decades share EXACTLY that run
    val bp = CleanJob.DocCorpus.Boilerplate.mkString(" ")
    val c45 = CleanJob.DocCorpus.genDoc(45).text
    val c55 = CleanJob.DocCorpus.genDoc(55).text
    assert(c45.endsWith(" " + bp) && c55.endsWith(" " + bp))
    assert(c45.stripSuffix(bp) != c55.stripSuffix(bp))
    assert(!CleanJob.DocCorpus.genDoc(40).text.contains(bp))
  }

  test("pipeline degenerate inputs: single doc and empty near-dup graph") {
    val ss = spark; import ss.implicits._
    val out = Files.createTempDirectory("graft-clean-tiny").toString
    CleanJob.DocCorpus.generate(spark, 1L, partitions = 1)
      .write.mode("overwrite").parquet(s"$out/corpus/documents.parquet")
    val stats = CleanJob.run(spark, s"$out/corpus", out)
    assert(stats.nInput == 1 && stats.urlRemoved == 0 &&
      stats.exactRemoved == 0 &&
      stats.nearPairs == 0 && stats.nearRemoved == 0)
    assert(stats.nFinal + stats.qualityRemoved == 1)
    // CC on an empty edge list converges immediately to an empty labeling
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(graft.ops.Dedup.connectedComponents(empty).count() == 0)
  }

  test("pipeline removes the planted dups and lineage conserves") {
    val out = Files.createTempDirectory("graft-clean").toString
    val n = 500L
    CleanJob.DocCorpus.generate(spark, n, partitions = 4)
      .write.mode("overwrite").parquet(s"$out/corpus/documents.parquet")
    val (stats, tally) = graft.obs.RunTally(spark)(CleanJob.run(spark, s"$out/corpus", out))
    // no schema-inference job per table read, and the rewrite and gate
    // stages run one write each, their tallies observed on it: 85 jobs
    // here when each read inferred its schema and those stages persisted a
    // profile, tallied it in separate jobs and joined it back
    assert(tally.jobs <= JOBPIN, s"${tally.jobs} jobs for CleanJob.run at n = $n")

    // every lineage number, pinned: the seeded corpus is a pure function of
    // the row index, so any drift here is a changed stage result
    assert(stats.copy(stageSecs = Map.empty) == CleanJob.CleanStats(
      nInput = 500, urlRemoved = 50, exactRemoved = 50, nearPairs = 50,
      nearClusters = 50, nearRemoved = 50, qualityRemoved = 35, nFinal = 315,
      substrRewritten = 50, substrTokensRemoved = 623, lineGated = 28,
      lineLinesDropped = 2003, nDelivered = 287, repetitionGated = 36,
      nReleased = 251, splitTrain = 209, splitVal = 20, splitTest = 22),
      stats.toString)
    // stage counts come from the written files' footers: each must equal
    // what the parquet reader counts in the same table, and the shared
    // reader must see the schema Spark infers for it
    Seq("corpus/documents", "stage_url/documents", "stage_exact/documents",
        "stage_pairs/pairs", "stage_near/documents", "clean/documents",
        "final/documents", "delivered/documents", "released/documents",
        "splits/splits").foreach { t =>
      val dir = s"$out/$t.parquet"
      assert(CleanJob.writtenRows(spark, dir) == spark.read.parquet(dir).count(), t)
      assert(graft.ops.Tables.parquet(spark, dir).schema ==
        spark.read.parquet(dir).schema, t)
    }
    assertStagesMatchJoinComposition(out, stats)

    assert(stats.nInput == n)
    // stage 0 removes exactly the 50 planted URL re-crawls (id%10==9),
    // whose TEXT is fresh — only the canonical URL collides
    assert(stats.urlRemoved == n / 10, stats.toString)
    // 50 planted exact dups (+ any near-dups whose 2 seeded substitutions
    // both drew the original word, degenerating to exact)
    assert(stats.exactRemoved >= n / 10 && stats.exactRemoved <= n / 10 + 3,
      stats.toString)
    // the planted near dups pair with their decade base; a handful fall
    // under the Jaccard threshold (short docs, double-substitution)
    assert(stats.nearRemoved >= (n / 10) * 8 / 10 &&
      stats.nearRemoved <= n / 10, stats.toString)
    // pairs are (base, near) two-cliques: one survivor each
    assert(stats.nearClusters == stats.nearRemoved, stats.toString)
    // run() asserts conservation internally; re-check from the outputs
    val finalCount = spark.read.parquet(s"$out/clean/documents.parquet").count()
    assert(finalCount == stats.nFinal)
    assert(stats.nFinal ==
      n - stats.urlRemoved - stats.exactRemoved - stats.nearRemoved -
        stats.qualityRemoved)
    // the clean table has no remaining exact dups
    val distinctTexts = spark.read.parquet(s"$out/clean/documents.parquet")
      .select("text").distinct().count()
    assert(distinctTexts == stats.nFinal)

    // stage 5: every surviving boilerplate carrier (id%10==5) is rewritten
    // (its 12 planted tokens cut), PLUS both members of any near-dup pair
    // that slipped under the LSH threshold and survived doc-level dedup —
    // the substring stage catching what document-level dedup missed is
    // exactly why production pipelines run it last
    import org.apache.spark.sql.functions.col
    val bp = CleanJob.DocCorpus.Boilerplate.mkString(" ")
    val clean = spark.read.parquet(s"$out/clean/documents.parquet")
    val fin = spark.read.parquet(s"$out/final/documents.parquet")
    assert(fin.count() == stats.nFinal)
    val cleanIds = clean.select("doc_id").collect().map(_.getLong(0)).toSet
    val carriers = cleanIds.count(_ % 10 == 5)
    assert(carriers >= 2, s"too few surviving carriers: $carriers")
    // near pairs whose base AND near both reached the clean table: their
    // shared runs (>= 10 tokens: 2 substitutions split >= 30 words into
    // runs of >= ~len/3) are cross-doc duplicated spans stage 5 must cut
    val slippedPairDocs = (0L until n by 10L)
      .filter(b => cleanIds.contains(b) && cleanIds.contains(b + 8))
      .flatMap(b => Seq(b, b + 8)).toSet
    assert(stats.substrRewritten == carriers + slippedPairDocs.size,
      s"rewritten ${stats.substrRewritten} != $carriers carriers + " +
        s"${slippedPairDocs.size} slipped near docs")
    assert(stats.substrTokensRemoved >= 12 * carriers, stats.toString)
    assert(fin.filter(col("text").contains(bp)).count() == 0)
    // nothing else is touched: changed docs are exactly carriers + slipped
    val changed = fin.select(col("doc_id"), col("text").as("t2"))
      .join(clean.select(col("doc_id"), col("text")), Seq("doc_id"))
      .filter(col("t2") =!= col("text"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(changed == cleanIds.filter(_ % 10 == 5) ++ slippedPairDocs,
      s"unexpected rewrites: ${changed.filter(id => id % 10 != 5 && !slippedPairDocs(id))}")

    // stage 6: the line battery delivers the gated-survivor table; only
    // whole lines are removed, so every delivered text's word sequence is
    // a subsequence of its stage-5 text
    val delivered = spark.read.parquet(s"$out/delivered/documents.parquet")
    assert(delivered.count() == stats.nDelivered)
    assert(stats.nDelivered == stats.nFinal - stats.lineGated)
    // vocabulary contains the blocklist token, so line drops must occur
    assert(stats.lineLinesDropped > 0, stats.toString)
    val finTexts = fin.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    delivered.select(col("doc_id"), col("text")).collect().foreach { r =>
      val a = finTexts(r.getLong(0)).split(" ")
      val b = r.getString(1).split(" ")
      var i = 0
      a.foreach { w => if (i < b.length && b(i) == w) i += 1 }
      assert(i == b.length,
        s"doc ${r.getLong(0)}: delivered text is not a word-subsequence")
      // blocklist token never survives (any line containing it is dropped)
      assert(!b.contains("graft"), s"doc ${r.getLong(0)} kept a graft line")
    }

    // stage 7: the Gopher repetition gate releases exactly the delivered
    // docs that pass all thirteen thresholds (qt29's operator, cross-checked
    // here by rerunning it over the delivered table)
    val released = spark.read.parquet(s"$out/released/documents.parquet")
    assert(released.count() == stats.nReleased)
    assert(stats.nReleased == stats.nDelivered - stats.repetitionGated)
    val passIds = graft.ops.TextAnalysis.gopherRepetition(spark, s"$out/delivered")
      .filter(col("passes_repetition") === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val releasedIds = released.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(releasedIds == passIds,
      s"released set != repetition-pass set (${releasedIds.size} vs ${passIds.size})")

    // stage 8: every released doc gets exactly one split; quotas conserve
    // and any residual >= 0.1-similar pair co-locates (the leakage claim —
    // the star guard admits a SUPERSET of any verified pair set, so the
    // check runs against the verified 0.1-threshold pairs)
    val splits = spark.read.parquet(s"$out/splits/splits.parquet")
    assert(splits.count() == stats.nReleased)
    assert(stats.splitTrain + stats.splitVal + stats.splitTest ==
      stats.nReleased, stats.toString)
    assert(splits.select("doc_id").distinct().count() == stats.nReleased)
    val splitOf = splits.select(col("doc_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    graft.ops.Dedup.minhashLshPairsPortable(spark, s"$out/released",
        bands = 2, rowsPerBand = 4, threshold = 0.1)
      .select("doc_a", "doc_b").collect().foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        assert(splitOf(a) == splitOf(b), s"LEAK: ($a,$b) straddles splits")
      }
  }

  /** The composition the rewrite and gate stages ran before each became one
    * observed write: persist the per-doc profile of the query form, tally
    * it with separate aggregate jobs, re-read the stage input and join the
    * profile back on doc_id. Each stage table (rows, column order) and each
    * tally must equal what it computes from the same stage input.
    */
  private def assertStagesMatchJoinComposition(out: String,
      stats: CleanJob.CleanStats): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    import graft.ops.{Dedup, TextAnalysis}
    def docs(t: String) = spark.read.parquet(s"$out/$t/documents.parquet")
    def same(got: DataFrame, want: DataFrame, stage: String): Unit = {
      assert(got.columns.toSeq == want.columns.toSeq, stage)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, stage)
    }
    def rewritten(in: DataFrame, prof: DataFrame) =
      in.drop("text", "n_chars")
        .join(prof.select(col("doc_id"), col("clean_text").as("text")), Seq("doc_id"))
        .withColumn("n_chars", length(col("text")).cast("long"))

    val passing = TextAnalysis.qualityScores(spark, s"$out/stage_near")
      .filter(col("quality_score") >= 0.35).select(col("doc_id"))
    same(docs("clean"), docs("stage_near").join(passing, Seq("doc_id"), "left_semi"),
      "quality_gate")

    val substr = Dedup.exactSubstrDedup(spark, s"$out/clean").persist(MEMORY_AND_DISK)
    try {
      val a = substr.agg(sum((col("n_spans") > 0).cast("long")),
        sum(col("removed_tokens"))).head()
      assert((a.getLong(0), a.getLong(1)) ==
        ((stats.substrRewritten, stats.substrTokensRemoved)))
      same(docs("final"), rewritten(docs("clean"), substr), "substr")
    } finally substr.unpersist()

    val lines = TextAnalysis.c4LineClean(spark, s"$out/final", block = "graft")
      .persist(MEMORY_AND_DISK)
    try {
      val a = lines.agg(sum((col("kept") === 0).cast("long")),
        sum(when(col("kept") === 1, col("n_rule_dropped") + col("n_dup_dropped"))
          .otherwise(0L))).head()
      assert((a.getLong(0), a.getLong(1)) == ((stats.lineGated, stats.lineLinesDropped)))
      same(docs("delivered"), rewritten(docs("final"), lines.filter(col("kept") === 1)),
        "line_clean")
    } finally lines.unpersist()

    val rep = TextAnalysis.gopherRepetition(spark, s"$out/delivered")
      .persist(MEMORY_AND_DISK)
    try {
      assert(rep.filter(col("passes_repetition") === 0).count() == stats.repetitionGated)
      same(docs("released"), docs("delivered").join(
        rep.filter(col("passes_repetition") === 1).select(col("doc_id")),
        Seq("doc_id"), "left_semi"), "repetition_gate")
    } finally rep.unpersist()

    val splits = spark.read.parquet(s"$out/splits/splits.parquet")
    same(splits, Dedup.bucketSplit(spark, s"$out/released"), "split_assign")
    val bySplit = splits.groupBy(col("split")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit == Map("train" -> stats.splitTrain, "val" -> stats.splitVal,
      "test" -> stats.splitTest).filter(_._2 > 0), bySplit.toString)
  }

  test("frame-level cores carry extra columns and equal the qd14/qt26/qt29 " +
      "query outputs") {
    import org.apache.spark.sql.functions.col
    import graft.ops.{Dedup, Tables, TextAnalysis}
    val out = Files.createTempDirectory("graft-clean-cores").toString
    CleanJob.DocCorpus.generate(spark, 300L, partitions = 4)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val docs = Tables.docs(spark, out)
    assert(docs.columns.length == 6) // doc_id, text and four columns to carry
    def same(got: DataFrame, want: DataFrame, what: String): Unit = {
      assert(got.columns.toSeq == want.columns.toSeq, what)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, what)
    }
    Seq[(String, DataFrame, DataFrame)](
      ("qd14", Dedup.exactSubstrOf(docs), Dedup.exactSubstrDedup(spark, out)),
      ("qt26", TextAnalysis.c4LineCleanOf(docs, block = "graft"),
        TextAnalysis.c4LineClean(spark, out, block = "graft")),
      ("qt29", TextAnalysis.gopherRepetitionOf(docs),
        TextAnalysis.gopherRepetition(spark, out))).foreach { case (q, core, query) =>
      same(core.select(docs.columns.map(col): _*), docs, s"$q carried columns")
      same(core.select(query.columns.map(col): _*), query, s"$q query columns")
    }
    // the quality gate's score is qt2's quality_score
    same(docs.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality_score")),
      TextAnalysis.qualityScores(spark, out).select("doc_id", "quality_score"), "qt2")
  }

  test("near-dup recall: CleanJob's XXH64 LSH builder and the portable one " +
      "recover every planted pair") {
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft-clean-recall").toString
    val n = 2000L
    CleanJob.DocCorpus.generate(spark, n, partitions = 4)
      .write.mode("overwrite").parquet(s"$out/corpus/documents.parquet")
    // (decade base, id%10==8): a 2-word substitution of the base text
    val planted = (0L until n by 10L).map(b => (b, b + 8)).toSet
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("doc_a"), col("doc_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // CleanJob's stage-2 builder with CleanJob's parameters (3-word
    // shingles, 16 bands x 4 rows, t = 0.5)
    val xxh = pairs(graft.ops.Dedup.minhashLshPairs(spark, s"$out/corpus",
      shingleSize = 3, threshold = 0.5))
    assert(planted.subsetOf(xxh), s"missed: ${planted -- xxh}")
    // the oracled portable builder at the same shingles and threshold needs
    // all 8 of its affine lanes as single-lane bands to match (collision
    // probability ~J per lane instead of ~J^4 per band) ...
    val portable = pairs(graft.ops.Dedup.minhashLshPairsPortable(spark,
      s"$out/corpus", shingleSize = 3, bands = 8, rowsPerBand = 1, threshold = 0.5))
    assert(planted.subsetOf(portable), s"missed: ${planted -- portable}")
    // ... while its 4x2 suite default misses two planted pairs
    val default = pairs(graft.ops.Dedup.minhashLshPairsPortable(spark,
      s"$out/corpus"))
    assert(planted -- default == Set((490L, 498L), (1850L, 1858L)))
  }

  test("kill-and-resume: completed stages are skipped, lineage identical") {
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft-clean-resume").toString
    val n = 300L
    CleanJob.DocCorpus.generate(spark, n, partitions = 4)
      .write.mode("overwrite").parquet(s"$out/corpus/documents.parquet")
    val full = CleanJob.run(spark, s"$out/corpus", out)

    // simulate a kill between stage 3 and 4: drop the downstream markers
    // (their parquet may be partial in a real kill; overwrite handles it)
    assert(new java.io.File(s"$out/stage_quality_gate.stats").delete())
    assert(new java.io.File(s"$out/stage_substr.stats").delete())
    val exactParquet = new java.io.File(s"$out/stage_exact")
      .listFiles().map(f => f.getName -> f.lastModified()).toMap
    val resumed = CleanJob.run(spark, s"$out/corpus", out, resume = true)
    // identical lineage end to end
    assert(resumed.copy(stageSecs = Map.empty) ==
      full.copy(stageSecs = Map.empty), s"$resumed vs $full")
    // upstream stages were NOT recomputed: markers served them (0.0 secs)
    // and the exact stage's parquet bytes were never rewritten
    Seq("url", "exact", "lsh_pairs", "cc_survivors").foreach { s =>
      assert(resumed.stageSecs(s) == 0.0, s"stage $s recomputed")
    }
    assert(resumed.stageSecs("quality_gate") > 0.0)
    assert(new java.io.File(s"$out/stage_exact")
      .listFiles().map(f => f.getName -> f.lastModified()).toMap == exactParquet)

    // marker self-invalidation: a DIFFERENT corpus into the same outDir
    // must recompute, not serve stale stage outputs
    CleanJob.DocCorpus.generate(spark, n + 100, partitions = 4)
      .write.mode("overwrite").parquet(s"$out/corpus/documents.parquet")
    val regen = CleanJob.run(spark, s"$out/corpus", out, resume = true)
    assert(regen.nInput == n + 100)
    assert(regen.stageSecs("url") > 0.0, "stale url marker served")
    assert(spark.read.parquet(s"$out/final/documents.parquet").count() ==
      regen.nFinal)
    // re-check conservation on the regenerated run's outputs
    assert(regen.nFinal == regen.nInput - regen.urlRemoved -
      regen.exactRemoved - regen.nearRemoved - regen.qualityRemoved)
    assert(spark.read.parquet(s"$out/final/documents.parquet")
      .filter(col("text").contains(CleanJob.DocCorpus.Boilerplate.mkString(" ")))
      .count() == 0)
  }

  test("incremental admission: persisted index equals recompute, flags the " +
      "planted batch structure") {
    import org.apache.spark.sql.functions._
    val out = Files.createTempDirectory("graft-incr").toString
    val n = 3000L
    CleanJob.DocCorpus.generate(spark, n, partitions = 4)
      .write.mode("overwrite").parquet(s"$out/corpus/documents.parquet")
    val batch = CleanJob.DocCorpus.generateBatch(spark, n, 300, 4).toDF()
      .localCheckpoint(true)
    val idx = IncrementalDedupJob.buildIndex(spark, s"$out/corpus", s"$out/index")
    assert(idx.corpusDocs == n && idx.fpRows == n)
    assert(idx.bandRows == 4 * idx.shingleRows) // 4 band keys per doc, none capped
    val withIndex = IncrementalDedupJob.admitBatch(batch,
      spark.read.parquet(s"$out/index/fp.parquet"),
      spark.read.parquet(s"$out/index/shingles.parquet"),
      spark.read.parquet(s"$out/index/bands.parquet"))
    val docs = spark.read.parquet(s"$out/corpus/documents.parquet")
    val sh = graft.ops.Dedup.shinglesOf(docs, 2)
    val recomputed = IncrementalDedupJob.admitBatch(batch,
      docs.select(col("doc_id"), graft.ops.Dedup.fingerprintCol(col("text")).as("fp")),
      sh, graft.ops.Dedup.bandTableOf(sh))
    assert(withIndex.exceptAll(recomputed).count() == 0)
    assert(recomputed.exceptAll(withIndex).count() == 0)
    val rows = withIndex.collect()
    // j%3==0 batch docs copy a corpus decade base verbatim -> exact dups
    val exact = rows.filter(_.getAs[Int]("exact_dup") == 1).map(_.getLong(0)).toSet
    assert((0L until 300L).filter(_ % 3 == 0).map(n + _).toSet.subsetOf(exact),
      s"missed exact dups: ${exact.size}")
    // j%3==1 near variants: the 4x2 band predicate catches nearly all
    val nearIds = rows.filter(r => r.getAs[Int]("exact_dup") == 0 &&
      r.getAs[Long]("n_near") > 0).map(_.getLong(0)).toSet
    val planted = (0L until 300L).filter(_ % 3 == 1).map(n + _).toSet
    assert((planted & nearIds).size >= (planted.size * 9) / 10,
      s"near recall ${(planted & nearIds).size}/${planted.size}")
    // admitted set excludes every exact dup
    val admitted = rows.filter(_.getAs[Boolean]("admit")).map(_.getLong(0)).toSet
    assert((admitted & exact).isEmpty)
  }
}
