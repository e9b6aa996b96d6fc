package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the optimizations the engine relies on at scale
  * must actually appear in the executed plan, not just be hoped for —
  * pushed filters, pruned scan schemas, broadcast joins, whole-stage
  * codegen, and a single exchange in the extraction job.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-plan-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def formatted(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) { df.explain("formatted") }
    out.toString
  }

  test("q02: filters pushed to the parquet scan, schema pruned") {
    val plan = formatted(Relational.q02FilterPushdown(spark, sf))
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.contains("l_shipdate"), plan)
    // pruned read: the scan must not fetch l_orderkey/l_partkey etc.
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), readSchema)
    assert(readSchema.contains("l_extendedprice"), readSchema)
  }

  test("q03: dimension join is a broadcast hash join") {
    val plan = planOf(Relational.q03BroadcastJoin(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q05: snowflake chain stays fully broadcast (no shuffle join)") {
    val plan = planOf(Relational.q05MultiJoin(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q06: top-k compiles to TakeOrderedAndProject (no global sort)") {
    val plan = planOf(Relational.q06TopkOrders(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q09: anti join is broadcast (small right side)") {
    val plan = planOf(Relational.q09AntiJoin(spark, sf))
    assert(plan.contains("LeftAnti"), plan)
  }

  test("text analysis runs inside whole-stage codegen") {
    val plan = planOf(TextAnalysis.tokenCounts(spark, sf))
    // "*(n)" prefixes mark operators fused into WholeStageCodegen stage n
    assert(plan.contains("*(1)"), plan)
  }

  test("native expressions appear in the plan (not UDFs)") {
    val plan = planOf(Similarity.annBruteForce(spark, sf, 2, 3))
    assert(plan.contains("cosine_ff"), plan)
    assert(!plan.toLowerCase.contains("scalaudf"), plan)
    val simPlan = planOf(Dedup.simhashDocs(spark, sf))
    assert(simPlan.contains("simhash64"), simPlan)
    assert(!simPlan.toLowerCase.contains("scalaudf"), simPlan)
  }

  test("extraction job: exactly one exchange (the skew repartition)") {
    val ss = spark; import ss.implicits._
    val pages = graft.spark.PagesTable.generate(spark, 24, partitions = 2)
    val repart = graft.spark.ExtractJob
      .skewRepartition(pages.toDF(), 4)
      .as[graft.spark.PagesTable.PageRow]
    val plan = planOf(graft.spark.ExtractJob.extract(repart).toDF())
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected 1 exchange, plan:\n$plan")
  }

  test("minhash signature scan reads only the needed columns") {
    val plan = formatted(Dedup.minhashPortable(spark, sf))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang"), readSchema)
    assert(readSchema.contains("text"), readSchema)
  }

  test("ngram jaccard self-join reuses one exchange (shingling scan runs once)") {
    // exchange reuse lands in the FINAL adaptive plan — execute first
    val df = Dedup.ngramJaccardPairs(spark, sf)
    df.collect()
    val plan = planOf(df)
    // since r6 the shingle table is additionally materialized once per
    // query (eager local checkpoint; the block-size aggregate and admit
    // join read it too), so the scan-once guarantee is the checkpointed
    // leaf OR the self-join's ReusedExchange — at least one must hold
    assert(plan.contains("ExistingRDD") || plan.contains("ReusedExchange"),
      plan)
  }

  test("qd11 ppjoin: prefix-token equi-join, no cartesian, ids-only distinct") {
    val df = Dedup.ppjoinPairs(spark, sf)
    df.collect()
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // candidate distinct carries ids only — no shingle arrays through it
    val distinctLines = plan.linesIterator.filter(_.contains("HashAggregate")).toSeq
    assert(distinctLines.exists(l =>
      l.contains("doc_a") && l.contains("doc_b") && !l.contains("sh#")), plan)
  }

  test("qd7 minhash-LSH pairs: bucket self-join, no cartesian, ids-only distinct") {
    val df = Dedup.minhashLshPairsPortable(spark, sf)
    df.collect() // exchange reuse lands in the final adaptive plan
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the shingling+signature scan must run ONCE: since r6 the shingle
    // table is materialized once per query (eager local checkpoint; every
    // reference is a scan of the checkpointed blocks) — before that the
    // same guarantee came from the self-join's ReusedExchange, which
    // covered only the join's own two sides (6 parquet scans remained)
    assert(plan.contains("ExistingRDD") || plan.contains("ReusedExchange"),
      plan)
    // the candidate distinct groups on exactly (doc_a, doc_b) — shingle
    // arrays must not flow through that Exchange
    val distinctLines = plan.linesIterator.filter(_.contains("HashAggregate")).toSeq
    assert(distinctLines.exists(l =>
      l.contains("doc_a") && l.contains("doc_b") && !l.contains("sh#")), plan)
  }

  test("ensureParallel widens a bare scan and rejects a post-shuffle frame") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // one sub-128MB file: a single split, widened to the 4 local cores
    assert(ScanLayout.ensureParallel(docs.select(col("doc_id"), col("text"))
      .filter(col("doc_id") > 0)).rdd.getNumPartitions == 4)
    Seq(docs.repartition(2), docs.groupBy(col("lang")).count()).foreach { df =>
      val e = intercept[IllegalArgumentException](ScanLayout.ensureParallel(df))
      assert(e.getMessage.contains("ensureParallel needs a bare scan"), e.getMessage)
    }
  }

  // CleanJob's builder and every other Jaccard near-dup path on the shared
  // candidate -> verify core: one shingling scan branch, shingled once
  test("CleanJob's minhash-LSH pairs shingle the corpus in ONE scan branch") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def children(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    def shingles(es: Seq[Expression]): Boolean = es.exists(_.exists {
      case _: graft.functions.WordShingles => true
      case _ => false
    })
    // (scan, shingling operators above it + 1 if its DataFilters shingle),
    // for every parquet scan under at least one shingling operator
    def shingledScans(p: SparkPlan, above: Int): Seq[(SparkPlan, Int)] = p match {
      case s: FileSourceScanExec =>
        val n = above + (if (shingles(s.dataFilters)) 1 else 0)
        if (n > 0) Seq(s -> n) else Nil
      case _ =>
        val here = above + (if (shingles(p.expressions)) 1 else 0)
        children(p).flatMap(shingledScans(_, here))
    }
    val inputs = Seq[(String, () => DataFrame)](
      "minhashLshPairs" -> (() =>
        Dedup.minhashLshPairs(spark, sf, shingleSize = 3, threshold = 0.5)),
      "minhashLshPairsPortable" -> (() => Dedup.minhashLshPairsPortable(spark, sf)),
      "minhashCalibration" -> (() => Dedup.minhashCalibration(spark, sf)),
      "ppjoinPairs" -> (() => Dedup.ppjoinPairs(spark, sf)),
      "bucketSplit" -> (() => Dedup.bucketSplit(spark, sf)),
      "incrementalDedup" -> (() => Dedup.incrementalDedup(spark, sf)),
      "nearContamination" -> (() => TextAnalysis.nearContamination(spark, sf)))
    inputs.foreach { case (name, run) =>
      // every plan the call and its consumer execute, the base checkpoint's
      // included
      val plans = graft.obs.RunTally(spark)(
        run().write.format("noop").mode("overwrite").save())._2.plans
      val scans = plans.flatMap(shingledScans(_, 0))
      // a branch is a parquet scan under an operator that shingles; by
      // identity: the scans of one file in different branches are equal
      val branches = scans.map(_._1).foldLeft(Vector.empty[SparkPlan])((acc, s) =>
        if (acc.exists(_ eq s)) acc else acc :+ s)
      assert(branches.size == 1,
        s"$name: ${branches.size} shingling scan branches:\n${plans.mkString("\n")}")
      // a filter pushed into the scan (and evaluated above it) shingles a
      // second time
      assert(scans.forall(_._2 == 1),
        s"$name: shingling operators per scan ${scans.map(_._2)}:\n" +
          plans.mkString("\n"))
    }
  }

  test("embedding-dup LSH path has no cartesian / nested-loop join") {
    val plan = planOf(Similarity.embeddingDupPairsLsh(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("cms sketch and hash sample scans are pruned to the needed columns") {
    val cms = formatted(TextAnalysis.cmsBigrams(spark, sf))
    val cmsRead = cms.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(cmsRead.contains("text") && !cmsRead.contains("lang"), cmsRead)
    val samp = formatted(TextAnalysis.hashSample(spark, sf))
    val sampRead = samp.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!sampRead.contains("text"), sampRead)
    assert(sampRead.contains("doc_id") && sampRead.contains("n_chars"), sampRead)
  }

  test("contamination joins the corpus against a BROADCAST eval-gram side") {
    val plan = planOf(TextAnalysis.contamination(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q17 as-of join compiles to union + window — no join operator at all") {
    val plan = planOf(Relational.q17AsofJoin(spark, sf))
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan) // the union+carry form needs none
    // exactly one shuffle: the window's hash partitioning on user_id
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 hash exchange, plan:\n$plan")
  }

  test("tfidf: the vocabulary-sized df join is size-gated, never hint-forced") {
    // at web scale the document-frequency table (one row per distinct term)
    // is NOT broadcastable; the plan must carry no broadcast HINT on it, so
    // that with broadcasting disabled (i.e. "df side too big") the join
    // degrades to a shuffle join instead of a forced broadcast build
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val plan = planOf(TextAnalysis.tfidfTopTerms(spark, sf))
      val joinLines = plan.linesIterator
        .filter(l => l.contains("Join") && l.contains("term")).toSeq
      assert(joinLines.nonEmpty, plan)
      assert(!joinLines.exists(_.contains("BroadcastHashJoin")), plan)
    } finally spark.conf.set(key, prev)
  }

  test("df-prune: the vocabulary-sized df join is size-gated, never hint-forced") {
    // same contract as tfidf: the word<->df join must survive a web-scale
    // vocabulary, so disabling broadcast must degrade it to a shuffle join
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val plan = planOf(TextAnalysis.dfPrune(spark, sf))
      val joinLines = plan.linesIterator
        .filter(l => l.contains("Join") && l.contains("word")).toSeq
      assert(joinLines.nonEmpty, plan)
      assert(!joinLines.exists(_.contains("BroadcastHashJoin")), plan)
    } finally spark.conf.set(key, prev)
  }

  test("qt17: the quantile window runs over the value HISTOGRAM, not rows") {
    // the q07 low-cardinality hazard dodge: the per-lang cumulative window's
    // child must be the (lang, n_chars) count aggregate, so each window
    // partition holds at most |distinct n_chars| rows however big the corpus
    val plan = planOf(TextAnalysis.quantileHist(spark, sf))
    val lines = plan.linesIterator.toVector
    val winIdx = lines.indexWhere(l => l.contains("Window ["))
    assert(winIdx >= 0, plan)
    // below the window (its input subtree) an aggregate keyed by both lang
    // and n_chars must appear before any file scan
    val below = lines.drop(winIdx + 1).takeWhile(!_.contains("FileScan"))
    assert(below.exists(l => l.contains("HashAggregate") &&
      l.contains("lang") && l.contains("n_chars")), plan)
  }

  test("qt18: the corpus-wide running sum is sharded, not one global window") {
    val plan = planOf(TextAnalysis.packBins(spark, sf))
    val windows = plan.linesIterator
      .filter(l => l.contains("Window [") && !l.contains("WindowGroupLimit")).toSeq
    assert(windows.size == 2, plan)
    // the full-data cumsum must exchange on the shard key (even partitions);
    // only the S-row shard-offset window may be the single-partition one
    assert(plan.contains("hashpartitioning(shard"), plan)
  }

  test("qt13 bloom verify join is size-gated, never hint-forced") {
    // the bloom bounds what crosses the wire at a fixed 4 KB, but the
    // eval-gram table grows with the eval suite — so like qt9/qt14 the
    // exact verify join must degrade to a shuffle join when the eval side
    // is declared too big to broadcast
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val plan = planOf(TextAnalysis.bloomContamination(spark, sf))
      val joinLines = plan.linesIterator
        .filter(l => l.contains("Join") && l.contains("g#")).toSeq
      assert(joinLines.nonEmpty, plan)
      assert(!joinLines.exists(_.contains("BroadcastHashJoin")), plan)
    } finally spark.conf.set(key, prev)
  }

  test("int8 quantization is map-only: zero exchanges, no UDF") {
    // scan -> Project chain only; the array HOFs (transform/aggregate) are
    // CodegenFallback in Spark, so no WSCG span covers them — but the stage
    // stays a single map task with no shuffle and no (Batch)EvalPython/UDF
    val plan = planOf(Similarity.int8QuantStats(spark, sf))
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
    assert(plan.contains("FileScan parquet"), plan)
  }

  test("range join compiles to a binned equi-join — no nested loop, no cartesian") {
    val plan = planOf(Relational.q18RangeJoin(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the equi key must include the time bin, not just the hot event_type
    val joinLine = plan.linesIterator
      .find(l => l.contains("Join") && l.contains("event_type")).getOrElse("")
    assert(joinLine.contains("bin"), plan)
  }

  test("stratified sample: phase-1 window is keyed by (lang, salt), not lang alone") {
    // the whole point of the two-phase form: the first (full-data) window
    // must partition on the salted key so no lang-sized hot partition exists;
    // only the second (k*buckets rows per lang) window may key on lang alone
    val plan = planOf(TextAnalysis.stratifiedSample(spark, sf))
    val windows = plan.linesIterator
      .filter(l => l.contains("Window [") && !l.contains("WindowGroupLimit")).toSeq
    assert(windows.size == 2, plan)
    // executed plans list the LAST operator first: windows(1) is phase 1
    assert(windows(1).contains("salt"), plan)
    assert(!windows(0).contains("salt"), plan)
    // Spark 4's rank-limit pushdown must also fire: a Partial WindowGroupLimit
    // prunes each map partition to k rows BEFORE either exchange
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"), plan)
  }

  test("q19: bounded top-k aggregate — no Window, no sort anywhere in the plan") {
    val plan = planOf(Relational.q19TopkAggregate(spark, sf))
    // the scale claim: no per-nation global sort. "Sort [" is SortExec's
    // render; "SortMergeJoin"/"SortAggregate" are asserted separately
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Sort ["), plan)
    assert(!plan.contains("SortAggregate"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // the TypedImperativeAggregate plans as the two-phase object-hash pair
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("top_k_rank"), plan)
  }

  test("qd12: passage dedup keeps first by HASH aggregate — no Window, no struct-min SortAggregate") {
    val plan = planOf(Dedup.passageDedup(spark, sf))
    // the scale claim: a boilerplate passage repeated 10^6 times must hit a
    // combiner-friendly aggregate, never a passage-partitioned window or a
    // per-task local sort of the whole passage stream
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("SortAggregate"), plan)
    assert(plan.contains("partial_min"), plan)
    assert(plan.contains("partial_collect_list"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
  }

  test("qd14: exact-substring dedup shuffles BIGINT gram keys, never tokens") {
    val plan = planOf(Dedup.exactSubstrDedup(spark, sf))
    // the exploded gram_hashes rows carry 60-bit keys; the duplicated-gram
    // table is a hash aggregate with map-side partials on the key — a
    // boilerplate gram must combine before the shuffle, never meet a
    // gram-keyed window (the island merge is a native fold, so no Window at
    // all); the rebuild is drop_spans over the doc's own tokens (one
    // doc-keyed join), never a token explode
    assert(plan.contains("posexplode(gram_hashes("), plan)
    assert(plan.contains("partial_count"), plan)
    assert(plan.contains("partial_min"), plan)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("drop_spans("), plan)
    assert(!plan.contains("SortAggregate"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
  }

  test("qt24: classifier inference broadcasts the fixed-size model, no Window") {
    val plan = planOf(TextAnalysis.classifierGate(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
    assert(plan.contains("partial_sum"), plan)
  }

  test("qt25: domain mixture is two hash aggregates + an unhinted rate join") {
    val plan = planOf(TextAnalysis.domainMixture(spark, sf))
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("SortAggregate"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("qt10 repetition is map-only: zero exchanges, native expression") {
    val plan = planOf(TextAnalysis.repetitionSignals(spark, sf))
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("repetition_profile"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
    assert(plan.contains("FileScan parquet"), plan)
  }

  test("qt29 Gopher repetition is map-only: zero exchanges, native expression") {
    val plan = planOf(TextAnalysis.gopherRepetition(spark, sf))
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("gopher_repetition"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
    assert(plan.contains("FileScan parquet"), plan)
  }

  test("qs5: int8 ANN runs the native integer dot against a broadcast query side") {
    val plan = planOf(Similarity.annInt8(spark, sf))
    assert(plan.contains("dot_i64"), plan)
    // the fixed-size query set broadcasts (inequality join -> BNLJ over 5
    // rows); the corpus side must never feed an unbroadcast cross product
    assert(plan.contains("Broadcast"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
  }

  test("qs6: PQ encoding is map-only and ADC scores against broadcast queries") {
    val plan = planOf(Similarity.annPq(spark, sf))
    // exact integer subspace math runs through the native expression
    assert(plan.contains("dot_i64"), plan)
    // codebooks are literals, queries broadcast; nothing may cartesian the
    // corpus, and the only shuffle allowed is the per-query ranking window
    assert(plan.contains("Broadcast"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Broadcast") &&
        !l.contains("ReusedExchange"))
    assert(exchanges <= 1, s"$exchanges shuffles\n$plan")
  }

  test("qs7: IVF-PQ candidates come from a broadcast cell join, one shuffle") {
    val plan = planOf(Similarity.annIvfPq(spark, sf))
    assert(plan.contains("dot_i64"), plan)
    // probe side broadcasts (cell-key hash join — never a cartesian);
    // corpus-side cell assignment + residual + encode are map-only, so the
    // only shuffle is the per-query ranking window
    assert(plan.contains("Broadcast"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Broadcast") &&
        !l.contains("ReusedExchange"))
    assert(exchanges <= 1, s"$exchanges shuffles\n$plan")
  }

  test("LSH ANN candidate dedup exchanges ids only (no embedding payloads)") {
    val plan = planOf(Similarity.annLsh(spark, sf, 2, 3))
    // the distinct's aggregate must group on exactly (query_id, vec_id)
    val distinctLines = plan.linesIterator.filter(_.contains("HashAggregate")).toSeq
    assert(distinctLines.exists(l =>
      l.contains("query_id") && l.contains("vec_id") && !l.contains("embedding")),
      plan)
  }

  test("qu1: domain quota ranks via the heap aggregate — no Window anywhere") {
    val plan = planOf(UrlCuration.domainCap(spark, sf))
    assert(plan.contains("top_k_rank"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
  }

  test("qu2/qu3: URL keep-first/keep-latest are HASH aggregates, no Window") {
    Seq(UrlCuration.urlDedup(spark, sf),
        UrlCuration.snapshotDedup(spark, sf)).foreach { df =>
      val plan = planOf(df)
      assert(!plan.contains("Window"), plan)
      // the BIGINT keeper-key encoding must keep the min/max in a hash
      // aggregate (struct min/max would fall back to SortAggregate)
      assert(!plan.contains("SortAggregate"), plan)
      assert(!plan.toLowerCase.contains("udf"), plan)
    }
  }

  test("qg1: pagerank rounds leave no cartesian and no window in the result plan") {
    val plan = planOf(LinkGraph.hostPagerank(spark, sf, k = 2))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
  }

  test("qt44 BM25: bounded top-k aggregate — no window, no corpus sort, no udf") {
    val plan = planOf(TextAnalysis.bm25Retrieval(spark, sf))
    // the scale claim: ranking is the q19 bounded heap per query_id, never a
    // query-partitioned window over the scored candidate stream
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("top_k_rank"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
  }

  test("qg11 seed pagerank rounds leave no cartesian and no window") {
    val plan = planOf(LinkGraph.hostSeedPagerank(spark, sf, k = 2))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
  }

  test("qs12 range search is map-only: broadcast queries, zero aggregates") {
    val plan = planOf(Similarity.rangeSearch(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(plan.contains("cosine_ff"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
  }

  test("qd22 weights: CC chain + hash aggregates — no window, no cartesian") {
    val plan = planOf(Dedup.dedupWeights(spark, sf))
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
  }

  test("qm11 scene cuts: typed frame fan-out + one keyed self-join, no window") {
    val plan = planOf(Multimodal.sceneCuts(spark, sf))
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("qt31 char entropy is map-only: zero exchanges, native expression") {
    val plan = planOf(TextAnalysis.charEntropyProfile(spark, sf))
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("char_entropy"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
    // pruned scan: only (doc_id, text) may be read
    val f = formatted(TextAnalysis.charEntropyProfile(spark, sf))
    val readSchema = f.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      readSchema)
  }

  test("qt32 shard manifest: one shuffle with map-side partial aggregation") {
    val plan = planOf(TextAnalysis.shardManifest(spark, sf))
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Broadcast") &&
        !l.contains("ReusedExchange"))
    assert(exchanges == 1, s"$exchanges shuffles\n$plan")
    // partial_count before the exchange — a mega-shard combines map-side
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      plan)
    assert(!plan.contains("Window"), plan)
  }

  test("qs9 MIPS: native dot against a broadcast query side, no cartesian") {
    val plan = planOf(Similarity.mipsTopK(spark, sf))
    assert(plan.contains("dot_ff"), plan)
    assert(plan.contains("Broadcast"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
  }

  test("qg5 triangles: oriented wedge joins, no cartesian, no window in counts") {
    val plan = planOf(LinkGraph.hostTriangles(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
  }

  test("qd17 simhash pairs: bucket-key self-join, native simhash, no cartesian") {
    val plan = planOf(Dedup.simhashPairs(spark, sf))
    // the native simhash64 runs inside the keyed table's one-time
    // materialization (eager local checkpoint since r6), so the final plan
    // shows the checkpointed leaf; the native-expression guarantee is
    // asserted on the pre-checkpoint simhash table instead
    assert(planOf(Dedup.simhashDocs(spark, sf)).contains("simhash64"))
    assert(plan.contains("ExistingRDD"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // candidates join on the packed block key — an equi-join, never BNLJ
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
  }

  test("qt33 chunk windows: map-only explode, zero exchanges, pruned scan") {
    val plan = planOf(TextAnalysis.chunkWindows(spark, sf))
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
    val f = formatted(TextAnalysis.chunkWindows(spark, sf))
    val readSchema = f.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      readSchema)
  }

  test("qt34 weighted sample: bounded top-k heap, no global sort, no window") {
    val plan = planOf(TextAnalysis.weightedSample(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
    // the scan must not read the text payload — the key needs only
    // (doc_id, n_chars)
    val f = formatted(TextAnalysis.weightedSample(spark, sf))
    val readSchema = f.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text"), readSchema)
  }

  test("qd18 chunk-dup share: fp-keyed aggregates only — no window, no cartesian") {
    val plan = planOf(Dedup.chunkDupShare(spark, sf))
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
  }

  test("qd19 cluster split: no cartesian, no window beyond the qd10 chain") {
    val plan = planOf(Dedup.clusterAwareSplit(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
  }

  test("qd20 bucket split: star guard — no window, no cartesian, no verify") {
    val plan = planOf(Dedup.bucketSplit(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), plan)
    // the whole point: NO exact-Jaccard verify anywhere in the plan
    assert(!plan.contains("jaccard"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
  }

  test("qg6 communities: vote rounds leave no cartesian and no window") {
    val plan = planOf(LinkGraph.hostCommunities(spark, sf, k = 2))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
  }

  test("qt35 PMI: aggregates + bounded top-k — no window, no global sort") {
    val plan = planOf(TextAnalysis.pmiCollocations(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
  }

  test("qc4 k-means||: final assignment is a map-only E-step over literals") {
    val plan = planOf(Clustering.kmeansParallel(spark, sf))
    // the returned DataFrame (final argmin) must not join or shuffle: the
    // candidate set is literals, exactly the qc1 E-step shape
    assert(plan.contains("dot_i64"), plan)
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
  }
}
