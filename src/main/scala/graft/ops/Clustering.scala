package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.GraftFunctions

/** Embedding-space clustering and cluster-based semantic deduplication over
  * the `embeddings` table — the curation legs a training-data pipeline runs
  * AFTER text-level dedup: k-means partitions the embedding space, and
  * near-identical vectors inside each cluster are pruned (SemDeDup, Abbas et
  * al. 2023, arXiv:2303.09540; cluster-based data pruning per Sorscher et
  * al. 2022, arXiv:2206.14486).
  *
  * Everything runs on int64 FIXED-POINT codes (coordinate x -> round(x*1e6),
  * the qs5 discipline): distances, centroid updates, and the cosine
  * threshold are all exact integer arithmetic, so the DuckDB oracle replays
  * every round bit-for-bit — no float-accumulation-order drift anywhere.
  *
  * Scale design (100 TB): the E-step is MAP-ONLY — each row scores against
  * k centroid LITERALS via the native dot_i64 expression (O(k*dim) per row,
  * zero shuffles, zero joins). The M-step is one partially-aggregated
  * groupBy whose output is k*dim rows — model-sized, not data-sized — so the
  * per-round driver collect is bounded exactly like the IVF quantizer sample
  * (Similarity.ivfCentroids) and qt19's 1-row argmax. Rounds parameterize
  * the PLAN with fresh literals instead of growing lineage over a re-derived
  * Dataset, so no per-round checkpoint is needed (contrast qd6/qt19 where
  * the iterated state is row-shaped). SemDeDup's pairwise stage is the
  * whole point of clustering first: the quadratic work is confined within
  * clusters, and at scale k grows with the corpus (the paper uses k = 50k
  * on LAION) to keep every cluster bounded — the same cap discipline as
  * qd7's banded buckets.
  */
object Clustering {

  /** Fixed-point scale: f32 coordinates quantize to round(x * 1e6). The f32
    * -> f64 widening is exact and round-half-away ties agree between Spark
    * (BigDecimal HALF_UP) and DuckDB (C round) — validated by qs4/qs5.
    */
  private val ScaleF = 1e6

  /** (vec_id, qv ARRAY<BIGINT>) int64 codes of the embeddings table. */
  private def codes(spark: SparkSession, dir: String): DataFrame =
    Tables.parquet(spark, s"$dir/embeddings.parquet").select(
      col("vec_id"),
      transform(col("embedding"),
        v => round(v.cast("double") * lit(ScaleF)).cast("long")).as("qv"))

  /** Half-away-from-zero integer rounding of the M-step mean — matches
    * DuckDB round() and Spark round() on the same double. (math.round would
    * differ on negative .5 ties: floor(x+0.5) rounds -2.5 to -2.)
    */
  private def roundHalfAway(x: Double): Long =
    if (x >= 0) math.floor(x + 0.5).toLong else math.ceil(x - 0.5).toLong

  /** `rounds` Lloyd iterations from a deterministic init (the first k
    * vectors by vec_id). Returns the final-round assignment WITH the code
    * vector attached: (vec_id, cluster, dist_sq, qv). Ties in the argmin
    * resolve to the smallest centroid id; clusters that empty out keep their
    * previous centroid.
    */
  private[ops] def lloydAssign(spark: SparkSession, dir: String,
      k: Int, rounds: Int): DataFrame =
    lloydChain(spark, dir, k, rounds)._1

  /** The Lloyd loop with the FINAL-round centroids exposed alongside the
    * assignment (qc6 needs the model itself for inter-centroid geometry).
    */
  private[ops] def lloydChain(spark: SparkSession, dir: String,
      k: Int, rounds: Int): (DataFrame, Array[Array[Long]]) = {
    require(k >= 1 && rounds >= 1, s"need k >= 1 and rounds >= 1, got $k/$rounds")
    val c = codes(spark, dir)
    c.persist()
    try {
      val init = c.filter(col("vec_id") < k).orderBy("vec_id")
        .select("qv").collect().map(_.getSeq[Long](0).toArray)
      require(init.length == k,
        s"embeddings table has fewer than k=$k vectors with vec_id < $k")
      var cents = init
      var assigned: DataFrame = null
      for (r <- 1 to rounds) {
        assigned = assignToCentroids(c, cents)
        if (r < rounds) {
          // M-step: per-(cluster, dim) sums — k*dim output rows (model-sized)
          val sums = assigned
            .select(col("cluster"), posexplode(col("qv")).as(Seq("pos", "v")))
            .groupBy("cluster", "pos")
            .agg(sum("v").as("s"), count(lit(1)).as("cnt"))
            .collect()
          val next = cents.map(_.clone())
          sums.foreach { row =>
            val cid = row.getAs[Int]("cluster")
            val pos = row.getAs[Int]("pos")
            next(cid)(pos) =
              roundHalfAway(row.getAs[Long]("s").toDouble / row.getAs[Long]("cnt"))
          }
          cents = next
        }
      }
      (assigned, cents)
    } finally c.unpersist()
  }

  /** (cluster id, centroid) pairs for [[GraftFunctions.centroidDists]]. */
  private def byIndex(cents: Array[Array[Long]]): Seq[(Int, Array[Long])] =
    cents.indices.map(cid => cid -> cents(cid))

  /** Map-only E-step: dist(v, c) = |v|^2 - 2 v.c + |c|^2, all int64 via the
    * native dot_i64 against per-centroid array literals; argmin with
    * smallest-cid tie-break via lexicographic array_min over (dist, cid)
    * structs ([[GraftFunctions.centroidDists]]).
    */
  private def assignToCentroids(c: DataFrame, cents: Array[Array[Long]]): DataFrame = {
    val n2 = GraftFunctions.dotI64(col("qv"), col("qv"))
    val candidates = GraftFunctions.centroidDists(col("qv"), col("n2"), byIndex(cents))
    c.withColumn("n2", n2)
      .withColumn("best", array_min(candidates))
      .select(col("vec_id"), col("best.cid").as("cluster"),
        col("best.dist").as("dist_sq"), col("qv"), col("n2"))
  }

  /** qc4: k-means|| seeding (Bahmani, Moseley, Vattani, Kumar & Vassilvitskii
    * 2012, arXiv:1203.6402) — the initialization that makes distributed
    * k-means production-grade: k-means++ needs k SEQUENTIAL corpus passes
    * (one per center), k-means|| needs only `r` rounds regardless of k,
    * oversampling ~l candidates per round and reducing the model-sized
    * candidate set to k at the end. qc1's first-k-by-id init is the toy this
    * replaces on a real corpus.
    *
    * Determinism (the qu/qt22 planted-randomness discipline): the paper's
    * independent coin flip "select x with probability min(1, l*d²(x,C)/φ)"
    * becomes the exact integer predicate
    * `md5_60(vec_id:round) * φ < l * d²(x,C) * 2^60` — the portable 60-bit
    * md5 lane as the uniform draw, evaluated in DECIMAL(38,0) (DuckDB
    * replays in HUGEINT; bounds: d² ≤ dim*(2*1e6)² ≈ 2.6e14, so
    * l*d²*2^60 ≤ ~5e33 and md5*φ stays under 1e38 up to 1e5-row corpora —
    * the suite's scales; φ itself is summed in DECIMAL).
    *
    * Scale shape: each round is ONE map-only pass (min distance against the
    * model-sized candidate literals via native dot_i64 — the qc1 E-step
    * shape) plus a 1-row φ aggregate; selected candidates are collected
    * driver-side and BOUNDED (expected l per round; a require() throws at
    * 8l — the qd6 guard discipline). The weight step is one more map-only
    * argmin + a candidate-sized aggregate, and the final k centers are the
    * top-k candidates by attracted-point weight (ties to the smaller id) —
    * the standard cheap reduction when a full weighted k-means++ re-run is
    * not needed. Nothing data-sized ever reaches the driver.
    *
    * Output: every vector assigned to the k seeded centers —
    * (vec_id, cluster = center's source vec_id, dist_sq).
    */
  def kmeansParallel(spark: SparkSession, dir: String, k: Int = 8,
      l: Int = 16, r: Int = 3): DataFrame = {
    require(k >= 1 && l >= 1 && r >= 1, s"need k/l/r >= 1, got $k/$l/$r")
    val dec = (x: Column) => x.cast(DecimalType(38, 0))
    val c = codes(spark, dir)
    c.persist()
    try {
      val first = c.filter(col("vec_id") === 0L).select("qv").collect()
      require(first.length == 1, "embeddings table needs vec_id 0 as the seed")
      var cands: Vector[(Long, Array[Long])] =
        Vector(0L -> first(0).getSeq[Long](0).toArray)
      for (t <- 1 to r) {
        val d = assignToCands(c, cands)
        val phi = d.agg(sum(dec(col("dist"))).as("phi")).collect()(0).getDecimal(0)
        val md5h = GraftFunctions.md5Hi60(concat(col("vec_id").cast("string"),
          lit(":"), lit(t.toString)))
        val sel = d
          .filter(dec(md5h) * dec(lit(phi)) <
            dec(lit(l.toLong)) * dec(col("dist")) * dec(lit(1152921504606846976L)))
          .select(col("vec_id"), col("qv")).collect()
        require(sel.length <= 8 * l,
          s"k-means|| round $t selected ${sel.length} > ${8 * l} candidates — " +
            "oversampling out of bounds for this corpus/l")
        cands = cands ++ sel.map(row =>
          row.getLong(0) -> row.getSeq[Long](1).toArray)
      }
      require(cands.length >= k,
        s"k-means|| produced ${cands.length} candidates < k=$k — raise l or r")
      // weight = points attracted per candidate (candidate-sized aggregate)
      val weights = assignToCands(c, cands)
        .groupBy(col("cand")).agg(count(lit(1)).as("w")).collect()
        .map(row => row.getLong(0) -> row.getLong(1)).toMap
      val finalCents = cands
        .map { case (id, cv) => (id, cv, weights.getOrElse(id, 0L)) }
        .sortBy { case (id, _, w) => (-w, id) }
        .take(k)
        .map { case (id, cv, _) => (id, cv) }
      assignToCands(c, finalCents)
        .select(col("vec_id"), col("cand").as("cluster"),
          col("dist").as("dist_sq"))
    } finally c.unpersist()
  }

  /** Map-only argmin against candidate (source vec_id, code) literals —
    * the assignToCentroids shape with the candidate's ORIGIN id carried
    * (ties resolve to the smaller source id on both engines).
    */
  private def assignToCands(c: DataFrame,
      cands: Seq[(Long, Array[Long])]): DataFrame = {
    val n2 = GraftFunctions.dotI64(col("qv"), col("qv"))
    val candidates = GraftFunctions.centroidDists(col("qv"), col("n2"), cands, "cand")
    c.withColumn("n2", n2)
      .withColumn("best", array_min(candidates))
      .select(col("vec_id"), col("best.cand").as("cand"),
        col("best.dist").as("dist"), col("qv"))
  }

  /** qc5: k-center greedy coreset (Gonzalez 1985 farthest-point traversal;
    * the coreset selector of Sener & Savarese 2018, arXiv:1708.00489) — the
    * DIVERSITY-maximizing data-selection leg: where qc3 keeps the hardest
    * examples per cluster, k-center keeps the k mutually-farthest examples,
    * a 2-approximation to the optimal covering radius. Active-learning and
    * subset-selection pipelines run exactly this loop over the embedding
    * table.
    *
    * Determinism: the seed is vec_id 0; each round adds the point with the
    * MAXIMUM distance to its nearest chosen center (ties to the smaller
    * vec_id); all distances are exact int64 squared-L2 on the fixed-point
    * codes, so the DuckDB oracle unrolls the k-1 selection rounds as a CTE
    * chain (the qt19 discipline) and replays every pick bit-for-bit.
    *
    * Scale shape: each round is ONE map-only pass (min-dist against the
    * model-sized center literals via native dot_i64 — the qc1 E-step shape)
    * followed by a TakeOrderedAndProject(1) — a 1-row driver collect per
    * round, the qt19 trainer-step bound. k passes total; nothing data-sized
    * reaches the driver, no shuffles beyond the top-1 reduction.
    *
    * Output: every vector assigned to its nearest of the k chosen centers —
    * (vec_id, center = the center's source vec_id, dist_sq); the selected
    * coreset is exactly the rows with vec_id = center.
    */
  def kcenterCoreset(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val c = codes(spark, dir)
    c.persist()
    try {
      val first = c.filter(col("vec_id") === 0L).select("qv").collect()
      require(first.length == 1, "embeddings table needs vec_id 0 as the seed")
      var cents: Vector[(Long, Array[Long])] =
        Vector(0L -> first(0).getSeq[Long](0).toArray)
      for (_ <- 2 to k) {
        val next = assignToCands(c, cents)
          .orderBy(col("dist").desc, col("vec_id").asc)
          .limit(1).select(col("vec_id"), col("qv")).collect()
        require(next.length == 1, "k-center round found no candidate row")
        cents = cents :+
          (next(0).getLong(0) -> next(0).getSeq[Long](1).toArray)
      }
      assignToCands(c, cents)
        .select(col("vec_id"), col("cand").as("center"),
          col("dist").as("dist_sq"))
    } finally c.unpersist()
  }

  /** qc1: final-round k-means assignment — (vec_id, cluster, dist_sq). */
  def kmeansAssign(spark: SparkSession, dir: String,
      k: Int = 8, rounds: Int = 4): DataFrame =
    lloydAssign(spark, dir, k, rounds)
      .select(col("vec_id"), col("cluster"), col("dist_sq"))

  /** qc2: SemDeDup — within each k-means cluster, a vector is DROPPED iff
    * some earlier vector (smaller vec_id, same cluster) sits within the
    * cosine threshold; the earliest member of every near-duplicate
    * neighborhood survives (the qd12 keep-first policy, deterministic and
    * closed-form — no iteration).
    *
    * The threshold compare is EXACT integer math: cos(a,b) >= tau iff
    * dot > 0 and dot^2 * 10^4 >= tau2E4 * |a|^2 * |b|^2, evaluated in
    * DECIMAL(38,0) (dot <= 6.4e13 here, so dot^2 * 10^4 <= 4e31 << 1e38;
    * DuckDB replays in HUGEINT). tau2E4 = round(tau^2 * 10^4). The default
    * 2025 (tau = 0.45) suits the fixture's near-uniform random vectors —
    * real sentence embeddings cluster much tighter and run tau ~ 0.95+
    * (SemDeDup's epsilon-ball), which only CHANGES THE CONSTANT.
    *
    * Output: (vec_id, cluster, dropped) for every vector — the survivor set
    * is dropped = 0.
    */
  def semDedup(spark: SparkSession, dir: String, k: Int = 8, rounds: Int = 4,
      tau2E4: Long = 2025): DataFrame = {
    // materialized once per query (r6; eager per-invocation local checkpoint): both pair sides and the final drop join read the
    // assignment, and each reference re-ran the E-step scan (guide §2.4)
    val m = lloydAssign(spark, dir, k, rounds)
      .localCheckpoint(true)
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val a = m.select(col("cluster"), col("vec_id").as("a_id"),
      col("qv").as("a_qv"), col("n2").as("a_n2"))
    val b = m.select(col("cluster"), col("vec_id").as("b_id"),
      col("qv").as("b_qv"), col("n2").as("b_n2"))
    // equi-join on cluster: the shuffle key is the cluster id, so the
    // quadratic verify never leaves a cluster (no cartesian — asserted in
    // ClusteringSpec); ids-only output
    val dup = a.join(b, Seq("cluster"))
      .where(col("a_id") < col("b_id"))
      .withColumn("dot", GraftFunctions.dotI64(col("a_qv"), col("b_qv")))
      .where(col("dot") > 0 &&
        dec(col("dot")) * dec(col("dot")) * dec(lit(10000L)) >=
          dec(lit(tau2E4)) * dec(col("a_n2")) * dec(col("b_n2")))
      .select(col("b_id").as("dup_id")).distinct()
    m.join(dup, col("vec_id") === col("dup_id"), "left")
      .select(col("vec_id"), col("cluster"),
        col("dup_id").isNotNull.cast("int").as("dropped"))
  }

  /** qc6: CLUSTER-QUALITY evaluation over the qc1 k-means model — the
    * model-selection signal (is k right? did the clustering separate?)
    * every embedding-curation run checks before trusting qc2/qc3's
    * within-cluster decisions. Per non-empty cluster:
    *   - csize, sse        exact int64 member count and within-cluster
    *                       squared-L2 cost (the inertia decomposition)
    *   - msd               mean squared distance, round(sse/csize, 9)
    *   - min_sep_sq        exact int64 squared distance to the nearest
    *                       OTHER non-empty centroid (separation)
    *   - db_r              the cluster's Davies-Bouldin component
    *                       max_j (s_i + s_j) / d(c_i, c_j) with the RMS
    *                       scatter s = sqrt(sse/csize) — the corpus DB
    *                       index is avg(db_r); lower = better separated
    *
    * The RMS-scatter variant is chosen DELIBERATELY: classic DB uses the
    * mean of per-point distances, which would need a per-point sqrt and an
    * order-pinned f64 sum; RMS scatter needs only the already-exact int64
    * SSE and ONE sqrt per cluster — sqrt/divide/add are IEEE-exact on
    * exactly-converted int64s, so every double here replays bit-for-bit
    * (the qt25 sqrt discipline) under the usual round-9.
    *
    * Scale shape: the assignment is qc1's map-only E-step; stats are ONE
    * hash aggregate to k rows with map-side partials; the k×k centroid
    * geometry is computed from the model literals (model-sized, driver
    * math — the qc1 M-step bound) and joined against the k-row stats.
    * Nothing data-sized moves.
    */
  def clusterQuality(spark: SparkSession, dir: String, k: Int = 8,
      rounds: Int = 4): DataFrame = {
    val (m, cents) = lloydChain(spark, dir, k, rounds)
    // k-row stats read twice (own row + as the other-cluster side): cache
    // so each reference doesn't re-run the corpus aggregate (r6)
    val stats = m.groupBy(col("cluster"))
      .agg(count(lit(1)).as("csize"), sum(col("dist_sq")).as("sse"))
      .withColumn("msd",
        round(col("sse").cast("double") / col("csize").cast("double"), 9))
      .withColumn("scat",
        sqrt(col("sse").cast("double") / col("csize").cast("double")))
      .localCheckpoint(true)
    val ss = spark; import ss.implicits._
    val pairs = (for {
      i <- cents.indices; j <- cents.indices if i != j
    } yield (i, j,
      cents(i).zip(cents(j)).map { case (x, y) => (x - y) * (x - y) }.sum))
      .toDF("ci", "cj", "d2")
    val other = stats.select(col("cluster").as("cj_cluster"),
      col("scat").as("scat_j"))
    stats
      .join(pairs, col("cluster") === col("ci"))
      .join(other, col("cj") === col("cj_cluster"))
      .groupBy(col("cluster"), col("csize"), col("sse"), col("msd"))
      .agg(min(col("d2")).as("min_sep_sq"),
        max(round((col("scat") + col("scat_j")) /
          sqrt(col("d2").cast("double")), 9)).as("db_r"))
      .select(col("cluster"), col("csize"), col("sse"), col("msd"),
        col("min_sep_sq"), col("db_r"))
  }

  /** qc7: per-vector SIMPLIFIED SILHOUETTE (Hruschka et al. 2004 — the
    * centroid-based silhouette every large-scale clustering dashboard
    * uses, because the classic Rousseeuw silhouette is O(n²) pairwise):
    * a(i) = distance to OWN centroid, b(i) = distance to the NEAREST
    * OTHER centroid, s(i) = (b − a) / max(a, b) ∈ [−1, 1] — points near
    * 1 sit deep inside their cluster, near 0 on a boundary, below 0 are
    * likely mis-assigned. The point-level companion of qc6's
    * cluster-level report (qc6 says whether k is right; qc7 says WHICH
    * vectors to re-examine — the SemDeDup/pruning trust signal).
    *
    * Float parity: a² and b² are exact int64 (the qc1 E-step math);
    * sqrt/subtract/divide/max on exactly-converted int64s are IEEE-exact
    * (the qt25/qc6 discipline), round 6; the both-zero degenerate case
    * pins to 0 on both engines.
    *
    * Scale shape: ONE extra map-only pass over the assignment (k centroid
    * literals via native dot_i64, zero joins — the qc1 E-step shape);
    * nothing shuffles beyond qc1's own chain.
    *
    * Output: (vec_id, cluster, a_dist, b_dist, silhouette).
    */
  def silhouette(spark: SparkSession, dir: String, k: Int = 8,
      rounds: Int = 4): DataFrame = {
    require(k >= 2, s"silhouette needs k >= 2, got $k")
    val (m, cents) = lloydChain(spark, dir, k, rounds)
    val candidates = GraftFunctions.centroidDists(col("qv"), col("n2"), byIndex(cents))
    val aD = sqrt(col("dist_sq").cast("double"))
    val bD = sqrt(col("b2").cast("double"))
    m.withColumn("b2",
      array_min(filter(candidates, c => c.getField("cid") =!= col("cluster")))
        .getField("dist"))
      .select(col("vec_id"), col("cluster"),
        round(aD, 6).as("a_dist"), round(bD, 6).as("b_dist"),
        when(greatest(aD, bD) === lit(0.0d), lit(0.0d))
          .otherwise(round((bD - aD) / greatest(aD, bD), 6))
          .as("silhouette"))
  }

  /** qc3: density-based prototype pruning (Sorscher et al. 2022,
    * arXiv:2206.14486 — "Beyond neural scaling laws"): within each k-means
    * cluster, KEEP the ceil(keepFrac * size) members FARTHEST from their
    * centroid (the hard/atypical examples; the easy prototypes near the
    * center are the ones data pruning discards at scale), ties to the
    * smaller vec_id. The window partitions by cluster — bounded partitions
    * by construction (the qd8 survivorship argument: k grows with the
    * corpus, so a cluster never approaches corpus size).
    *
    * Output: every vector with its within-cluster hardness rank and the
    * keep decision — (vec_id, cluster, dist_sq, hardness_rank, kept).
    */
  def prototypePrune(spark: SparkSession, dir: String, k: Int = 8,
      rounds: Int = 4, keepFrac: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = lloydAssign(spark, dir, k, rounds)
    val w = Window.partitionBy(col("cluster"))
    val ordered = w.orderBy(col("dist_sq").desc, col("vec_id").asc)
    m.select(col("vec_id"), col("cluster"), col("dist_sq"))
      .withColumn("hardness_rank", row_number().over(ordered))
      .withColumn("csize", count(lit(1)).over(w))
      .withColumn("kept",
        (col("hardness_rank") <= ceil(col("csize") * lit(keepFrac))).cast("int"))
      .drop("csize")
  }
}
