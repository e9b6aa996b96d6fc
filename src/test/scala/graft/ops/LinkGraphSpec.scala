package graft.ops

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** qg1 host PageRank — the distributed iterative dataflow is compared
  * EXACTLY (int64 for int64) against an independent single-threaded
  * reference implementation of the same fixed-point recurrence, computed
  * here from first principles over the planted edge construction.
  */
class LinkGraphSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private var spark: SparkSession = _
  private var dir: String = _
  private val ids: Seq[Long] = (0L until 50L) ++ Seq(96L, 128L, 130L)

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-linkgraph-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dir = Files.createTempDirectory("graft-lg").toString
    val ss = spark; import ss.implicits._
    ids.map(id => (id, s"doc $id", 10L))
      .toDF("doc_id", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** The recurrence, single-threaded: ranks start at 10^12; each round
    * r'(v) = 15e10 + (85 * sum over in-edges of r(u)/outdeg(u)) / 100,
    * every division an integer floor, contributions to non-source hosts
    * dropped (the graph is restricted to crawled hosts).
    */
  private def reference(k: Int): Map[Long, (Long, Long)] = {
    val edges = ids.map(id => (id % 32, ((id % 32) * 5 + 1 + id % 3) % 32))
      .distinct
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val nodes = deg.keySet
    var r: Map[Long, Long] = nodes.map(_ -> 1000000000000L).toMap
    for (_ <- 1 to k) {
      val in = edges
        .filter { case (_, d) => nodes.contains(d) }
        .groupBy(_._2)
        .map { case (d, es) =>
          d -> es.map { case (s, _) => r(s) / deg(s) }.sum
        }
      r = nodes.map(n =>
        n -> (150000000000L + in.get(n).map(85L * _ / 100).getOrElse(0L))).toMap
    }
    r.map { case (n, v) => n -> ((deg(n), v)) }
  }

  test("qg1: distributed ranks equal the single-threaded recurrence, exactly") {
    val out = LinkGraph.hostPagerank(spark, dir).collect()
      .map(r => r.getAs[Long]("host_id") ->
        ((r.getAs[Long]("out_deg"), r.getAs[Long]("rank_fp")))).toMap
    val ref = reference(5)
    assert(out.keySet == ref.keySet)
    ref.foreach { case (n, v) =>
      assert(out(n) == v, s"host $n: spark ${out(n)} vs reference $v")
    }
    // at least one host must differ from the uniform start (mass moved)
    assert(out.values.map(_._2).toSet.size > 1)
    // a host nobody links to sits at exactly the teleport mass
    val inLinked = ids.map(id => ((id % 32) * 5 + 1 + id % 3) % 32).toSet
    val orphanRanks = out.collect {
      case (n, (_, r)) if !inLinked.contains(n) => r
    }
    assert(orphanRanks.nonEmpty && orphanRanks.forall(_ == 150000000000L))
  }

  test("qg11: personalized ranks equal the single-threaded recurrence, exactly") {
    val seeds = Set(1L, 9L, 17L)
    // first-principles replay of the seeded fixed point over the planted graph
    val edges = ids.map(id => (id % 32, ((id % 32) * 5 + 1 + id % 3) % 32)).distinct
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    val nodes = deg.keySet
    var r: Map[Long, Long] =
      nodes.map(n => n -> (if (seeds(n)) 1000000000000L else 0L)).toMap
    for (_ <- 1 to 5) {
      val in = edges.filter { case (_, d) => nodes.contains(d) }
        .groupBy(_._2).map { case (d, es) =>
          d -> es.map { case (s, _) => r(s) / deg(s) }.sum
        }
      r = nodes.map(n => n ->
        ((if (seeds(n)) 150000000000L else 0L) +
          in.get(n).map(85L * _ / 100).getOrElse(0L))).toMap
    }
    val out = LinkGraph.hostSeedPagerank(spark, dir).collect()
      .map(x => x.getAs[Long]("host_id") ->
        ((x.getAs[Boolean]("is_seed"), x.getAs[Long]("rank_fp")))).toMap
    assert(out.keySet == nodes)
    nodes.foreach { n =>
      assert(out(n) == ((seeds(n), r(n))), s"host $n: spark ${out(n)} vs reference ${(seeds(n), r(n))}")
    }
    // a host with positive rank must be BFS-reachable from a seed
    var reach = seeds.filter(nodes.contains)
    var grew = true
    while (grew) {
      val next = reach ++ edges.collect { case (s, d) if reach(s) => d }
      grew = next.size > reach.size; reach = next
    }
    out.foreach { case (n, (_, rank)) =>
      if (rank > 0L) assert(reach(n), s"host $n has rank $rank but is not seed-reachable")
    }
    // mass actually leaves the seeds: some non-seed host ranks positive
    assert(out.exists { case (n, (_, rank)) => !seeds(n) && rank > 0L })
  }

  test("qg1: re-running produces identical ranks (determinism)") {
    val a = LinkGraph.hostPagerank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val b = LinkGraph.hostPagerank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(a == b)
  }

  test("qg3: iterated HyperBall registers equal the sketch of the exact BFS ball") {
    val rounds = 4; val m = 64
    // independent reference: the planted chain graph from first principles,
    // exact radius-`rounds` BFS balls, and each ball's registers as the
    // register-wise max of its members' single-item sketches — union of HLL
    // sketches IS elementwise max, so the iterated sketch must equal the
    // sketch of the set it claims to cover, bit for bit
    val hosts = ids.map(_ % 64).distinct
    val e0 = hosts.map(h => (h, if (Set(8L, 19L, 44L, 63L)(h)) h else h + 1))
    val adj = (e0 ++ e0.map(_.swap)).distinct
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    def ballMembers(v: Long): Set[Long] = {
      var cur = Set(v)
      for (_ <- 1 to rounds)
        cur = cur ++ cur.flatMap(u => adj.getOrElse(u, Set.empty[Long]))
      cur
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    def registers(members: Set[Long]): Array[Int] = {
      val regs = new Array[Int](m)
      members.foreach { v =>
        md.reset()
        val h = graft.functions.GraftImpl.md5Halves(
          md.digest(v.toString.getBytes("UTF-8")))._1
        val bucket = (h & (m - 1)).toInt
        val w = h >>> 6
        val rank =
          if (w == 0L) 55 else 55 - (64 - java.lang.Long.numberOfLeadingZeros(w))
        if (rank > regs(bucket)) regs(bucket) = rank
      }
      regs
    }
    val got = LinkGraph.hostHyperball(spark, dir, rounds, m).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    val nodes = adj.keySet
    assert(got.keySet == nodes.flatMap(n => (0 until m).map(b => (n, b))))
    nodes.foreach { n =>
      val want = registers(ballMembers(n))
      (0 until m).foreach { b =>
        assert(got((n, b)) == want(b),
          s"host $n bucket $b: spark ${got((n, b))} vs exact-ball ${want(b)}")
      }
    }
    // a chain interior node's radius-4 ball holds 9 hosts: registers must
    // be strictly richer than its own single-item sketch (growth happened)
    val interior = 30L
    assert(registers(ballMembers(interior)).sum > registers(Set(interior)).sum)
    // the merge is a TypedImperativeAggregate: ObjectHashAggregate planned
    // (hostHyperball's own rounds hide behind localCheckpoint scans, so
    // assert on an un-checkpointed sketch -> merge chain directly)
    import org.apache.spark.sql.functions.col
    val sk = spark.range(4)
      .groupBy((col("id") % 2).as("k"))
      .agg(graft.functions.GraftFunctions
        .hllSketch(col("id").cast("string"), 16).as("sk"))
    val plan = sk.groupBy()
      .agg(graft.functions.GraftFunctions.hllMerge(col("sk"), 16).as("u"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  test("qg4 harmonic centrality matches an exact-ball estimate replay") {
    val rounds = 4
    val m = 64
    val hosts = (0L until 64L).toVector
    val e0 = hosts.map(h => (h, if (Set(8L, 19L, 44L, 63L)(h)) h else h + 1))
    val adj = (e0 ++ e0.map(_.swap)).distinct
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    def ballMembers(v: Long, r: Int): Set[Long] = {
      var cur = Set(v)
      for (_ <- 1 to r) cur = cur ++ cur.flatMap(u => adj.getOrElse(u, Set.empty[Long]))
      cur
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    def registers(members: Set[Long]): Array[Int] = {
      val regs = new Array[Int](m)
      members.foreach { v =>
        md.reset()
        val h = graft.functions.GraftImpl.md5Halves(
          md.digest(v.toString.getBytes("UTF-8")))._1
        val bucket = (h & (m - 1)).toInt
        val w = h >>> 6
        val rank =
          if (w == 0L) 55 else 55 - (64 - java.lang.Long.numberOfLeadingZeros(w))
        if (rank > regs(bucket)) regs(bucket) = rank
      }
      regs
    }
    def round9(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue
    def round6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val cNum = 0.709 * m * m * math.pow(2.0, 55)
    def estimate(regs: Array[Int]): Double = {
      val v = regs.count(_ == 0).toLong
      val s2 = regs.map(r => 1L << (55 - r)).sum
      val raw = cNum / s2
      round9(if (raw <= 2.5 * m && v > 0) m * math.log(m.toDouble / v) else raw)
    }
    val got = LinkGraph.hostHarmonic(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got.keySet == hosts.toSet)
    hosts.foreach { h =>
      val ests = (0 to rounds).map(r => estimate(registers(ballMembers(h, r))))
      val harmonic = round6((1 to rounds)
        .map(r => (ests(r) - ests(r - 1)) / r.toDouble).reduceLeft(_ + _))
      assert(got(h) == ((round6(ests(rounds)), harmonic)),
        s"host $h: got ${got(h)} want (${round6(ests(rounds))}, $harmonic)")
    }
    // centrality sanity on the planted chains: a 25-chain interior node
    // reaches more hosts per radius than its chain endpoint
    assert(got(32L)._2 > got(20L)._2,
      s"interior 32 (${got(32L)._2}) should outrank endpoint 20 (${got(20L)._2})")
  }

  test("qg10 neighborhood function and effective diameter replay exactly") {
    val rounds = 4; val m = 64
    val hosts = (0L until 64L).toVector
    val e0 = hosts.map(h => (h, if (Set(8L, 19L, 44L, 63L)(h)) h else h + 1))
    val adj = (e0 ++ e0.map(_.swap)).distinct
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    def ballMembers(v: Long, r: Int): Set[Long] = {
      var cur = Set(v)
      for (_ <- 1 to r) cur = cur ++ cur.flatMap(u => adj.getOrElse(u, Set.empty[Long]))
      cur
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    def registers(members: Set[Long]): Array[Int] = {
      val regs = new Array[Int](m)
      members.foreach { v =>
        md.reset()
        val h = graft.functions.GraftImpl.md5Halves(
          md.digest(v.toString.getBytes("UTF-8")))._1
        val bucket = (h & (m - 1)).toInt
        val w = h >>> 6
        val rank =
          if (w == 0L) 55 else 55 - (64 - java.lang.Long.numberOfLeadingZeros(w))
        if (rank > regs(bucket)) regs(bucket) = rank
      }
      regs
    }
    def round9(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue
    def round6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val cNum = 0.709 * m * m * math.pow(2.0, 55)
    def estimate(regs: Array[Int]): Double = {
      val v = regs.count(_ == 0).toLong
      val s2 = regs.map(r => 1L << (55 - r)).sum
      val raw = cNum / s2
      round9(if (raw <= 2.5 * m && v > 0) m * math.log(m.toDouble / v) else raw)
    }
    // NF(r): per-host round-r estimates folded in SORTED order (the op's
    // array_sort + left-fold pinning, replayed here from exact BFS balls)
    val nf = (0 to rounds).map { r =>
      hosts.map(h => estimate(registers(ballMembers(h, r))))
        .sorted.foldLeft(0.0)(_ + _)
    }
    val target = nf(rounds) * 0.9
    val eff =
      if (nf(0) >= target) 0.0
      else (1 to rounds).find(r => nf(r - 1) < target && nf(r) >= target)
        .map(r => (r - 1).toDouble + (target - nf(r - 1)) / (nf(r) - nf(r - 1)))
        .getOrElse(rounds.toDouble)
    val got = LinkGraph.hostNeighborhood(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2),
        r.getDouble(3)))).toMap
    assert(got.keySet == (0 to rounds).map(_.toLong).toSet)
    (0 to rounds).foreach { r =>
      val want = (round6(nf(r)), round6(nf(r) / nf(rounds)), round6(eff))
      assert(got(r.toLong) == want, s"radius $r: got ${got(r.toLong)} want $want")
    }
    // the statistic means something: NF grows strictly until the chain
    // diameters saturate, and the interpolated diameter is interior
    assert(nf(0) < nf(1) && nf(1) < nf(rounds))
    assert(eff > 0.0 && eff < rounds.toDouble, s"eff=$eff")
  }

  test("qg5 triangle counts match a brute-force adjacency enumeration") {
    // independent reference: enumerate every neighbor pair per host over
    // the same planted edge set — no orientation, no joins
    val hosts = (0L until 64L).toVector
    val raw = hosts.flatMap { h =>
      Seq((h, (h + 1) % 64), (h, (h + 2) % 64)) ++
        (if (h % 8 == 0) Seq((h, (h + 4) % 64)) else Nil)
    }
    val und = raw.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val adj = (und ++ und.map(_.swap))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val edgeSet = und.toSet
    def triOf(h: Long): Long = {
      val ns = adj(h).toVector.sorted
      ns.combinations(2).count { case Vector(x, y) =>
        edgeSet.contains((math.min(x, y), math.max(x, y)))
      }.toLong
    }
    def round6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val got = LinkGraph.hostTriangles(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == hosts.toSet)
    hosts.foreach { h =>
      val d = adj(h).size.toLong
      val t = triOf(h)
      val cc = if (d >= 2) round6(2.0 * t / (d * (d - 1))) else 0.0
      assert(got(h) == ((d, t, cc)), s"host $h: got ${got(h)} want ($d, $t, $cc)")
    }
    // every triangle is counted at exactly three hosts: global sum = 3T
    val total = hosts.map(triOf).sum
    assert(total % 3 == 0 && total == got.values.map(_._2).sum,
      s"triangle mass mismatch: $total")
    // the planted closure structure: 64 consecutive triples + 8 {h,h+2,h+4}
    assert(total == 3 * 72, s"expected 72 distinct triangles, got ${total / 3}")
  }

  test("qg6: label propagation recovers the planted blocks CC would merge") {
    val sf = "/root/testdata/sf0.001" // all 64 hosts present
    val rows = LinkGraph.hostCommunities(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 64)
    // every host lands in its planted block (community = block minimum)
    rows.foreach { case (h, c, sz) =>
      assert(c == h - h % 16, s"host $h got community $c")
      assert(sz == 16L, s"community $c size $sz")
    }
    // the contrast claim: the same graph taken UNDIRECTED is one connected
    // component (the bridges link all four blocks), so qg2-style CC would
    // merge what LPA correctly separates
    val ss = spark; import ss.implicits._
    val hosts = (0L until 64L)
    val directed = hosts.flatMap { h =>
      val b = h - h % 16
      Seq((h, b + (h % 16 + 1) % 16), (h, b + (h % 16 + 15) % 16),
        (h, b + (h % 16 + 5) % 16)) ++
        (if (h % 16 == 0 && h > 0) Seq((h, h - 1)) else Nil)
    }
    val und = (directed ++ directed.map(_.swap)).distinct
      .toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(und, maxRounds = 16).collect()
    assert(cc.map(_.getLong(1)).distinct.length == 1,
      "undirected graph should be ONE component")
  }

  test("qg6: a partial corpus yields no phantom vote targets") {
    // this spec's own dir only observes hosts 0..49: every edge into an
    // unobserved host must be dropped, not minted as a new node
    val rows = LinkGraph.hostCommunities(spark, dir).collect()
      .map(r => r.getLong(0))
    assert(rows.length == 50, s"expected 50 observed hosts, got ${rows.length}")
    assert(rows.forall(h => h >= 0 && h < 50), rows.sorted.mkString(","))
  }

  test("qg7: 2-core keeps exactly the clique and the cycle after the cascade") {
    // planted graph on hosts 0..31: 6-clique {0..5} + path 5-6-..-20 +
    // 9-cycle {21..29} + pendant pair 30-31. At k=2 the path peels one
    // node per wave from the free end (~15 waves), the pendant pair dies
    // in wave 1, cycles and cliques are 2-cores by construction.
    val out = LinkGraph.hostKcore(spark, dir, k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = (0L to 5L).map(_ -> 5L).toMap ++ (21L to 29L).map(_ -> 2L)
    assert(out == expect, out.toSeq.sorted.mkString(","))
  }

  test("qg7: 3-core peels the cycle too, keeping only the clique") {
    val out = LinkGraph.hostKcore(spark, dir, k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == (0L to 5L).map(_ -> 5L).toMap, out.toSeq.sorted.mkString(","))
  }

  test("qg7: the maxRounds guard throws instead of looping past the budget") {
    val e = intercept[IllegalArgumentException] {
      LinkGraph.hostKcore(spark, dir, k = 2, maxRounds = 3).collect()
    }
    assert(e.getMessage.contains("did not converge"), e.getMessage)
  }

  /** qg8's recurrence, single-threaded: the qg1 edge construction over
    * observed hosts, then per round the un-normalized sums followed by the
    * integer max-rescale (floor divide by max(1, max/10^6)) — the same
    * fixed-point arithmetic the distributed op and the DuckDB oracle run.
    */
  private def hitsReference(k: Int): Map[Long, (Long, Long)] = {
    val edges0 = ids.map(id => (id % 32, ((id % 32) * 5 + 1 + id % 3) % 32))
      .distinct
    val nodes = edges0.map(_._1).toSet
    val edges = edges0.filter { case (_, d) => nodes.contains(d) }
    var h: Map[Long, Long] = nodes.map(_ -> 1000000L).toMap
    var a: Map[Long, Long] = Map.empty
    for (_ <- 1 to k) {
      val araw = nodes.map(v =>
        v -> edges.filter(_._2 == v).map(e => h(e._1)).sum).toMap
      val sa = math.max(araw.values.max / 1000000L, 1L)
      a = araw.map { case (v, x) => v -> x / sa }
      val hraw = nodes.map(v =>
        v -> edges.filter(_._1 == v).map(e => a(e._2)).sum).toMap
      val sh = math.max(hraw.values.max / 1000000L, 1L)
      h = hraw.map { case (v, x) => v -> x / sh }
    }
    nodes.map(n => n -> ((a(n), h(n)))).toMap
  }

  test("qg8: distributed HITS equals the single-threaded recurrence, exactly") {
    val out = LinkGraph.hostHits(spark, dir).collect()
      .map(r => r.getAs[Long]("host_id") ->
        ((r.getAs[Long]("auth_fp"), r.getAs[Long]("hub_fp")))).toMap
    val ref = hitsReference(4)
    assert(out.keySet == ref.keySet)
    ref.foreach { case (n, v) =>
      assert(out(n) == v, s"host $n: spark ${out(n)} vs reference $v")
    }
    // the decomposition is non-degenerate: scores separate hosts in BOTH
    // roles (authority mass concentrated by in-links, hub mass by out-fan)
    assert(out.values.map(_._1).toSet.size > 1, "authority scores all equal")
    assert(out.values.map(_._2).toSet.size > 1, "hub scores all equal")
    // a host nobody links to has zero authority after round 1, forever
    val inLinked = ids.map(id => ((id % 32) * 5 + 1 + id % 3) % 32).toSet
    val orphanAuth = out.collect {
      case (n, (a, _)) if !inLinked.contains(n) => a
    }
    assert(orphanAuth.nonEmpty && orphanAuth.forall(_ == 0L))
    // max-rescaling keeps the band bounded: every score fits well inside
    // int64 regardless of rounds (the scale argument, asserted)
    out.values.foreach { case (a, h) =>
      assert(a >= 0L && a < 64000000L && h >= 0L && h < 64000000L, (a, h))
    }
  }

  test("qg9: mixing metrics equal a first-principles replay") {
    def round6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val e0 = ids.map(id => (id % 32, ((id % 32) * 5 + 1 + id % 3) % 32))
      .distinct
    val nodes = e0.map(_._1).toSet
    val e = e0.filter { case (_, d) => nodes.contains(d) }
    val ns = e.filter { case (s, d) => s != d }
    val nsSet = ns.toSet
    val nRecip = ns.count { case (s, d) => nsSet.contains((d, s)) }.toLong
    val eb = (ns ++ ns.map(_.swap)).distinct
    val dg = eb.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
    val m = eb.size.toLong
    val sx = eb.map { case (s, _) => dg(s) }.sum
    val sxy = eb.map { case (s, d) => dg(s) * dg(d) }.sum
    val sxx = eb.map { case (s, _) => dg(s) * dg(s) }.sum
    val nSelf = e.count { case (s, d) => s == d }.toLong
    val wantRecip = round6(nRecip.toDouble / (e.size - nSelf).toDouble)
    val den = m * sxx - sx * sx
    val wantAssort = round6((m * sxy - sx * sx).toDouble / den.toDouble)
    val row = LinkGraph.hostMixing(spark, dir).collect()
    assert(row.length == 1)
    val r = row(0)
    assert(r.getLong(0) == nodes.size.toLong)
    assert(r.getLong(1) == e.size.toLong)
    assert(r.getLong(2) == nSelf)
    assert(r.getLong(3) == nRecip)
    assert(r.getDouble(4) == wantRecip,
      s"reciprocity ${r.getDouble(4)} vs $wantRecip")
    assert(den != 0L && r.getDouble(5) == wantAssort,
      s"assortativity ${r.getDouble(5)} vs $wantAssort")
    // structural sanity: the affine planted graph is sparse and directed —
    // reciprocity well below 1, and both metrics are in their ranges
    assert(r.getDouble(4) >= 0.0 && r.getDouble(4) < 1.0)
    assert(r.getDouble(5) >= -1.0 && r.getDouble(5) <= 1.0)
  }

  test("qg8: re-running produces identical scores (determinism)") {
    val a = LinkGraph.hostHits(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val b = LinkGraph.hostHits(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(a == b)
  }

  test("qg12: FW-BW coloring recovers the planted bow-tie exactly") {
    val got = LinkGraph.hostScc(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    val exp =
      (0L to 7L).map(i => (i, i, 1L, "in")) ++
        (8L to 15L).map(i => (i, 8L, 8L, "core")) ++
        (20L to 23L).map(i => (i, 20L, 4L, "out")) ++
        (24L to 27L).map(i => (i, i, 1L, "out")) ++
        Seq((28L, 28L, 2L, "other"), (29L, 28L, 2L, "other")) ++
        (30L to 35L).map(i => (i, i, 1L, "other"))
    assert(got.toSeq == exp, got.mkString("\n"))
  }

  test("qg12: the descending chains genuinely force a third peel iteration") {
    // 35->34->31 peels one node per iteration under max-coloring: a
    // 2-iteration budget must throw, proving the loop is not a single
    // pass in disguise
    intercept[IllegalArgumentException](
      LinkGraph.hostScc(spark, dir, maxIters = 2))
  }

  test("qg12: the coloring budget throws instead of looping past it") {
    // max-coloring floods the 8-deep IN chain one hop per round, so two
    // rounds cannot reach the fixpoint; the coloring loop is the first to
    // hit the budget
    val e = intercept[IllegalArgumentException](
      LinkGraph.hostScc(spark, dir, maxRounds = 2))
    assert(e.getMessage.contains("SCC coloring did not converge"), e.getMessage)
  }

  /** `body`'s value and the number of Spark jobs it started. */
  private def withJobCount[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.ListenerBusTestDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.ListenerBusTestDrain(spark.sparkContext)
      (r, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("qg7 and qg12: one job per materialization in every loop") {
    // each peel wave, coloring, mark and reachability round checkpoints its
    // state and counts what the loop watches in ONE job; a separate
    // count() per round (and per edge list) would add a job each
    val (core, kJobs) = withJobCount(LinkGraph.hostKcore(spark, dir, k = 2).collect())
    assert(core.length == 15, core.mkString(","))
    val (scc, sJobs) = withJobCount(LinkGraph.hostScc(spark, dir).collect())
    assert(scc.length == 32, scc.mkString(","))
    // measured 63 and 89; a count() beside every checkpoint ran 82 and 137
    assert(kJobs <= 63, s"$kJobs jobs for a qg7 call")
    assert(sJobs <= 89, s"$sJobs jobs for a qg12 call")
  }

  test("qg12: re-running produces the identical decomposition") {
    val a = LinkGraph.hostScc(spark, dir).collect().map(_.toString).sorted.toSeq
    val b = LinkGraph.hostScc(spark, dir).collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }
}
