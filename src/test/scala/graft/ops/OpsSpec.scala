package graft.ops

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral tests for the dedup / similarity / text-analysis operators on
  * crafted corpora with known duplicates (the sfDir tables have none).
  */
class OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private var spark: SparkSession = _
  private var dupDir: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ops-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dupDir = Files.createTempDirectory("graft-dup").toString
    writeDupCorpus()
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Crafted corpus: 0/1 exact dups (case+ws variants), 2/3 near dups
    * (one word changed), 4/5 near dups (two words), 6..9 unrelated.
    */
  private def writeDupCorpus(): Unit = {
    val ss = spark; import ss.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val rows = Seq(
      (0L, base, "en", "src0", base.length.toLong),
      (1L, "The quick brown fox  jumps over the lazy dog again and again today", "en", "src0", 60L),
      (2L, base + " extra tail words here", "en", "src1", 80L),
      (3L, base.replace("lazy", "sleepy") + " extra tail words here", "en", "src1", 80L),
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "src2", 50L),
      (5L, "alpha beta gamma delta epsilon zeta eta theta iota lambda", "en", "src2", 50L),
      (6L, "completely different content about spark catalyst optimizers", "en", "src3", 60L),
      (7L, "weather report sunny tomorrow with light winds expected", "en", "src3", 55L),
      (8L, "numerical columns one two three four five six seven eight", "en", "src4", 55L),
      (9L, "den Hund und die Katze und das Haus und der Baum ist mit", "de", "src4", 50L)
    )
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dupDir/documents.parquet")
  }

  test("qt36: under-full KMV sketches make every set estimate EXACT") {
    // the crafted corpus has far fewer than k=256 distinct bigrams per half,
    // so the sketches retain the whole hash sets and every estimator must
    // collapse to the exact count — the under-full branch, pinned
    val row = TextAnalysis.kmvSetOps(spark, dupDir).collect()(0)
    val get = (n: String) => row.getAs[Long](n)
    val getD = (n: String) => row.getAs[Double](n)
    assert(get("sk_a_size") < 256 && get("sk_b_size") < 256)
    assert(getD("est_a") == get("exact_a").toDouble)
    assert(getD("est_b") == get("exact_b").toDouble)
    assert(getD("est_union") == get("exact_union").toDouble)
    assert(getD("est_inter") == get("exact_inter").toDouble)
    assert(get("hits") == get("exact_inter"),
      "under-full merged sketch must contain exactly the true intersection")
    // sanity on the crafted split: dup pairs land on opposite parities, so
    // the halves genuinely share vocabulary
    assert(get("exact_inter") > 0 &&
      get("exact_inter") < math.min(get("exact_a"), get("exact_b")))
  }

  test("qt36: full sketches estimate within the KMV error bound") {
    // sf0.001 has a real bigram vocabulary (both halves >> k): the estimate must
    // sit within ~4 standard errors (4/sqrt(k-2)) of the exact count
    val row = TextAnalysis.kmvSetOps(spark, "/root/testdata/sf0.001").collect()(0)
    val tol = 4.0 / math.sqrt(254.0)
    for ((e, x) <- Seq("est_a" -> "exact_a", "est_b" -> "exact_b",
        "est_union" -> "exact_union")) {
      val est = row.getAs[Double](e)
      val exact = row.getAs[Long](x).toDouble
      assert(row.getAs[Long]("sk_a_size") == 256L)
      assert(math.abs(est - exact) / exact <= tol,
        s"$e=$est vs $x=$exact exceeds ${tol * 100}% KMV bound")
    }
  }

  test("qm8: dHash through the real codec equals the pixel-formula replay") {
    val ss = spark; import ss.implicits._
    val dir = Files.createTempDirectory("graft-dhash").toString
    val ids = Seq(0L, 1L, 7L, 8L, 16L, 123L, 300L, 4096L)
    ids.map(id => (id, s"img $id", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // independent reference: the dHash from the pixel CLOSED FORM alone —
    // the op goes through encode->zlib->decode->unfilter, so equality is
    // the codec-vs-formula differential (the oracle's claim, in-process)
    def ref(id: Long): (Int, Int, Long, Long) = {
      val w = 8 + (id % 17).toInt; val h = 8 + ((id * 3) % 13).toInt
      val sums = Array.ofDim[Long](8, 9); val cnts = Array.ofDim[Long](8, 9)
      for (y <- 0 until h; x <- 0 until w) {
        val gray = ((7 * id + 13 * x + 31 * y) % 256) +
          ((11 * id + 17 * x + 5 * y) % 256) +
          ((3 * id + 29 * x + 23 * y) % 256)
        sums(y * 8 / h)(x * 9 / w) += gray
        cnts(y * 8 / h)(x * 9 / w) += 1
      }
      var hi = 0L; var lo = 0L
      for (i <- 0 until 64) {
        val r = i / 8; val c = i % 8
        if (sums(r)(c + 1) * cnts(r)(c) > sums(r)(c) * cnts(r)(c + 1)) {
          if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
        }
      }
      (w, h, hi, lo)
    }
    val got = Multimodal.imageDhash(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getString(5)))).toMap
    assert(got.keySet == ids.toSet)
    ids.foreach { id =>
      val (w, h, hi, lo) = ref(id)
      assert(got(id) == ((w, h, hi, lo, "")),
        s"doc $id: ${got(id)} vs ($w,$h,$hi,$lo)")
    }
    // keys are non-trivial and halves stay inside uint32 (portability)
    assert(got.values.map(v => (v._3, v._4)).toSet.size > 1)
    got.values.foreach { v =>
      assert(v._3 >= 0 && v._3 < (1L << 32) && v._4 >= 0 && v._4 < (1L << 32))
    }
  }

  test("qm9: blocked near-dup pairs equal the brute-force closed form") {
    val ss = spark; import ss.implicits._
    val dir = Files.createTempDirectory("graft-neardup").toString
    val ids = Seq(0L, 1L, 7L, 8L, 16L, 123L, 300L, 4096L)
    ids.map(id => (id, s"img $id", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // closed-form fingerprints for both variants (no codec, no Spark)
    def fp(id: Long, variant: Int): (Long, Long) = {
      val w = 8 + (id % 17).toInt; val h = 8 + ((id * 3) % 13).toInt
      val sums = Array.ofDim[Long](8, 9); val cnts = Array.ofDim[Long](8, 9)
      for (y <- 0 until h; x <- 0 until w) {
        val r0 = ((7 * id + 13 * x + 31 * y) % 256).toInt
        val r = if (variant == 1) math.min(r0 + 8, 255) else r0
        val gray = r + ((11 * id + 17 * x + 5 * y) % 256).toInt +
          ((3 * id + 29 * x + 23 * y) % 256).toInt
        sums(y * 8 / h)(x * 9 / w) += gray
        cnts(y * 8 / h)(x * 9 / w) += 1
      }
      var hi = 0L; var lo = 0L
      for (i <- 0 until 64) {
        val r = i / 8; val c = i % 8
        if (sums(r)(c + 1) * cnts(r)(c) > sums(r)(c) * cnts(r)(c + 1)) {
          if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
        }
      }
      (hi, lo)
    }
    val fps = (for (id <- ids; v <- 0 to 1) yield (id * 2 + v) -> fp(id, v)).toMap
    val expected = (for {
      a <- fps.keys; b <- fps.keys if a < b
      ham = java.lang.Long.bitCount(fps(a)._1 ^ fps(b)._1) +
        java.lang.Long.bitCount(fps(a)._2 ^ fps(b)._2)
      if ham <= 8
    } yield (a, b, a / 2, b / 2, ham.toLong)).toSet
    val got = Multimodal.imageNearDupPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    // the Manku 2-of-10-block bucket join is LOSSLESS at the threshold:
    // exact set equality with the unblocked brute force through the codec
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
    // the fixture guarantee the op is useful for: every doc's clamped
    // re-export stays within Hamming 8 of its original (an unclamped
    // uniform shift would be Hamming 0 — the cross-multiply cancels it)
    ids.foreach { id =>
      assert(got.exists(p => p._1 == id * 2 && p._2 == id * 2 + 1),
        s"doc $id: re-export pair not admitted")
    }
  }

  test("qm10: audio features through the real parser equal the sample formula") {
    val ss = spark; import ss.implicits._
    val dir = Files.createTempDirectory("graft-audiofp").toString
    // even AND odd ids: odd ones carry the LIST filler chunk, so the
    // parser's chunk scan is part of what the differential covers
    val ids = Seq(0L, 1L, 2L, 3L, 256L, 257L, 1000L, 1001L)
    ids.map(id => (id, s"doc $id", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def ref(id: Long): (Long, Long, Long, Long) = {
      val n = 256 + (id % 257).toInt
      def s(i: Int) = ((137 * id + 4099 * i) % 65536).toInt - 32768
      val e = new Array[Long](9); val c = new Array[Long](9)
      var zc = 0L; var tot = 0L
      for (i <- 0 until n) {
        val v = s(i).toLong
        e(i * 9 / n) += v * v; c(i * 9 / n) += 1; tot += v * v
        if (i > 0 && (s(i) < 0) != (s(i - 1) < 0)) zc += 1
      }
      var fp = 0L
      for (f <- 0 until 8) if (e(f + 1) * c(f) > e(f) * c(f + 1)) fp |= 1L << f
      (n.toLong, zc, tot, fp)
    }
    val got = Multimodal.audioFingerprint(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))).toMap
    assert(got.keySet == ids.toSet)
    ids.foreach { id =>
      val (n, zc, tot, fp) = ref(id)
      assert(got(id) == ((n, zc, tot, fp, "")),
        s"doc $id: ${got(id)} vs ($n,$zc,$tot,$fp)")
    }
    // features are non-degenerate: fingerprints differ across docs and
    // the sawtooth stream actually crosses zero
    assert(got.values.map(_._4).toSet.size > 1)
    assert(got.values.forall(_._2 > 0))
  }

  test("qt43: waterfilled token budget replays and conserves the budget") {
    val ss = spark; import ss.implicits._
    val dir = Files.createTempDirectory("graft-budget").toString
    // uneven sources: token mass varies ~6x, so capacity order is real
    val rows = for {
      (src, reps) <- Seq(("alpha", 2), ("beta", 5), ("gamma", 12),
        ("delta", 3), ("epsilon", 8))
      i <- 0 until reps
    } yield (src.hashCode.toLong * 100 + i,
      Seq.fill(4 + i)("w").mkString(" "), "en", src, 5L)
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // independent reference: the sequential waterfilling from first
    // principles (no windows, no Spark)
    val md = java.security.MessageDigest.getInstance("MD5")
    def lane(s: String): Long = {
      md.reset()
      java.lang.Long.parseLong(
        md.digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_))
          .mkString.take(15), 16)
    }
    val toks = rows.groupBy(_._4).map { case (s, rs) =>
      s -> rs.map(_._2.split("\\s+").length.toLong).sum
    }
    val caps = toks.map { case (s, t) => (s, t, 1 + lane(s) % 4) }
      .map { case (s, t, e) => (s, t, e, t * e) }.toVector
      .sortBy(c => (c._4, c._1))
    val total = caps.map(_._4).sum
    val budget = total * 55 / 100
    var left = budget; var k = caps.length
    val alloc = scala.collection.mutable.Map[String, Long]()
    var idx = 0
    while (idx < caps.length && caps(idx)._4 * (k - idx) <= left) {
      alloc(caps(idx)._1) = caps(idx)._4; left -= caps(idx)._4; idx += 1
    }
    if (idx < k) {
      val share = left / (k - idx); val rem = left % (k - idx)
      for (j <- idx until k)
        alloc(caps(j)._1) = share + (if (j - idx < rem) 1L else 0L)
    }
    val out = TextAnalysis.tokenBudget(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(out.keySet == toks.keySet)
    caps.foreach { case (s, t, e, cap) =>
      val (_, tk, me, cp, al, em) = out(s)
      assert((tk, me, cp) == ((t, e, cap)), s"$s meta: ${out(s)}")
      assert(al == alloc(s), s"$s alloc: got $al want ${alloc(s)}")
      assert(em == al * 1000 / t)
      assert(al <= cap, s"$s exceeds its epoch cap")
    }
    // the plan SPENDS the budget exactly (some source was uncapped here)
    assert(out.values.map(_._5).sum == budget,
      s"allocated ${out.values.map(_._5).sum} of $budget")
    // both regimes present: at least one capped, at least one uncapped
    assert(caps.exists { case (s, _, _, cap) => out(s)._5 == cap })
    assert(caps.exists { case (s, _, _, cap) => out(s)._5 < cap })
  }

  test("qt42: source profile ratios are aggregate-of-sums, replayed exactly") {
    def round6(v: Double) = java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val texts = Seq(
      ("src0", "the quick brown fox jumps over the lazy dog again and again today"),
      ("src0", "The quick brown fox  jumps over the lazy dog again and again today"),
      ("src1", "the quick brown fox jumps over the lazy dog again and again today extra tail words here"),
      ("src1", "the quick brown fox jumps over the sleepy dog again and again today extra tail words here"),
      ("src2", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      ("src2", "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      ("src3", "completely different content about spark catalyst optimizers"),
      ("src3", "weather report sunny tomorrow with light winds expected"),
      ("src4", "numerical columns one two three four five six seven eight"),
      ("src4", "den Hund und die Katze und das Haus und der Baum ist mit"))
    val want = texts.groupBy(_._1).map { case (src, ds) =>
      val c = ds.map(_._2.length.toLong).sum
      val w = ds.map(_._2.trim.split("\\s+").length.toLong).sum
      val p = ds.map(d => "[.,;:!?]".r.findAllIn(d._2).length.toLong).sum
      val dg = ds.map(d => "[0-9]".r.findAllIn(d._2).length.toLong).sum
      val st = ds.map(d =>
        "\\b(the|a|and|of|to|in|is|for|on|with)\\b".r.findAllIn(d._2).length.toLong).sum
      src -> ((ds.size.toLong, c, w, p, dg, st,
        round6(c.toDouble / w.toDouble), round6(p.toDouble / c.toDouble),
        round6(dg.toDouble / c.toDouble), round6(st.toDouble / w.toDouble)))
    }
    val got = TextAnalysis.sourceProfile(spark, dupDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getDouble(7),
        r.getDouble(8), r.getDouble(9), r.getDouble(10)))).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (src, v) =>
      assert(got(src) == v, s"source $src: spark ${got(src)} vs reference $v")
    }
  }

  test("qs11: filtered ANN equals a driver-side filtered SQ8 replay") {
    val sf = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val langs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def sq8(v: Array[Float]): Array[Long] = {
      var n2 = 0.0
      v.foreach(x => n2 += x.toDouble * x.toDouble) // in-order fold
      if (n2 == 0) Array.fill(v.length)(0L)
      else v.map(x =>
        java.math.BigDecimal.valueOf(x.toDouble * 127.0 / math.sqrt(n2))
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue)
    }
    val codes = emb.map { case (id, v) => id -> sq8(v) }
    val enIds = codes.keys.filter(id => langs(id) == "en").toSet
    val want = (0L until 5L).flatMap { qid =>
      val qq = codes(qid)
      enIds.filter(_ != qid).toSeq
        .map { nid =>
          (nid, qq.zip(codes(nid)).map { case (a, b) => a * b }.sum)
        }
        .sortBy { case (nid, dot) => (-dot, nid) }.take(10)
        .zipWithIndex.map { case ((nid, dot), i) => (qid, nid, i + 1, dot) }
    }.toSet
    val got = Similarity.filteredAnn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(got == want, s"got ${got.size} rows, want ${want.size}")
    // every neighbor satisfies the predicate; queries themselves need not
    got.foreach { case (_, nid, _, _) => assert(langs(nid) == "en", nid) }
    // the filtered result genuinely differs from post-filtering the
    // unfiltered top-k (the underfill bug this shape avoids): some query's
    // unfiltered top-10 contains a non-en neighbor
    val unfiltered = Similarity.annInt8(spark, sf).collect()
      .map(r => r.getLong(1))
    assert(unfiltered.exists(langs(_) != "en"),
      "fixture should have non-en vectors in some unfiltered top-10")
  }

  test("qt41: near-dup contamination flags the paraphrase exact grams miss") {
    // dupDir: doc 0 is the eval doc (0 % 29 == 0); doc 1 is its exact dup
    // after normalization (case + whitespace — the "reformatted benchmark
    // dump" case), docs 2/3 are superset near-variants
    val got = TextAnalysis.nearContamination(spark, dupDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // the reformatted dump is caught at jaccard 1.0 even though its RAW
    // bytes differ (qt8's exact-gram pass sees normalized grams too, but a
    // paraphrase with insertions would break 4-gram runs — here the claim
    // is the LSH route flags whole-doc similarity)
    assert(got.contains((1L, 0L)) && got((1L, 0L)) == 1.0, got.toString)
    // every emitted row is train x eval at or above the threshold
    got.foreach { case ((t, e), j) =>
      assert(t % 29 != 0 && e % 29 == 0 && j >= 0.2, s"($t,$e,$j)")
    }
    // the superset variant (doc 2 contains doc 0 plus a tail) is also a
    // near-match when its bands collide — if emitted, its jaccard must be
    // the exact set ratio; unrelated docs (7,8,9) never appear
    assert(!got.keySet.exists { case (t, _) => Set(7L, 8L, 9L)(t) }, got.toString)
  }

  test("qt40: readability counts and formulas replay exactly") {
    val ss = spark; import ss.implicits._
    val dir = Files.createTempDirectory("graft-read").toString
    Seq(
      (0L, "The cat sat. It ran! Did it run?", "en", "s", 32L),
      (1L, "no terminal punctuation here at all", "en", "s", 36L), // clamp s>=1
      (2L, "xzq zzz grr", "en", "s", 11L),                         // zero vowels
      (3L, "Wait... what?! Really?!", "en", "s", 23L)              // punct runs
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def round6(v: Double) = java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    def ref(text: String): (Long, Long, Long, Double, Double, Double, Double) = {
      val w = text.trim.split("\\s+").length.toLong
      val s = math.max("[.!?]+".r.findAllIn(text).length.toLong, 1L)
      val syl = "[aeiouy]+".r.findAllIn(text.toLowerCase).length.toLong
      val wps = w.toDouble / s.toDouble
      val spw = syl.toDouble / w.toDouble
      (w, s, syl, round6(wps), round6(spw),
        round6(206.835 - 1.015 * wps - 84.6 * spw),
        round6(0.39 * wps + 11.8 * spw - 15.59))
    }
    val texts = Map(
      0L -> "The cat sat. It ran! Did it run?",
      1L -> "no terminal punctuation here at all",
      2L -> "xzq zzz grr",
      3L -> "Wait... what?! Really?!")
    val got = TextAnalysis.readability(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))))
      .toMap
    assert(got.keySet == texts.keySet)
    texts.foreach { case (id, t) =>
      val (w, s, syl, wps, spw, fl, fk) = ref(t)
      assert(got(id) == ((w, s, syl, wps, spw, fl, fk)),
        s"doc $id: spark ${got(id)} vs reference ${ref(t)}")
    }
    // pinned boundary semantics: the punctuation-free doc clamps to one
    // sentence; the vowel-free doc reads zero syllables (documented variant)
    assert(got(1L)._2 == 1L)
    assert(got(2L)._3 == 0L)
    // "Wait... what?! Really?!" has three [.!?]+ RUNS, not seven marks
    assert(got(3L)._2 == 3L)
  }

  test("qd21: calibration rows equal an independent affine-lane replay") {
    // independent reference: the portable md5-affine lane family computed
    // from first principles (MessageDigest halves, (a + i*b) mod 2^61-1),
    // the 4x2 band predicate, lane-match estimator, and exact Jaccard
    val md = java.security.MessageDigest.getInstance("MD5")
    def halves(s: String): (Long, Long) = {
      md.reset()
      val hex = md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex.substring(0, 15), 16),
        java.lang.Long.parseLong(hex.substring(15, 30), 16))
    }
    def shinglesOf(text: String): Set[String] = {
      val ws = text.toLowerCase.trim.replaceAll("\\s+", " ").split(" ")
        .filter(_.nonEmpty)
      if (ws.length < 2) ws.toSet
      else ws.sliding(2).map(_.mkString(" ")).toSet
    }
    def sigOf(sh: Set[String]): Array[Long] =
      (0 until 8).map { i =>
        sh.map { s =>
          val (a, b) = halves(s)
          (a + i * b) % 2305843009213693951L
        }.min
      }.toArray
    val texts = Seq(
      0L -> "the quick brown fox jumps over the lazy dog again and again today",
      1L -> "The quick brown fox  jumps over the lazy dog again and again today",
      2L -> "the quick brown fox jumps over the lazy dog again and again today extra tail words here",
      3L -> "the quick brown fox jumps over the sleepy dog again and again today extra tail words here",
      4L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      5L -> "alpha beta gamma delta epsilon zeta eta theta iota lambda",
      6L -> "completely different content about spark catalyst optimizers",
      7L -> "weather report sunny tomorrow with light winds expected",
      8L -> "numerical columns one two three four five six seven eight",
      9L -> "den Hund und die Katze und das Haus und der Baum ist mit").toMap
    val shs = texts.map { case (id, t) => id -> shinglesOf(t) }
    val sigsRef = shs.map { case (id, sh) => id -> sigOf(sh) }
    def bandHit(x: Array[Long], y: Array[Long]): Boolean =
      (0 until 4).exists(b => x(2 * b) == y(2 * b) && x(2 * b + 1) == y(2 * b + 1))
    def round6(v: Double) = java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val want = (for {
      a <- texts.keys; b <- texts.keys
      if a < b && bandHit(sigsRef(a), sigsRef(b))
    } yield {
      val m = (0 until 8).count(i => sigsRef(a)(i) == sigsRef(b)(i)).toLong
      val j = round6(shs(a).intersect(shs(b)).size.toDouble /
        shs(a).union(shs(b)).size.toDouble)
      (a, b) -> ((m, m.toDouble / 8.0, j, round6(m.toDouble / 8.0 - j)))
    }).toMap
    val got = Dedup.minhashCalibration(spark, dupDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(got == want,
      s"spark ${got.toSeq.sortBy(_._1)} vs reference ${want.toSeq.sortBy(_._1)}")
    // the exact-dup pair reads a perfect sketch: 8/8 lanes, zero error
    assert(got.contains((0L, 1L)) && got((0L, 1L)) == ((8L, 1.0, 1.0, 0.0)))
  }

  test("qt39: per-bucket JSD terms equal an independent MessageDigest replay") {
    // independent reference: md5-lane bucketing, add-1 smoothing, and the
    // pinned-parenthesization JSD term recomputed from first principles
    val base = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1L, "The quick brown fox  jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today extra tail words here"),
      (3L, "the quick brown fox jumps over the sleepy dog again and again today extra tail words here"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (5L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (6L, "completely different content about spark catalyst optimizers"),
      (7L, "weather report sunny tomorrow with light winds expected"),
      (8L, "numerical columns one two three four five six seven eight"),
      (9L, "den Hund und die Katze und das Haus und der Baum ist mit"))
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucketOf(w: String): Int = {
      md.reset()
      val hex = md.digest(w.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      (java.lang.Long.parseLong(hex, 16) % 256).toInt
    }
    val tokens = base.flatMap { case (id, text) =>
      text.toLowerCase.trim.replaceAll("\\s+", " ").split(" ")
        .filter(_.nonEmpty).map(w => ((id % 2).toInt, bucketOf(w)))
    }
    val nA = tokens.count(_._1 == 0).toLong
    val nB = tokens.count(_._1 == 1).toLong
    def round9(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue
    val want = (0 until 256).map { b =>
      val ca = tokens.count(t => t._1 == 0 && t._2 == b).toLong
      val cb = tokens.count(t => t._1 == 1 && t._2 == b).toLong
      val p = (ca + 1L).toDouble / (nA + 256L).toDouble
      val q = (cb + 1L).toDouble / (nB + 256L).toDouble
      val m = (p + q) / 2.0
      b.toLong -> ((ca, cb,
        round9((p * math.log(p / m) + q * math.log(q / m)) * 0.5)))
    }.toMap
    val got = TextAnalysis.jsdDrift(spark, dupDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == want.keySet, "spine must cover all 256 buckets")
    want.foreach { case (b, v) =>
      assert(got(b) == v, s"bucket $b: spark ${got(b)} vs reference $v")
    }
    // terms are non-negative (per-bucket 2-point KL) and some bucket moved
    assert(got.values.forall(_._3 >= 0.0))
    assert(got.values.exists(_._3 > 0.0), "crafted shards genuinely differ")
  }

  test("qt39: identical shards read zero drift in every bucket") {
    val ss = spark; import ss.implicits._
    val dir = Files.createTempDirectory("graft-jsd0").toString
    // pairs (2i, 2i+1) carry the SAME text, so the parity shards hold
    // identical token multisets -> p == q per bucket -> every term ln(1)=0
    (0L until 20L).map(i =>
      (i, s"shared text block number ${i / 2} with stable words", "en", "s", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.jsdDrift(spark, dir).collect()
    assert(out.length == 256)
    out.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"bucket ${r.getLong(0)} counts differ: ${r.getLong(1)} vs ${r.getLong(2)}")
      assert(r.getDouble(3) == 0.0,
        s"bucket ${r.getLong(0)} term ${r.getDouble(3)} != 0")
    }
  }

  test("qt37: script buckets, priority tie-break, and mismatch signal are exact") {
    val ss = spark; import ss.implicits._
    val dir = Files.createTempDirectory("graft-script").toString
    Seq(
      (0L, "Hello world 123", "en", "s", 15L),
      (1L, "привет мир", "ru", "s", 10L),
      (5L, "你好世界 こんにちは", "zh", "s", 10L),
      (7L, "abc где где", "en", "s", 11L), // declared-en, cyrillic-dominant
      (8L, "ab яв", "en", "s", 5L),        // 2-2 letter tie -> priority latin
      (9L, "123 456", "en", "s", 7L)       // no letters -> none
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.scriptProfile(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    def chk(id: Long, dom: String, frac: Double, counts: (String, Long)*): Unit = {
      val r = out(id)
      assert(r.getAs[String]("dominant_script") == dom, s"doc $id: $r")
      assert(r.getAs[Double]("script_frac") == frac, s"doc $id: $r")
      counts.foreach { case (c, v) =>
        assert(r.getAs[Long](c) == v, s"doc $id $c: $r") }
    }
    chk(0L, "latin", 1.0, "latin" -> 10L, "digit" -> 3L, "space" -> 2L,
      "n_cp" -> 15L, "other" -> 0L)
    chk(1L, "cyrillic", 1.0, "cyrillic" -> 9L, "space" -> 1L)
    chk(5L, "cjk", 1.0, "cjk" -> 9L, "space" -> 1L)
    chk(7L, "cyrillic", 0.666667, "latin" -> 3L, "cyrillic" -> 6L,
      "letter_cp" -> 9L)
    chk(8L, "latin", 0.5, "latin" -> 2L, "cyrillic" -> 2L)
    chk(9L, "none", 0.0, "digit" -> 6L, "letter_cp" -> 0L)
    // one map-only pass: the native expression, no exchange anywhere
    val plan = TextAnalysis.scriptProfile(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("script_profile"), plan)
    assert(!plan.contains("Exchange"), "qt37 must be map-only:\n" + plan)
  }

  test("qt38: planted benchmark spans are cut, isolated short hits survive") {
    val ss = spark; import ss.implicits._
    val dir = Files.createTempDirectory("graft-decon").toString
    val eval = "the secret benchmark answer sequence alpha beta gamma delta"
    Seq(
      (0L, eval, "en", "s", 60L), // doc_id % 29 == 0: the benchmark doc
      (1L, s"intro words here $eval closing remarks", "en", "s", 90L),
      (2L, "totally unrelated clean training text with no overlap", "en", "s", 55L),
      (3L, "mentions alpha beta gamma delta once amid other words", "en", "s", 55L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.decontaminationRewrite(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(!out.contains(0L), "eval docs are not rewritten")
    // doc 1: the 9-token benchmark quote at offset 3 -> grams 3..8 chain
    // into one island, span [3, 12), 9 tokens removed, clean text = frame
    val r1 = out(1L)
    assert(r1.getLong(2) == 1L && r1.getLong(3) == 9L, r1.toString)
    assert(r1.getString(4) == "intro words here closing remarks", r1.toString)
    // doc 2: untouched
    assert(out(2L).getLong(2) == 0L &&
      out(2L).getString(4).startsWith("totally unrelated"), out(2L).toString)
    // doc 3: ONE isolated 4-gram hit -> island of 4 < minLen 6 -> kept whole
    val r3 = out(3L)
    assert(r3.getLong(2) == 0L && r3.getLong(3) == 0L, r3.toString)
    assert(r3.getString(4).contains("alpha beta gamma delta"), r3.toString)
  }

  test("qd18: duplicate-chunk share is cross-doc, exact on planted windows") {
    val ss = spark; import ss.implicits._
    val dir = Files.createTempDirectory("graft-chunk").toString
    val x = (1 to 16).map(i => s"x$i").mkString(" ")   // 16 words = 4 chunks
    val y = (1 to 20).map(i => s"y$i").mkString(" ")   // unique continuation
    val rows = Seq(
      (0L, x, "en", "s", x.length.toLong),                    // full dup of 1
      (1L, x, "en", "s", x.length.toLong),
      (2L, s"$x $y", "en", "s", 10L),                         // carries X
      (3L, (1 to 8).map(i => s"d$i").mkString(" "), "en", "s", 10L), // unique
      // internal repetition only: same window twice WITHIN one doc
      (4L, "r1 r2 r3 r4 r1 r2 r3 r4 s1 s2 s3 s4", "en", "s", 10L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.chunkDupShare(spark, dir, win = 4, stride = 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(0L) == ((4L, 4L, 1.0)))        // every chunk appears in doc 1+2
    assert(out(1L) == ((4L, 4L, 1.0)))
    assert(out(2L) == ((9L, 4L, 0.444444)))   // X's 4 of 9 chunks duplicated
    assert(out(3L) == ((2L, 0L, 0.0)))
    // within-doc repetition must NOT count as duplication (cross-doc only)
    assert(out(4L) == ((3L, 0L, 0.0)))
  }

  test("qd19: near-dup clusters never straddle the train/val/test split") {
    val sf = "/root/testdata/sf0.001"
    val split = Dedup.clusterAwareSplit(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(split.size == 500)
    split.values.foreach { case (_, bucket, s) =>
      assert(bucket >= 0 && bucket < 100)
      val expected =
        if (bucket < 80) "train" else if (bucket < 90) "val" else "test"
      assert(s == expected, s"bucket $bucket mapped to $s")
    }
    assert(split.values.map(_._3).toSet.size >= 2, "degenerate split")
    // the leakage claim: every LSH near-dup pair lands in ONE split
    val pairs = Dedup.minhashLshPairsPortable(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(split(a)._1 == split(b)._1, s"pair ($a,$b) got different reps")
      assert(split(a)._3 == split(b)._3, s"LEAK: pair ($a,$b) straddles splits")
    }
  }

  test("qd20: the verify-free star guard co-locates every verified pair") {
    val sf = "/root/testdata/sf0.001"
    val split = Dedup.bucketSplit(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(3)))).toMap
    assert(split.size == 500)
    // superset property: every pair the SAME-BANDING verified guard admits
    // (any threshold — verification only shrinks the set) shares an
    // admitted bucket, hence a star component, hence a split
    val pairs = Dedup.minhashLshPairsPortable(spark, sf, bands = 2,
        rowsPerBand = 4, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(split(a)._1 == split(b)._1, s"pair ($a,$b) not co-clustered")
    }
    // conservative over-merge must not collapse the corpus: quotas stay
    // near 80/10/10 (wide bounds — organic bucket chains shift a few docs)
    val counts = split.values.groupBy(_._2).map { case (s, xs) => s -> xs.size }
    assert(counts("train") > 300 && counts("train") < 480, counts.toString)
    assert(counts.getOrElse("val", 0) > 10 && counts.getOrElse("test", 0) > 10,
      counts.toString)
  }

  test("exact dedup finds case/whitespace-normalized duplicates") {
    val stats = Dedup.exactDedupStats(spark, dupDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats(2L) == 1L) // docs 0 and 1 collapse
    assert(stats(1L) == 8L)
    val keep = Dedup.exactDedupKeepFirst(spark, dupDir)
      .filter("n_dups = 2").collect()
    assert(keep.length == 1 && keep.head.getAs[Long]("keep_doc_id") == 0L)
  }

  test("minhash LSH surfaces the near-duplicate pairs with correct jaccard") {
    // banding matched to the threshold: 32 bands x 2 rows puts the S-curve
    // midpoint at (1/32)^(1/2) ~= 0.18, so recall at J >= 0.4 is ~1 (the
    // default 16x4 is tuned for t=0.5 and leaves a ~3% miss tail at 0.67)
    val pairs = Dedup.minhashLshPairs(spark, dupDir, shingleSize = 3,
        bands = 32, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 1L)), s"exact dup pair missing from $keys")
    assert(keys.contains((2L, 3L)), s"near dup pair missing from $keys")
    assert(keys.contains((4L, 5L)), s"near dup pair missing from $keys")
    // jaccard of the exact dup is 1.0
    assert(pairs.find(p => (p._1, p._2) == (0L, 1L)).get._3 == 1.0)
    // no unrelated pair sneaks past the verify step
    assert(!keys.exists { case (a, b) => a >= 6L || b >= 6L })
  }

  test("simhash near-dup pairs within hamming budget") {
    val pairs = Dedup.simhashPairs(spark, dupDir, maxHamming = 12).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)) || {
      // exact dups always hash identically unless tokenization sees the case
      // difference; check hamming of the raw values instead
      val sims = Dedup.simhashDocs(spark, dupDir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      java.lang.Long.bitCount(sims(2L) ^ sims(3L)) <= 16
    })
  }

  test("ngram jaccard pairs on crafted corpus") {
    val pairs = Dedup.ngramJaccardPairs(spark, dupDir, shingleSize = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("ngram jaccard maxBucket guard: capped == uncapped when no hot blocks") {
    val capped = Dedup.ngramJaccardPairs(spark, dupDir, 2, 0.3, maxBucket = 4096)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val loose = Dedup.ngramJaccardPairs(spark, dupDir, 2, 0.3, maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped == loose)
    assert(Dedup.ngramJaccardOversize(spark, dupDir, 2, 4096).count() == 0)
    // a cap of 1 admits no block with a pair in it -> zero pairs, and the
    // oversize diagnostic reports every skipped block's pair count
    assert(Dedup.ngramJaccardPairs(spark, dupDir, 2, 0.3, maxBucket = 1).count() == 0)
    assert(Dedup.ngramJaccardOversize(spark, dupDir, 2, 1).count() > 0)
  }

  test("portable minhash-LSH pairs: exact dups always collide; cap guard works") {
    // an exact dup (after normalization) has an identical shingle set, hence
    // identical signatures in every lane -> collides in every band
    val pairs = Dedup.minhashLshPairsPortable(spark, dupDir, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 1L)), s"exact-dup pair missing from $keys")
    assert(pairs.find(p => (p._1, p._2) == (0L, 1L)).get._3 == 1.0)
    // capped == uncapped when no bucket is hot
    val uncapped = Dedup.minhashLshPairsPortable(spark, dupDir, threshold = 0.5,
      maxBucket = Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs.toSet == uncapped)
    assert(Dedup.minhashLshOversize(spark, dupDir).count() == 0)
    // cap of 1 admits nothing; the oversize diagnostic reports what dropped
    assert(Dedup.minhashLshPairsPortable(spark, dupDir, maxBucket = 1).count() == 0)
    assert(Dedup.minhashLshOversize(spark, dupDir, maxBucket = 1).count() > 0)
    // the xxhash64-flavored variant honors the same guard (qd1-first contract)
    assert(Dedup.minhashLshPairs(spark, dupDir, threshold = 0.4, maxBucket = 1)
      .count() == 0)
  }

  test("simhash block-combination pairs match brute-force hamming join exactly") {
    val maxH = 12
    val sims = Dedup.simhashDocs(spark, dupDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val brute = (for {
      (ia, sa) <- sims; (ib, sb) <- sims
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= maxH
    } yield (ia, ib)).toSet
    val blocked = Dedup.simhashPairs(spark, dupDir, maxHamming = maxH).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == brute, s"blocked=$blocked brute=$brute")
    assert(brute.nonEmpty, "corpus should contain at least one simhash near-dup")
  }

  test("embedding-dup LSH path matches the brute-force baseline exactly") {
    val sf = "/root/testdata/sf0.001"
    val brute = Similarity.embeddingDupPairs(spark, sf, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Similarity.embeddingDupPairsLsh(spark, sf, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh == brute, s"lsh=$lsh brute=$brute")
  }

  test("dedup clusters close the near-dup graph transitively") {
    val ss = spark; import ss.implicits._
    val dir = Files.createTempDirectory("graft-chain").toString
    // A~B and B~C by one-word edits, but A and C differ by two words:
    // at threshold 0.6 (w=2 shingles) only the chained edges exist, so the
    // {A,B,C} cluster REQUIRES transitive closure, not just pair output
    // middle-word edits change TWO bigrams each: one edit keeps j ~0.69
    // (edge), two cumulative edits drop j(A,C) to ~0.47 (no direct edge)
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa mu nu"
    val b = a.replace("zeta", "xi")
    val c = b.replace("iota", "omega")
    val rows = Seq(
      (0L, a, "en", "s", a.length.toLong), (1L, b, "en", "s", 1L),
      (2L, c, "en", "s", 2L),
      (3L, "one two three four five six seven eight nine ten eleven twelve", "en", "s", 3L),
      (4L, "one two three four five six seven eight nine ten eleven thirteen", "en", "s", 4L),
      (5L, "totally unrelated content with many different words in this row", "en", "s", 5L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = Dedup.ngramJaccardPairs(spark, dir, 2, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L), (1L, 2L), (3L, 4L)), pairs.toString)
    val clusters = Dedup.dedupClusters(spark, dir, 2, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(clusters.toSet == Set(
      (0L, 0L, 3L, true), (1L, 0L, 3L, false), (2L, 0L, 3L, false),
      (3L, 3L, 2L, true), (4L, 3L, 2L, false)), clusters.mkString(","))
  }

  test("cluster survivors pick the best-quality doc, not the min id") {
    val ss = spark; import ss.implicits._
    val dir = Files.createTempDirectory("graft-surv").toString
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa mu nu"
    // doc 1 = doc 0 plus three punctuation words: still a near-dup (shared
    // bigram core), but the quality formula scores it HIGHER (longer, punct
    // ratio small), so the survivor must be 1 — min-id would pick 0
    val rows = Seq(
      (0L, a, "en", "s", a.length.toLong),
      (1L, a + " , , ,", "en", "s", (a.length + 6).toLong),
      (2L, "one two three four five six seven eight nine ten eleven twelve", "en", "s", 3L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val q = TextAnalysis.qualityScores(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("quality_score")).toMap
    assert(q(1L) > q(0L), q.toString)
    val surv = Dedup.clusterSurvivors(spark, dir, 2, 0.1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(4)))
    assert(surv.map(t => (t._1, t._3)).toSet == Set((0L, false), (1L, true)),
      surv.mkString(","))
    assert(surv.forall(_._2 == 0L)) // one cluster, labeled by its min id
  }

  test("novelty: unique-content doc is all-rare, exact-dup pair is no-rare") {
    val nov = TextAnalysis.noveltyScores(spark, dupDir).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("rare_frac")).toMap
    // doc 9 (German) shares no bigram with anything -> every gram df=1
    assert(nov(9L) == 1.0, nov.toString)
    // docs 0/1 normalize to the same bigram set -> every gram df >= 2
    assert(nov(0L) == 0.0 && nov(1L) == 0.0, nov.toString)
  }

  test("connected components: pointer jumping converges in O(log D) and the " +
      "non-convergence guard fires for plain propagation") {
    val ss = spark; import ss.implicits._
    // path graph 0-1-2-...-40: diameter 40, all one component
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.ccWithRounds(chain, maxRounds = 16)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 41 && got.values.forall(_ == 0L), got.toString)
    // log2(41) ~ 5.4; one extra round detects the fixpoint
    assert(rounds <= 7, s"pointer jumping took $rounds rounds on a 41-chain")
    // a budget cut below that must throw instead of returning under-merged
    // labels
    val e = intercept[IllegalStateException] {
      Dedup.ccWithRounds(chain, maxRounds = 2)
    }
    assert(e.getMessage.contains("fixpoint"), e.getMessage)
  }

  test("connected components match an in-memory union-find on random graphs") {
    val ss = spark; import ss.implicits._
    // deterministic SplitMix64 stream so the graphs are reproducible
    def mix(x0: Long): Long = {
      var x = x0 + 0x9e3779b97f4a7c15L
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }
    for (seed <- Seq(1L, 2L, 3L)) {
      val n = 60
      val nEdges = 50 // sparse -> several components of varied shape
      val edges = (0 until nEdges).map { i =>
        val a = math.floorMod(mix(seed * 1000 + i * 2), n).toLong
        val b = math.floorMod(mix(seed * 1000 + i * 2 + 1), n).toLong
        if (a == b) (a, (a + 1) % n) else (a, b)
      }
      // reference: weighted-quick-union with path compression
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct.map { v =>
        // component label = min node id reachable = root under min-union
        v -> (0 until n).filter(u => find(u) == find(v.toInt)).min.toLong
      }.toMap
      val got = Dedup.connectedComponents(
        edges.toDF("doc_a", "doc_b"), maxRounds = 16)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed $seed: got $got expected $expected")
    }
  }

  test("connected components: one job per materialization on a 2-round graph") {
    val ss = spark; import ss.implicits._
    // a 2-edge path (needs the pointer jump) next to a star and a pair:
    // round 1 lowers labels, round 2 finds the fixpoint
    val pairs = Seq((3L, 4L), (4L, 5L), (10L, 11L), (10L, 12L), (10L, 13L),
      (20L, 21L))
    val edges = pairs.toDF("doc_a", "doc_b")
    val ((labels, rounds), tally) =
      graft.obs.RunTally(spark)(Dedup.ccWithRounds(edges, maxRounds = 16))
    assert(rounds == 2, s"$rounds rounds")
    // edge checkpoint (+ its count), adjacency, round 1's propagate (+ its
    // convergence count) and jump, round 2's propagate, plus the label
    // joins' broadcasts: 8 jobs here. The separate edge count (2 jobs), the
    // initial-labels checkpoint and the per-round emptiness checks are gone.
    assert(tally.jobs <= 8, s"${tally.jobs} jobs for a 2-round CC call")
    // union-find differential (min-id root per component)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(v => v -> find(v)).toMap
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == expected)
    // a budget of one round cannot reach the fixpoint: the guard throws
    val e = intercept[IllegalStateException] {
      Dedup.ccWithRounds(edges, maxRounds = 1)
    }
    assert(e.getMessage.contains("fixpoint"), e.getMessage)
  }

  test("count-min sketch: full grid, per-lane mass conservation, determinism") {
    val ss = spark; import ss.implicits._
    val cells = TextAnalysis.cmsBigrams(spark, dupDir, depth = 4, width = 32)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(cells.length == 4 * 32)
    // every lane's cells sum to the total item count (mass conservation)
    import org.apache.spark.sql.functions.{col, explode}
    val totalItems = spark.read.parquet(s"$dupDir/documents.parquet")
      .select(explode(Dedup.shingles(col("text"), 2))).count()
    val laneSums = cells.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(laneSums.values.toSet == Set(totalItems), laneSums.toString)
    // deterministic: identical grid on re-evaluation
    val again = TextAnalysis.cmsBigrams(spark, dupDir, depth = 4, width = 32)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(cells.sorted.sameElements(again.sorted))
    // the aggregate partial-merges map-side (ObjectHashAggregate pair)
    val plan = TextAnalysis.cmsBigrams(spark, dupDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  test("kmv sketch: deterministic content, accurate estimate, map-side partials") {
    val sf = "/root/testdata/sf0.001"
    val k = 256
    val rows = TextAnalysis.kmvDistinct(spark, sf, k).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(rows.length == k)
    assert(rows.map(_._2).toSeq == rows.map(_._2).sorted.toSeq) // ascending
    assert(rows.map(_._2).distinct.length == k) // distinct hashes
    // estimate D ~ (k-1) * 2^60 / h_k within the ~1/sqrt(k-2) KMV bound
    import org.apache.spark.sql.functions.{col, explode}
    val trueD = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(Dedup.shingles(col("text"), 2)).as("g"))
      .select(col("g")).distinct().count()
    val hk = rows.last._2.toDouble
    val est = (k - 1).toDouble * math.pow(2.0, 60) / hk
    assert(math.abs(est - trueD) / trueD < 0.25,
      s"KMV estimate $est vs true $trueD")
    // identical on re-evaluation, and partial-merged map-side
    val again = TextAnalysis.kmvDistinct(spark, sf, k).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(rows.sameElements(again))
    val plan = TextAnalysis.kmvDistinct(spark, sf, k)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  test("hll sketch: registers match a MessageDigest reference, estimate in band") {
    val sf = "/root/testdata/sf0.001"
    val m = 64
    val rows = TextAnalysis.hllDistinct(spark, sf, m).collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    assert(rows.length == m)
    assert(rows.map(_._1).toSeq == (0 until m)) // posexplode order = bucket
    assert(rows.forall { case (_, reg) => reg >= 0 && reg <= 55 })
    // independent reference: registers recomputed in plain Scala over the
    // distinct bigram stream (same md5-half lane the engine uses)
    import org.apache.spark.sql.functions.{col, explode}
    val grams = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(Dedup.shingles(col("text"), 2)).as("g"))
      .distinct().collect().map(_.getString(0))
    val ref = new Array[Int](m)
    val md = java.security.MessageDigest.getInstance("MD5")
    grams.foreach { g =>
      md.reset()
      val h = graft.functions.GraftImpl.md5Halves(md.digest(g.getBytes("UTF-8")))._1
      val bucket = (h & (m - 1)).toInt
      val w = h >>> 6
      val rank = if (w == 0L) 55 else 55 - (64 - java.lang.Long.numberOfLeadingZeros(w))
      if (rank > ref(bucket)) ref(bucket) = rank
    }
    assert(rows.map(_._2).sameElements(ref))
    // bias-corrected estimate within a generous multiple of 1.04/sqrt(64)
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val rawEst = alpha * m * m / rows.map { case (_, reg) => math.pow(2.0, -reg) }.sum
    val zeros = rows.count(_._2 == 0)
    val est =
      if (rawEst <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else rawEst
    val trueD = grams.length.toDouble
    assert(math.abs(est - trueD) / trueD < 0.30, s"HLL estimate $est vs true $trueD")
    // identical on re-evaluation, and partial-merged map-side
    val again = TextAnalysis.hllDistinct(spark, sf, m).collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    assert(rows.sameElements(again))
    val plan = TextAnalysis.hllDistinct(spark, sf, m)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  test("winnowing: selection matches reference, detection guarantee, map-only") {
    val k = 3; val win = 4
    // plain-Scala reference (rightmost-min per window, distinct positions)
    def winnowRef(text: String): Seq[(Long, Long)] = {
      val words = text.split(" ")
      if (words.length < k + win - 1) Seq.empty
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        val h = (0 to words.length - k).map { i =>
          md.reset()
          graft.functions.GraftImpl.md5Halves(
            md.digest(words.slice(i, i + k).mkString(" ").getBytes("UTF-8")))._1
        }
        (0 to h.length - win).map { j =>
          val wnd = h.slice(j, j + win)
          j + wnd.lastIndexOf(wnd.min)
        }.distinct.map(p => (p.toLong, h(p)))
      }
    }
    val sf = "/root/testdata/sf0.001"
    val got = Dedup.winnowFingerprints(spark, sf, k, win).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val want = texts.flatMap { case (id, t) =>
      winnowRef(t).map { case (p, fp) => (id, p, fp) }
    }
    assert(got.sorted.toSeq == want.sorted.toSeq)
    // density ~ 2/(win+1): far fewer fingerprints than grams
    val nGrams = texts.map(_._2.split(" ").length - k + 1).filter(_ > 0).sum
    assert(got.length < nGrams / 2, s"${got.length} fps vs $nGrams grams")
    // the winnowing guarantee on the crafted corpus: docs 0 and 2 share a
    // 13-token run >= win + k - 1 = 6, so they MUST share a fingerprint
    val dup = Dedup.winnowFingerprints(spark, dupDir, k, win).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val fp0 = dup.filter(_._1 == 0L).map(_._2).toSet
    val fp2 = dup.filter(_._1 == 2L).map(_._2).toSet
    assert(fp0.intersect(fp2).nonEmpty, "shared 13-token run left no common fp")
    // the selection is a single map-only pass: no exchange anywhere
    val plan = Dedup.winnowFingerprints(spark, sf, k, win)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("winnow containment: prefix-doc scores 1.0, hot cap empties, no cartesian") {
    // doc 0's text is a strict token prefix of doc 2's, so every window of
    // doc 0's hash array is also a window of doc 2's and selects the same
    // rightmost-min — fp(0) ⊆ fp(2), containment exactly 1.0
    val pairs = Dedup.winnowContainment(spark, dupDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(5))).toMap
    assert(pairs.nonEmpty)
    assert(pairs.get((0L, 2L)).contains(1.0),
      s"expected full containment of doc 0 in doc 2; got $pairs")
    // docs 2/3 share the 7-token run before the changed word (>= win+k-1=6),
    // so the winnowing guarantee forces at least one shared fingerprint
    assert(pairs.contains((2L, 3L)), s"guaranteed shared fp missing: $pairs")
    // the hot-fingerprint cap is replayed on BOTH sides: with every fp
    // hot (cap 0), no pairs survive
    assert(Dedup.winnowContainment(spark, dupDir, maxDocsPerFp = 0).isEmpty)
    // pair generation is an equi-join on fp — never a cartesian
    val plan = Dedup.winnowContainment(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
  }

  test("host components: planted chains resolve; pointer jumping folds diameter 24") {
    val sf = "/root/testdata/sf0.001"
    val rows = LinkGraph.hostComponents(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    // all 64 hosts present at sf0.001; four chain components of known sizes
    assert(rows.length == 64)
    val bySize = rows.groupBy(_._2).map { case (c, rs) => c -> rs.length }
    assert(bySize == Map(0L -> 9, 9L -> 11, 20L -> 25, 45L -> 19), bySize)
    rows.foreach { case (h, c, sz, root) =>
      assert(sz == bySize(c).toLong)
      assert(root == (h == c))
    }
    // the widest chain has diameter 24: pointer jumping must fold it in
    // ~log2 rounds, and a budget of 2 rounds must throw (the qd6
    // convergence guard)
    val edges = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id % 64 AS doc_a",
        "CASE WHEN doc_id % 64 IN (8, 19, 44, 63) THEN doc_id % 64 " +
          "ELSE doc_id % 64 + 1 END AS doc_b")
      .distinct()
    val (_, rounds) = Dedup.ccWithRounds(edges, maxRounds = 16)
    assert(rounds <= 7, s"pointer jumping took $rounds rounds on diameter 24")
    assertThrows[IllegalStateException](Dedup.ccWithRounds(edges, maxRounds = 2))
  }

  test("ccnet buckets: per-language thirds by LM score, ties closed upward") {
    val sf = "/root/testdata/sf0.001"
    val rows = TextAnalysis.ccnetBuckets(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    assert(rows.nonEmpty)
    assert(rows.map(_._4).toSet.subsetOf(Set("head", "middle", "tail")))
    // independent reference: thresholds as the minimal descending-cumulative
    // crossings of ceil(n/3) / ceil(2n/3) over each language's score multiset
    rows.groupBy(_._2).foreach { case (lang, rs) =>
      val n = rs.length
      val descScores = rs.map(_._3).sorted(Ordering[Double].reverse)
      // max v with |{s >= v}| >= k is exactly the k-th largest score
      val t1 = descScores((n + 2) / 3 - 1)
      val t2 = descScores((2 * n + 2) / 3 - 1)
      rs.foreach { case (id, _, s, b) =>
        val want = if (s >= t1) "head" else if (s >= t2) "middle" else "tail"
        assert(b == want, s"lang $lang doc $id score $s: got $b want $want " +
          s"(t1=$t1 t2=$t2 n=$n)")
      }
      // quota lower bounds hold (ties can only inflate the better bucket)
      val head = rs.count(_._4 == "head")
      val headMid = rs.count(r => r._4 == "head" || r._4 == "middle")
      assert(head >= (n + 2) / 3 && headMid >= (2 * n + 2) / 3,
        s"lang $lang: head=$head headMid=$headMid n=$n")
    }
  }

  test("bloom-prefiltered contamination equals the exact pass bit-for-bit") {
    val sf = "/root/testdata/sf0.001"
    val exact = TextAnalysis.contamination(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bloomed = TextAnalysis.bloomContamination(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(exact.nonEmpty)
    assert(bloomed == exact,
      s"missing: ${exact -- bloomed}; extra: ${bloomed -- exact}")
    // a tiny bloom still cannot lose matches (false positives only)
    val tiny = TextAnalysis.bloomContamination(spark, sf, mBits = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(tiny == exact)
  }

  test("langid marker heuristic detects the German doc") {
    val langs = TextAnalysis.langId(spark, dupDir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(langs(9L) == "de")
    assert(langs(0L) == "en")
  }

  test("LSH ANN matches brute-force ANN exactly at the suite's parameters") {
    // tables=32 x bits=2 is tuned for recall 1.0 — the driver's qs2 oracle
    // IS exact brute-force top-k, so the spec holds the same bar
    val sf = "/root/testdata/sf0.001"
    val brute = Similarity.annBruteForce(spark, sf, nQueries = 5, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val lsh = Similarity.annLsh(spark, sf, nQueries = 5, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(brute.size == 50)
    assert(lsh == brute, s"missing: ${brute -- lsh}; extra: ${lsh -- brute}")
    assert(lsh.forall { case (q, n, _) => q < 5 && n != q })
  }

  test("qt32: shard manifest conserves corpus totals across shards") {
    import org.apache.spark.sql.functions.{col, length, size, split, sum, trim}
    val sf = "/root/testdata/sf0.001"
    val m = TextAnalysis.shardManifest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every shard receives documents (hash-uniform assignment, 500 >> 16)
    assert(m.map(_._1).toSet == (0L until 16L).toSet)
    assert(m.map(_._2).sum == 500L)
    // token/char totals conserve against a direct single-pass corpus scan
    val direct = spark.read.parquet(s"$sf/documents.parquet")
      .select(size(split(trim(col("text")), "\\s+")).cast("long").as("t"),
        length(col("text")).cast("long").as("c"))
      .agg(sum("t"), sum("c")).collect()(0)
    assert(m.map(_._3).sum == direct.getLong(0))
    assert(m.map(_._4).sum == direct.getLong(1))
    // deterministic re-materialization — the property a release consumer
    // relies on to validate any single shard independently
    val again = TextAnalysis.shardManifest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.sortBy(_._1).toSeq == m.sortBy(_._1).toSeq)
  }

  test("MIPS: norm-augmentation reduction ranks identically to raw inner product") {
    // qs9's scale path: augment corpus vectors with sqrt(M^2 - |x|^2) and
    // queries with 0 — cosine over the augmented space must order pairs by
    // raw inner product (Bachrach et al. 2015), so qs2's SRP buckets can
    // serve MIPS. Replay the reduction here in exact f64 and compare the
    // per-query ranked neighbor lists against the op's dot_ff ranking.
    val sf = "/root/testdata/sf0.001"
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val norms = vecs.map { case (id, v) =>
      id -> math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
    }
    val bigM = norms.values.max
    vecs.keys.foreach { id =>
      assert(bigM * bigM - norms(id) * norms(id) >= -1e-9,
        s"augmented coordinate of $id would be imaginary")
    }
    def augCos(q: Array[Float], x: Array[Float]): Double = {
      // q~ = [q, 0], x~ = [x, sqrt(M^2-|x|^2)]: the extra coordinate leaves
      // the inner product unchanged and pins |x~| = M, so
      // cos(q~, x~) = ip / (|q| * M)
      val ip = q.zip(x).map { case (a, b) => a.toDouble * b.toDouble }.sum
      val qn = math.sqrt(q.map(a => a.toDouble * a.toDouble).sum)
      ip / (qn * bigM)
    }
    val got = Similarity.mipsTopK(spark, sf, nQueries = 5, k = 10).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    (0L until 5L).foreach { q =>
      val want = vecs.keys.filter(_ != q).toVector
        .map(id => (augCos(vecs(q), vecs(id)), id))
        .sortBy { case (c, id) => (-c, id) }.take(10).map(_._2)
      want.zipWithIndex.foreach { case (id, i) =>
        assert(got((q, i + 1)) == id,
          s"query $q rank ${i + 1}: reduction says $id, op says ${got((q, i + 1))}")
      }
    }
  }

  test("IVF ANN: exact brute-force parity at nprobe=k; recall >= 0.9 at the " +
      "suite's nprobe=12") {
    val sf = "/root/testdata/sf0.001"
    val brute = Similarity.annBruteForce(spark, sf, nQueries = 5, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    // nprobe = k probes every cell: the candidate set is the whole corpus,
    // so ranks AND cosines must equal brute force bit-for-bit — this pins
    // the assignment/probe/rank machinery, not just the recall curve
    val exhaustive = Similarity.annIvf(spark, sf, nQueries = 5, topK = 10,
      k = 16, nprobe = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(exhaustive == brute,
      s"missing: ${brute -- exhaustive}; extra: ${exhaustive -- brute}")
    // the suite's stated operating point (nprobe=12 of 16 — the fixture
    // vectors are near-uniform random, the quantizer's worst case; measured
    // recall 0.98 here, 0.94 at sf0.01, 1.00 at sf0.1, all deterministic)
    val bruteIds = brute.map(t => (t._1, t._2))
    val ivf = Similarity.annIvf(spark, sf, nQueries = 5, topK = 10, nprobe = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bruteIds & ivf).size.toDouble / bruteIds.size
    assert(recall >= 0.9, s"IVF recall $recall < 0.9 at nprobe=12")
    assert(ivf.forall { case (q, n) => q < 5 && n != q })
  }

  test("df-prune strips corpus-frequent words, preserves order, conserves counts") {
    // crafted corpus: docs 0-3 share the base sentence, so its words have
    // df=4; "lazy" df=3 (doc 3 says sleepy); doc-3-only tail words df<=2
    val rows = TextAnalysis.dfPrune(spark, dupDir, maxDfPct = 30).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(0L).getAs[String]("pruned_text") == "lazy")
    assert(rows(3L).getAs[String]("pruned_text") == "sleepy extra tail words here")
    // counts conserve: kept + dropped == normalized word count
    val wc = spark.read.parquet(s"$dupDir/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.size(org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.trim(org.apache.spark.sql.functions.regexp_replace(
            org.apache.spark.sql.functions.lower(org.apache.spark.sql.functions.col("text")),
            "\\s+", " ")), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    rows.foreach { case (id, r) =>
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped") == wc(id)) }
    // a threshold above every df keeps everything verbatim (normalized)
    val all = TextAnalysis.dfPrune(spark, dupDir, maxDfPct = 99).collect()
    all.foreach(r => assert(r.getAs[Long]("n_dropped") == 0L))
  }

  test("int8 quantization: exact codes, zero-vector guard, checksum order-sensitivity") {
    val ss = spark; import ss.implicits._
    val qDir = Files.createTempDirectory("graft-quant").toString
    Seq(
      (0L, Seq(1.0f, -0.5f, 0.0f, 0.25f), 0),
      (1L, Seq(0.0f, 0.0f, 0.0f, 0.0f), 0),   // zero vector -> all-zero codes
      (2L, Seq(-2.0f, 1.0f, 0.5f, -0.25f), 1)
    ).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$qDir/embeddings.parquet")
    val out = Similarity.int8QuantStats(spark, qDir).collect()
      .map(r => r.getLong(0) -> r).toMap
    // vec 0: q = [127, -64, 0, 32] (round(-63.5) away from zero; round(31.75)=32)
    assert(out(0L).getAs[Int]("n_dim") == 4)
    assert(out(0L).getAs[Double]("max_abs") == 1.0)
    assert(out(0L).getAs[Long]("q_sum") == 127L - 64L + 0L + 32L)
    assert(out(0L).getAs[Long]("q_l1") == 127L + 64L + 0L + 32L)
    assert(out(0L).getAs[Long]("q_checksum") == 127L * 1 - 64L * 2 + 0L * 3 + 32L * 4)
    // zero vector: everything 0, scale 0
    assert(out(1L).getAs[Double]("max_abs") == 0.0)
    assert(out(1L).getAs[Long]("q_l1") == 0L)
    // vec 2: q = [-127, 64, 32, -16]; the position-weighted checksum
    // distinguishes this from any permutation of the same codes
    assert(out(2L).getAs[Long]("q_checksum") == -127L * 1 + 64L * 2 + 32L * 3 - 16L * 4)
  }

  test("bigram-LM score: normalization-identical docs score identically; " +
      "shared boilerplate scores above novel text") {
    val out = TextAnalysis.lmScore(spark, dupDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // docs 0/1 are case/whitespace variants -> same bigrams, same score
    assert(out(0L) == out(1L), out.toString)
    // every doc: n_bigrams = words-1, and log-probs are negative
    assert(out.values.forall { case (n, lp) => n >= 1 && lp < 0.0 })
    // doc 2 repeats the shared base sentence (corpus-frequent bigrams);
    // doc 7 is one-off text -> the model predicts doc 2 better
    assert(out(2L)._2 > out(7L)._2, out.toString)
  }

  test("incremental dedup flags batch docs against the corpus by kind") {
    // batchMod=2: batch = even ids {0,2,4,6,8}, corpus = odd {1,3,5,7,9}.
    // doc 0 is an exact dup of corpus doc 1 (case/ws variant); docs 2 and 4
    // near-dup corpus docs 3 and 5; docs 6 and 8 are clean.
    val out = Dedup.incrementalDedup(spark, dupDir, batchMod = 2,
        threshold = 0.2)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2)))).toMap
    assert(out.keySet == Set(0L, 2L, 4L, 6L, 8L))
    assert(out(0L)._1 == 1, out.toString) // exact vs doc 1
    assert(out(2L)._2 >= 1, out.toString) // near vs doc 3
    assert(out(4L)._2 >= 1, out.toString) // near vs doc 5
    assert(out(6L) == ((0, 0L)), out.toString)
    assert(out(8L) == ((0, 0L)), out.toString)
    // qd9 is the production admission: the job's body over the same split
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dupDir/documents.parquet")
    val corpus = docs.filter(col("doc_id") % 2 =!= 0)
    val corpusSh = Dedup.shinglesOf(corpus, 2)
    val job = graft.spark.IncrementalDedupJob.admitBatch(
        docs.filter(col("doc_id") % 2 === 0),
        corpus.select(col("doc_id"), Dedup.fingerprintCol(col("text")).as("fp")),
        corpusSh, Dedup.bandTableOf(corpusSh), threshold = 0.2)
      .drop("admit")
    val qd9 = Dedup.incrementalDedup(spark, dupDir, batchMod = 2, threshold = 0.2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    assert(rows(qd9) == rows(job))
  }

  test("stratified sample: salted two-phase top-k equals the single-window form") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val twoPhase = TextAnalysis.stratifiedSample(spark, sf, k = 7, buckets = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3))).sorted
    // reference: one window over the hot key directly
    val h = conv(substring(md5(
      concat(col("doc_id").cast("string"), lit("#strat"))), 1, 15), 16, 10)
      .cast("long")
    val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    val single = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("h", h)
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 7)
      .select(col("lang"), col("doc_id"), col("rnk"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sorted
    assert(twoPhase.sameElements(single))
    // every stratum fills its quota (each lang has >= 7 docs at sf0.001)
    val perLang = twoPhase.groupBy(_._1).view.mapValues(_.length)
    perLang.foreach { case (_, n) => assert(n == 7) }
  }

  test("brute-force ANN ranks by cosine desc with deterministic tie-break") {
    val rows = Similarity.annBruteForce(spark, "/root/testdata/sf0.001", 2, 5).collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getInt(2))
      assert(byRank.map(_.getInt(2)).toSeq == (1 to byRank.length))
      val cosines = byRank.map(_.getDouble(3)).toSeq
      assert(cosines == cosines.sorted.reverse)
    }
  }

  test("q19 bounded top-k aggregate equals the q07 window form row-for-row") {
    val sf = "/root/testdata/sf0.001"
    val win = Relational.q07WindowRank(spark, sf).collect().map(_.toSeq).toSet
    val agg = Relational.q19TopkAggregate(spark, sf).collect().map(_.toSeq).toSet
    assert(agg == win)
    assert(win.nonEmpty)
  }

  test("qt44 BM25 equals a first-principles single-threaded reference") {
    val sf = "/root/testdata/sf0.001"
    val ws = java.util.regex.Pattern.compile("\\s+")
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> ws.split(r.getString(1).trim.toLowerCase, -1).toSeq)
    val n = corpus.length
    val dl = corpus.map { case (id, w) => id -> w.length.toLong }.toMap
    val tf = corpus.map { case (id, w) =>
      id -> w.groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    }.toMap
    val df = corpus.flatMap(_._2.distinct).groupBy(identity)
      .map { case (t, xs) => t -> xs.length.toLong }
    val avgdl = dl.values.sum.toDouble / n.toDouble
    def termScore(t: String, d: Long): Option[Double] = tf(d).get(t).map { f =>
      val idf = math.log((n.toDouble - df(t).toDouble + 0.5) / (df(t).toDouble + 0.5) + 1.0)
      idf * (f.toDouble * 2.2) /
        (f.toDouble + 1.2 * (0.25 + 0.75 * (dl(d).toDouble / avgdl)))
    }
    val expected = corpus.collect { case (qid, w) if qid % 97 == 0 =>
      val terms = w.take(3).distinct
      val scored = corpus.map(_._1).flatMap { d =>
        val ss = terms.flatMap(termScore(_, d))
        if (ss.isEmpty) None
        else Some(d -> ss.sorted.foldLeft(0.0)(_ + _)) // the pinned sorted fold
      }
      qid -> scored.sortBy { case (d, s) => (-s, d) }.take(5)
    }.toMap
    val got = TextAnalysis.bm25Retrieval(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .groupBy(_._1)
    assert(got.keySet == expected.keySet && expected.nonEmpty)
    expected.foreach { case (qid, exp) =>
      val rows = got(qid).sortBy(_._4)
      assert(rows.map(_._4).toSeq == (1 to exp.length), s"query $qid ranks")
      rows.zip(exp).foreach { case ((_, d, s, _), (ed, es)) =>
        assert(d == ed, s"query $qid: doc $d vs expected $ed")
        assert(math.abs(s - es) <= 5e-7, s"query $qid doc $d: $s vs $es")
      }
    }
  }

  test("qt45 Heaps curve equals a first-principles single-threaded replay") {
    val sf = "/root/testdata/sf0.001"
    val ws = java.util.regex.Pattern.compile("\\s+")
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> ws.split(r.getString(1).trim.toLowerCase, -1).toSeq)
    val maxId = corpus.map(_._1).max
    def bucket(id: Long): Int = (id * 10 / (maxId + 1)).toInt
    val firstB = corpus.flatMap { case (id, w) => w.map(_ -> bucket(id)) }
      .groupBy(_._1).map { case (_, xs) => xs.map(_._2).min }
      .groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
    val toks = corpus.flatMap { case (id, w) => w.map(_ => bucket(id)) }
      .groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
    var (ct, cv) = (0L, 0L)
    val expected = (0 until 10).map { b =>
      ct += toks.getOrElse(b, 0L); cv += firstB.getOrElse(b, 0L)
      (b, firstB.getOrElse(b, 0L), ct, cv,
        math.log(cv.toDouble) / math.log(ct.toDouble))
    }
    val got = TextAnalysis.heapsCurve(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).sortBy(_._1)
    assert(got.length == 10)
    got.zip(expected).foreach { case ((b, nt, t, v, hr), (eb, ent, et, ev, ehr)) =>
      assert((b, nt, t, v) == ((eb, ent, et, ev)), s"bucket $b counts")
      assert(math.abs(hr - ehr) < 5e-7, s"bucket $b ratio $hr vs $ehr")
    }
    // the curve is a growth curve: cumulative vocabulary never decreases
    // and ends at the full vocabulary size
    assert(got.map(_._4).toSeq == got.map(_._4).sorted.toSeq)
    assert(got.last._4 == corpus.flatMap(_._2).distinct.size.toLong)
  }

  test("qp1 curation verdict equals a first-principles single-threaded replay") {
    val sf = "/root/testdata/sf0.001"
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def bucket(id: Long): Long =
      java.lang.Long.parseLong(md5hex(s"$id#curation").take(15), 16) % 1000
    def rnd(x: Double, n: Int): Double =
      BigDecimal(x).setScale(n, BigDecimal.RoundingMode.HALF_UP).toDouble
    val alpha = java.util.regex.Pattern.compile("[A-Za-z]")
    case class D(id: Long, src: String, lang: String, tokens: Long,
      mwl: Double, awr: Double, fp: String, sh: Set[String])
    val ds = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "lang", "text").collect().map { r =>
        val (id, src, lang, text) =
          (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))
        val ws = text.trim.split("\\s+", -1)
        val norm = text.toLowerCase.replaceAll("\\s+", " ").trim
        val nw = norm.split(" ", -1)
        val sh = (0 until math.max(nw.length - 3, 1))
          .map(i => nw.slice(i, i + 4).mkString(" ")).filter(_.nonEmpty).toSet
        D(id, src, lang, ws.length.toLong,
          rnd(ws.map(_.length.toLong).sum.toDouble / ws.length, 4),
          rnd(ws.count(w => alpha.matcher(w).find).toDouble / ws.length, 6),
          md5hex(norm), sh)
      }
    val fam = ds.groupBy(_.fp)
      .map { case (fp, xs) => fp -> (xs.map(_.id).min, xs.length.toLong) }
    val evalG = ds.filter(_.id % 29 == 0).flatMap(_.sh).toSet
    val gated = ds.map { d =>
      val (canon, nd) = fam(d.fp)
      val isEval = d.id % 29 == 0
      val isDup = d.id != canon
      val langOk = Set("en", "fr", "de", "es")(d.lang)
      val qOk = d.tokens >= 30 && d.mwl >= 3 && d.mwl <= 10 && d.awr >= 0.8
      val contam = !isEval && d.sh.exists(evalG)
      (d, nd, isEval, isDup, langOk, qOk, contam,
        !isEval && !isDup && langOk && qOk && !contam)
    }
    // qt43-form water-fill over per-source admitted tokens (55% budget)
    val order = gated.filter(_._8).groupBy(_._1.src)
      .map { case (s, xs) => s -> xs.map(_._1.tokens).sum }
      .toSeq.sortBy { case (s, c) => (c, s) }
    val k = order.length.toLong
    val budget = order.map(_._2).sum * 55 / 100
    val cums = order.scanLeft(0L)(_ + _._2).tail
    val fits = order.zipWithIndex.map { case ((_, c), idx) =>
      c * (k - idx) <= budget - (cums(idx) - c) }
    val p = fits.indexWhere(!_) match { case -1 => k; case i => i.toLong }
    val cumP = if (p == 0) 0L else cums((p - 1).toInt)
    val share = if (k > p) (budget - cumP) / (k - p) else 0L
    val rem = if (k > p) (budget - cumP) % (k - p) else 0L
    val rate = order.zipWithIndex.map { case ((s, c), idx) =>
      val i = idx + 1L
      val alloc = if (i <= p) c else share + (if (i - p <= rem) 1L else 0L)
      s -> alloc * 1000 / c
    }.toMap
    val exp = gated.map { case (d, nd, isEval, isDup, langOk, qOk, contam, pass) =>
      val b = bucket(d.id)
      val rm = rate.getOrElse(d.src, 0L)
      val reason =
        if (isEval) "eval_holdout" else if (isDup) "duplicate"
        else if (!langOk) "lang" else if (!qOk) "quality"
        else if (contam) "contaminated"
        else if (b >= rm) "over_budget" else "kept"
      (d.id, d.src, d.lang, d.tokens, nd, rnd(1.0 / nd, 6), reason,
        if (pass && b < rm) 1 else 0)
    }.sortBy(_._1)
    val got = Curation.curationVerdict(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getString(6), r.getInt(7)))
      .sortBy(_._1)
    assert(got.length == exp.length)
    got.zip(exp).foreach { case (g, e) => assert(g == e, s"\n got=$g\n exp=$e") }
    // every gate except `duplicate` binds at sf0.001 (no exact dups there)
    val reasons = got.map(_._7).toSet
    assert(Set("kept", "over_budget", "quality", "lang", "contaminated",
      "eval_holdout").subsetOf(reasons), reasons.toString)
  }

  test("qp2 release manifest equals a single-threaded replay over qp1's kept set") {
    val sf = "/root/testdata/sf0.001"
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def h15(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(15), 16)
    val mers = 2305843009213693951L
    // the integer micro-weight identity: (2e6 + n) DIV 2n == round(1e6 / n)
    (1L to 1000L).foreach { n =>
      val viaInt = (2000000L + n) / (2L * n)
      val viaRound = BigDecimal(1000000)./(BigDecimal(n))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      assert(viaInt == viaRound, s"n=$n: $viaInt vs $viaRound")
    }
    val kept = Curation.curationVerdict(spark, sf).collect()
      .filter(_.getInt(7) == 1)
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4)))
    assert(kept.nonEmpty)
    val exp = kept.map { case (id, src, toks, nd) =>
      (h15(s"shard:$id") % 16, id, src, toks, (2000000L + nd) / (2L * nd),
        h15(s"$id:$toks") % mers)
    }.groupBy(_._1).map { case (shard, xs) =>
      val fpSum = xs.map(x => BigInt(x._6)).sum % mers
      (shard, xs.length.toLong, xs.map(_._4).sum,
        xs.map(_._3).distinct.length.toLong,
        xs.map(_._2).min, xs.map(_._2).max, xs.map(_._5).sum, fpSum.toLong)
    }.toSeq.sortBy(_._1)
    val got = Curation.releaseManifest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .sortBy(_._1)
    assert(got.toSeq == exp, s"\n got=${got.toSeq}\n exp=$exp")
    // shard placement is total: every kept doc landed in exactly one shard
    assert(got.map(_._2).sum == kept.length.toLong)
  }

  test("qd23: LSH eval confusion matrix is internally consistent and catches exact dups") {
    val got = Dedup.lshEval(spark, "/root/testdata/sf0.001").collect()(0)
    val (ns, np, nt, nc, tp, fp, fn) = (got.getLong(0), got.getLong(1),
      got.getLong(2), got.getLong(3), got.getLong(4), got.getLong(5),
      got.getLong(6))
    assert(np == ns * (ns - 1) / 2) // all pairs within the sample
    assert(tp + fp == nc && tp + fn == nt) // confusion-matrix identities
    assert(tp <= nt && tp <= nc && fp >= 0 && fn >= 0)
    if (nc > 0) assert(got.getLong(7) == tp * 1000 / nc)
    if (nt > 0) assert(got.getLong(8) == tp * 1000 / nt)
    // planted exact dups (dupDir docs 0/1 normalize identically): identical
    // shingles give J = 1.0 AND identical signatures, so the band stage can
    // never miss them — tp >= 1 with the whole corpus as the sample
    val dd = Dedup.lshEval(spark, dupDir, sampleK = 16).collect()(0)
    assert(dd.getLong(4) >= 1L, dd.toString) // tp
    assert(dd.getLong(2) >= 1L) // n_true
    // determinism
    val again = Dedup.lshEval(spark, "/root/testdata/sf0.001").collect()(0)
    assert(again.toString == got.toString)
  }

  test("qp3 health report equals a first-principles single-threaded replay") {
    val sf = "/root/testdata/sf0.001"
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def rnd(x: Double, n: Int): Double =
      BigDecimal(x).setScale(n, BigDecimal.RoundingMode.HALF_UP).toDouble
    val alpha = java.util.regex.Pattern.compile("[A-Za-z]")
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "source", "text").collect().map { r =>
        val (id, lang, src, text) =
          (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))
        val ws = text.trim.split("\\s+", -1)
        val norm = text.toLowerCase.replaceAll("\\s+", " ").trim
        val nw = norm.split(" ", -1)
        val sh = (0 until math.max(nw.length - 3, 1))
          .map(i => nw.slice(i, i + 4).mkString(" ")).filter(_.nonEmpty).toSet
        val mwl = rnd(ws.map(_.length.toLong).sum.toDouble / ws.length, 4)
        val awr = rnd(ws.count(w => alpha.matcher(w).find).toDouble / ws.length, 6)
        val q = ws.length >= 30 && mwl >= 3 && mwl <= 10 && awr >= 0.8
        (id, lang, src, ws.length.toLong, text.length.toLong,
          md5hex(norm), q, id % 29 == 0, sh)
      }
    val nDocs = rows.length.toLong
    val nTok = rows.map(_._4).sum
    val evalG = rows.filter(_._8).flatMap(_._9).toSet
    val nContam = rows.count(r => !r._8 && r._9.exists(evalG)).toLong
    val nTrain = nDocs - rows.count(_._8)
    val exp = Map(
      "n_docs" -> nDocs,
      "n_tokens" -> nTok,
      "n_chars" -> rows.map(_._5).sum,
      "mean_tokens_milli" -> nTok * 1000 / nDocs,
      "exact_dup_milli" ->
        (nDocs - rows.map(_._6).distinct.length) * 1000 / nDocs,
      "quality_pass_milli" -> rows.count(_._7) * 1000 / nDocs,
      "eval_holdout_milli" -> rows.count(_._8) * 1000 / nDocs,
      "n_langs" -> rows.map(_._2).distinct.length.toLong,
      "n_sources" -> rows.map(_._3).distinct.length.toLong,
      "contaminated_milli" -> nContam * 1000 / nTrain) ++
      rows.groupBy(_._2).map { case (l, xs) =>
        s"lang_share_milli:$l" -> xs.length.toLong * 1000 / nDocs
      }
    val got = Curation.healthReport(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exp, s"\n got=${got.toSeq.sorted}\n exp=${exp.toSeq.sorted}")
    // every rate metric stays in [0, 1000]
    got.filter(_._1.contains("milli")).filterNot(_._1 == "mean_tokens_milli")
      .foreach { case (k, v) => assert(v >= 0 && v <= 1000, s"$k=$v") }
  }

  test("qt47 source-overlap matrix equals a first-principles replay") {
    val sf = "/root/testdata/sf0.001"
    def rnd(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val sets = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (src, xs) =>
        src -> xs.flatMap { case (_, text) =>
          val nw = text.toLowerCase.replaceAll("\\s+", " ").trim.split(" ", -1)
          (0 until math.max(nw.length - 2, 1))
            .map(i => nw.slice(i, i + 3).mkString(" ")).filter(_.nonEmpty)
        }.toSet
      }
    val srcs = sets.keys.toSeq.sorted
    val exp = (for {
      a <- srcs; b <- srcs if a < b
      na = sets(a).size.toLong; nb = sets(b).size.toLong
      ni = (sets(a) intersect sets(b)).size.toLong
    } yield (a, b, na, nb, ni, rnd(ni.toDouble / (na + nb - ni)),
      rnd(ni.toDouble / na), rnd(ni.toDouble / nb))).sortBy(t => (t._1, t._2))
    val got = TextAnalysis.sourceOverlap(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
      .sortBy(t => (t._1, t._2))
    assert(got.length == exp.length) // complete matrix incl. zero-overlap
    got.zip(exp).foreach { case (g, e) => assert(g == e, s"\n got=$g\n exp=$e") }
  }

  test("qt46 Zipf head equals a first-principles single-threaded replay") {
    val sf = "/root/testdata/sf0.001"
    val ws = java.util.regex.Pattern.compile("\\s+")
    val counts = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect()
      .flatMap(r => ws.split(r.getString(0).trim.toLowerCase, -1))
      .groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    val tot = counts.values.sum
    val head = counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(32)
    val c1 = head.head._2
    val got = TextAnalysis.zipfCurve(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4))).sortBy(_._1)
    assert(got.length == head.length)
    got.zip(head.zipWithIndex).foreach { case ((r, t, c, fs, ze), ((et, ec), i)) =>
      assert(r == i + 1 && t == et && c == ec, s"rank ${i + 1}: ($r,$t,$c) vs ($et,$ec)")
      assert(math.abs(fs - ec.toDouble / tot) < 5e-7, s"rank $r share")
      if (r == 1) assert(ze.isNaN, "rank 1 has no exponent")
      else {
        val exp = (math.log(c1.toDouble) - math.log(ec.toDouble)) / math.log((i + 1).toDouble)
        assert(math.abs(ze - exp) < 5e-7, s"rank $r exp $ze vs $exp")
      }
    }
  }

  test("qt44 BM25 survives degenerate documents (empty, whitespace, one-word)") {
    val ss = spark; import ss.implicits._
    val dir = Files.createTempDirectory("graft-bm25edge").toString
    // doc 0 is a query doc (0 % 97 == 0) and is EMPTY; 97 is a one-word
    // query doc; the rest exercise whitespace-only and normal text
    Seq(
      (0L, "", "en", "s0", 0L),
      (1L, "   ", "en", "s0", 3L),
      (2L, "fox", "en", "s1", 3L),
      (3L, "the quick brown fox jumps", "en", "s1", 25L),
      (97L, "fox", "en", "s2", 3L),
      (98L, "the quick brown fox jumps over the fox again", "en", "s2", 45L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.bm25Retrieval(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // query 97 ("fox") must retrieve exactly the fox-bearing docs (the
    // query doc itself included — corpus-drawn queries are corpus members);
    // docs 2 and 97 tie on identical text, doc_id asc puts 2 first
    val q97 = rows.filter(_._1 == 97L).sortBy(_._4)
    assert(q97.nonEmpty && q97.head._2 == 2L, q97.mkString(","))
    assert(q97.map(_._2).toSeq == Seq(2L, 97L, 98L, 3L), q97.mkString(","))
    // ranks are 1..n per query, scores non-increasing, all finite
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to rs.length), s"query $q")
      val scores = sorted.map(_._3).toSeq
      assert(scores == scores.sorted.reverse, s"query $q order")
      scores.foreach(s => assert(!s.isNaN && !s.isInfinite, s"query $q score $s"))
    }
    // deterministic: a second run is row-identical
    val again = TextAnalysis.bm25Retrieval(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(again.sortBy(x => (x._1, x._4)).toSeq == rows.sortBy(x => (x._1, x._4)).toSeq)
  }

  test("top_k_rank keeps duplicate (key, payload) rows like the window form") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions.{col, posexplode}
    val df = Seq((1, 5.0, 10L), (1, 5.0, 10L), (1, 4.0, 11L), (1, 6.0, 9L))
      .toDF("g", "k", "p")
    val rows = df.groupBy(col("g"))
      .agg(graft.functions.GraftFunctions.topKRank(col("k"), col("p"), 3).as("t"))
      .select(posexplode(col("t")).as(Seq("pos", "e")))
      .select(col("e.sort_key"), col("e.payload"))
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    // row_number over (k DESC, p ASC) keeps both duplicate (5.0, 10) rows
    assert(rows == Seq((6.0, 9L), (5.0, 10L), (5.0, 10L)), rows.toString)
  }

  test("repetition one-pass expression equals the composed explode+join form") {
    for (dir <- Seq(dupDir, "/root/testdata/sf0.001")) {
      val native = TextAnalysis.repetitionSignals(spark, dir)
        .collect().map(_.toSeq).toSet
      val composed = TextAnalysis.repetitionSignalsComposed(spark, dir)
        .collect().map(_.toSeq).toSet
      assert(native == composed, dir)
      assert(native.nonEmpty, dir)
    }
  }

  test("repetition profile degenerate inputs: empty/blank/one-word docs drop") {
    val ss = spark; import ss.implicits._
    val dir = Files.createTempDirectory("graft-rep-degenerate").toString
    Seq((0L, ""), (1L, "   \t\n "), (2L, "word"), (3L, "a a"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.repetitionSignals(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(3L), rows.mkString(";"))
    val r = rows.head
    assert(r.getLong(1) == 2L) // n_words
    assert(r.getDouble(2) == 0.5) // dup_word_frac: 1 distinct of 2
    assert(r.getString(3) == "a a" && r.getLong(4) == 1L)
  }

  test("qd10 LSH closure: clusters cover the qd7 pair graph, one survivor each") {
    val pairs = Dedup.minhashLshPairsPortable(spark, dupDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val closure = Dedup.lshDedupClosure(spark, dupDir).collect()
    val cluster = closure.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every pair endpoint is clustered, and both ends share a component
    pairs.foreach { case (a, b) =>
      assert(cluster.contains(a) && cluster.contains(b), s"($a,$b)")
      assert(cluster(a) == cluster(b), s"($a,$b)")
    }
    // exactly one survivor per cluster, and it has the max quality (min id tie)
    closure.groupBy(_.getLong(1)).foreach { case (cid, members) =>
      assert(members.count(_.getBoolean(4)) == 1, s"cluster $cid")
      val best = members.minBy(m => (-m.getDouble(3), m.getLong(0)))
      assert(best.getBoolean(4), s"cluster $cid")
      assert(members.forall(_.getLong(2) == members.length.toLong), s"cluster $cid")
    }
  }

  test("qd22 soft-dedup weights: 1/|cluster| over the pair graph, singletons at 1") {
    val pairs = Dedup.minhashLshPairsPortable(spark, dupDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val rows = Dedup.dedupWeights(spark, dupDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val all = spark.read.parquet(s"$dupDir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rows.map(_._1).toSet == all) // exactly one weight row per doc
    val rep = rows.map(r => r._1 -> r._2).toMap
    pairs.foreach { case (a, b) => assert(rep(a) == rep(b), s"($a,$b)") }
    rows.foreach { case (d, _, cs, wm, wt) =>
      assert(wm == 1000L / cs, s"doc $d milli")
      assert(math.abs(wt - 1.0 / cs) < 1e-9, s"doc $d weight")
    }
    // reported sizes agree with the actual rep-group sizes
    rows.groupBy(_._2).foreach { case (cr, ms) =>
      assert(ms.forall(_._3 == ms.length.toLong), s"cluster $cr")
    }
    // docs in no pair are singletons at full weight
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    rows.filter(r => !paired.contains(r._1)).foreach { r =>
      assert(r._3 == 1L && r._4 == 1000L && r._5 == 1.0, s"doc ${r._1}")
    }
    // soft-dedup conservation: total expected mass = one unit per family
    val units = rows.map(_._2).distinct.length
    assert(math.abs(rows.map(_._5).sum - units) < 1e-6)
  }

  test("qm11 scene cuts: same-shot runs at distance 0, cuts only at run bounds") {
    val sf = "/root/testdata/sf0.001"
    val rows = Multimodal.sceneCuts(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    rows.groupBy(_._1).foreach { case (id, rs) =>
      val nf = 3 + (id % 4).toInt
      assert(rs.length == nf - 1, s"doc $id pair count")
      assert(rs.map(_._2).sorted.toSeq == (1 until nf), s"doc $id frames")
    }
    rows.foreach { case (id, f, dist, cut) =>
      assert(cut == (dist >= 16L), s"doc $id frame $f flag")
      // content runs in pairs phased by doc parity: (f + id%2) odd means
      // frame f repeats frame f-1's pixels — distance must be exactly 0
      if ((f + (id % 2).toInt) % 2 == 1)
        assert(dist == 0L && !cut, s"doc $id frame $f same-shot")
    }
    assert(rows.exists(_._4) && rows.exists(r => !r._4))
  }

  test("qs12 range search agrees with brute-force top-k where they overlap") {
    val sf = "/root/testdata/sf0.001"
    val range = Similarity.rangeSearch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(range.nonEmpty)
    range.values.foreach(c => assert(c >= 0.249999, s"cosine $c below tau"))
    // every brute top-k neighbor safely inside the radius must be in the
    // range set with the identical rounded score (same native cosine core)
    val brute = Similarity.annBruteForce(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3))
    val inside = brute.filter(_._2 >= 0.251)
    assert(inside.nonEmpty)
    inside.foreach { case (key, c) =>
      assert(range.get(key).contains(c), s"$key: brute $c vs range ${range.get(key)}")
    }
  }

  test("int8-code ANN tracks exact f32 cosine ANN (recall@10 >= 0.8)") {
    val sf = "/root/testdata/sf0.001"
    val exact = Similarity.annBruteForce(spark, sf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val quant = Similarity.annInt8(spark, sf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(quant.keySet == exact.keySet)
    val recalls = exact.map { case (q, ids) =>
      (quant(q) & ids).size.toDouble / ids.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean recall@10 $mean")
    // integer scores are deterministic: re-run is identical
    val again = Similarity.annInt8(spark, sf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(again == quant)
  }

  test("qs6 PQ-ADC shortlist covers exact L2 top-10 (re-rank recall >= 0.8)") {
    // the production PQ pattern: a wide ADC shortlist (here 100 of 500) is
    // re-ranked with stored full-precision vectors; what matters is that
    // the shortlist CONTAINS the true neighbors. Exact baseline: int64
    // fixed-point L2 on the same 1e6 grid ADC quantizes against.
    val sf = "/root/testdata/sf0.001"
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(v => math.round(v.toDouble * 1e6)).toArray)
      .sortBy(_._1)
    def l2(a: Array[Long], b: Array[Long]): Long = {
      var d = 0L; var i = 0
      while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
      d
    }
    val shortlist = Similarity.annPq(spark, sf, k = 100).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = (0 until 5).map { q =>
      val qv = vecs(q)._2
      val exact = vecs.filter(_._1 != q.toLong)
        .sortBy { case (id, v) => (l2(qv, v), id) }.take(10).map(_._1).toSet
      (shortlist(q.toLong) & exact).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean shortlist recall $mean (${recalls.mkString(",")})")
    // exact integer ADC is deterministic: re-run of the default k is identical
    val once = Similarity.annPq(spark, sf).collect().map(_.toSeq).toSet
    val again = Similarity.annPq(spark, sf).collect().map(_.toSeq).toSet
    assert(once == again && once.size == 50)
  }

  test("qs7 IVF-PQ: probed-cell honesty, full-probe recall, determinism") {
    val sf = "/root/testdata/sf0.001"
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(v => math.round(v.toDouble * 1e6)).toArray)
      .sortBy(_._1)
    def l2(a: Array[Long], b: Array[Long]): Long = {
      var d = 0L; var i = 0
      while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
      d
    }
    // independent replay of cell assignment + probe selection from the model
    val codes = spark.read.parquet(s"$sf/embeddings.parquet").select(
      org.apache.spark.sql.functions.col("vec_id"),
      org.apache.spark.sql.functions.transform(
        org.apache.spark.sql.functions.col("embedding"),
        v => org.apache.spark.sql.functions.round(v.cast("double") *
          org.apache.spark.sql.functions.lit(1e6)).cast("long")).as("qv"))
    val (coarse, _) = Similarity.ivfPqModel(codes, kc = 8, m = 4, ks = 8,
      rounds = 2, sampleCap = 4096)
    def nearestCells(v: Array[Long], n: Int): Seq[Int] =
      coarse.indices.map(c => (l2(v, coarse(c)), c)).sorted.take(n).map(_._2)
    val cellOf = vecs.map { case (id, v) => id -> nearestCells(v, 1).head }.toMap
    // nprobe=4 honesty: every returned neighbor sits in a probed cell
    val res = Similarity.annIvfPq(spark, sf).collect()
    assert(res.length == 50)
    res.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val probed = nearestCells(vecs(q.toInt)._2, 4).toSet
      rows.foreach { r =>
        assert(probed.contains(cellOf(r.getLong(1))),
          s"query $q neighbor ${r.getLong(1)} outside probed cells $probed")
      }
    }
    // full probe (nprobe=kc): the two-level pruning is off, so the ADC
    // shortlist quality bar is the qs6 one — residual PQ must be at least
    // as sharp as direct PQ on the same code budget
    val shortlist = Similarity.annIvfPq(spark, sf, topK = 100, nprobe = 8)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = (0 until 5).map { q =>
      val qv = vecs(q)._2
      val exact = vecs.filter(_._1 != q.toLong)
        .sortBy { case (id, v) => (l2(qv, v), id) }.take(10).map(_._1).toSet
      (shortlist(q.toLong) & exact).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean shortlist recall $mean (${recalls.mkString(",")})")
    // exact integer pipeline is deterministic
    val again = Similarity.annIvfPq(spark, sf).collect()
    assert(res.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
  }

  test("qt29 Gopher repetition battery matches an independent reference") {
    // independent replay: hex-string md5 parsing (not md5Halves bit math),
    // Vector/groupBy counting (not the expression's HashMap pass)
    val sf = "/root/testdata/sf0.001"
    def cp(s: String): Long = s.codePointCount(0, s.length).toLong
    def md560(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15), 16)
    def byteLt(a: String, b: String): Boolean = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      var i = 0
      while (i < x.length && i < y.length) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
        .doubleValue
    def frac(num: Long, den: Long): Double =
      if (den == 0L) 0.0 else round6(num.toDouble / den)
    val thresholds = Seq(0.30, 0.20, 0.30, 0.20, 0.20, 0.18, 0.16,
      0.15, 0.14, 0.13, 0.12, 0.11, 0.10)
    def reference(docId: Long, text: String): (Long, Seq[Double], Int) = {
      val words = text.toLowerCase.split(" ", -1).toVector
      val wchars = words.map(cp).sum
      def segStats(mod: Int): (Long, Long, Long, Long) = {
        val segs = Vector.newBuilder[String]
        val cur = new StringBuilder
        var first = true
        for (i <- words.indices) {
          if (!first) cur.append(' ')
          cur.append(words(i)); first = false
          if (md560(s"$docId:$i") % mod == 0 || i == words.length - 1) {
            if (cur.nonEmpty) segs += cur.toString
            cur.clear(); first = true
          }
        }
        val ss = segs.result()
        val counts = ss.groupBy(identity).view.mapValues(_.size.toLong)
        (ss.size.toLong, ss.map(cp).sum,
          counts.values.map(_ - 1).sum,
          counts.map { case (s, c) => (c - 1) * cp(s) }.sum)
      }
      def grams(n: Int): Vector[String] =
        (0 to words.length - n).map(i => words.slice(i, i + n).mkString(" ")).toVector
      def topNum(n: Int): Long = {
        val gs = grams(n)
        if (gs.isEmpty) 0L
        else {
          val counts = gs.groupBy(identity).view.mapValues(_.size).toMap
          val maxC = counts.values.max
          val top = counts.collect { case (g, c) if c == maxC => g }
            .reduceLeft((a, b) => if (byteLt(a, b)) a else b)
          maxC.toLong * (cp(top) - (n - 1))
        }
      }
      def dupCov(n: Int): Long = {
        val gs = grams(n)
        val counts = gs.groupBy(identity).view.mapValues(_.size).toMap
        val cov = Array.fill(words.length)(false)
        for (i <- gs.indices if counts(gs(i)) >= 2; j <- i until i + n)
          cov(j) = true
        words.indices.collect { case j if cov(j) => cp(words(j)) }.sum
      }
      val (nl, lc, dlo, dlc) = segStats(5)
      val (np, pc, dpo, dpc) = segStats(15)
      val fracs = Seq(frac(dlo, nl), frac(dlc, lc), frac(dpo, np), frac(dpc, pc)) ++
        Seq(2, 3, 4).map(n => frac(topNum(n), wchars)) ++
        (5 to 10).map(n => frac(dupCov(n), wchars))
      val passes = if (fracs.zip(thresholds).forall { case (f, t) => f <= t }) 1 else 0
      (words.length.toLong, fracs, passes)
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = TextAnalysis.gopherRepetition(spark, sf).collect()
    assert(got.length == docs.size)
    got.foreach { r =>
      val id = r.getLong(0)
      val (nw, fracs, passes) = reference(id, docs(id))
      assert(r.getLong(1) == nw, s"doc $id n_words")
      fracs.zipWithIndex.foreach { case (f, i) =>
        assert(r.getDouble(2 + i) == f, s"doc $id frac $i: got ${r.getDouble(2 + i)} want $f")
      }
      assert(r.getInt(15) == passes, s"doc $id passes")
    }
    // the battery discriminates on this corpus: both outcomes occur
    val flags = got.map(_.getInt(15)).toSet
    assert(flags == Set(0, 1), s"degenerate pass flags: $flags")
  }

  test("q20 z-order layout: Morton replay; prunes user scans a time layout cannot") {
    val sf = "/root/testdata/sf0.001"
    val rows = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("user_id", "unix_timestamp(ts) div 3600 AS h").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val (minU, maxU) = (rows.map(_._1).min, rows.map(_._1).max)
    val (minH, maxH) = (rows.map(_._2).min, rows.map(_._2).max)
    def codeOf(v: Long, lo: Long, hi: Long): Long =
      if (hi == lo) 0L else (v - lo) * 65535L / (hi - lo)
    def morton(x: Long, y: Long): Long = (0 until 16).map(k =>
      (((x >> k) & 1L) << (2 * k)) | (((y >> k) & 1L) << (2 * k + 1))).sum
    val assigned = rows.map { case (u, h) =>
      val z = morton(codeOf(u, minU, maxU), codeOf(h, minH, maxH))
      (u, h, z, z >> 27)
    }
    val want = assigned.groupBy(_._4).view.mapValues(g =>
      (g.length.toLong, g.map(_._1).min, g.map(_._1).max,
        g.map(_._2).min, g.map(_._2).max, g.map(_._3).min, g.map(_._3).max))
      .toMap
    val got = Relational.q20ZorderLayout(spark, sf).collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    assert(got == want)
    // the data-skipping claim, measured: per-file (user, hour) envelopes
    // under the z-layout vs the natural time-ordered layout of the same
    // file count. A single-user scan must touch strictly fewer z-files —
    // every time-slice file spans (nearly) the whole user range
    val timeFiles = rows.sortBy(_._2)
      .grouped(math.max(1, rows.length / got.size)).toVector
      .map(g => (g.map(_._1).min, g.map(_._1).max))
    val zFiles = got.values.map(v => (v._2, v._3)).toVector
    def survivors(files: Vector[(Long, Long)], u: Long): Int =
      files.count { case (a, b) => a <= u && u <= b }
    val users = rows.map(_._1).distinct.sorted
    val probes = Seq(users(users.length / 4), users(users.length / 2),
      users(3 * users.length / 4))
    probes.foreach { u =>
      val (z, tm) = (survivors(zFiles, u), survivors(timeFiles, u))
      assert(z < tm, s"user $u: z-layout touches $z files, time layout $tm")
    }
  }

  test("qs8 re-rank recovers exactly the true neighbors its shortlist covers") {
    val sf = "/root/testdata/sf0.001"
    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val brute = sets(Similarity.annBruteForce(spark, sf))
    val raw = sets(Similarity.annIvfPq(spark, sf))
    val short100 = sets(Similarity.annIvfPq(spark, sf, topK = 100))
    val rr = sets(Similarity.annRerank(spark, sf))
    (0L until 5L).foreach { q =>
      // output is always a subset of the approximate shortlist
      assert(rr(q).subsetOf(short100(q)), s"query $q left its shortlist")
      // the exact stage is lossless within the shortlist: every true
      // top-10 neighbor the shortlist covers is recovered
      assert((rr(q) & brute(q)) == (short100(q) & brute(q)),
        s"query $q: rerank ${(rr(q) & brute(q)).size} vs shortlist " +
          s"coverage ${(short100(q) & brute(q)).size}")
    }
    // and the second stage adds value over raw ADC ranking on average
    def recall(m: Map[Long, Set[Long]]): Double =
      (0L until 5L).map(q => (m(q) & brute(q)).size / 10.0).sum / 5
    assert(recall(rr) >= recall(raw),
      s"rerank recall ${recall(rr)} < raw ADC recall ${recall(raw)}")
  }

  test("qt30 Kneser-Ney LM matches an independent reference and normalizes") {
    val sf = "/root/testdata/sf0.001"
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def words(t: String): Vector[String] =
      t.toLowerCase.replaceAll("\\s+", " ").trim.split(" ").toVector
    val allBigrams = texts.flatMap { case (_, t) =>
      val w = words(t); if (w.length < 2) Nil else w.sliding(2).map(_.mkString(" "))
    }
    val cb = allBigrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val cu = cb.toSeq.groupBy(_._1.split(" ")(0)).view
      .mapValues(g => (g.map(_._2).sum, g.size.toLong)).toMap // (context count, N1+(w1 *))
    val n1r = cb.keys.groupBy(_.split(" ")(1)).view.mapValues(_.size.toLong).toMap
    val nt = cb.size.toLong
    val d = 0.75
    def pkn(w1: String, w2: String): Double = {
      val (c1, l1) = cu(w1)
      val disc = math.max(cb.getOrElse(s"$w1 $w2", 0L).toDouble - d, 0.0) / c1
      disc + (d * l1 / c1) * (n1r.getOrElse(w2, 0L).toDouble / nt)
    }
    // interpolated KN normalizes: sum over the FULL vocab of P(.|w1) = 1
    // (the held-out discount mass exactly funds the continuation model)
    val vocab = n1r.keys.toVector
    cu.keys.take(5).foreach { w1 =>
      val s = vocab.map(w2 => pkn(w1, w2)).sum
      assert(math.abs(s - 1.0) < 1e-9, s"context '$w1' sums to $s")
    }
    // per-doc scores: logs rounded to 9, sorted, folded in order, / n, round 6
    def round9(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue
    def round6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val want = texts.flatMap { case (id, t) =>
      val w = words(t)
      if (w.length < 2) None
      else {
        val logs = w.sliding(2).map(p => round9(math.log(pkn(p(0), p(1)))))
          .toArray.sorted
        Some(id -> (w.length - 1L, round6(logs.foldLeft(0.0)(_ + _) / logs.length)))
      }
    }.toMap
    val got = TextAnalysis.knLmScore(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (id, v) =>
      assert(got(id) == v, s"doc $id: got ${got(id)} want $v")
    }
    // KN must diverge from qt16's add-one scores (it is a different model)
    val add1 = TextAnalysis.lmScore(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(want.exists { case (id, (_, s)) => s != add1(id) })
  }

  test("BPE merges match an in-memory reference trainer on the dup corpus") {
    // reference: word-type BPE with the same greedy left-to-right merge and
    // (count DESC, l ASC, r ASC) tie-break
    def refBpe(texts: Seq[String], k: Int): Seq[(Int, String, String, Long)] = {
      var types: Map[Vector[String], Long] = texts
        .flatMap(_.toLowerCase.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
        .map { case (w, c) => w.toVector.map(_.toString) -> c }
      val out = Vector.newBuilder[(Int, String, String, Long)]
      for (rank <- 1 to k) {
        val counts = scala.collection.mutable.Map[(String, String), Long]()
        for ((syms, c) <- types; i <- 0 until syms.length - 1)
          counts((syms(i), syms(i + 1))) =
            counts.getOrElse((syms(i), syms(i + 1)), 0L) + c
        if (counts.nonEmpty) {
          val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
          out += ((rank, l, r, c))
          types = types.groupMapReduce { case (syms, _) =>
            val merged = Vector.newBuilder[String]
            var acc = Vector.empty[String]
            syms.foreach { s =>
              if (acc.nonEmpty && acc.last == l && s == r)
                acc = acc.init :+ (l + r)
              else acc = acc :+ s
            }
            acc
          }(_._2)(_ + _)
        }
      }
      out.result()
    }
    val texts = spark.read.parquet(s"$dupDir/documents.parquet")
      .select("text").collect().map(_.getString(0)).toSeq
    val expected = refBpe(texts, 8)
    val got = TextAnalysis.bpeMerges(spark, dupDir, 8).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      .sortBy(_._1)
    assert(got == expected, s"\ngot      $got\nexpected $expected")
  }

  test("pack bins: two-phase prefix sum lays documents out contiguously") {
    val sf = "/root/testdata/sf0.001"
    val rows = TextAnalysis.packBins(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.nonEmpty)
    var running = 0L
    rows.foreach { case (id, n, start, bin) =>
      assert(start == running, s"doc $id start $start != $running")
      assert(bin == start / 2048, s"doc $id bin")
      running += n
    }
    // different shard counts must give the identical global layout
    val alt = TextAnalysis.packBins(spark, sf, shards = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(alt.toSeq == rows.toSeq)
  }

  test("quantile histogram equals brute-force quantiles of the same sample") {
    import org.apache.spark.sql.functions.{col, concat, conv, lit, md5, substring}
    val sf = "/root/testdata/sf0.001"
    val rows = TextAnalysis.quantileHist(spark, sf).collect()
    assert(rows.nonEmpty)
    // brute force: collect the deterministic sample, sort, index
    val bucket = conv(substring(md5(
      concat(col("doc_id").cast("string"), lit("#quant"))), 1, 15), 16, 10)
      .cast("long") % 1000
    val sample = spark.read.parquet(s"$sf/documents.parquet")
      .filter(bucket < 250).select(col("lang"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    rows.foreach { r =>
      val lang = r.getString(0)
      val vs = sample(lang)
      assert(r.getAs[Long]("n_sampled") == vs.length.toLong, lang)
      def brute(p: Int): Long = vs(((vs.length - 1) * p) / 100)
      assert(r.getAs[Long]("p25") == brute(25), s"$lang p25")
      assert(r.getAs[Long]("p50") == brute(50), s"$lang p50")
      assert(r.getAs[Long]("p75") == brute(75), s"$lang p75")
      assert(r.getAs[Long]("p90") == brute(90), s"$lang p90")
      assert(r.getAs[Long]("p25") <= r.getAs[Long]("p90"), lang)
    }
  }

  test("ppjoin prefix-filtered similarity join equals brute force (lossless)") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val t = 0.8
    // brute force: every pair, exact Jaccard — the ground truth the prefix
    // + length + positional filters must not lose a single pair of
    val base = Dedup.shinglesOf(
      spark.read.parquet(s"$sf/documents.parquet"), 2)
    val a = base.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = base.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val brute = a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .withColumn("jaccard",
        graft.functions.GraftFunctions.jaccardSorted(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= t)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pp = Dedup.ppjoinPairs(spark, sf, threshold = t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pp == brute, s"ppjoin=${pp.size} brute=${brute.size}")
    // the point of the filters: candidates well under the quadratic count
    val nDocs = base.count()
    val nCand = Dedup.ppjoinCandidates(base, t, 4096).count()
    val nBrute = nDocs * (nDocs - 1) / 2
    info(s"candidates: $nCand of $nBrute brute pairs " +
      f"(${nBrute.toDouble / nCand}%.1fx reduction), ${pp.size} verified")
    assert(nCand < nBrute / 2, s"$nCand vs $nBrute")
  }

  test("multimodal decode plumbing: deterministic stub meta + frame sampling") {
    val meta = Multimodal.decodeMeta(spark, dupDir).collect()
    assert(meta.length == 10)
    assert(meta.forall(m => m.n_bytes > 0 && m.width >= 64 && m.n_frames >= 1))
    // real-header rows: the generator embeds doc_id-derived dimensions into
    // actual PNG IHDR / JPEG SOF / GIF LSD / WebP VP8X bytes; decode must
    // parse them back out
    meta.foreach { m =>
      val fmt = m.doc_id % 6 match {
        case 0 => Some("png")
        case 1 => Some("jpeg")
        case 3 => Some("gif")
        case 4 => Some("webp")
        case _ => None
      }
      fmt match {
        case Some(f) =>
          assert(m.format == f && m.n_frames == 1, m.toString)
          assert(m.width == 100 + m.doc_id % 1800, m.toString)
          assert(m.height == 80 + (m.doc_id * 7) % 1000, m.toString)
        case None => assert(m.format == "webm", m.toString)
      }
    }
    val again = Multimodal.decodeMeta(spark, dupDir).collect()
    assert(meta.sortBy(_.doc_id).sameElements(again.sortBy(_.doc_id)))
    val frames = Multimodal.sampleFrames(spark, dupDir).collect()
    assert(frames.nonEmpty)
    // letterbox: the binding dimension fills the 1024 target exactly,
    // margins are non-negative, aspect preserved within rounding
    val lb = Multimodal.letterboxSpecs(spark, dupDir).collect()
    assert(lb.length == meta.length)
    lb.foreach { r =>
      val (nw, nh) = (r.getAs[Int]("new_w"), r.getAs[Int]("new_h"))
      assert(math.max(nw, nh) == 1024, r.toString)
      assert(r.getAs[Int]("pad_x") >= 0 && r.getAs[Int]("pad_y") >= 0)
      val aspect = r.getAs[Int]("width").toDouble / r.getAs[Int]("height")
      assert(math.abs(nw.toDouble / nh - aspect) < 0.02, r.toString)
    }
  }

  test("DSIR weights rank out-of-target-language docs below the target docs") {
    // target = en; doc 9 is the lone German doc — its hashed n-grams never
    // appear in the target slice, so its log importance weight must fall
    // below every English doc's (whose features the target model has seen)
    val w = TextAnalysis.dsirWeights(spark, dupDir, targetLang = "en")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w.size == 10)
    val deWeight = w(9L)
    val enWeights = (0L to 8L).map(w(_))
    assert(enWeights.forall(deWeight < _),
      s"de doc weight $deWeight not below en weights $enWeights")
    // weights are per-instance sums of a shared bucket model: deterministic
    val again = TextAnalysis.dsirWeights(spark, dupDir, targetLang = "en")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(again == w)
  }

  test("qt24: quantized classifier gate rejects the out-of-target doc") {
    val rows = TextAnalysis.classifierGate(spark, dupDir, targetLang = "en")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_feats"), r.getAs[Long]("logit_q"),
          r.getAs[Int]("kept")))).toMap
    assert(rows.size == 10)
    // doc 9 is the lone German doc: its features never hit the target
    // slice, so the quantized logit must fall below every English doc's
    // and below the keep threshold
    val (_, deLogit, deKept) = rows(9L)
    assert(deKept == 0, s"de doc kept with logit $deLogit")
    (0L to 8L).foreach { id =>
      assert(rows(id)._2 > deLogit, s"doc $id logit ${rows(id)._2} <= de $deLogit")
    }
    // the integer path is deterministic by construction
    val again = TextAnalysis.classifierGate(spark, dupDir, targetLang = "en")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_feats"), r.getAs[Long]("logit_q"),
          r.getAs[Int]("kept")))).toMap
    assert(again == rows)
  }

  test("qt25: temperature mixture downsamples head domains, keeps the tail") {
    // skewed corpus: 900 docs of source A, 100 of B, 25 of C
    val ss = spark; import ss.implicits._
    val dir = Files.createTempDirectory("graft-mix").toString
    (0 until 1025).map { i =>
      val src = if (i < 900) "A" else if (i < 1000) "B" else "C"
      (i.toLong, s"doc $i words", "en", src, 10L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.domainMixture(spark, dir).collect()
    assert(out.length == 1025)
    val bySrc = out.groupBy(_.getAs[String]("source"))
    // alpha=0.5: rate_d = floor(k * sqrt(n_min/n_d))
    assert(bySrc("A").head.getAs[Long]("keep_per_k") == 166666L) // sqrt(25/900)
    assert(bySrc("B").head.getAs[Long]("keep_per_k") == 500000L) // sqrt(25/100)
    assert(bySrc("C").head.getAs[Long]("keep_per_k") == 1000000L)
    // the smallest domain keeps everything; bigger domains keep ever less
    assert(bySrc("C").forall(_.getAs[Int]("kept") == 1))
    def frac(s: String) =
      bySrc(s).count(_.getAs[Int]("kept") == 1).toDouble / bySrc(s).length
    assert(frac("A") < frac("B") && frac("B") < 1.0, s"${frac("A")} ${frac("B")}")
    // the md5 predicate is a fair 1/6 and 1/2 sampler at these sizes
    assert(math.abs(frac("A") - 1.0 / 6) < 0.05, frac("A").toString)
    assert(math.abs(frac("B") - 0.5) < 0.15, frac("B").toString)
    // balanced domains (the fixture corpus) are untouched
    val even = TextAnalysis.domainMixture(spark, dupDir).collect()
    assert(even.forall(_.getAs[Int]("kept") == 1))
  }

  test("qt22: PII redaction counts and scrubs exactly the planted spans") {
    val rows = TextAnalysis.piiRedact(spark, dupDir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.size == 10)
    rows.foreach { case (id, r) =>
      val (ne, np, ni) = (r.getAs[Long]("n_emails"), r.getAs[Long]("n_phones"),
        r.getAs[Long]("n_ips"))
      assert(ne == (if (id % 2 == 0) 1L else 0L), s"doc $id emails $ne")
      assert(np == (if (id % 3 == 0) 1L else 0L), s"doc $id phones $np")
      assert(ni == (if (id % 5 == 0) 1L else 0L), s"doc $id ips $ni")
      assert(r.getAs[Long]("pii_total") == ne + np + ni)
      val red = r.getAs[String]("redacted")
      // every planted span is gone, replaced by its typed placeholder
      assert(!red.contains("@ex"), s"doc $id leaked email: $red")
      assert(!red.contains("555-"), s"doc $id leaked phone: $red")
      assert(red.contains("<EMAIL>") == (id % 2 == 0), s"doc $id: $red")
      assert(red.contains("<PHONE>") == (id % 3 == 0), s"doc $id: $red")
      assert(red.contains("<IP>") == (id % 5 == 0), s"doc $id: $red")
    }
    // doc 1 plants nothing: redaction must be the identity on clean text
    assert(rows(1L).getAs[String]("redacted") ==
      "The quick brown fox  jumps over the lazy dog again and again today")
  }

  test("qt23: BPE encoding compresses with the trained merges, invariantly") {
    val out = TextAnalysis.bpeEncode(spark, dupDir, k = 6).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_chars"))).toMap
    assert(out.size == 10)
    out.foreach { case (id, (nw, nt, nc)) =>
      assert(nt >= nw, s"doc $id: fewer tokens than words ($nt < $nw)")
      assert(nt <= nc, s"doc $id: more tokens than chars ($nt > $nc)")
    }
    // the corpus repeats "the"/"again"/"and": 6 merges must compress SOME doc
    // below its character count
    assert(out.values.exists { case (_, nt, nc) => nt < nc },
      "no merge ever fired")
    // exact dups (0 normalizes to 1's text) encode identically per word:
    // same word multiset -> same token count
    val (w0, t0, c0) = out(0L)
    val (w1, t1, c1) = out(1L)
    assert(w0 == w1 && t0 == t1 && c0 == c1, s"$w0/$t0/$c0 vs $w1/$t1/$c1")
    // determinism
    val again = TextAnalysis.bpeEncode(spark, dupDir, k = 6).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_chars"))).toMap
    assert(again == out)
  }

  test("qt49: per-language fertility equals the per-doc encode re-aggregated") {
    val sf = "/root/testdata/sf0.001"
    def rnd(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val langOf = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val perDoc = TextAnalysis.bpeEncode(spark, sf).collect()
      .map(r => (langOf(r.getLong(0)), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("n_chars")))
    val exp = perDoc.groupBy(_._1).map { case (lang, xs) =>
      val (w, t, c) = (xs.map(_._2).sum, xs.map(_._3).sum, xs.map(_._4).sum)
      (lang, xs.length.toLong, w, t, c,
        rnd(t.toDouble / w.toDouble), rnd(c.toDouble / t.toDouble))
    }.toSeq.sortBy(_._1)
    val got = TextAnalysis.tokenizerFertility(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6))).toSeq.sortBy(_._1)
    assert(got == exp, s"\n got=$got\n exp=$exp")
    assert(got.length > 1) // multiple languages actually present
    // fertility is a ratio >= 1: BPE never makes more than 1 token/char
    got.foreach { case (lang, _, _, _, _, tpw, cpt) =>
      assert(tpw >= 1.0 && cpt >= 1.0, s"$lang: $tpw/$cpt")
    }
  }

  test("qt51: sketched overlap tracks qt47's exact matrix within KMV error") {
    val sf = "/root/testdata/sf0.001"
    val exact = TextAnalysis.sourceOverlap(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(5)))).toMap
    val est = TextAnalysis.sketchedOverlap(spark, sf).collect()
    assert(est.length == exact.size) // complete S x S skeleton both ways
    est.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      val (na, nb, jexact) = exact(key)
      val (estA, estB, jest) = (r.getDouble(4), r.getDouble(5), r.getDouble(8))
      // KMV k=256: size stderr ~ D/sqrt(k-2) ~ 6%; 25% is a ~4-sigma bound
      // (and the hashes are deterministic, so this is a fixed property)
      assert(math.abs(estA - na) <= 0.25 * na, s"$key estA=$estA n_a=$na")
      assert(math.abs(estB - nb) <= 0.25 * nb, s"$key estB=$estB n_b=$nb")
      assert(math.abs(jest - jexact) <= 0.15, s"$key jest=$jest exact=$jexact")
      // a full sketch estimates up; an under-full sketch IS the exact size
      if (r.getLong(2) < 256) assert(estA == r.getLong(2).toDouble)
      if (r.getLong(3) < 256) assert(estB == r.getLong(3).toDouble)
    }
  }

  test("qt50: CMS-filtered heavy hitters equal a first-principles exact count") {
    val sf = "/root/testdata/sf0.001"
    // single-threaded replay of the exact semantics the CMS filter must
    // preserve: per-doc distinct bigrams, global counts, T = max(N/1000, 1)
    val perDoc = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map { r =>
        val nw = r.getString(0).toLowerCase.replaceAll("\\s+", " ").trim
          .split(" ", -1)
        // wordShingles' n <= w edge: a 1-word doc emits the lone word
        // (mirrors GREATEST(len(words)-1, 1) in the oracle's slice)
        if (nw.length <= 1) nw.toIndexedSeq.filter(_.nonEmpty).distinct
        else (0 until nw.length - 1)
          .map(i => s"${nw(i)} ${nw(i + 1)}").filter(_.nonEmpty).distinct
      }
    val n = perDoc.map(_.size.toLong).sum
    val t = math.max(n / 1000, 1L)
    val exp = perDoc.flatten.groupBy(identity)
      .map { case (item, xs) => item -> xs.length.toLong }
      .filter(_._2 >= t).toSeq.sorted
    val got = TextAnalysis.heavyHitters(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq.sorted
    assert(got == exp)
    // the threshold binds: the head is a strict subset of the vocabulary
    // (the 64-word generator corpus is deliberately dense, so the sf0.001
    // head/vocab ratio is weak here; real web vocabularies are the point)
    val vocab = perDoc.flatten.distinct.length
    assert(t > 1 && got.length < vocab, s"t=$t vocab=$vocab head=${got.length}")
  }

  test("qt50: the sketch probe filters BELOW the single exchange") {
    val plan = TextAnalysis.heavyHitters(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, plan)
    // printed top-down: deeper (earlier dataflow) operators appear later,
    // so the map-side CMS probe must print AFTER the exchange
    assert(plan.indexOf("element_at") > plan.indexOf("Exchange"), plan)
  }

  test("qd13: cross-doc duplicated-trigram fractions are exact") {
    val out = Dedup.dupNgramProfile(spark, dupDir).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("dup_grams"),
          r.getAs[Double]("dup_frac")))).toMap
    assert(out.size == 10)
    // 0/1 normalize identically: every trigram duplicated
    assert(out(0L)._3 == 1.0 && out(1L)._3 == 1.0)
    assert(out(0L)._1 == out(1L)._1)
    // doc 7 shares no trigram with anyone
    assert(out(7L)._2 == 0L && out(7L)._3 == 0.0)
    // docs 4/5 (10 words -> 8 trigrams) differ only in the last word:
    // the final trigram is unique, the leading 7 are shared
    assert(out(4L) == ((8L, 7L, 0.875)))
    assert(out(5L) == ((8L, 7L, 0.875)))
  }

  test("qd14: exact-substring span removal cuts cross-doc duplicated runs") {
    val out = Dedup.exactSubstrDedup(spark, dupDir).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_spans"),
          r.getAs[Long]("removed_tokens"), r.getAs[String]("clean_text"))))
      .toMap
    assert(out.size == 10)
    // doc 0's full 13 tokens are duplicated by doc 2's prefix: whole doc cut
    assert(out(0L) == ((13L, 1L, 13L, "")))
    // doc 2 shares its prefix with 0 and its suffix with 3: islands merge
    // into one whole-doc span
    assert(out(2L) == ((17L, 1L, 17L, "")))
    // doc 1's case/double-space damage breaks the leading grams (raw-token
    // match); only the clean suffix run [5,14) is duplicated. The kept
    // prefix ends in the empty token from the double space.
    assert(out(1L) == ((14L, 1L, 9L, "The quick brown fox ")))
    // doc 3: leading shared island [0,7) is 7 tokens — BELOW minLen=8, kept;
    // trailing island [8,17) is 9 tokens — cut
    assert(out(3L) == ((17L, 1L, 9L,
      "the quick brown fox jumps over the sleepy")))
    // docs 4/5 share their first 9 tokens; each keeps only its last word
    assert(out(4L) == ((10L, 1L, 9L, "kappa")))
    assert(out(5L) == ((10L, 1L, 9L, "lambda")))
    // unrelated docs pass through untouched
    Seq(6L, 7L, 8L, 9L).foreach { id =>
      assert(out(id)._2 == 0L && out(id)._3 == 0L, s"doc $id modified")
    }
    assert(out(7L)._4 ==
      "weather report sunny tomorrow with light winds expected")
  }

  test("c4 line cleaning: planted dups/blocklist/short docs match an " +
      "independent reference; map-only plan") {
    val ss = spark; import ss.implicits._
    val dir = Files.createTempDirectory("graft-c4").toString
    val varied = (0 until 50).map(i => s"w${i % 13}").mkString(" ")
    val rows = Seq(
      // 60 identical words: any two rule-surviving lines of equal length
      // are exact duplicates, so the keep-first path must fire
      (100L, Seq.fill(60)("x").mkString(" "), "en", "s0", 119L),
      // blocklist token in every line: rules drop everything, doc gated out
      (101L, Seq.fill(30)("dup").mkString(" "), "en", "s0", 89L),
      // one word: a single sub-minWords line, gated out
      (102L, "hello", "en", "s1", 5L),
      (103L, varied, "en", "s1", varied.length.toLong)
    )
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // independent single-threaded reference (MessageDigest, not Spark SQL)
    def md5mod(key: String, m: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.substring(0, 15), 16) % m
    }
    def ref(id: Long, text: String): (Long, Long, Long, Long, Int, String) = {
      val words = text.split(" ", -1)
      val brk = (0 until words.length).filter(i => md5mod(s"$id:$i", 5) == 0)
      val starts = 0 +: brk.map(_ + 1)
      val ends = brk :+ (words.length - 1)
      val linesAll = starts.zip(ends)
        .map { case (s, e) => words.slice(s, e + 1).mkString(" ") }
        .filter(_.nonEmpty)
      val lr = linesAll.filter { l =>
        val w = l.split(" ", -1); w.length >= 4 && !w.contains("dup")
      }
      val lk = lr.zipWithIndex.collect {
        case (l, i) if lr.indexOf(l) == i => l
      }
      (linesAll.size.toLong, (linesAll.size - lr.size).toLong,
        (lr.size - lk.size).toLong, lk.size.toLong,
        if (lk.size >= 3) 1 else 0, lk.mkString(" "))
    }

    val got = TextAnalysis.c4LineClean(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getInt(5), r.getString(6)))).toMap
    assert(got.keySet == rows.map(_._1).toSet)
    rows.foreach { case (id, text, _, _, _) =>
      assert(got(id) == ref(id, text), s"doc $id: ${got(id)} vs reference")
    }
    // the planted paths actually fired
    assert(got(100L)._3 > 0, s"no dup lines dropped: ${got(100L)}")
    assert(got(101L)._4 == 0L && got(101L)._5 == 0) // blocklist kills all
    assert(got(102L)._1 == 1L && got(102L)._5 == 0) // short single line
    assert(got(103L)._5 == 1) // varied doc survives the gate
    // conservation: every line is kept, rule-dropped, or dup-dropped
    got.values.foreach(v => assert(v._1 == v._2 + v._3 + v._4, v.toString))
    // one map-only pass: segmentation, rules, dedup and rebuild shuffle-free
    val plan = TextAnalysis.c4LineClean(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}
