package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The spark.sql.extensions path: native functions usable from plain SQL. */
class ExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions injects simhash64/cosine_ff for SQL use") {
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      val sim = spark.sql("SELECT simhash64('the quick brown fox') AS h").head.getLong(0)
      val simAgain = spark.sql("SELECT simhash64('the quick brown fox') AS h").head.getLong(0)
      assert(sim == simAgain && sim != 0L)
      val cos = spark.sql(
        "SELECT cosine_ff(array(cast(1.0 as float), cast(0.0 as float)), " +
          "array(cast(1.0 as float), cast(0.0 as float))) AS c").head.getDouble(0)
      assert(math.abs(cos - 1.0) < 1e-12)
      val ortho = spark.sql(
        "SELECT cosine_ff(array(cast(1.0 as float), cast(0.0 as float)), " +
          "array(cast(0.0 as float), cast(1.0 as float))) AS c").head.getDouble(0)
      assert(math.abs(ortho) < 1e-12)
      // the full native surface is SQL-callable on the spark-submit path
      val sh = spark.sql(
        "SELECT word_shingles('b a c a', 2) AS s").head.getSeq[String](0)
      assert(sh == Seq("a c", "b a", "c a"), sh.toString) // sorted distinct
      val jac = spark.sql(
        "SELECT jaccard_sorted(array('a','b'), array('b','c')) AS j").head.getDouble(0)
      assert(math.abs(jac - 1.0 / 3.0) < 1e-12)
      val mh = spark.sql(
        "SELECT minhash_affine(word_shingles('x y z', 1), 4) AS m").head.getSeq[Long](0)
      assert(mh.length == 4 && mh.forall(_ >= 0))
      val sig = spark.sql(
        "SELECT minhash_sig(word_shingles('x y z', 1), 8) AS m").head.getSeq[Long](0)
      assert(sig.length == 8)
      val srp = spark.sql(
        "SELECT srp_sigs(array(cast(0.5 as float), cast(-0.5 as float)), 4, 3) AS s")
        .head.getSeq[Long](0)
      assert(srp.length == 4)
      val cms = spark.sql(
        "SELECT cms_sketch(w, 2, 8) AS c FROM (SELECT explode(array('a','b','a')) AS w)")
        .head.getSeq[Long](0)
      assert(cms.length == 16 && cms.sum == 6) // 3 items x 2 lanes
      val kmv = spark.sql(
        "SELECT kmv_sketch(w, 4) AS k FROM (SELECT explode(array('a','b','a','c')) AS w)")
        .head.getSeq[Long](0)
      assert(kmv.length == 3 && kmv == kmv.sorted) // 3 distinct, ascending
      val hll = spark.sql(
        "SELECT hll_sketch(w, 16) AS h FROM (SELECT explode(array('a','b','a','c')) AS w)")
        .head.getSeq[Int](0)
      // m registers; 3 distinct items touch at most 3 buckets
      assert(hll.length == 16 && hll.count(_ > 0) >= 1 && hll.count(_ > 0) <= 3)
      // merging a sketch with itself is idempotent (union = registerwise max)
      val hllm = spark.sql(
        "SELECT hll_merge(h, 16) AS m FROM (" +
          "SELECT hll_sketch(w, 16) AS h FROM (SELECT explode(array('a','b','a','c')) AS w) " +
          "UNION ALL " +
          "SELECT hll_sketch(w, 16) AS h FROM (SELECT explode(array('a','b','a','c')) AS w))")
        .head.getSeq[Int](0)
      assert(hllm == hll, s"$hllm vs $hll")
      val topk = spark.sql(
        "SELECT top_k_rank(k, p, 2) AS t FROM VALUES " +
          "(CAST(1.0 AS DOUBLE), CAST(10 AS BIGINT)), (3.0D, 30L), (2.0D, 20L) " +
          "AS v(k, p)").head
        .getSeq[org.apache.spark.sql.Row](0)
      assert(topk.map(r => (r.getDouble(0), r.getLong(1))) ==
        Seq((3.0, 30L), (2.0, 20L)), topk.toString)
      val dot = spark.sql(
        "SELECT dot_i64(array(1L, -2L, 3L), array(4L, 5L, 6L)) AS d")
        .head.getLong(0)
      assert(dot == 4L - 10L + 18L)
      val bpe = spark.sql(
        "SELECT bpe_merge(array('a','a','a','b'), 'a', 'a') AS m")
        .head.getSeq[String](0)
      assert(bpe == Seq("aa", "a", "b"), bpe.toString) // greedy, non-overlapping
      val rep = spark.sql("SELECT repetition_profile('a b a b') AS r").head
        .getStruct(0)
      assert(rep.getLong(0) == 4L && rep.getLong(1) == 2L &&
        rep.getString(2) == "a b" && rep.getLong(3) == 2L && rep.getLong(4) == 3L,
        rep.toString)
      // gopher_repetition: segmentation-independent fields of 'x y x y z' —
      // 5 words of 5 chars; top bigram 'x y' twice (num = 2 * 2 word chars);
      // no 5-gram repeats
      val gop = spark.sql("SELECT gopher_repetition('7', 'x y x y z') AS g")
        .head.getStruct(0)
      assert(gop.getLong(0) == 5L && gop.getLong(1) == 5L &&
        gop.getLong(10) == 4L && gop.getLong(13) == 0L, gop.toString)
      // dot_ff: plain f64 inner product over float arrays
      val dff = spark.sql(
        "SELECT dot_ff(array(cast(1.5 as float), cast(2.5 as float)), " +
          "array(cast(2.0 as float), cast(3.0 as float))) AS d").head.getDouble(0)
      assert(dff == 10.5, dff.toString)
      // char_entropy('aab ba'): 6 code points, 3 distinct (a x3, b x2,
      // space x1), terms -(c/6)ln(c/6) rounded to 9 then summed ascending:
      // 0.298626578 + 0.346573590 + 0.366204096 = 1.011404264
      val ce = spark.sql("SELECT char_entropy('aab ba') AS e").head.getStruct(0)
      assert(ce.getLong(0) == 6L && ce.getLong(1) == 3L && ce.getLong(2) == 3L,
        ce.toString)
      assert(math.abs(ce.getDouble(3) - 1.011404264) < 1e-9, ce.toString)
      // script_profile('Ab1 я'): 5 code points — latin 2, cyrillic 1,
      // digit 1, space 1, everything else 0
      val sp = spark.sql("SELECT script_profile('Ab1 я') AS p").head.getStruct(0)
      assert((0 to 10).map(sp.getLong) ==
        Seq(5L, 2L, 1L, 0L, 0L, 0L, 0L, 0L, 1L, 1L, 0L), sp.toString)
      // winnow_fps: 8 words, k=3, win=4 -> 6 grams, 3 windows, 1..3
      // distinct ascending positions in [0, 5]
      val wf = spark.sql(
        "SELECT winnow_fps(array('a','b','a','a','b','a','b','a'), 3, 4) AS w")
        .head.getSeq[org.apache.spark.sql.Row](0)
      val poss = wf.map(_.getLong(0))
      assert(poss.nonEmpty && poss.length <= 3 && poss == poss.sorted &&
        poss.forall(p => p >= 0 && p <= 5), wf.toString)
      // gram_hashes: one md5_60 per positional w-gram, equal to the
      // composed conv(substring(md5(..))) key; none below w words
      val gh = spark.sql(
        "SELECT gram_hashes(array('a','b','c'), 2) AS g, " +
          "conv(substring(md5('b c'), 1, 15), 16, 10) AS bc, " +
          "gram_hashes(array('a'), 2) AS none").head
      assert(gh.getSeq[Long](0).length == 2 && gh.getSeq[Long](0)(1) == gh.getString(1).toLong &&
        gh.getSeq[Long](2).isEmpty, gh.toString)
      // island_spans: hits 0,2,3 chain at w = 2 (island [0, 5)), 9 stands
      // alone ([9, 11), under minLen 3); drop_spans cuts [0, 5)
      val isl = spark.sql(
        "SELECT island_spans(collect_list(p), 2, 3) AS i FROM VALUES (3), (0), (9), (2) AS v(p)")
        .head.getStruct(0)
      assert(isl.getLong(0) == 1L && isl.getLong(1) == 5L &&
        isl.getSeq[org.apache.spark.sql.Row](2).map(r => (r.getLong(0), r.getLong(1))) ==
          Seq((0L, 5L)), isl.toString)
      val badIsl = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql("SELECT island_spans(array(1L), 2, 3)").collect())
      assert(badIsl.getMessage.contains("ARRAY<INT>"), badIsl.getMessage)
      val dropped = spark.sql(
        "SELECT drop_spans(split('a b c d e f g', ' '), " +
          "array(named_struct('s', 1L, 'e', 3L), named_struct('s', 5L, 'e', 6L))) AS t, " +
          "drop_spans(split('a b', ' '), NULL) AS kept").head
      assert(dropped.getString(0) == "a d e g" && dropped.getString(1) == "a b", dropped.toString)
      // c4_line_clean: with mean line length 1 every word is a line; the
      // repeated 'x' and the blocked 'b' drop, three lines survive
      val c4 = spark.sql(
        "SELECT c4_line_clean('7', 'x b y x z', 1, 1, 'b', 3) AS c").head.getStruct(0)
      assert((0 to 3).map(c4.getLong) == Seq(5L, 1L, 1L, 3L) && c4.getInt(4) == 1 &&
        c4.getString(5) == "x y z", c4.toString)
      // ac_scan: '|'-joined phrase list; "ushers" hits she/he/hers
      val ac = spark.sql(
        "SELECT ac_scan('ushers', 'he|she|his|hers') AS a").head.getStruct(0)
      assert(ac.getLong(0) == 3L && ac.getLong(1) == 3L, ac.toString)
      // graft_lower/graft_upper: Spark's ICU case mapping (CaseMapSpec
      // holds them to lower/upper byte for byte)
      val cm = spark.sql("SELECT graft_lower('ÀB İ'), graft_upper('straße')").head
      assert(cm.getString(0) == "àb i\u0307" && cm.getString(1) == "STRASSE", cm.toString)
      // partition_counters: per partition id, each counter's sum and max
      // (a null counter counts as 0, a null id is skipped); the partial
      // buffers of two map tasks merge through the shuffle
      val pc = spark.sql(
        "SELECT partition_counters(p, 1, b) AS c FROM (SELECT /*+ REPARTITION(2) */ * " +
          "FROM VALUES (3, 10L), (1, 5L), (3, 7L), (1, NULL), (NULL, 99L) AS v(p, b))")
        .head.getSeq[org.apache.spark.sql.Row](0)
      assert(pc.map(r => (r.getInt(0), r.getSeq[Long](1), r.getSeq[Long](2))) ==
        Seq((1, Seq(2L, 5L), Seq(1L, 5L)), (3, Seq(2L, 17L), Seq(1L, 10L))), pc.toString)
      val bad = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql("SELECT partition_counters(1, 'x')").collect())
      assert(bad.getMessage.contains("integral"), bad.getMessage)
    } finally spark.stop()
  }
}
