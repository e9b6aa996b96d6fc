package graft.functions

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayExists,
  ArrayFilter, ArrayTransform, ZipWith}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, TextAnalysis}

/** The native rewrite kernels (gram_hashes, island_spans, drop_spans,
  * c4_line_clean, gopher_repetition) against the compositions they replace,
  * kept here as the oracle: on DocCorpus docs and on edge-case texts, on the
  * whole-stage codegen path and on the interpreted `eval` path. No plan
  * CleanJob executes may hold an interpreted higher-order function.
  */
class RewriteKernelSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-rewrite-kernel-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** md5_60 of a string, by parsing the md5 hex as the oracles do. */
  private def md5Hex60(s: String): Long = {
    val dg = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(dg.map(b => f"${b & 0xff}%02x").mkString.substring(0, 15), 16)
  }

  /** The smallest word count >= 3 whose last word ends a segment of mean
    * length `mod` for `docId` (so the doc's final word is a break).
    */
  private def lastWordBreaks(docId: Long, mod: Int): Int =
    Iterator.from(3).find(n => md5Hex60(s"$docId:${n - 1}") % mod == 0).get

  /** (doc_id, text) rows: `n` DocCorpus docs and the edge cases. */
  private def docs(n: Long): DataFrame = {
    val ss = spark; import ss.implicits._
    val vocab = Seq("alpha", "beta", "graft", "dup", "gamma")
    def words(k: Int, seed: Int) = (0 until k).map(i => vocab((i * 7 + seed) % vocab.length))
    val rep = (Seq.fill(6)("one two three four") ++ Seq.fill(4)("five six")).mkString(" ")
    val texts: Seq[Option[String]] = Seq(
      Some(""), None, Some(" "), Some("   "), Some(" leading space here"),
      Some("trailing space here "), Some("repeated  spaces   between  words  a b"),
      Some("word"), Some("a b c"), Some("a b c d"),
      Some("café naïve résumé Ünïcödé café naïve résumé Ünïcödé café naïve"),
      Some("日本語 の 文章 です 日本語 の 文章 です 日本語 の 文章"),
      Some("𐐀𐐨 😀 emoji 😀 𐐀𐐨 😀 emoji 😀 𐐀𐐨 😀 emoji 😀 𐐀𐐨"),
      Some("GRAFT graft Graft dup DUP graft alpha beta graft gamma dup"),
      Some(rep), Some(rep.toUpperCase), Some("  " + rep + "  "),
      // the boilerplate run of a DocCorpus carrier inside a foreign doc
      Some("x y snapshot commit resume lineage quality cluster bucket band " +
        "sketch sample probe index z"))
    val breaks = Seq(5, 15).zipWithIndex.map { case (mod, j) =>
      val id = 910000L + j
      (Option(id), Option(words(lastWordBreaks(id, mod), j).mkString(" ")))
    }
    val blocked = (0 until 12).map { j =>
      (Option(920000L + j), Option(words(9 + j, j).mkString(" ") + " graft dup graft"))
    }
    // rows without a doc_id: one alone, one sharing every gram with one
    // other doc (a null doc_id counts as a doc of its own)
    val noId = Seq("null doc id text a b c d e f", texts(10).get)
      .map(t => (None: Option[Long]) -> Option(t))
    val edge = (texts.zipWithIndex.map { case (t, i) => (Option(900000L + i), t) } ++
      breaks ++ blocked ++ noId).toDF("doc_id", "text")
    // text that is not valid UTF-8 reaches Spark as bytes
    val invalid = Seq((930000L, Array[Byte](0x61, 0xC3.toByte, 0x28, 0x20, 0xFF.toByte, 0x62,
        0x20, 0x61, 0xC3.toByte, 0x28, 0x20, 0xFF.toByte, 0x62, 0x20, 0x63)))
      .toDF("doc_id", "b").select(col("doc_id"), col("b").cast("string").as("text"))
    graft.spark.CleanJob.DocCorpus.generate(spark, n, partitions = 4)
      .select(col("doc_id"), col("text"))
      .unionByName(edge).unionByName(invalid)
  }

  /** Runs `body` on the whole-stage codegen path, then again with every
    * projection interpreted (each expression's `eval`).
    */
  private def bothPaths(body: String => Unit): Unit = {
    body("codegen")
    val keys = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body("interpreted") finally keys.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def same(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq, what)
    val extra = got.exceptAll(want).collect()
    val missing = want.exceptAll(got).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"$what: got but not wanted ${extra.take(3).mkString("; ")}; " +
        s"wanted but not got ${missing.take(3).mkString("; ")}")
  }

  // ---- the composed forms the kernels replace ----

  private def md5_60(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  private def composedGramHashes(words: Column, w: Int): Column =
    transform(sequence(lit(0), (size(words) - w).cast("int")),
      i => md5_60(array_join(slice(words, i + 1, lit(w)), " ")))

  private def composedDropSpans(words: Column, spans: Column): Column =
    when(spans.isNull, array_join(words, " "))
      .otherwise(array_join(
        filter(words, (_: Column, i: Column) =>
          !exists(spans, sp => sp.getField("s") <= i && i < sp.getField("e"))),
        " "))

  /** The lag/sum gaps-and-islands windows and the two aggregates after them. */
  private def composedIslands(hits: DataFrame, w: Int, minLen: Int): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= w, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("grp", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + w).as("e"))
      .where(col("e") - col("s") >= minLen)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum((col("e") - col("s")).cast("long")).as("removed_tokens"),
        collect_list(struct(col("s"), col("e"))).as("spans"))
  }

  private def composedExactSubstrOf(docs: DataFrame, w: Int, minLen: Int): DataFrame = {
    val base = docs
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_tokens", size(col("words")).cast("long"))
    val grams = base.where(col("n_tokens") >= w)
      .select(col("doc_id"), posexplode(composedGramHashes(col("words"), w)))
      .toDF("doc_id", "pos", "gh")
    val dup = grams.select(col("gh"), col("doc_id")).distinct()
      .groupBy(col("gh")).agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2)
      .select(col("gh"))
    val perDoc = composedIslands(grams.join(dup, Seq("gh")).select(col("doc_id"), col("pos")),
      w, minLen)
    base.join(perDoc, Seq("doc_id"), "left")
      .select(docs.columns.toSeq.map(c => base(c)) ++ Seq(
        col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("removed_tokens"), lit(0L)).as("removed_tokens"),
        composedDropSpans(col("words"), col("spans")).as("clean_text")): _*)
  }

  private def composedDecontamination(dir: String, w: Int, evalMod: Int,
      minLen: Int): DataFrame = {
    val base = graft.ops.Tables.docs(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .withColumn("n_tokens", size(col("words")).cast("long"))
    def grams(df: DataFrame): DataFrame = df.where(col("n_tokens") >= w)
      .select(col("doc_id"), posexplode(composedGramHashes(col("words"), w)))
      .toDF("doc_id", "pos", "gh")
    val train = base.filter(col("doc_id") % evalMod =!= 0)
    val evalSet = grams(base.filter(col("doc_id") % evalMod === 0))
      .select(col("gh")).distinct()
    val perDoc = composedIslands(
      grams(train).join(evalSet, Seq("gh")).select(col("doc_id"), col("pos")), w, minLen)
    train.join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("removed_tokens"), lit(0L)).as("removed_tokens"),
        composedDropSpans(col("words"), col("spans")).as("clean_text"))
  }

  private def composedC4LineCleanOf(docs: DataFrame, meanLen: Int, minWords: Int,
      block: String, minLines: Int): DataFrame = {
    val words = split(col("text"), " ")
    val brk = filter(sequence(lit(0), size(words) - 1), i =>
      md5_60(concat(col("doc_id").cast("string"), lit(":"), i.cast("string"))) %
        meanLen === 0)
    val starts = concat(array(lit(0)), transform(brk, b => b + 1))
    val ends = concat(brk, array(size(words) - 1))
    val linesAll = filter(
      zip_with(starts, ends,
        (s, e) => array_join(slice(words, s + 1, e - s + 1), " ")),
      l => l =!= "")
    val ruleOk = (l: Column) =>
      size(split(l, " ")) >= minWords and
        not(array_contains(split(l, " "), block))
    docs
      .withColumn("lines_all", linesAll)
      .withColumn("lr", filter(col("lines_all"), ruleOk))
      .withColumn("lk",
        filter(col("lr"), (l, i) => array_position(col("lr"), l) === i + 1))
      .select(
        col("*"),
        size(col("lines_all")).cast("long").as("n_lines"),
        (size(col("lines_all")) - size(col("lr"))).cast("long").as("n_rule_dropped"),
        (size(col("lr")) - size(col("lk"))).cast("long").as("n_dup_dropped"),
        size(col("lk")).cast("long").as("n_kept"),
        (size(col("lk")) >= minLines).cast("int").as("kept"),
        array_join(col("lk"), " ").as("clean_text"))
      .drop("lines_all", "lr", "lk")
  }

  /** The string-keyed gopher_repetition it replaces: a HashMap per segment
    * kind and per n-gram size, every gram built as a string.
    */
  private def composedGopher(docId: String, text: UTF8String): Seq[Long] = {
    val lowered = text.toLowerCase.toString
    val words = lowered.split(" ", -1).toIndexedSeq
    val nWords = words.length
    def cp(s: String): Long = s.codePointCount(0, s.length).toLong
    val wordChars = words.map(cp).sum
    val h = (0 until nWords).map(i => md5Hex60(s"$docId:$i"))
    def segStats(mod: Int): Seq[Long] = {
      val counts = new java.util.HashMap[String, Int]()
      val seg = new StringBuilder
      var first = true
      for (j <- 0 until nWords) {
        if (!first) seg.append(' ')
        seg.append(words(j))
        first = false
        if (h(j) % mod == 0 || j == nWords - 1) {
          if (seg.nonEmpty) counts.merge(seg.toString, 1, Integer.sum)
          seg.setLength(0)
          first = true
        }
      }
      import scala.jdk.CollectionConverters._
      val cs = counts.asScala.toSeq.map { case (k, c) => (c.toLong, cp(k)) }
      Seq(cs.map(_._1).sum, cs.map(x => x._1 * x._2).sum,
        cs.map(_._1 - 1).sum, cs.map(x => (x._1 - 1) * x._2).sum)
    }
    def grams(n: Int) = (0 to nWords - n).map(p => words.slice(p, p + n).mkString(" "))
    val topNum = Seq(2, 3, 4).map { n =>
      val counts = grams(n).groupBy(identity).map { case (g, o) => (g, o.length) }
      if (counts.isEmpty) 0L
      else {
        val top = counts.values.max
        val g = counts.collect { case (g, c) if c == top => UTF8String.fromString(g) }
          .reduce((a, b) => if (a.compareTo(b) <= 0) a else b)
        top.toLong * (cp(g.toString) - (n - 1))
      }
    }
    val dupCov = (5 to 10).map { n =>
      val gs = grams(n)
      val counts = gs.groupBy(identity).map { case (g, o) => (g, o.length) }
      val covered = new Array[Boolean](nWords)
      gs.zipWithIndex.foreach { case (g, p) =>
        if (counts(g) >= 2) (p until p + n).foreach(covered(_) = true)
      }
      (0 until nWords).filter(covered(_)).map(j => cp(words(j))).sum
    }
    Seq(nWords.toLong, wordChars) ++ segStats(5) ++ segStats(15) ++ topNum ++ dupCov
  }

  // ---- kernel by kernel ----

  test("gram_hashes equals the transform/slice/array_join/md5 chain") {
    val in = docs(300).select(col("doc_id"), split(col("text"), " ").as("words"))
    bothPaths { path =>
      for (w <- Seq(1, 3, 5)) {
        val long = in.where(size(col("words")) >= w)
        same(long.select(col("doc_id"), GraftFunctions.gramHashes(col("words"), w).as("g")),
          long.select(col("doc_id"), composedGramHashes(col("words"), w).as("g")),
          s"$path w=$w")
        // below w words there is no gram
        assert(in.where(size(col("words")) < w)
          .select(size(GraftFunctions.gramHashes(col("words"), w))).collect()
          .forall(_.getInt(0) == 0), s"$path w=$w short docs")
      }
    }
  }

  test("drop_spans equals the filter(words, !exists(spans ...)) rebuild") {
    val in = docs(300).select(col("doc_id"), split(col("text"), " ").as("words"))
      .withColumn("n", size(col("words")).cast("long"))
    def span(s: Column, e: Column) = struct(s.cast("long").as("s"), e.cast("long").as("e"))
    val k = col("doc_id") % 5
    // overlapping, out-of-range, empty and reversed spans, an empty list
    // and a null list
    val spans = when(k === 0, array(span(lit(1), lit(3)), span(col("n") - 2, col("n") + 5)))
      .when(k === 1, array(span(lit(-4), lit(2)), span(lit(1), lit(6)), span(lit(4), lit(4))))
      .when(k === 2, array(span(lit(5), lit(2)), span(lit(0), col("n"))))
      .when(k === 3, array().cast("array<struct<s:bigint,e:bigint>>"))
    val withSpans = in.withColumn("spans", spans)
    bothPaths { path =>
      same(withSpans.select(col("doc_id"),
          GraftFunctions.dropSpans(col("words"), col("spans")).as("t")),
        withSpans.select(col("doc_id"), composedDropSpans(col("words"), col("spans")).as("t")),
        path)
    }
  }

  test("island_spans equals the lag/sum windows and their aggregates") {
    val ss = spark; import ss.implicits._
    // seeded hit positions: runs, gaps of exactly w and w + 1, lone hits
    val rng = new scala.util.Random(11)
    val hits = (0L until 200L).flatMap { d =>
      val ps = scala.collection.mutable.SortedSet[Int]()
      var p = rng.nextInt(4)
      while (p < 120) { ps += p; p += 1 + rng.nextInt(if (d % 3 == 0) 3 else 9) }
      ps.toSeq.map(p => (d, p))
    }.toDF("doc_id", "pos")
    bothPaths { path =>
      for ((w, minLen) <- Seq((5, 8), (4, 6), (2, 3), (1, 1))) {
        val got = hits.groupBy(col("doc_id"))
          .agg(GraftFunctions.islandSpans(collect_list(col("pos")), w, minLen).as("i"))
          .select(col("doc_id"), col("i.n_spans").as("n_spans"),
            col("i.removed_tokens").as("removed_tokens"), col("i.spans").as("spans"))
          .where(col("n_spans") > 0)
        val want = composedIslands(hits, w, minLen)
          .select(col("doc_id"), col("n_spans"), col("removed_tokens"),
            array_sort(col("spans")).cast("array<struct<s:bigint,e:bigint>>").as("spans"))
        same(got, want, s"$path w=$w minLen=$minLen")
      }
    }
  }

  test("c4_line_clean equals the split/filter/zip_with/array_position composition") {
    val in = docs(300).localCheckpoint(true)
    bothPaths { path =>
      for ((meanLen, minWords, block, minLines) <- Seq((5, 4, "graft", 3),
          (5, 4, "dup", 3), (1, 1, "", 1), (3, 2, "alpha", 2), (15, 3, "gamma", 5))) {
        val what = s"$path meanLen=$meanLen minWords=$minWords block='$block'"
        same(TextAnalysis.c4LineCleanOf(in, meanLen, minWords, block, minLines),
          composedC4LineCleanOf(in, meanLen, minWords, block, minLines), what)
      }
    }
  }

  test("gopher_repetition equals the string-keyed HashMap battery") {
    val in = docs(300)
    // the repeated phrases among the edge texts repeat lines and n-grams
    bothPaths { path =>
      val rows = in.select(col("doc_id"), col("text").cast("binary"),
          GraftFunctions.gopherRepetition(col("doc_id").cast("string"), col("text")).as("g"))
        .collect()
      assert(rows.length > 300)
      rows.foreach { r =>
        val got = Option(r.getStruct(2)).map(g => (0 until 19).map(g.getLong))
        val want =
          if (r.isNullAt(0) || r.isNullAt(1)) None
          else Some(composedGopher(r.getLong(0).toString,
            UTF8String.fromBytes(r.getAs[Array[Byte]](1))))
        assert(got == want, s"$path doc ${if (r.isNullAt(0)) "null" else r.getLong(0)}")
      }
    }
  }

  test("qd14 and qt38 on the native kernels equal their composed forms") {
    val out = Files.createTempDirectory("graft-rewrite-kernels").toString
    docs(400).write.parquet(s"$out/documents.parquet")
    val in = graft.ops.Tables.docs(spark, out)
    bothPaths { path =>
      for ((w, minLen) <- Seq((5, 8), (2, 3))) {
        same(Dedup.exactSubstrOf(in, w, minLen), composedExactSubstrOf(in, w, minLen),
          s"$path qd14 w=$w minLen=$minLen")
      }
      for ((w, evalMod, minLen) <- Seq((4, 29, 6), (3, 7, 3))) {
        same(TextAnalysis.decontaminationRewrite(spark, out, w, evalMod, minLen),
          composedDecontamination(out, w, evalMod, minLen),
          s"$path qt38 w=$w evalMod=$evalMod minLen=$minLen")
      }
    }
    // the spans really cut something on both paths
    assert(Dedup.exactSubstrOf(in).where(col("n_spans") > 0).count() > 0)
  }

  test("no CleanJob stage runs an interpreted higher-order function") {
    val hofs: PartialFunction[org.apache.spark.sql.catalyst.expressions.Expression,
        org.apache.spark.sql.catalyst.expressions.Expression] = {
      case e @ (_: ArrayTransform | _: ArrayFilter | _: ZipWith | _: ArrayExists |
          _: ArrayAggregate) => e
    }
    // the walk sees one when there is one
    assert(PlanWalk.executedPlans(spark)(Some(spark.range(3)
        .select(transform(array(col("id")), x => x + 1)))).flatMap(PlanWalk.find(_)(hofs))
      .nonEmpty)
    val out = Files.createTempDirectory("graft-rewrite-clean").toString
    graft.spark.CleanJob.DocCorpus.generate(spark, 300, partitions = 4)
      .write.parquet(s"$out/corpus/documents.parquet")
    val found = PlanWalk.executedPlans(spark) {
      graft.spark.CleanJob.run(spark, s"$out/corpus", out); None
    }.flatMap(PlanWalk.find(_)(hofs))
    assert(found.isEmpty, s"CleanJob: ${found.distinct.mkString(", ")}")
  }
}
