package graft.spark

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Extract

/** End-to-end Spark tests: parallelism invariance (byte-identical output per
  * url at any partition count vs the sequential oracle), resume idempotence,
  * and skew balance (FIXTURES.md section 4 invariants 1 and 4).
  */
class ExtractJobSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val N = 60L // 5 docs per fixture family

  /** The sequential single-threaded oracle: the same pure function, no Spark. */
  private def sequentialOracle(): Map[String, (String, String)] =
    (0L until N).map { i =>
      val row = PagesTable.genDoc(i)
      val d = Extract.extractDocument(row.url, row.html)
      d.url -> ((d.extractedText, d.markdown))
    }.toMap

  test("extraction is byte-identical to the sequential oracle at 2 and 8 partitions") {
    val expected = sequentialOracle()
    val ss = spark; import ss.implicits._
    for (parts <- Seq(2, 8)) {
      val pages = PagesTable.generate(spark, N, partitions = parts)
      val repart = ExtractJob.skewRepartition(pages.toDF(), parts)
      val got = ExtractJob.extract(repart.as[PagesTable.PageRow])
        .collect().map(r => r.url -> ((r.extracted_text, r.markdown))).toMap
      assert(got.keySet == expected.keySet, s"url set mismatch at $parts partitions")
      for ((url, exp) <- expected)
        assert(got(url) == exp, s"output mismatch for $url at $parts partitions")
    }
  }

  test("all fixture families parse ok; sparse family needs OCR") {
    val pages = PagesTable.generate(spark, N, partitions = 4)
    val ss = spark; import ss.implicits._
    val rows = ExtractJob.extract(pages).collect()
    assert(rows.length == N)
    assert(rows.forall(_.parse_status == "ok"))
    val byFamily = rows.groupBy(_.url.split("/")(3))
    assert(byFamily("sparse").forall(_.need_ocr_pages > 0))
    assert(byFamily("plain").forall(_.need_ocr_pages == 0))
    // chrome family: nav boilerplate stripped
    assert(byFamily("chrome").forall(r => !r.extracted_text.contains("Cookie notice")))
    assert(byFamily("chrome").forall(r => !r.extracted_text.contains("advertisement")))
    // tables family: cell text dropped (tables unimplemented in the reference)
    assert(byFamily("tables").forall(r => !r.extracted_text.contains("Q0")))
    // mojibake family fixed
    assert(byFamily("mojibake").forall(r => !r.extracted_text.contains("Ã")))
  }

  test("ocr family: need_ocr flips the line source (page.rs:81-91 semantics)") {
    val ss = spark; import ss.implicits._
    // the scanned-page family through the distributed job: every page needs
    // OCR and the OCR lines carry ALL the text (there are no native chars)
    val ocrPages = spark.range(0, 8, 1, 2)
      .map(i => PagesTable.genDocFamily(PagesTable.OcrFamily, i))
    val rows = ExtractJob.extract(ocrPages).collect()
    assert(rows.length == 8)
    assert(rows.forall(_.parse_status == "ok"))
    assert(rows.forall(_.need_ocr_pages > 0))
    assert(rows.forall(_.extracted_text.nonEmpty),
      "OCR lines must become the page text when native chars are absent")

    // flip check, sequential core: a page rich in native text IGNORES its
    // <ocr> decoy (need_ocr=false -> native branch), while a sparse page
    // with the same decoy adopts it (need_ocr=true -> replace branch)
    val decoy = """<ocr x0="40" y0="400" x1="300" y1="412">OCRDECOY</ocr>"""
    val richHtml = s"""<page><h1>Real Title</h1><p>plenty of native body text here</p>$decoy</page>"""
    val rich = graft.core.Extract.extractDocument("https://t/rich", richHtml.getBytes("UTF-8"))
    assert(rich.needOcrPages == 0)
    assert(!rich.extractedText.contains("OCRDECOY"), rich.extractedText)
    assert(rich.extractedText.contains("Real Title"))
    val sparseHtml = s"""<page><ghost label="Text" x0="36" y0="390" x1="560" y1="430" proba="0.9"/>$decoy</page>"""
    val sparse = graft.core.Extract.extractDocument("https://t/sparse-ocr", sparseHtml.getBytes("UTF-8"))
    assert(sparse.needOcrPages == 1)
    assert(sparse.extractedText.contains("OCRDECOY"), sparse.extractedText)
  }

  test("crop specs: one padded page-space rect per Image block (S5 sink)") {
    val ss = spark; import ss.implicits._
    // figures family = every Families(4)-indexed doc
    val pages = spark.range(0, 12, 1, 2).map(i =>
      PagesTable.genDoc(i * PagesTable.Families.length +
        PagesTable.Families.indexOf("figures")))
    val extracted = ExtractJob.extract(pages).toDF()
    val nImageBlocks = extracted.select("blocks_json").as[String].collect()
      .map(j => "\"block_type\":\"Image\"".r.findAllIn(j).length).sum
    val crops = ExtractJob.cropSpecs(extracted).collect()
    assert(crops.length == nImageBlocks, s"${crops.length} vs $nImageBlocks")
    assert(crops.nonEmpty)
    crops.foreach { r =>
      assert(r.getAs[Int]("x") >= 0 && r.getAs[Int]("y") >= 0)
      assert(r.getAs[Int]("width") >= 11 && r.getAs[Int]("width") <= 612)
      assert(r.getAs[Int]("height") >= 11 && r.getAs[Int]("height") <= 792)
      assert(r.getAs[String]("image_path") == s"img_${r.getAs[Int]("image_id")}.png")
    }
    // the default 300x150 figure at the 36pt margin: padded rect 310x160, x=31
    assert(crops.exists(r => r.getAs[Int]("width") == 310 &&
      r.getAs[Int]("height") == 160 && r.getAs[Int]("x") == 31))
  }

  test("balanced repartition survives >=512 partitions (flat remap expression)") {
    // regression: the salt remap used to be a when-chain of depth=partitions,
    // overflowing the driver stack during Column->Expression conversion at
    // P=512 (a 4M-doc run died); the array-literal lookup keeps depth O(1)
    val ss = spark; import ss.implicits._
    val pages = PagesTable.generate(spark, 1200, partitions = 4).toDF()
    val placed = ExtractJob.skewRepartition(pages, 512, balanced = true)
    val perPart = placed.rdd.mapPartitionsWithIndex((i, it) =>
      Iterator.single(i -> it.size)).collect().toMap
    assert(perPart.values.sum == 1200)
    // snake dealing: every physical partition gets rows (1200 docs / 512)
    assert(perPart.count(_._2 > 0) == 512, perPart.count(_._2 > 0).toString)
    assert(perPart.values.max <= 3, perPart.values.max.toString)
  }

  test("overlay specs: one rect + legend per block, draw_blocks geometry (S7 sink)") {
    val ss = spark; import ss.implicits._
    val pages = spark.range(0, 8, 1, 2).map(i => PagesTable.genDoc(i))
    val extracted = ExtractJob.extract(pages).toDF()
    val nBlocks = extracted.agg(org.apache.spark.sql.functions.sum("n_blocks"))
      .collect().head.getLong(0)
    val specs = ExtractJob.overlaySpecs(extracted).collect()
    assert(specs.length == nBlocks, s"${specs.length} vs $nBlocks")
    assert(specs.nonEmpty)
    val legendSize = math.max(graft.core.HtmlFront.PageWidth.toInt,
      graft.core.HtmlFront.PageHeight.toInt) / 70
    specs.foreach { r =>
      assert(r.getAs[Int]("width") >= 1 && r.getAs[Int]("height") >= 1)
      // legend sits legend_size above the rect top (draw.rs:153-156); both
      // are truncated from the same float so they differ by exactly the size
      assert(r.getAs[Int]("legend_size") == legendSize)
      assert(math.abs(r.getAs[Int]("y") - legendSize - r.getAs[Int]("legend_y")) <= 1)
      assert(r.getAs[Int]("legend_x") == r.getAs[Int]("x"))
      assert(r.getAs[String]("color_rgba") == "d18b00ff")
      assert(r.getAs[String]("label").nonEmpty)
    }
  }

  test("qx4 math table applies the SAME geometry as the json overlay/crop path") {
    import org.apache.spark.sql.functions._
    val ss = spark; import ss.implicits._
    // feed overlaySpecs/cropSpecs a crafted blocks_json carrying exactly the
    // synthetic bbox values qx4 derives for these doc_ids — if the shared
    // expressions ever fork, the integer rects diverge here
    val ids = Seq(0L, 3L, 123L, 699L, 4321L)
    def bbox(i: Long): (Float, Float, Float, Float) = {
      val x0 = (i % 700 - 25 + 0.25).toFloat
      val y0 = ((i * 3) % 900 - 40 + 0.5).toFloat
      (x0, y0, (x0 + (i * 7) % 900 - 30).toFloat, (y0 + (i * 11) % 1000 - 35).toFloat)
    }
    val jsonRows = ids.map { i =>
      val (x0, y0, x1, y1) = bbox(i)
      (s"doc$i",
        s"""[{"id":0,"kind":{"block_type":"Image","id":0,"caption":"c"},""" +
          s""""pages_id":[0],"bbox":{"x0":$x0,"y0":$y0,"x1":$x1,"y1":$y1}}]""")
    }.toDF("url", "blocks_json")
    val dir = Files.createTempDirectory("graft-qx4").toString
    ids.map(i => (i, "t", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val math4 = ExtractJob.overlayMathTable(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val ov = ExtractJob.overlaySpecs(jsonRows).collect()
      .map(r => r.getAs[String]("url").stripPrefix("doc").toLong -> r).toMap
    val cr = ExtractJob.cropSpecs(jsonRows).collect()
      .map(r => r.getAs[String]("url").stripPrefix("doc").toLong -> r).toMap
    ids.foreach { i =>
      val m = math4(i)
      for (c <- Seq("x", "y", "width", "height", "legend_x", "legend_y"))
        assert(ov(i).getAs[Int](c) == m.getAs[Int](c), s"doc $i overlay $c")
      for (c <- Seq("x", "y", "width", "height"))
        assert(cr(i).getAs[Int](c) == m.getAs[Int](s"crop_$c"), s"doc $i crop $c")
    }
  }

  test("resume idempotence: partial commit then full run, no dup urls") {
    val dir = Files.createTempDirectory("graft-store").toString
    val store = new SnapshotStore(dir)
    val ss = spark; import ss.implicits._

    // partial run: first 20 docs
    val firstBatch = PagesTable.generate(spark, 20, partitions = 2)
    ExtractJob.run(spark, firstBatch, store, "run-1", partitions = 2)
    assert(store.read(spark).get.count() == 20)

    // full run over all N docs: only the remaining 40 are extracted
    val all = PagesTable.generate(spark, N, partitions = 2)
    ExtractJob.run(spark, all, store, "run-2", partitions = 2)
    val finalDf = store.read(spark).get
    assert(finalDf.count() == N)
    assert(finalDf.select("url").distinct().count() == N)

    // re-running the full job is a no-op
    ExtractJob.run(spark, all, store, "run-3", partitions = 2)
    assert(store.read(spark).get.count() == N)

    // final table matches the sequential oracle byte-for-byte
    val expected = sequentialOracle()
    val got = finalDf.select("url", "extracted_text").as[(String, String)]
      .collect().toMap
    for ((url, (txt, _)) <- expected) assert(got(url) == txt, s"mismatch for $url")

    // lineage was appended for each run, failure counts all zero
    val lin = spark.read.parquet(s"$dir/lineage")
    assert(lin.select("run_id").distinct().count() >= 2)
    assert(lin.agg(org.apache.spark.sql.functions.sum("parse_errors")).head.getLong(0) == 0L)
  }

  /** The lineage oracle: a groupBy over the rows one commit wrote. */
  private def lineageOracle(committed: DataFrame, runId: String): DataFrame =
    committed.groupBy(col("partition_id")).agg(
      count(lit(1)).as("doc_count"),
      sum(col("bytes_in")).as("bytes_in"),
      max(col("bytes_in")).as("max_doc_bytes"),
      sum(col("n_lines")).as("lines"),
      sum(col("n_elements")).as("elements"),
      sum(col("n_blocks")).as("blocks"),
      sum(when(col("parse_status") === "ok", 1).otherwise(0)).as("ok_count"),
      sum(when(col("error_class") === "parse_error", 1).otherwise(0)).as("parse_errors"),
      sum(when(col("error_class") === "empty_doc", 1).otherwise(0)).as("empty_docs"),
      sum(when(col("error_class") === "oversize", 1).otherwise(0)).as("oversize_docs"),
      sum(when(col("error_class") === "exception", 1).otherwise(0)).as("exceptions")
    ).withColumn("run_id", lit(runId))

  /** Runs `body`, one commit into `store` under `runId`, and checks the
    * lineage rows it appended against the oracle over the files that commit
    * wrote (those in its own `snap-<id>-` directory): same schema, same rows,
    * and `body` returns their doc count. Returns that count.
    */
  private def checkLineage(store: SnapshotStore, runId: String)(body: => Long): Long = {
    val n = body
    val id = store.currentSnapshotId.get
    val written = store.currentFiles.filter(f =>
      Paths.get(f).getParent.getFileName.toString.startsWith(s"snap-$id-"))
    val want = lineageOracle(spark.read.parquet(written: _*), runId)
    val got = spark.read.parquet(s"${store.root}/lineage").filter(col("run_id") === runId)
    def types(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    assert(types(got) == types(want))
    val wantRows = want.orderBy("partition_id").collect().toSeq
    assert(got.orderBy("partition_id").collect().toSeq == wantRows)
    assert(n == wantRows.map(_.getLong(1)).sum)
    n
  }

  test("lineage: the observed rows equal a groupBy over each commit") {
    val dir = Files.createTempDirectory("graft-lineage").toString
    val store = new SnapshotStore(dir)
    val ss = spark; import ss.implicits._
    // a fresh run, then a resume run over a superset of its pages
    assert(checkLineage(store, "fresh") {
      ExtractJob.run(spark, PagesTable.generate(spark, 20, partitions = 2), store,
        "fresh", partitions = 3)
    } == 20)
    assert(checkLineage(store, "resume") {
      ExtractJob.run(spark, PagesTable.generate(spark, N, partitions = 2), store,
        "resume", partitions = 3)
    } == N - 20)
    // nothing left: no rows committed, no lineage appended
    assert(ExtractJob.run(spark, PagesTable.generate(spark, N, partitions = 2), store,
      "empty", partitions = 3) == 0)
    assert(spark.read.parquet(s"$dir/lineage").filter(col("run_id") === "empty").isEmpty)
    // failing pages: parse error, empty and null bodies through extraction
    val ts = new java.sql.Timestamp(0L)
    val failing = Seq(
      PagesTable.PageRow("u/empty", ts, Array.emptyByteArray, "t", "en"),
      PagesTable.PageRow("u/null", ts, null, "t", "en"),
      PagesTable.PageRow("u/bad", ts, "<page><p>a <blink>b</blink></p></page>".getBytes, "t", "en"))
    assert(checkLineage(store, "failing") {
      ExtractJob.run(spark, failing.toDS(), store, "failing", partitions = 2)
    } == 3)
    // the two failure classes no small page produces, as extracted rows
    def failed(url: String, cls: String, pid: Int) = ExtractJob.ExtractedRow(url, ts,
      "en", "", "", "[]", 0, 0, 0, 0, 0, "error", cls, Extract.EngineVersion, pid,
      Extract.MaxBytes + 1L)
    val synthetic = Seq(failed("u/big1", "oversize", 0), failed("u/big2", "oversize", 0),
      failed("u/exc", "exception", 1)).toDS()
    assert(checkLineage(store, "synthetic") {
      ExtractJob.commit(store, synthetic, "synthetic", store.currentSnapshotId)
    } == 3)
    val lin = spark.read.parquet(s"$dir/lineage")
    assert(lin.agg(sum("oversize_docs"), sum("exceptions"), sum("parse_errors"),
      sum("empty_docs")).head == Row(2L, 1L, 1L, 2L))
  }

  test("lineage: a lost commit race counts only the retried attempt's rows") {
    val ss = spark; import ss.implicits._
    val store = new SnapshotStore(Files.createTempDirectory("graft-race").toString)
    // the winner: the first 10 of the run's 30 pages, committed elsewhere
    val winner = new SnapshotStore(Files.createTempDirectory("graft-winner").toString)
    ExtractJob.run(spark, PagesTable.generate(spark, 10, partitions = 2), winner, "w", 2)
    val files = winner.currentFiles.map("\"" + _ + "\"").mkString(",")
    val json = s"""{"id":0,"parent":null,"files":[$files]}"""
    // the first attempt's own job publishes the winner's manifest as v0, so
    // that attempt's CAS on v0 loses; the retry anti-joins against it
    val manifest = Paths.get(store.root, "_snapshots", "v0.json").toString
    val racing = PagesTable.generate(spark, 30, partitions = 2).mapPartitions { it =>
      val m = Paths.get(manifest)
      Files.createDirectories(m.getParent)
      try Files.write(m, json.getBytes("UTF-8"), StandardOpenOption.CREATE_NEW)
      catch { case _: java.nio.file.FileAlreadyExistsException => }
      it
    }
    assert(checkLineage(store, "r") { ExtractJob.run(spark, racing, store, "r", 3) } == 20)
    assert(store.currentSnapshotId.contains(1L), "the first attempt did not lose")
    val table = store.read(spark).get
    assert(table.count() == 30 && table.select("url").distinct().count() == 30)
    val lin = spark.read.parquet(s"${store.root}/lineage")
    assert(lin.agg(sum("doc_count")).head.getLong(0) == 20L)
  }

  test("ExtractJob.run on a fresh store runs at most 3 jobs") {
    val pages = PagesTable.generate(spark, N, partitions = 2)
    val store = new SnapshotStore(Files.createTempDirectory("graft-jobs").toString)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.ListenerBusTestDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val n = try {
      val r = ExtractJob.run(spark, pages, store, "jobs", partitions = 4)
      org.apache.spark.ListenerBusTestDrain(spark.sparkContext)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(n == N)
    // the exchange, the write and the lineage append; a re-scan of the
    // commit for its lineage adds a schema job and two aggregate jobs
    assert(jobs.get() <= 3, s"${jobs.get()} jobs")
  }

  test("extraction input: no exchange carries text; rows match the oracle") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object plans extends AdaptiveSparkPlanHelper
    def exchangeColumns(plan: SparkPlan): Seq[Seq[String]] =
      plans.collect(plan) { case e: ShuffleExchangeExec => e.output.map(_.name) }
    val ss = spark; import ss.implicits._
    // every field a row shares with the public extractDocument, plus the
    // page columns it carries through
    def fields(r: ExtractJob.ExtractedRow) = (r.url, r.extracted_text, r.markdown,
      r.blocks_json, r.n_pages, r.n_blocks, r.n_elements, r.n_lines,
      r.need_ocr_pages, r.parse_status, r.error_class, r.warc_ts, r.lang, r.bytes_in)
    def oracle(p: PagesTable.PageRow) = {
      val d = Extract.extractDocument(p.url, p.html)
      (d.url, d.extractedText, d.markdown, d.blocksJson, d.nPages, d.nBlocks,
        d.nElements, d.nLines, d.needOcrPages, d.parseStatus, d.errorClass,
        p.warc_ts, p.lang, if (p.html == null) 0L else p.html.length.toLong)
    }
    val ts = new java.sql.Timestamp(0L)
    val failing = Seq(
      PagesTable.PageRow("u/empty", ts, Array.emptyByteArray, "t", "en"),
      PagesTable.PageRow("u/null", ts, null, "t", "en"),
      PagesTable.PageRow("u/bad", ts, "<page><p>a <blink>b</blink></p></page>".getBytes, "t", "en"))
    val pages = PagesTable.generate(spark, 24, partitions = 2).union(failing.toDS())
    val byUrl = pages.collect().map(p => p.url -> p).toMap
    assert(failing.map(p => oracle(p)._11) == Seq("empty_doc", "empty_doc", "parse_error"))
    val done = Seq(PagesTable.genDoc(0).url, PagesTable.genDoc(5).url).toDF("url")
    for ((d, skipped) <- Seq(None -> 0, Some(done) -> 2); balanced <- Seq(false, true)) {
      val input = ExtractJob.extractInput(pages, d, 4, balanced)
      val exchanges = exchangeColumns(input.queryExecution.executedPlan)
      assert(exchanges.exists(_.contains("html")), s"no repartition exchange: $exchanges")
      assert(exchanges.forall(!_.contains("text")), s"text shuffled: $exchanges")
      val rows = ExtractJob.extract(input).collect()
      assert(rows.length == 27 - skipped)
      rows.foreach(r => assert(fields(r) == oracle(byUrl(r.url)), r.url))
    }
    // the qx corpus and the flagship entry go through the same input
    val entry = exchangeColumns(graft.SparkEntry.entry(spark).queryExecution.executedPlan)
    assert(entry.nonEmpty && entry.forall(!_.contains("text")), s"entry: $entry")
  }

  test("skew: balanced repartition bounds max/mean partition bytes under 2") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    // skew-family-only corpus (every 12th index), Pareto-distributed lengths
    val pages = spark.range(0, 360, 1, 4)
      .map(i => PagesTable.genDoc(
        i * PagesTable.Families.length + PagesTable.Families.indexOf("skew")))
    val maxDoc = pages.collect().map(_.html.length.toLong).max
    val repart = ExtractJob.skewRepartition(pages.toDF(), 8, balanced = true)
    val byPart = ExtractJob.extract(repart.as[PagesTable.PageRow])
      .groupBy($"partition_id").agg(sum($"bytes_in").as("bytes"))
      .collect().map(_.getLong(1))
    val mean = byPart.sum.toDouble / byPart.length
    assert(byPart.length == 8, s"expected 8 partitions, got ${byPart.length}")
    // A document is indivisible, so the achievable bound is LPT-style:
    // max partition <= largest doc + mean share. Within that bound, require
    // max/mean < 2 (the north rule's skew criterion) once the giant-doc floor
    // is accounted for.
    assert(byPart.max <= maxDoc + mean,
      s"max partition ${byPart.max} exceeds LPT bound ${maxDoc + mean} (bytes: ${byPart.mkString(",")})")
    val ratioExcludingFloor = byPart.max / math.max(mean, maxDoc.toDouble)
    assert(ratioExcludingFloor < 2.0,
      s"skew ratio $ratioExcludingFloor >= 2 (maxDoc=$maxDoc, bytes: ${byPart.mkString(",")})")
  }
}
