package graft.spark

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._
import graft.core.{Extract, Render}
import graft.functions.GraftFunctions
import graft.spark.PagesTable.PageRow

/** The extraction job: resume anti-join -> skew-aware repartition ->
  * shuffle-free `mapPartitions` extraction -> MERGE INTO snapshot +
  * per-partition lineage (SURVEY.md section 3.4).
  *
  * Exactly one narrow shuffle (the repartition); extraction itself never
  * shuffles. Lineage is counted by the commit's own write job: the merge
  * observes a per-partition counter aggregate on exactly the rows it
  * writes, so no job re-reads the commit.
  */
object ExtractJob {

  /** Output row. engine_version pins provenance (reference: DocumentMetadata,
    * entities.rs:228-242).
    */
  final case class ExtractedRow(
      url: String,
      warc_ts: java.sql.Timestamp,
      lang: String,
      extracted_text: String,
      markdown: String,
      blocks_json: String,
      n_pages: Int,
      n_blocks: Int,
      n_elements: Int,
      n_lines: Int,
      need_ocr_pages: Int,
      parse_status: String,
      error_class: String,
      engine_version: String,
      partition_id: Int,
      bytes_in: Long
  )

  /** Skew-aware repartition ("html.length-bucketed", SURVEY.md section 4.2).
    *
    * Default strategy: hash the url together with the log2-length bucket into
    * P salted keys. With docs >> partitions this keeps expected bytes per
    * partition uniform and scales to 10^12 rows (stateless, no global
    * ordering).
    *
    * `balanced = true` adds a stratified round-robin: row_number within each
    * length bucket, dealt out modulo P via range partitioning. That gives a
    * near-perfect byte balance even on small Pareto corpora (bench path), at
    * the cost of a per-bucket window — fine locally; at 10^12 scale the
    * window's per-bucket ordering would itself bottleneck, so the hash
    * strategy is the cluster default.
    */
  def skewRepartition(df: DataFrame, partitions: Int, balanced: Boolean = false): DataFrame = {
    val bucket = ceil(log2(greatest(length(col("html")).cast("long"), lit(2L))))
    if (!balanced) {
      // Full-range salt, NOT pre-modded: repartition() re-hashes the key,
      // and quantizing to P values first would throw P balls into P bins
      // (max/mean ~3 at P=256). A full-range hash keys ~uniformly. The salt
      // is the partitioning expression itself, computed inside the exchange
      // rather than shuffled as a column.
      df.repartition(partitions, xxhash64(col("url"), bucket))
    } else {
      import org.apache.spark.sql.expressions.Window
      // Global descending-length round-robin (sorted-greedy): partition loads
      // differ by at most ~one document, the best achievable when documents
      // are indivisible. The single global window is why this mode is the
      // small-corpus/bench path only; the hash branch is the cluster default.
      val w = Window.orderBy(length(col("html")).desc, xxhash64(col("url")))
      // Snake (boustrophedon) dealing cancels the per-round bias of a plain
      // round-robin: even rounds deal 0..P-1, odd rounds P-1..0.
      val rn = row_number().over(w) - 1
      val idx = pmod(rn, lit(partitions))
      val round = (rn / partitions).cast("long")
      val pk = when(pmod(round, lit(2L)) === 0L, idx)
        .otherwise(lit(partitions - 1) - idx)
      // Exact placement: `repartition(P, c)` routes to pmod(murmur3(c), P), so
      // remap each logical pk to a probe value known to hash into exactly that
      // physical partition (one tiny driver-side probe; deterministic).
      val spark = df.sparkSession
      val probe = spark.range(0, 4096)
        .select(col("id"), pmod(hash(col("id")), lit(partitions)).as("p"))
        .collect().map(r => (r.getLong(0), r.getInt(1)))
      val salts: Map[Int, Long] =
        probe.groupBy(_._2).map { case (p, ids) => p -> ids.head._1 }
      require(salts.size == partitions, s"hash probe covered ${salts.size}/$partitions")
      // O(1)-DEPTH lookup: a when-chain fold here is O(partitions) DEEP and
      // the Column->Expression conversion recurses per node — measured
      // StackOverflowError on the driver at 512 partitions (fine at 256).
      // A single array literal indexed by __pk keeps the tree flat at any P.
      val remapArr = Array.tabulate(partitions)(p => salts(p))
      df.withColumn("__pk", pk)
        .withColumn("__pk",
          element_at(typedlit(remapArr.toSeq), col("__pk").cast("int") + 1))
        .repartition(partitions, col("__pk"))
        .drop("__pk")
    }
  }

  /** The [[PageRow]] columns extraction reads; `text` is not one of them. */
  private val ReadColumns = Seq("url", "warc_ts", "html", "lang")

  /** The pages left to extract (those not in `done`'s urls), placed by
    * [[skewRepartition]], carrying only the columns extraction reads: `text`,
    * about as large as `html`, is projected away before the anti-join and
    * the exchange and comes back as null after them, so the rows keep the
    * [[PageRow]] shape.
    */
  private[graft] def extractInput(pages: Dataset[PageRow], done: Option[DataFrame],
      partitions: Int, balanced: Boolean = false): Dataset[PageRow] = {
    import pages.sparkSession.implicits._
    val read = pages.select(ReadColumns.map(col): _*)
    val todo = done.fold(read)(read.join(_, Seq("url"), "left_anti"))
    skewRepartition(todo, partitions, balanced)
      .withColumn("text", lit(null).cast("string")).as[PageRow]
  }

  /** The distributed extraction: one pure function per document, applied
    * partition-locally. Never collects; never shuffles. Rows carry only the
    * three renders they store: ExtractJob never renders HTML.
    */
  def extract(pages: Dataset[PageRow]): Dataset[ExtractedRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      it.map { page =>
        val bytesIn = if (page.html == null) 0L else page.html.length.toLong
        def row(text: String, markdown: String, json: String, d: Extract.DocBlocks,
            status: String, errorClass: String) = ExtractedRow(
          url = page.url, warc_ts = page.warc_ts, lang = page.lang,
          extracted_text = text, markdown = markdown, blocks_json = json,
          n_pages = d.nPages, n_blocks = d.blocks.length,
          n_elements = d.nElements, n_lines = d.nLines,
          need_ocr_pages = d.needOcrPages, parse_status = status,
          error_class = errorClass, engine_version = Extract.EngineVersion,
          partition_id = pid, bytes_in = bytesIn)
        Extract.extractBlocks(page.url, page.html)(
          d => row(Render.toText(d.blocks), Render.toMarkdown(d.blocks, None),
            Render.blocksToJson(d.blocks), d, "ok", ""),
          row("", "", "[]", Extract.NoBlocks, "error", _))
      }
    }
  }

  /** S5 image-crop sink analogue (save_doc_images, utils.rs:58-88): the
    * reference cuts a padded PNG per Image block from the page raster; the
    * rebuild has no raster, so the sink emits the crop SPECS — one row per
    * Image block with the exact padded page-space rect the reference would
    * cut (IMAGE_PADDING=5, utils.rs:7; saturating u32 casts; width/height
    * floored at 1, padded by 2x5, clamped to the page) plus the reference's
    * `img_{id}.png` naming (blocks.rs:14-16). Fully declarative: from_json
    * over blocks_json -> explode -> filter, so a raster service can join on
    * (url, page_id) and cut.
    */
  /** The image-crop rect math (utils.rs:129-184 cut: IMAGE_PADDING=5,
    * saturating u32 casts, width/height floored at 1 BEFORE padding by 2x5,
    * clamped to the page) as reusable (name, expression) pairs over raw f32
    * bbox coordinates — shared verbatim by [[cropSpecs]] (golden-pinned
    * input) and the qx4 oracle table (SQL-derivable input), so the DuckDB
    * hash gate certifies exactly the production expressions.
    */
  private[spark] def cropGeom(x0: Column, y0: Column, x1: Column,
      y1: Column): Seq[(String, Column)] = {
    val pad = lit(5f) // IMAGE_PADDING
    val w = greatest(x1 - x0, lit(1f))
    val h = greatest(y1 - y0, lit(1f))
    Seq(
      // Rust `as u32` truncates and saturates negatives to 0
      "x" -> greatest(floor(x0 - pad), lit(0)).cast("int"),
      "y" -> greatest(floor(y0 - pad), lit(0)).cast("int"),
      "width" -> least(w.cast("int") + lit(10),
        lit(graft.core.HtmlFront.PageWidth.toInt)),
      "height" -> least(h.cast("int") + lit(10),
        lit(graft.core.HtmlFront.PageHeight.toInt)))
  }

  def cropSpecs(extracted: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val blockSchema = ArrayType(StructType(Seq(
      StructField("id", IntegerType),
      StructField("kind", StructType(Seq(
        StructField("block_type", StringType),
        StructField("id", IntegerType),
        StructField("caption", StringType)))),
      StructField("pages_id", ArrayType(IntegerType)),
      StructField("bbox", StructType(Seq(
        StructField("x0", FloatType), StructField("y0", FloatType),
        StructField("x1", FloatType), StructField("y1", FloatType)))))))
    val imgBlocks = extracted
      .select(col("url"), explode(from_json(col("blocks_json"), blockSchema)).as("b"))
      .filter(col("b.kind.block_type") === "Image")
    val geom = cropGeom(col("b.bbox.x0"), col("b.bbox.y0"),
      col("b.bbox.x1"), col("b.bbox.y1")).map { case (n, c) => c.as(n) }
    imgBlocks.select(Seq(
      col("url"),
      element_at(col("b.pages_id"), 1).as("page_id"),
      col("b.kind.id").as("image_id"),
      concat(lit("img_"), col("b.kind.id"), lit(".png")).as("image_path")) ++
      geom :+ col("b.kind.caption").as("caption"): _*)
  }

  /** S7 debug-overlay sink analogue (draw_blocks, draw.rs:128-161): the
    * reference draws a hollow rect per block (BLOCK_COLOR #d18b00) plus a
    * block-type legend above it onto the page raster. Same treatment as
    * [[cropSpecs]]: no raster here, so emit the overlay SPECS — one row per
    * block with the exact integer rect the reference would draw (`as i32`
    * truncating casts, width/height floored at 1 AFTER the i32 conversion)
    * and the legend's position/size (legend_size = max(page_w, page_h)/70,
    * legend at (x0, y0 - legend_size), draw.rs:148-158). A raster service
    * joins on (url, page_id) and draws; never affects extracted text.
    */
  /** The draw_blocks rect+legend math (draw.rs:128-161: `as i32` truncating
    * casts, width/height floored at 1 AFTER the i32 conversion, legend_size
    * = max(page_w, page_h)/70, legend at (x0, y0 - legend_size)) as
    * reusable (name, expression) pairs — shared by [[overlaySpecs]] and the
    * qx4 oracle table, same rationale as [[cropGeom]].
    */
  private[spark] def overlayGeom(x0: Column, y0: Column, x1: Column,
      y1: Column): Seq[(String, Column)] = {
    val legendSize = math.max(graft.core.HtmlFront.PageWidth.toInt,
      graft.core.HtmlFront.PageHeight.toInt) / 70
    // Rust `as i32` truncates toward zero == Spark's float->int cast
    val xi = x0.cast("int")
    val yi = y0.cast("int")
    Seq(
      "x" -> xi, "y" -> yi,
      "width" -> greatest(x1.cast("int") - xi, lit(1)),
      "height" -> greatest(y1.cast("int") - yi, lit(1)),
      "legend_x" -> xi,
      "legend_y" -> (y0 - lit(legendSize.toFloat)).cast("int"),
      "legend_size" -> lit(legendSize))
  }

  def overlaySpecs(extracted: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val blockSchema = ArrayType(StructType(Seq(
      StructField("id", IntegerType),
      StructField("kind", StructType(Seq(
        StructField("block_type", StringType)))),
      StructField("pages_id", ArrayType(IntegerType)),
      StructField("bbox", StructType(Seq(
        StructField("x0", FloatType), StructField("y0", FloatType),
        StructField("x1", FloatType), StructField("y1", FloatType)))))))
    val b = extracted
      .select(col("url"), explode(from_json(col("blocks_json"), blockSchema)).as("b"))
    val geom = overlayGeom(col("b.bbox.x0"), col("b.bbox.y0"),
      col("b.bbox.x1"), col("b.bbox.y1")).map { case (n, c) => c.as(n) }
    b.select(Seq(
      col("url"),
      element_at(col("b.pages_id"), 1).as("page_id"),
      col("b.id").as("block_id"),
      col("b.kind.block_type").as("label")) ++
      geom :+ lit("d18b00ff").as("color_rgba"): _*)
  }

  /** qx4: the [[overlayGeom]] + [[cropGeom]] expressions over a
    * SQL-derivable synthetic f32 bbox table — the geometry math under the
    * DuckDB hash gate. qx3's real inputs (blocks_json) are byte-pinned by
    * GoldenSpec but not derivable in SQL, so this companion query closes the
    * verification chain: pinned blocks + oracled math. Coordinates are
    * quarter-fraction values (exact in f32 and f64, so the oracle's casts
    * agree bit-for-bit) spanning negatives, degenerate boxes (x1 < x0) and
    * beyond-page extents, exercising every saturate/floor-at-1/clamp branch.
    */
  def overlayMathTable(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val x0 = ((col("doc_id") % 700) - lit(25) + lit(0.25)).cast("float")
    val y0 = (((col("doc_id") * 3) % 900) - lit(40) + lit(0.5)).cast("float")
    val x1 = (x0 + ((col("doc_id") * 7) % 900) - lit(30)).cast("float")
    val y1 = (y0 + ((col("doc_id") * 11) % 1000) - lit(35)).cast("float")
    val b = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), x0.as("x0"), y0.as("y0"),
        x1.as("x1"), y1.as("y1"))
    val ov = overlayGeom(col("x0"), col("y0"), col("x1"), col("y1"))
      .map { case (n, c) => c.as(n) }
    val cr = cropGeom(col("x0"), col("y0"), col("x1"), col("y1"))
      .map { case (n, c) => c.as(s"crop_$n") }
    b.select(col("doc_id") +: col("x0") +: col("y0") +: col("x1") +:
      col("y1") +: (ov ++ cr): _*)
  }

  /** The per-partition counters a `lineage/` row sums over the committed
    * rows, in its column order after `partition_id`; `max_doc_bytes`, the
    * one max, is taken of `bytes_in` (the second counter).
    */
  private val LineageCounters: Seq[(String, Column)] = {
    def is(c: Column) = when(c, 1).otherwise(0)
    def errors(cls: String) = is(col("error_class") === cls)
    Seq(
      "doc_count" -> lit(1),
      "bytes_in" -> col("bytes_in"),
      "lines" -> col("n_lines"),
      "elements" -> col("n_elements"),
      "blocks" -> col("n_blocks"),
      "ok_count" -> is(col("parse_status") === "ok"),
      "parse_errors" -> errors("parse_error"),
      "empty_docs" -> errors("empty_doc"),
      "oversize_docs" -> errors("oversize"),
      "exceptions" -> errors("exception"))
  }

  /** The `lineage/` schema; appends mix with the files of earlier runs. */
  private val LineageSchema: StructType = {
    val counts = LineageCounters.map(_._1)
    StructType(StructField("partition_id", IntegerType) +:
      (counts.take(2) ++ ("max_doc_bytes" +: counts.drop(2)))
        .map(StructField(_, LongType)) :+ StructField("run_id", StringType))
  }

  /** One `lineage/` row per partition from its observed sums and maxes:
    * the sums in counter order, with the max of `bytes_in` after its sum.
    */
  private def lineageRows(observed: Seq[Row], runId: String): Seq[Row] =
    observed.map { p =>
      val (sum, max) = (p.getSeq[Long](1), p.getSeq[Long](2))
      Row.fromSeq((p.getInt(0) +: sum.take(2)) ++ (max(1) +: sum.drop(2)) :+ runId)
    }

  /** Full resumable run: anti-join against committed urls, repartition,
    * extract, then [[commit]]. On a fresh store that is three jobs: the
    * exchange, the write and the lineage append.
    * Returns the docs this run committed.
    */
  def run(
      spark: SparkSession,
      pages: Dataset[PageRow],
      store: SnapshotStore,
      runId: String,
      partitions: Int,
      balanced: Boolean = false
  ): Long = {
    val done = store.committedKeys(spark, "url")
    commit(store, extract(extractInput(pages, done.map(_._2), partitions, balanced)),
      runId, done.map(_._1))
  }

  /** MERGE `extracted` INTO the store and append one `lineage/` row per
    * partition. The merge observes the lineage counters on the rows it
    * commits, so no job re-reads the commit; `excluded` is the snapshot
    * whose urls `extracted` already lacks, which spares the merge its own
    * anti-join unless another writer committed in between. Returns the
    * rows committed.
    */
  private[graft] def commit(store: SnapshotStore, extracted: Dataset[ExtractedRow],
      runId: String, excluded: Option[Long]): Long = {
    val counters = GraftFunctions.partitionCounters(col("partition_id"),
      LineageCounters.map(_._2): _*).as("lineage")
    val observed = store.merge(extracted.toDF(), "url", Seq(counters), excluded)
      .observed("lineage").asInstanceOf[Seq[Row]]
    val rows = lineageRows(observed, runId)
    if (rows.nonEmpty)
      extracted.sparkSession.createDataFrame(rows.asJava, LineageSchema).coalesce(1)
        .write.mode("append").parquet(s"${store.root}/lineage")
    rows.map(_.getLong(1)).sum
  }
}
