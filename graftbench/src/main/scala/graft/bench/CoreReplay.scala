package graft.bench

import java.nio.charset.StandardCharsets

import graft.core._
import graft.core.Extract.ExtractedDoc

/** Single-threaded replay of the extraction core, stage by stage, through
  * the public `graft.core` stage functions in the order
  * `Extract.extractDocument` calls them. Each stage is timed on its own, so
  * a change to one stage shows in that stage's ns/doc. The replay is only
  * trusted while it renders exactly what `extractDocument` renders:
  * [[check]] compares the two field by field.
  */
object CoreReplay {

  val Stages: Vector[String] =
    Vector("layout", "nms", "tokenize", "assign", "blocks", "render")

  /** Nanoseconds spent in each stage, indexed like [[Stages]]. */
  final class StageClock { val ns = new Array[Long](Stages.length) }

  /** One document through the stages. Only documents that parse (`ok`)
    * can be replayed; the samples the benchmark draws all do.
    */
  def assemble(url: String, html: Array[Byte], clock: StageClock): ExtractedDoc = {
    var t = System.nanoTime()
    def lap(stage: Int): Unit = {
      val now = System.nanoTime(); clock.ns(stage) += now - t; t = now
    }
    val laidOut = HtmlFront.layoutDocument(new String(html, StandardCharsets.UTF_8))
    lap(0)
    var nLines = 0
    val pages = laidOut.zipWithIndex.map { case (p, pageId) =>
      val boxes = Nms.nms(p.boxes)
      lap(1)
      val nativeLines = Tokenize.parseTextLines(p.spans)
      lap(2)
      val needOcr = Assign.pageNeedsOcr(boxes.filter(_.isTextBlock), nativeLines)
      val lines = if (needOcr && p.ocrLines.nonEmpty) p.ocrLines else nativeLines
      nLines += lines.length
      val elements = Assign.buildPageElements(boxes, lines, pageId)
      lap(3)
      StructuredPage(pageId, HtmlFront.PageWidth, HtmlFront.PageHeight, needOcr, elements)
    }
    val allElements = pages.iterator.flatMap(_.elements).toVector
    val titles = allElements.filter(e =>
      e.kind == ElementType.Title || e.kind == ElementType.Subtitle)
    val titleLevel =
      Titles.titleLevelsKmeans(titles, Titles.TitleBuckets, Extract.docSeed(url))
    val blocks = Blocks.mergeElementsIntoBlocks(allElements, titleLevel)
    lap(4)
    val doc = ExtractedDoc(
      url = url,
      extractedText = Render.toText(blocks),
      markdown = Render.toMarkdown(blocks, None),
      html = Render.toHtml(blocks, Render.sanitizeDocName(url), None),
      blocksJson = Render.blocksToJson(blocks),
      nPages = pages.length,
      nBlocks = blocks.length,
      nElements = allElements.length,
      nLines = nLines,
      needOcrPages = pages.count(_.needOcr),
      parseStatus = "ok",
      errorClass = "")
    lap(5)
    doc
  }

  /** Urls whose stage-by-stage assembly differs from `extractDocument`. */
  def check(sample: Seq[(String, Array[Byte])]): Seq[String] =
    sample.collect {
      case (url, html) if assemble(url, html, new StageClock) !=
          Extract.extractDocument(url, html) => url
    }

  /** Median-of-rounds ns/doc per stage (keys of [[Stages]]) and for the
    * whole `extractDocument` call (key "extract"). One untimed round warms
    * the JIT first.
    */
  def profile(sample: IndexedSeq[(String, Array[Byte])], rounds: Int): Map[String, Double] = {
    def round(): (Array[Long], Long) = {
      val clock = new StageClock
      sample.foreach { case (url, html) => assemble(url, html, clock) }
      val t0 = System.nanoTime()
      sample.foreach { case (url, html) => Extract.extractDocument(url, html) }
      (clock.ns, System.nanoTime() - t0)
    }
    round()
    val measured = Vector.fill(rounds)(round())
    def perDoc(xs: Seq[Long]): Double = Stats.median(xs.map(_.toDouble)) / sample.length
    Stages.indices.map(i => Stages(i) -> perDoc(measured.map(_._1(i)))).toMap +
      ("extract" -> perDoc(measured.map(_._2)))
  }
}
