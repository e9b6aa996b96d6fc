package graft.core

import java.nio.charset.StandardCharsets
import scala.util.hashing.MurmurHash3

/** The whole per-document extraction pipeline: html bytes -> ExtractedDoc.
  *
  * Mirrors the reference's document lifecycle
  * (/root/reference/ferrules-core/src/parse/document.rs:211-276):
  * per-page front-end parse -> layout -> NMS -> OCR decision -> line/layout
  * assignment -> elements; then document-level: flatten elements in page
  * order, k-means title levels (seeded from the url — SURVEY.md 7.3), block
  * grouping, renders.
  *
  * This is a pure function: its blocks stage ([[extractBlocks]]) is the unit
  * of work `mapPartitions` applies, and [[extractDocument]] is the
  * sequential oracle that generates the goldens. Failures never
  * drop rows silently (unlike the reference's eprintln at native.rs:295) —
  * they surface in the `parseStatus` / `errorClass` taxonomy.
  */
object Extract {

  final case class ExtractedDoc(
      url: String,
      extractedText: String,
      markdown: String,
      html: String,
      blocksJson: String,
      nPages: Int,
      nBlocks: Int,
      nElements: Int,
      nLines: Int,
      needOcrPages: Int,
      parseStatus: String, // ok | error
      errorClass: String // "" | empty_doc | oversize | range_error | parse_error | exception | cancelled
  )

  /** Max accepted input size — mirrors the API's 250 MB body cap
    * (/root/reference/ferrules-api/src/main.rs:40).
    */
  val MaxBytes: Int = 250 * 1024 * 1024

  val EngineVersion: String = "0.1.0"

  /** Deterministic per-document seed (k-means init), derived from the url. */
  def docSeed(url: String): Long = {
    val h1 = MurmurHash3.stringHash(url, 0x9747b28c)
    val h2 = MurmurHash3.stringHash(url, 0x85ebca6b)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  /** Page-count-only fast path — the analogue of `get_page_count`
    * (parse/document.rs:146-181): parse structure, no layout/extraction.
    */
  def pageCount(html: Array[Byte]): Int =
    HtmlFront.parseDom(new String(html, StandardCharsets.UTF_8)).length

  /** CLI page-range grammar (cli/main.rs:145-169, duplicated
    * api/main.rs:531-555): "1-5" -> [0,5), "3" -> [2,3) — 1-based inclusive
    * input, 0-based exclusive range out.
    */
  def parsePageRange(s: String): Option[(Int, Int)] = {
    val t = s.trim
    if (t.isEmpty) None
    else t.split("-", 2) match {
      case Array(single) => single.toIntOption.map(p => (p - 1, p))
      case Array(a, b) =>
        for (x <- a.trim.toIntOption; y <- b.trim.toIntOption) yield (x - 1, y)
      case _ => None
    }
  }

  def extractDocument(url: String, html: Array[Byte]): ExtractedDoc =
    extractDocument(url, html, None)

  /** Thrown between pages when `isCancelled()` flips — the analogue of the
    * reference's "Page processing was cancelled" bail
    * (parse/document.rs:66-69, 309-315). Internal; surfaced as
    * errorClass "cancelled".
    */
  private final class CancelledException extends RuntimeException

  /** `pageRange` is 0-based half-open; a range end past the document's page
    * count is an error, mirroring the reference's bail
    * (parse/native.rs:263-274) but surfaced in the failure taxonomy.
    */
  def extractDocument(url: String, html: Array[Byte],
      pageRange: Option[(Int, Int)]): ExtractedDoc =
    extractDocument(url, html, pageRange, _ => (), () => false)

  /** Serving-surface variant with the reference parser's two callbacks
    * (parse/document.rs:211-217): `onPageParsed(pageId)` fires once per
    * structured page (the API's SSE progress source, api/main.rs:760-776)
    * and `isCancelled` is polled before the parse and before every page
    * (parse/document.rs:294-315); a positive poll aborts with
    * errorClass "cancelled" instead of an anyhow error.
    */
  def extractDocument(url: String, html: Array[Byte],
      pageRange: Option[(Int, Int)], onPageParsed: Int => Unit,
      isCancelled: () => Boolean): ExtractedDoc =
    extractBlocks(url, html, pageRange, onPageParsed, isCancelled)(
      d => renderDoc(url, d), failed(url, _))

  /** The blocks stage's result for a document that parses: its blocks and
    * the counts [[ExtractedDoc]] carries.
    */
  private[graft] final case class DocBlocks(blocks: Vector[Block], nPages: Int,
      nElements: Int, nLines: Int, needOcrPages: Int)

  /** The counts of a document that failed. */
  private[graft] val NoBlocks: DocBlocks = DocBlocks(Vector.empty, 0, 0, 0, 0)

  /** The extraction up to the blocks, with the renders left to the caller:
    * `render` turns the blocks of a parsed document into the caller's
    * result, `failed` an error class. [[extractDocument]] renders all four
    * outputs; ExtractJob only the three it stores. `render` runs inside the
    * same failure taxonomy as every other stage.
    */
  private[graft] def extractBlocks[A](url: String, html: Array[Byte],
      pageRange: Option[(Int, Int)] = None, onPageParsed: Int => Unit = _ => (),
      isCancelled: () => Boolean = () => false)(
      render: DocBlocks => A, failed: String => A): A =
    try {
      if (isCancelled()) return failed("cancelled")
      if (html == null || html.isEmpty)
        return failed("empty_doc")
      if (html.length > MaxBytes)
        return failed("oversize")
      val text = new String(html, StandardCharsets.UTF_8)
      val laidOut = HtmlFront.layoutDocument(text)
      // enumerate BEFORE filtering: page ids keep their original index,
      // exactly like the reference's enumerate-then-drain(range)
      // (parse/native.rs:233,263-274)
      val indexed = laidOut.zipWithIndex
      val ranged = pageRange match {
        case Some((start, end)) =>
          if (end > laidOut.length) return failed("range_error")
          indexed.slice(math.max(start, 0), end)
        case None => indexed
      }
      render(extractPages(url, ranged, onPageParsed, isCancelled))
    } catch {
      case _: CancelledException => failed("cancelled")
      case _: HtmlFront.ParseException => failed("parse_error")
      case scala.util.control.NonFatal(_) => failed("exception")
    }

  private def renderDoc(url: String, d: DocBlocks): ExtractedDoc =
    ExtractedDoc(
      url = url,
      extractedText = Render.toText(d.blocks),
      markdown = Render.toMarkdown(d.blocks, None),
      html = Render.toHtml(d.blocks, Render.sanitizeDocName(url), None),
      blocksJson = Render.blocksToJson(d.blocks),
      nPages = d.nPages,
      nBlocks = d.blocks.length,
      nElements = d.nElements,
      nLines = d.nLines,
      needOcrPages = d.needOcrPages,
      parseStatus = "ok",
      errorClass = ""
    )

  private def failed(url: String, errorClass: String): ExtractedDoc =
    ExtractedDoc(url, "", "", "", "[]", 0, 0, 0, 0, 0, "error", errorClass)

  private def extractPages(url: String,
      pagesIn: Seq[(HtmlFront.LaidOutPage, Int)],
      onPageParsed: Int => Unit,
      isCancelled: () => Boolean): DocBlocks = {
    var nLines = 0
    val pages = pagesIn.map { case (p, pageId) =>
      // cancellation poll before each page (parse/document.rs:309-315)
      if (isCancelled()) throw new CancelledException
      // L4: verbatim NMS over the oracle's raw boxes (layout/model.rs:125).
      val boxes = Nms.nms(p.boxes)
      // T3 ran streaming inside the front-end; T4 folds the spans here.
      val nativeLines = Tokenize.parseTextLines(p.spans)
      // O1: OCR decision over NATIVE lines vs text-kind boxes
      // (page.rs:65-93: page_needs_ocr sees native_text_lines). When the
      // page needs OCR and the OCR source produced lines, those lines
      // REPLACE the native ones (page.rs:81-91: `if need_ocr &&
      // ocr_result.is_some()`); the front-end's `<ocr>` lines stand in for
      // the platform OCR engine succeeding (Linux OCR is bail! in the
      // reference, ocr/mod.rs:149-154 — an empty ocrLines vector is the
      // OCR-unavailable case, where lines stay native and only the flag
      // surfaces).
      val textBoxes = boxes.filter(_.isTextBlock)
      val needOcr = Assign.pageNeedsOcr(textBoxes, nativeLines)
      val lines =
        if (needOcr && p.ocrLines.nonEmpty) p.ocrLines else nativeLines
      nLines += lines.length
      // J1-J4.
      val elements = Assign.buildPageElements(boxes, lines, pageId)
      val sp = StructuredPage(pageId, HtmlFront.PageWidth, HtmlFront.PageHeight,
        needOcr, elements)
      onPageParsed(pageId)
      sp
    }
    // cancellation poll while collecting results (parse/document.rs:341-348)
    if (isCancelled()) throw new CancelledException

    // Document assembly (document.rs:242-265): flatten in page order,
    // k-means over Title/Subtitle heights, block grouping.
    val allElements: Vector[Element] = pages.iterator.flatMap(_.elements).toVector
    val titles = allElements.filter(e =>
      e.kind == ElementType.Title || e.kind == ElementType.Subtitle)
    val titleLevel = Titles.titleLevelsKmeans(titles, Titles.TitleBuckets, docSeed(url))
    val blocks = Blocks.mergeElementsIntoBlocks(allElements, titleLevel)

    DocBlocks(blocks, pages.length, allElements.length, nLines,
      pages.count(_.needOcr))
  }
}
