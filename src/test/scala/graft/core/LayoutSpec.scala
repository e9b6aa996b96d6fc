package graft.core

import java.nio.charset.StandardCharsets
import org.scalatest.funsuite.AnyFunSuite
import graft.spark.PagesTable

/** The front-end folds each inline run into the span stream with one append
  * and one block-box merge. This pins that fold to the per-char reference:
  * every char of the same layout emitted as a [[PChar]] and folded by
  * `Tokenize.parseTextSpans` (the `SpanStream.feed` path), with each block
  * box unioned char by char.
  */
class LayoutSpec extends AnyFunSuite {

  private def assertSameLayout(name: String, html: String): Vector[HtmlFront.LaidOutPage] = {
    val pages = HtmlFront.layoutDocument(html)
    val reference = HtmlFront.layoutChars(html)
    assert(pages.length == reference.length, s"$name: page count")
    pages.zip(reference).zipWithIndex.foreach { case ((page, (chars, boxes, ocr)), p) =>
      assert(page.spans == Tokenize.parseTextSpans(chars), s"$name page $p: spans")
      assert(page.boxes == boxes, s"$name page $p: boxes")
      assert(page.ocrLines == ocr, s"$name page $p: ocr lines")
    }
    pages
  }

  private def html(row: PagesTable.PageRow) = new String(row.html, StandardCharsets.UTF_8)

  test("every PagesTable family: run-level layout equals the per-char fold") {
    val cycled = (0L until 3L * PagesTable.Families.length).map(PagesTable.genDoc(_))
    val explicit = for {
      family <- Seq(PagesTable.OcrFamily, PagesTable.EntityFamily,
        PagesTable.EdgeFamily, PagesTable.MixedFamily, PagesTable.C1Family)
      i <- 0L until 10L
    } yield PagesTable.genDocFamily(family, i)
    val families = (cycled ++ explicit).map { row =>
      val pages = assertSameLayout(row.url, html(row))
      assert(pages.exists(p => p.spans.nonEmpty || p.boxes.nonEmpty),
        s"${row.url}: nothing laid out")
      row.url.split("/")(3)
    }.toSet
    assert(families == (PagesTable.Families ++ Seq(PagesTable.OcrFamily,
      PagesTable.EntityFamily, PagesTable.EdgeFamily, PagesTable.MixedFamily,
      PagesTable.C1Family)).toSet)
  }

  test("non-BMP text: surrogate pairs stay whole and count as one char") {
    val spans = assertSameLayout("non-BMP",
      "<p>Math 𝔸𝔹 and 😀 here " +
        "<span data-font-size=\"14\">𝒳 wide</span> tail</p>")
      .flatMap(_.spans)
    val math = spans.find(_.text.contains("𝔸")).get
    // char indices count code points, not UTF-16 units
    assert(math.charEndIdx - math.charStartIdx + 1 ==
      math.text.codePointCount(0, math.text.length))
  }

  test("data-nolb pages emit no linebreak chars") {
    val pages = assertSameLayout("nolb",
      "<page data-nolb=\"1\"><h1>Title</h1><p>one</p></page><page><p>two</p></page>")
    assert(!pages(0).spans.exists(_.text.contains("\n")))
    assert(pages(1).spans.exists(_.text == "\n"))
  }

  test("a data-font-size=\"0\" span folds into a span of its own") {
    val pages = assertSameLayout("size0",
      "<p>before <span data-font-size=\"0\">hidden zero</span> after</p>")
    val zero = pages.head.spans.filter(s => s.fontSize == 0f && s.fontName == "Sans")
    assert(zero.map(_.text) == Vector(" hidden zero"))
  }

  test("a wrap inside a span: one span across lines, one box around them") {
    val long = Iterator.continually("wrapped words").take(30).mkString(" ")
    val pages = assertSameLayout("wrap",
      s"<p>lead <span data-font-weight=\"700\">$long</span> end</p>")
    val bold = pages.head.spans.find(_.fontWeight == 700).get
    assert(bold.bbox.y1 - bold.bbox.y0 > 3 * 12f * 1.2f, "span did not wrap")
    assert(pages.head.boxes.map(_.bbox.y1).head >= bold.bbox.y1)
  }
}
