package graft.core

import scala.collection.mutable.ArrayBuffer

/** The front-end substitution for pdfium + the ONNX layout model.
  *
  * The reference's two native black boxes (pdfium's char stream,
  * parse/native.rs:158-213, and the YOLOv8s-DocLayNet session,
  * layout/model.rs:106-254) are unavailable and out of scope for a
  * from-scratch Spark rebuild (SURVEY.md section 7.2). This front-end parses a
  * constrained, deterministic synthetic HTML dialect (FIXTURES.md section 2)
  * into:
  *
  *   - a char stream with synthetic geometry (page 612x792pt, line height =
  *     fontSize*1.2, char advance = fontSize*0.5, margins 36pt, header band
  *     y<72, footer band y>720) that feeds the verbatim T3/T4 folds; and
  *   - a deterministic "layout oracle": one DocLayNet-labelled box per DOM
  *     block (tag->label mirroring ID2LABEL, layout/model.rs:69-81), bbox =
  *     union of the block's char boxes, which then runs through the verbatim
  *     NMS. Boilerplate (<nav>) gets chars but NO box, so its lines fail the
  *     0.5-intersection / 20-distance assignment and are dropped — exactly
  *     how the reference discards unassigned lines (merge.rs:141-157).
  *
  * Dialect (all of it emitted by graft.spark.PagesTable, seeded):
  *   <page> ... </page>               one page (document = page sequence; a
  *                                    bare document is a single page)
  *   <page data-nolb="1">             suppress injected linebreak chars
  *                                    (emulates "pdfium doesn't inject a
  *                                    linebreak", entities.rs:345)
  *   h1 | h2..h6 | p | sub | math     text blocks (Title / Section-header /
  *                                    Text / Footnote / Formula)
  *   ul > li                          List-item boxes (one per li)
  *   header | footer                  Page-header / Page-footer bands
  *   figure > figcaption?             Picture box (reserved rect, no chars)
  *                                    + Caption box; data-capfirst="1" puts
  *                                    the caption above the picture
  *   table > tr > td                  one Table box; cell text joins with
  *                                    spaces, one row per tr
  *   nav                              chars with no layout box (boilerplate)
  *   span data-font-size|-weight|-name   inline font override inside a block
  *   ghost label=".." x0=".." y0=".." x1=".." y1=".." proba=".."
  *                                    explicit extra layout box (no chars) —
  *                                    exercises NMS overlaps + merge_remaining
  *   ocr x0=".." y0=".." x1=".." y1=".."  one OCR'd text line (the fixture
  *                                    stand-in for the platform OCR engine):
  *                                    no chars, no layout box — collected as
  *                                    an alternate line source that REPLACES
  *                                    native lines when the page needs OCR
  *                                    (parse/page.rs:81-91, ocr/mod.rs:19-26)
  */
object HtmlFront {

  val PageWidth: Float = 612f
  val PageHeight: Float = 792f
  val MarginLeft: Float = 36f
  val ContentRight: Float = 576f
  val BodyTop: Float = 80f
  val HeaderTop: Float = 40f
  val FooterTop: Float = 724f
  val BlockGap: Float = 4f

  /** Parser recursion guard — see parseNodes. */
  val MaxDomDepth: Int = 512

  final case class Font(name: String, size: Float, weight: Int)

  /** The pdfium-synthetic-linebreak pseudo-font (fontSize 0, no weight). */
  private val LinebreakFont = Font("", 0f, -1)

  // interned per-tag fonts: fontFor is called per block (and the default per
  // unknown tag); constructing a fresh case class each time was measurable
  // in the allocation profile only in aggregate, but it is free to cache
  private val SerifFonts = Map(24f -> Font("Serif", 24f, 700),
    20f -> Font("Serif", 20f, 700), 18f -> Font("Serif", 18f, 700),
    16f -> Font("Serif", 16f, 700), 14f -> Font("Serif", 14f, 700),
    13f -> Font("Serif", 13f, 700))
  private val SansDefault = Font("Sans", 12f, 400)
  private val SansCaption = Font("Sans", 10f, 400)
  private val SansBand = Font("Sans", 9f, 400)
  private val SansFootnote = Font("Sans", 8f, 400)
  private val SansNav = Font("Sans", 11f, 400)
  private val MonoFormula = Font("Mono", 12f, 400)

  def fontFor(tag: String): Font = tag match {
    case "h1"         => SerifFonts(24f)
    case "h2"         => SerifFonts(20f)
    case "h3"         => SerifFonts(18f)
    case "h4"         => SerifFonts(16f)
    case "h5"         => SerifFonts(14f)
    case "h6"         => SerifFonts(13f)
    case "p"          => SansDefault
    case "li"         => SansDefault
    case "figcaption" => SansCaption
    case "header"     => SansBand
    case "footer"     => SansBand
    case "sub"        => SansFootnote
    case "math"       => MonoFormula
    case "td"         => SansCaption
    case "nav"        => SansNav
    case other        => SansDefault
  }

  /** Tag -> DocLayNet label (mirrors ID2LABEL, layout/model.rs:69-81). */
  def labelFor(tag: String): Option[String] = tag match {
    case "h1"                                  => Some("Title")
    case "h2" | "h3" | "h4" | "h5" | "h6"      => Some("Section-header")
    case "p"                                   => Some("Text")
    case "li"                                  => Some("List-item")
    case "figure"                              => Some("Picture")
    case "figcaption"                          => Some("Caption")
    case "header"                              => Some("Page-header")
    case "footer"                              => Some("Page-footer")
    case "table"                               => Some("Table")
    case "sub"                                 => Some("Footnote")
    case "math"                                => Some("Formula")
    case "nav"                                 => None // boilerplate: no box
    case _                                     => None
  }

  // ---------------------------------------------------------------- DOM

  sealed trait Node
  final case class Elem(tag: String, attrs: Map[String, String], children: Vector[Node]) extends Node
  final case class Text(s: String) extends Node

  final class ParseException(msg: String) extends RuntimeException(msg)

  /** Minimal deterministic parser for the dialect above. Throws
    * [[ParseException]] on malformed input (-> `parse_error` taxonomy).
    */
  def parseDom(html: String): Vector[Elem] = {
    var i = 0
    val n = html.length

    def error(msg: String) = throw new ParseException(s"$msg at offset $i")

    def parseAttrs(): Map[String, String] = {
      var attrs = Map.empty[String, String]
      while (i < n && html.charAt(i) != '>' && html.charAt(i) != '/') {
        while (i < n && html.charAt(i).isWhitespace) i += 1
        if (i < n && html.charAt(i) != '>' && html.charAt(i) != '/') {
          val start = i
          while (i < n && html.charAt(i) != '=' && !html.charAt(i).isWhitespace &&
            html.charAt(i) != '>' && html.charAt(i) != '/') i += 1
          val key = html.substring(start, i)
          if (i < n && html.charAt(i) == '=') {
            i += 1
            if (i >= n || html.charAt(i) != '"') error(s"expected '\"' for attr $key")
            i += 1
            val vs = i
            while (i < n && html.charAt(i) != '"') i += 1
            if (i >= n) error("unterminated attribute value")
            attrs += key -> html.substring(vs, i)
            i += 1
          } else if (key.nonEmpty) attrs += key -> ""
        }
      }
      attrs
    }

    def parseNodes(closing: Option[String], depth: Int = 0): Vector[Node] = {
      // DOM depth cap: the recursive descent otherwise overflows the JVM
      // stack near depth ~3000 (measured), and a StackOverflowError is an
      // uncatchable-in-practice task killer on a cluster. Real browsers cap
      // around 512; past the cap this is a deterministic parse_error row in
      // the failure taxonomy, not an exception.
      if (depth > MaxDomDepth) error(s"DOM nesting deeper than $MaxDomDepth")
      val out = Vector.newBuilder[Node]
      while (i < n) {
        if (html.charAt(i) == '<') {
          if (i + 1 < n && html.charAt(i + 1) == '/') {
            val close = html.indexOf('>', i)
            if (close < 0) error("unterminated close tag")
            val name = html.substring(i + 2, close).trim
            closing match {
              case Some(c) if c == name => i = close + 1; return out.result()
              case _ => error(s"unexpected </$name>")
            }
          } else {
            i += 1
            val start = i
            while (i < n && !html.charAt(i).isWhitespace &&
              html.charAt(i) != '>' && html.charAt(i) != '/') i += 1
            val tag = html.substring(start, i)
            if (tag.isEmpty) error("empty tag name")
            val attrs = parseAttrs()
            if (i < n && html.charAt(i) == '/') {
              i += 1
              if (i >= n || html.charAt(i) != '>') error("malformed self-closing tag")
              i += 1
              out += Elem(tag, attrs, Vector.empty)
            } else if (i < n && html.charAt(i) == '>') {
              i += 1
              out += Elem(tag, attrs, parseNodes(Some(tag), depth + 1))
            } else error(s"unterminated <$tag")
          }
        } else {
          val start = i
          i = html.indexOf('<', i)
          if (i < 0) i = n
          val t = unescape(html.substring(start, i))
          if (!isBlank(t)) out += Text(normalizeWs(t))
        }
      }
      closing match {
        case Some(c) => error(s"missing </$c>")
        case None    => out.result()
      }
    }

    val nodes = parseNodes(None)
    val elems = nodes.collect { case e: Elem => e }
    if (elems.exists(_.tag == "page")) {
      if (!nodes.forall { case e: Elem => e.tag == "page"; case _ => false })
        throw new ParseException("mixed <page> and top-level content")
      elems.toVector
    } else Vector(Elem("page", Map.empty, nodes))
  }

  private def isBlank(s: String): Boolean = {
    var i = 0
    while (i < s.length && s.charAt(i).isWhitespace) i += 1
    i == s.length
  }

  private def unescape(s: String): String =
    if (s.indexOf('&') < 0) s
    else s.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")

  private def normalizeWs(s: String): String = {
    // fast path: already normalized (no edge whitespace, no non-space
    // whitespace, no double spaces) — the overwhelmingly common case for
    // generator text; returns the SAME string, no rebuild (the rebuild was
    // one StringBuilder + copy per DOM text node in the allocation profile)
    val n = s.length
    var clean = n > 0 && !s.charAt(0).isWhitespace && !s.charAt(n - 1).isWhitespace
    var i = 0
    while (clean && i < n) {
      val c = s.charAt(i)
      if (c.isWhitespace && (c != ' ' || (i + 1 < n && s.charAt(i + 1).isWhitespace)))
        clean = false
      i += 1
    }
    if (clean) return s
    // collapse runs of whitespace to a single space, trim edges
    val sb = new StringBuilder
    var prevWs = true
    s.foreach { c =>
      if (c.isWhitespace) { if (!prevWs) sb += ' '; prevWs = true }
      else { sb += c; prevWs = false }
    }
    if (sb.nonEmpty && sb.last == ' ') sb.setLength(sb.length - 1)
    sb.toString
  }

  // ------------------------------------------------------------ geometry

  /** One laid-out page: the folded spans (the T3 result — chars are streamed
    * through Tokenize.SpanStream during layout and never materialized), the
    * raw (pre-NMS) layout boxes, and the OCR alternate line source (empty
    * unless the fixture carries `<ocr>` lines — the stand-in for a platform
    * OCR engine succeeding, ocr/mod.rs:29-34).
    */
  final case class LaidOutPage(spans: Vector[CharSpan], boxes: Vector[LayoutBox],
      ocrLines: Vector[Line])

  /** One page's layout sink. Chars arrive one at a time from the geometry
    * loop ([[emitChar]]) and are folded per inline run ([[endRun]]): one
    * span append and one block-box merge per run. With `chars` set (the
    * reference mode of [[layoutChars]]) every char is instead recorded as a
    * [[PChar]] and unioned into the block box on its own.
    */
  private final class PageState(val nolb: Boolean, chars: ArrayBuffer[PChar]) {
    val spanStream = new Tokenize.SpanStream
    // current block bbox as four mutable floats: a BBox instance per char
    // (the old union-merge) was the single largest allocation site in the
    // extraction JFR profile — one short-lived object per emitted char
    private var bbSet = false
    private var bbX0, bbY0, bbX1, bbY1 = 0f
    // the open run: its char count and the f32 union of its char boxes
    private var runN = 0
    private var rx0, ry0, rx1, ry1 = 0f
    val boxes = ArrayBuffer.empty[LayoutBox]
    val ocrLines = ArrayBuffer.empty[Line]
    var bodyY: Float = BodyTop
    var col1Y: Float = BodyTop // right column cursor (two-column layout)
    var headerY: Float = HeaderTop
    var footerY: Float = FooterTop
    var charIdx: Int = 0
    var boxId: Int = 0

    def nextBoxId(): Int = { val id = boxId; boxId += 1; id }

    /** One laid-out char `src[from, until)` of the open run. */
    def emitChar(src: String, from: Int, until: Int, font: Font,
        x0: Float, y0: Float, x1: Float, y1: Float): Unit =
      if (chars != null) {
        val bb = BBox(x0, y0, x1, y1)
        chars += PChar(src.substring(from, until), font.name, font.size,
          font.weight, 0f, bb, bb, charIdx)
        charIdx += 1
        unionBlock(font, x0, y0, x1, y1)
      } else if (runN == 0) {
        runN = 1; rx0 = x0; ry0 = y0; rx1 = x1; ry1 = y1
      } else {
        runN += 1
        if (x0 < rx0) rx0 = x0
        if (y0 < ry0) ry0 = y0
        if (x1 > rx1) rx1 = x1
        if (y1 > ry1) ry1 = y1
      }

    /** Close the open run, whose chars are `text` in `font`: one span
      * append, and the run's box joins the block box unless it is a
      * linebreak (font size 0).
      */
    def endRun(text: String, font: Font): Unit =
      if (runN > 0) {
        spanStream.feedRun(text, font.name, font.size, font.weight,
          0f, rx0, ry0, rx1, ry1, charIdx, charIdx + runN - 1)
        charIdx += runN
        runN = 0
        unionBlock(font, rx0, ry0, rx1, ry1)
      }

    private def unionBlock(font: Font, x0: Float, y0: Float, x1: Float, y1: Float): Unit =
      if (font.size != 0f) {
        if (!bbSet) { bbSet = true; bbX0 = x0; bbY0 = y0; bbX1 = x1; bbY1 = y1 }
        else {
          if (x0 < bbX0) bbX0 = x0
          if (y0 < bbY0) bbY0 = y0
          if (x1 > bbX1) bbX1 = x1
          if (y1 > bbY1) bbY1 = y1
        }
      }
    def markBlock(): Unit = bbSet = false
    def blockBBox: Option[BBox] =
      if (bbSet) Some(BBox(bbX0, bbY0, bbX1, bbY1)) else None

    def addBox(label: String, bbox: BBox, proba: Option[Float]): Unit = {
      val id = nextBoxId()
      boxes += LayoutBox(id, bbox, label, proba.getOrElse(0.9f - 0.0001f * id))
    }
  }

  /** Inline runs of a block: text fragments with their effective font. */
  private def inlineRuns(children: Seq[Node], base: Font): ArrayBuffer[(String, Font)] = {
    val runs = ArrayBuffer.empty[(String, Font)]
    def walk(nodes: Seq[Node], font: Font): Unit = nodes.foreach {
      case Text(t) => runs += ((t, font))
      case Elem("span", attrs, kids) =>
        val f = Font(
          attrs.getOrElse("data-font-name", font.name),
          attrs.get("data-font-size").map(_.toFloat).getOrElse(font.size),
          attrs.get("data-font-weight").map(_.toInt).getOrElse(font.weight)
        )
        walk(kids, f)
      case Elem(t, _, _) =>
        throw new ParseException(s"unsupported inline tag <$t>")
    }
    walk(children, base)
    // adjacent fragments join with a single space (generator contract);
    // the joining space is EMITTED by layoutRuns before each run after the
    // first, carrying that run's font — identical chars/geometry to the old
    // `" " + t` per-fragment concat, without a fresh String per fragment
    runs
  }

  /** Lay out one block's runs starting at `y0`, word-wrapped at the content
    * width. Returns the y just below the last line. Emits chars into `st`.
    */
  private def layoutRuns(
      st: PageState,
      runs: collection.Seq[(String, Font)],
      baseFont: Font,
      y0: Float,
      xLeft: Float = MarginLeft,
      xRight: Float = ContentRight
  ): Float = {
    val lineHeight = baseFont.size * 1.2f
    var x = xLeft
    var y = y0
    var runIdx = 0
    for ((text, font) <- runs) {
      val adv = font.size * 0.5f
      // the single joining space between adjacent inline runs (was the
      // first char of every non-first run before the concat was removed)
      if (runIdx > 0) {
        if (x + adv > xRight) { x = xLeft; y += lineHeight }
        st.emitChar(" ", 0, 1, font, x, y, x + adv, y + font.size)
        st.endRun(" ", font)
        x += adv
      }
      runIdx += 1
      var ti = 0
      while (ti < text.length) {
        val cs = Character.charCount(text.codePointAt(ti))
        if (x + adv > xRight) { // wrap (positions only; no chars injected)
          x = xLeft
          y += lineHeight
        }
        st.emitChar(text, ti, ti + cs, font, x, y, x + adv, y + font.size)
        x += adv
        ti += cs
      }
      st.endRun(text, font)
    }
    if (!st.nolb) {
      // Injected linebreak char (pdfium-synthetic-char emulation): zero-area
      // bbox, fontSize 0 — forces a span break and a "\n"-terminated line.
      st.emitChar("\n", 0, 1, LinebreakFont, x, y, x, y)
      st.endRun("\n", LinebreakFont)
    }
    y + lineHeight
  }

  /** Lay out a text block, optionally into the right column
    * (data-col="1"): each column has its own cursor and half-width band —
    * multi-column pages exercise the x-weighted (5:1) distance assignment.
    */
  private def layoutBlock(st: PageState, tag: String, children: Seq[Node],
      attrs: Map[String, String] = Map.empty): Unit = {
    val font = fontFor(tag)
    val rightCol = attrs.get("data-col").contains("1")
    val (xL, xR) = if (rightCol) (312f, ContentRight) else (MarginLeft, 306f)
    val twoCol = rightCol || attrs.contains("data-col")
    st.markBlock()
    val endY =
      if (!twoCol) layoutRuns(st, inlineRuns(children, font), font, st.bodyY)
      else if (rightCol) layoutRuns(st, inlineRuns(children, font), font, st.col1Y, xL, xR)
      else layoutRuns(st, inlineRuns(children, font), font, st.bodyY, xL, xR)
    if (twoCol && rightCol) st.col1Y = endY + BlockGap
    else st.bodyY = endY + BlockGap
    labelFor(tag).foreach { label =>
      st.blockBBox.foreach(bb => st.addBox(label, bb, None))
    }
  }

  private def layoutPage(page: Elem, chars: ArrayBuffer[PChar]): PageState = {
    val st = new PageState(page.attrs.contains("data-nolb"), chars)
    page.children.foreach {
      case Text(_) => throw new ParseException("bare text at page level")
      case Elem(tag, attrs, children) =>
        tag match {
          case "h1" | "h2" | "h3" | "h4" | "h5" | "h6" | "p" | "sub" | "math" =>
            layoutBlock(st, tag, children, attrs)

          case "nav" => // chars, no box: boilerplate to be dropped downstream
            val font = fontFor("nav")
            val endY = layoutRuns(st, inlineRuns(children, font), font, st.bodyY)
            st.bodyY = endY + BlockGap

          case "ul" =>
            children.foreach {
              case Elem("li", _, kids) => layoutBlock(st, "li", kids)
              case Text(_)             => // ignorable whitespace
              case Elem(t, _, _)       => throw new ParseException(s"<$t> inside <ul>")
            }

          case "header" =>
            val font = fontFor("header")
            st.markBlock()
            val endY = layoutRuns(st, inlineRuns(children, font), font, st.headerY)
            st.headerY = endY + BlockGap
            st.blockBBox.foreach(bb => st.addBox("Page-header", bb, None))

          case "footer" =>
            val font = fontFor("footer")
            st.markBlock()
            val endY = layoutRuns(st, inlineRuns(children, font), font, st.footerY)
            st.footerY = endY + BlockGap
            st.blockBBox.foreach(bb => st.addBox("Page-footer", bb, None))

          case "figure" =>
            val capFirst = attrs.contains("data-capfirst")
            val w = attrs.get("data-width").map(_.toFloat).getOrElse(300f)
            val h = attrs.get("data-height").map(_.toFloat).getOrElse(150f)
            val caption = children.collectFirst { case e @ Elem("figcaption", _, _) => e }
            def picture(): Unit = {
              st.addBox("Picture", BBox(MarginLeft, st.bodyY, MarginLeft + w, st.bodyY + h), None)
              st.bodyY += h + BlockGap
            }
            def cap(): Unit = caption.foreach(c => layoutBlock(st, "figcaption", c.children))
            if (capFirst) { cap(); picture() } else { picture(); cap() }

          case "table" =>
            st.markBlock()
            children.foreach {
              case Elem("tr", _, cells) =>
                val cellTexts = cells.collect { case Elem("td", _, kids) =>
                  kids.collect { case Text(t) => t }.mkString(" ")
                }
                val font = fontFor("td")
                val endY = layoutRuns(st,
                  Vector((cellTexts.mkString("  "), font)), font, st.bodyY)
                st.bodyY = endY
              case Text(_)       => // ignorable
              case Elem(t, _, _) => throw new ParseException(s"<$t> inside <table>")
            }
            st.bodyY += BlockGap
            st.blockBBox.foreach(bb => st.addBox("Table", bb, None))

          case "ghost" =>
            val bb = BBox(attrs("x0").toFloat, attrs("y0").toFloat,
              attrs("x1").toFloat, attrs("y1").toFloat)
            st.addBox(attrs("label"), bb, attrs.get("proba").map(_.toFloat))

          case "ocr" =>
            // OCRLines::to_line (ocr/mod.rs:19-26): text + bbox, rotation 0,
            // NO spans — OCR output bypasses the char/span fold entirely
            val bb = BBox(attrs("x0").toFloat, attrs("y0").toFloat,
              attrs("x1").toFloat, attrs("y1").toFloat)
            val text = children.collect { case Text(t) => t }.mkString(" ")
            st.ocrLines += Line(text, bb, 0f, Vector.empty)

          case other => throw new ParseException(s"unsupported block tag <$other>")
        }
    }
    st
  }

  /** Parse + lay out a whole document (one entry per page). */
  def layoutDocument(html: String): Vector[LaidOutPage] =
    parseDom(html).map { page =>
      val st = layoutPage(page, null)
      LaidOutPage(st.spanStream.result(), st.boxes.toVector, st.ocrLines.toVector)
    }

  /** The reference form of [[layoutDocument]]: the same geometry, with every
    * char emitted as a [[PChar]] (for `Tokenize.parseTextSpans`) and each
    * block box unioned char by char. Per page: (chars, raw boxes, OCR lines).
    */
  private[core] def layoutChars(html: String): Vector[(Vector[PChar], Vector[LayoutBox], Vector[Line])] =
    parseDom(html).map { page =>
      val chars = ArrayBuffer.empty[PChar]
      val st = layoutPage(page, chars)
      (chars.toVector, st.boxes.toVector, st.ocrLines.toVector)
    }
}
