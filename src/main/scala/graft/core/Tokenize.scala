package graft.core

import scala.collection.mutable.ArrayBuffer

/** T3/T4: char → CharSpan → Line folds.
  *
  * Order-dependent sequential folds, re-derived from
  * /root/reference/ferrules-core/src/parse/native.rs:16-57 and
  * /root/reference/ferrules-core/src/entities.rs:265-363. These are pure
  * per-page functions; they never see a shuffle.
  */
object Tokenize {

  /** Run-length group chars by (fontSize, fontName, fontWeight, rotation).
    * First char seeds the span with its tight bounds; appended chars merge
    * their loose bounds (native.rs:16-39, entities.rs:265-300).
    */
  def parseTextSpans(chars: Iterable[PChar]): Vector[CharSpan] = {
    val stream = new SpanStream
    chars.foreach(stream.feed)
    stream.result()
  }

  /** Streaming form of the T3 fold: only the folded spans are retained, so a
    * page never materializes its char stream (a 1 MB document would
    * otherwise hold ~1M char objects in flight per task, which wrecks GC at
    * high parallelism). [[feed]] takes one char at a time and is the
    * reference fold; the front-end feeds whole runs through [[feedRun]].
    */
  final class SpanStream {
    private val spans = ArrayBuffer.empty[SpanBuilder]

    /** Feed one char. Tight bounds seed a new span; loose bounds merge on
      * append (entities.rs:265-300).
      */
    def feed(c: PChar): Unit =
      if (spans.isEmpty || !spans.last.tryAppend(c.text, c.fontName, c.fontSize,
          c.fontWeight, c.rotation, c.loose.x0, c.loose.y0, c.loose.x1, c.loose.y1,
          c.index))
        spans += new SpanBuilder(c.tight.x0, c.tight.y0, c.tight.x1, c.tight.y1,
          c.text, c.rotation, c.fontName, c.fontSize, c.fontWeight, c.index, c.index)

    /** Feed a run of chars, `text`, that share one font and whose tight and
      * loose bounds coincide: the f32 union of their boxes (folded in char
      * order, seeded by the first char) and their first/last char indices.
      * Equal to feeding the chars one by one: every char after the first
      * appends to whichever span the first one lands in, and the span bbox
      * is a min/max union, which does not depend on how the chars are
      * grouped.
      */
    def feedRun(text: String,
        fontName: String, fontSize: Float, fontWeight: Int, rotation: Float,
        x0: Float, y0: Float, x1: Float, y1: Float,
        firstIndex: Int, lastIndex: Int): Unit =
      if (spans.isEmpty || !spans.last.tryAppend(text, fontName, fontSize,
          fontWeight, rotation, x0, y0, x1, y1, lastIndex))
        spans += new SpanBuilder(x0, y0, x1, y1, text, rotation, fontName,
          fontSize, fontWeight, firstIndex, lastIndex)

    def result(): Vector[CharSpan] = spans.iterator.map(_.build).toVector
  }

  private final class SpanBuilder(
      var x0: Float, var y0: Float, var x1: Float, var y1: Float,
      head: String,
      val rotation: Float,
      val fontName: String,
      val fontSize: Float,
      val fontWeight: Int,
      val charStartIdx: Int,
      var charEndIdx: Int
  ) {
    // the text from the second appended piece on; a span of one run keeps
    // that run's string as its text, uncopied
    private var more: java.lang.StringBuilder = null

    /** entities.rs:282-300: reject on any font/rotation mismatch. */
    def tryAppend(text: String, fn: String, fs: Float, fw: Int, rot: Float,
        lx0: Float, ly0: Float, lx1: Float, ly1: Float, index: Int): Boolean =
      if (fs != fontSize || fn != fontName || fw != fontWeight || rot != rotation) false
      else {
        if (more == null) more = new java.lang.StringBuilder(head)
        more.append(text)
        charEndIdx = index
        if (lx0 < x0) x0 = lx0
        if (ly0 < y0) y0 = ly0
        if (lx1 > x1) x1 = lx1
        if (ly1 > y1) y1 = ly1
        true
      }

    def build: CharSpan =
      CharSpan(BBox(x0, y0, x1, y1), if (more == null) head else more.toString,
        rotation, fontName, fontSize, fontWeight, charStartIdx, charEndIdx)
  }

  /** Accumulate spans into lines. A line breaks when the incoming span has a
    * different rotation, starts below the line (`span.y0 > line.y1`), or its
    * text ends with "\n" / "" (entities.rs:343-362). On a break the
    * *finished* line's text is passed through [[FixText.fixText]]
    * (entities.rs:349); the page's final line is never fixed (no break fires
    * for it). A zero-area line bbox (the previous span was a linebreak char)
    * is replaced by the incoming span's bbox rather than merged
    * (entities.rs:352-356).
    */
  def parseTextLines(spans: Iterable[CharSpan]): Vector[Line] = {
    val lines = ArrayBuffer.empty[LineBuilder]
    val it = spans.iterator
    while (it.hasNext) {
      val span = it.next()
      if (lines.isEmpty) lines += LineBuilder.from(span)
      else {
        val line = lines.last
        if (span.rotation != line.rotation ||
          span.bbox.y0 > line.bbox.y1 ||
          span.text.endsWith("\n") || span.text.endsWith("\u0002")) {
          line.finish() // fix_text on the completed line
          lines += LineBuilder.from(span)
        } else {
          if (line.bbox.isZeroArea) line.bbox = span.bbox
          else line.bbox = line.bbox.merge(span.bbox)
          line.text.append(span.text)
          line.spans += span
        }
      }
    }
    lines.iterator.map(_.build).toVector
  }

  private final class LineBuilder(
      var text: java.lang.StringBuilder,
      var bbox: BBox,
      val rotation: Float,
      val spans: ArrayBuffer[CharSpan]
  ) {
    private var fixed: Option[String] = None
    def finish(): Unit = fixed = Some(FixText.fixText(text.toString))
    def build: Line =
      Line(fixed.getOrElse(text.toString), bbox, rotation, spans.toVector)
  }

  private object LineBuilder {
    def from(span: CharSpan): LineBuilder =
      new LineBuilder(new java.lang.StringBuilder(span.text), span.bbox,
        span.rotation, ArrayBuffer(span))
  }
}
