package graft.core

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** J1-J4 + O1 semantics (merge.rs:29-196, page.rs:26-62). */
class AssignSpec extends AnyFunSuite {

  private def line(text: String, bbox: BBox) =
    Line(text, bbox, 0f, Vector.empty)

  private def tbox(id: Int, bbox: BBox, label: String = "Text", p: Float = 0.9f) =
    LayoutBox(id, bbox, label, p)

  test("J1a: line assigned to max-intersection box when ratio > 0.5") {
    val boxes = Seq(
      tbox(0, BBox(0f, 0f, 100f, 50f)),
      tbox(1, BBox(0f, 60f, 100f, 110f))
    )
    val l = line("hello", BBox(10f, 10f, 90f, 22f)) // inside box 0
    val els = Assign.mergeLinesLayout(boxes, Seq(l), 0)
    assert(els.length == 1)
    assert(els.head.layoutBlockId == 0)
    assert(els.head.text == "hello")
  }

  test("J1b: distance fallback accepts only under 20 weighted") {
    // Line fully outside both boxes; nearest center must be < 20 (5x/1y weighted).
    val boxes = Seq(tbox(0, BBox(0f, 0f, 10f, 10f)))
    val near = line("near", BBox(0f, 10f, 10f, 14f)) // center (5,12) vs (5,5): dy=7 -> 49 >= 20
    assert(Assign.mergeLinesLayout(boxes, Seq(near), 0).isEmpty)
    val close = line("close", BBox(0f, 6f, 10f, 10f)) // center (5,8) vs (5,5): dy=3 -> 9 < 20
    // but intersection: overlap 10x4 region y 6..10 = 40; line area 40 -> ratio 1 > 0.5 -> J1a
    assert(Assign.mergeLinesLayout(boxes, Seq(close), 0).nonEmpty)
    // zero-overlap but close center: line y 10..16 center y 13 dy=8 -> 64: dropped;
    // craft x-offset case: box x 0..10, line x 8..16 y 2..8 -> overlap-x 2, ratio 2*6/(8*6)=0.25
    // centers: (5,5) vs (12,5): dx=7 -> 245: dropped
    val side = line("side", BBox(8f, 2f, 16f, 8f))
    assert(Assign.mergeLinesLayout(boxes, Seq(side), 0).isEmpty)
    // ratio exactly 0.5 is NOT accepted (strict >), distance decides:
    // line x 6..14 y 0..10: overlap-x 4 -> 40/80 = 0.5; centers (10,5) vs (5,5) dx=5 -> 125: dropped
    val half = line("half", BBox(6f, 0f, 14f, 10f))
    assert(Assign.mergeLinesLayout(boxes, Seq(half), 0).isEmpty)
    // accepted distance fallback: line x 1.5..4.5 y 0..10 vs box... overlap ratio:
    // fully inside -> 1.0 -> J1a. Use disjoint-y: line y 10..10.5 x 4..6,
    // center (5,10.25) vs (5,5) dy=5.25 -> 27.5: still dropped. True J1b hit:
    // line y 9.8..10.6 x 4.4..5.6 center (5,10.2): overlap y 0.2 -> ratio
    // (1.2*0.2)/(1.2*0.8)=0.25 <= 0.5; distance dy=5.2^2=27: no. Shrink: line
    // y 9..12 center y 10.5: overlap 1*1.2=1.2 area 3.6 ratio 0.33; dy 5.5 -> 30.25 no.
    // The 20-threshold is genuinely tight: y-distance must be < ~4.5.
    // line y 5..13 center y 9, dy=4 -> 16 < 20; overlap y 5..10 =5 of 8 = 0.625 > 0.5 -> J1a.
    // line y 5.5..13.5 center 9.5 dy 4.5 -> 20.25 dropped; overlap 4.5/8 = 0.5625 -> J1a wins first.
    // Conclusion: with full x-overlap J1a wins; J1b fires for skinny x-offsets:
    // box x 0..10 y 0..10; line x 10..12 y 4..6: ratio 0; center (11,5) dx=6*... dx=6 -> 180 no.
    // line x 9.2..11.2 y 4..6: overlap-x 0.8 -> 1.6/4 = 0.4; center x 10.2 dx 5.2*5... 135 no.
    ()
  }

  test("J1b positive: zero-area line assigned by distance") {
    // A zero-area line (the spurious linebreak line) sitting near a box center.
    val boxes = Seq(tbox(0, BBox(0f, 0f, 10f, 10f)))
    val nl = line("\n", BBox(5f, 6f, 5f, 6f)) // center (5,6): d = 0*5 + 1*1 = 1 < 20
    val els = Assign.mergeLinesLayout(boxes, Seq(nl), 0)
    assert(els.length == 1 && els.head.text == "\n")
  }

  test("J1c: unassignable lines are dropped (boilerplate strip)") {
    val boxes = Seq(tbox(0, BBox(0f, 0f, 10f, 10f)))
    val farLine = line("ad banner", BBox(200f, 200f, 300f, 212f))
    assert(Assign.mergeLinesLayout(boxes, Seq(farLine), 0).isEmpty)
  }

  test("tie-break: equal intersections pick the LAST box (Rust max_by)") {
    // Line not overlapping anything: all intersections 0 (ties) -> last box,
    // then ratio 0 fails, distance path picks FIRST min (Rust min_by).
    val boxes = Seq(
      tbox(0, BBox(0f, 0f, 10f, 10f)),
      tbox(1, BBox(0f, 0f, 10f, 10f)) // identical
    )
    val l = line("x", BBox(2f, 2f, 8f, 8f)) // ratio 1 for both, tie -> LAST (id 1)
    val els = Assign.mergeLinesLayout(boxes, Seq(l), 0)
    assert(els.head.layoutBlockId == 1)
  }

  test("J2 id quirk: first element 0, second len+1 (id 1 skipped)") {
    val boxes = Seq(
      tbox(0, BBox(0f, 0f, 100f, 10f)),
      tbox(1, BBox(0f, 20f, 100f, 30f)),
      tbox(2, BBox(0f, 40f, 100f, 50f))
    )
    val lines = Seq(
      line("a", BBox(0f, 0f, 100f, 10f)),
      line("b", BBox(0f, 20f, 100f, 30f)),
      line("c", BBox(0f, 40f, 100f, 50f))
    )
    val els = Assign.mergeLinesLayout(boxes, lines, 0)
    assert(els.map(_.id) == Vector(0, 2, 3))
  }

  test("J2: lines with the same layout box merge into one element, space-joined") {
    val boxes = Seq(tbox(5, BBox(0f, 0f, 100f, 30f)))
    val lines = Seq(
      line("first line", BBox(0f, 0f, 100f, 12f)),
      line("second line", BBox(0f, 15f, 100f, 27f))
    )
    val els = Assign.mergeLinesLayout(boxes, lines, 0)
    assert(els.length == 1)
    assert(els.head.text == "first line second line")
  }

  test("J3: reading order headers ++ body ++ footers (merge.rs:160-163)") {
    val boxes = Seq(
      tbox(0, BBox(0f, 700f, 100f, 710f), "Page-footer"),
      tbox(1, BBox(0f, 100f, 100f, 110f), "Text"),
      tbox(2, BBox(0f, 10f, 100f, 20f), "Page-header")
    )
    val lines = Seq(
      line("foot", BBox(0f, 700f, 100f, 710f)),
      line("body", BBox(0f, 100f, 100f, 110f)),
      line("head", BBox(0f, 10f, 100f, 20f))
    )
    val els = Assign.mergeLinesLayout(boxes, lines, 0)
    assert(els.map(_.text) == Vector("head", "body", "foot"))
    assert(els.map(_.kind) ==
      Vector(ElementType.Header, ElementType.Text, ElementType.Footer))
  }

  test("J4: unmatched boxes inserted before argmin-distance element") {
    val boxes = Seq(
      tbox(0, BBox(0f, 0f, 100f, 10f), "Text"),
      tbox(1, BBox(0f, 500f, 100f, 510f), "Text"),
      tbox(2, BBox(0f, 490f, 100f, 498f), "Picture") // near box 1
    )
    val lines = Seq(
      line("top", BBox(0f, 0f, 100f, 10f)),
      line("bottom", BBox(0f, 500f, 100f, 510f))
    )
    val els = Assign.buildPageElements(boxes, lines, 0)
    assert(els.length == 3)
    assert(els.map(_.kind) ==
      Vector(ElementType.Text, ElementType.Image, ElementType.Text))
    assert(els(1).id == 2) // id = elements.len() at insert time
  }

  test("J4: empty element list appends") {
    val els = ArrayBuffer.empty[Element]
    Assign.mergeRemaining(els, Seq(tbox(0, BBox(0f, 0f, 10f, 10f), "Picture")), 0)
    assert(els.length == 1 && els.head.id == 0)
  }

  test("O1: needs-OCR predicate (page.rs:26-42)") {
    val box = tbox(0, BBox(0f, 0f, 100f, 100f)) // area 10000
    val bigLine = line("x", BBox(0f, 0f, 100f, 60f)) // area 6000 -> ratio 0.6
    assert(!Assign.pageNeedsOcr(Seq(box), Seq(bigLine)))
    val smallLine = line("x", BBox(0f, 0f, 100f, 40f)) // 4000 -> 0.4 < 0.5
    assert(Assign.pageNeedsOcr(Seq(box), Seq(smallLine)))
    // zero text-layout area -> always true
    assert(Assign.pageNeedsOcr(Seq.empty, Seq(bigLine)))
  }

  /** The box J1 matched `line` to by the loop before zero-area lines
    * skipped the intersection scan, or null when the line is dropped.
    */
  private def referenceMatch(boxes: Seq[LayoutBox], line: Line): LayoutBox = {
    var best: LayoutBox = null
    var bestV = Float.NegativeInfinity
    for (b <- boxes) {
      val v = b.bbox.intersection(line.bbox)
      if (best == null || v >= bestV) { best = b; bestV = v }
    }
    if (best != null && bestV / line.bbox.area > Assign.MinIntersectionLayout) best
    else {
      var bestD: LayoutBox = null
      var bestDV = Float.PositiveInfinity
      for (b <- boxes) {
        val d = b.bbox.distance(line.bbox, Assign.DistanceXWeight, Assign.DistanceYWeight)
        if (bestD == null || d < bestDV) { bestD = b; bestDV = d }
      }
      if (bestD != null && bestDV < Assign.MaxAssignmentDistance) bestD else null
    }
  }

  /** mergeLinesLayout matches every line as [[referenceMatch]] does. */
  private def assertSameMatches(boxes: Seq[LayoutBox], lines: Seq[Line], what: String): Unit =
    for (l <- lines) {
      val got = Assign.mergeLinesLayout(boxes, Seq(l), 0)
        .map(e => (e.layoutBlockId, e.kind, e.bbox.toString))
      val want = Option(referenceMatch(boxes, l)).toVector
        .map(b => (b.id, ElementType.fromLayoutLabel(b.label), b.bbox.toString))
      assert(got == want, s"$what: line ${l.bbox}")
    }

  test("J1: zero-area lines skip the intersection scan; matches are unchanged") {
    import graft.spark.PagesTable
    var zeroArea = 0
    for (family <- PagesTable.Families :+ PagesTable.OcrFamily; i <- 0L until 12L) {
      val doc = PagesTable.genDocFamily(family, i)
      for (p <- HtmlFront.layoutDocument(new String(doc.html, "UTF-8"))) {
        val boxes = Nms.nms(p.boxes)
        val lines = Tokenize.parseTextLines(p.spans) ++ p.ocrLines
        zeroArea += lines.count(_.bbox.area == 0f)
        assertSameMatches(boxes, lines, doc.url)
      }
    }
    assert(zeroArea > 0, "no zero-area line in any family")
    // degenerate geometry: NaN and infinite coordinates, negative extents,
    // an area that underflows to 0, on boxes that are degenerate too
    val nan = Float.NaN
    val inf = Float.PositiveInfinity
    val tiny = java.lang.Float.MIN_VALUE
    val coords = Seq(
      BBox(10f, 10f, 10f, 20f), BBox(10f, 10f, 20f, 10f), BBox(0f, 0f, 0f, 0f),
      BBox(20f, 10f, 10f, 10f), BBox(10f, 20f, 20f, 20f), BBox(5f, 5f, 5f + tiny, 5f + tiny),
      BBox(nan, 0f, 10f, 10f), BBox(0f, 0f, 10f, nan), BBox(0f, 0f, inf, 10f),
      BBox(-inf, 0f, inf, 10f), BBox(0f, 0f, inf, 0f), BBox(inf, inf, inf, inf),
      BBox(-inf, 5f, -inf, 5f), BBox(0f, 0f, 10f, 10f), BBox(2f, 2f, 4f, 3f))
    val boxes = coords.zipWithIndex.map { case (b, id) => tbox(id, b) }
    val lines = coords.map(b => line("x", b))
    assertSameMatches(boxes, lines, "degenerate")
    assertSameMatches(boxes.reverse, lines, "degenerate, reversed")
  }
}
