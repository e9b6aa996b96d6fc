package graft.core

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** J1-J4 + O1: the spatial-assignment core.
  *
  * Re-derived from /root/reference/ferrules-core/src/parse/merge.rs:11-196 and
  * /root/reference/ferrules-core/src/parse/page.rs:26-62. These run per page
  * over dozens of rows, so they are local folds inside the extraction
  * function — relationally J1 is a broadcast nested-loop theta-join +
  * argmax, but it must never shuffle.
  *
  * Tie-breaking is load-bearing: Rust's `Iterator::max_by` returns the LAST
  * maximal element while `min_by` returns the FIRST minimal one. Scala's
  * maxBy/minBy both return the first, so we use explicit folds.
  */
object Assign {

  /** merge.rs:15 — min intersection/line-area ratio for J1a acceptance. */
  val MinIntersectionLayout: Float = 0.5f
  /** merge.rs:20-21 — weighted center-distance weights (x favored 5:1). */
  val DistanceXWeight: Float = 5.0f
  val DistanceYWeight: Float = 1.0f
  /** merge.rs:27 — max weighted distance for J1b acceptance. */
  val MaxAssignmentDistance: Float = 20.0f
  /** page.rs:31 — native-line coverage below this ⇒ page needs OCR. */
  val MinLayoutCoverageThreshold: Float = 0.5f

  /** J2 — merge.rs:29-58: one output stream (headers, body or footers) and
    * its layout-box id -> element map. Element id quirk preserved verbatim:
    * the first element gets id 0, later ones `elements.len() + 1` (so id 1
    * is skipped and headers/body/footers each restart at 0 — ids are NOT
    * unique per page; the title-level map keys on them as-is).
    */
  private final class ElementStream(pageId: Int) {
    val elements = ArrayBuffer.empty[Element]
    private val byBox = mutable.LongMap.empty[Element]

    def mergeOrCreate(line: Line, box: LayoutBox): Unit = {
      val found = byBox.getOrNull(box.id.toLong)
      if (found != null) found.pushLine(line)
      else {
        val id = if (elements.isEmpty) 0 else elements.length + 1
        val el = Element.fromLayoutBlock(id, box, pageId)
        el.pushLine(line)
        elements += el
        byBox.update(box.id.toLong, el)
      }
    }
  }

  /** J1 + J3 — merge.rs:68-164. For each line (in reading order):
    *  (a) the layout box with max intersection, accepted if
    *      intersection / line.area > 0.5;
    *  (b) else the box with min weighted center distance, accepted if < 20;
    *  (c) else the line is dropped — this is exactly how the reference
    *      discards boilerplate: markup with no text-kind layout box fails
    *      both tests and its lines vanish.
    * Lines routed into header / body / footer streams by label; final order
    * is headers ++ body ++ footers (merge.rs:160-163).
    */
  def mergeLinesLayout(
      layoutBoxes: Seq[LayoutBox],
      lines: Seq[Line],
      pageId: Int
  ): Vector[Element] = {
    val headers = new ElementStream(pageId)
    val body = new ElementStream(pageId)
    val footers = new ElementStream(pageId)

    val boxes = layoutBoxes.toArray
    for (line <- lines) {
      // Hot loop (O(lines x boxes) per page): index loops, no closures.
      // Tie-breaks preserved: last max (Rust max_by), first min (min_by);
      // the distance fallback only runs when the intersection test fails
      // (both scores are pure, so this matches the reference's eager form).
      // A zero-area line (a linebreak-only line, say) skips the scan, since
      // it cannot pass the test: area == 0 needs finite coordinates (inf
      // times anything is inf or NaN), each axis overlap lies in
      // [0, max(0, extent)] or is NaN, and the product of those bounds is
      // 0, so every intersection is 0 or NaN and so is the ratio's NaN.
      var best: LayoutBox = null
      var bestV = Float.NegativeInfinity
      if (line.bbox.area != 0f) {
        var i = 0
        while (i < boxes.length) {
          val v = boxes(i).bbox.intersection(line.bbox)
          if (best == null || v >= bestV) { best = boxes(i); bestV = v }
          i += 1
        }
      }
      val maxIntersection =
        if (best != null && bestV / line.bbox.area > MinIntersectionLayout) best
        else null
      val matched: LayoutBox = if (maxIntersection != null) maxIntersection else {
        var bestD: LayoutBox = null
        var bestDV = Float.PositiveInfinity
        var j = 0
        while (j < boxes.length) {
          val d = boxes(j).bbox.distance(line.bbox, DistanceXWeight, DistanceYWeight)
          if (bestD == null || d < bestDV) { bestD = boxes(j); bestDV = d }
          j += 1
        }
        if (bestD != null && bestDV < MaxAssignmentDistance) bestD else null
      }
      if (matched != null) {
        matched.label match {
          case "Page-header" => headers.mergeOrCreate(line, matched)
          case "Page-footer" => footers.mergeOrCreate(line, matched)
          case _             => body.mergeOrCreate(line, matched)
        }
      } // else: line dropped (merge.rs:141-157, fallback commented out)
    }
    (headers.elements ++ body.elements ++ footers.elements).toVector
  }

  /** J4 — merge.rs:166-196. Layout boxes that received no line (Pictures,
    * Tables, empty boxes) are inserted *before* the element with min weighted
    * distance; empty element list ⇒ append. The new element's id is
    * `elements.length` at insert time.
    */
  def mergeRemaining(
      elements: ArrayBuffer[Element],
      remaining: Seq[LayoutBox],
      pageId: Int
  ): Unit =
    for (box <- remaining) {
      // first minimal element (Rust min_by); none -> append
      var insertAt = elements.length
      var bestV = Float.PositiveInfinity
      var i = 0
      while (i < elements.length) {
        val v = elements(i).bbox.distance(box.bbox, DistanceXWeight, DistanceYWeight)
        if (i == 0 || v < bestV) { insertAt = i; bestV = v }
        i += 1
      }
      elements.insert(insertAt, Element.fromLayoutBlock(elements.length, box, pageId))
    }

  /** O1 — page.rs:26-42. Zero text-layout area ⇒ needs OCR. */
  def pageNeedsOcr(textBoxes: Seq[LayoutBox], textLines: Seq[Line]): Boolean = {
    var lineArea = 0f
    for (l <- textLines) lineArea += l.bbox.area
    var boxArea = 0f
    for (b <- textBoxes) boxArea += b.bbox.area
    if (boxArea > 0f) lineArea / boxArea < MinLayoutCoverageThreshold else true
  }

  /** page.rs:44-62: J1-J3 then J4 over the boxes whose id never matched. */
  def buildPageElements(
      pageLayout: Seq[LayoutBox],
      textLines: Seq[Line],
      pageId: Int
  ): Vector[Element] = {
    val elements = ArrayBuffer.from(mergeLinesLayout(pageLayout, textLines, pageId))
    val mergedIds = elements.map(_.layoutBlockId).toSet
    val unmerged = pageLayout.filterNot(b => mergedIds.contains(b.id))
    mergeRemaining(elements, unmerged, pageId)
    elements.toVector
  }
}
