package graft.core

/** Axis-aligned bounding box, top-left origin, f32 arithmetic.
  *
  * Semantics re-derived from the reference's geometry algebra
  * (/root/reference/ferrules-core/src/entities.rs:14-125). All math stays in
  * `Float` on purpose: the reference is f32 end-to-end and the extraction
  * goldens depend on exact IEEE-754 single-precision results.
  */
final case class BBox(x0: Float, y0: Float, x1: Float, y1: Float) {

  @inline def width: Float = x1 - x0
  @inline def height: Float = y1 - y0
  @inline def area: Float = height * width

  /** (cx, cy) — entities.rs:41-46. */
  @inline def center: (Float, Float) = (x0 + width / 2f, y0 + height / 2f)

  /** Union-expand — entities.rs:66-71 (`merge`). Immutable: returns new box. */
  @inline def merge(other: BBox): BBox =
    BBox(
      math.min(x0, other.x0),
      math.min(y0, other.y0),
      math.max(x1, other.x1),
      math.max(y1, other.y1)
    )

  @inline def overlapX(other: BBox): Float =
    math.max(0f, math.min(x1, other.x1) - math.max(x0, other.x0))

  @inline def overlapY(other: BBox): Float =
    math.max(0f, math.min(y1, other.y1) - math.max(y0, other.y0))

  /** entities.rs:87-90. */
  @inline def contains(other: BBox): Boolean =
    other.x0 >= x0 && other.y0 >= y0 && other.x1 <= x1 && other.y1 <= y1

  /** Intersection area — entities.rs:104-107. */
  @inline def intersection(other: BBox): Float = overlapX(other) * overlapY(other)

  /** Union area — entities.rs:109-112. */
  @inline def union(other: BBox): Float = other.area + area - intersection(other)

  /** intersection / min-area ("relaxed" IoU) — entities.rs:92-97. */
  @inline def relaxedIou(other: BBox): Float = {
    val a = intersection(other)
    val b = math.min(area, other.area)
    a / b
  }

  /** Classic IoU — entities.rs:99-102. */
  @inline def iou(other: BBox): Float = intersection(other) / union(other)

  /** Weighted squared center distance — entities.rs:114-120. The centers
    * are computed inline, in the same f32 steps as [[center]], without its
    * tuple: this runs for every box against every line that misses the
    * intersection test.
    */
  @inline def distance(other: BBox, xWeight: Float, yWeight: Float): Float = {
    val dx = (x0 + width / 2f) - (other.x0 + other.width / 2f)
    val dy = (y0 + height / 2f) - (other.y0 + other.height / 2f)
    dx * dx * xWeight + dy * dy * yWeight
  }

  @inline def isZeroArea: Boolean = height == 0f || width == 0f
}

object BBox {
  val zero: BBox = BBox(0f, 0f, 0f, 0f)
}
