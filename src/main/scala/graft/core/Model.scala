package graft.core

/** Core entity model of the extraction pipeline.
  *
  * Shapes re-derived from the reference's entity tree
  * (/root/reference/ferrules-core/src/entities.rs,
  * /root/reference/ferrules-core/src/blocks.rs,
  * /root/reference/ferrules-core/src/layout/model.rs:84-104), expressed as
  * idiomatic Scala ADTs. All geometry is f32 (see [[BBox]]).
  */

/** One positioned character as produced by the front-end (the stand-in for a
  * pdfium `PdfPageTextChar`). `tight` bounds seed a span's bbox; `loose`
  * bounds are merged on append (entities.rs:265-300 uses tight for the first
  * char, loose for appended chars).
  */
final case class PChar(
    text: String, // usually a single char; surrogate pairs allowed
    fontName: String,
    fontSize: Float,
    fontWeight: Int, // stand-in for Option<PdfFontWeight>; -1 = none
    rotation: Float,
    tight: BBox,
    loose: BBox,
    index: Int
)

/** Run of chars with identical (fontSize, fontName, fontWeight, rotation) —
  * entities.rs:253-263.
  */
final case class CharSpan(
    bbox: BBox,
    text: String,
    rotation: Float,
    fontName: String,
    fontSize: Float,
    fontWeight: Int,
    charStartIdx: Int,
    charEndIdx: Int
)

/** A text line: spans accumulated until a break fires — entities.rs:302-363. */
final case class Line(
    text: String,
    bbox: BBox,
    rotation: Float,
    spans: Vector[CharSpan]
)

/** Layout-detected region, one of the 11 DocLayNet labels
  * (layout/model.rs:69-81). `id` identifies the box within its page.
  */
final case class LayoutBox(id: Int, bbox: BBox, label: String, proba: Float) {

  /** All labels except Picture/Table — layout/model.rs:92-104. */
  def isTextBlock: Boolean = label match {
    case "Text" | "Caption" | "Footnote" | "Formula" | "List-item" |
        "Page-footer" | "Page-header" | "Section-header" | "Title" =>
      true
    case _ => false
  }
}

object LayoutLabels {
  /** DocLayNet class list, verbatim order — layout/model.rs:69-81. */
  val Id2Label: IndexedSeq[String] = Vector(
    "Caption", "Footnote", "Formula", "List-item", "Page-footer",
    "Page-header", "Picture", "Section-header", "Table", "Text", "Title"
  )
}

/** Element kinds — entities.rs:145-158. */
sealed abstract class ElementType(val tag: String)
object ElementType {
  case object Header extends ElementType("Header")
  case object FootNote extends ElementType("FootNote")
  case object Footer extends ElementType("Footer")
  case object Text extends ElementType("Text")
  case object Title extends ElementType("Title")
  case object Subtitle extends ElementType("Subtitle")
  case object ListItem extends ElementType("ListItem")
  case object Caption extends ElementType("Caption")
  case object Image extends ElementType("Image")
  case object Table extends ElementType("Table")

  /** Label→kind map — entities.rs:171-195 (`Element::from_layout_block`).
    * Formula maps to Text; Section-header to Subtitle.
    */
  def fromLayoutLabel(label: String): ElementType = label match {
    case "Caption"           => Caption
    case "Formula" | "Text"  => Text
    case "List-item"         => ListItem
    case "Footnote"          => FootNote
    case "Page-footer"       => Footer
    case "Page-header"       => Header
    case "Title"             => Title
    case "Section-header"    => Subtitle
    case "Table"             => Table
    case "Picture"           => Image
    case other => throw new IllegalArgumentException(s"unknown layout label: $other")
  }
}

/** Mutable element builder mirroring the reference's in-place accumulation
  * (entities.rs:160-203). Text join rule: first line raw, later lines with a
  * single space (entities.rs:132-143). Later lines append to a builder, so a
  * paragraph of n lines costs O(text) instead of n string copies.
  */
final class Element(
    val id: Int,
    val layoutBlockId: Int,
    val kind: ElementType,
    val pageId: Int,
    text0: String,
    var bbox: BBox
) {
  private var joined: String = text0
  private var more: java.lang.StringBuilder = null // set from the second line on

  def text: String = {
    if (more != null && more.length != joined.length) joined = more.toString
    joined
  }

  def pushLine(line: Line): Unit =
    if (more == null && joined.isEmpty) joined = line.text
    else {
      if (more == null) more = new java.lang.StringBuilder(joined)
      more.append(' ').append(line.text)
    }

  override def toString: String =
    s"Element($id, $layoutBlockId, $kind, p$pageId, '$text', $bbox)"
}

object Element {
  /** entities.rs:171-195. */
  def fromLayoutBlock(id: Int, box: LayoutBox, pageId: Int): Element =
    new Element(id, box.id, ElementType.fromLayoutLabel(box.label), pageId, "", box.bbox)
}

/** Block kinds — blocks.rs:35-45. Table is a unit variant (tables are
  * unimplemented in the reference and Table elements are dropped during
  * grouping, merge.rs:433-435).
  */
sealed trait BlockKind { def label: String }
object BlockKind {
  final case class Header(text: String) extends BlockKind { def label = "Header" }
  final case class Footer(text: String) extends BlockKind { def label = "Footer" }
  final case class Title(level: Int, text: String) extends BlockKind { def label = "Title" }
  final case class ListBlock(items: Vector[String]) extends BlockKind { def label = "ListBlock" }
  final case class TextBlock(text: String) extends BlockKind { def label = "TextBlock" }
  final case class Image(imageId: Int, caption: Option[String]) extends BlockKind { def label = "Image" }
  case object Table extends BlockKind { def label = "Table" }
}

/** blocks.rs:47-53. */
final case class Block(id: Int, kind: BlockKind, pagesId: Vector[Int], bbox: BBox)

/** Per-page intermediate result (entities.rs:205-214, minus the raster). */
final case class StructuredPage(
    id: Int,
    width: Float,
    height: Float,
    needOcr: Boolean,
    elements: Vector[Element]
)
