package graft.core

import java.util.regex.Pattern

/** Renderers: plain extracted text, HTML, Markdown.
  *
  * Contracts re-derived from /root/reference/ferrules-core/src/render/html.rs
  * and markdown.rs. The reference renders HTML via the build_html crate and
  * derives Markdown from that HTML via html2md; the rebuild renders both
  * directly from blocks with the same content rules, and the goldens pin the
  * exact output:
  *  - Title -> h{level clamped 1..6} (html.rs:45-53);
  *  - Header -> <header>, Footer -> <footer>;
  *  - ListBlock -> ul/li with the bullet-strip regex applied to each item
  *    (html.rs:10, first match only — Rust Regex::replace);
  *  - TextBlock -> <p>;
  *  - Image -> <figure>/<img>/<figcaption>, only when an image path is
  *    configured (html.rs:88-108);
  *  - Table and anything else -> skipped (html.rs:109-111).
  */
object Render {

  /** html.rs:10 — verbatim bullet pattern (prefix group + bullet + a space). */
  val ListBulletPattern: String = "(^|[\\n ]|<[^>]*>)[•●○ഠ ം◦■▪▫–—-]( )"
  private val listBulletRe: Pattern = Pattern.compile(ListBulletPattern)

  /** Strip the first bullet occurrence (Rust `Regex::replace` = first match). */
  def stripBullet(item: String): String =
    listBulletRe.matcher(item).replaceFirst("")

  /** utils.rs:43-56 — keep alnum/'-'/'_', drop whitespace, other -> '-'. */
  def sanitizeDocName(name: String): String = {
    val sb = new java.lang.StringBuilder(name.length)
    var from = 0 // start of the pending run of kept chars
    var i = 0
    while (i < name.length) {
      val c = name.charAt(i)
      if (!(c.isLetterOrDigit || c == '-' || c == '_')) {
        sb.append(name, from, i)
        if (!c.isWhitespace) sb.append('-')
        from = i + 1
      }
      i += 1
    }
    sb.append(name, from, name.length).toString
  }

  /** Plain extracted text: block texts in reading order, one block per line.
    * List items join with '\n'; image captions surface; Table blocks never
    * exist (Table elements are dropped in grouping). Empty blocks are
    * skipped. This is the byte-compared `extracted_text` column.
    */
  def toText(blocks: Seq[Block]): String = {
    val parts = blocks.iterator.flatMap { b =>
      b.kind match {
        case BlockKind.Title(_, t)   => if (t.nonEmpty) Some(t) else None
        case BlockKind.Header(t)     => if (t.nonEmpty) Some(t) else None
        case BlockKind.Footer(t)     => if (t.nonEmpty) Some(t) else None
        case BlockKind.TextBlock(t)  => if (t.nonEmpty) Some(t) else None
        case BlockKind.ListBlock(it) =>
          val s = it.map(stripBullet).mkString("\n")
          if (s.nonEmpty) Some(s) else None
        case BlockKind.Image(_, cap) => cap.filter(_.nonEmpty)
        case BlockKind.Table         => None
      }
    }
    parts.mkString("\n")
  }

  /** HTML page: div tree inside a minimal page shell (html.rs:31-126). */
  def toHtml(blocks: Seq[Block], pageTitle: String, imgSrcPath: Option[String]): String = {
    val sb = new StringBuilder
    sb ++= "<!DOCTYPE html><html><head><title>"
    sb ++= pageTitle
    sb ++= "</title></head><body><div>"
    blocks.foreach(renderBlockHtml(sb, _, imgSrcPath))
    sb ++= "</div></body></html>"
    sb.toString
  }

  private def renderBlockHtml(sb: StringBuilder, b: Block, imgSrcPath: Option[String]): Unit =
    b.kind match {
      case BlockKind.Title(level, text) =>
        val l = math.max(1, math.min(6, level)) // clamp 1..6, html.rs:45
        sb ++= s"<h$l>" ++= text ++= s"</h$l>"
      case BlockKind.Header(text) =>
        sb ++= "<header>" ++= text ++= "</header>"
      case BlockKind.Footer(text) =>
        sb ++= "<footer>" ++= text ++= "</footer>"
      case BlockKind.ListBlock(items) =>
        sb ++= "<ul>"
        items.foreach(it => sb ++= "<li>" ++= stripBullet(it) ++= "</li>")
        sb ++= "</ul>"
      case BlockKind.TextBlock(text) =>
        sb ++= "<p>" ++= text ++= "</p>"
      case BlockKind.Image(imageId, caption) =>
        // Rendered only when an image path is configured (html.rs:88-108).
        imgSrcPath.foreach { path =>
          sb ++= "<figure><img src=\"" ++= path ++= s"/img_$imageId.png" ++= "\" alt=\"\">"
          caption.foreach(c => sb ++= "<figcaption>" ++= c ++= "</figcaption>")
          sb ++= "</figure>"
        }
      case BlockKind.Table => // not implemented in the reference (html.rs:109-111)
    }

  /** Markdown rendered directly from blocks. The reference composes
    * markdown as html2md(toHtml(blocks)) (render/markdown.rs:14-42), so the
    * contract here is: toMarkdown(blocks, p) == htmlToMd(toHtml(blocks, p))
    * for the constrained HTML dialect toHtml emits — Html2MdDiffSpec pins
    * that equivalence over the whole golden corpus, and goldens pin the
    * bytes. In particular, when no image path is configured the HTML
    * renderer skips Image blocks entirely (html.rs:88-108), so markdown
    * must drop them too — captions and all (they stay in extracted_text,
    * a different contract).
    */
  def toMarkdown(blocks: Seq[Block], imgSrcPath: Option[String]): String = {
    val parts = blocks.iterator.flatMap { b =>
      b.kind match {
        case BlockKind.Title(level, text) =>
          val l = math.max(1, math.min(6, level))
          Some(("#" * l) + " " + text)
        case BlockKind.Header(text)    => if (text.nonEmpty) Some(text) else None
        case BlockKind.Footer(text)    => if (text.nonEmpty) Some(text) else None
        case BlockKind.TextBlock(text) => if (text.nonEmpty) Some(text) else None
        case BlockKind.ListBlock(items) =>
          Some(items.map(it => "* " + stripBullet(it)).mkString("\n"))
        case BlockKind.Image(imageId, caption) =>
          imgSrcPath.map { path =>
            val img = s"![]($path/img_$imageId.png)"
            caption.fold(img)(c => img + "\n" + c)
          }
        case BlockKind.Table => None
      }
    }
    parts.mkString("\n\n")
  }

  /** JSON for the blocks array, field-name-compatible with the reference's
    * serde output (tagged `block_type`, blocks.rs:36-37; bbox as f32 fields).
    */
  def blocksToJson(blocks: Seq[Block]): String = {
    val sb = new java.lang.StringBuilder
    sb.append('[')
    var first = true
    blocks.foreach { b =>
      if (!first) sb.append(',')
      first = false
      sb.append("{\"id\":").append(b.id)
      sb.append(",\"kind\":{\"block_type\":\"").append(b.kind.label).append('"')
      b.kind match {
        case BlockKind.Header(t)      => appendJsonStr(sb.append(",\"text\":"), t)
        case BlockKind.Footer(t)      => appendJsonStr(sb.append(",\"text\":"), t)
        case BlockKind.Title(lvl, t)  =>
          appendJsonStr(sb.append(",\"level\":").append(lvl).append(",\"text\":"), t)
        case BlockKind.ListBlock(its) =>
          sb.append(",\"items\":[")
          var i = 0
          while (i < its.length) {
            if (i > 0) sb.append(',')
            appendJsonStr(sb, its(i))
            i += 1
          }
          sb.append(']')
        case BlockKind.TextBlock(t)   => appendJsonStr(sb.append(",\"text\":"), t)
        case BlockKind.Image(iid, cap) =>
          sb.append(",\"id\":").append(iid).append(",\"caption\":")
          cap match {
            case Some(c) => appendJsonStr(sb, c)
            case None    => sb.append("null")
          }
        case BlockKind.Table          =>
      }
      sb.append('}')
      sb.append(",\"pages_id\":[").append(b.pagesId.mkString(",")).append(']')
      sb.append(",\"bbox\":{\"x0\":").append(java.lang.Float.toString(b.bbox.x0))
      sb.append(",\"y0\":").append(java.lang.Float.toString(b.bbox.y0))
      sb.append(",\"x1\":").append(java.lang.Float.toString(b.bbox.x1))
      sb.append(",\"y1\":").append(java.lang.Float.toString(b.bbox.y1))
      sb.append("}}")
    }
    sb.append(']').toString
  }

  private val HexDigits = "0123456789abcdef"

  /** Append `s` quoted and escaped: the runs between escapes are copied in
    * bulk; quote, backslash, newline, carriage return and tab get their
    * two-char escapes, the other chars below 0x20 a lowercase u00XX escape.
    */
  private[core] def appendJsonStr(sb: java.lang.StringBuilder, s: String): java.lang.StringBuilder = {
    sb.append('"')
    var from = 0 // start of the pending unescaped run
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < ' ' || c == '"' || c == '\\') {
        sb.append(s, from, i)
        c match {
          case '"'  => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case _    => sb.append("\\u00").append(HexDigits.charAt(c >> 4)).append(HexDigits.charAt(c & 0xf))
        }
        from = i + 1
      }
      i += 1
    }
    sb.append(s, from, s.length).append('"')
  }
}
