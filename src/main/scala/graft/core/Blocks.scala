package graft.core

import scala.collection.mutable.ArrayBuffer

/** G1: the Element→Block grouping automaton.
  *
  * Single in-order pass with one-element lookahead, re-derived from
  * /root/reference/ferrules-core/src/parse/merge.rs:198-439. Runs on the
  * document's full element list (cross-page). Shipped behaviors preserved:
  *  - one TextBlock per Text element (the adjacent-merge at merge.rs:219-231
  *    is commented out in the reference);
  *  - consecutive ListItems fold into one ListBlock, items trimmed
  *    (blocks.rs:70-79);
  *  - consecutive Header (resp. Footer) elements merge with bare string
  *    concat (blocks.rs:80-97);
  *  - Caption/FootNote runs concatenate space-joined, then pair with a
  *    following Image (bbox merged, pages_id from the image); an orphan
  *    caption becomes a TextBlock (merge.rs:257-319);
  *  - Image followed by Caption/FootNote gets it as its caption
  *    (merge.rs:320-374);
  *  - Title/Subtitle become Title blocks with the k-means level, default 0
  *    (merge.rs:417-432);
  *  - Table elements are silently skipped (merge.rs:433-435).
  */
object Blocks {

  def mergeElementsIntoBlocks(
      elements: IndexedSeq[Element],
      titleLevel: Map[(Int, Int), Int]
  ): Vector[Block] = {
    val blocks = ArrayBuffer.empty[Block]
    var blockId = 0
    var imageId = 0
    var i = 0
    val n = elements.length

    @inline def peek: Option[Element] = if (i < n) Some(elements(i)) else None

    while (i < n) {
      val curr = elements(i)
      i += 1
      curr.kind match {
        case ElementType.Text =>
          blocks += Block(blockId, BlockKind.TextBlock(curr.text),
            Vector(curr.pageId), curr.bbox)
          blockId += 1

        case ElementType.ListItem =>
          var bbox = curr.bbox
          val items = ArrayBuffer(curr.text)
          var done = false
          while (!done) peek match {
            case Some(next) if next.kind == ElementType.ListItem =>
              i += 1
              bbox = bbox.merge(next.bbox)
              items += next.text.trim // blocks.rs:73
            case _ => done = true
          }
          blocks += Block(blockId, BlockKind.ListBlock(items.toVector),
            Vector(curr.pageId), bbox)
          blockId += 1

        case ElementType.FootNote | ElementType.Caption =>
          // Fold forward: concatenate consecutive captions (space-joined),
          // then pair with a following Image, else decay to TextBlock.
          val text = new java.lang.StringBuilder(curr.text)
          var bbox = curr.bbox
          var done = false
          while (!done) peek match {
            case None =>
              blocks += Block(blockId, BlockKind.TextBlock(text.toString),
                Vector(curr.pageId), bbox)
              blockId += 1
              done = true
            case Some(next) =>
              next.kind match {
                case ElementType.FootNote | ElementType.Caption =>
                  text.append(' ').append(next.text) // append_line, entities.rs:139-142
                  i += 1
                case ElementType.Image =>
                  bbox = bbox.merge(next.bbox)
                  blocks += Block(blockId,
                    BlockKind.Image(imageId, Some(text.toString)),
                    Vector(next.pageId), bbox) // pages_id from the image, merge.rs:292
                  imageId += 1
                  blockId += 1
                  i += 1
                  done = true
                case _ =>
                  // orphan caption → TextBlock; follower NOT consumed
                  blocks += Block(blockId, BlockKind.TextBlock(text.toString),
                    Vector(curr.pageId), bbox)
                  blockId += 1
                  done = true
              }
          }

        case ElementType.Image =>
          peek match {
            case Some(next)
                if next.kind == ElementType.FootNote || next.kind == ElementType.Caption =>
              i += 1
              val merged = curr.bbox.merge(next.bbox)
              blocks += Block(blockId, BlockKind.Image(imageId, Some(next.text)),
                Vector(curr.pageId), merged)
              imageId += 1
              blockId += 1
            case _ =>
              blocks += Block(blockId, BlockKind.Image(imageId, None),
                Vector(curr.pageId), curr.bbox)
              imageId += 1
              blockId += 1
          }

        case ElementType.Header =>
          val text = new java.lang.StringBuilder(curr.text)
          var bbox = curr.bbox
          var done = false
          while (!done) peek match {
            case Some(next) if next.kind == ElementType.Header =>
              i += 1
              bbox = bbox.merge(next.bbox)
              text.append(next.text) // bare concat, blocks.rs:83
            case _ => done = true
          }
          blocks += Block(blockId, BlockKind.Header(text.toString), Vector(curr.pageId), bbox)
          blockId += 1

        case ElementType.Footer =>
          val text = new java.lang.StringBuilder(curr.text)
          var bbox = curr.bbox
          var done = false
          while (!done) peek match {
            case Some(next) if next.kind == ElementType.Footer =>
              i += 1
              bbox = bbox.merge(next.bbox)
              text.append(next.text) // bare concat, blocks.rs:92
            case _ => done = true
          }
          blocks += Block(blockId, BlockKind.Footer(text.toString), Vector(curr.pageId), bbox)
          blockId += 1

        case ElementType.Title | ElementType.Subtitle =>
          val lvl = titleLevel.getOrElse((curr.pageId, curr.id), 0)
          blocks += Block(blockId, BlockKind.Title(lvl, curr.text),
            Vector(curr.pageId), curr.bbox)
          blockId += 1

        case _ => // Table elements silently skipped (merge.rs:433-435)
      }
    }
    blocks.toVector
  }
}
