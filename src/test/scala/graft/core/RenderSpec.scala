package graft.core

import org.scalatest.funsuite.AnyFunSuite

class RenderSpec extends AnyFunSuite {

  val blocks = Vector(
    Block(0, BlockKind.Title(1, "Doc Title"), Vector(0), BBox(0f, 0f, 1f, 1f)),
    Block(1, BlockKind.Header("Page Head"), Vector(0), BBox(0f, 0f, 1f, 1f)),
    Block(2, BlockKind.TextBlock("Body text."), Vector(0), BBox(0f, 0f, 1f, 1f)),
    Block(3, BlockKind.ListBlock(Vector("• one", "two")), Vector(0), BBox(0f, 0f, 1f, 1f)),
    Block(4, BlockKind.Image(0, Some("A caption")), Vector(0), BBox(0f, 0f, 1f, 1f)),
    Block(5, BlockKind.Footer("p 1"), Vector(0), BBox(0f, 0f, 1f, 1f))
  )

  test("bullet strip removes first bullet occurrence only (Rust Regex::replace)") {
    assert(Render.stripBullet("• item") == "item")
    assert(Render.stripBullet("– dash item") == "dash item")
    // second bullet survives (single replacement)
    assert(Render.stripBullet("• a • b") == "a • b")
    // bullet must be followed by a space and preceded by ^, [\n ], or a tag
    assert(Render.stripBullet("a•b") == "a•b")
    assert(Render.stripBullet("x • y") == "xy") // prefix space consumed too
  }

  test("title level clamped 1..6 (html.rs:45-53)") {
    val t0 = Vector(Block(0, BlockKind.Title(0, "T"), Vector(0), BBox.zero))
    val t9 = Vector(Block(0, BlockKind.Title(9, "T"), Vector(0), BBox.zero))
    assert(Render.toHtml(t0, "x", None).contains("<h1>T</h1>"))
    assert(Render.toHtml(t9, "x", None).contains("<h6>T</h6>"))
  }

  test("html structure") {
    val html = Render.toHtml(blocks, "mydoc", None)
    assert(html.startsWith("<!DOCTYPE html><html><head><title>mydoc</title></head><body><div>"))
    assert(html.contains("<h1>Doc Title</h1>"))
    assert(html.contains("<header>Page Head</header>"))
    assert(html.contains("<p>Body text.</p>"))
    assert(html.contains("<ul><li>one</li><li>two</li></ul>"))
    assert(html.contains("<footer>p 1</footer>"))
    // image rendered only when img path configured (html.rs:88-108)
    assert(!html.contains("<figure>"))
    val withImg = Render.toHtml(blocks, "mydoc", Some("figures"))
    assert(withImg.contains("<figure><img src=\"figures/img_0.png\" alt=\"\">"))
    assert(withImg.contains("<figcaption>A caption</figcaption>"))
  }

  test("markdown render") {
    val md = Render.toMarkdown(blocks, None)
    assert(md.contains("# Doc Title"))
    assert(md.contains("* one\n* two"))
    assert(md.contains("Body text."))
    // reference semantics: with no img path the HTML renderer skips Image
    // blocks entirely (html.rs:88-108) and markdown = html2md(html), so the
    // caption must NOT leak into markdown (it stays in extracted_text)
    assert(!md.contains("A caption"))
    val withImg = Render.toMarkdown(blocks, Some("figures"))
    assert(withImg.contains("![](figures/img_0.png)\nA caption"))
  }

  test("extracted text includes list items and captions, skips empties") {
    val txt = Render.toText(blocks)
    assert(txt == "Doc Title\nPage Head\nBody text.\none\ntwo\nA caption\np 1")
  }

  test("sanitize doc name (utils.rs:43-56)") {
    assert(Render.sanitizeDocName("my doc.pdf") == "mydoc-pdf")
    assert(Render.sanitizeDocName("a_b-c") == "a_b-c")
    assert(Render.sanitizeDocName("x/y:z") == "x-y-z")
    // bulk-copied runs of kept chars: same as the per-char form
    def perChar(name: String) = name.flatMap { c =>
      if (c.isLetterOrDigit || c == '-' || c == '_') c.toString
      else if (c.isWhitespace) "" else "-"
    }
    Seq("", "https://fixtures.test/skew/42/7", "  a \t b\n", "é 𝔸😀_x-y", "...")
      .foreach(n => assert(Render.sanitizeDocName(n) == perChar(n), n))
  }

  test("blocks json is valid and tagged") {
    val json = Render.blocksToJson(blocks)
    assert(json.startsWith("[{\"id\":0"))
    assert(json.contains("\"block_type\":\"Title\""))
    assert(json.contains("\"level\":1"))
    assert(json.contains("\"items\":["))
    assert(json.contains("\"pages_id\":[0]"))
    assert(json.contains("\"caption\":\"A caption\""))
  }

  test("fixText: mojibake undo + NFC + line breaks") {
    assert(FixText.fixText("cafÃ©") == "café") // "cafÃ©" -> café
    assert(FixText.fixText("plain ascii") == "plain ascii")
    assert(FixText.fixText("a\r\nb") == "a\nb")
    // already-correct accents survive (not valid UTF-8 when read as Latin-1)
    assert(FixText.fixText("café") == "café")
    // e + combining acute (decomposed) -> NFC precomposed e-acute
    assert(FixText.fixText("cafe\u0301") == "caf\u00e9")
  }

  test("fixText: double and triple UTF-8 mojibake unwind to a fixpoint") {
    def damage(s: String): String = new String(
      s.getBytes("UTF-8"), java.nio.charset.StandardCharsets.ISO_8859_1)
    val single = damage("caf\u00e9")
    assert(single == "caf\u00c3\u00a9")
    val double = damage(single)
    val triple = damage(double)
    assert(FixText.fixText(double) == "caf\u00e9")
    assert(FixText.fixText(triple) == "caf\u00e9")
    assert(FixText.fixText(damage("se\u00f1or na\u00efve \u00fcber")) == "se\u00f1or na\u00efve \u00fcber")
    assert(FixText.fixText(damage(damage("se\u00f1or na\u00efve \u00fcber"))) == "se\u00f1or na\u00efve \u00fcber")
    // idempotence: fixed text is a fixpoint of the fixer
    assert(FixText.fixText(FixText.fixText(double)) == FixText.fixText(double))
  }

  test("fixText: HTML-entity damage decodes; lookalikes survive") {
    // numeric decimal / hex, named (latin-1 table + typographic + core)
    assert(FixText.fixText("caf&#233;") == "café")
    assert(FixText.fixText("&#xE9;cole") == "école")
    assert(FixText.fixText("caf&eacute;s") == "cafés")
    assert(FixText.fixText("se&ntilde;or") == "señor")
    assert(FixText.fixText("em&mdash;dash") == "em—dash")
    assert(FixText.fixText("R&amp;D") == "R&D")
    assert(FixText.fixText("&lt;tag&gt;") == "<tag>")
    assert(FixText.fixText("&euro;9&nbsp;now") == "€9 now")
    // double-escape unwinds through the fixpoint rounds
    assert(FixText.fixText("&amp;eacute;clair") == "éclair")
    assert(FixText.fixText("&amp;#233;tude") == "étude")
    assert(FixText.fixText("&amp;amp;eacute;") == "é")
    // NOT entities: unknown name, bare text, invalid numerics, surrogates
    assert(FixText.fixText("AT&T; up") == "AT&T; up")
    assert(FixText.fixText("&unknown; x") == "&unknown; x")
    assert(FixText.fixText("a & b") == "a & b")
    assert(FixText.fixText("&#;") == "&#;")
    assert(FixText.fixText("&#xD800;") == "&#xD800;")
    assert(FixText.fixText("&#99999999;") == "&#99999999;")
    // entity whose decoded text is itself mojibake: both repairs compose
    assert(FixText.fixText("caf&Atilde;&copy;") == "café")
    // idempotent on decoded output
    assert(FixText.fixText(FixText.fixText("&amp;amp;eacute;")) ==
      FixText.fixText("&amp;amp;eacute;"))
    // WHATWG C1 remap: 0x80-0x9F numeric refs were cp1252 bytes in the
    // authoring tool — browsers and html.unescape decode them through the
    // cp1252 graphics row, not to C1 controls
    assert(FixText.fixText("&#147;quoted&#148;") == "“quoted”")
    assert(FixText.fixText("wait&#133;") == "wait…")
    assert(FixText.fixText("&#x97;") == "—") // hex form too
    assert(FixText.fixText("&#128;5") == "€5")
    // the five cp1252-undefined slots stay as their C1 chars, per spec
    assert(FixText.fixText("&#129;") == "\u0081")
    // double-escaped C1 ref unwinds through the fixpoint
    assert(FixText.fixText("&amp;#147;x") == "“x")
  }

  test("fixText: cp1252 curly-quote/euro mojibake undo (not Latin-1-reachable)") {
    // sloppy-cp1252 forward decode (ftfy's codec, what lenient real-world
    // decoders do): the five undefined bytes become their C1 controls
    // instead of U+FFFD — Java's strict Charset would destroy them
    val fwd = ("\u20ac\u0081\u201a\u0192\u201e\u2026\u2020\u2021" +
      "\u02c6\u2030\u0160\u2039\u0152\u008d\u017d\u008f" +
      "\u0090\u2018\u2019\u201c\u201d\u2022\u2013\u2014" +
      "\u02dc\u2122\u0161\u203a\u0153\u009d\u017e\u0178")
    def damage1252(s: String): String =
      s.getBytes("UTF-8").map { b =>
        val u = b & 0xff
        if (u >= 0x80 && u <= 0x9f) fwd.charAt(u - 0x80) else u.toChar
      }.mkString
    // the classic crawl shapes: ’ “ ” – — … € damaged once and twice
    for (orig <- Seq("it’s", "“quoted”", "a – b — c",
        "wait…", "€99", "a™ mark")) {
      assert(FixText.fixText(damage1252(orig)) == orig, orig)
      assert(FixText.fixText(damage1252(damage1252(orig))) == orig, s"double $orig")
    }
    assert(FixText.fixText("â€™") == "’")
    // already-correct typographic text is never touched
    for (ok <- Seq("it’s fine", "€50", "café — bar"))
      assert(FixText.fixText(ok) == ok, ok)
    // mixed damage: entity + cp1252 rounds compose
    assert(FixText.fixText("&amp;euro;") == "€")
    // MIXED lines (was the documented subset limit, now fixed): correct
    // typographic chars fail the whole-string guard, but the segment
    // fallback decodes just the UTF-8-shaped run in place
    assert(FixText.fixText(damage1252("it’s") + " &#8217;") == "it’s ’")
  }

  test("fixText: segment fallback repairs mixed lines, never clean ones") {
    val fwd = ("\u20ac\u0081\u201a\u0192\u201e\u2026\u2020\u2021" +
      "\u02c6\u2030\u0160\u2039\u0152\u008d\u017d\u008f" +
      "\u0090\u2018\u2019\u201c\u201d\u2022\u2013\u2014" +
      "\u02dc\u2122\u0161\u203a\u0153\u009d\u017e\u0178")
    def damage1252(s: String): String =
      s.getBytes("UTF-8").map { b =>
        val u = b & 0xff
        if (u >= 0x80 && u <= 0x9f) fwd.charAt(u - 0x80) else u.toChar
      }.mkString
    // clean standalone é shields the damage from BOTH whole-string undos;
    // the segment decoder fixes the run and leaves the é alone
    assert(FixText.fixText("café " + damage1252("’quoted’")) == "café ’quoted’")
    // damage at line start and end, clean unicode in between
    assert(FixText.fixText(damage1252("“") + "é mid é" + damage1252("”")) ==
      "“é mid é”")
    // two separate damaged segments on one line
    assert(FixText.fixText("é " + damage1252("naïve") + " é " +
      damage1252("€9")) == "é naïve é €9")
    // double-encoded segment inside a line a clean é keeps undecodable
    // whole-string: two fixpoint rounds through the segment path
    assert(FixText.fixText("é " + damage1252(damage1252("’"))) == "é ’")
    // lead-shaped char NOT followed by continuations stays (no false fire)
    for (ok <- Seq("Ã test", "é fin", "Ärger Ökonomie", "¿Cómo?"))
      assert(FixText.fixText(ok) == ok, ok)
    // a run that byte-maps to invalid UTF-8 (overlong/surrogate shapes
    // can't form here; an incomplete trailing lead) is left byte-for-byte
    assert(FixText.fixText("é Ã") == "é Ã")
    // idempotence: fixing twice equals fixing once
    val once = FixText.fixText("café " + damage1252("’x”") + " é")
    assert(FixText.fixText(once) == once)
  }

  /** The per-char `jsonStr` that `Render` used to run: the bulk-append form
    * must produce exactly these bytes.
    */
  private def perCharJsonStr(s: String): String = {
    val sb = new StringBuilder
    sb += '"'
    s.foreach {
      case '"'           => sb ++= "\\\""
      case '\\'          => sb ++= "\\\\"
      case '\n'          => sb ++= "\\n"
      case '\r'          => sb ++= "\\r"
      case '\t'          => sb ++= "\\t"
      case c if c < ' '  => sb ++= f"\\u${c.toInt}%04x"
      case c             => sb += c
    }
    sb += '"'
    sb.toString
  }

  private def jsonStr(s: String): String =
    Render.appendJsonStr(new java.lang.StringBuilder, s).toString

  test("appendJsonStr: every escape branch equals the per-char form") {
    val controls = (0 until 0x20).map(_.toChar).mkString
    val cases = Seq(
      "", "plain text", "say \"hi\"", "back\\slash", "two\nlines",
      "cr\rhere", "tab\there", controls, "\u0000lead", "trail\u001f",
      "𝔸 non-BMP 😀 pair", "\"\"\\\\\n\n", "mixed \"𝒳\"\t\u0001end",
      "\u007f del and \u00e9 stay raw")
    cases.foreach(s => assert(jsonStr(s) == perCharJsonStr(s), s"escape of ${perCharJsonStr(s)}"))
    assert(jsonStr("\u0001\u001f") == "\"\\u0001\\u001f\"")
    val rng = new scala.util.Random(7)
    (0 until 500).foreach { _ =>
      val s = Seq.fill(rng.nextInt(40))(rng.nextInt(6) match {
        case 0 => rng.nextInt(0x20).toChar.toString
        case 1 => "\"\\"
        case 2 => "😀"
        case _ => rng.nextPrintableChar().toString
      }).mkString
      assert(jsonStr(s) == perCharJsonStr(s), s"escape of ${perCharJsonStr(s)}")
    }
  }
}
