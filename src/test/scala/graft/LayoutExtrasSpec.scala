package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Ruby pairing and footnote inlining on hand-built lines (mirrors the
  * reference Unit.hs ruby/footnote groups). */
class LayoutExtrasSpec extends AnyFunSuite {

  private def line(text: String, baseline: Double, start: Double, end: Double,
      size: Double, markers: List[(Int, String)] = Nil): Line =
    Line(baseline, start, end, size, start, 0, text, markers, lastSuper = false)

  test("ruby line merges into its base (suppressed by default)") {
    val body = line("漢字", 100, 50, 90, 10)
    val ruby = line("かんじ", 108, 50, 90, 5)
    val merged = Ruby.mergeInterleavedRubyLines(0, includeRuby = false, List(body, ruby))
    assert(merged.map(_.text) == List("漢字"))
  }

  test("ruby in Aozora notation when enabled") {
    val body = line("漢字", 100, 50, 90, 10)
    val ruby = line("かんじ", 108, 50, 90, 5)
    val merged = Ruby.mergeInterleavedRubyLines(0, includeRuby = true, List(body, ruby))
    assert(merged.map(_.text) == List("漢字《かんじ》"))
  }

  test("aozora bar for mixed-script bases") {
    assert(Ruby.aozoraRuby("漢字かな", "よみ") == "漢字かな｜《よみ》")
    assert(Ruby.aozoraRuby("漢字", "よみ") == "漢字《よみ》")
  }

  private def g(text: String, x: Double, y: Double, w: Double, size: Double): Glyph =
    Glyph(text, x, y, w, size, "/F1", 0, None)

  test("superscript glyph attaches as a marker, not a new line") {
    // body at baseline 700 size 10; superscript '2' raised 4pt, size 7
    val lines = Layout.buildLines(List(
      g("Energy", 72, 700, 40, 10),
      g("2", 113, 704, 4, 7),
      g("more", 120, 700, 25, 10)))
    assert(lines.length == 1)
    val l = lines.head
    assert(l.text.contains("2"))
    assert(l.markers.nonEmpty && l.markers.head._2 == "2")
  }

  test("rebase attach: small marker line followed by bigger body") {
    // first glyph is the small superscript; the following big glyph rebases
    val lines = Layout.buildLines(List(
      g("*", 72, 704, 4, 7),
      g("Body text", 78, 700, 60, 10)))
    assert(lines.length == 1)
    assert(lines.head.size == 10.0)
    assert(lines.head.markers == List((0, "*")))
  }

  test("code block lines keep newlines and indentation") {
    def codeLine(text: String, x: Double, y: Double) = line(text, y, x, x + 80, 7.0)
    val ls = List(
      codeLine("def main():", 72, 500),
      codeLine("return 42", 87.4, 491))
    val joined = Layout.joinParaLines(ls)
    assert(joined == "def main():\n    return 42")
  }

  test("numbered list markers start new paragraphs") {
    val items: List[Glyph] = List(
      g("Intro text before the list:", 72, 700, 150, 10),
      g("1. first item", 72, 688, 80, 10),
      g("2. second item", 72, 676, 80, 10))
    val paras = Layout.layoutParagraphs(Layout.defaultOptions, items)
    assert(paras == List("Intro text before the list:", "1. first item", "2. second item"))
  }

  test("dingbat r-bullet repair") {
    assert(Layout.fixDingbatBullet("r Item text") == "• Item text")
    assert(Layout.fixDingbatBullet("r「かぎ」") == "•「かぎ」")
    assert(Layout.fixDingbatBullet("regular word") == "regular word")
    assert(Layout.fixDingbatBullet("text r「括弧」") == "text •「括弧」")
  }

  test("fallback page: unusable glyph ratio emits raw text lines") {
    val items: List[Glyph] = List(
      g("ok", 72, 700, 10, 10),
      g("bad1", Double.NaN, 0, 10, 10),
      g("bad2", Double.NaN, 0, 10, 10))
    Layout.pageLinesRaw(items) match {
      case Layout.PageFallback(ps) => assert(ps == List("ok\nbad1\nbad2"))
      case other => fail(s"expected fallback, got $other")
    }
  }

  test("rules, strokes and images between two lines never split the paragraph") {
    import scala.collection.immutable.TreeMap
    import graft.core.PObj.{PDict, PName, PRef}
    val imageRef = 5
    val image = PDict(TreeMap("/Type" -> PName("/XObject"), "/Subtype" -> PName("/Image")))
    val doc = new DocStructure.Document("".getBytes, TreeMap.empty, Map.empty, None,
      Some(Map(imageRef -> List(image))))
    val res: DocStructure.Dict = TreeMap("/XObject" -> PDict(TreeMap("/Im1" -> PRef(imageRef))))
    val font = FontInfo(Encoding.NullMap, Map.empty, 65, Vector(Some(600.0), Some(700.0)),
      Map.empty, Map.empty, FontInfo.DefaultVerticalW1, 0, 1, 500, isType0 = false)
    val first = "BT /F1 10 Tf 72 700 Td (ABBA) Tj ET\n"
    val second = "BT /F1 10 Tf 72 688 Td (BAAB) Tj ET\n"
    // a thin rule as wide as a column, a stroke, an inline image and an
    // image XObject, all between the two baselines and across the text
    val graphics =
      "72 693 300 0.5 re f\n" +
        "72 691 m 372 691 l S\n" +
        "q 20 0 0 6 72 689 cm BI /W 2 /H 1 /BPC 8 /CS /G ID \u00ff\u0000 EI Q\n" +
        "q 20 0 0 6 90 689 cm /Im1 Do Q\n"
    def text(src: String): String = Layout.layoutPageText(Layout.defaultOptions,
      Interp.interpretContentItems(doc, res, Map("/F1" -> font),
        src.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)))
    val plain = text(first + second)
    // one paragraph holding both lines
    assert(plain.filterNot(_.isWhitespace) == "ABBABAAB" && plain.count(_ == '\n') == 1, plain)
    assert(text(first + graphics + second) == plain)
  }

  test("footnote block inlined at its body anchor") {
    val body = line("Main claim†1 continues", 700, 72, 300, 10, markers = List((10, "†1")))
    val other = line("Another body line here", 688, 72, 300, 10)
    val note = line("†1 Footnote body text", 50, 72, 200, 6)
    val out = Footnotes.inlineFootnotes(List(body, other, note))
    assert(out.map(_.text) == List(
      "Main claim<footnote>Footnote body text</footnote> continues",
      "Another body line here"))
  }

  test("unanchored footnote blocks are kept") {
    val body = line("No marker here at all!", 700, 72, 300, 10)
    val note = line("†2 Orphan footnote", 50, 72, 200, 6)
    val out = Footnotes.inlineFootnotes(List(body, note))
    assert(out.map(_.text) == List("No marker here at all!", "†2 Orphan footnote"))
  }
}
