package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** The paragraph-region page API (reference Page.hs pageRegions/paraBBox):
  * bbox math against hand-computed stub-font values, and the region<->text
  * tie on every reference golden fixture. */
class PageSpec extends AnyFunSuite {

  private val fixturesDir = java.nio.file.Paths.get("/root/reference/data/fixtures")

  test("paraBBox: single line spans [x, x+width] x [baseline-size, baseline]") {
    // the Unit.hs stub-font example: "AB" at (100,700), width 13, size 10
    val items = List(Glyph("AB", 100, 700, 13, 10, "/F1", 0, None))
    val rs = Page.pageRegions(1, Layout.defaultOptions, items)
    assert(rs == List(PageRegion(1, 1, Rect(100, 690, 113, 700), "AB")))
  }

  test("paraBBox: a two-line paragraph takes the union of line extents") {
    // 12 pt leading at size 10 is under the paragraph-break threshold:
    // one paragraph whose bbox spans both lines
    val items = List(
      Glyph("AB", 100, 700, 13, 10, "/F1", 0, None),
      Glyph("CDE", 100, 688, 20, 10, "/F1", 0, None))
    val rs = Page.pageRegions(1, Layout.defaultOptions, items)
    assert(rs.length == 1, rs)
    assert(rs.head.bbox == Rect(100, 678, 120, 700))
    assert(rs.head.text == "AB CDE")
  }

  test("paraBBox: empty group (fallback page) is the zero rect") {
    assert(Page.paraBBox(Nil) == Rect(0, 0, 0, 0))
  }

  test("regions tie to the golden page-text surface on every reference fixture") {
    assume(java.nio.file.Files.isDirectory(fixturesDir))
    val st = java.nio.file.Files.list(fixturesDir)
    val pdfs = try st.toArray.map(_.toString).filter(_.endsWith(".pdf")).sorted
      finally st.close()
    assert(pdfs.nonEmpty)
    var pagesChecked = 0
    for (pdf <- pdfs) {
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(pdf))
      DocStructure.openDocument(bytes, None) match {
        case Right(doc) =>
          for ((ref, idx) <- DocStructure.pageRefs(doc).getOrElse(Nil).zipWithIndex) {
            val items = Interp.interpretPageItems(doc, ref).getOrElse(Nil)
            val regions = Page.pageRegions(idx + 1, Layout.defaultOptions, items)
            // region texts ARE the page's paragraphs: joining them with the
            // formatParagraphs convention must reproduce the page text that
            // the golden-checked extractors emit
            assert(Layout.formatParagraphs(regions.map(_.text)) ==
              Layout.layoutPageText(Layout.defaultOptions, items), pdf)
            for (r <- regions) {
              assert(r.page == idx + 1 && r.paragraph >= 1)
              assert(r.bbox.x1 >= r.bbox.x0 && r.bbox.y1 >= r.bbox.y0, s"$pdf $r")
            }
            pagesChecked += 1
          }
        case Left(_) => fail(s"openDocument failed for $pdf")
      }
    }
    assert(pagesChecked >= 15, s"only $pagesChecked pages checked")
  }

  test("page API: count, ref resolution, glyphs/lines/paragraphs/regions") {
    val d = graft.spark.FixtureGen.multipage(2)
    val doc = DocStructure.openDocument(d.bytes, None).toOption.get
    assert(Page.pageCount(doc) == Right(4))
    // out-of-range page numbers mirror the reference's error wording
    assert(Page.pageRefAt(doc, 0).isLeft && Page.pageRefAt(doc, 5).isLeft)
    val ref2 = Page.pageRefAt(doc, 2).toOption.get
    assert(Page.pageGlyphs(doc, ref2).toOption.get.length == 3) // header, body, number
    assert(Page.pageLines(doc, ref2, Layout.defaultOptions).toOption.get.length == 3)
    val paras = Page.pageParagraphs(doc, ref2, Layout.defaultOptions).toOption.get
    assert(paras.length == 3 && paras(2) == "2", paras)
    // pageRegionsAt resolves the page number from the ref (Page.hs:119-124)
    val regions = Page.pageRegionsAt(doc, ref2, Layout.defaultOptions).toOption.get
    assert(regions.map(_.page) == List(2, 2, 2))
    assert(regions.map(_.text) == paras)
    assert(Page.pageRegionsAt(doc, ref = -99, Layout.defaultOptions).isLeft)
  }

  test("longDoc construction facts match the kernel page-for-page (c4/c5 ground truth)") {
    for (i <- Seq(0L, 3L, 11L)) {
      val d = graft.spark.FixtureGen.longDoc(i)
      val doc = DocStructure.openDocument(d.bytes, None).toOption.get
      assert(Page.pageCount(doc) == Right(6))
      val refs = DocStructure.pageRefs(doc).getOrElse(Nil)
      for ((ref, idx) <- refs.zipWithIndex) {
        val items = Interp.interpretPageItems(doc, ref).getOrElse(Nil)
        val regions = Page.pageRegions(idx + 1, Layout.defaultOptions, items)
        // 8 paragraphs per page, texts and bboxes exactly as constructed
        val constructed = d.regions.filter(_.startsWith(s"${idx + 1}|"))
        assert(regions.map(r =>
          f"${r.page}|${r.paragraph}|${r.bbox.x0}%.1f|${r.bbox.y0}%.1f|${r.bbox.x1}%.1f|${r.bbox.y1}%.1f")
          == constructed, s"doc $i page ${idx + 1}")
        assert(Layout.formatParagraphs(regions.map(_.text)) == d.pageTexts(idx),
          s"doc $i page ${idx + 1}")
      }
      // doc-level extraction agrees with the construction expectation
      assert(Extract.taggedText(doc) == Right(d.expected), s"doc $i")
    }
  }

  test("property: far-apart single lines each become a region matching the glyph box") {
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 25) {
      val n = 1 + rnd.nextInt(3)
      // baselines 250pt apart (far above any leading threshold, all on
      // the page): one paragraph per line, top-down order
      val glyphs = (0 until n).map { k =>
        val x = 50 + rnd.nextInt(300)
        val y = 700 - k * 250.0 - rnd.nextInt(40)
        val w = 10 + rnd.nextInt(80)
        val size = 8 + rnd.nextInt(10)
        Glyph(s"line$k", x, y, w, size, "/F1", 0, None)
      }.toList
      val rs = Page.pageRegions(1, Layout.defaultOptions, glyphs)
      assert(rs.length == n, rs)
      for ((r, g) <- rs.zip(glyphs)) {
        assert(r.bbox == Rect(g.x, g.y - g.size, g.x + g.width, g.y), s"$r vs $g")
        assert(r.text == g.text)
      }
    }
  }

  test("paragraphs.pdf: three regions in top-down reading order") {
    assume(java.nio.file.Files.isDirectory(fixturesDir))
    val bytes = java.nio.file.Files.readAllBytes(fixturesDir.resolve("paragraphs.pdf"))
    val doc = DocStructure.openDocument(bytes, None).toOption.get
    val ref = DocStructure.pageRefs(doc).getOrElse(Nil).head
    val items = Interp.interpretPageItems(doc, ref).getOrElse(Nil)
    val rs = Page.pageRegions(1, Layout.defaultOptions, items)
    assert(rs.length == 3, rs.map(_.text))
    // top-down: each paragraph's top edge sits below the previous one's
    assert(rs.map(_.bbox.y1) == rs.map(_.bbox.y1).sorted.reverse)
    assert(rs.map(_.paragraph) == List(1, 2, 3))
  }
}
