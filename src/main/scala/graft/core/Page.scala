package graft.core

import graft.core.DocStructure.Document

/** Paragraph region on a page: 1-based page number, 1-based paragraph
  * index, bounding box, and the paragraph text (reference PDF.Page
  * PageRegion, Page.hs:93-99). */
final case class PageRegion(page: Int, paragraph: Int, bbox: Rect, text: String)

/** Page-level structured-extraction API: paragraphs WITH geometry — the
  * layout-aware chunking primitive (RAG chunk boundaries, figure-caption
  * pairing). Mirrors the reference's public page API (Page.hs:26-117);
  * everything here composes the existing interpreter + layout kernel, so
  * region text is byte-identical to the paragraph text the document
  * extractors emit. */
object Page {

  /** Number of pages in document order; 1-based page numbers run
    * 1..pageCount (Page.hs:66-68). */
  def pageCount(doc: Document): Either[PdfError, Int] =
    DocStructure.pageRefs(doc).map(_.length)

  /** Resolve a 1-based page number to its object reference (Page.hs:70-78,
    * including its out-of-range error wording). */
  def pageRefAt(doc: Document, n: Int): Either[PdfError, Int] =
    if (n < 1) Left(PdfError.UnsupportedFeature(s"page number $n out of range"))
    else DocStructure.pageRefs(doc).flatMap { refs =>
      if (n > refs.length)
        Left(PdfError.UnsupportedFeature(
          s"page number $n out of range (1-${refs.length})"))
      else Right(refs(n - 1))
    }

  /** The page's positioned glyphs (Page.hs:80-86). */
  def pageGlyphs(doc: Document, ref: Int): Either[PdfError, List[Glyph]] =
    Interp.interpretPageItems(doc, ref)

  /** Merged layout lines (Page.hs:88-89). */
  def pageLines(doc: Document, ref: Int,
      opts: Layout.LayoutOptions): Either[PdfError, List[Line]] =
    pageGlyphs(doc, ref).map(Layout.pageLines(opts, _))

  /** Paragraph texts for one page, no cross-page merge (Page.hs:91-92). */
  def pageParagraphs(doc: Document, ref: Int,
      opts: Layout.LayoutOptions): Either[PdfError, List[String]] =
    pageGlyphs(doc, ref).map(Layout.layoutParagraphs(opts, _))

  /** Per-page paragraph regions for a page REFERENCE, resolving the page
    * number like the reference's pageRegions (Page.hs:105-117). */
  def pageRegionsAt(doc: Document, ref: Int,
      opts: Layout.LayoutOptions): Either[PdfError, List[PageRegion]] =
    for {
      glyphs <- pageGlyphs(doc, ref)
      refs <- DocStructure.pageRefs(doc)
      idx = refs.indexOf(ref)
      _ <- if (idx < 0) Left(PdfError.MissingObject(ref)) else Right(())
    } yield pageRegions(idx + 1, opts, glyphs)

  /** Paragraph bounding box from its layout lines (Page.hs:147-154):
    * inline extent on x, [baseline - size, baseline] on y; the empty group
    * (a fallback page's placeholder) is Rect(0,0,0,0). */
  def paraBBox(ls: List[Line]): Rect = ls match {
    case Nil => Rect(0, 0, 0, 0)
    case _ => Rect(
      ls.iterator.map(_.inlineStart).min,
      ls.iterator.map(l => l.baseline - l.size).min,
      ls.iterator.map(_.inlineEnd).max,
      ls.iterator.map(_.baseline).max)
  }

  /** Per-page paragraph regions without document-level cross-page merge
    * (Page.hs:105-117): one layout pass yields each paragraph's text with
    * its line group, whose extent is the bbox (a fallback page's paragraphs
    * have no lines, so a zero bbox, reference parity). */
  def pageRegions(pageNo: Int, opts: Layout.LayoutOptions,
      glyphs: List[Glyph]): List[PageRegion] =
    Layout.paragraphsWithLines(opts, glyphs).zipWithIndex.map { case ((txt, grp), i) =>
      PageRegion(pageNo, i + 1, paraBBox(grp), txt)
    }
}
