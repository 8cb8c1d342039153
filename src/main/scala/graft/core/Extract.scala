package graft.core

import DocStructure.Document
import Layout.{LayoutOptions, PageLines, defaultOptions}
import Structure.{RubySpan, StructElem, structTree, logicalOrder, collectRubySpans}

/** Text-extraction drivers (reference src/PDF/Text.hs).
  *
  * Default mode = tagged structure extraction with geometry fallback;
  * geometry mode = paragraph layout from glyph positions. Page loops stay
  * sequential inside the kernel: Spark's unit of parallelism is the
  * document row (SURVEY.md §1.3), and sequential pages keep output
  * deterministic.
  */
object Extract {

  /** pdfToTextGeomDocWith (Text.hs:150-158). */
  def geomText(doc: Document, opts: LayoutOptions = defaultOptions): Either[PdfError, String] =
    DocStructure.pageRefs(doc).flatMap { refs =>
      sequenceE(refs.map(ref => Interp.interpretPageItems(doc, ref).map(Layout.pageLinesRaw)))
        .map(layouts => Layout.layoutDocumentFromPageLines(opts, layouts))
    }

  /** pdfToTextTaggedDocWith — the default driver (Text.hs:221-230). */
  def taggedText(doc: Document, opts: LayoutOptions = defaultOptions): Either[PdfError, String] =
    structTree(doc).flatMap {
      case None => geomText(doc, opts)
      case Some(root) =>
        DocStructure.pageRefs(doc).flatMap { refs =>
          sequenceE(refs.map(ref => Interp.interpretPageItems(doc, ref))).map { pages =>
            if (taggedUsable(pages)) assembleTagged(opts, root, refs, pages)
            else Layout.layoutDocumentFromPageLines(opts, pages.map(Layout.pageLinesRaw))
          }
        }
    }

  private def sequenceE[A](xs: List[Either[PdfError, A]]): Either[PdfError, List[A]] = {
    val out = List.newBuilder[A]
    for (x <- xs) x match {
      case Right(a) => out += a
      case Left(e) => return Left(e)
    }
    Right(out.result())
  }

  /** >= 50% of glyphs carry MCIDs (Text.hs:232-237). */
  def taggedUsable(pages: List[List[Glyph]]): Boolean = {
    var total = 0
    var tagged = 0
    for (pg <- pages; g <- pg) {
      total += 1
      if (g.mcid.isDefined) tagged += 1
    }
    total > 0 && tagged.toDouble / total >= 0.5
  }

  /** assembleTagged (Text.hs:239-341). */
  def assembleTagged(opts: LayoutOptions, root: StructElem, refs: List[Int],
      pages: List[List[Glyph]]): String = {
    val mcidLookup: Map[(Int, Int), List[Glyph]] =
      (for ((page, glyphs) <- refs.zip(pages); (mcid, gs) <- mcidGlyphMap(glyphs))
        yield ((page, mcid), gs)).toMap

    val rubySpans = collectRubySpans(root)
    val rubyMap: Map[(Int, Int), String] = structureRubyMap(opts, rubySpans, mcidLookup)
    val structRubyPages: Set[Int] = rubySpans.map(_.page).toSet
    val geomRubyPerPage: Map[Int, String] =
      (for {
        (page, glyphs) <- refs.zip(pages)
        if opts.ruby && !structRubyPages.contains(page)
      } yield page -> Layout.layoutPageText(opts, glyphs)).toMap

    val artifactLinesPerPage: Map[Int, List[Line]] =
      refs.zip(Layout.stripHeadersFooters(pages.length,
        pages.map(p => Layout.buildLines(p.filter(_.mcid.isEmpty))))).toMap

    def lastPathType(path: List[String]): String = path.lastOption.getOrElse("")

    val sb = new StringBuilder
    var hasContent = false
    var prevParaEnd = false
    var emitted = Map.empty[Int, Boolean]

    for ((path, page, mcid) <- logicalOrder(root)) {
      if (geomRubyPerPage.contains(page) && !emitted.getOrElse(page, false)) {
        val run = geomRubyPerPage.getOrElse(page, "")
        if (prevParaEnd && hasContent) sb.append("\n\n")
        sb.append(run)
        hasContent = true
        prevParaEnd = false
        emitted = emitted.updated(page, true)
      } else mcidLookup.get((page, mcid)) match {
        case None => ()
        case Some(gs) =>
          val run = Layout.joinGlyphsRun(gs)
          val paraEnd = paragraphEnd(lastPathType(path))
          val formatted = rubyMap.get((page, mcid)) match {
            case Some(rt) => Ruby.aozoraRuby(run, rt)
            case None => run
          }
          if (prevParaEnd && hasContent) sb.append("\n\n")
          sb.append(formatted)
          hasContent = true
          prevParaEnd = paraEnd
      }
    }

    for (page <- refs) {
      if (!geomRubyPerPage.contains(page)) {
        artifactLinesPerPage.get(page) match {
          case Some(ls) if ls.nonEmpty =>
            val run = Layout.joinParaLines(ls)
            if (run.nonEmpty) {
              if (hasContent) sb.append("\n\n")
              sb.append(run)
              hasContent = true
            }
          case _ => ()
        }
      }
    }

    val out = sb.toString
    if (out.isEmpty) "\n" else out + "\n"
  }

  private def paragraphEnd(stype: String): Boolean =
    Set("/P", "/H1", "/H2", "/H3", "/H4", "/H5", "/H6",
      "/LI", "/LBody", "/TD", "/TH", "/Caption", "/Title").contains(stype)

  /** Each MCID's glyphs, in content order. */
  def mcidGlyphMap(glyphs: List[Glyph]): Map[Int, List[Glyph]] =
    glyphs.filter(_.mcid.isDefined).groupBy(_.mcid.get)

  /** Ruby text per (page, base MCID), read from the page's MCID glyphs. */
  private def structureRubyMap(opts: LayoutOptions, spans: List[RubySpan],
      mcidLookup: Map[(Int, Int), List[Glyph]]): Map[(Int, Int), String] =
    if (!opts.ruby) Map.empty
    else (for {
      span <- spans
      (baseMcid, rubyMcid) <- span.bases.zip(span.rubies)
      rubyTxt = mcidLookup.get((span.page, rubyMcid)).fold("")(Layout.joinGlyphsRun)
      if rubyTxt.nonEmpty
    } yield ((span.page, baseMcid), rubyTxt)).toMap

  // ---------- the full per-document entry point ----------

  /** Extract text from PDF bytes in the default (tagged -> geometry) mode.
    * Never throws: a broken document yields Left. */
  def extractPdf(bytes: Array[Byte], password: Option[String] = None,
      opts: LayoutOptions = defaultOptions): Either[PdfError, String] =
    DocStructure.openDocument(bytes, password).flatMap(taggedText(_, opts))

  def extractPdfGeom(bytes: Array[Byte], password: Option[String] = None,
      opts: LayoutOptions = defaultOptions): Either[PdfError, String] =
    DocStructure.openDocument(bytes, password).flatMap(geomText(_, opts))
}
