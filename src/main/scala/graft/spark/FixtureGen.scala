package graft.spark

import java.nio.charset.StandardCharsets.ISO_8859_1
import scala.collection.mutable.ArrayBuffer
import graft.core.{Crypt, Filters, Images, Security}

/** Deterministic synthetic PDF/HTML builders for the extraction corpus.
  *
  * Own construction (inspired by what the reference's fixture generator
  * exercises — classic xref, xref streams, ObjStm, Flate, RC4 — but each
  * document's EXPECTED extracted text is known by construction, so the
  * corpus carries its own ground truth at any scale with no external data).
  */
object FixtureGen {

  /** `pages` is generator ground truth (page count by construction) so the
    * extraction surface can be oracled without running the kernel.
    * `expectedGeomOrNull` is the geometry-mode expected text when it
    * differs from the default/tagged expectation (only the tagged kind:
    * geometry layout ignores the structure tree, and its two lines sit
    * 20 pt apart — under the 1.6x-median-leading paragraph-break
    * threshold — so they join into one space-separated paragraph). */
  final case class Doc(kind: String, bytes: Array[Byte], expected: String, lang: String,
      pages: Int = 1, expectedGeomOrNull: String = null,
      expectedLegacyOrNull: String = null,
      tocEntries: Int = 0, tocText: String = "",
      pageTextsOrNull: Seq[String] = null,
      title: String = null,
      regionsOrNull: Seq[String] = null) {
    def expectedGeom: String = if (expectedGeomOrNull == null) expected else expectedGeomOrNull
    def expectedLegacy: String = if (expectedLegacyOrNull == null) expected else expectedLegacyOrNull
    /** Per-page layout text by construction: single-page PDFs lay out as
      * the geometry expectation; non-PDF rows have no page surface; kinds
      * with several pages must set it explicitly. */
    def pageTexts: Seq[String] =
      if (pageTextsOrNull != null) pageTextsOrNull
      else if (kind == "html" || kind == "textrow") Nil
      else if (pages == 1) Seq(expectedGeom)
      else Nil
    /** Paragraph bounding boxes by construction, "page|para|x0|y0|x1|y1".
      * Paragraph j's TEXT is split j of pageTexts(page-1) on "\n\n" — the
      * bbox strings here carry only the geometry. The default covers every
      * single-line kind (one 12 pt show at (72,720), Helvetica with no
      * /Widths so each glyph advances 0 -> x1 == x0; y spans
      * [baseline - size, baseline]); multi-paragraph kinds set it
      * explicitly, non-PDF kinds have no page surface. */
    def regions: Seq[String] =
      if (regionsOrNull != null) regionsOrNull
      else if (kind == "html" || kind == "textrow") Nil
      else if (pages == 1) Seq(Doc.stdLineRegion)
      else Nil
  }

  object Doc {
    val stdLineRegion = "1|1|72.0|708.0|72.0|720.0"
  }

  /** Legacy-mode (stream-order) expectation: the extractor emits a
    * break before the first text show and a " \n" separator between
    * shows (Td-motion break rule); no trailing newline. Pinned byte-exact
    * against the reference on the 45 legacy goldens; encoded here so x8
    * can be regression-oracled externally. */
  private def legacyOf(blocks: String*): String = " \n" + blocks.mkString(" \n")

  private def b(s: String): Array[Byte] = s.getBytes(ISO_8859_1)

  /** Assemble a classic-xref PDF from numbered object bodies (1..n). */
  private def classicPdf(objects: Seq[String], trailerExtra: String = ""): Array[Byte] = {
    val out = new ArrayBuffer[Byte]
    val offsets = new ArrayBuffer[Int]
    out ++= b("%PDF-1.5\n%µ¶\n")
    for ((body, i) <- objects.zipWithIndex) {
      offsets += out.length
      out ++= b(s"${i + 1} 0 obj\n$body\nendobj\n")
    }
    val xrefAt = out.length
    out ++= b(s"xref\n0 ${objects.length + 1}\n")
    out ++= b(f"0000000000 65535 f \n")
    for (off <- offsets) out ++= b(f"$off%010d 00000 n \n")
    out ++= b(s"trailer\n<< /Size ${objects.length + 1} /Root 1 0 R$trailerExtra >>\nstartxref\n$xrefAt\n%%EOF\n")
    out.toArray
  }

  private def contentObj(stream: String, compress: Boolean): String =
    if (compress) {
      val deflated = new String(Filters.deflate(b(stream)), ISO_8859_1)
      s"<< /Length ${deflated.length} /Filter /FlateDecode >>\nstream\n$deflated\nendstream"
    } else s"<< /Length ${stream.length} >>\nstream\n$stream\nendstream"

  private val helvetica = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"

  private def pageObj(parent: Int, contents: Int, font: Int): String =
    s"<< /Type /Page /Parent $parent 0 R /MediaBox [0 0 612 792] " +
      s"/Resources << /Font << /F1 $font 0 R >> >> /Contents $contents 0 R >>"

  /** One page, one text line, classic xref. Expected = line + "\n". */
  def classic(i: Long): Doc = {
    val line = s"Classic document $i body text"
    val content = s"BT /F1 12 Tf 72 720 Td ($line) Tj ET\n"
    val pdf = classicPdf(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      pageObj(2, 4, 5),
      contentObj(content, compress = false),
      helvetica))
    Doc("classic", pdf, line + "\n", "en", expectedLegacyOrNull = legacyOf(line))
  }

  /** Flate-compressed content stream. */
  def flate(i: Long): Doc = {
    val line = s"Compressed stream document $i"
    val content = s"BT /F1 12 Tf 72 720 Td ($line) Tj ET\n"
    val pdf = classicPdf(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      pageObj(2, 4, 5),
      contentObj(content, compress = true),
      helvetica))
    Doc("flate", pdf, line + "\n", "en", expectedLegacyOrNull = legacyOf(line))
  }

  /** PDF-1.5 cross-reference stream (/W [1 2 2], type-1 entries). */
  def xrefStream(i: Long): Doc = {
    val line = s"Xref stream document $i"
    val content = s"BT /F1 12 Tf 72 720 Td ($line) Tj ET\n"
    val objects = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      pageObj(2, 4, 5),
      contentObj(content, compress = false),
      helvetica)
    val out = new ArrayBuffer[Byte]
    val offsets = new ArrayBuffer[Int]
    out ++= b("%PDF-1.5\n%µ¶\n")
    for ((body, k) <- objects.zipWithIndex) {
      offsets += out.length
      out ++= b(s"${k + 1} 0 obj\n$body\nendobj\n")
    }
    val xrefAt = out.length
    // entries for objects 0..6 (6 = the xref stream itself)
    val entries = new ArrayBuffer[Byte]
    def entry(t: Int, f2: Int, f3: Int): Unit = {
      entries += t.toByte
      entries += ((f2 >> 8) & 0xff).toByte
      entries += (f2 & 0xff).toByte
      entries += ((f3 >> 8) & 0xff).toByte
      entries += (f3 & 0xff).toByte
    }
    entry(0, 0, 0xffff)
    for (off <- offsets) entry(1, off, 0)
    entry(1, xrefAt, 0)
    val raw = new String(entries.toArray, ISO_8859_1)
    out ++= b(s"6 0 obj\n<< /Type /XRef /Size 7 /W [1 2 2] /Root 1 0 R /Length ${raw.length} >>\nstream\n$raw\nendstream\nendobj\n")
    out ++= b(s"startxref\n$xrefAt\n%%EOF\n")
    Doc("xrefstream", out.toArray, line + "\n", "en", expectedLegacyOrNull = legacyOf(line))
  }

  /** Object stream (/Type /ObjStm) holding catalog/pages/page dicts,
    * referenced from an xref stream with type-2 entries. */
  def objStm(i: Long): Doc = {
    val line = s"Object stream document $i"
    val content = s"BT /F1 12 Tf 72 720 Td ($line) Tj ET\n"
    val o1 = "<< /Type /Catalog /Pages 2 0 R >>"
    val o2 = "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"
    val o3 = pageObj(2, 4, 5)
    val o5 = helvetica
    // ObjStm body: header pairs then bodies
    val bodies = Seq((1, o1), (2, o2), (3, o3), (5, o5))
    val bodyStr = new StringBuilder
    val pairs = new StringBuilder
    for ((num, body) <- bodies) {
      pairs.append(s"$num ${bodyStr.length} ")
      bodyStr.append(body).append("\n")
    }
    val header = pairs.toString
    val stmContent = header + bodyStr.toString
    val out = new ArrayBuffer[Byte]
    out ++= b("%PDF-1.5\n%µ¶\n")
    val off4 = out.length
    out ++= b(s"4 0 obj\n${contentObj(content, compress = false)}\nendobj\n")
    val off6 = out.length
    out ++= b(s"6 0 obj\n<< /Type /ObjStm /N ${bodies.length} /First ${header.length} /Length ${stmContent.length} >>\nstream\n$stmContent\nendstream\nendobj\n")
    val xrefAt = out.length
    val entries = new ArrayBuffer[Byte]
    def entry(t: Int, f2: Int, f3: Int): Unit = {
      entries += t.toByte
      entries += ((f2 >> 8) & 0xff).toByte
      entries += (f2 & 0xff).toByte
      entries += ((f3 >> 8) & 0xff).toByte
      entries += (f3 & 0xff).toByte
    }
    entry(0, 0, 0xffff)     // 0 free
    entry(2, 6, 0)          // 1 in objstm 6 idx 0
    entry(2, 6, 1)          // 2
    entry(2, 6, 2)          // 3
    entry(1, off4, 0)       // 4 in file
    entry(2, 6, 3)          // 5
    entry(1, off6, 0)       // 6 objstm container
    entry(1, xrefAt, 0)     // 7 xref stream
    val raw = new String(entries.toArray, ISO_8859_1)
    out ++= b(s"7 0 obj\n<< /Type /XRef /Size 8 /W [1 2 2] /Root 1 0 R /Length ${raw.length} >>\nstream\n$raw\nendstream\nendobj\n")
    out ++= b(s"startxref\n$xrefAt\n%%EOF\n")
    Doc("objstm", out.toArray, line + "\n", "en", expectedLegacyOrNull = legacyOf(line))
  }

  /** 4 pages with a repeated header + bare page numbers (stripped by the
    * cross-page layout) and one body line per page that merges into a
    * single paragraph. */
  def multipage(i: Long): Doc = {
    val bodyLines = Seq(
      s"Corpus sample $i starts a sentence that",
      "continues on the second page and",
      "keeps going on the third page and",
      "finally ends on the fourth page")
    val pages = bodyLines.zipWithIndex.map { case (line, p) =>
      s"BT /F1 10 Tf 72 770 Td (Corpus Header) Tj ET\n" +
        s"BT /F1 12 Tf 72 400 Td ($line) Tj ET\n" +
        s"BT /F1 10 Tf 300 30 Td (${p + 1}) Tj ET\n"
    }
    val n = pages.length
    // objects: 1 catalog, 2 pages, 3..3+n-1 page dicts, then n contents, then font
    val firstPage = 3
    val firstContent = firstPage + n
    val fontObj = firstContent + n
    val kids = (0 until n).map(k => s"${firstPage + k} 0 R").mkString(" ")
    val objs = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      s"<< /Type /Pages /Kids [$kids] /Count $n >>") ++
      (0 until n).map(k => pageObj(2, firstContent + k, fontObj)) ++
      pages.map(contentObj(_, compress = false)) :+
      helvetica
    val pdf = classicPdf(objs)
    val legacyBlocks = bodyLines.zipWithIndex.flatMap { case (line, p) =>
      Seq("Corpus Header", line, (p + 1).toString)
    }
    Doc("multipage", pdf, bodyLines.mkString(" ") + "\n", "en", pages = n,
      expectedLegacyOrNull = legacyOf(legacyBlocks: _*),
      // per page: repeated header, body line and bare page number are
      // separate paragraphs (the header/footer strip is cross-page and
      // does not apply to the single-page surface)
      pageTextsOrNull = bodyLines.zipWithIndex.map { case (line, p) =>
        s"Corpus Header\n\n$line\n\n${p + 1}\n"
      },
      // three single-line paragraphs per page: 10 pt header at (72,770),
      // 12 pt body at (72,400), 10 pt page number at (300,30)
      regionsOrNull = (1 to n).flatMap(p => Seq(
        s"$p|1|72.0|760.0|72.0|770.0",
        s"$p|2|72.0|388.0|72.0|400.0",
        s"$p|3|300.0|20.0|300.0|30.0")))
  }

  /** Tagged PDF: /StructTreeRoot -> /Document -> two /P elements with MCIDs. */
  def tagged(i: Long): Doc = {
    val para1 = s"Tagged paragraph one of document $i."
    val para2 = "Tagged paragraph two follows!"
    val content =
      s"/P <</MCID 0>> BDC BT /F1 12 Tf 72 720 Td ($para1) Tj ET EMC\n" +
        s"/P <</MCID 1>> BDC BT /F1 12 Tf 72 700 Td ($para2) Tj ET EMC\n"
    val pdf = classicPdf(Seq(
      "<< /Type /Catalog /Pages 2 0 R /StructTreeRoot 6 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      pageObj(2, 4, 5),
      contentObj(content, compress = false),
      helvetica,
      "<< /Type /StructTreeRoot /K 7 0 R >>",
      "<< /S /Document /K [8 0 R 9 0 R] >>",
      "<< /S /P /Pg 3 0 R /K 0 >>",
      "<< /S /P /Pg 3 0 R /K 1 >>"))
    Doc("tagged", pdf, para1 + "\n\n" + para2 + "\n", "en",
      expectedGeomOrNull = para1 + " " + para2 + "\n",
      expectedLegacyOrNull = legacyOf(para1, para2),
      // geometry layout (the page-region surface ignores the structure
      // tree) joins the 20-pt-apart lines into ONE paragraph spanning
      // both baselines: y from 700-12 up to 720
      regionsOrNull = Seq("1|1|72.0|688.0|72.0|720.0"))
  }

  /** RC4 40-bit (V1/R2) encrypted document, empty user password. */
  def encryptedRc4(i: Long): Doc = {
    val line = s"Encrypted document $i payload"
    val content = s"BT /F1 12 Tf 72 720 Td ($line) Tj ET\n"
    val pad = Array(
      0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
      0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
      0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
      0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)
    def md5(x: Array[Byte]) = java.security.MessageDigest.getInstance("MD5").digest(x)
    def padPw(pw: Array[Byte]) = (pw ++ pad).take(32)
    val fileId = md5(b(s"corpus-id-$i"))
    val ownerKey = md5(padPw(b("owner"))).take(5)
    val oValue = Crypt.rc4(ownerKey, padPw(Array.emptyByteArray)) // RC4 of padded user pw
    val p = -1
    val pLe = Array((p & 0xff).toByte, ((p >> 8) & 0xff).toByte, ((p >> 16) & 0xff).toByte, ((p >>> 24) & 0xff).toByte)
    val fileKey = md5(padPw(Array.emptyByteArray) ++ oValue ++ pLe ++ fileId).take(5)
    val uValue = Crypt.rc4(fileKey, pad)
    val sec = Security(revision = 2, version = 1, key = fileKey, keyLength = 5, aes = false)
    // encrypt the content stream with the object key of object 4
    val encContent = Crypt.rc4(Crypt.objectKey(sec, 4, 0), b(content))
    val encContentStr = new String(encContent, ISO_8859_1)
    // Case-mixed hex: a value whose bytes happen to start FE FF would
    // otherwise be parsed as a UTF-16BE string marker ("feff"/"FEFF") by
    // hpdft-compatible parsers (including this engine) and break /O //U
    // authentication ~1 in 65k documents. "FEff.." matches neither form.
    def hex(xs: Array[Byte]) = {
      val h = xs.map(x => f"${x & 0xff}%02x").mkString
      if (h.length >= 2) h.substring(0, 2).toUpperCase + h.substring(2) else h
    }
    val objs = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      pageObj(2, 4, 5),
      s"<< /Length ${encContentStr.length} >>\nstream\n$encContentStr\nendstream",
      helvetica,
      s"<< /Filter /Standard /V 1 /R 2 /O <${hex(oValue)}> /U <${hex(uValue)}> /P $p >>")
    val pdf = classicPdf(objs,
      trailerExtra = s" /Encrypt 6 0 R /ID [<${hex(fileId)}> <${hex(fileId)}>]")
    Doc("encrypted", pdf, line + "\n", "en", expectedLegacyOrNull = legacyOf(line))
  }

  /** HTML page with boilerplate nav/header/footer around main paragraphs. */
  def htmlPage(i: Long): Doc = {
    val p1 = s"Main article paragraph one for page $i with useful content."
    val p2 = "A second paragraph continues the article body."
    val html =
      s"""<!DOCTYPE html>
         |<html><head><title>Page $i</title><style>body{color:red}</style>
         |<script>var x = 1 < 2;</script></head>
         |<body>
         |<nav class="top-nav"><ul><li>Home</li><li>About</li></ul></nav>
         |<header><h1>Site Banner</h1></header>
         |<div class="sidebar">Related links and ads</div>
         |<main><article>
         |<p>$p1</p>
         |<p>$p2</p>
         |</article></main>
         |<footer>Copyright $i</footer>
         |</body></html>""".stripMargin
    Doc("html", html.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      p1 + "\n\n" + p2 + "\n", "en")
  }

  /** Non-PDF non-HTML payload: extraction falls back to the text column. */
  def textRow(i: Long): Doc = {
    val t = s"Plain text fallback row $i with pre-extracted content."
    Doc("textrow", Array[Byte](0x1f.toByte, 0x2e, 0x3d), t, "en")
  }

  /** Realistic-weight document: 24 pages x 5 paragraphs x 8 lines with a
    * repeated header + bare page numbers (both stripped by layout), flate
    * compressed — close to a small real-world PDF in kernel cost. Every
    * paragraph ends with '!' so pages never merge: the expected text is
    * fully predictable. */
  def book(i: Long): Doc = bookN(i, 24)

  def bookN(i: Long, nPages: Int): Doc = {
    val parasPerPage = 5
    val linesPerPara = 6
    val expected = new StringBuilder
    val pageStreams = (1 to nPages).map { pg =>
      val sb = new StringBuilder
      sb.append(s"BT /F1 8 Tf 72 770 Td (Corpus Book) Tj ET\n")
      for (p <- 0 until parasPerPage) {
        val lines = (0 until linesPerPara).map { l =>
          val k = p * linesPerPara + l
          val terminal = if (l == linesPerPara - 1) "!" else ""
          s"Book $i page $pg paragraph $p line $l common crawl words$terminal"
        }
        for ((line, l) <- lines.zipWithIndex) {
          val k = p * linesPerPara + l
          val y = 620 - k * 12 - p * 8
          sb.append(s"BT /F1 10 Tf 72 $y Td ($line) Tj ET\n")
        }
        if (expected.nonEmpty) expected.append("\n\n")
        expected.append(lines.mkString(" "))
      }
      sb.append(s"BT /F1 8 Tf 300 24 Td ($pg) Tj ET\n")
      sb.toString
    }
    val firstPage = 3
    val firstContent = firstPage + nPages
    val fontObj = firstContent + nPages
    val kids = (0 until nPages).map(k => s"${firstPage + k} 0 R").mkString(" ")
    val objs = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      s"<< /Type /Pages /Kids [$kids] /Count $nPages >>") ++
      (0 until nPages).map(k => pageObj(2, firstContent + k, fontObj)) ++
      pageStreams.map(contentObj(_, compress = true)) :+
      helvetica
    Doc("book", classicPdf(objs), expected.toString + "\n", "en", pages = nPages)
  }

  /** Long many-paragraph document for the realistic-budget chunking
    * surface (c4/c5): 6 pages x 8 single-show paragraphs whose token
    * counts vary 9-48, so a 256-token budget crosses mid-page at
    * irregular offsets (the window/fold logic away from c2/c3's
    * boundary-every-paragraph regime). Every paragraph is unique text —
    * no repeated header/footer, so no cross-page strip interplay — and
    * pageTexts/regions are pure construction facts like multipage's. */
  def longDoc(i: Long): Doc = {
    val nPages = 6
    val parasPerPage = 8
    def words(pg: Int, p: Int): Seq[String] = {
      val extra = (p * 7 + pg * 3 + i) % 40
      // terminal "done!" matters: the cross-page paragraph-join rule keeps
      // a page's last paragraph separate only when it ends a sentence
      // (continuation text is space-joined across the boundary)
      Seq(s"Long", s"document", s"$i", s"page", s"$pg", s"paragraph", s"$p",
        "filler", "tokens:") ++ (0 until extra.toInt).map(k => s"w${(k + p + pg) % 97}") :+
        "done!"
    }
    val paraY = (p: Int) => 740 - p * 36
    val pageStreams = (1 to nPages).map { pg =>
      (0 until parasPerPage).map { p =>
        s"BT /F1 12 Tf 72 ${paraY(p)} Td (${words(pg, p).mkString(" ")}) Tj ET\n"
      }.mkString
    }
    val paraTexts = (1 to nPages).map(pg =>
      (0 until parasPerPage).map(p => words(pg, p).mkString(" ")))
    val firstPage = 3
    val firstContent = firstPage + nPages
    val fontObj = firstContent + nPages
    val kids = (0 until nPages).map(k => s"${firstPage + k} 0 R").mkString(" ")
    val objs = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      s"<< /Type /Pages /Kids [$kids] /Count $nPages >>") ++
      (0 until nPages).map(k => pageObj(2, firstContent + k, fontObj)) ++
      pageStreams.map(contentObj(_, compress = true)) :+
      helvetica
    Doc("longdoc", classicPdf(objs),
      paraTexts.flatten.mkString("\n\n") + "\n", "en", pages = nPages,
      expectedLegacyOrNull = legacyOf(paraTexts.flatten: _*),
      pageTextsOrNull = paraTexts.map(_.mkString("\n\n") + "\n"),
      // one single-show 12 pt paragraph each at (72, 740-36p): Helvetica
      // with no /Widths -> advance 0 -> x1 == x0; y spans [y-12, y]
      regionsOrNull = (1 to nPages).flatMap(pg =>
        (0 until parasPerPage).map(p =>
          s"$pg|${p + 1}|72.0|${paraY(p) - 12}.0|72.0|${paraY(p)}.0")))
  }

  /** Document with an /Outlines tree (toc query surface): two chapters,
    * one nested section. */
  def outlined(i: Long): Doc = {
    val line = s"Outlined document $i body"
    val title = s"Outlined Document $i"
    val content = s"BT /F1 12 Tf 72 720 Td ($line) Tj ET\n"
    val pdf = classicPdf(Seq(
      "<< /Type /Catalog /Pages 2 0 R /Outlines 6 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      pageObj(2, 4, 5),
      contentObj(content, compress = false),
      helvetica,
      "<< /Type /Outlines /First 7 0 R /Last 8 0 R /Count 3 >>",
      s"<< /Title (Chapter One $i) /Dest [3 0 R /Fit] /Next 8 0 R /First 9 0 R /Last 9 0 R >>",
      "<< /Title (Chapter Two) /Dest [3 0 R /Fit] >>",
      "<< /Title (Section One One) /Dest [3 0 R /Fit] >>",
      s"<< /Title ($title) /Producer (graft-fixture-gen) >>"),
      trailerExtra = " /Info 10 0 R")
    Doc("outlined", pdf, line + "\n", "en", expectedLegacyOrNull = legacyOf(line),
      tocEntries = 3,
      tocText = s"Chapter One $i\n Section One One\nChapter Two",
      title = title)
  }

  /** Page with a JPEG /Image XObject (DCTDecode pass-through) plus a text
    * line; exercises the image-hit interpreter path. */
  def jpegImage(i: Long): Doc = {
    val line = s"Image page document $i"
    val content = s"BT /F1 12 Tf 72 720 Td ($line) Tj ET\nq 100 0 0 50 72 600 cm /Im1 Do Q\n"
    val jpegBytes = Array[Int](0xff, 0xd8, 0xff, 0xe0, 0x00, 0x10) ++
      (0 until 26).map(k => ((i + k) % 251).toInt)
    val jpegStr = new String(jpegBytes.map(_.toByte), ISO_8859_1)
    val pdf = classicPdf(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 5 0 R >> /XObject << /Im1 6 0 R >> >> /Contents 4 0 R >>",
      contentObj(content, compress = false),
      helvetica,
      s"<< /Type /XObject /Subtype /Image /Width 4 /Height 2 /ColorSpace /DeviceRGB " +
        s"/BitsPerComponent 8 /Filter /DCTDecode /Length ${jpegStr.length} >>\nstream\n$jpegStr\nendstream"))
    Doc("jpegimage", pdf, line + "\n", "en", expectedLegacyOrNull = legacyOf(line))
  }

  /** Deterministic JPX header facts for document i — the single source
    * shared by the fixture writer and the corpus ground truth (format
    * alternates between the JP2 box container and a raw codestream). */
  def jpxFacts(i: Long): (String, Int, Int, Int, Int) = {
    val w = 16 + ((i % 7) * 3).toInt
    val h = 12 + ((i % 5) * 4).toInt
    val nc = if (i % 3 == 0) 3 else 1
    val bpc = 8 + ((i % 3) * 2).toInt // 8 / 10 / 12
    (if (i % 2 == 0) "jp2" else "j2k", w, h, nc, bpc)
  }

  private def be16b(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def be32b(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  /** Minimal JPEG 2000 codestream header: SOC + SIZ + EOC + filler. Only
    * the headers are real — the engine refuses JPX decode, so no tile
    * data exists to be wrong. */
  private def j2kCodestream(w: Int, h: Int, nc: Int, bpc: Int, i: Long): Array[Byte] = {
    val comps = (0 until nc).flatMap(_ => Seq((bpc - 1).toByte, 1.toByte, 1.toByte))
    Array[Byte](0xff.toByte, 0x4f.toByte, 0xff.toByte, 0x51.toByte) ++
      be16b(38 + 3 * nc) ++ be16b(0) ++
      be32b(w) ++ be32b(h) ++ be32b(0) ++ be32b(0) ++
      be32b(w) ++ be32b(h) ++ be32b(0) ++ be32b(0) ++
      be16b(nc) ++ comps ++
      Array[Byte](0xff.toByte, 0xd9.toByte) ++ // EOC
      (0 until 12).map(k => ((i + k) % 251).toByte)
  }

  /** JP2 box container: signature box, ftyp, jp2h(ihdr), jp2c holding the
    * codestream (LBox 0 = to end of stream). */
  private def jp2Payload(w: Int, h: Int, nc: Int, bpc: Int, i: Long): Array[Byte] = {
    val sig = be32b(12) ++ "jP  ".getBytes(ISO_8859_1) ++
      Array[Byte](0x0d, 0x0a, 0x87.toByte, 0x0a)
    val ftyp = be32b(20) ++ "ftypjp2 ".getBytes(ISO_8859_1) ++
      be32b(0) ++ "jp2 ".getBytes(ISO_8859_1)
    val ihdr = be32b(22) ++ "ihdr".getBytes(ISO_8859_1) ++
      be32b(h) ++ be32b(w) ++ be16b(nc) ++
      Array((bpc - 1).toByte, 7.toByte, 0.toByte, 0.toByte)
    val jp2h = be32b(8 + ihdr.length) ++ "jp2h".getBytes(ISO_8859_1) ++ ihdr
    val jp2c = be32b(0) ++ "jp2c".getBytes(ISO_8859_1) ++
      j2kCodestream(w, h, nc, bpc, i)
    sig ++ ftyp ++ jp2h ++ jp2c
  }

  /** Page with a /JPXDecode image XObject (JP2 box container on even i,
    * raw codestream on odd). The engine REFUSES JPX decode — this fixture
    * exists so the refusal is observable: the header facts (dims,
    * components, bit depth) must round-trip through the kernel's Jp2
    * parser against these construction facts (x30). */
  def jpxImage(i: Long): Doc = {
    val line = s"JPX image document $i"
    val (fmt, w, h, nc, bpc) = jpxFacts(i)
    val payload =
      if (fmt == "jp2") jp2Payload(w, h, nc, bpc, i) else j2kCodestream(w, h, nc, bpc, i)
    val enc = new String(payload, ISO_8859_1)
    val cs = if (nc == 3) "/DeviceRGB" else "/DeviceGray"
    val content = s"BT /F1 12 Tf 72 720 Td ($line) Tj ET\nq 100 0 0 50 72 600 cm /Im1 Do Q\n"
    val pdf = classicPdf(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 5 0 R >> /XObject << /Im1 6 0 R >> >> /Contents 4 0 R >>",
      contentObj(content, compress = false),
      helvetica,
      s"<< /Type /XObject /Subtype /Image /Width $w /Height $h /ColorSpace $cs " +
        s"/BitsPerComponent 8 /Filter /JPXDecode /Length ${enc.length} >>\nstream\n$enc\nendstream"))
    Doc("jpximage", pdf, line + "\n", "en", expectedLegacyOrNull = legacyOf(line))
  }

  /** Standard-security padding constant (ISO 32000-1 Table 21 / Algorithm 2). */
  private val pwPad = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

  /** Standard-security /O, /U and 128-bit file key for an EMPTY user
    * password and owner password "owner" at R3/R4 (Algorithm 3's 51 md5 +
    * 20 RC4 rounds for /O, Algorithm 2's 51-round file key, Algorithm 5's
    * /U) — the one copy both V4 fixture writers derive from. */
  private def stdR4SecurityValues(fileId: Array[Byte], p: Int): (Array[Byte], Array[Byte], Array[Byte]) = {
    def md5(x: Array[Byte]) = java.security.MessageDigest.getInstance("MD5").digest(x)
    def padPw(pw: Array[Byte]) = (pw ++ pwPad).take(32)
    def xorKey(k: Array[Byte], m: Int) = k.map(b => (b ^ m).toByte)
    var oKey = md5(padPw(b("owner")))
    for (_ <- 1 to 50) oKey = md5(oKey)
    oKey = oKey.take(16)
    var oValue = padPw(Array.emptyByteArray)
    for (m <- 0 to 19) oValue = Crypt.rc4(xorKey(oKey, m), oValue)
    val pLe = Array((p & 0xff).toByte, ((p >> 8) & 0xff).toByte,
      ((p >> 16) & 0xff).toByte, ((p >>> 24) & 0xff).toByte)
    var fileKey = md5(padPw(Array.emptyByteArray) ++ oValue ++ pLe ++ fileId)
    for (_ <- 1 to 50) fileKey = md5(fileKey.take(16))
    fileKey = fileKey.take(16)
    var uValue = Crypt.rc4(fileKey, md5(pwPad ++ fileId))
    for (m <- 1 to 19) uValue = Crypt.rc4(xorKey(fileKey, m), uValue)
    uValue = uValue.take(16) ++ new Array[Byte](16)
    (oValue, uValue, fileKey)
  }

  /** Case-mixed hex: first byte uppercased so a value starting FE FF is
    * never parsed as a UTF-16BE marker (see encryptedRc4's comment). */
  private def hexUp(xs: Array[Byte]): String = {
    val h = xs.map(x => f"${x & 0xff}%02x").mkString
    if (h.length >= 2) h.substring(0, 2).toUpperCase + h.substring(2) else h
  }

  /** AES-128 (V4/R4, /CFM /AESV2) encrypted document, empty user password.
    * The writer mirrors Algorithms 2/3/4/5 so the engine's decrypt path is
    * exercised end-to-end. */
  def encryptedAes(i: Long): Doc = {
    val line = s"AES encrypted document $i"
    val content = s"BT /F1 12 Tf 72 720 Td ($line) Tj ET\n"
    def md5(x: Array[Byte]) = java.security.MessageDigest.getInstance("MD5").digest(x)
    val fileId = md5(b(s"aes-corpus-id-$i"))
    val p = -3904
    val (oValue, uValue, fileKey) = stdR4SecurityValues(fileId, p)
    val sec = Security(revision = 4, version = 4, key = fileKey, keyLength = 16, aes = true)
    // AES-CBC encrypt the content stream with object 4's key
    val objKey = Crypt.objectKey(sec, 4, 0)
    val iv = md5(b(s"iv-$i")).take(16)
    val cipher = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
    cipher.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(objKey, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    val encContent = iv ++ cipher.doFinal(b(content))
    val encContentStr = new String(encContent, ISO_8859_1)
    val objs = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      pageObj(2, 4, 5),
      s"<< /Length ${encContentStr.length} >>\nstream\n$encContentStr\nendstream",
      helvetica,
      s"<< /Filter /Standard /V 4 /R 4 /Length 128 " +
        s"/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen /Length 16 >> >> " +
        s"/StmF /StdCF /StrF /StdCF " +
        s"/O <${hexUp(oValue)}> /U <${hexUp(uValue)}> /P $p >>")
    val pdf = classicPdf(objs,
      trailerExtra = s" /Encrypt 6 0 R /ID [<${hexUp(fileId)}> <${hexUp(fileId)}>]")
    Doc("encryptedaes", pdf, line + "\n", "en", expectedLegacyOrNull = legacyOf(line))
  }

  /** Page with a JBIG2 (MMR generic region) image XObject — the
    * /JBIG2Decode path over the shared T.6 kernel. Not in the corpus
    * cycle. */
  def jbig2Image(i: Long): Doc = {
    val line = s"JBIG2 image document $i"
    val w = 48
    val h = 10
    val bitmap = jbig2Bitmap(i)
    val enc = new String(graft.core.Jbig2.encodeEmbedded(bitmap, w), ISO_8859_1)
    val content = s"BT /F1 12 Tf 72 720 Td ($line) Tj ET\nq 96 0 0 20 72 560 cm /Im1 Do Q\n"
    val pdf = classicPdf(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 5 0 R >> /XObject << /Im1 6 0 R >> >> /Contents 4 0 R >>",
      contentObj(content, compress = false),
      helvetica,
      s"<< /Type /XObject /Subtype /Image /Width $w /Height $h /ColorSpace /DeviceGray " +
        s"/BitsPerComponent 1 /Filter /JBIG2Decode /Length ${enc.length} >>\nstream\n$enc\nendstream"))
    Doc("jbig2image", pdf, line + "\n", "en", expectedLegacyOrNull = legacyOf(line))
  }

  /** Page with an MQ arithmetic-coded JBIG2 generic-region image XObject
    * (T.88 Annex E) — the dominant real-world scanned-PDF encoding.
    * Template and TPGDON vary with the caller. Not in the corpus cycle. */
  def jbig2ImageArith(i: Long, template: Int, tpgdon: Boolean): Doc = {
    val line = s"JBIG2 arith image document $i"
    val w = 48
    val h = 10
    val bitmap = jbig2Bitmap(i)
    val enc = new String(
      graft.core.Jbig2.encodeEmbeddedArith(bitmap, w, template, tpgdon), ISO_8859_1)
    val content = s"BT /F1 12 Tf 72 720 Td ($line) Tj ET\nq 96 0 0 20 72 560 cm /Im1 Do Q\n"
    val pdf = classicPdf(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 5 0 R >> /XObject << /Im1 6 0 R >> >> /Contents 4 0 R >>",
      contentObj(content, compress = false),
      helvetica,
      s"<< /Type /XObject /Subtype /Image /Width $w /Height $h /ColorSpace /DeviceGray " +
        s"/BitsPerComponent 1 /Filter /JBIG2Decode /Length ${enc.length} >>\nstream\n$enc\nendstream"))
    Doc("jbig2imagearith", pdf, line + "\n", "en", expectedLegacyOrNull = legacyOf(line))
  }

  /** Page with a symbol-coded JBIG2 image XObject (arithmetic symbol
    * dictionary + text region, T.88 6.4/6.5) — how real scanners encode
    * TEXT pages. Not in the corpus cycle. */
  def jbig2ImageSym(i: Long): Doc = {
    val line = s"JBIG2 symbol image document $i"
    val w = 64
    val h = 24
    val enc = new String(graft.core.Jbig2.encodeEmbeddedSymbolText(
      jbig2SymGlyphs(i), jbig2SymInstances(i), w, h,
      template = ((i / 7) % 4).toInt), ISO_8859_1)
    val content = s"BT /F1 12 Tf 72 720 Td ($line) Tj ET\nq 128 0 0 48 72 560 cm /Im1 Do Q\n"
    val pdf = classicPdf(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 5 0 R >> /XObject << /Im1 6 0 R >> >> /Contents 4 0 R >>",
      contentObj(content, compress = false),
      helvetica,
      s"<< /Type /XObject /Subtype /Image /Width $w /Height $h /ColorSpace /DeviceGray " +
        s"/BitsPerComponent 1 /Filter /JBIG2Decode /Length ${enc.length} >>\nstream\n$enc\nendstream"))
    Doc("jbig2imagesym", pdf, line + "\n", "en", expectedLegacyOrNull = legacyOf(line))
  }

  /** Huffman-coded variant of [[jbig2ImageSym]] (SDHUFF=1/SBHUFF=1,
    * standard tables B.4/B.2/B.1 + B.6/B.8/B.11) — the other symbol-text
    * coding real scanners emit. The height class's collective bitmap
    * alternates uncompressed / MMR-coded by parity. Same construction-fact
    * glyphs/instances/page bitmap as the arithmetic variant. */
  def jbig2ImageSymHuffman(i: Long): Doc = {
    val line = s"JBIG2 Huffman symbol image document $i"
    val w = 64
    val h = 24
    // cycles all three Huffman shapes: standard tables with uncompressed
    // collective (i%4==0,2 with custom split below), MMR collective
    // (odd i), CUSTOM DW/DT table segments (i%4==2)
    val enc = new String(graft.core.Jbig2.encodeEmbeddedSymbolTextHuffman(
      jbig2SymGlyphs(i), jbig2SymInstances(i), w, h,
      mmr = (i % 2) == 1, customTables = (i % 4) == 2), ISO_8859_1)
    val content = s"BT /F1 12 Tf 72 720 Td ($line) Tj ET\nq 128 0 0 48 72 560 cm /Im1 Do Q\n"
    val pdf = classicPdf(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 5 0 R >> /XObject << /Im1 6 0 R >> >> /Contents 4 0 R >>",
      contentObj(content, compress = false),
      helvetica,
      s"<< /Type /XObject /Subtype /Image /Width $w /Height $h /ColorSpace /DeviceGray " +
        s"/BitsPerComponent 1 /Filter /JBIG2Decode /Length ${enc.length} >>\nstream\n$enc\nendstream"))
    Doc("jbig2imagesymhuff", pdf, line + "\n", "en", expectedLegacyOrNull = legacyOf(line))
  }

  /** V4 encrypt dict that declares NO crypt filters (/CF //StmF //StrF all
    * absent) and leaves streams as plaintext: ISO 32000-1 7.6.5's default
    * for an absent /StmF//StrF is /Identity, so a conforming reader must
    * pass the streams through undecrypted. Exercises the spec-default
    * branch of Crypt.filterIsIdentity (strings in the dict itself are
    * still not a factor — the fixture has none). Not in the corpus cycle. */
  def encryptedNoCf(i: Long): Doc = {
    val line = s"Identity-default document $i"
    val content = s"BT /F1 12 Tf 72 720 Td ($line) Tj ET\n"
    def md5(x: Array[Byte]) = java.security.MessageDigest.getInstance("MD5").digest(x)
    val fileId = md5(b(s"nocf-corpus-id-$i"))
    val p = -3904
    val (oValue, uValue, _) = stdR4SecurityValues(fileId, p)
    val objs = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      pageObj(2, 4, 5),
      contentObj(content, compress = false), // PLAINTEXT stream
      helvetica,
      s"<< /Filter /Standard /V 4 /R 4 /Length 128 " +
        s"/O <${hexUp(oValue)}> /U <${hexUp(uValue)}> /P $p >>")
    val pdf = classicPdf(objs,
      trailerExtra = s" /Encrypt 6 0 R /ID [<${hexUp(fileId)}> <${hexUp(fileId)}>]")
    Doc("encryptednocf", pdf, line + "\n", "en", expectedLegacyOrNull = legacyOf(line))
  }

  /** Nested Form XObjects (Fm0 containing Fm1) for the form-export surface;
    * not part of the corpus cycle. */
  def formParent(i: Long): Doc = {
    val inner = s"BT /F1 10 Tf 10 10 Td (Inner form $i) Tj ET\n"
    val outer = s"BT /F1 10 Tf 5 40 Td (Outer form $i) Tj ET\nq /Fm1 Do Q\n"
    val content = "q 1 0 0 1 100 500 cm /Fm0 Do Q\n"
    val pdf = classicPdf(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 5 0 R >> /XObject << /Fm0 6 0 R >> >> /Contents 4 0 R >>",
      contentObj(content, compress = false),
      helvetica,
      s"<< /Type /XObject /Subtype /Form /BBox [0 0 200 100] /Matrix [1 0 0 1 0 0] " +
        s"/Resources << /Font << /F1 5 0 R >> /XObject << /Fm1 7 0 R >> >> " +
        s"/Length ${outer.length} >>\nstream\n$outer\nendstream",
      s"<< /Type /XObject /Subtype /Form /BBox [0 0 100 50] " +
        s"/Resources << /Font << /F1 5 0 R >> >> /Length ${inner.length} >>\nstream\n$inner\nendstream"))
    Doc("formparent", pdf, s"Outer form $i\n\nInner form $i\n", "en")
  }

  /** LZW encoder (TIFF/PDF variant) for fixture construction: Clear first,
    * 9->12-bit codes, width bump mirroring the decoder's EarlyChange rule. */
  def lzwEncode(data: Array[Byte], earlyChange: Int = 1): Array[Byte] = {
    val out = new ArrayBuffer[Byte]
    var bitBuf = 0L
    var bitCnt = 0
    var width = 9
    def emit(code: Int): Unit = {
      bitBuf = (bitBuf << width) | code
      bitCnt += width
      while (bitCnt >= 8) {
        out += ((bitBuf >> (bitCnt - 8)) & 0xff).toByte
        bitCnt -= 8
      }
    }
    val dict = scala.collection.mutable.HashMap.empty[String, Int]
    var next = 258
    def codeOf(w: String): Int = if (w.length == 1) w.charAt(0).toInt else dict(w)
    emit(256) // Clear
    var w = ""
    for (byte <- data) {
      val c = (byte & 0xff).toChar
      val wc = w + c
      if (w.nonEmpty && (dict.contains(wc))) w = wc
      else if (w.isEmpty) w = c.toString
      else {
        emit(codeOf(w))
        if (next < 4096) {
          dict(wc) = next
          next += 1
          // mirror decoder: bump when (table size) + earlyChange reaches 2^width
          if ((next - 1) + earlyChange >= (1 << width) && width < 12) width += 1
        }
        w = c.toString
      }
    }
    if (w.nonEmpty) emit(codeOf(w))
    emit(257) // EOD
    if (bitCnt > 0) out += ((bitBuf << (8 - bitCnt)) & 0xff).toByte
    out.toArray
  }

  /** RunLengthDecode encoder: repeat runs >= 3 as 257-n + byte, literals in
    * chunks of <= 128, EOD 128. */
  def runLengthEncode(data: Array[Byte]): Array[Byte] = {
    val out = new ArrayBuffer[Byte]
    def runLenAt(j: Int): Int = {
      var r = 1
      while (j + r < data.length && data(j + r) == data(j) && r < 128) r += 1
      r
    }
    var i = 0
    while (i < data.length) {
      val run = runLenAt(i)
      if (run >= 3) {
        out += (257 - run).toByte
        out += data(i)
        i += run
      } else {
        // literal chunk: extend until a >=3 repeat run starts or 128 bytes
        var litLen = run
        while (i + litLen < data.length && litLen < 128 && runLenAt(i + litLen) < 3)
          litLen += 1
        litLen = math.min(litLen, 128)
        out += (litLen - 1).toByte
        var k = 0
        while (k < litLen) { out += data(i + k); k += 1 }
        i += litLen
      }
    }
    out += 128.toByte // EOD
    out.toArray
  }

  /** AES-256 R6 (PDF 2.0, ISO 32000-2) encrypted document, empty user
    * password — beyond reference parity (reference handles R<=4 only). */
  def encryptedAes256(i: Long): Doc = {
    val line = s"AES-256 encrypted document $i"
    val content = s"BT /F1 12 Tf 72 720 Td ($line) Tj ET\n"
    def sha256(x: Array[Byte]) = java.security.MessageDigest.getInstance("SHA-256").digest(x)
    val r = 6
    val pw = Array.emptyByteArray
    val fileKey = sha256(b(s"graft-r6-file-key-$i")) // 32 bytes
    val vSaltU = sha256(b(s"vsu-$i")).take(8)
    val kSaltU = sha256(b(s"ksu-$i")).take(8)
    val vSaltO = sha256(b(s"vso-$i")).take(8)
    val kSaltO = sha256(b(s"kso-$i")).take(8)
    val none = Array.emptyByteArray
    val uValue = Crypt.hash2B(r, pw, vSaltU, none) ++ vSaltU ++ kSaltU // 48 bytes
    val ueValue = Crypt.aesCbcEncrypt(Crypt.hash2B(r, pw, kSaltU, none),
      new Array[Byte](16), fileKey)
    val oValue = Crypt.hash2B(r, pw, vSaltO, uValue) ++ vSaltO ++ kSaltO
    val oeValue = Crypt.aesCbcEncrypt(Crypt.hash2B(r, pw, kSaltO, uValue),
      new Array[Byte](16), fileKey)
    val p = -4
    // /Perms: P-le32 ++ ff ff ff ff ++ 'T' ++ "adb" ++ 4 filler, AES-256-ECB
    val permsPlain = Array((p & 0xff).toByte, ((p >> 8) & 0xff).toByte,
      ((p >> 16) & 0xff).toByte, ((p >>> 24) & 0xff).toByte) ++
      Array(0xff, 0xff, 0xff, 0xff).map(_.toByte) ++ b("Tadb") ++ b("grft")
    val ecb = javax.crypto.Cipher.getInstance("AES/ECB/NoPadding")
    ecb.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(fileKey, "AES"))
    val permsValue = ecb.doFinal(permsPlain)
    // content stream: IV ++ AES-256-CBC with PKCS#7 padding, file key direct
    val iv = sha256(b(s"iv256-$i")).take(16)
    val cipher = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
    cipher.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(fileKey, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    val encContentStr = new String(iv ++ cipher.doFinal(b(content)), ISO_8859_1)
    def hex(xs: Array[Byte]) = xs.map(x => f"${x & 0xff}%02X").mkString
    val objs = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      pageObj(2, 4, 5),
      s"<< /Length ${encContentStr.length} >>\nstream\n$encContentStr\nendstream",
      helvetica,
      s"<< /Filter /Standard /V 5 /R 6 /Length 256 " +
        s"/CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen /Length 32 >> >> " +
        s"/StmF /StdCF /StrF /StdCF " +
        s"/O <${hex(oValue)}> /U <${hex(uValue)}> " +
        s"/OE <${hex(oeValue)}> /UE <${hex(ueValue)}> " +
        s"/Perms <${hex(permsValue)}> /P $p >>")
    val pdf = classicPdf(objs, trailerExtra = " /Encrypt 6 0 R")
    Doc("encryptedaes256", pdf, line + "\n", "en", expectedLegacyOrNull = legacyOf(line))
  }

  /** One page whose content stream is /LZWDecode compressed (beyond
    * reference parity: the reference errors on LZW). */
  def lzwDoc(i: Long): Doc = {
    val line = s"LZW compressed document $i"
    val content = s"BT /F1 12 Tf 72 720 Td ($line) Tj ET\n"
    val enc = new String(lzwEncode(b(content)), ISO_8859_1)
    val pdf = classicPdf(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      pageObj(2, 4, 5),
      s"<< /Length ${enc.length} /Filter /LZWDecode >>\nstream\n$enc\nendstream",
      helvetica))
    Doc("lzw", pdf, line + "\n", "en", expectedLegacyOrNull = legacyOf(line))
  }

  /** One page whose content stream is /RunLengthDecode compressed (beyond
    * reference parity: the reference errors on RunLength). */
  def runLengthDoc(i: Long): Doc = {
    val line = s"RunLength compressed document $i"
    val content = s"BT /F1 12 Tf 72 720 Td ($line) Tj ET\n"
    val enc = new String(runLengthEncode(b(content)), ISO_8859_1)
    val pdf = classicPdf(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      pageObj(2, 4, 5),
      s"<< /Length ${enc.length} /Filter /RunLengthDecode >>\nstream\n$enc\nendstream",
      helvetica))
    Doc("runlength", pdf, line + "\n", "en", expectedLegacyOrNull = legacyOf(line))
  }

  /** Page with a CCITT Group 4 (/K -1) image XObject — exercises the G4
    * decode + 1-bit PNG export path. Not in `kinds` (the 15-kind corpus mix
    * is pinned by the scaling history); used by CcittSpec and available as
    * a standalone builder. The bitmap is a deterministic diagonal pattern. */
  /** Construction bitmaps for the scanned-image fixtures — shared by the
    * PDF builders below and the scanned-corpus oracle facts (one formula,
    * no drift). */
  def ccittBitmap(i: Long): Array[Array[Boolean]] =
    Array.tabulate(16, 48)((y, x) => ((x + y + i) % 5) < 2)
  def ccittG3Bitmap(i: Long): Array[Array[Boolean]] =
    Array.tabulate(12, 40)((y, x) => ((x * 3 + y + i) % 7) < 3)
  def jbig2Bitmap(i: Long): Array[Array[Boolean]] =
    Array.tabulate(10, 48)((y, x) => ((x + 2 * y + i) % 6) < 3)

  /** Symbol-coded JBIG2 construction facts: three 5x8 glyphs, two text
    * lines of 8 instances — the glyph shapes, placements, and the OR-
    * composited page bitmap are all one formula (encoder input == oracle
    * pixels by construction). */
  def jbig2SymGlyphs(i: Long): Seq[Array[Array[Boolean]]] =
    (0 until 3).map(k =>
      Array.tabulate(8, 5)((y, x) => ((x * (k + 2) + y * (7 - k) + i) % 5) < 2))
  def jbig2SymInstances(i: Long): Seq[(Int, Int, Int)] =
    (0 until 8).map(c => (((c + i) % 3).toInt, 2 + c * 7, 3)) ++
      (0 until 8).map(c => (((c + i + 1) % 3).toInt, 4 + c * 7, 13))
  def jbig2SymBitmap(i: Long): Array[Array[Boolean]] = {
    val glyphs = jbig2SymGlyphs(i)
    val page = Array.ofDim[Boolean](24, 64)
    for ((id, s, t) <- jbig2SymInstances(i); y <- 0 until 8; x <- 0 until 5
         if glyphs(id)(y)(x) && t + y < 24 && s + x < 64)
      page(t + y)(s + x) = true
    page
  }

  def ccittImage(i: Long): Doc = {
    val line = s"CCITT image document $i"
    val w = 48
    val h = 16
    val bitmap = ccittBitmap(i)
    val enc = new String(graft.core.Ccitt.encodeG4(bitmap, w), ISO_8859_1)
    val content = s"BT /F1 12 Tf 72 720 Td ($line) Tj ET\nq 96 0 0 32 72 560 cm /Im1 Do Q\n"
    val pdf = classicPdf(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 5 0 R >> /XObject << /Im1 6 0 R >> >> /Contents 4 0 R >>",
      contentObj(content, compress = false),
      helvetica,
      s"<< /Type /XObject /Subtype /Image /Width $w /Height $h /ColorSpace /DeviceGray " +
        s"/BitsPerComponent 1 /Filter /CCITTFaxDecode " +
        s"/DecodeParms << /K -1 /Columns $w /Rows $h >> /Length ${enc.length} >>\nstream\n$enc\nendstream"))
    Doc("ccittimage", pdf, line + "\n", "en", expectedLegacyOrNull = legacyOf(line))
  }

  /** Page with a CCITT Group 3 1-D (/K 0) image XObject — real scanned
    * corpora mix G3 and G4; exercises the T.4 MH decode path end to end
    * through the same image exporter. */
  def ccittImageG3(i: Long, k: Int = 0): Doc = {
    val line = s"CCITT G3 image document $i"
    val w = 40
    val h = 12
    val bitmap = ccittG3Bitmap(i)
    val enc = new String(
      if (k > 0) graft.core.Ccitt.encodeG3Mixed(bitmap, w, k)
      else graft.core.Ccitt.encodeG3(bitmap, w), ISO_8859_1)
    val content = s"BT /F1 12 Tf 72 720 Td ($line) Tj ET\nq 80 0 0 24 72 560 cm /Im1 Do Q\n"
    val pdf = classicPdf(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 5 0 R >> /XObject << /Im1 6 0 R >> >> /Contents 4 0 R >>",
      contentObj(content, compress = false),
      helvetica,
      s"<< /Type /XObject /Subtype /Image /Width $w /Height $h /ColorSpace /DeviceGray " +
        s"/BitsPerComponent 1 /Filter /CCITTFaxDecode " +
        s"/DecodeParms << /K $k /Columns $w /Rows $h >> /Length ${enc.length} >>\nstream\n$enc\nendstream"))
    Doc("ccittimageg3", pdf, line + "\n", "en", expectedLegacyOrNull = legacyOf(line))
  }

  /** Real media payloads for the image-decode surface (x17): JDK ImageIO
    * JPEG (lossy — only the DIMENSIONS are oracle-able construction facts)
    * and our minimal PNG (lossless — the exact pixel bytes are construction
    * facts too). Returned as (bytes, width, height, pixelsOrNull). */
  final case class Media(bytes: Array[Byte], format: String, width: Int, height: Int,
      pixels: Array[Byte])

  private def mediaPixels(i: Long, w: Int, h: Int, bands: Int): Array[Byte] =
    Array.tabulate(w * h * bands) { k =>
      val x = (k / bands) % w
      val y = k / bands / w
      ((x * 7 + y * 13 + i * 31 + k % bands * 5) % 256).toByte
    }

  def mediaJpeg(i: Long): Media = {
    val w = 16 + (i % 8).toInt * 4
    val h = 12 + (i % 5).toInt * 4
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val px = mediaPixels(i, w, h, 3)
    var k = 0
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = ((px(k) & 0xff) << 16) | ((px(k + 1) & 0xff) << 8) | (px(k + 2) & 0xff)
      img.setRGB(x, y, rgb)
      k += 3
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", baos)
    Media(baos.toByteArray, "jpeg", w, h, null) // lossy: pixels not a fact
  }

  def mediaPng(i: Long): Media = {
    val w = 8 + (i % 6).toInt * 3
    val h = 8 + (i % 4).toInt * 3
    val px = mediaPixels(i, w, h, 1)
    Media(Images.encodePng(w, h, px, rgb = false), "png", w, h, px)
  }

  /** Real PCM WAV payload for the audio-decode surface (x18): the RIFF
    * container is authored here byte by byte, so every header field AND
    * the exact PCM sample bytes are construction facts (PCM is lossless —
    * a correct decoder must return them verbatim). */
  final case class Wav(bytes: Array[Byte], sampleRate: Int, channels: Int,
      bits: Int, nSamples: Int, pcm: Array[Byte])

  def mediaWav(i: Long): Wav = {
    val rates = Array(8000, 16000, 44100)
    val sampleRate = rates((i % 3).toInt)
    val channels = 1 + (i % 2).toInt
    val bits = 16
    val nSamples = 400 + (i % 5).toInt * 100 // frames (per channel)
    val pcm = new Array[Byte](nSamples * channels * 2)
    var k = 0
    while (k < nSamples * channels) {
      // deterministic sawtooth-ish 16-bit LE samples
      val v = (((i * 7 + k * 131) % 65536) - 32768).toInt
      pcm(2 * k) = (v & 0xff).toByte
      pcm(2 * k + 1) = ((v >> 8) & 0xff).toByte
      k += 1
    }
    val byteRate = sampleRate * channels * bits / 8
    val blockAlign = channels * bits / 8
    val out = new ArrayBuffer[Byte]
    def le32(v: Int): Unit = out ++= Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >>> 24) & 0xff).toByte)
    def le16(v: Int): Unit = out ++= Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    out ++= b("RIFF"); le32(36 + pcm.length); out ++= b("WAVE")
    out ++= b("fmt "); le32(16); le16(1 /* PCM */); le16(channels)
    le32(sampleRate); le32(byteRate); le16(blockAlign); le16(bits)
    out ++= b("data"); le32(pcm.length)
    out ++= pcm
    Wav(out.toArray, sampleRate, channels, bits, nSamples, pcm)
  }

  /** Real MJPEG/AVI payload for the video frame-decode surface (x20): the
    * RIFF/AVI container (avih + strl vids/MJPG + movi '00dc' chunks + idx1)
    * is authored here byte by byte, and every frame is an independently
    * authored JPEG — so the container header fields (dims, fps, frame
    * count) AND the exact per-frame JPEG bytes are construction facts. A
    * correct demuxer must hand the frame bytes back verbatim (md5), and a
    * correct frame decoder must recover the authored dimensions. */
  final case class Avi(bytes: Array[Byte], width: Int, height: Int, fps: Int,
      nFrames: Int, frames: Vector[Array[Byte]])

  def mediaAvi(i: Long): Avi = {
    val w = 16 + (i % 5).toInt * 8
    val h = 12 + (i % 4).toInt * 8
    val fps = Array(10, 15, 25)((i % 3).toInt)
    val nFrames = 3 + (i % 4).toInt
    val frames = Vector.tabulate(nFrames) { f =>
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      val px = mediaPixels(i * 100 + f, w, h, 3)
      var k = 0
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = ((px(k) & 0xff) << 16) | ((px(k + 1) & 0xff) << 8) | (px(k + 2) & 0xff)
        img.setRGB(x, y, rgb)
        k += 3
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpeg", baos)
      baos.toByteArray
    }
    val out = new ArrayBuffer[Byte]
    def le32(v: Int): Unit = out ++= Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >>> 24) & 0xff).toByte)
    def le16(v: Int): Unit = out ++= Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def chunk(fourcc: String)(body: => Unit): Unit = {
      out ++= b(fourcc)
      val sizeAt = out.length; le32(0)
      body
      val size = out.length - sizeAt - 4
      out(sizeAt) = (size & 0xff).toByte
      out(sizeAt + 1) = ((size >> 8) & 0xff).toByte
      out(sizeAt + 2) = ((size >> 16) & 0xff).toByte
      out(sizeAt + 3) = ((size >>> 24) & 0xff).toByte
      if (size % 2 == 1) out += 0 // RIFF chunks are word-aligned
    }
    def list(kind: String)(body: => Unit): Unit = chunk("LIST") { out ++= b(kind); body }
    chunk("RIFF") {
      out ++= b("AVI ")
      list("hdrl") {
        chunk("avih") { // MainAVIHeader, 56 bytes
          le32(1000000 / fps); le32(0); le32(0); le32(0x10 /* HASINDEX */)
          le32(nFrames); le32(0); le32(1); le32(0)
          le32(w); le32(h); le32(0); le32(0); le32(0); le32(0)
        }
        list("strl") {
          chunk("strh") { // AVIStreamHeader, 56 bytes
            out ++= b("vids"); out ++= b("MJPG")
            le32(0); le16(0); le16(0); le32(0)
            le32(1 /* scale */); le32(fps /* rate */); le32(0); le32(nFrames)
            le32(frames.map(_.length).max); le32(-1); le32(0)
            le16(0); le16(0); le16(w); le16(h)
          }
          chunk("strf") { // BITMAPINFOHEADER, 40 bytes
            le32(40); le32(w); le32(h); le16(1); le16(24)
            out ++= b("MJPG"); le32(w * h * 3); le32(0); le32(0); le32(0); le32(0)
          }
        }
      }
      val frameOffsets = new ArrayBuffer[Int]
      list("movi") {
        val moviStart = out.length - 4 // offset of 'movi' fourcc
        frames.foreach { fr =>
          frameOffsets += out.length - moviStart
          chunk("00dc") { out ++= fr }
        }
      }
      chunk("idx1") {
        frames.indices.foreach { f =>
          out ++= b("00dc"); le32(0x10 /* AVIIF_KEYFRAME */)
          le32(frameOffsets(f)); le32(frames(f).length)
        }
      }
    }
    Avi(out.toArray, w, h, fps, nFrames, frames)
  }

  val kinds: Vector[Long => Doc] = Vector(
    classic, flate, xrefStream, objStm, multipage, tagged, encryptedRc4, htmlPage, textRow,
    outlined, jpegImage, encryptedAes, lzwDoc, runLengthDoc, encryptedAes256)

  /** Deterministic corpus row i. */
  def docFor(i: Long): Doc = kinds((i % kinds.length).toInt)(i)

  /** Bench-weighted row: alternate heavy multi-page books with the light
    * variants (average kernel cost close to a real crawl's PDF mix). */
  def docForHeavy(i: Long): Doc =
    if (i % 2 == 0) book(i) else docFor(i)

  /** Heavy-tailed row: a rare giant book (every 100th row) in a sea of
    * light documents. At the 4000-page default (~2.2 MB, ~0.6 s kernel) a
    * giant is a task-stalling unit next to the ~600 B light kinds — a
    * >1000x byte spread, the heavy-tailed shape a crawl corpus has. */
  def docForHeavyTail(i: Long, giantPages: Int = 4000): Doc =
    if (i % 100 == 0) bookN(i, giantPages) else docFor(i)
}
