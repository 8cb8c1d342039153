package graft.core

import scala.collection.immutable.TreeMap
import PObj._
import DocStructure.{Dict, Document, emptyDict}

/** Legacy stream-order extractor (reference src/PDF/ContentStream.hs +
  * Text.hs walkdown).
  *
  * A char-level backtracking parser producing text directly, with inline
  * line/paragraph-break decisions driven by text-matrix motion. Parsec's
  * user state rolls back on backtracking, so every alternative snapshots
  * (position, state).
  */
object Legacy {

  /** Parser state (reference Definition.hs PSR). */
  final case class PSR(
      linex: Double = 0,
      liney: Double = 0,
      absolutex: Double = 0,
      absolutey: Double = 0,
      textLm: (Double, Double, Double, Double, Double, Double) = (1, 0, 0, 1, 0, 0),
      textM: (Double, Double, Double, Double, Double, Double) = (1, 0, 0, 1, 0, 0),
      textBreak: Boolean = false,
      leftmargin: Double = 0,
      fontfactor: Double = 1,
      curfont: String = "",
      cmaps: Map[String, Map[Int, String]] = Map.empty,
      fontmaps: Map[String, Encoding] = Map.empty,
      warnings: List[PdfWarning] = Nil,
      resDict: Option[Dict] = None,
      formDepth: Int = 0)

  private val MaxFormDepth = 12

  // ---------- document drivers ----------

  /** walkdown (Text.hs:346-353): every page starts from the initial state. */
  def legacyText(doc: Document): (String, List[PdfWarning]) =
    doc.rootRef match {
      case Right(rootref) =>
        val refs = DocStructure.pageRefsFromRoot(rootref, doc)
        val results = refs.map(pageContentRef(PSR(), doc, _))
        (results.map(_._1).mkString, results.flatMap(_._2))
      case Left(_) => ("", Nil)
    }

  def pageContentRef(st: PSR, doc: Document, ref: Int): (String, List[PdfWarning]) =
    doc.objsByRef(ref) match {
      case Some(os) => DocStructure.findDictOfType("/Page", os) match {
        case Some(dict) => pageContent(ref, dict, st, doc)
        case None => ("", List(PdfWarning.PageContentFailed(ref, "not a page dictionary")))
      }
      case None => ("", List(PdfWarning.PageContentFailed(ref, "missing page object")))
    }

  /** contentsStream (DocumentStructure.hs:189-204): concat /Contents
    * streams, then parse. */
  def pageContent(ref: Int, dict: Dict, st: PSR, doc: Document): (String, List[PdfWarning]) = {
    val contentE: Either[PdfError, Array[Byte]] = dict.get("/Contents") match {
      case Some(PArray(arr)) => Right(concatStreams(doc, Lexer.refsOf(arr)))
      case Some(PRef(r)) => doc.objsByRef(r) match {
        case Some(List(PArray(arr))) => Right(concatStreams(doc, Lexer.refsOf(arr)))
        case Some(_) => doc.rawStreamByRef(r)
        case None => Left(PdfError.MissingKey("/Contents", r.toString))
      }
      case _ => Left(PdfError.MissingKey("/Contents", "page"))
    }
    contentE match {
      case Left(err) => ("", List(PdfWarning.PageContentFailed(ref, err.render)))
      case Right(bytes) =>
        val st2 = st.copy(
          fontmaps = findFontEncoding(dict, doc),
          cmaps = findCMap(dict, doc),
          resDict = Some(dict))
        parseStream(doc, st2, bytes) match {
          case Right((txt, ws)) => (txt, ws)
          case Left(err) => ("", List(PdfWarning.PageContentFailed(ref, err.render)))
        }
    }
  }

  private def concatStreams(doc: Document, refs: List[Int]): Array[Byte] = {
    val out = new scala.collection.mutable.ArrayBuffer[Byte]
    for (r <- refs; s <- doc.rawStreamByRef(r).toOption) out ++= s
    out.toArray
  }

  /** findFontEncoding / findCMap (DocumentStructure.hs:774-778, 898-900):
    * first occurrence per resource name wins (ascending name order). */
  def findFontEncoding(dict: Dict, doc: Document): Map[String, Encoding] = {
    val fonts = Fonts.fontObjs(dict, doc)
    var m = Map.empty[String, Encoding]
    for ((n, v) <- fonts) v match {
      case PRef(r) if !m.contains(n) =>
        val enc = doc.findDictByRef(r) match {
          case Some(d) => Fonts.encodingFromDict(doc, d)
          case None => Encoding.NullMap
        }
        m = m.updated(n, enc)
      case _ => ()
    }
    m
  }

  def findCMap(dict: Dict, doc: Document): Map[String, Map[Int, String]] = {
    val fonts = Fonts.fontObjs(dict, doc)
    var m = Map.empty[String, Map[Int, String]]
    for ((n, v) <- fonts) v match {
      case PRef(r) if !m.contains(n) =>
        val cm = doc.findDictByRef(r) match {
          case Some(d) => Fonts.toUnicodeFromDict(doc, d)
          case None => Map.empty[Int, String]
        }
        m = m.updated(n, cm)
      case _ => ()
    }
    m
  }

  /** parseStream (ContentStream.hs:50-59). */
  def parseStream(doc: Document, psr: PSR, bytes: Array[Byte]): Either[PdfError, (String, List[PdfWarning])] = {
    val p = new P(doc, bytes, psr)
    try {
      p.skipSpaces()
      val sb = new StringBuilder
      var go = true
      while (go) {
        p.attemptT(p.elems()) match {
          case Some(t) => sb.append(t)
          case None => p.attemptT(p.skipOther()) match {
            case Some(_) => ()
            case None => go = false
          }
        }
      }
      Right((sb.toString, p.st.warnings.reverse))
    } catch {
      case _: ParseBudgetExceeded =>
        Left(PdfError.ParseError("content stream: legacy parse budget exceeded"))
    }
  }

  /** contentsColorSpace (DocumentStructure.hs:382-394): colorspace names
    * seen in a page's content streams, with XObject /ColorSpace names
    * substituted at Do sites. */
  def pageColorSpaces(doc: Document, pageRef: Int): List[String] =
    doc.objsByRef(pageRef).flatMap(DocStructure.findDictOfType("/Page", _)) match {
      case None => Nil
      case Some(dict) =>
        // per-XObject /ColorSpace names (findXObjectColorSpace)
        val xobjcs: List[String] = DocStructure.findResourcesDict(dict, doc)
          .flatMap(_.get("/XObject") match {
            case Some(PObj.PDict(xd)) => Some(xd)
            case Some(PObj.PRef(r)) => doc.findDictByRef(r)
            case _ => None
          }) match {
          case Some(xd) => xd.toList.collect { case (_, PObj.PRef(r)) =>
            doc.findDictByRef(r).flatMap(_.get("/ColorSpace")) match {
              case Some(PObj.PName(cs)) => cs
              case _ => ""
            }
          }
          case None => Nil
        }
        val refs: List[Int] = dict.get("/Contents") match {
          case Some(PObj.PArray(arr)) => Lexer.refsOf(arr)
          case Some(PObj.PRef(r)) => List(r)
          case _ => Nil
        }
        refs.flatMap { r =>
          doc.rawStreamByRef(r).toOption.toList.flatMap { bytes =>
            val st = PSR(fontmaps = findFontEncoding(dict, doc),
              cmaps = findCMap(dict, doc), resDict = Some(dict))
            new P(doc, bytes, st).collectColorSpaces(xobjcs)
          }
        }
    }

  /** formTextRunner (DocumentStructure.hs:215-230). */
  private def runForm(doc: Document, name: String, st: PSR): String = {
    if (st.formDepth >= MaxFormDepth) return ""
    val formOpt = for {
      resDict <- st.resDict
      xobj <- DocStructure.findResourcesDict(resDict, doc).flatMap(_.get("/XObject")) match {
        case Some(PDict(xd)) => Some(xd)
        case Some(PRef(xr)) => doc.findDictByRef(xr)
        case _ => None
      }
      PRef(r) <- xobj.get(name)
      d <- doc.findDictByRef(r)
      if d.get("/Subtype").contains(PName("/Form"))
      stream <- doc.rawStreamByRef(r).toOption
    } yield (d, stream)
    formOpt match {
      case None => ""
      case Some((formDict, stream)) =>
        // resolve the form's font encodings and CMaps ONCE (each is an
        // uncached /Resources walk + stream parse; the previous code
        // resolved them three times and built an intermediate state whose
        // maps were immediately overwritten). M.union form st: form's
        // entries win (DocumentStructure.hs:226).
        val fm = findFontEncoding(formDict, doc)
        val cm = findCMap(formDict, doc)
        val st3 = st.copy(
          fontmaps = st.fontmaps ++ fm,
          cmaps = st.cmaps ++ cm,
          resDict = Some(formDict),
          formDepth = st.formDepth + 1)
        parseStream(doc, st3, stream) match {
          case Right((txt, _)) => txt
          case Left(_) => ""
        }
    }
  }

  // ---------- the parser ----------

  private final class ParseBudgetExceeded extends RuntimeException("legacy parse budget exceeded")

  /** One parsing session over one content stream. */
  private final class P(doc: Document, buf: Array[Byte], var st: PSR) {
    var pos: Int = 0

    // Catastrophic-backtracking bound: the reference's parsec grammar (and
    // this port) can go superlinear on adversarial content (e.g. megabyte
    // digit runs retried by every alternative at every line). Real
    // documents use a tiny fraction of this budget; exceeding it aborts
    // the page with a typed error instead of burning a task for hours.
    private val budget: Long = math.max(20_000_000L, buf.length.toLong * 20_000L)
    private var steps: Long = 0L

    @inline def atEnd: Boolean = pos >= buf.length
    @inline def peek: Int = if (pos < buf.length) buf(pos) & 0xff else -1
    @inline def next(): Int = { val c = peek; pos += 1; c }

    def attemptT(body: => Option[String]): Option[String] = {
      steps += 1
      if (steps > budget) throw new ParseBudgetExceeded
      val savePos = pos
      val saveSt = st
      body match {
        case some @ Some(_) => some
        case None => pos = savePos; st = saveSt; None
      }
    }

    @inline private def isSpaceC(c: Int): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == 11 || c == 0xa0

    def skipSpaces(): Unit = while (!atEnd && isSpaceC(peek)) pos += 1

    private def space1(): Boolean =
      if (!atEnd && isSpaceC(peek)) { pos += 1; true } else false

    private def str(s: String): Boolean = {
      if (pos + s.length > buf.length) return false
      var i = 0
      while (i < s.length) { if ((buf(pos + i) & 0xff) != s.charAt(i)) return false; i += 1 }
      pos += s.length
      true
    }

    /** `/Name` terminated by a space char; consumes the space. */
    private def slashNameTillSpace(): Option[String] = {
      if (peek != '/') return None
      val sb = new StringBuilder("/")
      pos += 1
      while (true) {
        if (atEnd) return None
        val c = next()
        if (isSpaceC(c)) return Some(sb.toString)
        sb.append(c.toChar)
      }
      None
    }

    /** digitParam (ContentStream.hs:819-825). */
    def digitParam(): Option[Double] = {
      val neg = peek == '-'
      if (neg) pos += 1
      val sb = new StringBuilder(if (neg) "-" else "")
      if (peek == '.') {
        pos += 1
        if (!Lexer.isDigit(peek)) return None
        sb.append("0.")
        while (Lexer.isDigit(peek)) sb.append(next().toChar)
      } else {
        if (!Lexer.isDigit(peek)) return None
        while (Lexer.isDigit(peek)) sb.append(next().toChar)
        var dots = 0
        while (peek == '.') { dots += 1; pos += 1 }
        if (dots > 0) sb.append(".")
        while (Lexer.isDigit(peek)) sb.append(next().toChar)
        // "1..5" consumes fully but `reads` fails -> parsePdfNumber = 0
        if (dots > 1) return Some(0.0)
      }
      var s = sb.toString
      if (s.endsWith(".")) s += "0"
      try Some(s.toDouble) catch { case _: NumberFormatException => Some(0.0) }
    }

    /** parseColorSpace (ContentStream.hs:61-68). */
    def collectColorSpaces(xobjcs: List[String]): List[String] = try {
      val out = List.newBuilder[String]
      var go = true
      while (go && !atEnd) {
        attemptT(colorSpace()) match {
          case Some(cs) => out += cs
          case None =>
            // xObject: /Name Do -> substitute the XObject colorspace names
            val tookX = attemptT {
              slashNameTillSpace() match {
                case Some(_) =>
                  skipSpaces()
                  if (str("Do")) { skipSpaces(); Some("") } else None
                case None => None
              }
            }
            if (tookX.isDefined) out ++= xobjcs
            else if (attemptT(elems()).isEmpty) go = false
        }
      }
      out.result()
    } catch { case _: ParseBudgetExceeded => Nil }

    // ---- elems choice (ContentStream.hs:73-104) ----

    def elems(): Option[String] =
      attemptT(pdfopBT())
        .orElse(attemptT(pdfopTf()))
        .orElse(attemptT(pdfopTD()))
        .orElse(attemptT(pdfopTd()))
        .orElse(attemptT(pdfopTm()))
        .orElse(attemptT(pdfopSimple("Tc")))
        .orElse(attemptT(pdfopSimple("Ts")))
        .orElse(attemptT(pdfopTw()))
        .orElse(attemptT(pdfopTL()))
        .orElse(attemptT(pdfopTz()))
        .orElse(attemptT(pdfopTj()))
        .orElse(attemptT(pdfopTJ()))
        .orElse(attemptT(pdfopSimple("Tr")))
        .orElse(attemptT(pdfQuote()))
        .orElse(attemptT(pdfDoubleQuote()))
        .orElse(attemptT(pdfopTast()))
        .orElse(attemptT(letters().map { t => skipSpaces(); t }))
        .orElse(attemptT(hexletters().map { t => skipSpaces(); t }))
        .orElse(attemptT(array().map { t => skipSpaces(); t }))
        .orElse(attemptT(pdfopGraphics()))
        .orElse(attemptT(dashPattern()))
        .orElse(attemptT(formDoOp()))
        .orElse(attemptT(graphicState()))
        .orElse(attemptT(pdfopcm()))
        .orElse(attemptT(colorSpace().map(_ => "")))
        .orElse(attemptT(renderingIntent().map(_ => "")))
        .orElse(attemptT(pdfopBDC()))
        .orElse(attemptT(pdfopBMC()))
        .orElse(attemptT(pdfopEMC()))
        .orElse(unknowns())

    def skipOther(): Option[String] = {
      // manyTill anyChar EOL
      while (!atEnd && peek != '\r' && peek != '\n') pos += 1
      if (atEnd) None
      else { pos += 1; Some("") }
    }

    private def unknowns(): Option[String] = {
      val start = pos
      while (!atEnd && peek != '\r' && peek != '\n') pos += 1
      if (atEnd && pos == start) return None
      if (atEnd) { pos = start; return None } // manyTill anyChar EOL fails at EOF
      val ps = new String(buf, start, pos - start, java.nio.charset.StandardCharsets.ISO_8859_1)
      pos += 1 // consume the EOL char
      if (ps.isEmpty) return Some("")
      // repair heuristics: re-parse line as "(...)Tj" or "(..."
      val attempt1 = ps.reverse.dropWhile(_ == '\\').reverse + ")Tj"
      subParse(attempt1) match {
        case Some(t) => Some(t)
        case None => subParse("(" + ps) match {
          case Some(t) => Some(t)
          case None =>
            st = st.copy(warnings = PdfWarning.UnknownOperator(ps.take(100)) :: st.warnings)
            Some("")
        }
      }
    }

    /** Run `elems` over a synthetic string with the current state; state
      * changes propagate on success (parsec runParser with same st). */
    private def subParse(s: String): Option[String] = {
      val bytes = s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      val p2 = new P(doc, bytes, st)
      p2.elems() match {
        case Some(t) =>
          // the reference runs a standalone runParser: resulting state is
          // DISCARDED (only the text is kept)
          Some(t)
        case None => None
      }
    }

    // ---- operators ----

    private def pdfopBT(): Option[String] = {
      st = st.copy(textM = (1, 0, 0, 1, 0, 0), textBreak = false)
      if (!str("BT")) return None
      skipSpaces()
      val sb = new StringBuilder
      var go = true
      while (go) {
        if (attemptT { if (str("ET")) Some("") else None }.isDefined) {
          skipSpaces()
          return Some(sb.toString)
        }
        attemptT(elems()) match {
          case Some(t) => sb.append(t)
          case None => return None // manyTill fails
        }
      }
      None
    }

    private def pdfopTf(): Option[String] = {
      val font = slashNameTillSpace().getOrElse(return None)
      skipSpaces()
      val t = digitParam().getOrElse(return None)
      skipSpaces()
      if (!str("Tf")) return None
      skipSpaces()
      st = st.copy(curfont = font, fontfactor = t, linex = t, liney = t)
      Some("")
    }

    private def tdCommon(opName: String, setLiney: Boolean): Option[String] = {
      val t1 = digitParam().getOrElse(return None)
      skipSpaces()
      val t2 = digitParam().getOrElse(return None)
      skipSpaces()
      if (!str(opName)) return None
      if (opName == "TD" && peek == '*') return None // don't eat T* etc.
      skipSpaces()
      val ax = st.absolutex
      val ay = st.absolutey
      val lx = st.linex
      val ly = st.liney
      val lm = st.leftmargin
      val ff = st.fontfactor
      val (a, b, c, d, tmx, tmy) = st.textM
      val nx = a * t1 + c * t2 + tmx
      val ny = b * t1 + d * t2 + tmy
      val needBreakByX = nx < ax
      val needBreakByY = math.abs(ny - ay) > ff
      val needBreak = (needBreakByX || needBreakByY) && !st.textBreak
      st = st.copy(
        absolutex = if (needBreak) 0 else nx,
        absolutey = ny,
        liney = if (setLiney) -t2 else ly,
        textM = (a, b, c, d, nx, ny),
        textBreak = needBreak)
      Some(
        if (needBreak) desideParagraphBreak(t1, t2, lx, ly, lm, ff)
        else if (nx > ax + 2 * ff) " "
        else "")
    }

    private def pdfopTD(): Option[String] = tdCommon("TD", setLiney = true)
    private def pdfopTd(): Option[String] = tdCommon("Td", setLiney = false)

    private def desideParagraphBreak(t1: Double, t2: Double, lx: Double, ly: Double,
        lm: Double, ff: Double): String =
      if (math.abs(t2) > 1.8 * ly || (lx - t1) < lm) " " else ""

    private def pdfopTm(): Option[String] = {
      val ps = new Array[Double](6)
      var i = 0
      while (i < 6) {
        ps(i) = digitParam().getOrElse(return None)
        skipSpaces()
        i += 1
      }
      if (!str("Tm")) return None
      skipSpaces()
      val Array(a, b, c, d, e, f) = ps
      val ax = st.absolutex
      val ay = st.absolutey
      val ff = st.fontfactor
      val (_, _, _, _, tmx, tmy) = st.textM
      val needBreakByX = a * tmx + c * tmy + e < ax
      val needBreakByY = math.abs(b * tmx + d * tmy + f - ay) > ff
      val needBreak = (needBreakByX || needBreakByY) && !st.textBreak
      st = st.copy(
        absolutex = e,
        absolutey = f,
        textLm = (a, b, c, d, e, f),
        textM = (a, b, c, d, e, f),
        textBreak = needBreak)
      Some("")
    }

    private def pdfopcm(): Option[String] = {
      val ps = new Array[Double](6)
      var i = 0
      while (i < 6) {
        ps(i) = digitParam().getOrElse(return None)
        skipSpaces()
        i += 1
      }
      if (!str("cm")) return None
      skipSpaces()
      val Array(a, b, c, d, e, f) = ps
      val (_, _, _, _, tmx, tmy) = st.textM
      val needBreakByX = a * tmx + c * tmy + e < st.absolutex
      val needBreakByY = math.abs(b * tmx + d * tmy + f - st.absolutey) > st.fontfactor
      val needBreak = (needBreakByX || needBreakByY) && !st.textBreak
      st = st.copy(
        textLm = (a, b, c, d, e, f),
        textM = (a, b, c, d, e, f),
        textBreak = needBreak)
      Some("")
    }

    private def pdfopTast(): Option[String] = {
      if (!str("T*")) return None
      val ax = st.absolutex
      val ly = st.liney
      val (a, b, c, d, tmx, tmy) = st.textM
      val needBreakByX = tmx < ax
      val needBreakByY = d * ly + tmy > ly
      val needBreak = needBreakByX || needBreakByY
      st = st.copy(
        absolutex = if (needBreak) 0 else tmx,
        absolutey = tmy + ly,
        textM = (a, b, c, d, c * ly + tmx, d * ly + tmy),
        textBreak = needBreak)
      Some("")
    }

    private def pdfopTw(): Option[String] = {
      val tw = digitParam().getOrElse(return None)
      skipSpaces()
      if (!str("Tw")) return None
      skipSpaces()
      st = st.copy(fontfactor = tw)
      Some("")
    }

    private def pdfopTL(): Option[String] = {
      val tl = digitParam().getOrElse(return None)
      skipSpaces()
      if (!str("TL")) return None
      skipSpaces()
      st = st.copy(liney = st.fontfactor + tl)
      Some("")
    }

    private def pdfopTz(): Option[String] = {
      val tz = digitParam().getOrElse(return None)
      skipSpaces()
      if (!str("Tz")) return None
      skipSpaces()
      st = st.copy(linex = st.fontfactor + tz)
      Some("")
    }

    /** Tc / Ts / Tr: numeric param, no state change. */
    private def pdfopSimple(op: String): Option[String] = {
      if (digitParam().isEmpty) return None
      skipSpaces()
      if (!str(op)) return None
      skipSpaces()
      Some("")
    }

    private def pdfopTj(): Option[String] = {
      skipSpaces()
      val parts = List.newBuilder[String]
      var go = true
      while (go) {
        if (attemptT { if (str("Tj")) Some("") else None }.isDefined) go = false
        else {
          val t = attemptT(letters()).orElse(attemptT(hexletters())).orElse(attemptT(array()))
          t match {
            case Some(x) => parts += x
            case None => return None
          }
        }
      }
      skipSpaces()
      val needBreak = st.textBreak
      st = st.copy(textBreak = false)
      Some((if (needBreak) "\n" :: parts.result() else parts.result()).mkString)
    }

    private def pdfopTJ(): Option[String] = {
      skipSpaces()
      val parts = List.newBuilder[String]
      var go = true
      while (go) {
        if (attemptT { if (str("TJ")) Some("") else None }.isDefined) go = false
        else attemptT(array()) match {
          case Some(x) => parts += x
          case None => return None
        }
      }
      skipSpaces()
      st = st.copy(textBreak = false)
      Some(parts.result().mkString)
    }

    private def quoteCommon(end: String): Option[String] = {
      skipSpaces()
      val parts = List.newBuilder[String]
      var go = true
      while (go) {
        if (attemptT { if (str(end)) Some("") else None }.isDefined) go = false
        else {
          val t = attemptT(letters()).orElse(attemptT(hexletters())).orElse(attemptT(array()))
          t match {
            case Some(x) => parts += x
            case None => return None
          }
        }
      }
      skipSpaces()
      Some(parts.result().mkString)
    }

    private def pdfQuote(): Option[String] = quoteCommon("'")
    private def pdfDoubleQuote(): Option[String] = quoteCommon("\"")

    private def array(): Option[String] = {
      val entrySt = st
      if (peek != '[') return None
      pos += 1
      skipSpaces()
      val parts = List.newBuilder[String]
      var go = true
      while (go) {
        if (attemptT { if (str("]")) Some("") else None }.isDefined) go = false
        else {
          val t = attemptT(letters()).orElse(attemptT(hexletters())).orElse(attemptT(kern()))
          t match {
            case Some(x) => parts += x
            case None => return None
          }
        }
      }
      val needBreak = entrySt.textBreak
      st = st.copy(textBreak = false)
      Some((if (needBreak) "\n" :: parts.result() else parts.result()).mkString)
    }

    private def kern(): Option[String] = {
      val t = digitParam().getOrElse(return None)
      skipSpaces()
      Some(if (t < -60.0) " " else "")
    }

    // ---- strings ----

    private def letters(): Option[String] = {
      if (peek != '(') return None
      pos += 1
      val cmap = st.cmaps.getOrElse(st.curfont, Map.empty)
      val fm = st.fontmaps.get(st.curfont)
      val sb = new StringBuilder
      var go = true
      while (go) {
        if (attemptT { if (str(")")) Some("") else None }.isDefined) go = false
        else {
          val t = fm match {
            case Some(Encoding.DiffEncoding(m)) => psletter(m)
            case Some(Encoding.CIDmap(_)) => cidletter()
            case Some(Encoding.SJISmap) => bytesletters(Interp.sjisBytesToCodesArr, sjisCodeToText)
            case Some(Encoding.UnicodeMap) => bytesletters(Interp.unicodeBytesToCodesArr, unicodeCodeToText)
            case Some(Encoding.JISmap) => bytesletters(Interp.jisBytesToCodesArr, jisCodeToText)
            case Some(Encoding.WithCharSet(_)) =>
              attemptT(bytesletterCmap(cmap)).orElse(attemptT(cidletters(cmap)))
            case Some(Encoding.NullMap) => psletter(TreeMap.empty)
            case None => rawletters()
          }
          t match {
            case Some(x) => sb.append(x)
            case None => return None
          }
        }
      }
      skipSpaces()
      Some(sb.toString)
    }

    /** escaped-byte reader shared by sjis/unicode/jis letters
      * (many1 of escape | noneOf ")"). */
    private def escapedBytes(extraSpace: Boolean): Option[List[Int]] = {
      val out = List.newBuilder[Int]
      var count = 0
      var go = true
      while (go) {
        if (atEnd) go = false
        else if (peek == ')') go = false
        else {
          val c = next()
          if (c == '\\') {
            if (atEnd) { go = false; pos -= 1 }
            else {
              val e = next()
              e match {
                case ')' => out += ')'
                case '(' => out += '('
                case 'n' => out += 10
                case 'r' => out += 13
                case 'b' => out += 8
                case 't' => out += 9
                case 'f' => out += 12
                case '\\' => out += 92
                case other =>
                  // reference: `\` + octnum where octnum's fallback is the
                  // raw char — so `\065` yields '0','6','5' and `\x` yields x
                  out += other
              }
              if (go) count += 1
            }
          } else { out += c; count += 1 }
        }
      }
      if (count == 0) None else Some(out.result())
    }

    private def bytesletters(toCodes: Array[Int] => Array[Int], toText: Int => String): Option[String] =
      escapedBytes(extraSpace = false).map(bytes => toCodes(bytes.toArray).map(toText).mkString)

    /** bytesletter (ContentStream.hs:336-360): 16-bit pairing + cmap lookup. */
    private def bytesletterCmap(cmap: Map[Int, String]): Option[String] =
      escapedBytes(extraSpace = false).map { bytes =>
        asInt16(bytes).map(lookupUcs(None, cmap, _)).mkString
      }

    private def asInt16(xs: List[Int]): List[Int] = xs match {
      case Nil => Nil
      case a :: Nil => List(a)
      case a :: b :: rest => (a * 256 + b) :: asInt16(rest)
    }

    private def rawletters(): Option[String] = {
      val sb = new StringBuilder
      var go = true
      while (go) {
        if (atEnd || peek == ')') go = false
        else {
          val c = next()
          if (c == '\\' && (peek == ')' || peek == '(')) sb.append(next().toChar)
          else sb.append(c.toChar)
        }
      }
      if (sb.isEmpty) None else Some(sb.toString)
    }

    private def psletter(fontmap: TreeMap[Int, String]): Option[String] = {
      if (atEnd || peek == ')') return None
      val c: Int =
        if (peek == '\\') {
          val save = pos
          pos += 1
          val e = peek
          if (e == '\\' || e == '(' || e == ')') { pos += 1; e }
          else if (e >= '0' && e <= '7' && pos + 2 < buf.length + 1 &&
                   pos + 2 <= buf.length - 1 + 1 &&
                   pos + 2 < buf.length + 1) {
            // need exactly 3 octal digits
            if (pos + 2 < buf.length &&
                buf(pos) >= '0' && buf(pos) <= '7' &&
                buf(pos + 1) >= '0' && buf(pos + 1) <= '7' &&
                buf(pos + 2) >= '0' && buf(pos + 2) <= '7') {
              val o = (buf(pos) - '0') * 64 + (buf(pos + 1) - '0') * 8 + (buf(pos + 2) - '0')
              pos += 3
              CharMaps.extendedAscii.get(o) match {
                case Some(ch) => ch.toInt
                case None => o
              }
            } else { pos = save; return None }
          } else { pos = save; return None }
        } else next()
      Some(replaceWithDiff(fontmap, c))
    }

    private def replaceWithDiff(m: TreeMap[Int, String], c: Int): String =
      m.get(c) match {
        case Some(s) => CharMaps.pdfCharMap.get(s) match {
          case Some(cs) => cs
          case None =>
            if (s.startsWith("/uni")) readUni(s) else s
        }
        case None => new String(Character.toChars(if (c <= 0x10FFFF) c else 0xFFFD))
      }

    private def readUni(s: String): String = {
      val hex = s.drop(4).takeWhile(c => Lexer.isHexDigit(c))
      if (hex.isEmpty) s
      else {
        val i = Integer.parseInt(hex, 16)
        if (hex.length == s.length - 4) new String(Character.toChars(i))
        else new String(Character.toChars(i)) + " "
      }
    }

    private def cidletter(): Option[String] = {
      val o1 = octnum().getOrElse(return None)
      val o2 = octnum().getOrElse(return None)
      Some(lookupUcs(None, Map.empty, 256 * o1 + o2))
    }

    private def cidletters(cmap: Map[Int, String]): Option[String] =
      attemptT(hexletter(cmap)).orElse(attemptT(octletter(cmap)))

    private def hexletter(cmap: Map[Int, String]): Option[String] = {
      val h1 = peek
      if (!Lexer.isHexDigit(h1)) return None
      pos += 1
      val h2 = peek
      val h = if (Lexer.isHexDigit(h2)) {
        pos += 1
        Lexer.hexVal(h1) * 16 + Lexer.hexVal(h2)
      } else Lexer.hexVal(h1) * 16 // (:"0") pads low nibble
      Some(lookupUcs(st.fontmaps.get(st.curfont), cmap, h))
    }

    private def octletter(cmap: Map[Int, String]): Option[String] =
      octnum().map(o => lookupUcs(st.fontmaps.get(st.curfont), cmap, o))

    private def octnum(): Option[Int] = {
      if (atEnd) return None
      if (peek == '\\') {
        val save = pos
        pos += 1
        if (atEnd) { pos = save; return None }
        val e = next()
        e match {
          case 'n' => Some(10)
          case 'r' => Some(13)
          case 't' => Some(9)
          case 'b' => Some(8)
          case 'f' => Some(12)
          case '(' | ')' => Some(0)
          case '\\' => Some(92)
          case d if d >= '0' && d <= '7' =>
            if (pos + 1 < buf.length &&
                buf(pos) >= '0' && buf(pos) <= '7' &&
                buf(pos + 1) >= '0' && buf(pos + 1) <= '7') {
              val v = (d - '0') * 64 + (buf(pos) - '0') * 8 + (buf(pos + 1) - '0')
              pos += 2
              Some(v)
            } else { pos = save; None }
          case _ => { pos = save; None }
        }
      } else Some(next())
    }

    private def lookupUcs(enc: Option[Encoding], m: Map[Int, String], h: Int): String =
      m.get(h) match {
        case Some(ucs) => ucs
        case None => enc match {
          case Some(Encoding.SJISmap) => sjisCodeToText(h)
          case Some(Encoding.UnicodeMap) => unicodeCodeToText(h)
          case Some(Encoding.JISmap) => jisCodeToText(h)
          case _ if m.isEmpty =>
            CharMaps.adobeJapan16Map.get(h) match {
              case Some(cs) => cs
              case None =>
                st = st.copy(warnings = PdfWarning.UnmappedCid(h) :: st.warnings)
                "[" + h + "]"
            }
          case _ => new String(Character.toChars(if (h >= 0 && h <= 0x10FFFF && !(h >= 0xD800 && h <= 0xDFFF)) h else 0xFFFD))
        }
      }

    private def hexletters(): Option[String] = {
      if (peek != '<') return None
      pos += 1
      val sb = new StringBuilder
      var go = true
      while (go) {
        if (atEnd) return None
        val c = peek
        if (c == '>') { pos += 1; go = false }
        else if (Lexer.isHexDigit(c) || isSpaceC(c)) {
          if (Lexer.isHexDigit(c)) sb.append(c.toChar)
          pos += 1
        } else return None
      }
      skipSpaces()
      val enc = st.fontmaps.get(st.curfont)
      val cmap = st.cmaps.getOrElse(st.curfont, Map.empty)
      val bytes = Interp.hexPairsArr(sb.toString)
      val codes = enc match {
        case Some(Encoding.SJISmap) => Interp.sjisBytesToCodesArr(bytes)
        case Some(Encoding.UnicodeMap) => Interp.unicodeBytesToCodesArr(bytes)
        // CID codes pair bytes strictly like JIS (asInt16, odd tail dropped)
        case Some(Encoding.JISmap) | Some(Encoding.CIDmap(_)) => Interp.jisBytesToCodesArr(bytes)
        case _ => bytes
      }
      Some(codes.map(lookupUcs(enc, cmap, _)).mkString)
    }

    private def sjisCodeToText(code: Int): String =
      CharMaps.cp932Map.getOrElse(code,
        if (code >= 0 && code <= 0x7F) code.toChar.toString else "�")

    private def unicodeCodeToText(code: Int): String =
      if (code >= 0 && code <= 0x10FFFF && !(code >= 0xD800 && code <= 0xDFFF))
        new String(Character.toChars(code))
      else "�"

    private def jisCodeToText(code: Int): String =
      CharMaps.jisx0208Map.getOrElse(code,
        if (code >= 0 && code <= 0x7F) code.toChar.toString else "�")

    // ---- graphics no-ops ----

    private def digitParamSp(): Option[Double] = {
      val d = digitParam()
      if (d.isDefined) skipSpaces()
      d
    }

    private def many1DigitParams(): Boolean = {
      var n = 0
      while (attemptT(digitParamSp().map(_ => "")).isDefined) n += 1
      n >= 1
    }

    private def pdfopGraphics(): Option[String] = {
      skipSpaces()
      val r =
        attemptT { if ((peek == 'q' || peek == 'Q') && { pos += 1; true }) { skipSpaces(); Some("") } else None }
          .orElse(attemptT {
            if ("fFbBW".indexOf(peek) >= 0) {
              pos += 1
              while (peek == '*') pos += 1
              if (space1()) { skipSpaces(); Some("") } else None
            } else None
          })
          .orElse(attemptT {
            if ("nsS".indexOf(peek) >= 0) { pos += 1; skipSpaces(); Some("") } else None
          })
          .orElse(attemptT {
            digitParam() match {
              case Some(_) =>
                skipSpaces()
                if ("jJM".indexOf(peek) >= 0) { pos += 1; if (space1()) { skipSpaces(); Some("") } else None }
                else None
              case None => None
            }
          })
          .orElse(attemptT {
            digitParam() match {
              case Some(_) =>
                skipSpaces()
                if ("dwi".indexOf(peek) >= 0) { pos += 1; skipSpaces(); Some("") } else None
              case None => None
            }
          })
          .orElse(attemptT {
            if (many1DigitParams() && "ml".indexOf(peek) >= 0) {
              pos += 1
              if (space1()) { skipSpaces(); Some("") } else None
            } else None
          })
          .orElse(attemptT {
            if (many1DigitParams() && "vy".indexOf(peek) >= 0) {
              pos += 1
              if (space1()) { skipSpaces(); Some("") } else None
            } else None
          })
          .orElse(attemptT {
            if (many1DigitParams() && str("re")) { skipSpaces(); Some("") } else None
          })
          .orElse(attemptT { if (many1DigitParams() && str("SCN")) { skipSpaces(); Some("") } else None })
          .orElse(attemptT { if (many1DigitParams() && str("scn")) { skipSpaces(); Some("") } else None })
          .orElse(attemptT { if (many1DigitParams() && str("SC")) { skipSpaces(); Some("") } else None })
          .orElse(attemptT { if (many1DigitParams() && str("sc")) { skipSpaces(); Some("") } else None })
          .orElse(attemptT {
            if (many1DigitParams() && peek == 'c') {
              pos += 1
              if (space1()) { skipSpaces(); Some("") } else None
            } else None
          })
          .orElse(attemptT { if (peek == 'h') { pos += 1; skipSpaces(); Some("") } else None })
      r
    }

    private def dashPattern(): Option[String] = {
      if (!str("[")) return None
      while (Lexer.isDigit(peek)) pos += 1
      if (!str("]")) return None
      skipSpaces()
      if (!Lexer.isDigit(peek)) return None
      while (Lexer.isDigit(peek)) pos += 1
      skipSpaces()
      if (!str("d")) return None
      Some("")
    }

    private def graphicState(): Option[String] = {
      slashNameTillSpace().getOrElse(return None)
      skipSpaces()
      if (!str("gs")) return None
      skipSpaces()
      Some("")
    }

    private def colorSpace(): Option[String] = {
      attemptT {
        slashNameTillSpace() match {
          case Some(n) =>
            // reference returns the name without its slash (ContentStream.hs:145)
            if (str("CS") || str("cs")) { skipSpaces(); Some(n.drop(1)) } else None
          case None => None
        }
      }.orElse(attemptT { if (many1DigitParams() && str("rg")) { skipSpaces(); Some("DeviceRGB") } else None })
        .orElse(attemptT { if (many1DigitParams() && str("RG")) { skipSpaces(); Some("DeviceRGB") } else None })
        .orElse(attemptT {
          digitParam() match {
            case Some(_) =>
              skipSpaces()
              if (peek == 'g' || peek == 'G') { pos += 1; skipSpaces(); Some("DeviceGray") } else None
            case None => None
          }
        })
        .orElse(attemptT {
          if (many1DigitParams() && (peek == 'k' || peek == 'K')) { pos += 1; skipSpaces(); Some("DeviceCMYK") }
          else None
        })
    }

    private def renderingIntent(): Option[String] = {
      attemptT {
        slashNameTillSpace() match {
          case Some(n) => if (str("ri")) { skipSpaces(); Some(n) } else None
          case None => None
        }
      }.orElse(attemptT {
        slashNameTillSpace() match {
          case Some(n) => if (str("Intent")) { skipSpaces(); Some(n) } else None
          case None => None
        }
      })
    }

    private def formDoOp(): Option[String] = {
      val n = slashNameTillSpace().getOrElse(return None)
      skipSpaces()
      if (!str("Do")) return None
      skipSpaces()
      Some(runForm(doc, n, st))
    }

    // ---- marked content ----

    private def nameTillDelim(): Option[String] = {
      if (peek != '/') return None
      pos += 1
      val sb = new StringBuilder("/")
      var go = true
      while (go) {
        if (atEnd) return None
        val c = peek
        if (c == '>' || c == '<' || c == ']' || c == '[' || c == ')' || c == '(' ||
            c == ' ' || c == '\n' || c == '\r' || c == '/') go = false
        else { sb.append(c.toChar); pos += 1 }
      }
      skipSpaces()
      Some(sb.toString)
    }

    private def pdfopBDC(): Option[String] = {
      val tag = nameTillDelim().getOrElse(return None)
      // propertyList: dictionary returning (first name, concatenated entries)
      skipSpaces()
      if (!str("<<")) return None
      skipSpaces()
      val firstName = nameTillDelim().getOrElse(return None)
      val entries = new StringBuilder
      var go = true
      while (go) {
        if (attemptT {
          if (str(">>") && peek != '>') Some("") else None
        }.isDefined) go = false
        else {
          val e = attemptT(nameTillDelim())
            .orElse(attemptT(letters()))
            .orElse(attemptT(bdcHex()))
            .orElse(attemptT(bdcDigits()))
          e match {
            case Some(x) => entries.append(x); skipSpaces()
            case None => return None
          }
        }
      }
      skipSpaces()
      if (!str("BDC")) return None
      skipSpaces()
      if (tag == "/Span" && firstName == "/ActualText") {
        skipSpaces()
        // manyTill elems EMC
        var go2 = true
        while (go2) {
          if (attemptT { if (str("EMC")) Some("") else None }.isDefined) go2 = false
          else attemptT(elems()) match {
            case Some(_) => ()
            case None => return None
          }
        }
        Some(entries.toString)
      } else Some("")
    }

    private def bdcHex(): Option[String] = {
      if (peek != '<' || (pos + 1 < buf.length && buf(pos + 1) == '<')) return None
      pos += 1
      val sb = new StringBuilder
      var go = true
      while (go) {
        if (atEnd) return None
        val c = next()
        if (c == '>') go = false
        else if (Lexer.isHexDigit(c)) sb.append(c.toChar)
        else return None
      }
      // hexDecodeUTF16BE
      val hex = sb.toString
      val bytes = new Array[Byte](hex.length / 2)
      var i = 0
      while (i + 1 < hex.length) {
        bytes(i / 2) = ((Lexer.hexVal(hex.charAt(i)) << 4) | Lexer.hexVal(hex.charAt(i + 1))).toByte
        i += 2
      }
      Lexer.utf16be(bytes).orElse(Some(hex))
    }

    private def bdcDigits(): Option[String] = {
      if (!Lexer.isDigit(peek)) return None
      val sb = new StringBuilder
      while (Lexer.isDigit(peek)) sb.append(next().toChar)
      Some(sb.toString)
    }

    private def pdfopBMC(): Option[String] = {
      nameTillDelim().getOrElse(return None)
      skipSpaces()
      if (!str("BMC")) return None
      skipSpaces()
      var go = true
      while (go) {
        if (attemptT { if (str("EMC")) Some("") else None }.isDefined) go = false
        else attemptT(elems()) match {
          case Some(_) => ()
          case None => return None
        }
      }
      skipSpaces()
      Some("")
    }

    private def pdfopEMC(): Option[String] = {
      skipSpaces()
      if (!str("EMC")) return None
      skipSpaces()
      Some("")
    }
  }
}
