package graft.core

import java.nio.charset.StandardCharsets

import scala.collection.immutable.TreeMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import PObj._
import DocStructure.{Dict, Document, emptyDict}

/** Content-stream interpreter for glyph geometry.
  *
  * Re-expression of /root/reference/src/PDF/Interpret.hs: byte tokenizer +
  * operator dispatch over an explicit graphics/text state, emitting
  * positioned glyph runs and recording each image XObject's device bounding
  * box. Path and paint operators only clear the operand stack: no output
  * reads them. Form XObjects inherit the enclosing marked-content stack;
  * recursion depth capped at 12.
  */
object Interp {
  private val MaxFormDepth = 12

  private final case class MCEntry(tag: String, mcid: Option[Int])

  private final case class GS(
      var ctm: Mat,
      var fontRes: Option[String],
      var font: Option[FontInfo],
      var fontSize: Double,
      var charSp: Double,
      var wordSp: Double,
      var hScale: Double,
      var leading: Double,
      var rise: Double,
      var render: Int) {
    def copy2: GS = GS(ctm, fontRes, font, fontSize, charSp, wordSp, hScale, leading, rise, render)
  }

  private def initialGS: GS = GS(Mat.identity, None, None, 0, 0, 0, 1, 0, 0, 0)

  private final class IState(
      val doc: Document,
      var res: Dict,
      val fontOverrides: Map[String, FontInfo]) {
    var gs: GS = initialGS
    var gsStack: List[GS] = Nil
    /** A text state is set (from BT, or from a Tm anywhere, until ET): the
      * text matrix `tm` and line matrix `tlm`, each as (a, b, c, d, e, f). */
    var inText: Boolean = false
    val tm = new Array[Double](6)
    val tlm = new Array[Double](6)
    val trm = new Array[Double](4) // renderingOrigin's result
    var textBuf = new Array[Char](64) // a shown string's text, see textRoom
    val items = new mutable.ListBuffer[Glyph]
    val images = new ArrayBuffer[(Int, Rect)]
    var depth: Int = 0
    var operands: List[PObj] = Nil
    var mcStack: List[MCEntry] = Nil
    val nbuf = new Array[Double](6) // reusable numeric-operand buffer
    /** `Tf`'s font per (resources dict, font name): the lookup is a pure
      * function of both, and a stream selects the same few fonts over and
      * over. Keyed by identity: the resources dicts are the document's. */
    val fonts = new java.util.IdentityHashMap[Dict, java.util.HashMap[String, Option[FontInfo]]]
  }

  /** Interpret a page's content (by page object ref). */
  def interpretPageItems(doc: Document, pageRef: Int): Either[PdfError, List[Glyph]] =
    pageInterpretInputs(doc, pageRef).map { case (_, content, res) =>
      val st = new IState(doc, res, Map.empty)
      runStream(st, content)
      st.items.toList
    }

  def interpretPageImageHits(doc: Document, pageRef: Int): Either[PdfError, List[(Int, Rect)]] =
    pageInterpretInputs(doc, pageRef).map { case (_, content, res) =>
      val st = new IState(doc, res, Map.empty)
      runStream(st, content)
      st.images.toList
    }

  /** Interpret raw content bytes with explicit resources + font overrides
    * (unit-test entry; Interpret.hs:199-204). */
  def interpretContentItems(doc: Document, res: Dict, fonts: Map[String, FontInfo],
      bytes: Array[Byte]): List[Glyph] = {
    val st = new IState(doc, res, fonts)
    runStream(st, bytes)
    st.items.toList
  }

  def pageInterpretInputs(doc: Document, pageRef: Int): Either[PdfError, (Dict, Array[Byte], Dict)] =
    for {
      pageDict <- doc.objsByRef(pageRef) match {
        case Some(os) => DocStructure.findDictOfType("/Page", os)
          .toRight(PdfError.MissingKey("/Type", s"page $pageRef"))
        case None => Left(PdfError.MissingObject(pageRef))
      }
      res = pageResourcesInherited(pageDict, doc).getOrElse(emptyDict)
      content <- pageContentsBytes(doc, pageDict)
    } yield (pageDict, content, res)

  def pageResourcesInherited(dict: Dict, doc: Document): Option[Dict] =
    pageResourcesInherited(dict, doc, 0)

  private def pageResourcesInherited(dict: Dict, doc: Document, depth: Int): Option[Dict] =
    DocStructure.findResourcesDict(dict, doc).orElse {
      dict.get("/Parent") match {
        // depth cap: a malformed /Parent cycle must not recurse forever
        case Some(PRef(pref)) if depth < 64 =>
          doc.findDictByRef(pref).flatMap(pageResourcesInherited(_, doc, depth + 1))
        case _ => None
      }
    }

  /** Concatenate /Contents streams joined by "\n" (Interpret.hs:259-277). */
  def pageContentsBytes(doc: Document, dict: Dict): Either[PdfError, Array[Byte]] =
    dict.get("/Contents") match {
      case None => Left(PdfError.MissingKey("/Contents", "page"))
      case Some(PArray(arr)) => concatRefs(doc, Lexer.refsOf(arr))
      case Some(PRef(r)) => doc.objsByRef(r) match {
        case Some(List(PArray(arr))) => concatRefs(doc, Lexer.refsOf(arr))
        case Some(_) => doc.rawStreamByRef(r)
        case None => Left(PdfError.MissingObject(r))
      }
      case Some(_) => Left(PdfError.MissingKey("/Contents", "page"))
    }

  private def concatRefs(doc: Document, refs: List[Int]): Either[PdfError, Array[Byte]] = {
    val parts = new ArrayBuffer[Array[Byte]]
    for (r <- refs) doc.rawStreamByRef(r) match {
      case Right(s) => parts += s
      case Left(e) => return Left(e)
    }
    if (parts.isEmpty) Right(Array.emptyByteArray)
    else {
      val out = new ArrayBuffer[Byte]
      for ((p, i) <- parts.zipWithIndex) {
        if (i > 0) out += '\n'.toByte
        out ++= p
      }
      Right(out.toArray)
    }
  }

  // ---------- tokenizer ----------

  // Tokenizer protocol: readToken returns a PObj (operand), a String
  // (operator), or null (no token) — avoids a wrapper + Option allocation
  // per token on the hottest path in the engine.

  @inline private def isWs(c: Int): Boolean =
    c == ' ' || c == '\t' || c == '\r' || c == '\n' || c == '\f'
  @inline private def isDelim(c: Int): Boolean =
    c == '[' || c == ']' || c == '(' || c == ')' || c == '<' || c == '>' || c == '/' || c == '{'
  @inline private def isOpChar(c: Int): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '*'

  private def skipWsTok(cur: Cursor): Unit = {
    var go = true
    while (go && !cur.atEnd) {
      val c = cur.peek
      if (isWs(c)) cur.pos += 1
      else if (c == '%') {
        cur.pos += 1
        while (!cur.atEnd && cur.peek != '\r' && cur.peek != '\n') cur.pos += 1
      } else go = false
    }
  }

  private def keywordEnd(cur: Cursor): Boolean =
    cur.atEnd || { val c = cur.peek; isWs(c) || c == '%' || isDelim(c) }

  private def readToken(cur: Cursor): AnyRef = {
    skipWsTok(cur)
    if (cur.atEnd) return null
    cur.peek match {
      case '[' => readArray(cur)
      case '<' =>
        if (cur.peekAt(1) == '<') readDict(cur) else readHexStr(cur)
      case '(' => readLiteral(cur)
      case '/' => readName(cur)
      case '-' | '+' | '.' => readNumber(cur)
      case '\'' => cur.pos += 1; "'"
      case '"' => cur.pos += 1; "\""
      case 't' => readKeyword(cur, "true", PBool(true))
      case 'f' => readKeyword(cur, "false", PBool(false))
      case 'n' => readKeyword(cur, "null", PNull)
      case d if d >= '0' && d <= '9' => readNumber(cur)
      case _ => readOperator(cur)
    }
  }

  private def readKeyword(cur: Cursor, kw: String, value: PObj): AnyRef = {
    if (cur.startsWith(kw)) {
      val save = cur.pos
      cur.pos += kw.length
      if (keywordEnd(cur)) return value
      cur.pos = save
    }
    readOperator(cur)
  }

  /** spanNum8 + parsePdfNumber (Interpret.hs:939-964, StreamLex.hs:20-42). */
  private def readNumber(cur: Cursor): AnyRef = {
    val save = cur.pos
    var neg = false
    if (cur.peek == '-') { neg = true; cur.pos += 1 }
    else if (cur.peek == '+') cur.pos += 1
    var intDigits = 0
    var v = 0.0
    while (Lexer.isDigit(cur.peek)) { v = v * 10 + (cur.next() - '0'); intDigits += 1 }
    var fracDigits = 0
    if (cur.peek == '.') {
      cur.pos += 1
      var scale = 0.1
      while (Lexer.isDigit(cur.peek)) { v += (cur.next() - '0') * scale; scale /= 10; fracDigits += 1 }
      if (fracDigits == 0 && intDigits == 0) {
        // bare "." is not a number (spanNum8 rewinds fully)
        cur.pos = save
        if (neg) { cur.pos = save + 1; return PNum(0) } // "-." -> "-" = 0
        return null
      }
      // trailing dot: `5.` parses as 5.0 (parsePdfNumber appends "0")
    }
    if (intDigits == 0 && fracDigits == 0) {
      // lone "-" tokenizes as 0 in the reference (parsePdfNumber "-" = 0)
      if (neg) return PNum(0)
      cur.pos = save
      return null
    }
    PNum(if (neg) -v else v)
  }

  /** `len` bytes from `start` as chars 0-255, one char per byte. */
  private def latin1(buf: Array[Byte], start: Int, len: Int): String =
    new String(buf, start, len, StandardCharsets.ISO_8859_1)

  /** A name token: its bytes, the leading '/' included, as chars 0-255. */
  private[graft] def readName(cur: Cursor): AnyRef = {
    val start = cur.pos
    cur.pos += 1
    while (!cur.atEnd && !isWs(cur.peek) && !isDelim(cur.peek)) cur.pos += 1
    if (cur.pos - start > 1) PName(latin1(cur.buf, start, cur.pos - start))
    else { cur.pos = start; null }
  }

  /** Literal string in content streams (Interpret.hs:985-1012): octal up to
    * 3 digits (extra octal digits dropped), unknown escape -> '?'. A
    * literal with no escape and no nested parenthesis is its bytes. */
  private def readLiteral(cur: Cursor): AnyRef = {
    cur.pos += 1
    val buf = cur.buf
    var end = cur.pos
    while (end < buf.length && buf(end) != ')' && buf(end) != '(' && buf(end) != '\\') end += 1
    if (end < buf.length && buf(end) == ')') {
      val s = latin1(buf, cur.pos, end - cur.pos)
      cur.pos = end + 1
      return PText(s)
    }
    val sb = new StringBuilder
    var depth = 1
    while (true) {
      if (cur.atEnd) return null
      val c = cur.next()
      if (c == ')' && depth == 1) return PText(sb.toString)
      else if (c == '\\') {
        if (cur.atEnd) return null
        val e = cur.next()
        e match {
          case ')' => sb.append(')')
          case '(' => sb.append('(')
          case 'n' => sb.append('\n')
          case 'r' => sb.append('\r')
          case 't' => sb.append('\t')
          case 'b' => sb.append('\b')
          case 'f' => sb.append('\f')
          case '\\' => sb.append('\\')
          case d if d >= '0' && d <= '7' =>
            var oct = List(d - '0')
            while (cur.peek >= '0' && cur.peek <= '7') oct = oct :+ (cur.next() - '0')
            val take3 = oct.take(3)
            val v = take3.foldLeft(0)((a, x) => a * 8 + x)
            sb.append((v & 0xffff).toChar)
          case _ => sb.append('?')
        }
      } else if (c == '(') { depth += 1; sb.append(c.toChar) }
      else if (c == ')') { depth -= 1; sb.append(c.toChar) }
      else sb.append(c.toChar)
    }
    None
  }

  private def readHexStr(cur: Cursor): AnyRef = {
    cur.pos += 1
    val sb = new StringBuilder
    while (!cur.atEnd && cur.peek != '>') {
      val c = cur.next()
      if (Lexer.isHexDigit(c)) sb.append(c.toChar)
    }
    if (cur.atEnd) return null
    cur.pos += 1 // consume '>'
    if (sb.isEmpty) null else PHex(sb.toString)
  }

  private def readArray(cur: Cursor): AnyRef = {
    cur.pos += 1
    val items = Vector.newBuilder[PObj]
    while (true) {
      skipWsTok(cur)
      if (cur.atEnd) return null
      if (cur.peek == ']') { cur.pos += 1; return PArray(items.result()) }
      readToken(cur) match {
        case o: PObj => items += o
        case _ => return null
      }
    }
    null
  }

  private def readDict(cur: Cursor): AnyRef = {
    cur.pos += 2
    var m = TreeMap.empty[String, PObj]
    while (true) {
      skipWsTok(cur)
      if (cur.startsWith(">>")) { cur.pos += 2; return PDict(m) }
      readToken(cur) match {
        case PName(key) =>
          skipWsTok(cur)
          readToken(cur) match {
            case v: PObj => m = m.updated(key, v) // M.insert: later wins
            case _ => return null
          }
        case _ => return null
      }
    }
    null
  }

  /** A token's bytes packed into a Long. Operator chars are ASCII and
    * non-zero, so tokens of up to 8 chars pack to distinct keys. */
  private def opKey(buf: Array[Byte], start: Int, len: Int): Long = {
    var key = 0L
    var i = start
    while (i < start + len) { key = (key << 8) | (buf(i) & 0xff); i += 1 }
    key
  }

  /** Known operator names by packed key, so a known operator token
    * resolves to its one String instance without building a String. */
  private val knownOps: mutable.LongMap[String] = mutable.LongMap.from(
    List("q", "Q", "cm", "BT", "ET", "Tf", "Tc", "Tw", "Tz", "TL", "Ts",
      "Tr", "Td", "TD", "Tm", "T*", "Tj", "TJ", "Do", "m", "l", "c", "v", "y",
      "re", "h", "n", "S", "s", "f", "F", "f*", "B", "B*", "b", "b*", "W", "W*",
      "BDC", "BMC", "EMC", "BI", "ID", "EI", "gs", "cs", "CS", "rg", "RG", "g",
      "G", "k", "K", "d", "i", "j", "J", "M", "ri", "sh", "w", "SC", "SCN",
      "sc", "scn", "d0", "d1", "MP", "DP", "BX", "EX", "true", "false", "null")
      .map(op => opKey(op.getBytes(StandardCharsets.ISO_8859_1), 0, op.length) -> op))
  private val MaxKnownOpLen = knownOps.values.map(_.length).max

  private[graft] def readOperator(cur: Cursor): AnyRef = {
    val start = cur.pos
    while (!cur.atEnd && isOpChar(cur.peek)) cur.pos += 1
    val len = cur.pos - start
    if (len == 0) null
    else {
      val known = if (len > MaxKnownOpLen) null else knownOps.getOrNull(opKey(cur.buf, start, len))
      if (known != null) known else latin1(cur.buf, start, len)
    }
  }

  /** Skip `BI ... ID ... EI` inline image (Interpret.hs:1061-1083): find a
    * whitespace-preceded keyword, resume after it. */
  private def skipInlineImage(cur: Cursor): Unit = {
    skipToWsKeyword(cur, "ID")
    skipToWsKeyword(cur, "EI")
  }

  private def skipToWsKeyword(cur: Cursor, kw: String): Unit = {
    val buf = cur.buf
    var i = cur.pos
    val lim = buf.length - kw.length
    while (i <= lim) {
      if (isWs(buf(i) & 0xff)) {
        var ok = true
        var k = 0
        while (ok && k < kw.length) {
          if (i + 1 + k >= buf.length || (buf(i + 1 + k) & 0xff) != kw.charAt(k)) ok = false
          k += 1
        }
        if (ok && i + 1 + kw.length <= buf.length) {
          cur.pos = i + 1 + kw.length
          skipWsTok(cur)
          return
        }
      }
      i += 1
    }
    cur.pos = buf.length
  }

  // ---------- dispatch loop ----------

  private def runStream(st: IState, bytes: Array[Byte]): Unit = {
    val cur = new Cursor(bytes)
    skipWsTok(cur)
    while (!cur.atEnd) {
      val before = cur.pos
      readToken(cur) match {
        case o: PObj =>
          st.operands = o :: st.operands
          skipWsTok(cur)
        case "BI" =>
          st.operands = Nil
          skipWsTok(cur)
          skipInlineImage(cur)
        case op: String =>
          execOp(op, st)
          st.operands = Nil
          skipWsTok(cur)
        case _ =>
          cur.pos = before + 1
      }
    }
  }

  /** Pops n numeric operands into st.nbuf with nbuf(0) = top of stack
    * (the LAST operand written); returns false (stack untouched) when any
    * of the top n operands is non-numeric. */
  private def popNums(n: Int, st: IState): Boolean = {
    var stack = st.operands
    var k = 0
    while (k < n) {
      stack match {
        case PNum(x) :: rest => st.nbuf(k) = x; stack = rest; k += 1
        case _ => return false
      }
    }
    st.operands = stack
    true
  }

  private def execOp(op: String, st: IState): Unit = op match {
    case "q" => st.gsStack = st.gs.copy2 :: st.gsStack
    case "Q" => st.gsStack match {
      case g :: gs => st.gs = g; st.gsStack = gs
      case Nil => ()
    }
    case "cm" => if (popNums(6, st)) {
      // operand stack is LIFO: nbuf = [f,e,d,c,b,a]
      val b = st.nbuf
      st.gs.ctm = Mat(b(5), b(4), b(3), b(2), b(1), b(0)).multiply(st.gs.ctm)
    }
    case "BT" =>
      st.inText = true
      setMat(st.tm, 1, 0, 0, 1, 0, 0)
      setMat(st.tlm, 1, 0, 0, 1, 0, 0)
    case "ET" => st.inText = false
    case "Tf" => st.operands match {
      case PNum(size) :: PName(font) :: _ => resolveFont(font, size, st)
      case _ => ()
    }
    case "Tc" => if (popNums(1, st)) st.gs.charSp = st.nbuf(0)
    case "Tw" => if (popNums(1, st)) st.gs.wordSp = st.nbuf(0)
    case "Tz" => if (popNums(1, st)) st.gs.hScale = st.nbuf(0) / 100
    case "TL" => if (popNums(1, st)) st.gs.leading = st.nbuf(0)
    case "Ts" => if (popNums(1, st)) st.gs.rise = st.nbuf(0)
    case "Tr" => if (popNums(1, st)) st.gs.render = Util.hsTruncate(st.nbuf(0))
    case "Td" => if (popNums(2, st)) textTd(st.nbuf(1), st.nbuf(0), st)
    case "TD" => if (popNums(2, st)) {
      val ty = st.nbuf(0)
      st.gs.leading = -ty
      textTd(st.nbuf(1), ty, st)
    }
    case "Tm" => if (popNums(6, st)) {
      // sets the text state also outside BT..ET
      val b = st.nbuf
      st.inText = true
      setMat(st.tm, b(5), b(4), b(3), b(2), b(1), b(0))
      setMat(st.tlm, b(5), b(4), b(3), b(2), b(1), b(0))
    }
    case "T*" => if (st.inText) textLeadingNewline(st)
    case "Tj" => st.operands match {
      case o :: _ => showString(o, st)
      case _ => ()
    }
    case "TJ" => st.operands match {
      case o :: _ => showTJ(o, st)
      case _ => ()
    }
    case "'" => st.operands match {
      case o :: _ if st.inText => textLeadingNewline(st); showString(o, st)
      case _ => if (st.inText) textLeadingNewline(st)
    }
    case "\"" => st.operands match {
      case o :: PNum(ac) :: PNum(aw) :: _ =>
        st.gs.wordSp = aw; st.gs.charSp = ac
        if (st.inText) { textLeadingNewline(st); showString(o, st) }
      case _ => ()
    }
    case "Do" => st.operands match {
      case PName(name) :: _ => invokeXObject(name, st)
      case _ => ()
    }
    case "BDC" => st.operands match {
      case props :: PName(tag) :: _ =>
        val mcid = mcidFromProps(props, st.res, st.doc)
        st.mcStack = MCEntry(tag, mcid) :: st.mcStack
      case _ => ()
    }
    case "BMC" => st.operands match {
      case PName(tag) :: _ => st.mcStack = MCEntry(tag, None) :: st.mcStack
      case _ => ()
    }
    case "EMC" => st.mcStack match {
      case _ :: rest => st.mcStack = rest
      case Nil => ()
    }
    case _ => ()
  }

  private def ctmUnitSquare(m: Mat): Rect = {
    val pts = List(m.apply(0, 0), m.apply(1, 0), m.apply(0, 1), m.apply(1, 1))
    Rect(pts.map(_._1).min, pts.map(_._2).min, pts.map(_._1).max, pts.map(_._2).max)
  }

  /** The innermost marked-content id: the entry's own Option. */
  private def currentMCID(st: IState): Option[Int] = {
    var entries = st.mcStack
    while (entries.nonEmpty && entries.head.mcid.isEmpty) entries = entries.tail
    if (entries.isEmpty) None else entries.head.mcid
  }

  private def mcidFromProps(props: PObj, res: Dict, doc: Document): Option[Int] = {
    val dict: Option[Dict] = props match {
      case PDict(d) => Some(d)
      case PName(n) => res.get("/Properties") match {
        case Some(PDict(pd)) => pd.get(n) match {
          case Some(PDict(d)) => Some(d)
          case Some(PRef(r)) => doc.findDictByRef(r)
          case _ => None
        }
        case Some(PRef(r)) => doc.findDictByRef(r).flatMap(_.get(n)).flatMap {
          case PDict(d) => Some(d)
          case PRef(r2) => doc.findDictByRef(r2)
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }
    dict.flatMap(_.get("/MCID")).collect { case PNum(n) => Util.hsTruncate(n) }
  }

  // ---------- text ----------

  private def resolveFont(fontName: String, size: Double, st: IState): Unit = {
    val byName = st.fonts.computeIfAbsent(st.res, _ => new java.util.HashMap[String, Option[FontInfo]])
    val fi = byName.computeIfAbsent(fontName, name =>
      st.fontOverrides.get(name).orElse(lookupFontResource(st.doc, st.res, name)))
    st.gs.fontRes = Some(fontName)
    st.gs.font = fi
    st.gs.fontSize = size
  }

  private def lookupFontResource(doc: Document, res: Dict, fontName: String): Option[FontInfo] = {
    val fd: Option[Dict] = res.get("/Font") match {
      case Some(PDict(d)) => Some(d)
      case Some(PRef(r)) => doc.findDictByRef(r)
      case _ => None
    }
    fd.flatMap(_.get(fontName)).flatMap {
      case PRef(r) => Some(repairCidFontInfo(fontName, doc.fontInfoByRef(r)))
      case PDict(d) => Some(repairCidFontInfo(fontName, Fonts.fontInfoFromDict(doc, d)))
      case _ => None
    }
  }

  /** repairCidFontInfo (Interpret.hs:585-609): `/C0_..` fonts with broken
    * encoding forced to 2-byte Adobe-Japan1. */
  private def repairCidFontInfo(name: String, fi: FontInfo): FontInfo = {
    val isCid = List("/C0_", "/C1_", "/C2_", "/C3_").exists(name.startsWith)
    if (!isCid) fi
    else fi.encoding match {
      case Encoding.CIDmap(_) if fi.bytesPerCode == 2 => fi
      case Encoding.DiffEncoding(_) if fi.bytesPerCode == 2 => fi
      case Encoding.SJISmap | Encoding.UnicodeMap | Encoding.JISmap => fi
      case _ =>
        val dw = if (fi.defaultWidth == 0) 1000.0 else fi.defaultWidth
        // widthFn cid = if base width == 0 then dw else base width;
        // base width for a non-Type0 font is the simple lookup — model by
        // rebuilding a Type0-style font whose cidWidths fall back to dw.
        fi.copy(encoding = Encoding.CIDmap("Adobe-Japan1"), bytesPerCode = 2,
          defaultWidth = dw, isType0 = true,
          cidWidths = fi.cidWidths.filter(_._2 != 0))
    }
  }

  private def setMat(m: Array[Double], a: Double, b: Double, c: Double, d: Double,
      e: Double, f: Double): Unit = {
    m(0) = a; m(1) = b; m(2) = c; m(3) = d; m(4) = e; m(5) = f
  }

  /** `m` := `Mat.translate(tx, ty).multiply(m)`, with multiply's whole
    * expression, the translation's zero and one terms included, so NaN,
    * ±Inf and −0.0 come out as they do from the Mats. */
  private def translate(tx: Double, ty: Double, m: Array[Double]): Unit = {
    val a = 1.0 * m(0) + 0.0 * m(2)
    val b = 1.0 * m(1) + 0.0 * m(3)
    val c = 0.0 * m(0) + 1.0 * m(2)
    val d = 0.0 * m(1) + 1.0 * m(3)
    val e = tx * m(0) + ty * m(2) + m(4)
    val f = tx * m(1) + ty * m(3) + m(5)
    setMat(m, a, b, c, d, e, f)
  }

  private def textTd(tx: Double, ty: Double, st: IState): Unit =
    if (st.inText) {
      translate(tx, ty, st.tlm)
      System.arraycopy(st.tlm, 0, st.tm, 0, 6)
    }

  private def textLeadingNewline(st: IState): Unit =
    textTd(0, -st.gs.leading, st)

  /** TJ shows nothing unless every element is a number or a string. */
  private def showTJ(o: PObj, st: IState): Unit = o match {
    case PArray(elems) if elems.forall(isTJElem) =>
      elems.foreach {
        case PNum(k) => tjKern(k, st)
        case s => showString(s, st)
      }
    case _ => ()
  }

  private def isTJElem(o: PObj): Boolean = o match {
    case _: PNum | _: PText | _: PHex => true
    case _ => false
  }

  private def tjKern(k: Double, st: IState): Unit =
    if (st.inText) {
      val gs = st.gs
      val wmode = gs.font match {
        case Some(fi) => fi.wmode
        case None => 0
      }
      val disp = -k / 1000 * gs.fontSize * gs.hScale
      if (wmode == 1) translate(0, disp, st.tm)
      else translate(disp, 0, st.tm)
    }

  /** Shows a string operand; other operands show nothing. A literal's
    * chars are its bytes (an octal escape may exceed 255), read in place. */
  private def showString(o: PObj, st: IState): Unit = o match {
    case PText(s) => showBytes(null, s, st)
    case PHex(h) => showBytes(hexPairsArr(h), null, st)
    case _ => ()
  }

  /** Shows one string: `bytes`, or when that is null, the chars of
    * `literal`. */
  private def showBytes(bytes: Array[Int], literal: String, st: IState): Unit = {
    val gs = st.gs
    val fi = gs.font.orNull
    val fname = gs.fontRes.orNull
    if (st.inText && fi != null && fname != null) {
      val tm = st.tm
      val a = tm(0)
      val b = tm(1)
      val c = tm(2)
      val d = tm(3)
      // null: the codes are the literal's chars
      val codes =
        if (bytes != null) bytesToCodesArr(fi, bytes)
        else if (codesAreBytes(fi)) null
        else bytesToCodesArr(fi, Array.tabulate(literal.length)(literal.charAt(_).toInt))
      val n = if (codes != null) codes.length else literal.length
      renderingOrigin(st, tm(4), tm(5))
      val ox = st.trm(0)
      val oy = st.trm(1)
      val segSize = { val vx = st.trm(2); val vy = st.trm(3); math.sqrt(vx * vx + vy * vy) }
      var text = textRoom(st, n)
      var len = 0
      // translate(tx,ty) premultiply keeps a..d; only e,f change
      var e = tm(4)
      var f = tm(5)
      val wmodeV = fi.wmode == 1
      val tfs = gs.fontSize
      val tc = gs.charSp
      val tw = gs.wordSp
      val th = gs.hScale
      val oneByte = fi.bytesPerCode == 1
      var k = 0
      while (k < n) {
        val code = if (codes != null) codes(k) else literal.charAt(k).toInt
        val s = codeToUnicode(fi, code)
        if (s.length == 1 && len < text.length) text(len) = s.charAt(0)
        else {
          text = textRoom(st, len + s.length)
          s.getChars(0, s.length, text, len)
        }
        len += s.length
        var tx = 0.0
        var ty = 0.0
        if (wmodeV) {
          var w1 = fi.widthV(code)
          if (w1 == 0) w1 = FontInfo.DefaultVerticalW1
          ty = (w1 / 1000) * tfs + tc + tw
        } else {
          var w0 = fi.width(code)
          if (w0 == 0) w0 = fi.defaultWidth
          val space = if (oneByte && code == 32) tw else 0.0
          tx = ((w0 / 1000) * tfs + tc + space) * th
        }
        e = tx * a + ty * c + e
        f = tx * b + ty * d + f
        k += 1
      }
      tm(4) = e
      tm(5) = f
      renderingOrigin(st, e, f)
      val ex = st.trm(0)
      val ey = st.trm(1)
      val width = math.sqrt((ex - ox) * (ex - ox) + (ey - oy) * (ey - oy))
      st.items += Glyph(new String(text, 0, len), ox, oy, width, segSize,
        fname, fi.wmode, currentMCID(st))
    }
  }

  /** `st.textBuf` with room for `need` chars, its content kept. */
  private def textRoom(st: IState, need: Int): Array[Char] = {
    if (st.textBuf.length < need)
      st.textBuf = java.util.Arrays.copyOf(st.textBuf, math.max(need, 2 * st.textBuf.length))
    st.textBuf
  }

  /** The text rendering matrix `Mat(fontSize * hScale, 0, 0, fontSize, 0,
    * rise).multiply(tm).multiply(ctm)` for `tm` with translation (e, f),
    * with multiply's whole expression, applied as the Mat would be:
    * `st.trm` = (origin x, origin y, and the image of the unit vector
    * (0, 1)). */
  private def renderingOrigin(st: IState, e: Double, f: Double): Unit = {
    val gs = st.gs
    val a = st.tm(0)
    val b = st.tm(1)
    val c = st.tm(2)
    val d = st.tm(3)
    val ta = gs.fontSize * gs.hScale
    val td = gs.fontSize
    val tf = gs.rise
    val pa = ta * a + 0.0 * c
    val pb = ta * b + 0.0 * d
    val pc = 0.0 * a + td * c
    val pd = 0.0 * b + td * d
    val pe = 0.0 * a + tf * c + e
    val pf = 0.0 * b + tf * d + f
    val m = gs.ctm
    val ra = pa * m.a + pb * m.c
    val rb = pa * m.b + pb * m.d
    val rc = pc * m.a + pd * m.c
    val rd = pc * m.b + pd * m.d
    val re = pe * m.a + pf * m.c + m.e
    val rf = pe * m.b + pf * m.d + m.f
    val out = st.trm
    out(0) = ra * 0.0 + rc * 0.0 + re
    out(1) = rb * 0.0 + rd * 0.0 + rf
    out(2) = ra * 0.0 + rc * 1.0
    out(3) = rb * 0.0 + rd * 1.0
  }

  /** Whether a string's codes are its bytes, one per code. */
  private def codesAreBytes(fi: FontInfo): Boolean = fi.encoding match {
    case Encoding.SJISmap | Encoding.UnicodeMap | Encoding.JISmap => false
    case _ => fi.bytesPerCode != 2
  }

  def bytesToCodesArr(fi: FontInfo, bytes: Array[Int]): Array[Int] =
    if (codesAreBytes(fi)) bytes
    else fi.encoding match {
      case Encoding.SJISmap => sjisBytesToCodesArr(bytes)
      case Encoding.UnicodeMap => unicodeBytesToCodesArr(bytes)
      case Encoding.JISmap => jisBytesToCodesArr(bytes)
      case _ => pairs2Arr(bytes)
    }

  private def pairs2Arr(bs: Array[Int]): Array[Int] = {
    val out = new Array[Int](bs.length / 2)
    var i = 0
    while (i + 1 < bs.length) { out(i / 2) = bs(i) * 256 + bs(i + 1); i += 2 }
    out
  }

  private[graft] def sjisBytesToCodesArr(bs: Array[Int]): Array[Int] = {
    val out = new scala.collection.mutable.ArrayBuffer[Int](bs.length)
    var i = 0
    while (i < bs.length) {
      val b = bs(i)
      if ((b >= 0x81 && b <= 0x9F) || (b >= 0xE0 && b <= 0xFC)) {
        if (i + 1 < bs.length) { out += b * 256 + bs(i + 1); i += 2 }
        else { out += b; i += 1 }
      } else { out += b; i += 1 }
    }
    out.toArray
  }

  private[graft] def unicodeBytesToCodesArr(bs: Array[Int]): Array[Int] = {
    val out = new scala.collection.mutable.ArrayBuffer[Int](bs.length / 2)
    var i = 0
    while (i + 1 < bs.length) {
      val unit = bs(i) * 256 + bs(i + 1)
      if (unit >= 0xD800 && unit <= 0xDBFF) {
        if (i + 3 < bs.length) {
          val unit2 = bs(i + 2) * 256 + bs(i + 3)
          if (unit2 >= 0xDC00 && unit2 <= 0xDFFF) {
            out += 0x10000 + ((unit - 0xD800) << 10) + (unit2 - 0xDC00)
            i += 4
          } else { out += unit; i += 2 }
        } else {
          // lone high surrogate before a short tail: emit and stop
          out += unit
          i = bs.length
        }
      } else { out += unit; i += 2 }
    }
    out.toArray
  }

  private[graft] def jisBytesToCodesArr(bs: Array[Int]): Array[Int] = pairs2Arr(bs)

  /** [[codeToUnicodeUncached]] through the font's table for codes below
    * 65536 (1- and 2-byte codes). */
  def codeToUnicode(fi: FontInfo, code: Int): String =
    if (code >= 0 && code < 0x10000) {
      val pages = fi.codeText
      var page = pages(code >>> 8)
      if (page == null) { page = new Array[String](256); pages(code >>> 8) = page }
      var s = page(code & 0xff)
      if (s == null) { s = codeToUnicodeUncached(fi, code); page(code & 0xff) = s }
      s
    } else codeToUnicodeUncached(fi, code)

  /** ToUnicode first, then per-encoding fallback (Interpret.hs:701-768). */
  def codeToUnicodeUncached(fi: FontInfo, code: Int): String =
    fi.toUnicode.get(code) match {
      case Some(s) => s
      case None => fi.encoding match {
        case Encoding.NullMap if fi.bytesPerCode == 2 =>
          encodingUnicode(Encoding.CIDmap("Adobe-Japan1"), code)
        case enc => encodingUnicode(enc, code)
      }
    }

  def encodingUnicode(enc: Encoding, code: Int): String = enc match {
    case Encoding.DiffEncoding(m) => m.get(code) match {
      case Some(glyph) =>
        if (glyph == "/bullet" || glyph == "/circle" || glyph == "/disc" || glyph == "/filledbox") "•"
        else CharMaps.pdfCharMap.get(glyph) match {
          case Some(u) => u
          case None =>
            if (glyph.startsWith("/uni")) readUniGlyph(glyph) else glyph
        }
      case None => CharMaps.safeChr(code)
    }
    case Encoding.CIDmap("Adobe-Japan1") =>
      CharMaps.adobeJapan16Map.getOrElse(code, CharMaps.safeChr(code))
    case Encoding.CIDmap(_) => CharMaps.safeChr(code)
    case Encoding.SJISmap => CharMaps.cp932Map.get(code) match {
      case Some(s) => s
      case None => if (code >= 0 && code <= 0x7F) CharMaps.safeChr(code) else "�"
    }
    case Encoding.UnicodeMap => CharMaps.safeChr(code)
    case Encoding.JISmap => CharMaps.jisx0208Map.get(code) match {
      case Some(s) => s
      case None => if (code >= 0 && code <= 0x7F) CharMaps.safeChr(code) else "�"
    }
    case Encoding.WithCharSet("ZapfDingbats") =>
      if (code == 108 || code == 110 || code == 114 || code == 183) "•"
      else CharMaps.safeChr(code)
    case Encoding.WithCharSet(_) => CharMaps.safeChr(code)
    case Encoding.NullMap => CharMaps.safeChr(code)
  }

  private def readUniGlyph(s: String): String = {
    val hex = s.drop(4)
    if (hex.nonEmpty && hex.forall(c => Lexer.isHexDigit(c))) {
      try new String(Character.toChars(Integer.parseInt(hex, 16)))
      catch { case _: Exception => s }
    } else s
  }

  /** hexPairs (StreamLex.hs:44-54): odd trailing digit padded with '0'. */
  def hexPairsArr(h: String): Array[Int] = {
    val out = new scala.collection.mutable.ArrayBuffer[Int](h.length / 2 + 1)
    var i = 0
    while (i < h.length) {
      val a = h.charAt(i)
      if (i + 1 < h.length) {
        val b = h.charAt(i + 1)
        if (Lexer.isHexDigit(a) && Lexer.isHexDigit(b))
          out += (Lexer.hexVal(a) << 4) | Lexer.hexVal(b)
        i += 2
      } else {
        if (Lexer.isHexDigit(a)) out += Lexer.hexVal(a) << 4
        i += 1
      }
    }
    out.toArray
  }

  // ---------- XObjects ----------

  private def invokeXObject(name: String, st: IState): Unit = {
    val xd: Option[Dict] = st.res.get("/XObject") match {
      case Some(PDict(d)) => Some(d)
      case Some(PRef(xr)) => st.doc.findDictByRef(xr)
      case _ => None
    }
    xd.flatMap(_.get(name)) match {
      case Some(PRef(r)) => runXObject(r, st)
      case _ => ()
    }
  }

  private def runXObject(ref: Int, st: IState): Unit = {
    if (st.depth >= MaxFormDepth) return
    st.doc.objsByRef(ref) match {
      case Some(os) => DocStructure.findDict(os) match {
        case Some(d) => d.get("/Subtype") match {
          case Some(PName("/Form")) =>
            st.doc.rawStreamByRef(ref) match {
              case Right(stream) =>
                val formMat = d.get("/Matrix") match {
                  case Some(PArray(Vector(PNum(a), PNum(b), PNum(c), PNum(dd), PNum(e), PNum(f)))) =>
                    Mat(a, b, c, dd, e, f)
                  case _ => Mat.identity
                }
                val formRes = DocStructure.findResourcesDict(d, st.doc).getOrElse(st.res)
                // Mirror the reference exactly (Interpret.hs:838-848): the
                // form runs with a pushed gstate + form matrix; afterwards the
                // result state is `popGStateSt st0` — i.e. the PRE-CALL state
                // with its own gs stack popped (gs unchanged when the stack
                // was empty). ts/mc/operand changes inside the form are
                // discarded; items/images are kept.
                val savedGs = st.gs.copy2
                val savedStack = st.gsStack
                val savedRes = st.res
                val savedDepth = st.depth
                val savedInText = st.inText
                val savedTm = st.tm.clone()
                val savedTlm = st.tlm.clone()
                val savedMc = st.mcStack
                st.gsStack = savedGs :: st.gsStack
                st.gs = st.gs.copy2
                st.gs.ctm = formMat.multiply(st.gs.ctm)
                st.res = formRes
                st.depth = savedDepth + 1
                st.operands = Nil
                runStream(st, stream)
                savedStack match {
                  case g :: gs => st.gs = g; st.gsStack = gs
                  case Nil => st.gs = savedGs; st.gsStack = Nil
                }
                st.res = savedRes
                st.depth = savedDepth
                st.inText = savedInText
                System.arraycopy(savedTm, 0, st.tm, 0, 6)
                System.arraycopy(savedTlm, 0, st.tlm, 0, 6)
                st.mcStack = savedMc
              case Left(_) => ()
            }
          case Some(PName("/Image")) =>
            st.images += ((ref, ctmUnitSquare(st.gs.ctm)))
          case _ => ()
        }
        case None => ()
      }
      case None => ()
    }
  }
}
