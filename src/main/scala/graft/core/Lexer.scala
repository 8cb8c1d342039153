package graft.core

import scala.collection.immutable.TreeMap
import scala.collection.mutable.ArrayBuffer
import PObj._

/** Recursive-descent parser for PDF objects over a byte array.
  *
  * Accepts the same grammar (including backtracking order and quirks) as the
  * reference's attoparsec parsers (/root/reference/src/PDF/Object.hs):
  * choice order rrefs > name > number > hex > bool > null > array > dict >
  * literal string; first-wins duplicate dict keys; UTF-16BE BOM detection in
  * literal and hex strings; stream bodies honor /Length but verify the
  * `endstream` marker and fall back to a byte scan.
  */
final class Cursor(val buf: Array[Byte], var pos: Int) {
  def this(buf: Array[Byte]) = this(buf, 0)
  @inline def atEnd: Boolean = pos >= buf.length || pos < 0
  @inline def peek: Int = if (pos >= 0 && pos < buf.length) buf(pos) & 0xff else -1
  @inline def peekAt(k: Int): Int =
    if (pos + k >= 0 && pos + k < buf.length) buf(pos + k) & 0xff else -1
  @inline def next(): Int = { val c = peek; pos += 1; c }
  def startsWith(s: String): Boolean = {
    if (pos + s.length > buf.length) return false
    var i = 0
    while (i < s.length) { if ((buf(pos + i) & 0xff) != s.charAt(i)) return false; i += 1 }
    true
  }
  def consume(s: String): Boolean = if (startsWith(s)) { pos += s.length; true } else false
}

object Lexer {
  @inline def isPdfSpace(c: Int): Boolean =
    c == 0 || c == 9 || c == 10 || c == 12 || c == 13 || c == 32
  @inline def isDigit(c: Int): Boolean = c >= '0' && c <= '9'
  @inline def isHexDigit(c: Int): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
  @inline def hexVal(c: Int): Int =
    if (c <= '9') c - '0' else if (c >= 'a') c - 'a' + 10 else c - 'A' + 10

  /** spaces = many (comment | pdfspace); comment = '%' not followed by '%',
    * skipped to EOL (Object.hs:61, 289-291). */
  def skipSpaces(cur: Cursor): Unit = {
    var go = true
    while (go && !cur.atEnd) {
      val c = cur.peek
      if (isPdfSpace(c)) cur.pos += 1
      else if (c == '%' && cur.peekAt(1) != '%' && cur.peekAt(1) != -1) {
        cur.pos += 2
        while (!cur.atEnd && cur.peek != 13 && cur.peek != 10) cur.pos += 1
      } else go = false
    }
  }

  /** Parse an object body: dict+stream or a single atom (Object.hs:121-127).
    * Returns the parsed objects or None (with cursor restored). */
  def objectBody(cur: Cursor, sec: Option[Security], objNum: Int): Option[List[PObj]] = {
    val save = cur.pos
    dictAndStream(cur, sec, objNum) match {
      case some @ Some(_) => some
      case None =>
        cur.pos = save
        atom(cur, sec, objNum).map(List(_))
    }
  }

  /** parsePDFObj (Object.hs:129-133): never fails; bad body yields [PdfNull]. */
  def parsePdfObj(sec: Option[Security], objNum: Int, body: Array[Byte]): List[PObj] = {
    val cur = new Cursor(body)
    skipSpaces(cur)
    objectBody(cur, sec, objNum).getOrElse(List(PNull))
  }

  /** Maximum container nesting in one object: real PDFs nest shallowly; a
    * crafted `[[[[...` must not overflow the parse stack. */
  val MaxNestDepth = 200

  /** pdfobjAtom choice (Object.hs:135-160). */
  def atom(cur: Cursor, sec: Option[Security], objNum: Int): Option[PObj] =
    atom(cur, sec, objNum, 0)

  def atom(cur: Cursor, sec: Option[Security], objNum: Int, depth: Int): Option[PObj] = {
    if (depth > MaxNestDepth) return None
    val save = cur.pos
    def reset(): Unit = cur.pos = save
    rref(cur).orElse { reset(); name(cur) }
      .orElse { reset(); number(cur) }
      .orElse { reset(); hexString(cur, sec, objNum).map { o => skipSpaces(cur); o } }
      .orElse { reset(); bool(cur).map { o => skipSpaces(cur); o } }
      .orElse { reset(); nullObj(cur).map { o => skipSpaces(cur); o } }
      .orElse { reset(); array(cur, sec, objNum, depth + 1).map { o => skipSpaces(cur); o } }
      .orElse { reset(); dictionary(cur, sec, objNum, depth + 1).map { o => skipSpaces(cur); o } }
      .orElse { reset(); literal(cur, sec, objNum).map { o => skipSpaces(cur); o } }
  }

  /** Indirect reference `N G R` — generation is a SINGLE digit in the
    * reference grammar (Object.hs:414-424). */
  def rref(cur: Cursor): Option[PObj] = {
    val save = cur.pos
    var n = 0L
    var nd = 0
    while (isDigit(cur.peek)) { n = n * 10 + (cur.next() - '0'); nd += 1 }
    if (nd == 0) { cur.pos = save; return None }
    skipSpaces(cur)
    if (!isDigit(cur.peek)) { cur.pos = save; return None }
    cur.pos += 1
    skipSpaces(cur)
    if (cur.peek != 'R') { cur.pos = save; return None }
    cur.pos += 1
    skipSpaces(cur)
    Some(PRef(n.toInt))
  }

  /** `/Name` terminated by one of `><][)( \n\r/` (Object.hs:327-328).
    * The reference requires a terminator to exist (manyTill + lookAhead). */
  def name(cur: Cursor): Option[PObj] = {
    if (cur.peek != '/') return None
    val save = cur.pos
    cur.pos += 1
    val sb = new StringBuilder("/")
    var done = false
    while (!done) {
      if (cur.atEnd) { cur.pos = save; return None }
      val c = cur.peek
      if (c == '>' || c == '<' || c == ']' || c == '[' || c == ')' || c == '(' ||
          c == ' ' || c == '\n' || c == '\r' || c == '/') done = true
      else { sb.append(c.toChar); cur.pos += 1 }
    }
    skipSpaces(cur)
    Some(PName(sb.toString))
  }

  /** pdfnumber (Object.hs:372-380): [-]* then `.ddd` (-> 0.ddd) or
    * digits [. [digits]]. */
  def number(cur: Cursor): Option[PObj] = {
    val save = cur.pos
    var negs = 0
    while (cur.peek == '-') { negs += 1; cur.pos += 1 }
    val sb = new StringBuilder
    if (cur.peek == '.') {
      cur.pos += 1
      if (!isDigit(cur.peek)) { cur.pos = save; return None }
      sb.append("0.")
      while (isDigit(cur.peek)) sb.append(cur.next().toChar)
    } else {
      if (!isDigit(cur.peek)) { cur.pos = save; return None }
      while (isDigit(cur.peek)) sb.append(cur.next().toChar)
      var dots = 0
      while (cur.peek == '.') { dots += 1; cur.pos += 1 }
      if (dots <= 1) {
        if (dots == 1) sb.append('.')
        while (isDigit(cur.peek)) sb.append(cur.next().toChar)
      } else { cur.pos = save; return None } // `1..5` is unreadable in the reference too
    }
    skipSpaces(cur)
    var s = sb.toString
    if (s.endsWith(".")) s = s + "0"
    if (negs > 1) { cur.pos = save; return None } // `read "--5"` fails in the reference
    val v = s.toDouble
    Some(PNum(if (negs == 1) -v else v))
  }

  def bool(cur: Cursor): Option[PObj] =
    if (cur.consume("true")) Some(PBool(true))
    else if (cur.consume("false")) Some(PBool(false))
    else None

  def nullObj(cur: Cursor): Option[PObj] =
    if (cur.consume("null")) Some(PNull) else None

  /** `[ obj ... ]` (Object.hs:324-325). */
  def array(cur: Cursor, sec: Option[Security], objNum: Int): Option[PObj] =
    array(cur, sec, objNum, 0)

  def array(cur: Cursor, sec: Option[Security], objNum: Int, depth: Int): Option[PObj] = {
    if (depth > MaxNestDepth) return None
    if (!cur.consume("[")) return None
    skipSpaces(cur)
    val items = Vector.newBuilder[PObj]
    while (true) {
      val save = cur.pos
      skipSpaces(cur)
      if (cur.consume("]")) return Some(PArray(items.result()))
      cur.pos = save
      atom(cur, sec, objNum, depth + 1) match {
        case Some(o) => items += o
        case None => return None
      }
    }
    None
  }

  /** `<< /K v ... >>` with first-wins duplicate keys (Object.hs:316-322, 237-239). */
  def dictionary(cur: Cursor, sec: Option[Security], objNum: Int): Option[PObj] =
    dictionary(cur, sec, objNum, 0)

  def dictionary(cur: Cursor, sec: Option[Security], objNum: Int, depth: Int): Option[PObj] = {
    if (depth > MaxNestDepth) return None
    skipSpaces(cur)
    if (!cur.consume("<<")) return None
    skipSpaces(cur)
    var m = TreeMap.empty[String, PObj]
    while (true) {
      val save = cur.pos
      skipSpaces(cur)
      if (cur.consume(">>")) return Some(PDict(m))
      cur.pos = save
      name(cur) match {
        case Some(PName(k)) =>
          atom(cur, sec, objNum, depth + 1) match {
            case Some(v) => if (!m.contains(k)) m = m.updated(k, v)
            case None => return None
          }
        case _ => return None
      }
    }
    None
  }

  // ---- literal strings -------------------------------------------------

  /** Unescape a literal string body to raw bytes, tracking nesting.
    * Escape semantics per Object.hs:339-353: unknown `\x` drops the
    * backslash (keeps x), octal 1-3 digits. Returns bytes + whether the
    * closing paren was found. */
  private def literalBytes(cur: Cursor): Option[Array[Byte]] = {
    if (cur.peek != '(') return None
    val save = cur.pos
    cur.pos += 1
    val out = new ArrayBuffer[Byte]
    while (true) {
      if (cur.atEnd) { cur.pos = save; return None }
      val c = cur.next()
      if (c == ')') return Some(out.toArray)
      else if (c == '\\') {
        if (cur.atEnd) { cur.pos = save; return None }
        val e = cur.next()
        e match {
          case '(' => out += '('.toByte
          case ')' => out += ')'.toByte
          case '\\' => out += '\\'.toByte
          case 'n' => out += '\n'.toByte
          case 'r' => out += '\r'.toByte
          case 't' => out += '\t'.toByte
          case 'b' => out += '\b'.toByte
          case 'f' => out += '\f'.toByte
          case d if d >= '0' && d <= '7' =>
            var v = d - '0'
            var k = 1
            while (k < 3 && cur.peek >= '0' && cur.peek <= '7') { v = v * 8 + (cur.next() - '0'); k += 1 }
            out += v.toByte
          case other =>
            // reference: "" <$ string "\\" — backslash dropped, next char re-parsed
            out += other.toByte
        }
      } else out += c.toByte
    }
    None
  }

  /** UTF-16BE decode of raw bytes (strict; on any oddity fall back).
    * Mirrors decodeUtf16BEWith strictDecode usage guarded by parse fallback. */
  def utf16be(bytes: Array[Byte]): Option[String] = {
    if (bytes.length % 2 != 0) return None
    try Some(new String(bytes, java.nio.charset.StandardCharsets.UTF_16BE))
    catch { case _: Exception => None }
  }

  private def latin1(bytes: Array[Byte]): String = {
    val sb = new StringBuilder(bytes.length)
    var i = 0
    while (i < bytes.length) { sb.append((bytes(i) & 0xff).toChar); i += 1 }
    sb.toString
  }

  /** parsePdfLetters semantics (Object.hs:333-367): after unescaping, a body
    * starting with FE FF decodes the remainder as UTF-16BE; else bytes map
    * to chars 1:1 (latin-1). */
  def literalText(bytes: Array[Byte]): String = {
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xfe && (bytes(1) & 0xff) == 0xff) {
      utf16be(bytes.drop(2)).getOrElse(latin1(bytes))
    } else latin1(bytes)
  }

  def literal(cur: Cursor, sec: Option[Security], objNum: Int): Option[PObj] =
    literalBytes(cur).map { raw =>
      val body = sec match {
        case Some(s) => Crypt.decryptString(s, objNum, 0, raw)
        case None => raw
      }
      val t = PText(literalText(body))
      t.rawBytes = body // binary consumers (crypto dict, /ID) need the bytes
      t
    }

  // ---- hex strings -----------------------------------------------------

  /** `< hex >`. Without security: hex digits only (whitespace inside fails
    * the parse, Object.hs:386). FEFF prefix (lowercase or uppercase) decodes
    * the remaining hex 4-digit groups as UTF-16BE code units; the PdfHex
    * payload otherwise keeps the hex DIGITS as text (Object.hs:382-401). */
  def hexString(cur: Cursor, sec: Option[Security], objNum: Int): Option[PObj] = {
    if (cur.peek != '<' || cur.peekAt(1) == '<') return None
    val save = cur.pos
    cur.pos += 1
    val sb = new StringBuilder
    while (true) {
      if (cur.atEnd) { cur.pos = save; return None }
      val c = cur.next()
      if (c == '>') {
        val hex = sb.toString
        sec match {
          case None => return Some(plainHexObj(hex))
          case Some(s) =>
            val decrypted = Crypt.decryptString(s, objNum, 0, decodeHexBytes(hex))
            // re-encode decrypted bytes as latin-1 chars and re-run detection
            val txt = latin1(decrypted)
            // Object.hs:214-223 (hexSec): strip FEFF, take the longest
            // hex-digit PREFIX (parseOnly discards the rest), decode the
            // complete 4-digit groups, drop a trailing partial group;
            // no hex digit after the BOM falls through to the literal path
            if (txt.startsWith("feff") || txt.startsWith("FEFF")) {
              val rest = txt.drop(4).takeWhile(ch => isHexDigit(ch))
              if (rest.nonEmpty) {
                val groups = rest.length / 4
                val ph =
                  if (groups == 0) PHex(rest)
                  else PHex(hexUtf16(rest.substring(0, groups * 4)).getOrElse(txt))
                ph.rawBytes = decrypted
                return Some(ph)
              }
            }
            val pt = PText(literalText(decrypted))
            pt.rawBytes = decrypted
            return Some(pt)
        }
      } else if (isHexDigit(c)) sb.append(c.toChar)
      else { cur.pos = save; return None }
    }
    None
  }

  def plainHexObj(hex: String): PObj = {
    // Object.hs:382-401 semantics: strip a feff/FEFF prefix (exact case
    // variants only), decode the COMPLETE 4-digit groups as UTF-16BE and
    // DROP a trailing partial group (attoparsec parseOnly discards
    // unconsumed input); when no complete group exists the digits after
    // the BOM are kept as-is (BOM stripped). A lone "FEFF" keeps the full
    // digits (the reference's outer many1 fails). Invalid UTF-16 would
    // CRASH the reference (decodeUtf16BEWith strictDecode); we totalize
    // with replacement chars and keep the raw bytes alongside.
    if ((hex.startsWith("feff") || hex.startsWith("FEFF")) && hex.length > 4) {
      val rest = hex.substring(4)
      val groups = rest.length / 4
      val ph =
        if (groups == 0) PHex(rest)
        else PHex(hexUtf16(rest.substring(0, groups * 4)).getOrElse(hex))
      // the BOM decode is lossy (partial-group drop, invalid UTF-16 ->
      // U+FFFD); keep the raw bytes for binary consumers like a
      // FEFF-leading /O or /U
      ph.rawBytes = decodeHexBytes(hex)
      return ph
    }
    PHex(hex)
  }

  /** pdfhexletter: hex digits in 4-char groups -> UTF-16BE string
    * (Object.hs:391-401). Requires a multiple of 4 hex digits. */
  def hexUtf16(hex: String): Option[String] = {
    if (hex.isEmpty || hex.length % 4 != 0 || !hex.forall(c => isHexDigit(c))) return None
    val bytes = new Array[Byte](hex.length / 2)
    var i = 0
    while (i < hex.length) {
      bytes(i / 2) = ((hexVal(hex.charAt(i)) << 4) | hexVal(hex.charAt(i + 1))).toByte
      i += 2
    }
    utf16be(bytes)
  }

  /** decodeHexBytes (Object.hs:225-230): filter hex digits, pair them up
    * (odd trailing digit dropped). */
  def decodeHexBytes(hex: String): Array[Byte] = {
    val filtered = hex.filter(c => isHexDigit(c))
    val out = new Array[Byte](filtered.length / 2)
    var i = 0
    while (i + 1 < filtered.length) {
      out(i / 2) = ((hexVal(filtered.charAt(i)) << 4) | hexVal(filtered.charAt(i + 1))).toByte
      i += 2
    }
    out
  }

  // ---- dict + stream ---------------------------------------------------

  /** dictAndStream (Object.hs:274-287). */
  def dictAndStream(cur: Cursor, sec: Option[Security], objNum: Int): Option[List[PObj]] = {
    dictionary(cur, sec, objNum).flatMap { case d @ PDict(dict) =>
      skipSpaces(cur)
      if (!cur.startsWith("stream")) Some(List(d))
      else {
        cur.pos += "stream".length
        readStreamBody(cur, dict).map(stm => List(d, PStream(stm)))
      }
    }
  }

  private def skipStreamEol(cur: Cursor): Unit = {
    if (cur.consume("\r\n")) ()
    else if (cur.consume("\n")) ()
    else { cur.consume("\r"); () }
  }

  /** readStreamBody (Object.hs:261-272): take /Length bytes if the
    * endstream marker follows; else scan for an EOL-preceded `endstream`. */
  def readStreamBody(cur: Cursor, dict: TreeMap[String, PObj]): Option[Array[Byte]] = {
    skipStreamEol(cur)
    val start = cur.pos
    dict.get("/Length") match {
      case Some(PNum(len)) if len >= 0 =>
        val n = Util.hsTruncate(len)
        if (cur.pos + n <= cur.buf.length) {
          val save = cur.pos
          cur.pos += n
          // streamEndMarker: optional EOL then "endstream"
          skipStreamEol(cur)
          if (cur.consume("endstream")) {
            return Some(java.util.Arrays.copyOfRange(cur.buf, save, save + n))
          }
          cur.pos = save
        }
        scanTillEndstream(cur, start)
      case _ => scanTillEndstream(cur, start)
    }
  }

  /** scanTillEndstream (Object.hs:250-259): `endstream` must be at the very
    * start or preceded by CR/LF; the EOL byte stays part of the data. */
  private def scanTillEndstream(cur: Cursor, start: Int): Option[Array[Byte]] = {
    var i = start
    val buf = cur.buf
    while (i <= buf.length - 9) {
      val prevOk = i == start || { val p = buf(i - 1) & 0xff; p == 13 || p == 10 }
      if (prevOk && regionIs(buf, i, "endstream")) {
        cur.pos = i + 9
        return Some(java.util.Arrays.copyOfRange(buf, start, i))
      }
      i += 1
    }
    None
  }

  private def regionIs(buf: Array[Byte], off: Int, s: String): Boolean = {
    if (off + s.length > buf.length) return false
    var k = 0
    while (k < s.length) { if ((buf(off + k) & 0xff) != s.charAt(k)) return false; k += 1 }
    true
  }

  // ---- object header / slicing (for buildIndex + eager fallback) -------

  /** objectHeader (Object.hs:78-88): `N G obj`. */
  def objectHeader(cur: Cursor): Option[Int] = {
    val save = cur.pos
    skipSpaces(cur)
    var n = 0L
    var nd = 0
    while (isDigit(cur.peek)) { n = n * 10 + (cur.next() - '0'); nd += 1 }
    if (nd == 0) { cur.pos = save; return None }
    skipSpaces(cur)
    var gd = 0
    while (isDigit(cur.peek)) { cur.pos += 1; gd += 1 }
    if (gd == 0) { cur.pos = save; return None }
    if (!cur.consume(" obj")) { cur.pos = save; return None }
    skipSpaces(cur)
    Some(n.toInt)
  }

  /** sliceObjectAt (Object.hs:90-103): parse a full object at the cursor and
    * return the matched BODY bytes (between header and endobj). */
  def sliceObject(buf: Array[Byte], offset: Int): Option[(Int, Array[Byte], Int)] = {
    if (offset < 0 || offset > buf.length) return None
    val cur = new Cursor(buf, offset)
    objectHeader(cur).flatMap { objn =>
      val bodyStart = cur.pos
      objectBody(cur, None, objn) match {
        case Some(_) =>
          val bodyEnd = cur.pos
          skipSpaces(cur)
          if (cur.consume("endobj"))
            Some((objn, java.util.Arrays.copyOfRange(buf, bodyStart, bodyEnd), cur.pos))
          else None
        case None => None
      }
    }
  }

  /** collectPDFObjs (Object.hs:105-112): sequential scan of `N G obj ... endobj`. */
  def collectPdfObjs(buf: Array[Byte]): List[(Int, Array[Byte])] = {
    val out = List.newBuilder[(Int, Array[Byte])]
    var pos = 0
    while (pos < buf.length && isPdfSpace(buf(pos) & 0xff)) pos += 1
    var go = true
    while (go && pos < buf.length) {
      sliceObject(buf, pos) match {
        case Some((n, body, after)) =>
          out += ((n, body))
          pos = after
          while (pos < buf.length && isPdfSpace(buf(pos) & 0xff)) pos += 1
        case None => go = false
      }
    }
    out.result()
  }

  /** extractObjBody (DocumentStructure.hs:93-101). */
  def extractObjBody(buf: Array[Byte], offset: Int): Array[Byte] = {
    sliceObject(buf, offset) match {
      case Some((_, body, _)) => body
      case None =>
        // fallback: between " obj" and "endobj" after offset
        val end = indexOfFrom(buf, offset, "endobj")
        val stop = if (end < 0) buf.length else end
        val objAt = indexOfBetween(buf, offset, stop, " obj")
        if (objAt < 0) Array.emptyByteArray
        else {
          var s = objAt // reference keeps " obj" prefix then drops pdf spaces
          // BS.breakSubstring " obj" gives (pre, " obj...body"), then dropWhile space
          // over the WHOLE remainder including " obj" itself -> " obj" retained?
          // Actually dropWhile on " obj..." drops the leading space only, leaving
          // "obj..."; mirror that:
          while (s < stop && isPdfSpace(buf(s) & 0xff)) s += 1
          java.util.Arrays.copyOfRange(buf, s, stop)
        }
    }
  }

  def indexOfFrom(buf: Array[Byte], from: Int, s: String): Int = {
    var i = math.max(0, from)
    val lim = buf.length - s.length
    while (i <= lim) {
      if (regionIs(buf, i, s)) return i
      i += 1
    }
    -1
  }

  private def indexOfBetween(buf: Array[Byte], from: Int, to: Int, s: String): Int = {
    var i = math.max(0, from)
    val lim = math.min(to, buf.length) - s.length
    while (i <= lim) {
      if (regionIs(buf, i, s)) return i
      i += 1
    }
    -1
  }

  /** parseRefsArray (Object.hs:429-432). */
  def refsOf(objs: Seq[PObj]): List[Int] =
    objs.collect { case PRef(n) => n }.toList
}
