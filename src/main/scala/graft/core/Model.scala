package graft.core

import scala.collection.immutable.TreeMap

/** PDF object model.
  *
  * Re-expression of the reference's dynamic PDF value ADT
  * (/root/reference/src/PDF/Definition.hs:29-42). Dictionaries use ordered
  * maps so that every iteration is deterministic (the reference's Data.Map
  * iterates in ascending key order). An abstract class, not a trait: the
  * content-stream tokenizer tests every token against PObj, and a class
  * test is one compare where an interface test searches the tested
  * class's secondary supertypes.
  */
sealed abstract class PObj extends Product with Serializable
object PObj {
  final case class PDict(d: TreeMap[String, PObj]) extends PObj
  /** `rawBytes`: the pre-decoding string bytes, set by the lexer when the
    * text form is lossy (UTF-16BE BOM decode replaces invalid sequences).
    * Binary consumers — the /Encrypt dict's /O /U /UE /OE /Perms, the
    * trailer /ID — MUST read these, never re-derive bytes from the decoded
    * text: a 48-byte /U that happens to start FE FF would otherwise be
    * mangled into Unicode replacement chars and fail password validation
    * (observed ~5 per million synthetic AES-256 docs). Not part of
    * equality (a var on the instance), so pattern matches are unchanged. */
  final case class PText(s: String) extends PObj { var rawBytes: Array[Byte] = null }
  final case class PStream(bytes: Array[Byte]) extends PObj
  final case class PNum(v: Double) extends PObj
  final case class PHex(hex: String) extends PObj { var rawBytes: Array[Byte] = null }
  final case class PBool(b: Boolean) extends PObj
  final case class PArray(xs: Vector[PObj]) extends PObj
  final case class PName(n: String) extends PObj
  final case class PRef(n: Int) extends PObj
  case object PNull extends PObj
}

/** Xref entry: byte offset, or (container objnum, index) inside an object
  * stream (Definition.hs:17-19). */
sealed trait XrefEntry extends Product with Serializable
object XrefEntry {
  final case class InFile(off: Int) extends XrefEntry
  final case class InObjStm(container: Int, idx: Int) extends XrefEntry
}

/** Error taxonomy (reference src/PDF/Error.hs:46-79). */
sealed trait PdfError extends Product with Serializable { def render: String }
object PdfError {
  final case class ParseError(msg: String) extends PdfError { def render = s"parse error: $msg" }
  final case class BrokenXref(msg: String) extends PdfError { def render = s"broken cross-reference: $msg" }
  final case class MissingObject(n: Int) extends PdfError { def render = s"missing object: $n 0 R" }
  final case class MissingKey(key: String, ctx: String) extends PdfError { def render = s"missing key $key in $ctx" }
  final case class UnsupportedFeature(msg: String) extends PdfError { def render = s"unsupported feature: $msg" }
  final case class DecryptionError(msg: String) extends PdfError { def render = s"cannot decrypt: $msg" }
}

sealed trait PdfWarning extends Product with Serializable
object PdfWarning {
  final case class UnknownOperator(op: String) extends PdfWarning
  final case class UnmappedCid(cid: Int) extends PdfWarning
  final case class PageContentFailed(ref: Int, reason: String) extends PdfWarning
}

/** 2x3 affine matrix (reference src/PDF/Matrix.hs:13-46). */
final case class Mat(a: Double, b: Double, c: Double, d: Double, e: Double, f: Double) {
  def multiply(m2: Mat): Mat = Mat(
    a * m2.a + b * m2.c,
    a * m2.b + b * m2.d,
    c * m2.a + d * m2.c,
    c * m2.b + d * m2.d,
    e * m2.a + f * m2.c + m2.e,
    e * m2.b + f * m2.d + m2.f)
  def apply(x: Double, y: Double): (Double, Double) = (a * x + c * y + e, b * x + d * y + f)
  def applyVec(x: Double, y: Double): (Double, Double) = (a * x + c * y, b * x + d * y)
}
object Mat {
  val identity: Mat = Mat(1, 0, 0, 1, 0, 0)
  def translate(tx: Double, ty: Double): Mat = Mat(1, 0, 0, 1, tx, ty)
}

/** Font byte-code to character mapping strategy (Definition.hs:70-79). */
sealed trait Encoding extends Product with Serializable
object Encoding {
  final case class CIDmap(registryOrdering: String) extends Encoding
  final case class DiffEncoding(m: TreeMap[Int, String]) extends Encoding // code -> glyph name
  final case class WithCharSet(cs: String) extends Encoding
  case object SJISmap extends Encoding
  case object UnicodeMap extends Encoding
  case object JISmap extends Encoding
  case object NullMap extends Encoding
}

/** Per-font resolution state. Unlike the reference (Definition.hs:83-91,
  * which stores width *functions*) widths are plain data so the type is
  * serializable / Spark-encodable if it ever leaves the kernel. */
final case class FontInfo(
    encoding: Encoding,
    toUnicode: Map[Int, String],
    // simple-font widths: firstChar + widths array (+ default)
    simpleFirstChar: Int,
    simpleWidths: Vector[Option[Double]],
    // CID widths: /W map and /W2 map
    cidWidths: Map[Int, Double],
    cidWidthsV: Map[Int, Double],
    w1Default: Double,
    wmode: Int,
    bytesPerCode: Int,
    defaultWidth: Double,
    isType0: Boolean) {

  /** `Interp.codeToUnicode` of each code below 65536, in 256-code pages
    * allocated and filled on first use. A memo of a pure function of the
    * fields, so not part of equality. A font read by reference is memoized
    * per document (`Document.fontInfoByRef`), so its table serves the
    * document; an inline font dict or a repaired `/C0_`-style font is a
    * new FontInfo per page (`Interp.lookupFontResource`), so its table
    * lasts one page. */
  private[core] lazy val codeText: Array[Array[String]] = new Array[Array[String]](256)

  /** `simpleWidths` with `defaultWidth` in place of a missing entry. */
  private lazy val simpleWidthArr: Array[Double] =
    simpleWidths.iterator.map(_.getOrElse(defaultWidth)).toArray

  /** Horizontal width in glyph units (DocumentStructure.hs:962, 989). */
  def width(code: Int): Double =
    if (isType0) cidWidths.getOrElse(code, defaultWidth)
    else {
      val idx = code - simpleFirstChar
      val ws = simpleWidthArr
      if (idx >= 0 && idx < ws.length) ws(idx) else defaultWidth
    }

  /** Vertical displacement w1 in glyph units (DocumentStructure.hs:967, 990). */
  def widthV(code: Int): Double =
    if (isType0) cidWidthsV.getOrElse(code, w1Default)
    else FontInfo.DefaultVerticalW1
}
object FontInfo {
  val DefaultVerticalW1: Double = -1000
  val empty: FontInfo = FontInfo(Encoding.NullMap, Map.empty, 0, Vector.empty,
    Map.empty, Map.empty, DefaultVerticalW1, 0, 1, 0, isType0 = false)
}

/** Positioned text run (Interpret.hs:60-69). */
final case class Glyph(
    text: String,
    x: Double,
    y: Double,
    width: Double,
    size: Double,
    font: String,
    wmode: Int,
    mcid: Option[Int])

final case class Rect(x0: Double, y0: Double, x1: Double, y1: Double)

/** A page is a plain `List[Glyph]`. perfbench/Replay.scala imports this
  * object and counts glyphs with `isInstanceOf` on its alias; nothing else
  * uses it. */
object PageItem { type ItemGlyph = Glyph }

/** Merged glyph run on one baseline (Layout.hs:855-865). */
final case class Line(
    baseline: Double,
    inlineStart: Double,
    inlineEnd: Double,
    size: Double,
    firstInline: Double,
    wmode: Int,
    text: String,
    markers: List[(Int, String)],
    lastSuper: Boolean)

object Util {
  /** Haskell Data.Char.isSpace approximation (Unicode space + control ws). */
  def isHsSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == '\u000B' ||
      Character.isSpaceChar(c)

  /** Haskell T.strip */
  def strip(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && isHsSpace(s.charAt(i))) i += 1
    while (j > i && isHsSpace(s.charAt(j - 1))) j -= 1
    s.substring(i, j)
  }
  def stripStart(s: String): String = {
    var i = 0
    while (i < s.length && isHsSpace(s.charAt(i))) i += 1
    s.substring(i)
  }
  def stripEnd(s: String): String = {
    var j = s.length
    while (j > 0 && isHsSpace(s.charAt(j - 1))) j -= 1
    s.substring(0, j)
  }

  /** Last char of a string as Haskell T.last (code unit is fine for our use:
    * all comparisons target BMP chars). */
  def lastChar(s: String): Option[Char] = if (s.isEmpty) None else Some(s.charAt(s.length - 1))
  def firstChar(s: String): Option[Char] = if (s.isEmpty) None else Some(s.charAt(0))

  /** Codepoint-safe variants used by layout joins (Haskell Text works in
    * codepoints; surrogate pairs must not be split when testing CJK-ness —
    * only relevant for astral chars which are never CJK here, so unit-level
    * access is behavior-identical for the checks we do). */
  /** The lower and the higher of `acc` and `v` as the collections' `min`
    * and `max` order doubles (`java.lang.Double.compare`: NaN highest,
    * −0.0 below 0.0); `acc` on a tie. */
  def totalMin(acc: Double, v: Double): Double = if (java.lang.Double.compare(v, acc) < 0) v else acc
  def totalMax(acc: Double, v: Double): Double = if (java.lang.Double.compare(v, acc) > 0) v else acc

  /** Each line's size, in order, in a fresh array. */
  def lineSizes(ls: List[Line]): Array[Double] = {
    val sizes = new Array[Double](ls.length)
    var i = 0
    for (l <- ls) { sizes(i) = l.size; i += 1 }
    sizes
  }

  /** The median of `xs` (0 when empty), the mean of the middle two for an
    * even count, ordered by `java.lang.Double.compare` (NaN highest, −0.0
    * below 0.0). Sorts `xs` in place. */
  def medianOf(xs: Array[Double]): Double = {
    val n = xs.length
    if (n == 0) 0
    else {
      java.util.Arrays.sort(xs)
      val mid = n / 2
      if (n % 2 == 1) xs(mid) else (xs(mid - 1) + xs(mid)) / 2
    }
  }

  /** Haskell `truncate` (round toward zero). */
  def hsTruncate(x: Double): Int = x.toInt
}
