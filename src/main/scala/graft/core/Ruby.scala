package graft.core

import Util.{firstChar, strip}
import Layout.sortLinesByReadingOrder

/** Ruby (furigana) line pairing and Aozora-bunko notation
  * (reference Layout.hs:239-473). Always runs — when ruby output is off the
  * small aligned lines are still merged into their base lines (suppressed). */
object Ruby {

  def aozoraRuby(base: String, ruby: String): String = {
    val prefix = if (needsAozoraBar(base)) "｜" else ""
    base + prefix + "《" + ruby + "》"
  }

  def needsAozoraBar(t: String): Boolean = {
    // number of distinct script categories >= 2
    val cats = t.flatMap(scriptCategory).toSet
    cats.size >= 2
  }

  private def scriptCategory(c: Char): Option[Int] = {
    val cp = c.toInt
    if (cp >= 0x3041 && cp <= 0x309F) Some(1) // hiragana
    else if (cp >= 0x30A1 && cp <= 0x30FF) Some(2) // katakana
    else if ((cp >= 0x4E00 && cp <= 0x9FFF) || (cp >= 0x3400 && cp <= 0x4DBF) ||
             (cp >= 0xF900 && cp <= 0xFAFF)) Some(3) // cjk
    else if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) Some(4) // latin
    else if (Util.isHsSpace(c)) None
    else Some(5) // other
  }

  def mergeInterleavedRubyLines(wmode: Int, includeRuby: Boolean, ls: List[Line]): List[Line] = {
    if (ls.isEmpty) ls
    else {
      val bodySize = bodyMedianSize(ls)
      val (rubyLs, bodyLs) = ls.partition(isRubyLine(wmode, bodySize, ls, _))
      if (rubyLs.isEmpty) ls
      else mergeBodyBands(wmode, includeRuby, bodySize, rubyLs, bodyLs)
    }
  }

  /** The median size of the lines above 0.85 of the median line size,
    * or that median when there are none. */
  private[graft] def bodyMedianSize(ls: List[Line]): Double = {
    val sizes = Util.lineSizes(ls)
    val n = sizes.length
    val med = Util.medianOf(sizes)
    // sorted, NaN last: the body sizes are the run before the NaNs that
    // starts at the first size above the bar
    var from = 0
    while (from < n && !(sizes(from) > 0.85 * med)) from += 1
    var to = n
    while (to > from && sizes(to - 1).isNaN) to -= 1
    if (from == to) med else Util.medianOf(java.util.Arrays.copyOfRange(sizes, from, to))
  }

  private def isRubyLine(wmode: Int, bodySize: Double, ls: List[Line], l: Line): Boolean =
    l.size <= 0.85 * bodySize &&
      strip(l.text).nonEmpty &&
      ls.exists(b => b.size > 0.85 * bodySize && rubyAlignsWithParent(wmode, l, b))

  private def baselineClose(bodySize: Double, a: Line, b: Line): Boolean =
    math.abs(a.baseline - b.baseline) <= 0.4 * bodySize

  private def rubyAlignsWithParent(wmode: Int, ruby: Line, parent: Line): Boolean = {
    val bodySize = parent.size
    val offset =
      if (wmode == 1) parent.baseline - ruby.baseline
      else ruby.baseline - parent.baseline
    val overlap = rubyOverlapFrac(ruby, parent)
    ruby.size <= 0.85 * bodySize &&
      offset > 0.15 * bodySize && offset <= 1.2 * bodySize &&
      overlap >= 0.2
  }

  private def rubyOverlapFrac(ruby: Line, parent: Line): Double = {
    val rLo = math.min(ruby.inlineStart, ruby.inlineEnd)
    val rHi = math.max(ruby.inlineStart, ruby.inlineEnd)
    val bLo = math.min(parent.inlineStart, parent.inlineEnd)
    val bHi = math.max(parent.inlineStart, parent.inlineEnd)
    val overlap = math.max(0, math.min(rHi, bHi) - math.max(rLo, bLo))
    overlap / math.max(rHi - rLo, 1)
  }

  private def mergeBodyBands(wmode: Int, includeRuby: Boolean, bodySize: Double,
      rubyLs: List[Line], bodyLs: List[Line]): List[Line] = {
    val bands = groupBands(bodySize, sortLinesByReadingOrder(bodyLs))
    bands.flatMap(mergeOneBand(wmode, includeRuby, bodySize, rubyLs, _))
  }

  private def groupBands(bodySize: Double, ls: List[Line]): List[List[Line]] = ls match {
    case Nil => Nil
    case l :: rest =>
      val (same, more) = rest.span(baselineClose(bodySize, l, _))
      (l :: same) :: groupBands(bodySize, more)
  }

  private def mergeOneBand(wmode: Int, includeRuby: Boolean, bodySize: Double,
      allRuby: List[Line], bodyBand: List[Line]): List[Line] = {
    val sorted = bodyBand.sortBy(_.inlineStart)
    val (segments, _) = foldSegments(wmode, bodySize, allRuby, sorted)
    val repStart = sorted.head
    val repEnd = sorted.last
    val txt = renderSegments(includeRuby, segments)
    if (txt.isEmpty) Nil
    else List(repStart.copy(
      text = txt,
      inlineEnd = repEnd.inlineEnd,
      inlineStart = repStart.inlineStart,
      size = math.max(repStart.size, repEnd.size)))
  }

  private sealed trait Seg
  private final case class PlainSeg(l: Line) extends Seg
  private final case class ClusterSeg(pairs: List[(Line, Line)]) extends Seg

  /** Haskell maximumBy keeps the LAST maximal element. */
  private def findRubyLast(wmode: Int, pool: List[Line], body: Line): Option[Line] = {
    val rs = pool.filter(rubyAlignsWithParent(wmode, _, body))
    if (rs.isEmpty) None
    else {
      val maxFrac = rs.map(r => rubyOverlapFrac(r, body)).max
      Some(rs.filter(r => rubyOverlapFrac(r, body) == maxFrac).last)
    }
  }

  private def sameRubyLine(a: Line, b: Line): Boolean =
    a.baseline == b.baseline && a.inlineStart == b.inlineStart && a.text == b.text

  private def removeRubyLine(r: Line, pool: List[Line]): List[Line] =
    pool.filterNot(sameRubyLine(r, _))

  private def clusterContinuation(prev: Line, cur: Line): Boolean =
    baselineClose(cur.size, prev, cur) &&
      cur.inlineStart - prev.inlineEnd <= 2 * cur.size

  private def foldSegments(wmode: Int, bodySize: Double, rubyPool: List[Line],
      bodies: List[Line]): (List[Seg], List[Line]) = {
    def go(pool: List[Line], bs: List[Line]): (List[Seg], List[Line]) = bs match {
      case Nil => (Nil, pool)
      case b :: rest =>
        findRubyLast(wmode, pool, b) match {
          case None =>
            val plain = (b :: rest).takeWhile(l => findRubyLast(wmode, pool, l).isEmpty)
            val (more, pool2) = go(pool, (b :: rest).drop(plain.length))
            (plain.map(PlainSeg.apply) ++ more, pool2)
          case Some(r) =>
            val (cluster, restBs, pool2) = spanCluster(wmode, bodySize, removeRubyLine(r, pool), r, b, rest)
            val (more, pool3) = go(pool2, restBs)
            (ClusterSeg(cluster) :: more, pool3)
        }
    }
    go(rubyPool, bodies)
  }

  private def spanCluster(wmode: Int, bodySize: Double, pool0: List[Line],
      r: Line, b: Line, bs: List[Line]): (List[(Line, Line)], List[Line], List[Line]) = {
    var rp = pool0
    var pairs = List((b, r))
    var rest = bs
    var done = false
    while (!done) rest match {
      case b2 :: bs2 =>
        findRubyLast(wmode, rp, b2) match {
          case Some(r2) if clusterContinuation(pairs.last._1, b2) =>
            rp = removeRubyLine(r2, rp)
            pairs = pairs :+ ((b2, r2))
            rest = bs2
          case _ => done = true
        }
      case Nil => done = true
    }
    (pairs, rest, rp)
  }

  private def shortBodyLine(l: Line): Boolean = strip(l.text).length <= 2

  private def clusterBaseText(pairs: List[(Line, Line)]): String = {
    val bs = pairs.map(_._1)
    bs.zipWithIndex.map { case (b, i) =>
      if (bs.length == 1) strip(b.text)
      else if (i == bs.length - 1 && !shortBodyLine(b)) firstCharText(b.text)
      else strip(b.text)
    }.mkString
  }

  private def firstCharText(t: String): String =
    firstChar(strip(t)).map(_.toString).getOrElse("")

  private def clusterSuffixText(pairs: List[(Line, Line)]): String =
    pairs.map(_._1).reverse match {
      case b :: _ if !shortBodyLine(b) =>
        val t = strip(b.text)
        if (t.isEmpty) "" else t.drop(1)
      case _ => ""
    }

  private def clusterRubyText(pairs: List[(Line, Line)]): String =
    pairs.map(p => strip(p._2.text)).mkString

  private def renderSegments(includeRuby: Boolean, segments: List[Seg]): String =
    segments.map {
      case PlainSeg(l) => strip(l.text)
      case ClusterSeg(pairs) =>
        val base = clusterBaseText(pairs)
        val ruby = clusterRubyText(pairs)
        val suffix = clusterSuffixText(pairs)
        (if (includeRuby) aozoraRuby(base, ruby) else base) + suffix
    }.mkString
}
