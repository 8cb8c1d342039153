package graft.core

import Util.{strip, stripEnd, stripStart}

/** Footnote inlining (reference Layout.hs:475-611): small-size lines in the
  * bottom band starting with markers like †2 form footnote blocks; matching
  * superscript markers in body lines become <footnote>...</footnote>.
  * Horizontal pages only. */
object Footnotes {

  private val markerPrefixes = "†‡*※"

  def inlineFootnotes(ls: List[Line]): List[Line] = {
    if (ls.isEmpty) return ls
    val bodySize = Util.medianOf(Util.lineSizes(ls))
    val (lo, hi) = Layout.pageBaselineExtent(ls)
    val bandTop = lo + 0.35 * (hi - lo)
    def isSmall(l: Line) = l.size <= 0.85 * bodySize
    def inRegion(l: Line) = isSmall(l) && l.baseline <= bandTop

    val tagged = ls.map(l => (inRegion(l), l))
    val regionLines = tagged.collect { case (true, l) => l }
    val blocks = footnoteBlocks(regionLines)
    val bodyLines = tagged.collect { case (false, l) => l }
    val (consumedIdx, rewrite) = matchAnchors(blocks, bodyLines)
    val consumedLines: Set[Int] = (for {
      (block, bi) <- blocks.zipWithIndex
      if consumedIdx.contains(bi)
      i <- block._3
    } yield i).toSet

    val out = List.newBuilder[Line]
    var regionIdx = 0
    for ((inR, l) <- tagged) {
      if (inR) {
        if (!consumedLines.contains(regionIdx)) out += l
        regionIdx += 1
      } else out += rewrite(l)
    }
    out.result()
  }

  /** Blocks: (marker key, body text, region line indexes). */
  private def footnoteBlocks(regionLines: List[Line]): List[(String, String, List[Int])] = {
    val indexed = regionLines.zipWithIndex
    def go(rest: List[(Line, Int)]): List[(String, String, List[Int])] = rest match {
      case Nil => Nil
      case (l, i) :: more =>
        blockStart(l) match {
          case None => go(more)
          case Some((key, firstText)) =>
            val (cont, rest2) = more.span { case (l2, _) => blockStart(l2).isEmpty }
            val bodyLines = firstText :: cont.map { case (l2, _) => strip(l2.text) }
            val body = strip(bodyLines.foldLeft("")(cjkJoin))
            (key, body, i :: cont.map(_._2)) :: go(rest2)
        }
    }
    go(indexed.map { case (l, i) => (l, i) })
  }

  private def cjkJoin(a: String, b: String): String =
    if (a.isEmpty) b
    else if (b.isEmpty) a
    else {
      val sep = Layout.paraJoinSep(stripEnd(a), stripStart(b))
      if (sep.isEmpty) a + b else a + sep + b
    }

  private def isAsciiDigit(c: Char): Boolean = c >= '0' && c <= '9'

  private def blockStart(l: Line): Option[(String, String)] = {
    l.markers.collectFirst { case (0, mt) => mt } match {
      case Some(mt) if markerKey(mt).isDefined =>
        Some((markerKey(mt).get, strip(l.text.drop(mt.length))))
      case _ =>
        val t = stripStart(l.text)
        t.headOption match {
          case Some(c) if markerPrefixes.indexOf(c) >= 0 =>
            val rest = t.drop(1)
            val ds = rest.takeWhile(isAsciiDigit)
            if (ds.nonEmpty && ds.length <= 3)
              Some((c.toString + ds, strip(rest.drop(ds.length))))
            else None
          case _ => None
        }
    }
  }

  private def markerKey(mt: String): Option[String] = {
    val s = mt.filterNot(Util.isHsSpace)
    def digits(d: String) = d.nonEmpty && d.length <= 3 && d.forall(isAsciiDigit)
    s.headOption match {
      case Some(c) if markerPrefixes.indexOf(c) >= 0 && digits(s.drop(1)) => Some(s)
      case _ if digits(s) => Some(s)
      case _ => None
    }
  }

  private def matchAnchors(blocks: List[(String, String, List[Int])],
      bodyLines: List[Line]): (Set[Int], Line => Line) = {
    val anchors = for {
      l <- bodyLines
      (_, mt) <- l.markers
      key <- markerKey(mt).toList
    } yield key

    var consumed = Set.empty[Int]
    var consumedKeys = Set.empty[(Int, String)]
    for (key <- anchors) {
      blocks.zipWithIndex.find { case ((bkey, _, _), bi) =>
        bkey == key && !consumed.contains(bi)
      } match {
        case Some((_, bi)) => consumed += bi; consumedKeys += ((bi, key))
        case None => ()
      }
    }
    val consumedIdx = consumed

    def bodyOf(key: String): Option[String] =
      blocks.zipWithIndex.collectFirst {
        case ((bkey, b, _), bi) if bkey == key && consumedIdx.contains(bi) => b
      }

    def rewrite(l: Line): Line = {
      if (l.markers.isEmpty) l
      else {
        var acc = new StringBuilder
        var pos = 0
        var used = Set.empty[String]
        for ((off, mt) <- l.markers) {
          val pre = l.text.substring(math.min(pos, l.text.length),
            math.min(math.max(off, pos), l.text.length))
          val after = off + mt.length
          markerKey(mt) match {
            case Some(key) if !used.contains(key) && bodyOf(key).isDefined =>
              acc.append(pre).append("<footnote>").append(bodyOf(key).get).append("</footnote>")
              used += key
            case _ =>
              acc.append(pre).append(mt)
          }
          pos = after
        }
        val rest = l.text.substring(math.min(pos, l.text.length))
        l.copy(text = acc.toString + rest, markers = Nil)
      }
    }
    (consumedIdx, rewrite)
  }
}
