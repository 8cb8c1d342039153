package graft.core

import Util.{firstChar, lastChar, medianOf, strip, stripEnd, stripStart}
import PageItem._

/** Line and paragraph reconstruction from interpreted page items.
  *
  * Re-expression of /root/reference/src/PDF/Layout.hs — every heuristic
  * constant (baseline merge 0.4*size, gap break 1.6*leading, indent 0.85em,
  * ruby ratio 0.85, IQR*3 outlier bands, header/footer 15% bands) is kept
  * identical so extracted text matches byte-for-byte.
  */
object Layout {

  final case class LayoutOptions(footnotes: Boolean, ruby: Boolean)
  val defaultOptions: LayoutOptions = LayoutOptions(footnotes = false, ruby = false)

  sealed trait PageLines
  final case class PageFallback(ps: List[String]) extends PageLines
  final case class PageNormal(wmode: Int, graphics: List[Rect], bounds: (Double, Double),
      lines: List[Line]) extends PageLines

  // ---------- top-level drivers ----------

  def layoutPageText(opts: LayoutOptions, items: List[PageItem]): String =
    formatParagraphs(layoutParagraphs(opts, items))

  def layoutDocumentFromPageLines(opts: LayoutOptions, layouts: List[PageLines]): String =
    formatParagraphs(documentParagraphsFromPageLines(opts, layouts))

  def formatParagraphs(ps: List[String]): String =
    if (ps.isEmpty) "\n" else ps.mkString("\n\n") + "\n"

  def layoutParagraphs(opts: LayoutOptions, items: List[PageItem]): List[String] =
    applyFootnotesOpt(opts, applyRuby(opts, pageLinesRaw(items))) match {
      case PageFallback(ps) => ps
      case PageNormal(wmode, graphics, bounds, ls) =>
        groupParagraphs(wmode, graphics, bounds, ls).map(joinParaLines)
    }

  def pageItemLines(opts: LayoutOptions, items: List[PageItem]): List[Line] =
    applyFootnotesOpt(opts, applyRuby(opts, pageLinesRaw(items))) match {
      case PageFallback(_) => Nil
      case PageNormal(_, _, _, ls) => ls
    }

  def pageItemParagraphGroups(opts: LayoutOptions, items: List[PageItem]): List[List[Line]] =
    applyFootnotesOpt(opts, applyRuby(opts, pageLinesRaw(items))) match {
      case PageFallback(ps) => List.fill(ps.length)(Nil)
      case PageNormal(wmode, graphics, bounds, ls) => groupParagraphs(wmode, graphics, bounds, ls)
    }

  /** Cross-page paragraph merge with pending-paragraph carry
    * (Layout.hs:120-175). */
  def documentParagraphsFromPageLines(opts: LayoutOptions, layouts: List[PageLines]): List[String] = {
    val n = layouts.length
    val stripped = applyHeaderFooterStrip(n, layouts)
    val finalPages = stripped.map(p => applyFootnotesOpt(opts, applyRuby(opts, p)))

    var done = Vector.empty[String]
    var pending: List[Line] = Nil

    def continuePage(pageGroups: List[List[Line]]): Unit =
      pageGroups.reverse match {
        case Nil => pending = Nil
        case lastG :: restRev =>
          done = done ++ restRev.reverse.map(joinParaLines)
          pending = lastG
      }

    for (page <- finalPages) page match {
      case PageFallback(ps) =>
        done = done ++ (finalizePending(pending) ++ ps.map(strip))
        pending = Nil
      case PageNormal(wmode, graphics, bounds, ls) =>
        val pageGroups = groupParagraphs(wmode, graphics, bounds, ls)
        val pageMinInline = if (ls.isEmpty) 0.0 else ls.map(_.inlineStart).min
        (pending, pageGroups) match {
          case (Nil, _) => continuePage(pageGroups)
          case (_, Nil) => () // keep pending
          case (ps, g :: gs) => g match {
            case firstLine :: _ =>
              val paraSoFar = joinParaLines(ps)
              val lastLine = ps.reverse match {
                case l :: _ => l
                case Nil => firstLine
              }
              if (pageBoundaryBreak(paraSoFar, firstLine, pageMinInline, lastLine, firstLine)) {
                done = done :+ paraSoFar
                continuePage(g :: gs)
              } else gs.reverse match {
                case Nil => pending = ps ++ g
                case lastG :: restRev =>
                  done = done ++ (joinParaLines(ps ++ g) :: restRev.reverse.map(joinParaLines))
                  pending = lastG
              }
            case Nil => () // keep pending
          }
        }
    }
    (done ++ finalizePending(pending)).toList
  }

  private def finalizePending(ps: List[Line]): List[String] =
    if (ps.isEmpty) Nil else List(joinParaLines(ps))

  def applyHeaderFooterStrip(n: Int, layouts: List[PageLines]): List[PageLines] = {
    val normalPairs = layouts.zipWithIndex.collect {
      case (PageNormal(_, _, _, ls), i) => (i, ls)
    }
    val strippedNormals = stripHeadersFooters(n, normalPairs.map(_._2))
    val strippedMap = normalPairs.map(_._1).zip(strippedNormals).toMap
    layouts.zipWithIndex.map {
      case (PageFallback(ps), _) => PageFallback(ps)
      case (PageNormal(w, g, b, ls), i) => PageNormal(w, g, b, strippedMap.getOrElse(i, ls))
    }
  }

  private def applyFootnotesOpt(opts: LayoutOptions, page: PageLines): PageLines = page match {
    case PageNormal(0, graphics, bounds, ls) if opts.footnotes =>
      PageNormal(0, graphics, bounds, Footnotes.inlineFootnotes(graphics, ls))
    case _ => page
  }

  private def applyRuby(opts: LayoutOptions, page: PageLines): PageLines = page match {
    case PageNormal(wmode, _, bounds, ls) =>
      PageNormal(wmode, Nil, bounds, Ruby.mergeInterleavedRubyLines(wmode, opts.ruby, ls))
    case _ => page
  }

  // ---------- page lines ----------

  def pageLinesRaw(items: List[PageItem]): PageLines = {
    val glyphs = items.collect { case ItemGlyph(g) => g }
    val graphics = items.collect { case ItemGraphic(r) => r }
    if (glyphs.isEmpty) PageFallback(Nil)
    else if (fallbackNeeded(glyphs)) PageFallback(List(glyphs.map(_.text).mkString("\n")))
    else {
      val visible = filterPageGlyphs(glyphs)
      // the coordinate filter (measure >= 0) can drop EVERY glyph (e.g. a
      // page whose glyphs all sit at negative y): pageExtents on an empty
      // list would throw (the reference's `maximum []` errors here too —
      // totality demands an empty page instead of a crash)
      if (visible.isEmpty) PageFallback(Nil)
      else {
        val wmode = dominantWMode(visible)
        val bounds = pageExtents(visible)
        val ls = buildLines(visible).map(fixDingbatBulletLine)
        PageNormal(wmode, graphics, bounds, ls)
      }
    }
  }

  def fallbackNeeded(glyphs: List[Glyph]): Boolean = {
    val n = glyphs.length
    val usable = glyphs.count(usableGlyph)
    n == 0 || usable.toDouble / n < 0.7
  }

  private def usableGlyph(g: Glyph): Boolean =
    g.size > 0 && !g.x.isNaN && !g.x.isInfinite && !g.y.isNaN && !g.y.isInfinite

  /** IQR-band coordinate-outlier removal (Layout.hs:795-828).
    * Primitive-array math: the band is computed once per orientation (the
    * reference's own O(n^2) fix) and without boxing per glyph. */
  def filterPageGlyphs(glyphs: List[Glyph]): List[Glyph] = {
    def band(vert: Boolean): Option[(Double, Double)] = {
      var n = 0
      for (g <- glyphs)
        if (if (vert) g.wmode == 1 else g.wmode == 0 && g.y >= 0) n += 1
      if (n < 4) return None
      val ys = new Array[Double](n)
      val sizes = new Array[Double](n)
      var i = 0
      for (g <- glyphs)
        if (if (vert) g.wmode == 1 else g.wmode == 0 && g.y >= 0) {
          ys(i) = if (vert) baselineOf(1, g) else g.y
          sizes(i) = g.size
          i += 1
        }
      java.util.Arrays.sort(ys)
      java.util.Arrays.sort(sizes)
      def quantile(q: Double): Double =
        ys(math.min(n - 1, math.max(0, Util.hsTruncate(q * (n - 1)))))
      val q1 = quantile(0.25)
      val q3 = quantile(0.75)
      val iqr = q3 - q1
      val medSize =
        if (n % 2 == 1) sizes(n / 2) else (sizes(n / 2 - 1) + sizes(n / 2)) / 2
      val spread = math.max(math.max(1, iqr), 1.2 * medSize)
      val pad = 3 * spread
      Some((q1 - pad, q3 + pad))
    }
    val hBand = band(vert = false)
    val vBand = band(vert = true)
    glyphs.filter { g =>
      val measure = if (g.wmode == 1) baselineOf(1, g) else g.y
      val b = if (g.wmode == 1) vBand else hBand
      measure >= 0 && (b match {
        case None => true
        case Some((lo, hi)) => measure >= lo && measure <= hi
      })
    }
  }

  def dominantWMode(glyphs: List[Glyph]): Int = {
    if (glyphs.isEmpty) 0
    else {
      // maximumBy over ascending-key toList: LAST maximal element wins
      // (Haskell maximumBy keeps the later element on ties)
      val counts = glyphs.groupBy(_.wmode).view.mapValues(_.size).toList.sortBy(_._1)
      val maxC = counts.map(_._2).max
      counts.filter(_._2 == maxC).last._1
    }
  }

  def pageExtents(glyphs: List[Glyph]): (Double, Double) = {
    val xs = glyphs.flatMap(g => List(g.x, g.x + g.width))
    val ys = glyphs.map(_.y)
    (math.max(1, xs.max - xs.min), math.max(1, ys.max - ys.min))
  }

  def baselineOf(wmode: Int, g: Glyph): Double = if (wmode == 1) g.x else g.y
  def inlineStartOf(wmode: Int, g: Glyph): Double = if (wmode == 1) g.y else g.x
  def inlineEndOf(wmode: Int, g: Glyph): Double =
    if (wmode == 1) g.y - g.width else g.x + g.width

  /** buildLines (Layout.hs:867-956): same-baseline merge, superscript
    * attach, rebase attach. */
  def buildLines(glyphs: List[Glyph]): List[Line] = {
    var acc: List[Line] = Nil
    for (g <- glyphs) acc match {
      case Nil => acc = List(newLine(g))
      case l :: ls =>
        if (g.wmode != l.wmode) acc = newLine(g) :: acc
        else {
          val d = baselineOf(l.wmode, g) - l.baseline
          val gap = inlineStartOf(l.wmode, g) - l.inlineEnd
          def inlineCont(refSize: Double) = gap >= -0.5 * refSize && gap <= 2.0 * refSize
          val superAttach =
            g.size <= 0.92 * l.size && g.size >= 0.5 * l.size && inlineCont(l.size) &&
              ((d > 0.25 * l.size && d <= 0.75 * l.size) ||
               (-d > 0.25 * l.size && -d <= 0.4 * l.size))
          val rebaseAttach =
            l.size <= 0.92 * g.size && l.size >= 0.5 * g.size && inlineCont(g.size) &&
              ((-d > 0.25 * g.size && -d <= 0.75 * g.size) ||
               (d > 0.25 * g.size && d <= 0.4 * g.size))
          if (superAttach) acc = mergeSuper(l, g) :: ls
          else if (rebaseAttach) acc = mergeRebase(l, g) :: ls
          else if (math.abs(d) <= 0.4 * math.max(g.size, l.size)) acc = mergeGlyph(l, g) :: ls
          else acc = newLine(g) :: acc
        }
    }
    acc.reverse
  }

  private def newLine(g: Glyph): Line =
    Line(baselineOf(g.wmode, g), inlineStartOf(g.wmode, g), inlineEndOf(g.wmode, g),
      g.size, inlineStartOf(g.wmode, g), g.wmode, g.text, Nil, lastSuper = false)

  private def mergeGlyph(line: Line, g: Glyph): Line = {
    val w = line.wmode
    val gap = inlineStartOf(w, g) - line.inlineEnd
    val size = math.max(g.size, line.size)
    val space = intraLineSpace(gap, size, lastChar(line.text), firstChar(g.text))
    line.copy(
      inlineEnd = inlineEndOf(w, g),
      inlineStart = math.min(line.inlineStart, inlineStartOf(w, g)),
      size = size,
      text = line.text + space + g.text,
      lastSuper = false)
  }

  private def mergeSuper(line: Line, g: Glyph): Line = {
    val w = line.wmode
    val gap = inlineStartOf(w, g) - line.inlineEnd
    val space = intraLineSpace(gap, line.size, lastChar(line.text), firstChar(g.text))
    val offset = line.text.length + space.length
    val markers =
      if (line.lastSuper) line.markers.reverse match {
        case (off, mt) :: restRev => ((off, mt + space + g.text) :: restRev).reverse
        case Nil => List((offset, g.text))
      }
      else line.markers :+ ((offset, g.text))
    line.copy(
      inlineEnd = inlineEndOf(w, g),
      inlineStart = math.min(line.inlineStart, inlineStartOf(w, g)),
      text = line.text + space + g.text,
      markers = markers,
      lastSuper = true)
  }

  private def mergeRebase(line: Line, g: Glyph): Line = {
    val w = line.wmode
    val gap = inlineStartOf(w, g) - line.inlineEnd
    val space = intraLineSpace(gap, g.size, lastChar(line.text), firstChar(g.text))
    Line(
      baseline = baselineOf(w, g),
      inlineStart = math.min(line.inlineStart, inlineStartOf(w, g)),
      inlineEnd = inlineEndOf(w, g),
      size = g.size,
      firstInline = line.firstInline,
      wmode = line.wmode,
      text = line.text + space + g.text,
      markers = List((0, line.text)),
      lastSuper = false)
  }

  def joinGlyphsRun(gs: List[Glyph]): String = gs match {
    case Nil => ""
    case g :: rest =>
      var acc = g.text
      var prev = g
      for (g2 <- rest) {
        val wmode = g2.wmode
        val gap = inlineStartOf(wmode, g2) - inlineEndOf(wmode, prev)
        val size = math.max(g2.size, prev.size)
        val space = intraLineSpace(gap, size, lastChar(acc), firstChar(g2.text))
        acc = acc + space + g2.text
        prev = g2
      }
      acc
  }

  /** intraLineSpace (Layout.hs:971-977). */
  def intraLineSpace(gap: Double, size: Double, mc: Option[Char], nc: Option[Char]): String = {
    if (mc.contains('-') || nc.contains('-')) ""
    else if (latinAdjacent(mc, nc) && gap >= 0.25 * size) " "
    else if (gap > 2.0 * size) " "
    else if (gap > 0.3 * size && !cjkAdjacent(mc, nc)) " "
    else ""
  }

  def isLatinLetter(c: Char): Boolean = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')

  private def latinAdjacent(a: Option[Char], b: Option[Char]): Boolean = (a, b) match {
    case (Some(x), Some(y)) => !(isCJK(x) || isCJK(y)) && (isLatinLetter(x) || isLatinLetter(y))
    case _ => false
  }

  def cjkAdjacent(a: Option[Char], b: Option[Char]): Boolean = (a, b) match {
    case (Some(x), Some(y)) => isCJK(x) && isCJK(y)
    case _ => false
  }

  def isCJK(c: Char): Boolean = {
    val cp = c.toInt
    (cp >= 0x4E00 && cp <= 0x9FFF) || (cp >= 0x3040 && cp <= 0x309F) ||
    (cp >= 0x30A0 && cp <= 0x30FF) || (cp >= 0x3000 && cp <= 0x303F) ||
    (cp >= 0xFF00 && cp <= 0xFFEF)
  }

  private def hyphenContinues(c: Char): Boolean = c == '-' || c == '­'

  def paraJoinSep(a: String, b: String): String = {
    if (a.nonEmpty && b.nonEmpty && isCJK(a.last) && isCJK(b.head)) ""
    else if (a.nonEmpty && hyphenContinues(a.last)) ""
    else " "
  }

  // ---------- reading order / headers / footers ----------

  def sortLinesByReadingOrder(ls: List[Line]): List[Line] = {
    if (ls.isEmpty) Nil
    else {
      val (w0, w1) = ls.partition(_.wmode == 0)
      // stable sorts with explicit comparators (sortBy would box a tuple
      // key per line on a hot path)
      def sortHoriz(xs: List[Line]) =
        xs.sortWith((a, b) => a.baseline > b.baseline ||
          (a.baseline == b.baseline && a.firstInline < b.firstInline))
      def sortVert(xs: List[Line]) =
        xs.sortWith((a, b) => a.baseline > b.baseline ||
          (a.baseline == b.baseline && a.firstInline > b.firstInline))
      if (w0.isEmpty || w1.isEmpty) {
        if (w1.isEmpty) sortHoriz(w0) else sortVert(w1)
      } else sortHoriz(w0) ++ sortVert(w1)
    }
  }

  private sealed trait Band
  private case object Top extends Band
  private case object Bottom extends Band
  private case object Middle extends Band

  /** stripHeadersFooters (Layout.hs:657-769). */
  def stripHeadersFooters(pageCount: Int, pagesLines: List[List[Line]]): List[List[Line]] = {
    val threshold = {
      val raw = math.ceil(0.2 * pageCount).toInt
      math.max(3, math.min(raw, 5))
    }
    val pageInfos = pagesLines.filter(_.nonEmpty).map(ls => (ls, pageBaselineExtent(ls)))

    def countBandCores(band: Band): Map[String, Int] = {
      var m = Map.empty[String, Int]
      for ((ls, extent) <- pageInfos; l <- ls if lineBand(extent, l) == band) {
        val core = headerFooterCore(l.text)
        m = m.updated(core, m.getOrElse(core, 0) + 1)
      }
      m
    }
    def repeatedCores(counts: Map[String, Int]): Set[String] =
      if (pageCount >= 3) counts.collect { case (core, c) if c >= threshold => core }.toSet
      else Set.empty

    val repTop = repeatedCores(countBandCores(Top))
    val repBottom = repeatedCores(countBandCores(Bottom))

    def isRemoved(extent: (Double, Double), l: Line): Boolean = {
      val band = lineBand(extent, l)
      val norm = normalizeHeaderFooterText(l.text)
      shouldRemove(band, norm, pageCount, repTop, repBottom)
    }

    pagesLines.map { ls =>
      if (ls.isEmpty) ls
      else {
        val extent = pageBaselineExtent(ls)
        val flags = ls.map(isRemoved(extent, _))
        if (ls.length <= 2) {
          if (flags.contains(true)) ls.zip(flags).collect { case (l, false) => l } else ls
        } else ls.zip(flags).collect { case (l, false) => l }
      }
    }
  }

  private def shouldRemove(band: Band, norm: String, pageCount: Int,
      repTop: Set[String], repBottom: Set[String]): Boolean = {
    if (band == Middle) false
    else if (isBarePageNumber(norm)) pageCount >= 2
    else {
      val core = norm.filter(_ != '#')
      val repeated = band match {
        case Top => repTop
        case Bottom => repBottom
        case Middle => Set.empty[String]
      }
      repeated.contains(core)
    }
  }

  def headerFooterCore(t: String): String = normalizeHeaderFooterText(t).filter(_ != '#')

  private def lineBand(extent: (Double, Double), l: Line): Band = {
    val (lo, hi) = extent
    val bl = l.baseline
    val span = hi - lo
    if (span <= 0) Middle
    else if (bl >= hi - 0.15 * span) Top
    else if (bl <= lo + 0.15 * span) Bottom
    else Middle
  }

  def pageBaselineExtent(ls: List[Line]): (Double, Double) = {
    val baselines = ls.map(_.baseline)
    (baselines.min, baselines.max)
  }

  def normalizeHeaderFooterText(t: String): String =
    replaceRomanNumerals(replaceAsciiDigits(t.filterNot(Util.isHsSpace)))

  private def replaceAsciiDigits(t: String): String = {
    val sb = new StringBuilder
    var inRun = false
    for (c <- t) {
      if (c >= '0' && c <= '9') {
        if (!inRun) sb.append('#')
        inRun = true
      } else { sb.append(c); inRun = false }
    }
    sb.toString
  }

  private def isRomanDigit(c: Char): Boolean = "ivxlcdmIVXLCDM".indexOf(c) >= 0

  private def replaceRomanNumerals(t: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < t.length) {
      var j = i
      while (j < t.length && isRomanDigit(t.charAt(j))) j += 1
      val tokLen = j - i
      if (tokLen > 0 && tokLen <= 7) { sb.append('#'); i = j }
      else { sb.append(t.charAt(i)); i += 1 }
    }
    sb.toString
  }

  def isBarePageNumber(t: String): Boolean =
    t.nonEmpty && t.contains('#') && t.forall(c => c == '#' || c == '-' || c == '/' || c == '.')

  def pageBoundaryBreak(paraSoFar: String, firstLine: Line, pageMinInline: Double,
      lastLine: Line, firstLine2: Line): Boolean =
    endsWithTerminal(paraSoFar) ||
      indentPageBreak(pageMinInline, firstLine) ||
      math.abs(firstLine2.size - lastLine.size) > 0.15 * math.max(firstLine2.size, lastLine.size) ||
      lastLine.wmode != firstLine2.wmode

  private def indentPageBreak(pageMinInline: Double, cur: Line): Boolean =
    cur.firstInline - pageMinInline >= 0.85 * cur.size

  // ---------- paragraph grouping ----------

  /** Incrementally-sorted positive-gap tracker: same values as sorting the
    * accumulated gap list on every query (the reference re-sorts per line,
    * Layout.hs:1199-1208) without the per-line sort. */
  private final class GapTracker {
    private val sorted = new scala.collection.mutable.ArrayBuffer[Double]
    def add(g: Double): Unit =
      if (g > 0) {
        var lo = 0
        var hi = sorted.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (sorted(mid) < g) lo = mid + 1 else hi = mid
        }
        sorted.insert(lo, g)
      }
    def typical(lineSize: Double): Double = {
      val n = sorted.length
      if (n <= 1) 1.2 * lineSize
      else {
        val mid = n / 2
        if (n % 2 == 1) sorted(mid) else (sorted(mid - 1) + sorted(mid)) / 2
      }
    }
  }

  def groupParagraphs(wmode: Int, graphics: List[Rect], bounds: (Double, Double),
      lines: List[Line]): List[List[Line]] = {
    val ordered = sortLinesByReadingOrder(lines).filter(l => !l.text.forall(Util.isHsSpace))
    val out = List.newBuilder[List[Line]]
    val pageGaps = new GapTracker
    var rest = ordered
    while (rest.nonEmpty) {
      val first = rest.head
      var acc: List[Line] = List(first)
      var minInline = first.inlineStart
      var prev = first
      var tail = rest.tail
      var stop = false
      while (!stop && tail.nonEmpty) {
        val l = tail.head
        if (paragraphBreakT(wmode, graphics, bounds, prev, l, pageGaps, minInline)) stop = true
        else {
          val g = baselineGap(wmode, prev, l)
          pageGaps.add(g)
          minInline = math.min(minInline, l.inlineStart)
          acc = l :: acc
          prev = l
          tail = tail.tail
        }
      }
      out += acc.reverse
      rest = tail
    }
    out.result()
  }

  private def paragraphBreakT(wmode: Int, graphics: List[Rect], pageBounds: (Double, Double),
      prev: Line, cur: Line, gaps: GapTracker, paraMinInline: Double): Boolean = {
    val gap = baselineGap(wmode, prev, cur)
    val typical = gaps.typical(cur.size)
    val gapBreak = math.abs(gap) > 1.6 * typical
    negativeAdvance(wmode, prev, cur) ||
      listMarkerStart(cur) ||
      afterListHeadingBreakT(wmode, prev, cur, gaps) ||
      sameHangListItemBreakT(wmode, prev, cur, gaps) ||
      codeBlockBreak(prev, cur) ||
      (gapBreak && !cjkWrapContinuation(prev, cur)) ||
      indentBreak(paraMinInline, cur) ||
      (graphicBreak(wmode, graphics, pageBounds, prev, cur) && !cjkWrapContinuation(prev, cur))
  }

  def baselineGap(wmode: Int, prev: Line, cur: Line): Double = prev.baseline - cur.baseline
  private def negativeAdvance(wmode: Int, prev: Line, cur: Line): Boolean =
    baselineGap(wmode, prev, cur) < 0

  private def indentBreak(paraMinInline: Double, cur: Line): Boolean =
    cur.firstInline - paraMinInline >= 0.85 * cur.size

  def cjkWrapContinuation(prev: Line, cur: Line): Boolean =
    (lastChar(prev.text), firstChar(cur.text)) match {
      case (Some(a), Some(b)) => isCJK(a) && isCJK(b) && !endsWithTerminal(prev.text)
      case _ => false
    }

  def listMarkerStart(l: Line): Boolean = {
    val t = stripStart(l.text)
    def lettered: Boolean = t.headOption.exists(c => c >= 'a' && c <= 'z') &&
      stripStart(t.drop(1)).headOption.contains('.')
    def numbered: Boolean = t.headOption.exists(_.isDigit) && {
      val ds = t.takeWhile(_.isDigit)
      ds.nonEmpty && ds.length <= 2 &&
        stripStart(t.drop(ds.length)).headOption.contains('.')
    }
    lettered || numbered
  }

  private def hangWrappedContinuation(prev: Line, cur: Line): Boolean =
    cur.firstInline > prev.firstInline + 0.6 * prev.size

  private def afterListHeadingBreakT(wmode: Int, prev: Line, cur: Line, gaps: GapTracker): Boolean =
    listMarkerStart(prev) && !hangWrappedContinuation(prev, cur) &&
      math.abs(baselineGap(wmode, prev, cur)) >= 0.75 * gaps.typical(cur.size)

  private def listItemEnd(l: Line): Boolean = {
    val t = l.text
    var j = t.length
    while (j > 0 && Util.isHsSpace(t.charAt(j - 1))) j -= 1
    (j >= 2 && t.charAt(j - 2) == '\u3053' && t.charAt(j - 1) == '\u3068') ||
      endsWithTerminal(t)
  }

  private def sameHangListItemBreakT(wmode: Int, prev: Line, cur: Line, gaps: GapTracker): Boolean = {
    if (isCodeLine(prev) || isCodeLine(cur)) false
    else if (!listItemEnd(prev)) false
    else {
      val gap = math.abs(baselineGap(wmode, prev, cur))
      val typical = gaps.typical(cur.size)
      val tol = 0.35 * cur.size
      cjkAdjacent(lastChar(prev.text), firstChar(cur.text)) &&
        math.abs(cur.firstInline - prev.firstInline) <= tol &&
        gap >= 0.85 * typical &&
        !hangWrappedContinuation(prev, cur)
    }
  }

  // ---------- code lines ----------

  private def numberedCodeStart(t: String, from: Int): Boolean = {
    var i = from
    if (i >= t.length || !t.charAt(i).isDigit) return false
    while (i < t.length && t.charAt(i).isDigit) i += 1
    while (i < t.length && Util.isHsSpace(t.charAt(i))) i += 1
    i < t.length && (t.charAt(i) == ' ' || t.charAt(i) == '.')
  }

  def isCodeLine(l: Line): Boolean = {
    val t = l.text
    var start = 0
    while (start < t.length && Util.isHsSpace(t.charAt(start))) start += 1
    numberedCodeStart(t, start) ||
      (l.size <= 7.5 && l.size > 0 && monospaceLatinHeavy(t))
  }

  /** smallMonospaceLine && highLatinFraction in one allocation-free pass. */
  private def monospaceLatinHeavy(t: String): Boolean = {
    var nonSpace = 0
    var latin = 0
    var i = 0
    while (i < t.length) {
      val c = t.charAt(i)
      if (!Util.isHsSpace(c)) {
        nonSpace += 1
        if (isLatinLetter(c)) latin += 1
        if (isCJK(c)) return false
      }
      i += 1
    }
    nonSpace > 0 && latin > 0 && latin.toDouble / nonSpace >= 0.5
  }

  private def codeBlockBreak(prev: Line, cur: Line): Boolean =
    isCodeLine(cur) != isCodeLine(prev)

  private def joinCodeLines(ls: List[Line]): String = {
    val minX = ls.map(_.firstInline).min
    val charW = ls.map(l => math.max(1, 0.55 * l.size)).min
    ls.map { l =>
      val offset = math.max(0, l.firstInline - minX)
      val n = Util.hsTruncate(offset / math.max(charW, 1))
      (" " * n) + strip(l.text)
    }.mkString("\n")
  }

  // ---------- graphic separators ----------

  def graphicBreak(wmode: Int, graphics: List[Rect], pageBounds: (Double, Double),
      prev: Line, cur: Line): Boolean = {
    val (pageW, pageH) = pageBounds
    val tol = 0.2 * cur.size
    val lo = math.min(prev.baseline, cur.baseline) - tol
    val hi = math.max(prev.baseline, cur.baseline) + tol
    graphics.exists { r =>
      val bigEnough = r.width > 0.8 * pageW && r.height > 0.8 * pageH
      val tiny = r.width < 0.5 && r.height < 0.5
      val rLo = if (wmode == 1) math.min(r.x0, r.x1) else math.min(r.y0, r.y1)
      val rHi = if (wmode == 1) math.max(r.x0, r.x1) else math.max(r.y0, r.y1)
      val candidate = !bigEnough && !tiny && rLo <= hi && rHi >= lo
      candidate && inlineOverlap(wmode, prev, cur, r)
    }
  }

  private def inlineOverlap(wmode: Int, prev: Line, cur: Line, r: Rect): Boolean = {
    val unionLo = math.min(prev.inlineStart, cur.inlineStart)
    val unionHi = math.max(prev.inlineEnd, cur.inlineEnd)
    val unionLen = math.max(0, unionHi - unionLo)
    val (rLo, rHi) =
      if (wmode == 1) (math.min(r.y0, r.y1), math.max(r.y0, r.y1))
      else (math.min(r.x0, r.x1), math.max(r.x0, r.x1))
    val overlap = math.max(0, math.min(unionHi, rHi) - math.max(unionLo, rLo))
    unionLen <= 0 || overlap / unionLen >= 0.2
  }

  // ---------- joining ----------

  def joinParaLines(ls: List[Line]): String = ls match {
    case Nil => ""
    case _ if ls.forall(isCodeLine) => joinCodeLines(ls)
    case _ =>
      // single-builder equivalent of the reference's foldl1 merge
      // (stripEnd(acc) ++ paraJoinSep ++ stripStart(piece) per step)
      val sb = new StringBuilder
      var first = true
      for (l <- ls) {
        val t = strip(l.text)
        if (first) { sb.append(t); first = false }
        else {
          var end = sb.length
          while (end > 0 && Util.isHsSpace(sb.charAt(end - 1))) end -= 1
          sb.setLength(end)
          val sep =
            if (end > 0 && t.nonEmpty && isCJK(sb.charAt(end - 1)) && isCJK(t.charAt(0))) ""
            else if (end > 0 && hyphenContinues(sb.charAt(end - 1))) ""
            else " "
          sb.append(sep).append(t)
        }
      }
      strip(sb.toString)
  }

  private val terminalChars = "。．！？!?…"
  private val closingChars = "」』）)]】〉》\"'"

  def endsWithTerminal(t: String): Boolean = {
    var j = t.length
    while (j > 0 && Util.isHsSpace(t.charAt(j - 1))) j -= 1
    while (j > 0) {
      val c = t.charAt(j - 1)
      if (closingChars.indexOf(c) >= 0) j -= 1
      else return terminalChars.indexOf(c) >= 0
    }
    false
  }

  /** Dingbat 'r' -> bullet repair (Layout.hs:1170-1191). */
  def fixDingbatBulletLine(l: Line): Line = l.copy(text = fixDingbatBullet(l.text))

  def fixDingbatBullet(t: String): String = {
    val open = "「"
    val t1 = {
      if (t.startsWith("r")) {
        val rest = t.drop(1)
        if (rest.startsWith("「")) "•" + rest
        else if (rest.startsWith(" ")) {
          val rest2 = rest.drop(1)
          rest2.headOption match {
            case Some(c) if !(c >= 'a' && c <= 'z') => "• " + rest2
            case _ => t
          }
        }
        else if (rest.isEmpty) "•"
        else t
      } else t
    }
    t1.replace(" r" + open, " •" + open)
  }
}
