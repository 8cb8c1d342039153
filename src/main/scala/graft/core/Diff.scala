package graft.core

import DocStructure.Document
import Layout.LayoutOptions

/** Paragraph-level text diff between two documents (reference src/PDF/Diff.hs):
  * pages aligned by 1-based number, paragraph LCS per page, adjacent
  * remove+add merged into replace. */
object Diff {

  final case class TextChange(
      pageA: Option[Int], pageB: Option[Int],
      paraA: Option[Int], paraB: Option[Int],
      oldText: String, newText: String)

  final case class PageCountMismatch(pagesA: Int, pagesB: Int)

  final case class DiffResult(mismatch: Option[PageCountMismatch], changes: List[TextChange])

  def compareDocuments(opts: LayoutOptions, docA: Document, docB: Document): Either[PdfError, DiffResult] =
    for {
      refsA <- DocStructure.pageRefs(docA)
      refsB <- DocStructure.pageRefs(docB)
      parasA <- pagesParagraphs(opts, docA, refsA)
      parasB <- pagesParagraphs(opts, docB, refsB)
    } yield {
      val nA = refsA.length
      val nB = refsB.length
      val mismatch = if (nA != nB) Some(PageCountMismatch(nA, nB)) else None
      val aligned = (1 to math.min(nA, nB)).toList.flatMap { page =>
        diffParagraphs(parasA(page - 1), parasB(page - 1)).map(attachPage(page))
      }
      val extraA = ((math.min(nA, nB) + 1) to nA).toList.flatMap { page =>
        parasA(page - 1).zipWithIndex.map { case (txt, idx) =>
          TextChange(Some(page), None, Some(idx), None, txt, "")
        }
      }
      val extraB = ((math.min(nA, nB) + 1) to nB).toList.flatMap { page =>
        parasB(page - 1).zipWithIndex.map { case (txt, idx) =>
          TextChange(None, Some(page), None, Some(idx), "", txt)
        }
      }
      DiffResult(mismatch, aligned ++ extraA ++ extraB)
    }

  private def pagesParagraphs(opts: LayoutOptions, doc: Document,
      refs: List[Int]): Either[PdfError, Vector[List[String]]] = {
    val out = Vector.newBuilder[List[String]]
    for (ref <- refs) Interp.interpretPageItems(doc, ref) match {
      case Right(glyphs) => out += Layout.layoutParagraphs(opts, glyphs)
      case Left(e) => return Left(e)
    }
    Right(out.result())
  }

  private def attachPage(page: Int)(c: TextChange): TextChange =
    c.copy(pageA = Some(page), pageB = Some(page))

  /** Paragraph LCS diff; whitespace-normalized comparison, original text in
    * the output (Diff.hs:107-184). */
  def diffParagraphs(parasA: List[String], parasB: List[String]): List[TextChange] = {
    val normA = parasA.map(normalizePara).toArray
    val normB = parasB.map(normalizePara).toArray
    val a = parasA.toArray
    val b = parasB.toArray
    val m = normA.length
    val n = normB.length
    val table = Array.ofDim[Int](m + 1, n + 1)
    var i = 1
    while (i <= m) {
      var j = 1
      while (j <= n) {
        table(i)(j) =
          if (normA(i - 1) == normB(j - 1)) 1 + table(i - 1)(j - 1)
          else math.max(table(i - 1)(j), table(i)(j - 1))
        j += 1
      }
      i += 1
    }
    // backtrack from (m, n)
    var acc: List[TextChange] = Nil
    var ii = m
    var jj = n
    var go = true
    while (go) {
      if (ii == 0 && jj == 0) go = false
      else if (ii > 0 && jj > 0 && normA(ii - 1) == normB(jj - 1)) { ii -= 1; jj -= 1 }
      else if (jj > 0 && (ii == 0 || table(ii - 1)(jj) <= table(ii)(jj - 1))) {
        acc = TextChange(None, None, None, Some(jj - 1), "", b(jj - 1)) :: acc
        jj -= 1
      } else if (ii > 0) {
        acc = TextChange(None, None, Some(ii - 1), None, a(ii - 1), "") :: acc
        ii -= 1
      } else go = false
    }
    mergeReplaceChanges(acc)
  }

  private def mergeReplaceChanges(cs: List[TextChange]): List[TextChange] = cs match {
    case c :: d :: rest if isRemoval(c) && isAddition(d) =>
      merged(c, d) :: mergeReplaceChanges(rest)
    case c :: d :: rest if isAddition(c) && isRemoval(d) =>
      merged(d, c) :: mergeReplaceChanges(rest)
    case c :: rest => c :: mergeReplaceChanges(rest)
    case Nil => Nil
  }

  private def merged(rem: TextChange, add: TextChange): TextChange =
    TextChange(None, None, rem.paraA, add.paraB, rem.oldText, add.newText)

  private def isRemoval(c: TextChange): Boolean = c.oldText.nonEmpty && c.newText.isEmpty
  private def isAddition(c: TextChange): Boolean = c.oldText.isEmpty && c.newText.nonEmpty

  /** Strip + collapse internal whitespace runs to one space (Diff.hs:170-180). */
  def normalizePara(t: String): String = {
    val s = Util.strip(t)
    val sb = new StringBuilder(s.length)
    var seen = false
    for (c <- s) {
      if (c == '\r') seen = false // reference drops CR without emitting
      else if (Util.isHsSpace(c)) {
        if (!seen) sb.append(' ')
        seen = true
      } else { sb.append(c); seen = false }
    }
    sb.toString
  }
}
