package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.TreeMap
import graft.core._

/** Vertical writing mode (wmode=1): downward advance, x-axis baselines,
  * right-to-left column ordering. */
class VerticalSpec extends AnyFunSuite {

  private def stubDoc: DocStructure.Document =
    new DocStructure.Document("".getBytes, TreeMap.empty, Map.empty, None, Some(Map.empty))

  private val vFont = FontInfo(
    Encoding.JISmap, Map.empty, 0, Vector.empty,
    cidWidths = Map.empty, cidWidthsV = Map.empty,
    w1Default = FontInfo.DefaultVerticalW1,
    wmode = 1, bytesPerCode = 2, defaultWidth = 1000, isType0 = true)

  private def interp(src: String): List[Glyph] =
    Interp.interpretContentItems(stubDoc, DocStructure.emptyDict,
      Map("/F1" -> vFont), src.getBytes)

  test("vertical glyphs advance downward with wmode=1") {
    val gs = interp("BT /F1 10 Tf 1 0 0 1 500 700 Tm <467C> Tj <4B5C> Tj ET")
    assert(gs.map(_.text) == List("日", "本"))
    assert(gs.forall(_.wmode == 1))
    assert(gs(0).x == 500.0 && gs(0).y == 700.0)
    assert(gs(1).x == 500.0 && gs(1).y == 690.0) // w1 default -1000/1000 * 10
  }

  test("vertical columns read right-to-left") {
    val gs = interp(
      "BT /F1 10 Tf 1 0 0 1 500 700 Tm <467C> Tj <4B5C> Tj ET " +
        "BT /F1 10 Tf 1 0 0 1 480 700 Tm <386C> Tj ET")
    val paras = Layout.layoutParagraphs(Layout.defaultOptions, gs)
    // right column (x=500) before left column (x=480): 日本 then 語
    assert(paras == List("日本", "語"))
  }

  test("vertical TJ kern displaces along y") {
    val gs = interp("BT /F1 10 Tf 1 0 0 1 500 700 Tm [<467C> -500 <4B5C>] TJ ET")
    // advance -10 then kern disp = -k/1000*size = +5 (reference Interpret.hs:646-650)
    assert(gs(1).y == 695.0)
  }
}
