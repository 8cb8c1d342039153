package perfbench

import scala.collection.mutable

import graft.core.{DocStructure, Extract, Html, Interp, Layout, PageItem, Structure}
import graft.spark.{CorpusGen, Pipeline}

/** Single-thread replay of a fixed slice of the `extract` corpus through the
  * kernel's public stage functions, in the order `Extract.taggedText` calls
  * them, timing each stage. Every doc is also run through
  * `Pipeline.extractRowMode`, the product's per-row entry; the staged text
  * must equal it, or the stage split would be timing different code.
  *
  * Stages: open (`DocStructure.openDocument`), pagetree
  * (`DocStructure.pageRefs`), struct (`Structure.structTree`), inflate
  * (`Interp.pageInterpretInputs`, which decodes and caches each page's
  * content streams), interpret (`Interp.interpretPageItems` over that
  * cache), layout (`Extract.assembleTagged`, or `Layout.pageLinesRaw` plus
  * `Layout.layoutDocumentFromPageLines`) and html (`Html.extractHtml`). */
final class Replay(tracer: Option[Tracer]) {
  val stages = Seq("open", "pagetree", "struct", "inflate", "interpret", "layout", "html")
  val stageUs = mutable.LinkedHashMap(stages.map(_ -> 0L): _*)
  val docUs = mutable.ArrayBuffer.empty[Long]
  var docs = 0L
  var pages = 0L
  var glyphs = 0L
  var inflatedBytes = 0L
  val mismatches = mutable.ArrayBuffer.empty[String]

  private var docSpan = 0L
  private var passId = 0

  private def stage[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val startUs = tracer.map(_.nowUs).getOrElse(0L)
    try body
    finally {
      val us = (System.nanoTime() - t0) / 1000
      stageUs(name) += us
      tracer.foreach(t => t.add(Span(t.nextId(), docSpan, passId, "kernel", name, startUs, startUs + us)))
    }
  }

  /** Replay rows `rows` `rounds` times; only the first round adds to the
    * work counts (pages, glyphs, inflated bytes), so those are per slice. */
  def run(rows: Seq[Long], rounds: Int, firstPassId: Int): Unit =
    for (round <- 0 until rounds; i <- rows) {
      val r = CorpusGen.row(i, heavy = true)
      passId = firstPassId + round
      val t0 = System.nanoTime()
      val product = Pipeline.extractRowMode(r.url, r.html, r.text, "tagged")
      docUs += (System.nanoTime() - t0) / 1000
      docs += 1
      val staged = tracer match {
        case None => stagedText(r.html, r.text, round == 0)
        case Some(t) => t.span("doc", r.url, 0L, passId) { id =>
          docSpan = id
          stagedText(r.html, r.text, round == 0)
        }
      }
      val want = if (product.ok) Some(product.text) else None
      if (staged != want) mismatches += r.url
    }

  private def stagedText(html: Array[Byte], textCol: String, count: Boolean): Option[String] =
    try {
      val payload = if (html == null) Array.emptyByteArray else html
      if (payload.length > Pipeline.MaxPayloadBytes) None
      else if (Html.looksLikePdf(payload)) {
        stage("open")(DocStructure.openDocument(payload, None)).toOption.flatMap { doc =>
          val refs = stage("pagetree")(DocStructure.pageRefs(doc))
          stage("struct")(Structure.structTree(doc)).toOption.flatMap { root =>
            refs.toOption.flatMap { refs =>
              val inputs = refs.map(ref => stage("inflate")(Interp.pageInterpretInputs(doc, ref)))
              val items = refs.map(ref => stage("interpret")(Interp.interpretPageItems(doc, ref)))
              if (items.exists(_.isLeft)) None
              else {
                val pageItems = items.map(_.toOption.get)
                if (count) {
                  pages += refs.length
                  glyphs += pageItems.map(_.count(_.isInstanceOf[PageItem.ItemGlyph])).sum
                  inflatedBytes += inputs.flatMap(_.toOption).map(_._2.length.toLong).sum
                }
                val opts = Layout.defaultOptions
                Some(stage("layout")(root match {
                  case Some(r) if Extract.taggedUsable(pageItems) =>
                    Extract.assembleTagged(opts, r, refs, pageItems)
                  case _ =>
                    Layout.layoutDocumentFromPageLines(opts, pageItems.map(Layout.pageLinesRaw))
                }))
              }
            }
          }
        }
      } else if (Html.looksLikeHtml(payload)) Some(stage("html")(Html.extractHtml(payload)))
      else Option(textCol)
    } catch { case _: Throwable => None }

  def coverage: Double = stageUs.values.sum.toDouble / math.max(1L, docUs.sum)
}
