package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.spark.FixtureGen

/** Seeded mutation fuzzing: the kernel must never throw on corrupted
  * documents — every mutation of every fixture kind yields Right(text) or
  * Left(typed error). This is the 100 TB robustness contract: one bad
  * byte-range in a crawl segment cannot fail a task. */
class FuzzSpec extends AnyFunSuite {
  import FuzzSpec.mutate

  test("mutated PDFs never throw (tagged/geom/legacy modes)") {
    val rnd = new scala.util.Random(20260816L)
    var runs = 0
    for (i <- 0L until 12L; rep <- 0 until 12) {
      val d = FixtureGen.docFor(i)
      val m = mutate(d.bytes, rnd)
      runs += 1
      // must return, not throw
      Extract.extractPdf(m, None)
      Extract.extractPdfGeom(m, None)
      DocStructure.openDocument(m, None).foreach(doc => Legacy.legacyText(doc))
      Html.extractHtml(m)
    }
    assert(runs == 144)
  }

  test("non-PDF and noise inputs return Left, never Right or a throw") {
    val rnd = new scala.util.Random(42)
    val inputs = Seq(
      "empty" -> Array.emptyByteArray,
      "words" -> "this is not a pdf at all, just words".getBytes("UTF-8"),
      "html" -> "<html><body><p>hello</p></body></html>".getBytes("UTF-8"),
      "random-bytes" -> Array.fill(10000)(rnd.nextInt(256).toByte),
      "pdf-header-noise" ->
        ("%PDF-1.5\n".getBytes("UTF-8") ++ Array.fill(5000)(rnd.nextInt(256).toByte)))
    for ((name, bytes) <- inputs)
      assert(Extract.extractPdf(bytes, None).isLeft, name)
  }

  test("mutated books (multi-page, compressed) never throw") {
    val rnd = new scala.util.Random(42L)
    for (rep <- 0 until 25) {
      val d = FixtureGen.book(rep.toLong)
      val m = mutate(d.bytes, rnd)
      Extract.extractPdf(m, None)
    }
    succeed
  }
}

object FuzzSpec {
  /** One seeded corruption of a document: flip bytes, truncate, delete,
    * duplicate or zero a slice. */
  def mutate(bytes: Array[Byte], rnd: scala.util.Random): Array[Byte] = {
    val out = bytes.clone()
    rnd.nextInt(5) match {
      case 0 => // flip random bytes
        for (_ <- 0 until 1 + rnd.nextInt(8))
          out(rnd.nextInt(out.length)) = rnd.nextInt(256).toByte
        out
      case 1 => // truncate
        out.take(1 + rnd.nextInt(out.length))
      case 2 => // delete a slice
        val from = rnd.nextInt(out.length)
        val len = 1 + rnd.nextInt(math.max(1, out.length / 4))
        out.take(from) ++ out.drop(math.min(out.length, from + len))
      case 3 => // duplicate a slice (simulates incremental-update garbage)
        val from = rnd.nextInt(out.length)
        val len = 1 + rnd.nextInt(math.max(1, out.length / 8))
        out.take(from) ++ out.slice(from, math.min(out.length, from + len)) ++ out.drop(from)
      case _ => // zero a run
        val from = rnd.nextInt(out.length)
        val len = 1 + rnd.nextInt(math.max(1, out.length / 8))
        for (i <- from until math.min(out.length, from + len)) out(i) = 0
        out
    }
  }
}
