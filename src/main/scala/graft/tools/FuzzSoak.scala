package graft.tools

import java.util.concurrent.atomic.AtomicLong
import graft.core._

/** Dev tool: large seeded fuzz campaign over all document kinds (synthetic
  * + reference fixtures), all three modes. Prints any throwing input's
  * seed so it can be reproduced. */
object FuzzSoak {
  def mutate(bytes: Array[Byte], rnd: scala.util.Random): Array[Byte] = {
    val out = bytes.clone()
    rnd.nextInt(6) match {
      case 0 =>
        for (_ <- 0 until 1 + rnd.nextInt(16)) out(rnd.nextInt(out.length)) = rnd.nextInt(256).toByte
        out
      case 1 => out.take(1 + rnd.nextInt(out.length))
      case 2 =>
        val from = rnd.nextInt(out.length)
        out.take(from) ++ out.drop(math.min(out.length, from + 1 + rnd.nextInt(out.length / 3 + 1)))
      case 3 =>
        val from = rnd.nextInt(out.length)
        val len = 1 + rnd.nextInt(out.length / 4 + 1)
        out.take(from) ++ out.slice(from, math.min(out.length, from + len)) ++ out.drop(from)
      case 4 =>
        val from = rnd.nextInt(out.length)
        for (i <- from until math.min(out.length, from + 1 + rnd.nextInt(64))) out(i) = 0
        out
      case _ => // splice two documents
        val other = graft.spark.FixtureGen.docFor(rnd.nextInt(1000).toLong).bytes
        out.take(rnd.nextInt(out.length)) ++ other.drop(rnd.nextInt(other.length))
    }
  }

  def main(args: Array[String]): Unit = {
    val iterations = sys.env.getOrElse("FUZZ_ITERS", "4000").toInt
    val bases = (0L until 13L).map(graft.spark.FixtureGen.docFor).map(_.bytes) ++
      Seq(graft.spark.FixtureGen.book(1).bytes,
        graft.spark.FixtureGen.ccittImage(1).bytes,
        graft.spark.FixtureGen.ccittImageG3(1).bytes,
        graft.spark.FixtureGen.ccittImageG3(1, k = 2).bytes,
        graft.spark.FixtureGen.jbig2Image(1).bytes,
        graft.spark.FixtureGen.jbig2ImageArith(1, 0, tpgdon = false).bytes,
        graft.spark.FixtureGen.jbig2ImageArith(2, 2, tpgdon = true).bytes,
        graft.spark.FixtureGen.jbig2ImageSym(1).bytes,
        graft.spark.FixtureGen.jbig2ImageSymHuffman(1).bytes,
        graft.spark.FixtureGen.jbig2ImageSymHuffman(2).bytes, // custom tables
        graft.spark.FixtureGen.jbig2ImageSymHuffman(4).bytes,
        graft.spark.FixtureGen.jpxImage(0).bytes, // JP2 box container
        graft.spark.FixtureGen.jpxImage(1).bytes) ++ { // raw J2K codestream
        val dir = java.nio.file.Paths.get("/root/reference/data/fixtures")
        if (java.nio.file.Files.isDirectory(dir)) {
          val st = java.nio.file.Files.list(dir)
          try st.toArray.map(_.toString).filter(_.endsWith(".pdf")).sorted
            .map(f => java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))).toSeq
          finally st.close()
        } else Seq.empty
      }
    // media payloads for the x17-x20 decoder surfaces: authored JPEG/PNG/
    // WAV/AVI plus raw junk — mutations exercise truncation, size-field
    // lies, and chunk-length overflows against the same totality contract
    // (ok=false / empty rows, never a throw)
    val mediaBases: Seq[Array[Byte]] =
      (0L until 4L).flatMap(i => Seq(
        graft.spark.FixtureGen.mediaJpeg(i).bytes,
        graft.spark.FixtureGen.mediaPng(i).bytes,
        graft.spark.FixtureGen.mediaWav(i).bytes,
        graft.spark.FixtureGen.mediaAvi(i).bytes))
    val failures = new AtomicLong()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    val done = new AtomicLong()
    for (t <- 0 until 16) pool.submit(new Runnable {
      def run(): Unit = {
        val rnd = new scala.util.Random(sys.env.getOrElse("FUZZ_SEED", "1000").toLong + t)
        var k = 0
        while (k < iterations / 16) {
          val base = bases((t * 7 + k) % bases.length)
          val m = mutate(base, rnd)
          try {
            Extract.extractPdf(m, None)
            Extract.extractPdfGeom(m, None)
            DocStructure.openDocument(m, None).foreach { d =>
              Legacy.legacyText(d)
              // image path: filter decode (incl. CCITT G4) + PNG re-encode
              Images.extractPageImages(d, 1)
              // the page, region, metadata and diff surfaces' kernels
              Metadata.title(d); Metadata.infoJson(d); Metadata.trailerJson(d); Metadata.toc(d)
              for (refs <- DocStructure.pageRefs(d); (ref, idx) <- refs.zipWithIndex;
                   items <- Interp.interpretPageItems(d, ref)) {
                Layout.layoutPageText(Layout.defaultOptions, items)
                Page.pageRegions(idx + 1, Layout.defaultOptions, items)
              }
              DocStructure.openDocument(base, None)
                .foreach(Diff.compareDocuments(Layout.defaultOptions, d, _))
            }
            Html.extractHtml(m)
            // media decoders on a mutated media payload (and, every 4th
            // iter, on the mutated PDF bytes — format confusion)
            val mm =
              if (k % 4 == 0) m
              else mutate(mediaBases((t * 5 + k) % mediaBases.length), rnd)
            graft.spark.Surfaces.decodeImageRow("fuzz", mm)
            graft.spark.Surfaces.resizeImageRow("fuzz", mm, 16)
            graft.spark.Surfaces.decodeAudioRow("fuzz", mm)
            graft.spark.Surfaces.videoFramesRow("fuzz", mm).foreach(_ => ())
            // JP2/J2K header walk must be total on arbitrary bytes
            Jp2.headerFacts(mm)
            Jp2.headerFacts(m)
          } catch {
            case e: Throwable =>
              failures.incrementAndGet()
              println(s"FUZZFAIL thread=$t iter=$k base=${(t * 7 + k) % bases.length} ex=${e.getClass.getName}: ${String.valueOf(e.getMessage).take(120)}")
              e.getStackTrace.take(8).foreach(fr => println("  at " + fr))
          }
          done.incrementAndGet()
          k += 1
        }
      }
    })
    pool.shutdown()
    val t0 = System.nanoTime()
    while (!pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS) &&
           (System.nanoTime() - t0) / 1e9 < 480) {
      println(s"FUZZPROGRESS done=${done.get()}")
    }
    println(s"FUZZSOAK done=${done.get()} failures=${failures.get()}")
  }
}
