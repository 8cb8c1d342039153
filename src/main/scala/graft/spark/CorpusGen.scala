package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.sql.Timestamp
import scala.reflect.runtime.universe.TypeTag

/** Deterministic synthetic extraction corpus in the BASELINE.json
  * input_hint shape: (url, warc_ts, html, text, lang). Row i carries
  * FixtureGen variant (i mod |kinds|); the expected extracted text is known
  * by construction, so match rate is checkable at any scale. */
object CorpusGen {

  final case class CorpusRow(
      url: String,
      warc_ts: Timestamp,
      html: Array[Byte],
      text: String,
      lang: String,
      expected: String,
      kind: String,
      pages: Int,
      expected_geom: String,
      expected_legacy: String,
      toc_entries: Int,
      toc_text: String,
      page_texts: Seq[String],
      title: String,
      regions: Seq[String])

  private val epochMs = 1577836800000L // 2020-01-01T00:00:00Z

  def row(i: Long): CorpusRow = row(i, heavy = false)

  def row(i: Long, heavy: Boolean): CorpusRow =
    row(i, if (heavy) FixtureGen.docForHeavy(i) else FixtureGen.docFor(i))

  /** Row i of a corpus carrying document `d`; only a `textrow` payload has
    * a text column (its extraction falls back to it). */
  private def row(i: Long, d: FixtureGen.Doc): CorpusRow =
    CorpusRow(
      url = s"https://corpus.test/${d.kind}/$i",
      warc_ts = new Timestamp(epochMs + i * 1000L),
      html = d.bytes,
      text = if (d.kind == "textrow") d.expected else null,
      lang = d.lang,
      expected = d.expected,
      kind = d.kind,
      pages = d.pages,
      expected_geom = d.expectedGeom,
      expected_legacy = d.expectedLegacy,
      toc_entries = d.tocEntries,
      toc_text = d.tocText,
      page_texts = d.pageTexts,
      title = d.title,
      regions = d.regions)

  /** Rows `row(i)` for i in [0, rows), generated ON THE EXECUTORS from the
    * row index (spark.range), so generation itself scales: no driver-side
    * materialization, any target size. */
  private def build[T <: Product : TypeTag](spark: SparkSession, rows: Long, partitions: Int)(
      row: Long => T): DataFrame = {
    import spark.implicits._
    val base = if (partitions > 0) spark.range(0, rows, 1, partitions) else spark.range(rows)
    base.as[Long].mapPartitions(_.map(row)).toDF()
  }

  /** The corpus: FixtureGen's kinds in turn, or with `heavy` every other
    * row a 24-page book. */
  def corpus(spark: SparkSession, rows: Long, partitions: Int = 0,
      heavy: Boolean = false): DataFrame =
    build(spark, rows, partitions)(i => row(i, heavy))

  /** Heavy-tailed corpus (a ~1000x-size giant every 100th row): the
    * skew-bench input. */
  def heavyTailCorpus(spark: SparkSession, rows: Long, partitions: Int,
      giantPages: Int = 4000): DataFrame =
    build(spark, rows, partitions)(i => row(i, FixtureGen.docForHeavyTail(i, giantPages)))

  /** Long many-paragraph documents (FixtureGen.longDoc) for the
    * realistic-budget chunking surface: every row a 6-page/48-paragraph PDF
    * with construction-fact page_texts/regions. */
  def longCorpus(spark: SparkSession, rows: Long, partitions: Int): DataFrame =
    build(spark, rows, partitions)(i => row(i, FixtureGen.longDoc(i)))

  /** Input-shape view (drops the ground-truth columns). */
  def inputView(corpus: DataFrame): DataFrame =
    corpus.select("url", "warc_ts", "html", "text", "lang")

  /** Corpus built from the reference's own golden fixture PDFs (row i =
    * fixture (i mod n), unique url, expected = the golden text) — the
    * BASELINE.json metric's "hpdft golden fixtures embedded as rows".
    * Fixture bytes are loaded once on the driver and broadcast via the
    * closure; returns None when the reference checkout is absent. */
  def referenceCorpus(spark: SparkSession, rows: Long, partitions: Int,
      fixturesDir: String = "/root/reference/data/fixtures"): Option[DataFrame] = {
    val dir = java.nio.file.Paths.get(fixturesDir)
    if (!java.nio.file.Files.isDirectory(dir)) return None
    val stream = java.nio.file.Files.list(dir)
    val pdfs =
      try stream.toArray.map(_.toString).filter(_.endsWith(".pdf")).sorted.toList
      finally stream.close()
    val fixtures: Array[(String, Array[Byte], String)] = pdfs.flatMap { pdf =>
      val name = java.nio.file.Paths.get(pdf).getFileName.toString.stripSuffix(".pdf")
      val expPath = dir.resolve("expected").resolve(name + ".txt")
      if (java.nio.file.Files.exists(expPath)) {
        val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(pdf))
        val expectedFile = new String(java.nio.file.Files.readAllBytes(expPath), "UTF-8")
        // golden convention: extractor output + "\n" == expected file bytes
        Some((name, bytes, expectedFile.stripSuffix("\n")))
      } else None
    }.toArray
    if (fixtures.isEmpty) return None
    Some(build(spark, rows, partitions) { i =>
      val (name, bytes, expected) = fixtures((i % fixtures.length).toInt)
      CorpusRow(
        url = s"https://fixtures.test/$name/$i",
        warc_ts = new Timestamp(epochMs + i * 1000L),
        html = bytes,
        text = null,
        lang = if (name.startsWith("cmap-")) "ja" else "en",
        expected = expected,
        kind = name,
        pages = -1, // reference fixtures: page count not generator-known
        expected_geom = null,
        expected_legacy = null,
        toc_entries = 0,
        toc_text = "",
        page_texts = Nil,
        title = null,
        regions = Nil)
    })
  }

  /** Multimodal media corpus for the real image-decode surface: rows carry
    * a REAL JPEG / PNG / non-image binary payload in the opaque `html`
    * column, with the generator's construction facts (format, dimensions,
    * and — for lossless PNG — the exact pre-encoding pixel md5) alongside
    * for external oracling. Generated on the executors like the main
    * corpus. */
  final case class MediaRow(
      url: String,
      warc_ts: Timestamp,
      html: Array[Byte],
      text: String,
      lang: String,
      kind: String,
      ok: Boolean,
      width: Int,
      height: Int,
      pixel_md5: String)

  def mediaCorpus(spark: SparkSession, rows: Long, partitions: Int): DataFrame =
    build(spark, rows, partitions) { i =>
      val (kind, m) = (i % 3) match {
        case 0 => ("media_jpeg", FixtureGen.mediaJpeg(i))
        case 1 => ("media_png", FixtureGen.mediaPng(i))
        case _ => ("media_bin",
          FixtureGen.Media(Array.tabulate[Byte](64)(k => ((k * 37 + i) % 251).toByte),
            "binary", -1, -1, null))
      }
      MediaRow(
        url = s"https://media.test/$kind/$i",
        warc_ts = new Timestamp(epochMs + i * 1000L),
        html = m.bytes,
        text = null,
        lang = "und",
        kind = kind,
        ok = m.format != "binary",
        width = m.width,
        height = m.height,
        pixel_md5 = if (m.pixels == null) null else Surfaces.md5Hex(m.pixels))
    }

  /** Scanned-PDF corpus for the fax/JBIG2 image-decode surfaces: each row
    * is a one-page PDF whose image XObject is CCITT G4 / G3 1-D / G3 mixed
    * 2-D / JBIG2-MMR over a construction-fact bitmap — expected dimensions
    * and the md5 of the decoded 8-bit gray pixels (black=0, white=255, the
    * kernel's 1-bit PNG export convention) are carried alongside for
    * external oracling. */
  final case class ScanRow(
      url: String,
      warc_ts: Timestamp,
      html: Array[Byte],
      text: String,
      lang: String,
      kind: String,
      width: Int,
      height: Int,
      pixel_md5: String)

  def scannedCorpus(spark: SparkSession, rows: Long, partitions: Int): DataFrame =
    build(spark, rows, partitions) { i =>
      val (kind, d, bitmap) = (i % 8) match {
        case 0 => ("scan_g4", FixtureGen.ccittImage(i), FixtureGen.ccittBitmap(i))
        case 1 => ("scan_g3", FixtureGen.ccittImageG3(i), FixtureGen.ccittG3Bitmap(i))
        case 2 => ("scan_g3_2d", FixtureGen.ccittImageG3(i, k = 2), FixtureGen.ccittG3Bitmap(i))
        case 3 => ("scan_jbig2", FixtureGen.jbig2Image(i), FixtureGen.jbig2Bitmap(i))
        case 4 => ("scan_jbig2_arith", // MQ-coded, template cycles 0-3
          FixtureGen.jbig2ImageArith(i, ((i / 6) % 4).toInt, tpgdon = false),
          FixtureGen.jbig2Bitmap(i))
        case 5 => ("scan_jbig2_arith_tp", // MQ-coded with typical prediction
          FixtureGen.jbig2ImageArith(i, ((i / 6) % 4).toInt, tpgdon = true),
          FixtureGen.jbig2Bitmap(i))
        case 6 => ("scan_jbig2_sym", // arithmetic symbol dict + text region
          FixtureGen.jbig2ImageSym(i), FixtureGen.jbig2SymBitmap(i))
        case _ => ("scan_jbig2_sym_huff", // HUFFMAN symbol dict + text region
          FixtureGen.jbig2ImageSymHuffman(i), FixtureGen.jbig2SymBitmap(i))
      }
      val gray = bitmap.flatten.map(black => if (black) 0.toByte else 0xff.toByte)
      ScanRow(
        url = s"https://media.test/$kind/$i",
        warc_ts = new Timestamp(epochMs + i * 1000L),
        html = d.bytes,
        text = null,
        lang = "en",
        kind = kind,
        width = bitmap.head.length,
        height = bitmap.length,
        pixel_md5 = Surfaces.md5Hex(gray))
    }

  /** JPX corpus for the header-facts surface (x30): 2 of 3 rows are
    * one-page PDFs with a /JPXDecode image XObject (JP2 box container /
    * raw codestream alternating) whose header fields are construction
    * facts; the third row's image is DCT, so the JPX surface must report
    * ok=false for it. */
  final case class JpxRow(
      url: String,
      warc_ts: Timestamp,
      html: Array[Byte],
      text: String,
      lang: String,
      kind: String,
      ok: Boolean,
      format: String,
      width: Int,
      height: Int,
      components: Int,
      bpc: Int)

  def jpxCorpus(spark: SparkSession, rows: Long, partitions: Int): DataFrame =
    build(spark, rows, partitions) { i =>
      if (i % 3 == 2) {
        val d = FixtureGen.jpegImage(i)
        JpxRow(s"https://media.test/jpx_not/$i", new Timestamp(epochMs + i * 1000L),
          d.bytes, null, "en", "jpx_not", ok = false, null, -1, -1, -1, -1)
      } else {
        val (fmt, w, h, nc, bpc) = FixtureGen.jpxFacts(i)
        val d = FixtureGen.jpxImage(i)
        JpxRow(s"https://media.test/jpx_$fmt/$i", new Timestamp(epochMs + i * 1000L),
          d.bytes, null, "en", s"jpx_$fmt", ok = true, fmt, w, h, nc, bpc)
      }
    }

  /** Audio corpus for the real WAV/PCM decode surface: 2 of 3 rows carry an
    * authored RIFF/PCM payload (header fields + exact sample bytes are
    * construction facts), the third a non-audio binary. */
  final case class AudioRow(
      url: String,
      warc_ts: Timestamp,
      html: Array[Byte],
      text: String,
      lang: String,
      kind: String,
      ok: Boolean,
      sample_rate: Int,
      channels: Int,
      bits: Int,
      n_samples: Int,
      sample_md5: String)

  def audioCorpus(spark: SparkSession, rows: Long, partitions: Int): DataFrame =
    build(spark, rows, partitions) { i =>
      if (i % 3 == 2) {
        AudioRow(s"https://media.test/audio_bin/$i", new Timestamp(epochMs + i * 1000L),
          Array.tabulate[Byte](48)(k => ((k * 29 + i) % 241).toByte), null, "und",
          "audio_bin", ok = false, -1, -1, -1, -1, null)
      } else {
        val w = FixtureGen.mediaWav(i)
        AudioRow(s"https://media.test/audio_wav/$i", new Timestamp(epochMs + i * 1000L),
          w.bytes, null, "und", "audio_wav", ok = true,
          w.sampleRate, w.channels, w.bits, w.nSamples, Surfaces.md5Hex(w.pcm))
      }
    }

  /** Video corpus for the real MJPEG/AVI frame-decode surface: 2 of 3 rows
    * carry an authored AVI container (header fields, frame count, fps AND
    * the exact per-frame JPEG bytes are construction facts), the third a
    * non-video binary. */
  final case class VideoRow(
      url: String,
      warc_ts: Timestamp,
      html: Array[Byte],
      text: String,
      lang: String,
      kind: String,
      ok: Boolean,
      width: Int,
      height: Int,
      fps: Int,
      n_frames: Int,
      frame_md5s: Seq[String])

  def videoCorpus(spark: SparkSession, rows: Long, partitions: Int): DataFrame =
    build(spark, rows, partitions) { i =>
      if (i % 3 == 2) {
        VideoRow(s"https://media.test/video_bin/$i", new Timestamp(epochMs + i * 1000L),
          Array.tabulate[Byte](56)(k => ((k * 41 + i) % 239).toByte), null, "und",
          "video_bin", ok = false, -1, -1, -1, -1, null)
      } else {
        val v = FixtureGen.mediaAvi(i)
        VideoRow(s"https://media.test/video_avi/$i", new Timestamp(epochMs + i * 1000L),
          v.bytes, null, "und", "video_avi", ok = true,
          v.width, v.height, v.fps, v.nFrames, v.frames.map(Surfaces.md5Hex))
      }
    }

  /** Variant corpus: same urls and kinds, different body text (for the
    * document-diff surface). Carries the VARIANT's own ground-truth columns
    * (expected/page_texts/toc/...) so the diff surface can be oracled from
    * generator construction facts on both sides. */
  def variantCorpus(spark: SparkSession, rows: Long, partitions: Int): DataFrame =
    build(spark, rows, partitions) { i =>
      val d = FixtureGen.kinds((i % FixtureGen.kinds.length).toInt)(i + 1100)
      // the url keeps the ORIGINAL row's identity (same kind by index),
      // everything else is the variant document's own ground truth
      row(i).copy(
        html = d.bytes,
        text = if (d.kind == "textrow") d.expected else null,
        expected = d.expected,
        pages = d.pages,
        expected_geom = d.expectedGeom,
        expected_legacy = d.expectedLegacy,
        toc_entries = d.tocEntries,
        toc_text = d.tocText,
        page_texts = d.pageTexts,
        title = d.title,
        regions = d.regions)
    }
}
