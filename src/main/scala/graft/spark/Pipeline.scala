package graft.spark

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession, TypedColumn}
import org.apache.spark.sql.functions._
import graft.core._
import graft.core.DocStructure.Document

/** Spark-native extraction pipeline.
  *
  * The unit of parallelism is the document row: the pure JVM kernel
  * (graft.core) runs inside `mapPartitions` over a Catalyst-planned scan, so
  * column pruning / predicate pushdown stay fully effective on the input
  * table and everything cross-document (metrics, resume) is plain
  * declarative Spark. Designed for 10^12-row Iceberg tables; tested on
  * parquet in local mode — the plan shape is identical.
  */
object Pipeline {

  /** Extraction result row: all-primitive fields -> Tungsten-friendly. */
  final case class ExtractedDoc(
      url: String,
      text: String,
      mode: String,      // pdf-tagged | pdf-geom | html | text | error
      ok: Boolean,
      error: String,
      pages: Int,
      chars: Int,
      kernelMicros: Long)

  /** Per-(partition) lineage row for the metrics sink (north-rule
    * "per-partition lineage + counters"). */
  final case class PartitionMetrics(
      partitionId: Int,
      docs: Long,
      okDocs: Long,
      pdfDocs: Long,
      htmlDocs: Long,
      textDocs: Long,
      errorDocs: Long,
      chars: Long,
      kernelMicros: Long)

  /** Maximum payload we attempt to parse (whole-file-in-memory kernel);
    * larger rows are counted as errors instead of risking executor OOM. */
  val MaxPayloadBytes: Int = 512 << 20

  /** The extraction modes by name, the one place they are listed: tagged
    * (structure tree with geometry fallback), geom (pure glyph layout) and
    * legacy (stream-order extractor). An ok row of mode `m` is labelled
    * `pdf-m`. */
  val Modes: ListMap[String, Document => Either[PdfError, String]] = ListMap(
    "tagged" -> (doc => Extract.taggedText(doc)),
    "geom" -> (doc => Extract.geomText(doc)),
    "legacy" -> (doc => Right(Legacy.legacyText(doc)._1)))

  /** The mode a caller that names none gets: the table's first. */
  val DefaultMode: String = Modes.head._1

  private def pdfLabel(mode: String): String = s"pdf-$mode"

  // ---------- the per-document runner ----------
  //
  // Every kernel surface is a row function run here: the runner projects
  // (url, html, third), reads a null payload as empty and runs the row
  // function per document inside `mapPartitions` under the one last-resort
  // guard. `third` is the text column, `noText`, or diff's second payload.

  private[spark] def noText: TypedColumn[Any, String] = lit(null).cast("string").as[String](Encoders.STRING)
  private[spark] def textColumn: TypedColumn[Any, String] = col("text").as[String](Encoders.STRING)

  /** The kernel is total by design; a row whose kernel throws all the same
    * yields `failed`, what a `Left` yields on that surface, so one malformed
    * document can never fail a 100 TB job's task. */
  private def guarded[X, T](row: (String, Array[Byte], X) => T,
      failed: (String, Array[Byte], Throwable) => T)(url: String, html: Array[Byte], x: X): T = {
    val payload = if (html == null) Array.emptyByteArray else html
    try row(url, payload, x)
    catch { case e: Throwable => failed(url, payload, e) }
  }

  /** The runner's projection. It registers [[LocalFileSystem]] on the
    * input's session, so the surface's `file:` output writes fork no
    * `chmod`. */
  private def documents[X: Encoder](input: DataFrame,
      third: TypedColumn[Any, X]): Dataset[(String, Array[Byte], X)] = {
    LocalFileSystem.register(input.sparkSession)
    input.select(col("url"), col("html"), third)
      .as(Encoders.tuple(Encoders.STRING, Encoders.BINARY, implicitly[Encoder[X]]))
  }

  /** A surface with one output row per document. */
  private[spark] def perDocument[X: Encoder, T: Encoder](input: DataFrame, third: TypedColumn[Any, X])(
      failed: (String, Array[Byte], Throwable) => T)(row: (String, Array[Byte], X) => T): Dataset[T] =
    documents(input, third).mapPartitions(_.map { case (url, html, x) => guarded(row, failed)(url, html, x) })

  /** A surface with any number of output rows per document. A throw yields
    * no rows; the rows are collected inside the guard, so a document that
    * throws part-way yields none either. */
  private[spark] def perDocumentRows[X: Encoder, T: Encoder](input: DataFrame, third: TypedColumn[Any, X])(
      row: (String, Array[Byte], X) => IterableOnce[T]): Dataset[T] = {
    val collected: (String, Array[Byte], X) => Seq[T] = (url, payload, x) => row(url, payload, x).iterator.toVector
    val none: (String, Array[Byte], Throwable) => Seq[T] = (_, _, _) => Nil
    documents(input, third).mapPartitions(_.flatMap { case (url, html, x) =>
      guarded(collected, none)(url, html, x) })
  }

  /** The one PDF open: a payload that looks like a PDF and is within
    * `maxPayloadBytes`. A null payload (diff's second side) is no PDF. */
  private[spark] def openPdf(payload: Array[Byte],
      maxPayloadBytes: Int = MaxPayloadBytes): Either[PdfError, Document] =
    if (payload == null || !Html.looksLikePdf(payload)) Left(PdfError.ParseError("not a PDF"))
    else if (payload.length > maxPayloadBytes) Left(PdfError.UnsupportedFeature("payload too large"))
    else DocStructure.openDocument(payload, None)

  // ---------- text extraction ----------

  /** The extraction row function of `mode`, or an IllegalArgumentException
    * for a mode the table does not list. Format dispatch on one codepath:
    * PDF, then HTML, then the text column. */
  private def extractRow(mode: String, maxPayloadBytes: Int): (String, Array[Byte], String) => ExtractedDoc = {
    val modeText = Modes.getOrElse(mode, throw new IllegalArgumentException(
      s"unknown extraction mode '$mode'; expected one of ${Modes.keys.mkString(", ")}"))
    val label = pdfLabel(mode)
    (url, payload, textCol) => {
      val t0 = System.nanoTime()
      def done(mode: String, ok: Boolean, err: String, text: String, pages: Int): ExtractedDoc =
        ExtractedDoc(url, text, mode, ok, err, pages, if (text == null) 0 else text.length,
          (System.nanoTime() - t0) / 1000)
      if (payload.length > maxPayloadBytes)
        done("error", ok = false, "payload too large", null, 0)
      else if (Html.looksLikePdf(payload)) openPdf(payload, maxPayloadBytes) match {
        case Right(doc) =>
          val pages = DocStructure.pageRefs(doc).map(_.length).getOrElse(0)
          modeText(doc) match {
            case Right(text) => done(label, ok = true, "", text, pages)
            case Left(e) => done("error", ok = false, e.render, null, pages)
          }
        case Left(e) => done("error", ok = false, e.render, null, 0)
      }
      else if (Html.looksLikeHtml(payload)) done("html", ok = true, "", Html.extractHtml(payload), 1)
      else if (textCol != null) done("text", ok = true, "", textCol, 1)
      else done("error", ok = false, "unrecognized payload", null, 0)
    }
  }

  private val extractFailed: (String, Array[Byte], Throwable) => ExtractedDoc = (url, _, e) =>
    ExtractedDoc(url, null, "error", ok = false, s"kernel exception: ${e.getClass.getSimpleName}", 0, 0, 0L)

  /** The per-row kernel of [[extractMode]] for one document. */
  def extractRowMode(url: String, html: Array[Byte], textCol: String, mode: String,
      maxPayloadBytes: Int = MaxPayloadBytes): ExtractedDoc =
    guarded(extractRow(mode, maxPayloadBytes), extractFailed)(url, html, textCol)

  /** Full extraction over an input dataframe with the input_hint schema, in
    * a mode of [[Modes]]; an unknown mode is rejected here, at the call.
    *
    * Scale notes: only (url, html, text) are selected -> Catalyst prunes the
    * scan to those columns; `mapPartitions` keeps JVM object reuse and the
    * per-document caches partition-local; no shuffle is introduced at all —
    * extraction is embarrassingly parallel and writes can stay
    * shuffle-free. Size skew is bounded by the scan's byte splits
    * (`spark.sql.files.maxPartitionBytes`: a split holds few giant rows)
    * and by MaxPayloadBytes, and surfaced via kernelMicros in the metrics;
    * on a heavy-tailed corpus the unshuffled scan measured fastest
    * (BENCH/BASELINE.md "Heavy-tailed skew").
    */
  def extractMode(spark: SparkSession, input: DataFrame, mode: String): Dataset[ExtractedDoc] = {
    import spark.implicits._
    perDocument(input, textColumn)(extractFailed)(extractRow(mode, MaxPayloadBytes))
  }

  /** [[extractMode]] in the default mode. */
  def extract(spark: SparkSession, input: DataFrame): Dataset[ExtractedDoc] =
    extractMode(spark, input, DefaultMode)

  /** Attach decode counters (docs, ok, decode failures, chars, kernel
    * time) to an extraction Dataset as an observe() metric: the counters
    * ride the CALLER's own action — no extra job — and land in the SQL
    * metrics stream (QueryExecutionListener / event log) that a cluster's
    * ops pipeline exports, instead of a driver log line. Read them after
    * any action on the returned Dataset via `obs.get`. */
  def observeExtraction(ds: Dataset[ExtractedDoc]): (Dataset[ExtractedDoc], org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    val observed = ds.observe(obs,
      count(lit(1)).as("docs"),
      coalesce(sum(when(col("ok"), 1L).otherwise(0L)), lit(0L)).as("ok_docs"),
      coalesce(sum(when(!col("ok"), 1L).otherwise(0L)), lit(0L)).as("decode_failures"),
      coalesce(sum(col("chars")), lit(0L)).as("chars"),
      coalesce(sum(col("kernelMicros")), lit(0L)).as("kernel_micros"))
    (observed, obs)
  }

  /** Per-partition lineage rows (append these to the metrics table), one
    * per partition of `ds`, an empty one included. Only the counted
    * columns are read: over a cached `ds` the scan skips the text. */
  def partitionMetrics(spark: SparkSession, ds: Dataset[ExtractedDoc]): Dataset[PartitionMetrics] = {
    import spark.implicits._
    val pdfLabels = Modes.keySet.map(pdfLabel)
    val counted = ds.select(col("ok"), col("mode"), col("chars"), col("kernelMicros"))
      .as[(Boolean, String, Int, Long)]
    counted.mapPartitions { iter =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var docs = 0L
      var okDocs = 0L
      var pdf = 0L
      var htmlD = 0L
      var textD = 0L
      var err = 0L
      var chars = 0L
      var micros = 0L
      for ((ok, mode, docChars, docMicros) <- iter) {
        docs += 1
        if (ok) okDocs += 1
        mode match {
          case "html" => htmlD += 1
          case "text" => textD += 1
          case m if pdfLabels(m) => pdf += 1
          case _ => err += 1
        }
        chars += docChars
        micros += docMicros
      }
      Iterator.single(PartitionMetrics(pid, docs, okDocs, pdf, htmlD, textD, err, chars, micros))
    }
  }

  /** Checkpoint resume: drop rows whose url already exists in the done
    * table (idempotent re-runs; left-anti join is a shuffle on url — or a
    * broadcast when the remaining done-set is small). */
  def resumeRemaining(input: DataFrame, done: DataFrame): DataFrame =
    input.join(done.select("url").distinct(), Seq("url"), "left_anti")

  /** Per-page text rows (page-level query surface; `-p N` analogue). */
  final case class PageText(url: String, page: Int, text: String)

  def extractPages(spark: SparkSession, input: DataFrame): Dataset[PageText] = {
    import spark.implicits._
    perDocumentRows(input, noText) { (url, payload, _) =>
      openPdf(payload).toSeq.flatMap { doc =>
        DocStructure.pageRefs(doc).getOrElse(Nil).zipWithIndex.map { case (ref, idx) =>
          val txt = Interp.interpretPageItems(doc, ref) match {
            case Right(glyphs) => Layout.layoutPageText(Layout.defaultOptions, glyphs)
            case Left(_) => ""
          }
          PageText(url, idx + 1, txt)
        }
      }
    }
  }

  /** Paragraph-with-geometry row (the reference's PageRegion, Page.hs:93):
    * the layout-aware chunking primitive — RAG chunk boundaries and
    * figure-caption pairing key off these bboxes. */
  final case class RegionRow(url: String, page: Int, para: Int,
      x0: Double, y0: Double, x1: Double, y1: Double, text: String)

  /** Per-page paragraph regions for EVERY corpus row (same shuffle-free
    * mapPartitions shape as extractPages — the layout pass runs ONCE per
    * page and yields all its regions). PDF rows carry real bounding
    * boxes; HTML and text-fallback rows have no geometry, but the chunking
    * surface still needs their paragraph boundaries — they emit page-1
    * regions with a zero bbox, paragraphs split on the same blank-line
    * convention the extractors emit. */
  def extractRegions(spark: SparkSession, input: DataFrame): Dataset[RegionRow] = {
    import spark.implicits._
    perDocumentRows(input, textColumn) { (url, payload, textCol) =>
      if (Html.looksLikePdf(payload))
        openPdf(payload).toSeq.flatMap { doc =>
          DocStructure.pageRefs(doc).getOrElse(Nil).zipWithIndex.flatMap { case (ref, idx) =>
            val glyphs = Interp.interpretPageItems(doc, ref).getOrElse(Nil)
            graft.core.Page.pageRegions(idx + 1, Layout.defaultOptions, glyphs)
              .map(r => RegionRow(url, r.page, r.paragraph,
                r.bbox.x0, r.bbox.y0, r.bbox.x1, r.bbox.y1, r.text))
          }
        }
      else {
        val text = if (Html.looksLikeHtml(payload)) Html.extractHtml(payload) else textCol
        if (text == null) Nil
        else {
          // strip ALL trailing newlines (the rtrim convention the PDF
          // branch and the oracles use — stripSuffix would diverge on
          // content ending in a blank line)
          var e = text.length
          while (e > 0 && text.charAt(e - 1) == '\n') e -= 1
          text.substring(0, e).split("\n\n", -1).toSeq.zipWithIndex.map {
            case (para, j) => RegionRow(url, 1, j + 1, 0, 0, 0, 0, para)
          }
        }
      }
    }
  }

  /** Metadata/outline query surface (info/title/toc/trailer verbs). */
  final case class DocMeta(url: String, title: String, infoJson: String,
      trailerJson: String, pages: Int, tocEntries: Int, tocText: String)

  def extractMeta(spark: SparkSession, input: DataFrame): Dataset[DocMeta] = {
    import spark.implicits._
    perDocumentRows(input, noText) { (url, payload, _) =>
      openPdf(payload).toSeq.map { doc =>
        val toc = Metadata.toc(doc)
        DocMeta(
          url,
          Metadata.title(doc).orNull,
          Metadata.infoJson(doc).orNull,
          Metadata.trailerJson(doc),
          Metadata.pageRefs(doc).length,
          toc.length,
          toc.map(e => (" " * e.depth) + e.title).mkString("\n"))
      }
    }
  }
}

/** Additional query surfaces: images, document diff, multimodal binary
  * features, and a Structured Streaming variant of the extraction — all on
  * the same kernel. */
object Surfaces {
  /** Lowercase-hex MD5 — the ONE digest formatting used by every decode
    * surface AND the corpus generators: oracle parity depends on all
    * producers and consumers formatting identically. */
  private[spark] def md5Hex(bs: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bs)
      .map(b => f"${b & 0xff}%02x").mkString

  import Pipeline._
  import graft.core._

  // ---------- image extraction (hpdft image verb) ----------

  final case class ImageRow(url: String, page: Int, idx: Int, format: String,
      x0: Double, y0: Double, x1: Double, y1: Double, sizeBytes: Int)

  def extractImages(spark: SparkSession, input: DataFrame): Dataset[ImageRow] = {
    import spark.implicits._
    perDocumentRows(input, noText) { (url, payload, _) =>
      openPdf(payload).toSeq.flatMap { doc =>
        DocStructure.pageRefs(doc).getOrElse(Nil).zipWithIndex.flatMap { case (ref, idx) =>
          Images.pageImages(doc, idx + 1, ref).getOrElse(Nil).map { im =>
            ImageRow(url, idx + 1, im.index, im.format,
              im.bbox.x0, im.bbox.y0, im.bbox.x1, im.bbox.y1, im.bytes.length)
          }
        }
      }
    }
  }

  // ---------- document diff (hpdft diff verb) ----------

  final case class DiffRow(url: String, pageA: Int, pageB: Int, paraA: Int, paraB: Int,
      oldText: String, newText: String, pagesA: Int, pagesB: Int)

  /** Paragraph-level diff of two corpora joined on url. The join is the
    * only shuffle; the per-pair LCS runs in the kernel. The runner's
    * `third` column is the second corpus's payload. */
  def diffDocuments(spark: SparkSession, a: DataFrame, b: DataFrame): Dataset[DiffRow] = {
    import spark.implicits._
    val pairs = a.select(col("url"), col("html"))
      .join(b.select(col("url"), col("html").as("htmlB")), Seq("url"))
    perDocumentRows(pairs, col("htmlB").as[Array[Byte]]) { (url, htmlA, htmlB) =>
      val diff = for {
        da <- openPdf(htmlA)
        db <- openPdf(htmlB)
        res <- Diff.compareDocuments(Layout.defaultOptions, da, db)
      } yield {
        val (pa, pb) = res.mismatch.map(m => (m.pagesA, m.pagesB)).getOrElse((0, 0))
        val changeRows = res.changes.map { c =>
          DiffRow(url, c.pageA.getOrElse(-1), c.pageB.getOrElse(-1),
            c.paraA.getOrElse(-1), c.paraB.getOrElse(-1),
            c.oldText, c.newText, pa, pb)
        }
        // a bare page-count mismatch must still surface as a row
        if (changeRows.isEmpty && res.mismatch.isDefined)
          List(DiffRow(url, -1, -1, -1, -1, "", "", pa, pb))
        else changeRows
      }
      diff.getOrElse(Nil)
    }
  }

  // ---------- multimodal binary features ----------

  final case class BinaryFeatures(url: String, kind: String, sizeBytes: Int,
      entropyMilli: Long, asciiFrac: Double, featureVec: Array[Float])

  /** Treat the payload as an opaque binary column and compute typed
    * features. The real plumbing (schema, partitioning, batched kernel) is
    * exercised; the "decode" for media types is a STUB: a deterministic
    * byte-histogram feature vector stands in for an image/audio decoder
    * (no media libraries in this environment). */
  def binaryFeatures(spark: SparkSession, input: DataFrame): Dataset[BinaryFeatures] = {
    import spark.implicits._
    perDocument(input, noText)((url, payload, _) =>
        BinaryFeatures(url, "error", payload.length, -1L, -1.0, null)) { (url, payload, _) =>
      val kind =
        if (Html.looksLikePdf(payload)) "pdf"
        else if (Html.looksLikeHtml(payload)) "html"
        else if (payload.length >= 3 && (payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8) "jpeg"
        else "binary"
      val hist = new Array[Long](16)
      var ascii = 0L
      var i = 0
      while (i < payload.length) {
        val v = payload(i) & 0xff
        hist(v >> 4) += 1
        if (v >= 0x20 && v < 0x7f) ascii += 1
        i += 1
      }
      val n = math.max(payload.length, 1)
      var entropy = 0.0
      var k = 0
      while (k < 16) {
        if (hist(k) > 0) {
          val p = hist(k).toDouble / n
          entropy -= p * math.log(p) / math.log(2)
        }
        k += 1
      }
      // STUB feature extraction: normalized 16-bin byte histogram in
      // place of a real decoded-media embedding
      val vec = hist.map(h => (h.toDouble / n).toFloat)
      BinaryFeatures(url, kind, payload.length, (entropy * 1000).round, ascii.toDouble / n, vec)
    }
  }

  // ---------- multimodal REAL image decode (JDK ImageIO) ----------

  final case class DecodedImage(url: String, format: String, ok: Boolean,
      width: Int, height: Int, pixelMd5: String, meanLumaMilli: Long)

  /** Decode-bomb guard: a crafted header declaring 60000x60000 would make
    * ImageIO allocate gigabytes BEFORE any pixel data is validated — one
    * malicious document must never kill an executor. 64 MP is far above
    * any training-corpus image. */
  val MaxImagePixels: Long = 64L * 1024 * 1024

  /** The image format a payload sniffs as: png, jpeg or binary. */
  private def imageFormat(payload: Array[Byte]): String =
    if (payload.length >= 8 && (payload(0) & 0xff) == 0x89 && payload(1) == 'P') "png"
    else if (payload.length >= 3 && (payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8) "jpeg"
    else "binary"

  /** Sniff + bomb-guarded ImageIO decode; null when the payload is not a
    * decodable image within MaxImagePixels. ImageIO reports a corrupt
    * stream by throwing an exception: that is its "not decodable". */
  private[spark] def readImage(payload: Array[Byte]): (String, java.awt.image.BufferedImage) = {
    val fmt = imageFormat(payload)
    val img =
      if (fmt == "binary") null
      else
        try {
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(payload))
          try {
            val readers = javax.imageio.ImageIO.getImageReaders(iis)
            if (!readers.hasNext) null
            else {
              val reader = readers.next()
              try {
                reader.setInput(iis)
                // header-declared dims — no pixel allocation yet
                val w = reader.getWidth(0).toLong
                val h = reader.getHeight(0).toLong
                if (w <= 0 || h <= 0 || w * h > MaxImagePixels) null
                else reader.read(0)
              } finally reader.dispose()
            }
          } finally if (iis != null) iis.close()
        } catch { case _: Exception => null }
    (fmt, img)
  }

  /** The row of a payload that does not decode as an image. */
  private def undecodedImage(url: String, payload: Array[Byte]): DecodedImage =
    DecodedImage(url, imageFormat(payload), ok = false, -1, -1, null, -1L)

  /** REAL image decoding over an opaque binary column — no stub: JPEG and
    * PNG payloads decode through the JDK's ImageIO (no external deps), and
    * the row carries typed metadata (dimensions, per-pixel md5 for
    * lossless formats, mean luma). Non-image payloads yield ok=false rows
    * rather than errors; declared dimensions are read from the HEADER and
    * capped before any pixel allocation happens. The same mapPartitions
    * shape scales like the extraction kernel: pruned scan, no shuffle, one
    * decoder instance per partition thread. */
  def decodeImages(spark: SparkSession, input: DataFrame): Dataset[DecodedImage] = {
    import spark.implicits._
    perDocument(input, noText)((url, payload, _) => undecodedImage(url, payload)) {
      (url, payload, _) => decodeImageRow(url, payload)
    }
  }

  /** Row-local image decode (the per-row kernel of [[decodeImages]], kept
    * callable so the fuzz campaign can hammer it without a session). */
  private[graft] def decodeImageRow(url: String, payload: Array[Byte]): DecodedImage = {
    val (fmt, img) = readImage(payload)
    if (img == null) undecodedImage(url, payload)
    else {
      val w = img.getWidth
      val h = img.getHeight
      val raster = img.getRaster
      val bands = raster.getNumBands
      val bytes = new Array[Byte](w * h * bands)
      var luma = 0L
      var k = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var b = 0
          var pix = 0
          while (b < bands) {
            val v = raster.getSample(x, y, b)
            bytes(k) = v.toByte
            pix += v
            k += 1
            b += 1
          }
          luma += pix / bands
          x += 1
        }
        y += 1
      }
      val md5 = if (fmt == "png") // lossless: pixels are a checkable fact
        md5Hex(bytes)
      else null
      DecodedImage(url, fmt, ok = true, w, h, md5, luma * 1000L / math.max(w * h, 1))
    }
  }

  final case class JpxFact(url: String, ok: Boolean, format: String,
      width: Int, height: Int, components: Int, bpc: Int, decodeRefused: Boolean)

  /** JPX header facts (x30): for each row whose page-1 image XObject is
    * /JPXDecode, parse the JP2/codestream HEADER (dims, components, bit
    * depth) from the undecoded stream bytes — full JPX decode stays
    * refused, and that refusal is part of the row's contract
    * (decodeRefused must be true via UnsupportedFeature, never a
    * mis-decode). Rows without a JPX image are ok=false. Shuffle-free
    * per-row kernel work like the other decode surfaces. */
  def jpxHeaderFacts(spark: SparkSession, input: DataFrame): Dataset[JpxFact] = {
    import spark.implicits._
    def noJpx(url: String) = JpxFact(url, ok = false, null, -1, -1, -1, -1, decodeRefused = false)
    perDocument(input, noText)((url, _, _) => noJpx(url)) { (url, payload, _) =>
      val fact = for {
        doc <- openPdf(payload).toOption
        refs <- DocStructure.pageRefs(doc).toOption
        firstPage <- refs.headOption
        hits <- Interp.interpretPageImageHits(doc, firstPage).toOption
        (ref, _) <- hits.headOption
        dict <- doc.findDictByRef(ref)
        if Filters.streamFilterNames(dict).getOrElse(Nil).contains("/JPXDecode")
        bytes <- doc.undecodedStreamByRef(ref).toOption
        hdr <- Jp2.headerFacts(bytes).toOption
      } yield {
        val refused = doc.rawStreamByRef(ref) match {
          case Left(_: PdfError.UnsupportedFeature) => true
          case _ => false
        }
        JpxFact(url, ok = true, hdr.format, hdr.width, hdr.height,
          hdr.components, hdr.bpc, refused)
      }
      fact.getOrElse(noJpx(url))
    }
  }

  final case class ScannedImage(url: String, ok: Boolean,
      width: Int, height: Int, pixelMd5: String)

  /** Fax/JBIG2 image facts (x26): extract page-1 images from each scanned
    * PDF row, re-decode the exported lossless PNG and emit dimensions +
    * decoded-pixel md5 — externally oracled against the generator's
    * bitmap construction facts. Same shuffle-free shape as the other
    * decode surfaces; failures are ok=false rows. */
  def scannedImageFacts(spark: SparkSession, input: DataFrame): Dataset[ScannedImage] = {
    import spark.implicits._
    def noImage(url: String) = ScannedImage(url, ok = false, -1, -1, null)
    perDocument(input, noText)((url, _, _) => noImage(url)) { (url, payload, _) =>
      openPdf(payload).toOption
        .flatMap(doc => Images.extractPageImages(doc, 1).toOption)
        .flatMap(_.headOption) match {
        case Some(im) =>
          val d = decodeImageRow(url, im.bytes)
          ScannedImage(url, d.ok, d.width, d.height, d.pixelMd5)
        case None => noImage(url)
      }
    }
  }

  // ---------- multimodal image resize ----------

  final case class ResizedImage(url: String, format: String, ok: Boolean,
      width: Int, height: Int, outWidth: Int, outHeight: Int, pixelMd5: String)

  /** The row of a payload that does not decode as an image. */
  private def unresizedImage(url: String, payload: Array[Byte]): ResizedImage =
    ResizedImage(url, imageFormat(payload), ok = false, -1, -1, -1, -1, null)

  /** Aspect-preserving downscale to 12 pixels on the longest side via
    * nearest-neighbor sampling — pure integer index math (ix = x*W/outW),
    * so the resized pixels are a deterministic function of the decoded
    * image on every JVM (no interpolation float variance). Images already
    * within bounds pass through unchanged. Same decode guard as
    * decodeImages. */
  def resizeImages(spark: SparkSession, input: DataFrame): Dataset[ResizedImage] = {
    import spark.implicits._
    perDocument(input, noText)((url, payload, _) => unresizedImage(url, payload)) {
      (url, payload, _) => resizeImageRow(url, payload)
    }
  }

  /** Row-local resize kernel of [[resizeImages]] (fuzz-callable). */
  private[graft] def resizeImageRow(url: String, payload: Array[Byte]): ResizedImage = {
    val maxDim = 12
    val (fmt, img) = readImage(payload)
    if (img == null) unresizedImage(url, payload)
    else {
      val w = img.getWidth
      val h = img.getHeight
      val maxSide = math.max(w, h)
      val (ow, oh) =
        if (maxSide <= maxDim) (w, h)
        else (math.max(1, w * maxDim / maxSide), math.max(1, h * maxDim / maxSide))
      val in = img.getRaster
      val bands = in.getNumBands
      val out = new Array[Byte](ow * oh * bands)
      var k = 0
      var y = 0
      while (y < oh) {
        // Long index math: x*w can pass Int.MaxValue for extreme-
        // aspect images that are still under the 64 MP pixel cap
        val iy = (y.toLong * h / oh).toInt
        var x = 0
        while (x < ow) {
          val ix = (x.toLong * w / ow).toInt
          var b = 0
          while (b < bands) {
            out(k) = in.getSample(ix, iy, b).toByte
            k += 1
            b += 1
          }
          x += 1
        }
        y += 1
      }
      val md5 = md5Hex(out)
      ResizedImage(url, fmt, ok = true, w, h, ow, oh, md5)
    }
  }

  // ---------- multimodal REAL audio decode (javax.sound.sampled) ----------

  final case class DecodedAudio(url: String, format: String, ok: Boolean,
      sampleRate: Int, channels: Int, bits: Int, nSamples: Int,
      sampleMd5: String, rmsMilli: Long)

  private def isWav(payload: Array[Byte]): Boolean = payload.length >= 12 &&
    payload(0) == 'R' && payload(1) == 'I' && payload(2) == 'F' && payload(3) == 'F' &&
    payload(8) == 'W' && payload(9) == 'A' && payload(10) == 'V' && payload(11) == 'E'

  /** The row of a payload that does not decode as audio. */
  private def undecodedAudio(url: String, payload: Array[Byte]): DecodedAudio =
    DecodedAudio(url, if (isWav(payload)) "wav" else "binary", ok = false, -1, -1, -1, -1, null, -1L)

  /** REAL audio decoding over an opaque binary column: WAV/PCM payloads go
    * through the JDK's javax.sound.sampled (no external deps) and emit
    * typed metadata (rate/channels/bits/frames), the md5 of the decoded
    * PCM bytes (lossless — must equal the authored samples byte for
    * byte), and an RMS energy feature. Non-audio payloads yield ok=false
    * rows. Same scale shape as the extraction kernel: pruned scan ->
    * mapPartitions, no shuffle. */
  def decodeAudio(spark: SparkSession, input: DataFrame): Dataset[DecodedAudio] = {
    import spark.implicits._
    perDocument(input, noText)((url, payload, _) => undecodedAudio(url, payload)) {
      (url, payload, _) => decodeAudioRow(url, payload)
    }
  }

  /** Row-local audio decode kernel of [[decodeAudio]] (fuzz-callable).
    * javax.sound reports a corrupt stream by throwing an exception: that
    * is its "not decodable". */
  private[graft] def decodeAudioRow(url: String, payload: Array[Byte]): DecodedAudio = {
    val decoded =
      if (!isWav(payload)) None
      else
        try {
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(payload))
          try {
            val af = in.getFormat
            // BOUNDED manual read, never readAllBytes: an
            // AudioInputStream returns 0 (not -1) when asked for less
            // than one frame, so a crafted fmt chunk declaring a
            // frame size above the read buffer spins readAllBytes
            // forever (found by the fuzz campaign — a decode bomb
            // that would pin an executor core). Zero-byte read =
            // frame-size lie = corrupt; oversize output = bomb cap.
            val maxPcm = 64 << 20
            val buf = new java.io.ByteArrayOutputStream()
            val chunk = new Array[Byte](64 * 1024)
            var n = in.read(chunk)
            while (n > 0 && buf.size <= maxPcm) { buf.write(chunk, 0, n); n = in.read(chunk) }
            if (n == 0 || buf.size > maxPcm) None
            else Some((af, buf.toByteArray))
          } finally in.close()
        } catch { case _: Exception => None }
    decoded match {
      case None => undecodedAudio(url, payload)
      case Some((af, pcm)) =>
        val bits = af.getSampleSizeInBits
        val channels = af.getChannels
        val frameBytes = channels * bits / 8
        val nSamples = if (frameBytes > 0) pcm.length / frameBytes else 0
        val md5 = md5Hex(pcm)
        // RMS over 16-bit LE samples (integer accumulation, exact)
        var sumSq = 0L
        var k = 0
        while (bits == 16 && k + 1 < pcm.length) {
          val v = ((pcm(k + 1) << 8) | (pcm(k) & 0xff)).toShort.toInt
          sumSq += v.toLong * v
          k += 2
        }
        val n = math.max(pcm.length / 2, 1)
        // RMS is only computed for 16-bit PCM; -1 marks "not
        // computed" so non-16-bit audio is never mistaken for silence
        val rmsMilli =
          if (bits == 16) (math.sqrt(sumSq.toDouble / n) * 1000).round else -1L
        DecodedAudio(url, "wav", ok = true, af.getSampleRate.round, channels, bits,
          nSamples, md5, rmsMilli)
    }
  }

  // ---------- multimodal REAL video frame decode (RIFF/AVI + MJPEG) ----------

  final case class VideoFrame(url: String, frameIdx: Int, fps: Int,
      width: Int, height: Int, frameMd5: String,
      decodedW: Int, decodedH: Int, decodeOk: Boolean)

  /** Total RIFF/AVI demux: returns (width, height, fps, frames) for an
    * MJPEG-style AVI, None for anything malformed — one corrupt payload
    * must never kill an executor. Pure byte walking, no libraries. */
  private[graft] def demuxAvi(p: Array[Byte]): Option[(Int, Int, Int, Vector[Array[Byte]])] = {
    def le32(o: Int): Long =
      if (o + 4 > p.length) -1L
      else ((p(o) & 0xffL) | ((p(o + 1) & 0xffL) << 8) | ((p(o + 2) & 0xffL) << 16) |
        ((p(o + 3) & 0xffL) << 24))
    def fourcc(o: Int): String =
      if (o + 4 > p.length) "" else new String(p, o, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
    if (p.length < 24 || fourcc(0) != "RIFF" || fourcc(8) != "AVI ") return None
    var w = -1; var h = -1; var scale = 0L; var rate = 0L
    val frames = Vector.newBuilder[Array[Byte]]
    var nFrames = 0
    // walk [from,to) as a sequence of <fourcc><le32 size><body> chunks,
    // recursing into LISTs; word-aligned; depth-capped (crafted nesting)
    def walk(from: Int, to: Int, depth: Int): Unit = {
      if (depth > 8) return
      var o = from
      while (o + 8 <= to && o + 8 <= p.length) {
        val cc = fourcc(o)
        val size = le32(o + 4)
        if (size < 0 || o + 8 + size > to) return // truncated/corrupt: stop
        val body = o + 8
        val end = body + size.toInt
        cc match {
          case "LIST" => walk(body + 4, end, depth + 1) // skip the list subtype
          case "avih" if size >= 40 =>
            w = le32(body + 32).toInt; h = le32(body + 36).toInt
          case "strh" if size >= 28 && fourcc(body) == "vids" =>
            scale = le32(body + 20); rate = le32(body + 24)
          case cc2 if cc2.endsWith("dc") || cc2.endsWith("db") =>
            if (nFrames < 4096) { // bound memory on crafted frame floods
              frames += java.util.Arrays.copyOfRange(p, body, end)
              nFrames += 1
            }
          case _ => ()
        }
        o = end + (size.toInt & 1) // RIFF word alignment
      }
    }
    walk(12, (12 + le32(4) - 4).toInt.min(p.length), 0)
    val fs = frames.result()
    if (w <= 0 || h <= 0 || scale <= 0 || rate <= 0 || fs.isEmpty) None
    else Some((w, h, (rate / scale).toInt, fs))
  }

  /** REAL video frame decoding over an opaque binary column: MJPEG/AVI
    * payloads are demuxed by walking the RIFF container (avih dims, strh
    * rate/scale, movi '00dc' chunks), and every extracted frame goes
    * through the same bomb-guarded ImageIO JPEG decode as x17. The frame
    * BYTES are lossless container content — a correct demuxer returns them
    * verbatim (md5-checkable against authored frames) — while the decoded
    * dimensions must match the container header. Non-video payloads yield
    * one ok=false row. Same scale shape as the kernel: pruned scan ->
    * mapPartitions flatMap, no shuffle. */
  def decodeVideoFrames(spark: SparkSession, input: DataFrame): Dataset[VideoFrame] = {
    import spark.implicits._
    perDocumentRows(input, noText)((url, payload, _) => videoFramesRow(url, payload))
  }

  /** Row-local demux+decode kernel of [[decodeVideoFrames]] (fuzz-callable). */
  private[graft] def videoFramesRow(url: String, payload: Array[Byte]): Iterator[VideoFrame] =
    demuxAvi(payload) match {
      case None =>
        Iterator.single(VideoFrame(url, -1, -1, -1, -1, null, -1, -1, decodeOk = false))
      case Some((w, h, fps, frames)) =>
        frames.iterator.zipWithIndex.map { case (fr, idx) =>
          val md5 = md5Hex(fr)
          val (_, img) = readImage(fr)
          if (img == null) VideoFrame(url, idx, fps, w, h, md5, -1, -1, decodeOk = false)
          else VideoFrame(url, idx, fps, w, h, md5, img.getWidth, img.getHeight,
            decodeOk = true)
        }
    }

  // ---------- multimodal frame sampling (stub decode) ----------

  final case class FrameRow(url: String, frameIdx: Int, byteOffset: Long,
      width: Int, height: Int, featureVec: Array[Float])

  /** Frame-sampling shape for media payloads: emits every-Nth-"frame" rows
    * with typed metadata and a per-frame feature vector. The DECODE IS A
    * STUB (deterministic byte-window histogram standing in for a real
    * video/image decoder — no media libraries in this container); the
    * Spark-side plumbing (schema, flatMap fan-out, batch shape) is real.
    * One frame per 256-byte window, at most 8 per document. */
  def sampleFrames(spark: SparkSession, input: DataFrame): Dataset[FrameRow] = {
    import spark.implicits._
    val everyNBytes = 256
    perDocumentRows(input, noText) { (url, payload, _) =>
      val n = math.min(8, math.max(payload.length / everyNBytes, 0))
      (0 until n).map { f =>
        val off = f.toLong * everyNBytes
        val hist = new Array[Float](8)
        var i = off.toInt
        val end = math.min(payload.length, i + everyNBytes)
        while (i < end) { hist((payload(i) & 0xff) >> 5) += 1f; i += 1 }
        val total = math.max(end - off.toInt, 1)
        var k = 0
        while (k < 8) { hist(k) /= total; k += 1 }
        // stub "dimensions" derived deterministically from content
        FrameRow(url, f, off, 16 + (payload(off.toInt) & 0x3f),
          16 + (payload(math.min(off.toInt + 1, payload.length - 1)) & 0x3f), hist)
      }
    }
  }

  // ---------- structured streaming extraction ----------

  /** Same kernel as a Structured Streaming job: file-source readStream over
    * a parquet directory, AvailableNow trigger, memory sink. Stateless map
    * -> no watermark needed; at 100 TB this is the same plan with a real
    * source (Kafka/files) and an Iceberg sink. Runs on the stream session
    * like every stream; the returned table lives in that session. */
  def streamingExtract(spark0: SparkSession, corpusDir: String): DataFrame = {
    val spark = Streaming.streamSession(spark0)
    Streaming.runToMemory(corpusDir) { dir =>
      Pipeline.extract(spark, Streaming.parquetReader(spark, dir).parquet(dir))
    }
  }
}

/** Structured Streaming with state: windowed counts with a watermark and a
  * custom per-key session state via flatMapGroupsWithState — the streaming
  * analogues a training-data pipeline needs next to the stateless
  * extraction stream. */
object Streaming {
  import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.streaming.{DataStreamReader, DataStreamWriter, GroupState,
    GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
  import org.apache.spark.sql.types.StructType

  /** Streaming state-partition sizing (round 7, guide §2.2 + §5): a
    * stateful micro-batch pays one state-store open/commit PER SHUFFLE
    * PARTITION regardless of data volume, so partitions are sized to STATE
    * VOLUME, not inherited from the batch session (x22 measured 8s -> ~3s
    * going 32 -> 8 in round 5). Much of that per-store cost was process
    * creation: each commit renamed and chmod-ed its delta, checksum and log
    * files through forked `readlink`/`chmod` (~1,740 forks per perfbench
    * `stream` pass on 4 vCPUs). With the forks gone (streamSession), 8
    * still beat 4 and 16 in paired runs (BENCH/BASELINE.md). On a cluster
    * this is state rows / target-rows-per-store. Partition count does not
    * change any result: aggregations/sessionization are keyed, and every
    * streaming query ends in a deterministic total-order sort. */
  private val StreamShufflePartitions = 8

  /** Every stream runs on an ISOLATED child session (newSession shares the
    * SparkContext but owns its SQLConf + temp-view catalog), so the
    * partition sizing above does not reshape the caller's batch queries.
    * The child carries the stream's SQL conf: the 8 state partitions, the
    * checkpoint manager below, the caller's state-store provider, and, on
    * a stream that emits only for data, no no-data batches (`eventOnly`).
    *
    * The child's ARTIFACT isolation is off: its tasks run in the
    * executor's default session state, so the JVM's generated classes
    * serve every stream. Janino's cache (`CodeGenerator`) is keyed by the
    * context class loader and the code, an executor gives each isolated
    * session its own class loader (keyed by the session's uuid), and each
    * stream start runs its batches on a clone with a fresh uuid: isolated,
    * every call recompiled byte-identical code (x22 ~30 classes, x31 5).
    * The streams add no jars or classes of their own, so isolation bought
    * nothing here.
    *
    * Checkpoint I/O stays in-process. Hadoop has no NativeIO here, and
    * Spark's default FileContext checkpoint manager forks `readlink` on
    * every rename of a checkpoint, state or checksum file. When the
    * checkpoint root is local (`spark.sql.streaming.checkpointLocation`
    * unset, so a temp dir, or resolving to `file:`), the session uses
    * Spark's FileSystem-based manager, whose rename on the local
    * filesystem is an atomic `File.renameTo`; other schemes (HDFS, object
    * stores) keep the FileContext default. The `file:` filesystem is
    * [[LocalFileSystem]], which sets permissions without forking `chmod`.
    * Spark's checkpoint checksums and Hadoop's `.crc` files are kept.
    *
    * The state-store provider is Spark's own key,
    * `spark.sql.streaming.stateStore.providerClass`, taken from the
    * caller's conf (`--conf`, `-Dspark.…` or set on the calling session):
    * RocksDBStateStoreProvider is the cluster configuration, where state
    * lives off-heap and survives executor GC pressure. The same oracles
    * stay green on either provider; the RocksDB gate run is recorded in
    * BENCH/BASELINE.md.
    *
    * No-data micro-batches stay on by default: a stream whose output waits
    * on the watermark (the windowed counts' Append windows, the sessions'
    * event-time timeouts) emits it in the batch that runs after the data
    * is gone. A stream that emits only for data turns them off on its
    * session (x21, x22), since there they only evict state. */
  private[graft] def streamSession(spark0: SparkSession): SparkSession = {
    val s = spark0.newSession()
    // read once, lazily, by the session's artifact manager: set before
    // anything else touches the session; the stream's clones inherit it
    s.conf.set("spark.sql.artifact.isolation.enabled", "false")
    LocalFileSystem.register(s)
    // newSession resets runtime conf to the context defaults — inherit a
    // provider choice made on the calling session (SurfacesSpec's RocksDB
    // gate sets it there)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    spark0.conf.getOption(providerKey).foreach(s.conf.set(providerKey, _))
    s.conf.set("spark.sql.shuffle.partitions", StreamShufflePartitions.toString)
    // the checkpoint root's scheme; an unset root is a scheme-less temp dir
    import org.apache.hadoop.fs.{FileSystem, Path}
    val scheme = spark0.conf.getOption("spark.sql.streaming.checkpointLocation")
      .flatMap(loc => Option(new Path(loc).toUri.getScheme))
      .getOrElse(FileSystem.getDefaultUri(spark0.sparkContext.hadoopConfiguration).getScheme)
    if (scheme == "file")
      s.conf.set("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
    s
  }

  /** Turns off no-data micro-batches on the session of a stream that emits
    * rows only for data (a dedup, an inner stream-stream join): there such
    * a batch only evicts state, which the next data batch evicts anyway. */
  private def eventOnly(s: SparkSession): SparkSession = {
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    s
  }

  /** A stream reader for the parquet table at `dir`, carrying the table's
    * schema (a file source needs it up front): `schema` when the caller
    * knows it, else the one a batch read infers (a job), reading at most
    * `maxFilesPerTrigger` files per micro-batch when given. */
  private[spark] def parquetReader(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None,
      schema: Option[StructType] = None): DataStreamReader = {
    val reader = spark.readStream.schema(schema.getOrElse(spark.read.parquet(dir).schema))
    maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n))
  }

  /** Runs `plan` over the parquet table at `source` as an AvailableNow
    * stream into a memory table and returns the table's rows once the
    * query has terminated. The runner names the table, unique per call, so
    * no caller picks a name and concurrent calls cannot share a sink. */
  private[spark] def runToMemory(source: String)(plan: String => Dataset[_]): DataFrame = {
    val name = "stream_" + java.util.UUID.randomUUID().toString.replace('-', '_')
    run(source)(plan(_).writeStream.format("memory").queryName(name)).sparkSession.table(name)
  }

  /** The one stream runner: starts the stream `start` builds over the
    * parquet table at `source`, with an AvailableNow trigger, and returns
    * the query once it has terminated. A single-file table is read in
    * place through a glob that names only that file,
    * `<parent>/{<name>}`, its glob characters escaped: the file source
    * takes a plain path as its partition base path, which must be a
    * directory. */
  private def run(source: String)(start: String => DataStreamWriter[_]): StreamingQuery = {
    val src = java.nio.file.Paths.get(source)
    val path = if (java.nio.file.Files.isDirectory(src)) source
      else s"${src.getParent}/{${src.getFileName.toString.replaceAll("[\\\\{}\\[\\]*?,]", "\\\\$0")}}"
    val q = start(path).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  /** The windowed-count streaming plan: tumbling 1-hour windows with a
    * 10-minute watermark. Exposed un-started so tests can assert the
    * EventTimeWatermark node is in the plan (the state-eviction contract)
    * and can run it to their own sink and checkpoint. */
  def windowedEventCountsPlan(spark: SparkSession, eventsDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    parquetReader(spark, eventsDir, maxFilesPerTrigger).parquet(eventsDir)
      .withColumn("ts", col("ts").cast("timestamp")) // NTZ -> event-time type
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("events"),
        // decimal accumulation -> rounded double: bit-identical across
        // engines regardless of float summation order (oracle parity)
        round(sum(col("value").cast("decimal(18,4)")), 4).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("events"), col("sum_value"))
  }

  /** Tumbling-window event counts over a file-source stream of the events
    * table (AvailableNow -> finite). Output mode is APPEND: a window is
    * emitted once, when the watermark passes its end, and its state is
    * evicted — constant state at any stream length. (Complete mode would
    * retain every window ever seen: a state-store OOM at 100 TB.) Windows
    * still inside the final watermark stay in state and are not emitted —
    * the price of eviction on a finite run. */
  def windowedEventCounts(spark0: SparkSession, eventsDir: String): DataFrame = {
    val spark = streamSession(spark0)
    runToMemory(eventsDir)(windowedEventCountsPlan(spark, _))
  }

  /** Streaming exact-dedup of an at-least-once delivery stream. The input
    * simulates redelivery (every 7th event arrives TWICE — same event_id,
    * same ts, the shape a retrying producer creates), and
    * dropDuplicatesWithinWatermark keeps only the first arrival. The dedup
    * state holds an event_id only until the watermark passes its event
    * time — constant state on an unbounded stream, unlike a plain
    * dropDuplicates whose key set grows forever (the same bounded-state
    * contract as the windowed counts and sessions). */
  def dedupedEventStream(spark0: SparkSession, eventsDir: String): DataFrame = {
    val spark = eventOnly(streamSession(spark0))
    runToMemory(eventsDir) { dir =>
      val reader = parquetReader(spark, dir)
      def src = reader.parquet(dir)
        .select(col("event_id").cast("long").as("event_id"),
          col("ts").cast("timestamp").as("ts"), col("event_type"))
      src.unionByName(src.filter(pmod(col("event_id"), lit(7)) === 0))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id")
    }
  }

  /** Stream-stream event-time join (click -> purchase attribution): a
    * purchase joins every click by the same user in the preceding hour.
    * Both sides carry watermarks and the join condition carries the time
    * range, so each side's state is dropped once the watermark passes the
    * range — bounded state on unbounded streams (an unconstrained
    * stream-stream join would buffer both streams forever). Inner join:
    * matches emit as soon as both rows have arrived; the watermark only
    * gates state cleanup. */
  def attributedPurchases(spark0: SparkSession, eventsDir: String): DataFrame = {
    // isolated child session with state-sized shuffle partitions
    // (streamSession — the r5 measurement that motivated the sizing,
    // 8s -> ~3s at 8 vs 32, was made on this query; the partition count
    // is pinned at stream START and baked into the checkpoint)
    val spark = eventOnly(streamSession(spark0))
    runToMemory(eventsDir) { dir =>
      val reader = parquetReader(spark, dir)
      def src(tpe: String, alias: String) = reader.parquet(dir)
        .filter(col("event_type") === tpe)
        .select(col("user_id").cast("long").as(s"${alias}_user"),
          col("ts").cast("timestamp").as(s"${alias}_ts"),
          col("event_id").cast("long").as(s"${alias}_id"))
        .withWatermark(s"${alias}_ts", "10 minutes")
      src("click", "c").join(src("purchase", "p"),
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("interval 1 hour"))
    }
  }

  /** Streaming incremental dedup (the streaming production shape of d11):
    * each micro-batch of a recrawl stream probes the signature index
    * persisted at `indexDir` with the first-hit walk
    * ([[Queries.firstVerifiedNearDups]]), which stops each probe row at its
    * smallest verified index doc instead of verifying the whole hot bucket
    * (most of the index). Band keying is row-local (same minhash arithmetic
    * as the batch path). No state: an unbounded recrawl feed dedups against
    * a 100 TB standing corpus with per-batch work proportional to the
    * batch, and each batch moves one row per matched document to the
    * driver, as a memory sink would. The index is read once per stream, and
    * every micro-batch walks that one frame. `deltaSchema` is the delta's
    * schema as written, so the stream starts without a schema-inference job.
    * Returns doc_b -> cluster_old: the matched documents and their oldest
    * matching index doc. */
  def incrementalDedupPairs(spark0: SparkSession, indexDir: String,
      deltaDir: String, deltaSchema: StructType): Map[Long, Long] = {
    val spark = streamSession(spark0)
    val index = Queries.signatureIndex(spark, indexDir)
    val best = scala.collection.mutable.HashMap.empty[Long, Long]
    val walk: (DataFrame, Long) => Unit = (batch, _) => {
      val hits = Queries.firstVerifiedNearDups(
        Queries.bandedSigs(Queries.sigKeyed(batch)), index)
      best.synchronized(hits.foreach { case (b, a) =>
        if (best.get(b).forall(a < _)) best(b) = a
      })
    }
    run(deltaDir)(dir =>
      parquetReader(spark, dir, schema = Some(deltaSchema)).parquet(dir).writeStream.foreachBatch(walk))
    best.synchronized(best.toMap)
  }

  final case class UserSession(user_id: Long, events: Long, firstTs: java.sql.Timestamp,
      lastTs: java.sql.Timestamp, distinctTypes: Int)

  /** Session idle gap: a user key whose last event is this far behind the
    * event-time watermark has its session finalized and its state DROPPED. */
  val SessionGapMs: Long = 30 * 60 * 1000L

  /** Custom keyed state: per-user EVENT-TIME sessionization via
    * flatMapGroupsWithState (KeyValueGroupedDataset). Sessions are defined
    * by the DATA, not the batching: within each invocation the batch is
    * processed in ts order and a gap > SessionGapMs CLOSES the current
    * session (emitting its final row) and opens a new one — so the session
    * set is a pure function of event times, identical whether the stream
    * arrives as one batch or many (an earlier version split sessions only
    * at timeout firings, which depend on micro-batch boundaries — the
    * output was only deterministic for single-batch runs). A timeout
    * (watermark past last activity + gap) emits the final open session and
    * DROPS the key. Bounded in BOTH dimensions a long-running stream grows
    * in: per-key state is O(Kmv.K) (the per-session distinct-type count is
    * a KMV sketch, exact below K), and the key count is bounded by
    * event-time eviction. Batch inserts go through Kmv.bulkAdd (one
    * sort + merge per session per micro-batch), not copy-on-insert. */
  def userSessions(spark0: SparkSession, eventsDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val spark = streamSession(spark0)
    import spark.implicits._
    runToMemory(eventsDir) { dir =>
      parquetReader(spark, dir, maxFilesPerTrigger).parquet(dir)
        .select(col("user_id").cast("long"), col("ts").cast("timestamp").as("ts"), col("event_type"))
        .withWatermark("ts", "10 minutes")
        .as[(Long, java.sql.Timestamp, String)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[(Long, java.sql.Timestamp, java.sql.Timestamp, Array[Long]), UserSession](
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
          (user: Long, rows: Iterator[(Long, java.sql.Timestamp, String)],
           state: GroupState[(Long, java.sql.Timestamp, java.sql.Timestamp, Array[Long])]) =>
            if (state.hasTimedOut) {
              // watermark passed last activity + gap: finalize and DROP the key
              val (n, first, last, kmv) = state.get
              state.remove()
              Iterator.single(UserSession(user, n, first, last, Kmv.estimate(kmv)))
            } else {
              var (n, first, last, kmv) = state.getOption.getOrElse(
                (0L, null: java.sql.Timestamp, null: java.sql.Timestamp, Array.emptyLongArray))
              val out = new scala.collection.mutable.ListBuffer[UserSession]
              val pending = new scala.collection.mutable.ArrayBuffer[Long](64)
              def flushKmv(): Unit =
                if (pending.nonEmpty) { kmv = Kmv.bulkAdd(kmv, pending.toArray); pending.clear() }
              // ts order makes the session split a pure event-time fact
              for ((_, ts, tpe) <- rows.toArray.sortBy(_._2.getTime)) {
                if (last != null && ts.getTime - last.getTime > SessionGapMs) {
                  // event-time gap: close the current session NOW (batch
                  // boundaries play no part in where sessions split)
                  flushKmv()
                  out += UserSession(user, n, first, last, Kmv.estimate(kmv))
                  n = 0; first = null; last = null; kmv = Array.emptyLongArray
                }
                n += 1
                if (first == null || ts.before(first)) first = ts
                if (last == null || ts.after(last)) last = ts
                pending += Kmv.hash(tpe)
              }
              flushKmv()
              state.update((n, first, last, kmv))
              // the timeout must sit strictly past the current watermark
              state.setTimeoutTimestamp(
                math.max(state.getCurrentWatermarkMs() + 1, last.getTime + SessionGapMs))
              // running snapshot of the open session (its final row wins the
              // per-(user, firstTs) max in consumers)
              out += UserSession(user, n, first, last, Kmv.estimate(kmv))
              out.iterator
            }
        }
    }
  }

  /** Collapse the Append-mode session snapshot stream to one row per
    * session. Two steps: (1) per (user, firstTs) the final snapshot wins —
    * events/lastTs/distinctTypes are monotone within a session, so max()
    * selects it; (2) PHANTOM DROP: when a later micro-batch delivers an
    * in-session event EARLIER than the session's current firstTs (legal
    * within the watermark), earlier snapshots keyed by the now-stale
    * firstTs remain in the Append output as phantom "sessions". A phantom's
    * firstTs is an event time INSIDE the real session's [firstTs, lastTs]
    * span, while true sessions are disjoint and separated by > the session
    * gap — so any row whose first_ts is covered by the running max last_ts
    * of earlier-starting rows is a phantom and is dropped. On an in-order
    * single-batch run the filter is a no-op. */
  def finalizedSessions(snapshots: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rolled = snapshots
      .groupBy(col("user_id"), col("firstTs").as("first_ts"))
      .agg(max(col("events")).as("events"),
        max(col("lastTs")).as("last_ts"),
        max(col("distinctTypes")).as("distinct_types"))
    val prior = Window.partitionBy("user_id").orderBy("first_ts")
      .rowsBetween(Window.unboundedPreceding, -1)
    rolled
      .withColumn("prev_max_last", max(col("last_ts")).over(prior))
      .filter(col("prev_max_last").isNull || col("prev_max_last") < col("first_ts"))
      .drop("prev_max_last")
  }
}
