package graft.core

import java.util.zip.CRC32
import PObj._
import DocStructure.{Dict, Document, findDict}

/** Image XObject extraction (reference src/PDF/Image.hs): interpreter in
  * image-hit mode yields (ref, placement bbox); bytes classified as JPEG
  * pass-through, 8-bit RGB/Gray re-encoded as minimal PNG, else raw. */
object Images {

  final case class PageImage(
      index: Int, page: Int, bbox: Rect, format: String, bytes: Array[Byte])

  def extractPageImages(doc: Document, pageNum: Int): Either[PdfError, List[PageImage]] =
    DocStructure.pageRefs(doc).flatMap { refs =>
      if (pageNum < 1 || pageNum > refs.length)
        Left(PdfError.UnsupportedFeature(s"page number $pageNum out of range"))
      else pageImages(doc, pageNum, refs(pageNum - 1))
    }

  /** The images placed on page number `pageNum`, whose page object is
    * `pageRef`. */
  def pageImages(doc: Document, pageNum: Int, pageRef: Int): Either[PdfError, List[PageImage]] =
    Interp.interpretPageImageHits(doc, pageRef).map { hits =>
      hits.zipWithIndex.flatMap { case ((ref, bbox), idx) =>
        loadImageBytes(doc, ref).toOption.map { case (fmt, bytes) =>
          PageImage(idx + 1, pageNum, bbox, fmt, bytes)
        }
      }
    }

  def loadImageBytes(doc: Document, ref: Int): Either[PdfError, (String, Array[Byte])] =
    for {
      os <- doc.objsByRef(ref).toRight(PdfError.MissingObject(ref))
      d <- findDict(os).toRight(PdfError.MissingKey("/Type", s"image object $ref"))
      stream <- doc.rawStreamByRef(ref)
      out <- classify(doc, d, stream)
    } yield out

  private def classify(doc: Document, d: Dict, bs: Array[Byte]): Either[PdfError, (String, Array[Byte])] = {
    val filters = Filters.streamFilterNames(d).getOrElse(Nil)
    val isJpeg = bs.length >= 3 && (bs(0) & 0xff) == 0xff && (bs(1) & 0xff) == 0xd8 && (bs(2) & 0xff) == 0xff
    if (filters.contains("/DCTDecode") || isJpeg) Right(("jpeg", bs))
    else {
      def posInt(key: String): Option[Int] = d.get(key).collect {
        case PNum(n) if Util.hsTruncate(n) > 0 => Util.hsTruncate(n)
      }
      // Long arithmetic: a crafted 65536x65536 dict would make w*h*3
      // overflow Int to 0 == an empty stream's length and crash encodePng
      (posInt("/Width"), posInt("/Height"), posInt("/BitsPerComponent"),
        colorComponents(doc, d.get("/ColorSpace"))) match {
        case (Some(w), Some(h), Some(8), Some(3)) if bs.length.toLong == w.toLong * h * 3 =>
          Right(("png", encodePng(w, h, bs, rgb = true)))
        case (Some(w), Some(h), Some(8), Some(1)) if bs.length.toLong == w.toLong * h =>
          Right(("png", encodePng(w, h, bs, rgb = false)))
        case (Some(w), Some(h), Some(1), Some(1)) if bs.length.toLong == ((w + 7) / 8).toLong * h =>
          // packed 1-bit gray (e.g. decoded CCITT G4). Bit polarity follows
          // the filter's /BlackIs1: false (default) -> 0 = black; true ->
          // 1 = black — without this, a BlackIs1 scan exports tonally
          // inverted (white text on black)
          Right(("png", encodePng(w, h, expand1Bit(bs, w, h, blackIs1Of(d)), rgb = false)))
        case _ => Right(("raw", bs))
      }
    }
  }

  /** /BlackIs1 from the image dict's /DecodeParms (single dict or the
    * per-filter array form). */
  private def blackIs1Of(d: Dict): Boolean = {
    def fromDict(p: Dict): Boolean = p.get("/BlackIs1") match {
      case Some(PBool(b)) => b
      case _ => false
    }
    (d.get("/DecodeParms") orElse d.get("/DP")) match {
      case Some(PDict(p)) => fromDict(p)
      case Some(PArray(xs)) => xs.exists { case PDict(p) => fromDict(p); case _ => false }
      case _ => false
    }
  }

  private def expand1Bit(bs: Array[Byte], w: Int, h: Int, blackIs1: Boolean): Array[Byte] = {
    val rowBytes = (w + 7) / 8
    val blackBit = if (blackIs1) 1 else 0
    val out = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val bit = (bs(y * rowBytes + (x >> 3)) >> (7 - (x & 7))) & 1
        out(y * w + x) = if (bit == blackBit) 0 else 0xff.toByte
        x += 1
      }
      y += 1
    }
    out
  }

  private def colorComponents(doc: Document, cs: Option[PObj]): Option[Int] = cs match {
    case Some(PName("/DeviceRGB")) => Some(3)
    case Some(PName("/DeviceGray")) => Some(1)
    case Some(PRef(r)) => doc.findDictByRef(r).flatMap(dd => colorComponents(doc, dd.get("/ColorSpace")))
    case Some(PArray(PName("/DeviceRGB") +: _)) => Some(3)
    case Some(PArray(PName("/DeviceGray") +: _)) => Some(1)
    case _ => None
  }

  /** Minimal PNG: IHDR + zlib IDAT (filter 0 rows) + IEND (Image.hs:198-266). */
  def encodePng(w: Int, h: Int, pixels: Array[Byte], rgb: Boolean): Array[Byte] = {
    val bpp = if (rgb) 3 else 1
    val raw = new Array[Byte](h * (1 + w * bpp))
    var y = 0
    while (y < h) {
      val rowStart = y * (1 + w * bpp)
      raw(rowStart) = 0 // filter: None
      System.arraycopy(pixels, y * w * bpp, raw, rowStart + 1, w * bpp)
      y += 1
    }
    val idat = zlibCompress(raw)
    val out = new scala.collection.mutable.ArrayBuffer[Byte]
    out ++= Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    def be32(v: Int): Array[Byte] =
      Array((v >>> 24).toByte, ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(tag: String, data: Array[Byte]): Unit = {
      out ++= be32(data.length)
      val tagBytes = tag.getBytes("ISO-8859-1")
      out ++= tagBytes
      out ++= data
      val crc = new CRC32()
      crc.update(tagBytes)
      crc.update(data)
      out ++= be32(crc.getValue.toInt)
    }
    val colorType: Byte = if (rgb) 2 else 0
    chunk("IHDR", be32(w) ++ be32(h) ++ Array[Byte](8, colorType, 0, 0, 0))
    chunk("IDAT", idat)
    chunk("IEND", Array.emptyByteArray)
    out.toArray
  }

  private def zlibCompress(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(data)
    d.finish()
    val out = new scala.collection.mutable.ArrayBuffer[Byte]
    val buf = new Array[Byte](65536)
    while (!d.finished()) {
      val n = d.deflate(buf)
      out ++= buf.take(n)
    }
    d.end()
    out.toArray
  }
}
