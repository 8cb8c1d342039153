package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.core._

/** Property-based checks over the pure kernels (raw ScalaCheck generators
  * driven deterministically; the scalatest-plus bridge is not on the
  * classpath). */
class PropertySpec extends AnyFunSuite {

  private val Runs = 200

  private def forAll[A](g: Gen[A])(body: A => Unit): Unit = {
    var seed = Seed(20260816L)
    var i = 0
    while (i < Runs) {
      g.apply(Gen.Parameters.default, seed).foreach(body)
      seed = seed.next
      i += 1
    }
  }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(body: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb)) { case (a, b) => body(a, b) }

  private def forAll[A, B, C](ga: Gen[A], gb: Gen[B], gc: Gen[C])(body: (A, B, C) => Unit): Unit =
    forAll(Gen.zip(ga, gb, gc)) { case (a, b, c) => body(a, b, c) }

  private val smallD = Gen.choose(-1000.0, 1000.0)
  private val matGen = for {
    a <- smallD; b <- smallD; c <- smallD; d <- smallD; e <- smallD; f <- smallD
  } yield Mat(a, b, c, d, e, f)

  test("matrix multiplication is associative (within fp tolerance)") {
    forAll(matGen, matGen, matGen) { (a, b, c) =>
      val l = a.multiply(b).multiply(c)
      val r = a.multiply(b.multiply(c))
      val scale = List(l.a, l.b, l.c, l.d, l.e, l.f).map(math.abs).max max 1.0
      assert(math.abs(l.a - r.a) / scale < 1e-9)
      assert(math.abs(l.f - r.f) / scale < 1e-9)
    }
  }

  test("identity is a two-sided unit") {
    forAll(matGen) { m =>
      assert(m.multiply(Mat.identity) == m && Mat.identity.multiply(m) == m)
    }
  }

  test("RC4 is an involution") {
    val byteArr = Gen.nonEmptyListOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
    forAll(byteArr, byteArr) { (key, data) =>
      assert(Crypt.rc4(key, Crypt.rc4(key, data)).toList == data.toList)
    }
  }

  test("AES object decryption inverts encryption for any payload") {
    val byteArr = Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
    val sec = Security(4, 4, Array.tabulate[Byte](16)(i => (i * 13 + 1).toByte), 16, aes = true)
    forAll(byteArr, Gen.choose(1, 9999)) { (data, objNum) =>
      val key = Crypt.objectKey(sec, objNum, 0)
      val cipher = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
      cipher.init(javax.crypto.Cipher.ENCRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(key, "AES"),
        new javax.crypto.spec.IvParameterSpec(new Array[Byte](16)))
      val ct = new Array[Byte](16) ++ cipher.doFinal(data)
      assert(Crypt.decryptString(sec, objNum, 0, ct).toList == data.toList)
    }
  }

  test("UTF-16BE code splitting round-trips codepoints") {
    val cpGen = Gen.oneOf(
      Gen.choose(0x20, 0xD7FF), Gen.choose(0xE000, 0xFFFD), Gen.choose(0x10000, 0x10FFFF))
    forAll(Gen.listOf(cpGen)) { cps =>
      val bytes = cps.flatMap { cp =>
        new String(Character.toChars(cp)).getBytes("UTF-16BE").map(_ & 0xff).toList
      }
      assert(Interp.unicodeBytesToCodesArr(bytes.toArray).toList == cps)
    }
  }

  // Reference forms of the byte-to-code decoders (the direct transcription
  // of the pattern-matching originals, Unit.hs:1355-1394 and
  // StreamLex.hs:44-54); the interpreter and the legacy extractor run the
  // Array forms, which must agree with these on every input.
  private def sjisRef(bs: List[Int]): List[Int] = bs match {
    case Nil => Nil
    case b :: rest if (b >= 0x81 && b <= 0x9F) || (b >= 0xE0 && b <= 0xFC) =>
      rest match {
        case t :: rs => (b * 256 + t) :: sjisRef(rs)
        case Nil => List(b)
      }
    case b :: rest => b :: sjisRef(rest)
  }

  private def unicodeRef(bs: List[Int]): List[Int] = bs match {
    case a :: b :: rest =>
      val unit = a * 256 + b
      if (unit >= 0xD800 && unit <= 0xDBFF) rest match {
        case c :: d :: rs =>
          val unit2 = c * 256 + d
          if (unit2 >= 0xDC00 && unit2 <= 0xDFFF)
            (0x10000 + ((unit - 0xD800) << 10) + (unit2 - 0xDC00)) :: unicodeRef(rs)
          else unit :: unicodeRef(rest)
        case _ => List(unit)
      }
      else unit :: unicodeRef(rest)
    case _ => Nil
  }

  private def jisRef(bs: List[Int]): List[Int] = bs match {
    case a :: b :: rest => (a * 256 + b) :: jisRef(rest)
    case _ => Nil
  }

  private def hexPairsRef(h: String): List[Int] = {
    val out = List.newBuilder[Int]
    var i = 0
    while (i < h.length) {
      val a = h.charAt(i)
      if (i + 1 < h.length) {
        val b = h.charAt(i + 1)
        if (Lexer.isHexDigit(a) && Lexer.isHexDigit(b))
          out += (Lexer.hexVal(a) << 4) | Lexer.hexVal(b)
        i += 2
      } else {
        if (Lexer.isHexDigit(a)) out += Lexer.hexVal(a) << 4
        i += 1
      }
    }
    out.result()
  }

  test("byte-to-code decoders agree with their reference forms") {
    // bytes weighted towards surrogate halves and SJIS lead bytes, with a
    // tail that ends the input on a lone high surrogate, a high surrogate
    // missing its low half, an SJIS lead byte or an odd byte
    val byte = Gen.frequency(
      3 -> Gen.choose(0x00, 0xFF), 1 -> Gen.choose(0xD8, 0xDB), 1 -> Gen.choose(0xDC, 0xDF),
      1 -> Gen.choose(0x81, 0x9F), 1 -> Gen.choose(0xE0, 0xFC))
    val tail = Gen.oneOf(List(Nil, List(0xD8), List(0xD8, 0x3D), List(0xD8, 0x3D, 0xDE),
      List(0xD8, 0x3D, 0x00, 0x41), List(0x88), List(0xFC), List(0x41)))
    val fixed = List(Nil, List(0x41), List(0xD8, 0x00), List(0xDB, 0xFF, 0xDC),
      List(0xD8, 0x00, 0xD8, 0x00), List(0x41, 0x88), List(0x88, 0x9F, 0xE0))
    def check(bs: List[Int]): Unit = {
      val arr = bs.toArray
      assert(Interp.sjisBytesToCodesArr(arr).toList == sjisRef(bs), bs)
      assert(Interp.unicodeBytesToCodesArr(arr).toList == unicodeRef(bs), bs)
      assert(Interp.jisBytesToCodesArr(arr).toList == jisRef(bs), bs)
    }
    fixed.foreach(check)
    forAll(Gen.listOf(byte), tail)((body, t) => check(body ++ t))
    val hexChar = Gen.oneOf("0123456789abcdefABCDEF xz\n".toSeq)
    for (h <- Seq("", "a", "4", "41a", "4 1", "g1", "0aF"))
      assert(Interp.hexPairsArr(h).toList == hexPairsRef(h), h)
    forAll(Gen.listOf(hexChar).map(_.mkString))(h =>
      assert(Interp.hexPairsArr(h).toList == hexPairsRef(h), h))
  }

  test("flate deflate/inflate round-trips") {
    val byteArr = Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
    forAll(byteArr) { data =>
      assert(Filters.inflate(Filters.deflate(data)).toList == data.toList)
    }
  }

  test("reading order sort is a permutation and deterministic") {
    val lineGen = for {
      bl <- Gen.choose(0.0, 800.0)
      x <- Gen.choose(0.0, 600.0)
      t <- Gen.alphaStr
    } yield Line(bl, x, x + 10, 10, x, 0, t, Nil, lastSuper = false)
    forAll(Gen.listOf(lineGen)) { ls =>
      val sorted = Layout.sortLinesByReadingOrder(ls)
      assert(sorted.length == ls.length)
      assert(sorted.sortBy(l => (l.baseline, l.inlineStart, l.text)) ==
        ls.sortBy(l => (l.baseline, l.inlineStart, l.text)))
      assert(Layout.sortLinesByReadingOrder(ls) == sorted)
    }
  }

  test("diff of identical paragraph lists is empty; deletions count bounded") {
    forAll(Gen.listOf(Gen.alphaStr)) { ps =>
      assert(Diff.diffParagraphs(ps, ps).isEmpty)
    }
    forAll(Gen.listOf(Gen.alphaStr), Gen.listOf(Gen.alphaStr)) { (a, b) =>
      val changes = Diff.diffParagraphs(a, b)
      assert(changes.length <= a.length + b.length)
    }
  }

  test("html entity decoding never throws and preserves plain text") {
    forAll(Gen.asciiPrintableStr) { s =>
      val noAmp = s.filter(_ != '&')
      assert(Html.decodeEntities(noAmp) == noAmp)
      Html.decodeEntities(s) // total
    }
  }

  test("Kmv.bulkAdd is equivalent to repeated add for any batch") {
    import graft.spark.Kmv
    val itemsGen = Gen.listOf(Gen.chooseNum(0, 5000).map(n => s"item-$n"))
    forAll(itemsGen, itemsGen) { (existing, batch) =>
      var viaAdd = Array.emptyLongArray
      for (it <- existing) viaAdd = Kmv.addItem(viaAdd, it)
      val state = viaAdd
      for (it <- batch) viaAdd = Kmv.addItem(viaAdd, it)
      val viaBulk = Kmv.bulkAdd(state, batch.map(Kmv.hash).toArray)
      assert(viaBulk.toList == viaAdd.toList,
        s"bulkAdd diverged (existing=${existing.length}, batch=${batch.length})")
    }
  }

  test("CCITT G4 encode/decode round-trips arbitrary bitmaps") {
    val bmGen = for {
      w <- Gen.chooseNum(1, 90)
      h <- Gen.chooseNum(1, 20)
      cells <- Gen.listOfN(w * h, Gen.oneOf(true, false))
    } yield (w, h, cells.grouped(w).map(_.toArray).toArray)
    forAll(bmGen) { case (w, h, bm) =>
      val dec = Ccitt.decodeG4(Ccitt.encodeG4(bm, w), w, h,
        blackIs1 = true, byteAlign = false)
      assert(dec.isRight, s"${w}x$h failed: $dec")
      val rowBytes = (w + 7) / 8
      val expected = bm.toList.flatMap { row =>
        val bs = new Array[Byte](rowBytes)
        for (x <- 0 until w if row(x))
          bs(x >> 3) = (bs(x >> 3) | (1 << (7 - (x & 7)))).toByte
        bs.toList
      }
      assert(dec.toOption.get.toList == expected, s"${w}x$h pixel mismatch")
    }
  }

  test("AVI demux is total over arbitrary bytes and mutated real containers") {
    val junk = Gen.chooseNum(0, 300).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray))
    forAll(junk)(bs => graft.spark.Surfaces.demuxAvi(bs)) // must not throw
    val good = graft.spark.FixtureGen.mediaAvi(5L).bytes
    val mut = Gen.zip(Gen.chooseNum(0, good.length - 1), Gen.chooseNum(-128, 127))
    forAll(mut) { case (pos, v) =>
      val m = good.clone(); m(pos) = v.toByte
      graft.spark.Surfaces.demuxAvi(m) // single-byte corruption: no throw
    }
  }
}
