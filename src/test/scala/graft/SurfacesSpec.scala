package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.core._
import graft.spark.{CorpusGen, FixtureGen, LocalFileSystem, Pipeline, Surfaces}

/** Tests for the diff / images / outlines / multimodal / streaming query
  * surfaces and the embedded-font fallbacks. */
class SurfacesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("surfaces-spec")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** `body` over a new temp directory named `prefix`..., which is deleted
    * afterwards. */
  private def withTempDir[T](prefix: String)(body: java.nio.file.Path => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir) finally LocalFileSystem.deleteTree(dir.toFile)
  }

  test("toc: outline tree flattens with depths and titles") {
    val d = FixtureGen.outlined(7)
    val doc = DocStructure.openDocument(d.bytes, None).toOption.get
    val toc = Metadata.toc(doc)
    assert(toc.map(e => (e.depth, e.title)) == List(
      (0, "Chapter One 7"), (1, "Section One One"), (0, "Chapter Two")))
  }

  test("image extraction: jpeg passthrough with placement bbox") {
    val d = FixtureGen.jpegImage(3)
    val doc = DocStructure.openDocument(d.bytes, None).toOption.get
    val images = Images.extractPageImages(doc, 1).toOption.get
    assert(images.length == 1)
    val im = images.head
    assert(im.format == "jpeg")
    assert(im.bbox == Rect(72, 600, 172, 650))
    assert((im.bytes(0) & 0xff) == 0xff && (im.bytes(1) & 0xff) == 0xd8)
  }

  test("image hits recurse into nested forms") {
    // image placed inside Fm1 which is inside Fm0 (reference
    // form-nested-image fixture shape)
    import java.nio.charset.StandardCharsets.ISO_8859_1
    def bb(x: String) = x.getBytes(ISO_8859_1)
    val jpeg = new String(Array(0xff, 0xd8, 0xff, 0xe0).map(_.toByte), ISO_8859_1) + "fake"
    val inner = "q 50 0 0 25 10 10 cm /Im1 Do Q\n"
    val outer = "q /Fm1 Do Q\n"
    val content = "q 1 0 0 1 100 500 cm /Fm0 Do Q\n"
    val out = new scala.collection.mutable.ArrayBuffer[Byte]
    out ++= bb("%PDF-1.5\n")
    val offs = scala.collection.mutable.Map[Int, Int]()
    def obj(n: Int, body: String): Unit = {
      offs(n) = out.length
      out ++= bb(s"$n 0 obj\n$body\nendobj\n")
    }
    obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Resources << /XObject << /Fm0 6 0 R >> >> /Contents 4 0 R >>")
    obj(4, s"<< /Length ${content.length} >>\nstream\n$content\nendstream")
    obj(5, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    obj(6, s"<< /Type /XObject /Subtype /Form /BBox [0 0 200 100] /Resources << /XObject << /Fm1 7 0 R >> >> /Length ${outer.length} >>\nstream\n$outer\nendstream")
    obj(7, s"<< /Type /XObject /Subtype /Form /BBox [0 0 100 50] /Resources << /XObject << /Im1 8 0 R >> >> /Length ${inner.length} >>\nstream\n$inner\nendstream")
    obj(8, s"<< /Type /XObject /Subtype /Image /Width 2 /Height 2 /ColorSpace /DeviceGray /BitsPerComponent 8 /Filter /DCTDecode /Length ${jpeg.length} >>\nstream\n$jpeg\nendstream")
    val xrefAt = out.length
    out ++= bb("xref\n0 9\n0000000000 65535 f \n")
    for (n <- 1 to 8) out ++= bb(f"${offs(n)}%010d 00000 n \n")
    out ++= bb(s"trailer\n<< /Size 9 /Root 1 0 R >>\nstartxref\n$xrefAt\n%%EOF\n")
    val doc = DocStructure.openDocument(out.toArray, None).toOption.get
    val images = Images.extractPageImages(doc, 1).toOption.get
    assert(images.length == 1)
    assert(images.head.format == "jpeg")
    // bbox = unit square under inner cm (50x25 at 10,10) shifted by page cm (100,500)
    assert(images.head.bbox == Rect(110, 510, 160, 535))
  }

  test("png encoding for raw rgb image data") {
    val pixels = Array.tabulate[Byte](2 * 2 * 3)(i => (i * 10).toByte)
    val png = Images.encodePng(2, 2, pixels, rgb = true)
    assert(png.take(8).map(_ & 0xff).toList == List(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a))
    // decodes with the JDK reader
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth == 2 && img.getHeight == 2)
  }

  test("diffParagraphs: LCS with replace merge") {
    val a = List("one", "two", "three")
    val b = List("one", "TWO", "three", "four")
    val changes = Diff.diffParagraphs(a, b)
    assert(changes == List(
      Diff.TextChange(None, None, Some(1), Some(1), "two", "TWO"),
      Diff.TextChange(None, None, None, Some(3), "", "four")))
  }

  test("diff surface: variant corpus produces changes per url") {
    val a = CorpusGen.corpus(spark, rows = 11, partitions = 2)
    val b = CorpusGen.variantCorpus(spark, rows = 11, partitions = 2)
    val diffs = Surfaces.diffDocuments(spark, CorpusGen.inputView(a), CorpusGen.inputView(b)).toDF()
    // every PDF kind embeds its index in the text, so each pdf url differs
    val urls = diffs.select("url").distinct().count()
    assert(urls >= 7) // 9 pdf kinds in 11 rows; html/textrow not diffed
    val one = diffs.filter(col("url").contains("/classic/0")).collect()
    assert(one.length == 1)
    assert(one.head.getAs[String]("oldText").contains("Classic document 0"))
    assert(one.head.getAs[String]("newText").contains("Classic document 1100"))
  }

  test("binary features: deterministic stub decode over binary column") {
    val c = CorpusGen.corpus(spark, rows = 22, partitions = 2)
    val feats = Surfaces.binaryFeatures(spark, CorpusGen.inputView(c)).toDF().collect()
    assert(feats.length == 22)
    val kinds = feats.map(_.getAs[String]("kind")).toSet
    assert(kinds.contains("pdf") && kinds.contains("html"))
    assert(feats.forall(r => r.getAs[Seq[Float]]("featureVec").length == 16))
  }

  test("real image decode: ImageIO round-trips authored JPEG/PNG payloads") {
    val c = CorpusGen.mediaCorpus(spark, rows = 18, partitions = 2)
    val decoded = Surfaces.decodeImages(spark, c.select(col("url"), col("html"))).toDF()
    val joined = decoded.join(
      c.select(col("url"), col("kind"), col("ok").as("exp_ok"),
        col("width").as("exp_w"), col("height").as("exp_h"), col("pixel_md5")),
      Seq("url")).collect()
    assert(joined.length == 18)
    for (r <- joined) {
      val kind = r.getAs[String]("kind")
      assert(r.getAs[Boolean]("ok") == r.getAs[Boolean]("exp_ok"), kind)
      if (kind != "media_bin") {
        assert(r.getAs[Int]("width") == r.getAs[Int]("exp_w"), kind)
        assert(r.getAs[Int]("height") == r.getAs[Int]("exp_h"), kind)
        assert(r.getAs[Long]("meanLumaMilli") >= 0, kind)
      }
      if (kind == "media_png") // lossless: decoded pixels == authored pixels
        assert(r.getAs[String]("pixelMd5") == r.getAs[String]("pixel_md5"))
    }
  }

  test("image decode-bomb guard: giant declared dimensions are rejected cheaply") {
    // minimal PNG whose IHDR declares 60000x60000 (would be ~3.6G pixels)
    def be32(v: Int) = Array((v >>> 24).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val ihdrData = be32(60000) ++ be32(60000) ++ Array[Byte](8, 0, 0, 0, 0)
    val crc = new java.util.zip.CRC32()
    crc.update("IHDR".getBytes); crc.update(ihdrData)
    val bomb = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      be32(13) ++ "IHDR".getBytes ++ ihdrData ++ be32(crc.getValue.toInt)
    val sp = spark
    import sp.implicits._
    val input = Seq(("bomb://png", bomb)).toDF("url", "html")
    val t0 = System.nanoTime()
    val rows = Surfaces.decodeImages(spark, input).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(rows.length == 1 && !rows.head.ok && rows.head.width == -1)
    assert(secs < 30, s"bomb guard too slow: $secs s") // header peek, not a decode
  }

  test("image resize: nearest-neighbor pixels match an independent computation") {
    val c = CorpusGen.mediaCorpus(spark, rows = 18, partitions = 2)
    val rows = Surfaces.resizeImages(spark, c.select(col("url"), col("html")))
      .toDF().collect().map(r => r.getAs[String]("url") -> r).toMap
    var pngChecked = 0
    for (i <- 0 until 18 if i % 3 == 1) { // media_png rows
      val m = FixtureGen.mediaPng(i.toLong)
      val r = rows(s"https://media.test/media_png/$i")
      assert(r.getAs[Boolean]("ok"))
      val (w, h) = (m.width, m.height)
      val maxSide = math.max(w, h)
      val (ow, oh) =
        if (maxSide <= 12) (w, h)
        else (math.max(1, w * 12 / maxSide), math.max(1, h * 12 / maxSide))
      assert(r.getAs[Int]("outWidth") == ow && r.getAs[Int]("outHeight") == oh)
      // independent NN resample over the AUTHORED gray pixels
      val out = Array.tabulate[Byte](ow * oh) { k =>
        val x = k % ow
        val y = k / ow
        m.pixels((y * h / oh) * w + (x * w / ow))
      }
      val md5 = java.security.MessageDigest.getInstance("MD5").digest(out)
        .map(b => f"${b & 0xff}%02x").mkString
      assert(r.getAs[String]("pixelMd5") == md5, s"png $i pixel mismatch")
      pngChecked += 1
    }
    assert(pngChecked == 6)
  }

  test("real audio decode: PCM round-trips authored WAV payloads exactly") {
    val c = CorpusGen.audioCorpus(spark, rows = 15, partitions = 2)
    val decoded = Surfaces.decodeAudio(spark, c.select(col("url"), col("html"))).toDF()
    val joined = decoded.join(
      c.select(col("url"), col("kind"), col("ok").as("exp_ok"),
        col("sample_rate"), col("channels").as("exp_ch"),
        col("n_samples").as("exp_n"), col("sample_md5")),
      Seq("url")).collect()
    assert(joined.length == 15)
    for (r <- joined) {
      val kind = r.getAs[String]("kind")
      assert(r.getAs[Boolean]("ok") == r.getAs[Boolean]("exp_ok"), kind)
      if (kind == "audio_wav") {
        assert(r.getAs[Int]("sampleRate") == r.getAs[Int]("sample_rate"))
        assert(r.getAs[Int]("channels") == r.getAs[Int]("exp_ch"))
        assert(r.getAs[Int]("bits") == 16)
        assert(r.getAs[Int]("nSamples") == r.getAs[Int]("exp_n"))
        // lossless: decoded PCM bytes == authored PCM bytes
        assert(r.getAs[String]("sampleMd5") == r.getAs[String]("sample_md5"))
        assert(r.getAs[Long]("rmsMilli") > 0)
      }
    }
  }

  test("real video decode: AVI demux returns authored MJPEG frames verbatim") {
    val c = CorpusGen.videoCorpus(spark, rows = 15, partitions = 2)
    val frames = Surfaces.decodeVideoFrames(spark, c.select(col("url"), col("html")))
      .toDF().collect()
    val byUrl = frames.groupBy(_.getAs[String]("url"))
    var videosChecked = 0
    for (i <- 0 until 15) {
      if (i % 3 == 2) {
        val rows = byUrl(s"https://media.test/video_bin/$i")
        assert(rows.length == 1 && !rows.head.getAs[Boolean]("decodeOk"))
        assert(rows.head.getAs[Int]("frameIdx") == -1)
      } else {
        val v = FixtureGen.mediaAvi(i.toLong)
        val rows = byUrl(s"https://media.test/video_avi/$i").sortBy(_.getAs[Int]("frameIdx"))
        assert(rows.length == v.nFrames, s"video $i frame count")
        for ((r, f) <- rows.zipWithIndex) {
          assert(r.getAs[Int]("frameIdx") == f)
          assert(r.getAs[Int]("fps") == v.fps)
          assert(r.getAs[Int]("width") == v.width && r.getAs[Int]("height") == v.height)
          // demux is lossless: extracted frame bytes == authored JPEG bytes
          val md5 = java.security.MessageDigest.getInstance("MD5").digest(v.frames(f))
            .map(b => f"${b & 0xff}%02x").mkString
          assert(r.getAs[String]("frameMd5") == md5, s"video $i frame $f bytes")
          // the decoded frame must recover the authored dimensions
          assert(r.getAs[Boolean]("decodeOk"))
          assert(r.getAs[Int]("decodedW") == v.width && r.getAs[Int]("decodedH") == v.height)
        }
        videosChecked += 1
      }
    }
    assert(videosChecked == 10)
  }

  test("video demux is total: truncated/corrupt AVI payloads yield ok=false rows") {
    val sp = spark
    import sp.implicits._
    val good = FixtureGen.mediaAvi(3L).bytes
    val rnd = new scala.util.Random(7)
    val inputs = Seq(
      "trunc://hdr" -> good.take(20),
      "trunc://movi" -> good.take(good.length / 2),
      "corrupt://size" -> { val b = good.clone(); b(4) = -1; b(5) = -1; b(6) = -1; b(7) = 127; b },
      "corrupt://rand" -> Array.fill[Byte](512)(rnd.nextInt(256).toByte),
      "empty://" -> Array.emptyByteArray)
    val out = Surfaces.decodeVideoFrames(spark, inputs.toDF("url", "html")).collect()
    // no throw; every payload either demuxes or reports one ok=false row
    assert(out.nonEmpty)
    for (r <- out if r.url.startsWith("trunc://hdr") || r.url.startsWith("corrupt://rand") ||
        r.url.startsWith("empty://"))
      assert(!r.decodeOk && r.frameIdx == -1, r.url)
  }

  test("frame sampling emits typed rows with stub features") {
    val c = CorpusGen.corpus(spark, rows = 12, partitions = 2)
    val frames = Surfaces.sampleFrames(spark, CorpusGen.inputView(c)).toDF().collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.getAs[Seq[Float]]("featureVec").length == 8))
    assert(frames.forall(r => r.getAs[Int]("width") >= 16 && r.getAs[Int]("height") >= 16))
  }

  test("streaming extraction matches batch results") {
    withTempDir("stream_test") { dirPath =>
      val dir = dirPath.toString
      val corpus = CorpusGen.corpus(spark, rows = 22, partitions = 2).cache()
      CorpusGen.inputView(corpus).write.mode("overwrite").parquet(dir)
      val streamed = Surfaces.streamingExtract(spark, dir)
      val joined = streamed.join(corpus.select("url", "expected"), Seq("url"))
      assert(joined.count() == 22)
      assert(joined.filter(col("text") === col("expected")).count() == 22)
    }
  }

  test("stateful streaming: windowed counts + keyed sessions over events") {
    val dir = "/root/testdata/sf0.001"
    val win = graft.spark.Streaming.windowedEventCounts(spark, s"$dir/events.parquet")
    // Append mode emits exactly the windows the final watermark
    // (max event ts - 10 min) has passed; trailing windows stay in state.
    val events = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    val maxTs = events.agg(org.apache.spark.sql.functions.max("ts")).collect()(0).getTimestamp(0)
    val wm = new java.sql.Timestamp(maxTs.getTime - 10 * 60 * 1000)
    val batch = events
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 hour"), col("event_type"))
      .count()
      .filter(col("window.end") <= lit(wm))
    assert(win.count() == batch.count(), s"win=${win.count()} batch=${batch.count()}")
    assert(win.count() > 0)
    val (sess, progress) = streamed(graft.spark.Streaming.userSessions(spark, s"$dir/events.parquet"))
    val users = spark.read.parquet(s"$dir/events.parquet").select("user_id").distinct().count()
    assert(sess.select("user_id").distinct().count() == users)
    // sessions split on >30-min event-time gaps: (user, firstTs) identifies
    // a session, its max(events) row is the complete session — their sum
    // must account for every event exactly once
    val perSession = sess.groupBy("user_id", "firstTs")
      .agg(org.apache.spark.sql.functions.max("events").as("n"))
    assert(perSession.count() > users, "gap splitting must create multiple sessions per user")
    val ev = perSession.agg(org.apache.spark.sql.functions.sum("n")).collect()(0).getLong(0)
    assert(ev == spark.read.parquet(s"$dir/events.parquet").count())
    // bounded keys: the watermark (max ts - 10 min) passed last_ts + gap for
    // expired users -> their state was dropped; only active keys remain
    val wmMs = maxTs.getTime - 10 * 60 * 1000
    val lastPerUser = events.groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("ts").as("last_ts")).collect()
    val gap = graft.spark.Streaming.SessionGapMs
    val surviveLt = lastPerUser.count(_.getTimestamp(1).getTime + gap >= wmMs)
    val surviveLe = lastPerUser.count(_.getTimestamp(1).getTime + gap > wmMs)
    val stateRows = lastStateOperator(progress).fold(-1L)(_.numRowsTotal)
    assert(stateRows >= 0, "no state-operator progress captured")
    assert(stateRows < users, s"no key was evicted (state=$stateRows users=$users)")
    assert(stateRows == surviveLt || stateRows == surviveLe,
      s"state=$stateRows expected $surviveLe..$surviveLt of $users users")
    // and evicted users still carry their COMPLETE session in the output
    // (the final row was emitted at timeout before the state dropped)
    assert(sess.select("user_id").distinct().count() == users)
  }

  test("multi-batch sessions: stale-firstTs snapshots are dropped, not phantom sessions") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.sql.Timestamp
    withTempDir("sess_mb") { dirPath =>
      val dir = dirPath.toString
      def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
      val sp = spark; import sp.implicits._
      // batch A: user 1 session in progress (60, 65); user 2 a closed session
      // (0, 10) and a fresh one (64). Watermark after A = 65 - 10 = min 55.
      val fileA = Seq((1L, ts(60), "view"), (1L, ts(65), "click"),
        (2L, ts(0), "view"), (2L, ts(10), "view"), (2L, ts(64), "click"))
        .toDF("user_id", "ts", "event_type")
      // batch B delivers a user-1 event EARLIER than the session's current
      // firstTs but inside the watermark (58 >= 55): the session's firstTs
      // moves back, stranding batch A's snapshot under the stale key
      val fileB = Seq((1L, ts(58), "buy")).toDF("user_id", "ts", "event_type")
      def addFile(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
        withTempDir("sess_part") { tmp =>
          df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val st = Files.list(tmp)
          val part = try st.filter(p => p.getFileName.toString.endsWith(".parquet"))
            .findFirst().get() finally st.close()
          val dst = Paths.get(dir, name)
          Files.copy(part, dst, StandardCopyOption.REPLACE_EXISTING)
          dst.toFile.setLastModified(mtime)
        }
      }
      addFile(fileA, "a.parquet", 1000000000L)
      addFile(fileB, "b.parquet", 2000000000L)
      val raw = graft.spark.Streaming.userSessions(spark, dir, maxFilesPerTrigger = Some(1))
      // the raw Append stream really does hold a stale-firstTs snapshot for
      // user 1 (the scenario under test)…
      assert(raw.select("user_id", "firstTs").distinct()
        .filter(col("user_id") === 1L).count() == 2,
        "expected a stale-firstTs snapshot — the phantom path was not exercised")
      // …and finalizedSessions collapses to the true event-time session set
      val fin = graft.spark.Streaming.finalizedSessions(raw)
        .orderBy("user_id", "first_ts").collect()
      assert(fin.length == 3, fin.mkString("\n"))
      val u1 = fin.filter(_.getLong(0) == 1L)
      assert(u1.length == 1 && u1.head.getTimestamp(1) == ts(58)
        && u1.head.getLong(2) == 3L, u1.mkString("\n"))
      assert(fin.filter(_.getLong(0) == 2L).map(_.getLong(2)).toSeq == Seq(2L, 1L))
    }
  }

  test("property: session output is file-order invariant and equals the batch oracle (6 seeds)") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.sql.Timestamp
    val sp = spark; import sp.implicits._
    val base = 1700000000000L
    def ts(min: Double) = new Timestamp(base + (min * 60000).toLong)
    // timeline of 4-minute blocks, events within the first 3 minutes of a
    // block: an ADJACENT file inversion makes an event at most
    // stride + span = 7 minutes late — inside the 10-minute watermark, so
    // no permutation below can drop events and the session set stays a
    // pure function of event times (displacement 2 could reach 11 minutes
    // and make the oracle batch-dependent, so only adjacent swaps are
    // generated)
    val types = Array("view", "click", "buy")
    val userBlocks: Map[Long, Seq[Int]] = Map(
      1L -> Seq(0, 1, 2, 3, 12, 13, 14),
      2L -> Seq(1, 3, 15, 16),
      3L -> Seq(0, 2, 3, 13, 17),
      4L -> Seq(2, 12, 19))
    val events: Seq[(Long, Timestamp, String)] = (for {
      (u, blocks) <- userBlocks.toSeq
      b <- blocks
      k <- 0 until (1 + ((u + b) % 2)).toInt
    } yield (u, ts(b * 4 + k * 1.5 + (u % 3) * 0.25), types(((u + b + k) % 3).toInt)))
      .sortBy(e => (e._1, e._2.getTime))
    // batch oracle: per-user gap clustering (> 30 min splits) over ALL
    // events — what finalizedSessions must emit for EVERY arrival order
    val oracle: Seq[(Long, Long, Long, Long, Int)] = userBlocks.keys.toSeq.sorted.flatMap { u =>
      val times = events.filter(_._1 == u)
      val sessions = scala.collection.mutable.ListBuffer[Seq[(Long, Timestamp, String)]]()
      var cur = scala.collection.mutable.ListBuffer[(Long, Timestamp, String)]()
      for (e <- times) {
        if (cur.nonEmpty && e._2.getTime - cur.last._2.getTime > graft.spark.Streaming.SessionGapMs) {
          sessions += cur.toList; cur = scala.collection.mutable.ListBuffer()
        }
        cur += e
      }
      if (cur.nonEmpty) sessions += cur.toList
      sessions.map(s => (u, s.head._2.getTime, s.length.toLong, s.last._2.getTime,
        s.map(_._3).distinct.length)).toList
    }
    def addFile(dir: String, rows: Seq[(Long, Timestamp, String)], name: String, mtime: Long): Unit = {
      withTempDir("sess_prop_part") { tmp =>
        rows.toDF("user_id", "ts", "event_type").coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
        val st = Files.list(tmp)
        val part = try st.filter(p => p.getFileName.toString.endsWith(".parquet"))
          .findFirst().get() finally st.close()
        Files.copy(part, Paths.get(dir, name), StandardCopyOption.REPLACE_EXISTING)
        Paths.get(dir, name).toFile.setLastModified(mtime)
      }
    }
    val fileBlocks: Seq[Seq[(Long, Timestamp, String)]] = (0 until 20)
      .map(j => events.filter(e => ((e._2.getTime - base) / 60000 / 4).toInt == j))
      .filter(_.nonEmpty)
    var staleSeeds = 0
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      // non-overlapping adjacent transpositions: displacement <= 1.
      // Files on opposite sides of the 33-minute session gap must not
      // swap (the late side would fall past the watermark and the
      // dropped events would make the oracle batch-dependent).
      def startMs(j: Int) = fileBlocks(j).map(_._2.getTime).min
      val perm = fileBlocks.indices.toArray
      var i = 0
      while (i < perm.length - 1) {
        if (rnd.nextBoolean() && startMs(perm(i + 1)) - startMs(perm(i)) <= 5 * 60000L) {
          val t = perm(i); perm(i) = perm(i + 1); perm(i + 1) = t; i += 2
        } else i += 1
      }
      withTempDir(s"sess_prop_$seed") { dirPath =>
        val dir = dirPath.toString
        for ((fileIdx, pos) <- perm.zipWithIndex)
          addFile(dir, fileBlocks(fileIdx), f"f$pos%03d.parquet", 1000000000L + pos * 1000L)
        val raw = graft.spark.Streaming.userSessions(spark, dir, maxFilesPerTrigger = Some(1))
        if (raw.select("user_id", "firstTs").distinct().count() > oracle.length) staleSeeds += 1
        val fin = graft.spark.Streaming.finalizedSessions(raw)
          .orderBy("user_id", "first_ts").collect()
          .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2),
            r.getTimestamp(3).getTime, r.getInt(4)))
        assert(fin.toSeq == oracle,
          s"seed $seed perm ${perm.mkString(",")}:\n${fin.mkString("\n")}\nvs\n${oracle.mkString("\n")}")
      }
    }
    // the property must not be vacuous: at least one order actually
    // produced a stale-firstTs snapshot for finalizedSessions to drop
    assert(staleSeeds > 0, "no permutation exercised the phantom path")
  }

  test("sessions run identically on the RocksDB state store (cluster config)") {
    // BENCH/BASELINE.md documents RocksDBStateStoreProvider as the cluster
    // deployment's state backend; prove the config actually works in this
    // build: same session set as the default HDFS-backed store. A child
    // session carries the conf so the suite's other streams are untouched.
    val ss = spark.newSession()
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val dir = "/root/testdata/sf0.001"
    val (rocksRaw, progress) = streamed(graft.spark.Streaming.userSessions(ss, s"$dir/events.parquet"))
    val rocks = graft.spark.Streaming.finalizedSessions(rocksRaw)
      .orderBy("user_id", "first_ts").collect()
    // hard engagement proof: the run's state operator reported rocksdb*
    // custom metrics — the provider actually served the stream, the conf
    // didn't just sit unread
    import scala.jdk.CollectionConverters._
    val metrics = lastStateOperator(progress).fold(Set.empty[String])(_.customMetrics.keySet.asScala.toSet)
    assert(metrics.exists(_.startsWith("rocksdb")), s"no rocksdb metrics: $metrics")
    val base = graft.spark.Streaming.finalizedSessions(
      graft.spark.Streaming.userSessions(spark, s"$dir/events.parquet"))
      .orderBy("user_id", "first_ts").collect()
    assert(rocks.length == base.length && rocks.sameElements(base),
      s"rocks=${rocks.length} base=${base.length}")
    assert(rocks.nonEmpty)
  }

  test("s5 k-means IVF: trained search is deterministic and training moves the codebook") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.spark.Queries.queries("s5_ivf_kmeans")(spark, dir).collect()
    // 10 probes x top-3 inside nprobe=2 trained cells
    assert(out.length == 30, out.length)
    for (r <- out) {
      assert(r.getInt(3) >= 1 && r.getInt(3) <= 3, r)      // rank
      assert(math.abs(r.getDouble(4)) <= 1.0 + 1e-9, r)    // cosine
      assert(r.getLong(2) >= 0 && r.getLong(2) < 8, r)     // cell in 0..K-1
    }
    // Lloyd is deterministic: a second full run (fresh plan, fresh
    // shuffles) must produce the identical rows — the property that makes
    // the DuckDB replay an oracle at all
    val again = graft.spark.Queries.queries("s5_ivf_kmeans")(spark, dir).collect()
    assert(out.sameElements(again))
    // training must actually train: the k-means objective (sum of each
    // vector's distance to its assigned centroid) is non-increasing per
    // Lloyd round and strictly better than the raw init codebook after 3
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("emb"))
    def objective(iters: Int): Double =
      graft.spark.Queries.kmeansAssign(e, graft.spark.Queries.kmeansCentroids(e, iters))
        .filter(col("crank") === 1)
        .agg(sum(col("cdist"))).collect()(0).getDouble(0)
    val objs = (0 to 3).map(objective)
    assert(objs.sliding(2).forall(p => p(1) <= p(0) + 1e-9), objs)
    assert(objs(3) < objs(0), objs) // moved, not a fixed point of the init
  }

  test("t12 trained quality probe: learns above base rate, deterministic") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.spark.Queries.queries("t12_trained_quality")(spark, dir).collect()
    assert(out.length == 500)
    val acc = out.count(r => r.getBoolean(2) == (r.getInt(3) == 1)).toDouble / out.length
    val base = math.max(out.count(_.getInt(3) == 1), out.count(_.getInt(3) == 0))
      .toDouble / out.length
    // 3 GD steps must beat always-predict-majority — the training
    // actually trained (not a fixed point of w=0)
    assert(acc > base + 0.05, s"acc=$acc base=$base")
    // and be a pure function of the data (fresh plan, fresh shuffles)
    val again = graft.spark.Queries.queries("t12_trained_quality")(spark, dir).collect()
    assert(out.sameElements(again))
  }

  test("sequence packing invariants: capacity, completeness, offsets") {
    val out = graft.spark.Queries.queries("c6_sequence_pack")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    // every chunk the chunker emits is packed exactly once
    val chunks = graft.spark.Queries.queries("c3_greedy_chunks")(spark, "/root/testdata/sf0.001")
      .select("url", "chunk").collect().map(r => (r.getString(0), r.getInt(1)))
    val packed = out.map(r => (r.getString(2), r.getInt(3)))
    assert(packed.toSet == chunks.toSet && packed.length == chunks.length)
    // per (shard, seq): token sum <= capacity unless a single oversize
    // chunk; offsets are the exclusive running sum in (url, chunk) order
    for (((_, _), rs) <- out.groupBy(r => (r.getInt(0), r.getInt(1)))) {
      val sorted = rs.sortBy(r => (r.getString(2), r.getInt(3)))
      val total = sorted.map(_.getLong(5)).sum
      assert(total <= 32 || sorted.length == 1, sorted.mkString("; "))
      var acc = 0L
      for (r <- sorted) {
        assert(r.getLong(4) == acc, r)
        acc += r.getLong(5)
      }
    }
    // sequence ids are consecutive from 0 within each shard
    for ((_, rs) <- out.groupBy(_.getInt(0))) {
      val seqs: Seq[Int] = rs.map(_.getInt(1)).distinct.sorted.toSeq
      assert(seqs == seqs.indices.toList, seqs.mkString(","))
    }
  }

  test("greedy chunking invariants: budget respected, concatenation lossless") {
    val out = graft.spark.Queries.queries("c3_greedy_chunks")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    // every chunk fits the budget unless it is a single oversize paragraph
    for (r <- out)
      assert(r.getLong(3) <= 8 || r.getInt(2) == 1, r)
    // concatenating each url's chunks in order reproduces the exact
    // paragraph stream the region extractor emits — chunking never drops,
    // duplicates or reorders content
    val byUrl = out.groupBy(_.getString(0)).map { case (u, rs) =>
      u -> rs.sortBy(_.getInt(1)).map(_.getString(4)).mkString("\n\n")
    }
    val c = CorpusGen.corpus(spark, rows = 180, partitions = 8)
    val regions = Pipeline.extractRegions(spark, CorpusGen.inputView(c)).collect()
    val expect = regions.groupBy(_.url).map { case (u, rs) =>
      u -> rs.sortBy(r => (r.page, r.para)).map(_.text).mkString("\n\n")
    }
    assert(byUrl == expect)
  }

  test("audio decode: a frame-size lie (blockAlign 0) is rejected, never a spin") {
    // AudioInputStream.read returns 0 (not -1) when the effective frame
    // size is 0 or exceeds the read buffer; readAllBytes loops forever on
    // those zero-byte reads (found by the media fuzz campaign). The
    // bounded reader must yield ok=false instead.
    for (patch <- Seq[(String, Array[Byte] => Unit)](
        ("channels=0", w => { w(22) = 0; w(23) = 0 }),
        ("channels=0xFFFF", w => { w(22) = -1; w(23) = -1 }),
        ("bits=0", w => { w(34) = 0; w(35) = 0 }))) {
      val w = graft.spark.FixtureGen.mediaWav(3).bytes.clone()
      patch._2(w)
      val r = graft.spark.Surfaces.decodeAudioRow("u", w)
      assert(!r.ok, patch._1)
    }
    // and the untouched payload still decodes exactly
    val good = graft.spark.FixtureGen.mediaWav(3)
    val g = graft.spark.Surfaces.decodeAudioRow("u", good.bytes)
    assert(g.ok && g.nSamples == good.nSamples)
  }

  test("streaming dedup drops every at-least-once redelivery") {
    val dir = "/root/testdata/sf0.001"
    val events = spark.read.parquet(s"$dir/events.parquet")
    val n = events.count()
    val redelivered = n + events.filter(pmod(col("event_id"), lit(7)) === 0).count()
    assert(redelivered > n, "the redelivery construction must add duplicates")
    val deduped = graft.spark.Streaming.dedupedEventStream(spark, s"$dir/events.parquet")
    // every duplicate dropped, every original kept, ids unique
    assert(deduped.count() == n, s"deduped=${deduped.count()} expected=$n (input $redelivered)")
    assert(deduped.select("event_id").distinct().count() == n)
  }

  /** `body`'s value and the progress, batch by batch, of the one stream
    * `body` starts, read off the context's listener bus (streams run on
    * child sessions, and their progress events reach every SparkListener). */
  private def streamed[T](body: => T): (T, Seq[StreamingQueryProgress]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val events = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerEvent]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = events.add(e)
    }
    spark.sparkContext.addSparkListener(listener)
    def seen = events.toArray.toSeq
    def runs = seen.collect { case e: QueryStartedEvent => e.runId }.toSet
    val out = try {
      val v = body
      // the bus delivers asynchronously; a run's termination comes last
      val deadline = System.nanoTime() + 60L * 1000000000L
      while ((runs.isEmpty || !runs.forall(r => seen.exists {
          case e: QueryTerminatedEvent => e.runId == r
          case _ => false
        })) && System.nanoTime() < deadline) Thread.sleep(20)
      v
    } finally spark.sparkContext.removeSparkListener(listener)
    val rs = runs
    assert(rs.size == 1, s"${rs.size} streams ran")
    (out, seen.collect { case e: QueryProgressEvent if rs(e.progress.runId) => e.progress })
  }

  /** The ids of the micro-batches of the one stream `body` starts. */
  private def batchIds(body: => Unit): Seq[Long] = streamed(body)._2.map(_.batchId)

  /** The state operator of a stream's last batch that reported one. */
  private def lastStateOperator(progress: Seq[StreamingQueryProgress]) =
    progress.reverse.find(_.stateOperators.nonEmpty).map(_.stateOperators(0))

  test("x21 and x22 run no no-data batch; the windowed counts keep theirs") {
    // a dedup and an inner stream-stream join emit only for data: a
    // no-data batch would only evict state. The windowed counts emit their
    // Append windows in the no-data batch after the data.
    val events = "/root/testdata/sf0.001/events.parquet"
    var rows = 0L
    assert(batchIds {
      rows = graft.spark.Streaming.attributedPurchases(spark, events).count()
    } == Seq(0L))
    assert(rows > 0)
    assert(batchIds {
      rows = graft.spark.Streaming.dedupedEventStream(spark, events).count()
    } == Seq(0L))
    assert(rows > 0)
    assert(batchIds {
      rows = graft.spark.Streaming.windowedEventCounts(spark, events).count()
    } == Seq(0L, 1L))
    assert(rows > 0)
  }

  test("stream calls reuse the JVM's generated classes: a second call compiles nothing") {
    // each stream starts on a fresh child session; with artifact isolation
    // on, each start has its own executor class loader, and Janino's cache
    // (keyed by loader and code) recompiles every class on every call
    import org.apache.spark.metrics.source.CodegenMetrics
    val dir = "/root/testdata/sf0.001"
    def compiles(body: => Unit): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      body
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    def x22(): Unit = assert(graft.spark.Streaming.attributedPurchases(
      spark, s"$dir/events.parquet").count() > 0)
    def x31(): Unit =
      assert(graft.spark.Queries.queries("x31_stream_incremental")(spark, dir).collect().nonEmpty)
    compiles(x22())
    assert(compiles(x22()) == 0, "x22's second call compiled")
    compiles(x31())
    assert(compiles(x31()) == 0, "x31's second call compiled")
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount > 0)
  }

  test("single-file tables stream in place; x12 leaves no corpus dir") {
    // the file source reads a glob naming the one file, in the table's own
    // directory: no stream_src* copy appears at any point of the run; x12
    // writes its corpus to a stream_corpus* dir, which must not outlive its
    // stream
    val events = java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def dirs(prefix: String) = tmp.list().filter(_.startsWith(prefix)).toSet
    val corporaBefore = dirs("stream_corpus")
    val copies = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var watching = true
    val watcher = new Thread(() => while (watching) {
      dirs("stream_src").foreach(copies.add)
      Thread.sleep(2)
    })
    watcher.setDaemon(true)
    watcher.start()
    val (windows, progress) =
      try streamed(graft.spark.Streaming.windowedEventCounts(spark, events.toString).count())
    finally { watching = false; watcher.join() }
    assert(windows > 0)
    val sources = progress.flatMap(_.sources.map(_.description))
    assert(sources.nonEmpty && sources.forall(_.contains(s"${events.getParent}/")), sources)
    assert(copies.isEmpty, s"source copies made in $tmp: $copies")
    // a file name with glob characters names only itself
    withTempDir("glob_name") { dir =>
      val table = dir.resolve("events,{1}[x]*?.parquet")
      java.nio.file.Files.copy(events, table)
      assert(graft.spark.Streaming.windowedEventCounts(spark, table.toString).count() == windows)
    }
    val x12 = graft.spark.Queries.queries("x12_streaming_extract")(spark, "/root/testdata/sf0.001")
    assert(x12.count() == 180)
    val left = dirs("stream_corpus") -- corporaBefore
    assert(left.isEmpty, s"corpus dirs left in $tmp: $left")
  }

  test("two concurrent calls of one stream entry each return every row") {
    // the runner names each memory sink: concurrent calls cannot share one
    val events = "/root/testdata/sf0.001/events.parquet"
    def x22() = graft.spark.Streaming.attributedPurchases(spark, events).count()
    val alone = x22()
    assert(alone > 0)
    @volatile var other = -1L
    val mine = graft.spark.Queries.inParallel(spark)({ other = x22() }, x22())
    assert((mine, other) == (alone, alone))
  }

  /** The commands of the OS processes `body` starts, recorded in-process
    * with JFR. Spark deletes local temp dirs with `rm -rf` (JavaUtils), also
    * in the background for the state stores and sessions of earlier tests:
    * that is not the I/O under test and is left out. Spark's driver probes
    * the page size once per JVM (`getconf PAGESIZE`, when its first
    * heartbeat loads `ProcfsMetricsGetter`); that probe is paid before the
    * recording starts, so a test run alone sees the same as in the suite. */
  private def processStarts(body: => Unit): Seq[String] = {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    import scala.jdk.CollectionConverters._
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val jfr = java.nio.file.Files.createTempFile("nofork", ".jfr")
    try {
      rec.dump(jfr)
      RecordingFile.readAllEvents(jfr).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filterNot(_.getStackTrace.getFrames.asScala
          .exists(_.getMethod.getName == "deleteRecursivelyUsingUnixNative"))
        .map(_.getString("command"))
    } finally { rec.close(); java.nio.file.Files.delete(jfr) }
  }

  test("a stateful stream on a local checkpoint starts no OS process") {
    val events = "/root/testdata/sf0.001/events.parquet"
    // the caller session builds (and Hadoop caches) a file: filesystem
    // first; the stream must not run on that cached instance
    assert(spark.read.parquet(events).count() > 0)
    var pairs = 0L
    val forks = processStarts {
      pairs = graft.spark.Streaming.attributedPurchases(spark, events).count()
    }
    val n = forks.size
    assert(n == 0, s"$n processes started, e.g. ${forks.take(3).mkString("; ")}")
    assert(pairs > 0)
  }

  test("d11 and q12 write their scratch tables without starting an OS process") {
    val dir = "/root/testdata/sf0.001"
    // as above: the caller session's cached file: filesystem exists first
    assert(spark.read.parquet(s"$dir/documents.parquet").count() > 0)
    for (q <- Seq("d11_incremental_dedup", "q12_bucketed_join")) {
      var rows = 0
      val forks = processStarts { rows = graft.spark.Queries.queries(q)(spark, dir).collect().length }
      val n = forks.size
      assert(n == 0, s"$q: $n processes started, e.g. ${forks.take(3).mkString("; ")}")
      assert(rows > 0, q)
    }
  }

  test("an extraction pass and its metrics write without starting an OS process") {
    // an earlier stream registers the forkless filesystem context-wide:
    // unset it, so that only what the extraction registers is in force
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    keys.foreach(conf.unset)
    try withTempDir("extract_forks") { dir =>
      val in = dir.resolve("in").toString
      CorpusGen.inputView(CorpusGen.corpus(spark, rows = 16, partitions = 2)).write.parquet(in)
      // the input read builds (and Hadoop caches) a stock file: filesystem
      val input = spark.read.parquet(in)
      assert(input.count() == 16)
      val forks = processStarts {
        val extracted = Pipeline.extractMode(spark, input, Pipeline.DefaultMode).cache()
        extracted.write.mode("append").parquet(dir.resolve("extracted").toString)
        Pipeline.partitionMetrics(spark, extracted).write.mode("append").parquet(dir.resolve("metrics").toString)
        extracted.unpersist()
      }
      val n = forks.size
      assert(n == 0, s"$n processes started, e.g. ${forks.take(3).mkString("; ")}")
      assert(spark.read.parquet(dir.resolve("extracted").toString).count() == 16)
      assert(spark.read.parquet(dir.resolve("metrics").toString).count() == 2)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("d11 and x31 write their signature index as files: no catalog table") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.catalyst.catalog.CreateTableEvent
    val dir = "/root/testdata/sf0.001"
    // the session catalog posts every table it creates to the listener
    // bus; a saveAsTable in overwrite mode creates its table on every call
    val created = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val fenced = new java.util.concurrent.Semaphore(0)
    val fence = "catalog fence"
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case c: CreateTableEvent => created.add(c.name)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.job.description") == fence) fenced.release()
    }
    def tables = spark.catalog.listTables().collect().map(_.name).toSet
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try for (q <- Seq("d11_incremental_dedup", "x31_stream_incremental")) {
      val before = tables
      assert(graft.spark.Queries.queries(q)(spark, dir).collect().nonEmpty, q)
      // the bus delivers in order: the fence job's start follows every
      // catalog event of the query
      sc.setJobDescription(fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(fenced.tryAcquire(60, java.util.concurrent.TimeUnit.SECONDS), q)
      assert(created.isEmpty, s"$q created catalog tables: $created")
      assert(tables == before, s"$q left tables: ${tables -- before}")
    } finally sc.removeSparkListener(listener)
  }

  test("a stateful stream stopped after its first batch resumes on its checkpoint") {
    withTempDir("stream_restart")(streamRestart)
  }

  /** The restart test's body over its temp directory `root`. */
  private def streamRestart(root: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, Path, StandardCopyOption}
    import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
    import scala.jdk.CollectionConverters._
    // four source files, one per micro-batch, in mtime order; events are
    // dealt to them by id, so later files carry rows behind the watermark
    val src = Files.createDirectory(root.resolve("src"))
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    for (k <- 0 until 4) {
      val tmp = root.resolve(s"part$k")
      events.filter(pmod(col("event_id"), lit(4)) === k).coalesce(1).write.parquet(tmp.toString)
      val st = Files.list(tmp)
      val part = try st.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
        finally st.close()
      val dst = Files.copy(part, src.resolve(s"$k.parquet"), StandardCopyOption.REPLACE_EXISTING)
      dst.toFile.setLastModified(1000000000L + k * 1000000L)
    }
    val ss = graft.spark.Streaming.streamSession(spark)
    def start(name: String, trigger: Trigger): StreamingQuery =
      graft.spark.Streaming.windowedEventCountsPlan(ss, src.toString, maxFilesPerTrigger = Some(1))
        .writeStream.format("parquet")
        .option("checkpointLocation", root.resolve(s"$name.ck").toString)
        .option("path", root.resolve(name).toString)
        .trigger(trigger).start()
    def rows(name: String) = spark.read.parquet(root.resolve(name).toString)
      .orderBy("window_start", "event_type").collect().toSeq
    def list(dir: Path): Seq[Path] = {
      val st = Files.walk(dir)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).toList finally st.close()
    }

    start("whole", Trigger.AvailableNow()).awaitTermination()
    // a one-hour processing-time trigger runs batch 0 at once, then waits:
    // stopping it there stops the stream between batches
    val first = start("resumed", Trigger.ProcessingTime("1 hour"))
    val deadline = System.nanoTime() + 120L * 1000000000L
    while ((first.lastProgress == null || first.status.isTriggerActive) &&
        first.isActive && System.nanoTime() < deadline) Thread.sleep(50)
    first.stop()
    assert(first.exception.isEmpty, first.exception)
    val ck = root.resolve("resumed.ck")
    assert(list(ck.resolve("commits")).map(_.getFileName.toString).filterNot(_.endsWith(".crc")) == Seq("0"))
    val rest = start("resumed", Trigger.AvailableNow())
    rest.awaitTermination()
    assert(rest.recentProgress.head.batchId == 1, "the restart did not resume at batch 1")
    val whole = rows("whole")
    assert(whole.nonEmpty)
    assert(rows("resumed") == whole)

    val files = list(ck)
    val tmps = files.filter(_.getFileName.toString.endsWith(".tmp"))
    assert(tmps.size == 0, s"temp files left in the checkpoint: ${tmps.take(3)}")
    val committed = files.filterNot(_.getFileName.toString.endsWith(".crc"))
    assert(committed.exists(_.toString.contains("/state/")), committed)
    val unsummed = committed.filterNot(f => Files.exists(f.resolveSibling(s".${f.getFileName}.crc")))
    assert(unsummed.size == 0, s"${unsummed.size} checkpoint files without a .crc: ${unsummed.take(3)}")
  }

  test("streaming sessions: no unbounded NoTimeout state in main sources") {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/spark/Pipeline.scala")), "UTF-8")
    assert(!src.contains("NoTimeout"), "session keys must have an event-time TTL")
    assert(src.contains("EventTimeTimeout"))
  }

  test("windowed-count plan carries the watermark (Append-mode state eviction)") {
    withTempDir("wm_plan")(dir => watermarkPlan(dir.toString))
  }

  /** The watermark test's body over its temp directory `dir`. */
  private def watermarkPlan(dir: String): Unit = {
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .write.mode("overwrite").parquet(dir)
    val plan = graft.spark.Streaming.windowedEventCountsPlan(spark, dir)
      .queryExecution.analyzed.toString
    assert(plan.contains("EventTimeWatermark"), plan.take(2000))
    // Complete output mode retains all groups forever: no stream uses it
    // (x31's dedup reduces per micro-batch with a first-hit walk, without
    // state). A new use must justify its state bound here.
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/spark/Pipeline.scala")), "UTF-8")
    assert("OutputMode\\.Complete".r.findAllIn(src).isEmpty,
      "unexpected Complete-mode use (retains all groups forever)")
  }

  test("KMV sketch: exact below K, bounded state and sane estimate above") {
    var kmv = Array.emptyLongArray
    // exact range: every distinct count below K is exact
    for (i <- 0 until graft.spark.Kmv.K - 1) kmv = graft.spark.Kmv.addItem(kmv, s"type-$i")
    assert(graft.spark.Kmv.estimate(kmv) == graft.spark.Kmv.K - 1)
    // duplicates never change the estimate
    for (i <- 0 until 50) kmv = graft.spark.Kmv.addItem(kmv, s"type-$i")
    assert(graft.spark.Kmv.estimate(kmv) == graft.spark.Kmv.K - 1)
    // blow past K with >10k distinct types: state stays capped at K longs
    for (i <- 0 until 12000) kmv = graft.spark.Kmv.addItem(kmv, s"hot-key-$i")
    assert(kmv.length == graft.spark.Kmv.K, s"state grew to ${kmv.length}")
    val est = graft.spark.Kmv.estimate(kmv)
    val truth = 12000 + graft.spark.Kmv.K - 1
    assert(math.abs(est - truth).toDouble / truth < 0.2, s"estimate $est vs $truth")
  }

  test("page colorspace listing (legacy surface)") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    def bb(x: String) = x.getBytes(ISO_8859_1)
    val content = "/CS0 cs 1 0 0 rg 0.5 g BT /F1 10 Tf 0 0 Td (x) Tj ET\n/Im1 Do\n"
    val out = new scala.collection.mutable.ArrayBuffer[Byte]
    out ++= bb("%PDF-1.5\n")
    val offs = scala.collection.mutable.Map[Int, Int]()
    def obj(n: Int, body: String): Unit = {
      offs(n) = out.length
      out ++= bb(s"$n 0 obj\n$body\nendobj\n")
    }
    val jpeg = new String(Array(0xff, 0xd8, 0xff, 0xe0).map(_.toByte), ISO_8859_1)
    obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Resources << /Font << /F1 5 0 R >> /XObject << /Im1 6 0 R >> >> /Contents 4 0 R >>")
    obj(4, s"<< /Length ${content.length} >>\nstream\n$content\nendstream")
    obj(5, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    obj(6, s"<< /Type /XObject /Subtype /Image /Width 2 /Height 2 /ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /DCTDecode /Length ${jpeg.length} >>\nstream\n$jpeg\nendstream")
    val xrefAt = out.length
    out ++= bb("xref\n0 7\n0000000000 65535 f \n")
    for (n <- 1 to 6) out ++= bb(f"${offs(n)}%010d 00000 n \n")
    out ++= bb(s"trailer\n<< /Size 7 /Root 1 0 R >>\nstartxref\n$xrefAt\n%%EOF\n")
    val doc = DocStructure.openDocument(out.toArray, None).toOption.get
    val cs = Legacy.pageColorSpaces(doc, offs.keys.toList.sorted.apply(2))
    // page object ref is 3
    val cs3 = Legacy.pageColorSpaces(doc, 3)
    assert(cs3.contains("CS0"))
    assert(cs3.contains("DeviceRGB")) // from rg and/or the XObject substitution
    assert(cs3.contains("DeviceGray"))
  }

  test("Type1 embedded encoding scrape") {
    val font = ("%!PS /FontName /Test def /Encoding 256 array " +
      "0 1 255 {1 index exch /.notdef put} for " +
      "dup 65 /alpha put dup 66 /beta put readonly def").getBytes
    EmbeddedFont.type1Encoding(font) match {
      case Encoding.DiffEncoding(m) =>
        assert(m.get(65).contains("/alpha") && m.get(66).contains("/beta"))
      case other => fail(s"unexpected: $other")
    }
  }

  test("OpenType cmap format 4 parses glyph->unicode") {
    // build a tiny sfnt with one cmap subtable: format 4, one segment
    // mapping chars 65..66 with delta 3 (gid = c + 3)
    import java.io.ByteArrayOutputStream
    def be16(v: Int) = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be32(v: Int) = Array((v >>> 24).toByte, ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val sub = new ByteArrayOutputStream()
    sub.write(be16(4)); sub.write(be16(32)); sub.write(be16(0)) // format, length, language
    sub.write(be16(4)) // segCountX2 (2 segments: real + sentinel)
    sub.write(be16(4)); sub.write(be16(1)); sub.write(be16(0)) // search params
    sub.write(be16(66)); sub.write(be16(0xffff)) // endCodes
    sub.write(be16(0)) // reservedPad
    sub.write(be16(65)); sub.write(be16(0xffff)) // startCodes
    sub.write(be16(3)); sub.write(be16(1)) // idDelta
    sub.write(be16(0)); sub.write(be16(0)) // idRangeOffsets
    val subBytes = sub.toByteArray
    val cmapTable = new ByteArrayOutputStream()
    cmapTable.write(be16(0)); cmapTable.write(be16(1)) // version, numRecords
    cmapTable.write(be16(3)); cmapTable.write(be16(1)); cmapTable.write(be32(12)) // record
    cmapTable.write(subBytes)
    val cmapBytes = cmapTable.toByteArray
    val font = new ByteArrayOutputStream()
    font.write(be32(0x00010000)); font.write(be16(1)) // sfnt, 1 table
    font.write(be16(0)); font.write(be16(0)); font.write(be16(0))
    font.write("cmap".getBytes); font.write(be32(0)); font.write(be32(28)); font.write(be32(cmapBytes.length))
    font.write(cmapBytes)
    val m = EmbeddedFont.openTypeCmap(font.toByteArray)
    assert(m.get(68).contains("A")) // gid 65+3 -> 'A'
    assert(m.get(69).contains("B"))
  }

  test("OpenType cmap format 14: non-default UVS gid maps to base char + selector") {
    // beyond reference parity (OpenType.hs skips format 14): a variation
    // glyph is reachable ONLY through the UVS subtable. Build a cmap with
    // a format-4 record (gid 68 -> 'A') and a format-14 record mapping
    // (U+82A6, U+E0100) -> gid 500 non-default plus a default-UVS range,
    // and 'A' + U+E0100 -> gid 68 non-default (base formats must win for
    // gids they already cover).
    import java.io.ByteArrayOutputStream
    def be16(v: Int) = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be24(v: Int) = Array(((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be32(v: Int) = Array((v >>> 24).toByte, ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val f4 = new ByteArrayOutputStream()
    f4.write(be16(4)); f4.write(be16(32)); f4.write(be16(0))
    f4.write(be16(4)); f4.write(be16(4)); f4.write(be16(1)); f4.write(be16(0))
    f4.write(be16(66)); f4.write(be16(0xffff)); f4.write(be16(0))
    f4.write(be16(65)); f4.write(be16(0xffff))
    f4.write(be16(3)); f4.write(be16(1)); f4.write(be16(0)); f4.write(be16(0))
    // format 14: header(10) + 1 varSelector record(11) = 21; then the
    // default table (4 + 1*4 = 8) at 21, non-default (4 + 2*5 = 14) at 29
    val f14 = new ByteArrayOutputStream()
    f14.write(be16(14)); f14.write(be32(43)) // format, length
    f14.write(be32(1)) // numVarSelectorRecords
    f14.write(be24(0xE0100)); f14.write(be32(21)); f14.write(be32(29))
    f14.write(be32(1)); f14.write(be24(0x3042)); f14.write(Array(0.toByte)) // default UVS range
    f14.write(be32(2)) // non-default mappings
    f14.write(be24(65)); f14.write(be16(68)) // 'A'+VS17 -> gid 68 (already covered)
    f14.write(be24(0x82A6)); f14.write(be16(500))
    val f4b = f4.toByteArray
    val f14b = f14.toByteArray
    val cmap = new ByteArrayOutputStream()
    cmap.write(be16(0)); cmap.write(be16(2)) // version, 2 records
    // platform 0 encoding 5 (format 14) listed FIRST: the two-pass walk
    // must still let format 4 claim gid 68
    cmap.write(be16(0)); cmap.write(be16(5)); cmap.write(be32(20))
    cmap.write(be16(3)); cmap.write(be16(1)); cmap.write(be32(20 + f14b.length))
    cmap.write(f14b); cmap.write(f4b)
    val cmapBytes = cmap.toByteArray
    val font = new ByteArrayOutputStream()
    font.write(be32(0x00010000)); font.write(be16(1))
    font.write(be16(0)); font.write(be16(0)); font.write(be16(0))
    font.write("cmap".getBytes); font.write(be32(0)); font.write(be32(28)); font.write(be32(cmapBytes.length))
    font.write(cmapBytes)
    val m = EmbeddedFont.openTypeCmap(font.toByteArray)
    assert(m.get(68).contains("A"), m.get(68)) // base format wins
    assert(m.get(500).contains("芦" + new String(Character.toChars(0xE0100))), m.get(500))
    // default-UVS ranges add no mappings of their own
    assert(!m.contains(0x3042))
  }

  test("Type0 without /ToUnicode falls back to the embedded /FontFile2 cmap") {
    // pins the FontFile2 sfnt fallback (DocumentStructure.hs:908-935)
    // end-to-end: Identity-H Type0 font, no /ToUnicode, embedded sfnt whose
    // format-4 cmap maps gid 68->'A', 69->'B'; 2-byte codes <00440045>.
    import java.io.ByteArrayOutputStream
    import java.nio.charset.StandardCharsets.ISO_8859_1
    def be16(v: Int) = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be32(v: Int) = Array((v >>> 24).toByte, ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val sub = new ByteArrayOutputStream()
    sub.write(be16(4)); sub.write(be16(32)); sub.write(be16(0))
    sub.write(be16(4)); sub.write(be16(4)); sub.write(be16(1)); sub.write(be16(0))
    sub.write(be16(66)); sub.write(be16(0xffff)); sub.write(be16(0))
    sub.write(be16(65)); sub.write(be16(0xffff))
    sub.write(be16(3)); sub.write(be16(1))
    sub.write(be16(0)); sub.write(be16(0))
    val cmapTable = new ByteArrayOutputStream()
    cmapTable.write(be16(0)); cmapTable.write(be16(1))
    cmapTable.write(be16(3)); cmapTable.write(be16(1)); cmapTable.write(be32(12))
    cmapTable.write(sub.toByteArray)
    val cmapBytes = cmapTable.toByteArray
    val fontOut = new ByteArrayOutputStream()
    fontOut.write(be32(0x00010000)); fontOut.write(be16(1))
    fontOut.write(be16(0)); fontOut.write(be16(0)); fontOut.write(be16(0))
    fontOut.write("cmap".getBytes); fontOut.write(be32(0)); fontOut.write(be32(28)); fontOut.write(be32(cmapBytes.length))
    fontOut.write(cmapBytes)
    val sfnt = new String(fontOut.toByteArray, ISO_8859_1)

    val content = "BT /F1 12 Tf 72 720 Td <00440045> Tj ET\n"
    val objects = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
      s"<< /Length ${content.length} >>\nstream\n${content}endstream",
      "<< /Type /Font /Subtype /Type0 /BaseFont /Test /Encoding /Identity-H " +
        "/DescendantFonts [6 0 R] >>",
      "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Test " +
        "/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) /Supplement 0 >> " +
        "/FontDescriptor 7 0 R /DW 1000 >>",
      "<< /Type /FontDescriptor /FontName /Test /Flags 4 /FontFile2 8 0 R >>",
      s"<< /Length ${sfnt.length} >>\nstream\n${sfnt}\nendstream")
    val out = new scala.collection.mutable.ArrayBuffer[Byte]
    def bb(s: String): Array[Byte] = s.getBytes(ISO_8859_1)
    val offsets = new scala.collection.mutable.ArrayBuffer[Int]
    out ++= bb("%PDF-1.5\n%µ¶\n")
    for ((body, i) <- objects.zipWithIndex) {
      offsets += out.length
      out ++= bb(s"${i + 1} 0 obj\n$body\nendobj\n")
    }
    val xrefAt = out.length
    out ++= bb(s"xref\n0 ${objects.length + 1}\n0000000000 65535 f \n")
    for (off <- offsets) out ++= bb(f"$off%010d 00000 n \n")
    out ++= bb(s"trailer\n<< /Size ${objects.length + 1} /Root 1 0 R >>\nstartxref\n$xrefAt\n%%EOF\n")

    val doc = DocStructure.openDocument(out.toArray, None).toOption.get
    val text = Extract.taggedText(doc).toOption.get
    assert(text == "AB\n", s"got ${text.getBytes(ISO_8859_1).mkString(",")}")
  }
}

class CffSpec extends AnyFunSuite {
  test("CFF encoding: custom encoding array + charset SIDs") {
    val out = new java.io.ByteArrayOutputStream()
    def bytes(xs: Int*): Unit = xs.foreach(x => out.write(x & 0xff))
    // header
    bytes(1, 0, 4, 1)
    // Name INDEX: 1 entry "Test"
    bytes(0, 1, 1, 1, 5); out.write("Test".getBytes)
    // TopDict INDEX: 1 dict with charset(15)=54, encoding(16)=50, charstrings(17)=40
    bytes(0, 1, 1, 1, 19)
    bytes(29, 0, 0, 0, 54, 15)
    bytes(29, 0, 0, 0, 50, 16)
    bytes(29, 0, 0, 0, 40, 17)
    // String INDEX: empty
    bytes(0, 0, 1, 1)
    // CharStrings INDEX at 40: 3 glyphs (1 byte each)
    bytes(0, 3, 1, 1, 2, 3, 4); bytes(0xaa, 0xbb, 0xcc)
    // encoding array at 50: format 0, nCodes 3 -> reads 2 codes (65, 66)
    bytes(0, 3, 65, 66)
    // charset at 54: format 0, 2 SIDs (34 -> 'B'? no: SID 34 = 'A'; 113 = double dagger)
    bytes(0, 0, 34, 0, 113)
    val cff = out.toByteArray
    Cff.encoding(cff) match {
      case Encoding.DiffEncoding(m) =>
        assert(m.get(65).contains("A"))
        assert(m.get(66).contains("‡"))
      case other => fail(s"unexpected: $other")
    }
  }
}

class FormExtractSpec extends AnyFunSuite {
  test("form export: closure, renumber, reopenable standalone PDF") {
    val d = FixtureGen.formParent(5)
    val doc = DocStructure.openDocument(d.bytes, None).toOption.get
    // the original document extracts both form texts via Do recursion
    assert(Extract.extractPdf(d.bytes, None) == Right(d.expected))
    assert(FormExtract.pageFormNames(doc, 1) == Right(List("Fm0")))
    val pdf = FormExtract.extractFormPdf(doc, 1, "Fm0").toOption.get
    // the exported standalone PDF reopens with this engine and renders the
    // form content (outer + nested inner)
    val reopened = DocStructure.openDocument(pdf, None)
    assert(reopened.isRight)
    val text = Extract.extractPdf(pdf, None).toOption.get
    assert(text.contains("Outer form 5"))
    assert(text.contains("Inner form 5"))
    // closure copied the form, nested form, and font (3 objects -> ids 5..7)
    val reDoc = reopened.toOption.get
    assert(reDoc.objsByRef(5).isDefined && reDoc.objsByRef(7).isDefined)
  }
}
