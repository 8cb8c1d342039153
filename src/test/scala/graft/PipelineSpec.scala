package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.spark.{CorpusGen, FixtureGen, LocalFileSystem, Pipeline, Surfaces}

/** End-to-end Spark pipeline tests: scan -> mapPartitions kernel ->
  * predicates/joins, with a byte-identical match-rate gate against the
  * corpus ground truth (the north-rule invariant), plus resume and
  * metrics behavior. */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("pipeline-spec")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("extraction is byte-identical per url over the full corpus") {
    val corpus = CorpusGen.corpus(spark, rows = 120, partitions = 6).cache()
    val extracted = Pipeline.extract(spark, CorpusGen.inputView(corpus)).toDF()
    val joined = extracted.join(corpus.select("url", "expected", "kind"), Seq("url"))
    val total = joined.count()
    val matched = joined.filter(col("text") === col("expected")).count()
    assert(total == 120)
    assert(matched == total, {
      val bad = joined.filter(col("text") =!= col("expected"))
        .select("url", "kind").limit(5).collect().mkString(", ")
      s"mismatches: $bad"
    })
  }

  test("all format branches are exercised on one codepath") {
    val corpus = CorpusGen.corpus(spark, rows = 45, partitions = 3)
    val modes = Pipeline.extract(spark, CorpusGen.inputView(corpus))
      .toDF().groupBy("mode").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(modes.contains("pdf-tagged"))
    assert(modes.contains("html"))
    assert(modes.contains("text"))
    assert(!modes.contains("error"))
  }

  test("grep: Catalyst predicate over extracted text") {
    val corpus = CorpusGen.corpus(spark, rows = 45, partitions = 3).cache()
    val expected = corpus.filter(col("url").contains("/multipage/")).count()
    val hits = Pipeline.extract(spark, CorpusGen.inputView(corpus))
      .toDF().filter(col("text").rlike("sentence that")).count()
    assert(expected > 0 && hits == expected)
  }

  test("resume: left-anti join drops done urls") {
    val corpus = CorpusGen.corpus(spark, rows = 45, partitions = 3).cache()
    val input = CorpusGen.inputView(corpus)
    val done = input.select("url").limit(20)
    val remaining = Pipeline.resumeRemaining(input, done)
    assert(remaining.count() == 25)
    // idempotent: resuming with everything done leaves nothing
    assert(Pipeline.resumeRemaining(input, input.select("url")).count() == 0)
  }

  test("partition metrics account for every document") {
    val corpus = CorpusGen.corpus(spark, rows = 90, partitions = 5).cache()
    for (mode <- Pipeline.Modes.keys) {
      val extracted = Pipeline.extractMode(spark, CorpusGen.inputView(corpus), mode)
      val m = Pipeline.partitionMetrics(spark, extracted).toDF()
        .agg(sum("docs"), sum("okDocs"), sum("errorDocs"),
          sum(col("pdfDocs") + col("htmlDocs") + col("textDocs"))).collect()(0)
      assert(m.getLong(0) == 90, mode)
      assert(m.getLong(1) == 90, mode)
      assert(m.getLong(2) == 0, mode)
      assert(m.getLong(3) == 90, mode)
    }
  }

  test("counters-only partition metrics == the full-row count over the same cached frame") {
    val s = spark
    import s.implicits._
    // corpus documents of every kind, one decode failure, and one more
    // partition than rows: parallelize leaves the first slice empty
    val rows = CorpusGen.inputView(CorpusGen.corpus(spark, rows = 14, partitions = 2))
      .select("url", "html", "text").as[(String, Array[Byte], String)].collect().toSeq :+
      (("u/bad", "%PDF-1.5 garbage".getBytes, null: String))
    val input = spark.sparkContext.parallelize(rows, rows.length + 1).toDF("url", "html", "text")
    val extracted = Pipeline.extractMode(spark, input, Pipeline.DefaultMode).cache()
    try {
      val pdfLabels = Pipeline.Modes.keySet.map("pdf-" + _)
      // the metrics as they were counted from whole rows
      val reference = extracted.mapPartitions { iter =>
        val docs = iter.toSeq
        def n(p: Pipeline.ExtractedDoc => Boolean) = docs.count(p).toLong
        Iterator.single(Pipeline.PartitionMetrics(org.apache.spark.TaskContext.getPartitionId(),
          docs.length, n(_.ok), n(d => pdfLabels(d.mode)), n(_.mode == "html"), n(_.mode == "text"),
          n(d => !pdfLabels(d.mode) && d.mode != "html" && d.mode != "text"),
          docs.map(_.chars.toLong).sum, docs.map(_.kernelMicros).sum))
      }.collect().sortBy(_.partitionId).toSeq
      val got = Pipeline.partitionMetrics(spark, extracted).collect().sortBy(_.partitionId).toSeq
      assert(got == reference)
      assert(got.length == rows.length + 1 && got.exists(_.docs == 0), got)
      assert(got.map(_.errorDocs).sum == 1 && got.map(_.docs).sum == rows.length, got)
      assert(got.map(_.htmlDocs).sum > 0 && got.map(_.textDocs).sum > 0 && got.map(_.pdfDocs).sum > 0, got)
    } finally extracted.unpersist()
  }

  test("an unknown extraction mode is rejected when extractMode is called") {
    val input = CorpusGen.inputView(CorpusGen.corpus(spark, rows = 3, partitions = 1))
    val e = intercept[IllegalArgumentException](Pipeline.extractMode(spark, input, "tagdged"))
    assert(e.getMessage.contains("tagdged"), e.getMessage)
  }

  test("every per-document surface is total: bad rows leave the good rows' output unchanged") {
    val s = spark
    import s.implicits._
    def docs(df: org.apache.spark.sql.DataFrame) = df.select("url", "html", "text")
    val good = Seq(
      CorpusGen.corpus(spark, rows = 18, partitions = 2),
      CorpusGen.mediaCorpus(spark, rows = 6, partitions = 1),
      CorpusGen.audioCorpus(spark, rows = 3, partitions = 1),
      CorpusGen.videoCorpus(spark, rows = 3, partitions = 1),
      CorpusGen.scannedCorpus(spark, rows = 8, partitions = 1),
      CorpusGen.jpxCorpus(spark, rows = 3, partitions = 1)).map(docs).reduce(_ unionByName _).cache()
    // a null payload, an empty one and seeded mutations of every PDF kind
    val rnd = new scala.util.Random(20261018L)
    val pdfs = (0L until 13L).map(FixtureGen.docFor(_).bytes) ++ Seq(FixtureGen.book(1).bytes,
      FixtureGen.ccittImage(1).bytes, FixtureGen.jbig2Image(1).bytes, FixtureGen.jpxImage(1).bytes)
    val bad = (Seq[(String, Array[Byte], String)](("bad/null", null, null),
      ("bad/empty", Array.emptyByteArray, null)) ++
      (for ((pdf, i) <- pdfs.zipWithIndex; rep <- 0 until 3)
        yield (s"bad/mutated/$i/$rep", FuzzSpec.mutate(pdf, rnd), null: String)))
      .toDF("url", "html", "text").repartition(3)
    val variant = docs(CorpusGen.variantCorpus(spark, rows = 18, partitions = 2))
    val surfaces: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] =
      Pipeline.Modes.keys.toSeq.map(m =>
        s"extractMode $m" -> ((in: org.apache.spark.sql.DataFrame) =>
          Pipeline.extractMode(spark, in, m).toDF().drop("kernelMicros"))) ++ Seq(
      "extractPages" -> (Pipeline.extractPages(spark, _).toDF()),
      "extractRegions" -> (Pipeline.extractRegions(spark, _).toDF()),
      "extractMeta" -> (Pipeline.extractMeta(spark, _).toDF()),
      "extractImages" -> (Surfaces.extractImages(spark, _).toDF()),
      "diffDocuments" -> (in => Surfaces.diffDocuments(spark, in, variant.unionByName(bad)).toDF()),
      "binaryFeatures" -> (Surfaces.binaryFeatures(spark, _).toDF()),
      "decodeImages" -> (Surfaces.decodeImages(spark, _).toDF()),
      "jpxHeaderFacts" -> (Surfaces.jpxHeaderFacts(spark, _).toDF()),
      "scannedImageFacts" -> (Surfaces.scannedImageFacts(spark, _).toDF()),
      "resizeImages" -> (Surfaces.resizeImages(spark, _).toDF()),
      "decodeAudio" -> (Surfaces.decodeAudio(spark, _).toDF()),
      "decodeVideoFrames" -> (Surfaces.decodeVideoFrames(spark, _).toDF()),
      "sampleFrames" -> (Surfaces.sampleFrames(spark, _).toDF()))
    for ((name, surface) <- surfaces) {
      def rows(in: org.apache.spark.sql.DataFrame) = surface(in)
        .filter(!col("url").startsWith("bad/")).collect().map(_.toString).sorted.toSeq
      val clean = rows(good)
      assert(clean.nonEmpty, name)
      // the job over the bad rows must finish and change no good row
      assert(rows(good.unionByName(bad)) == clean, name)
    }
  }

  test("observed decode counters ride the caller's action (observe metrics)") {
    val s = spark
    import s.implicits._
    // 2 good docs + 2 decode failures: the observation must report them
    // without any extra job beyond the caller's own action
    val rows = Seq(
      ("u1", "<html><p>alpha beta</p></html>".getBytes, null: String),
      ("u2", "%PDF-1.5 garbage".getBytes, null: String),
      ("u3", Array.fill(64)(0x7f.toByte), null: String),
      ("u4", "<html><p>gamma</p></html>".getBytes, null: String))
    val (observed, obs) = Pipeline.observeExtraction(
      Pipeline.extract(spark, rows.toDF("url", "html", "text")))
    val collected = observed.collect()
    val m = obs.get
    assert(m("docs") == 4L, m)
    assert(m("ok_docs") == 2L, m)
    assert(m("decode_failures") == 2L, m)
    assert(m("chars") == collected.map(_.chars.toLong).sum, m)
    assert(m("kernel_micros").asInstanceOf[Long] > 0L, m)
  }

  test("malformed payloads become error rows, not task failures") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      ("u1", "%PDF-1.5 garbage".getBytes, null: String),
      ("u2", Array.fill(64)(0x7f.toByte), null: String),
      ("u3", "<html><p>fine</p></html>".getBytes, null: String))
    val df = rows.toDF("url", "html", "text")
    val out = Pipeline.extract(spark, df).collect()
    assert(out.length == 3)
    val byUrl = out.map(d => d.url -> d).toMap
    assert(!byUrl("u1").ok && byUrl("u1").error.nonEmpty)
    assert(!byUrl("u2").ok)
    assert(byUrl("u3").ok && byUrl("u3").text.contains("fine"))
  }

  test("page-level and metadata surfaces") {
    val corpus = CorpusGen.corpus(spark, rows = 18, partitions = 2).cache()
    val pages = Pipeline.extractPages(spark, CorpusGen.inputView(corpus)).toDF()
    // multipage docs contribute 4 pages each
    val mp = pages.filter(col("url").contains("/multipage/")).groupBy("url").count().collect()
    assert(mp.forall(_.getLong(1) == 4))
    val meta = Pipeline.extractMeta(spark, CorpusGen.inputView(corpus)).toDF()
    val pageCounts = meta.select("url", "pages").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(pageCounts.filter(_._1.contains("/multipage/")).values.forall(_ == 4))
    assert(pageCounts.filter(_._1.contains("/classic/")).values.forall(_ == 1))
  }

  test("reference golden fixtures are byte-identical through the Spark pipeline") {
    CorpusGen.referenceCorpus(spark, rows = 60, partitions = 4) match {
      case None => cancel("reference fixtures not available")
      case Some(corpus) =>
        val cached = corpus.cache()
        val joined = Pipeline.extract(spark, CorpusGen.inputView(cached)).toDF()
          .join(cached.select("url", "expected", "kind"), Seq("url"))
        val total = joined.count()
        val matched = joined.filter(col("text") === col("expected")).count()
        assert(total == 60)
        assert(matched == total, {
          val bad = joined.filter(col("text") =!= col("expected"))
            .select("kind").distinct().collect().mkString(",")
          s"mismatching fixtures: $bad"
        })
    }
  }

  test("oversized payloads are counted, not parsed") {
    val d = Pipeline.extractRowMode("u", new Array[Byte](2048), null, "tagged", maxPayloadBytes = 1024)
    assert(!d.ok && d.error == "payload too large" && d.mode == "error")
  }

  test("salted repartition produces identical results") {
    def byUrl(input: org.apache.spark.sql.DataFrame): Map[String, String] =
      Pipeline.extract(spark, input)
        .toDF().select("url", "text").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // the caller salts, as a forced shuffle would: rows move by url hash
    def salted(input: org.apache.spark.sql.DataFrame) =
      input.repartition(7, pmod(xxhash64(col("url")), lit(7)))
    val input = CorpusGen.inputView(CorpusGen.corpus(spark, rows = 33, partitions = 2).cache())
    assert(byUrl(input) == byUrl(salted(input)))
    // a heavy-tailed corpus: giant rows extract identically at either
    // partitioning, and every one of them extracts its expected text
    val heavy = CorpusGen.heavyTailCorpus(spark, rows = 60, partitions = 4,
      giantPages = 400).cache()
    val heavyInput = CorpusGen.inputView(heavy)
    assert(byUrl(heavyInput) == byUrl(salted(heavyInput)))
    val giants = Pipeline.extract(spark, heavyInput).toDF()
      .join(heavy.filter(col("pages") === 400).select("url", "expected"), Seq("url"))
      .select(col("url"), col("ok"), col("text") === col("expected")).collect()
    assert(giants.nonEmpty)
    assert(giants.forall(r => r.getBoolean(1) && r.getBoolean(2)), giants.mkString(","))
  }

  test("column pruning reaches the scan") {
    val corpus = CorpusGen.corpus(spark, rows = 9, partitions = 1)
    val dir = java.nio.file.Files.createTempDirectory("corpus").toFile
    try {
      corpus.write.mode("overwrite").parquet(dir.toString)
      val input = spark.read.parquet(dir.toString)
      val plan = Pipeline.extract(spark, input).queryExecution.executedPlan.toString
      // the parquet scan must read only the three needed columns
      assert(plan.contains("ReadSchema"))
      assert(!plan.split("ReadSchema")(1).takeWhile(_ != '>').contains("warc_ts"))
    } finally LocalFileSystem.deleteTree(dir)
  }
}
