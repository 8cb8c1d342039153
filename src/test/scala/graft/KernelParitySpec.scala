package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.spark.Queries

/** Round-7 optimization guard: the compiled token-hash kernels
  * (Queries.Kernels + the *Udf columns) must be VALUE-IDENTICAL to the
  * legacy Catalyst higher-order-function expressions they replaced —
  * that identity is what keeps every DuckDB oracle and the driver's
  * correctness hashes unchanged. Pinned on adversarial strings (unicode
  * incl. non-BMP, empties, whitespace runs, hash-heavy repetition) AND on
  * deterministic pseudo-corpus rows. */
class KernelParitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("kernel-parity")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def samples: Seq[String] = {
    val rnd = new scala.util.Random(7)
    val words = Array("the", "spark", "join", "scan", "dedup", "a", "é",
      "日本", "😀", "x1", "batch", "window", "the")
    val generated = (0 until 40).map { _ =>
      (0 until (1 + rnd.nextInt(60)))
        .map(_ => words(rnd.nextInt(words.length))).mkString(" ")
    }
    Seq("", " ", "  ", "a", "é", "日 本 日", "😀 😀 x", "a\tb\nc d\r\ne",
      " lead", "trail ", "x x x x x y", "one",
      "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t1 t2 t3 t4 t5 t6 t7 t8",
      "ab", "abc", "abcd", "ab ab ab") ++ generated
  }

  /** The legacy s2/s3 sign-LSH plane expressions over column `c`. */
  private def signPlanes(c: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] =
    (0 until 8).map { k =>
      val proj = aggregate(
        zip_with(c,
          transform(sequence(lit(0), size(c) - 1),
            i => cos(i.cast("double") * (k + 1) * 0.7 + k)),
          (x, h) => x * h),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L << k)).otherwise(lit(0L))
    }

  private def df() = {
    val sp = spark
    import sp.implicits._
    samples.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
  }

  test("minhash signature kernel == legacy expression (d2/d5/d10 path)") {
    val legacy = df()
      .select(col("doc_id"),
        transform(Queries.toksCol, tok => Queries.tokenHashCol(tok)).as("xs"))
      .filter(size(col("xs")) > 0)
      .select(col("doc_id"),
        Queries.minPerm(col("xs"), 1299721, 104729).as("mh0"),
        Queries.minPerm(col("xs"), 7919, 7507).as("mh1"),
        Queries.minPerm(col("xs"), 104183, 337).as("mh2"),
        Queries.minPerm(col("xs"), 909091, 5861).as("mh3"))
      .orderBy("doc_id").collect().toSeq
    val kernel = df()
      .select(col("doc_id"), Queries.minSigUdf(col("text")).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id"), col("sig.mh0"), col("sig.mh1"), col("sig.mh2"), col("sig.mh3"))
      .orderBy("doc_id").collect().toSeq
    assert(kernel == legacy)
  }

  test("full signature kernel == legacy hs/band expressions (sigKeyed path)") {
    val legacy = df()
      .select(col("doc_id"),
        transform(Queries.toksCol, tok => Queries.tokenHashCol(tok)).as("xs"))
      .filter(size(col("xs")) > 0)
      .select(col("doc_id"),
        array_sort(array_distinct(col("xs"))).as("hs"),
        md5(concat_ws(":", Queries.minPerm(col("xs"), 1299721, 104729),
          Queries.minPerm(col("xs"), 7919, 7507))).as("band0"),
        md5(concat_ws(":", Queries.minPerm(col("xs"), 104183, 337),
          Queries.minPerm(col("xs"), 909091, 5861))).as("band1"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getString(2), r.getString(3))).toSeq
    val kernel = Queries.sigKeyed(df()).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getString(2), r.getString(3))).toSeq
    assert(kernel == legacy)
  }

  test("simhash kernel == legacy nested-aggregate expression (d3)") {
    val legacy = df()
      .select(col("doc_id"),
        transform(Queries.toksCol, tok => Queries.tokenHashCol(tok)).as("xs"))
      .filter(size(col("xs")) > 0)
      .select(col("doc_id"),
        expr("""aggregate(sequence(0, 15), CAST(0 AS BIGINT), (acc, b) ->
          acc + CASE WHEN aggregate(xs, CAST(0 AS BIGINT), (a, x) ->
            a + CASE WHEN (shiftright(x, b) % 2) = 1 THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END) > 0
          THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END)""").as("simhash16"))
      .orderBy("doc_id").collect().toSeq
    val kernel = df()
      .select(col("doc_id"), Queries.simhash16Udf(col("text")).as("simhash16"))
      .filter(col("simhash16").isNotNull)
      .orderBy("doc_id").collect().toSeq
    assert(kernel == legacy)
  }

  test("shingle kernel == legacy rolling-fold expression (d8/d9)") {
    val w = regexp_extract_all(col("text"), lit("\\S+"), lit(0))
    val legacy = df()
      .select(col("doc_id"), transform(w, tok => Queries.tokenHashCol(tok)).as("th"))
      .select(col("doc_id"), Queries.shingleGramsCol.as("g"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    val kernel = df()
      .select(col("doc_id"), Queries.shinglesUdf(col("text")).as("g"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    assert(kernel == legacy)
  }

  test("repetition-stats kernel == legacy HOF mode scan (t7)") {
    val w = regexp_extract_all(col("text"), lit("\\S+"), lit(0))
    val bigrams = when(size(w) >= 2,
      transform(sequence(lit(1), size(w) - 1),
        i => concat(element_at(w, i), lit(" "), element_at(w, i + 1))))
      .otherwise(array().cast("array<string>"))
    val topCount = array_max(transform(array_distinct(col("w")),
      x => size(filter(col("w"), y => y === x))))
    val legacy = df()
      .select(col("doc_id"), w.as("w"), bigrams.as("big"))
      .select(col("doc_id"), size(col("w")).as("tokens"), size(col("big")).as("bigrams"),
        size(array_distinct(col("big"))).as("distinct_bigrams"),
        topCount.as("top_word_count"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        if (r.isNullAt(4)) null else r.getInt(4).toString)).toSeq
    val kernel = df()
      .select(col("doc_id"), Queries.repStatsUdf(col("text")).as("r"))
      .select(col("doc_id"), col("r.tokens"), col("r.bigrams"),
        col("r.distinct_bigrams"), col("r.top_word_count"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        if (r.isNullAt(4)) null else r.getInt(4).toString)).toSeq
    assert(kernel == legacy)
  }

  test("rlike(\\S) pre-filter selects exactly the legacy size(xs)>0 rows") {
    // the signature queries filter BEFORE the kernel (text has >= 1
    // token) instead of on the kernel's null result, so Catalyst cannot
    // duplicate the UDF below a pushed filter (guide §4.4); the two
    // predicates must keep the identical row set — incl. empty and
    // whitespace-only strings in the sample set
    val legacy = df()
      .select(col("doc_id"),
        transform(Queries.toksCol, tok => Queries.tokenHashCol(tok)).as("xs"))
      .filter(size(col("xs")) > 0)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    val kept = df().filter(col("text").rlike("\\S"))
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept == legacy)
    // and the whitespace-only rows really are in the sample (non-vacuous)
    assert(kept.size < samples.size)
  }

  test("sorted-merge intersect kernel == array_intersect size (d6/d11/x31 verify)") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 300).map { i =>
      def arr() = Queries.Kernels.sortedDistinct(
        Array.fill(rnd.nextInt(60))(rnd.nextInt(40).toLong))
      (i.toLong, arr(), arr())
    } :+ ((300L, Array.empty[Long], Array[Long](1, 2, 3))) :+
      ((301L, Array[Long](5), Array[Long](5)))
    val df = rows.toDF("id", "a", "b")
    val legacy = df.select(col("id"), size(array_intersect(col("a"), col("b"))))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val kernel = df.select(col("id"), Queries.interSizeUdf(col("a"), col("b")))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(kernel == legacy)
  }

  test("BigDecimal.valueOf HALF_UP == Spark round(double, 6) (s5 distances)") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(13)
    // magnitudes spanning the squared-distance domain plus half-way points
    val vals = (0 until 2000).map(_ => rnd.nextDouble() * math.pow(10, rnd.nextInt(6) - 2)) ++
      Seq(0.0, 1.2345665, 1.2345675, 0.0000005, 123.4567895, 1e-9)
    val viaSpark = vals.toDF("v").select(round(col("v"), 6)).collect().map(_.getDouble(0))
    val viaKernel = vals.map(v => java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
    assert(viaSpark.toSeq == viaKernel)
  }

  test("k-means kernel == legacy expression pipeline (s5 training + assignment)") {
    import org.apache.spark.sql.expressions.Window
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("emb"))
    def legacyAssign(cent: org.apache.spark.sql.DataFrame) = {
      val sqDist = round(aggregate(zip_with(col("cv"), col("emb"),
        (c, x) => (x - c) * (x - c)), lit(0.0), (acc, x) => acc + x), 6)
      val wAssign = Window.partitionBy("vec_id").orderBy(col("cdist").asc, col("cid").asc)
      e.join(broadcast(cent))
        .select(col("vec_id"), col("emb"), col("cid"), sqDist.as("cdist"))
        .withColumn("crank", row_number().over(wAssign))
    }
    def legacyCentroids(iters: Int) = {
      var cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("emb").as("cv"))
      for (_ <- 0 until iters) {
        cent = legacyAssign(cent).filter(col("crank") === 1)
          .select(col("cid"), col("vec_id"), posexplode(col("emb")).as(Seq("i", "x")))
          .groupBy("cid", "i")
          .agg((aggregate(
            transform(array_sort(collect_list(struct(col("vec_id"), col("x")))),
              s => s.getField("x")),
            lit(0.0), (acc, v) => acc + v) / count(lit(1))).as("m"))
          .groupBy("cid")
          .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
            s => s.getField("m")).as("cv"))
      }
      cent
    }
    def centRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("cid").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toList)).toSeq
    // trained codebooks bit-identical after 3 Lloyd rounds
    assert(centRows(Queries.kmeansCentroids(e, 3)) == centRows(legacyCentroids(3)))
    // and the full final assignment (dist + rank per vector x centroid)
    def assignRows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cid", "cdist", "crank").orderBy("vec_id", "cid")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(assignRows(Queries.kmeansAssign(e, Queries.kmeansCentroids(e, 3))) ==
      assignRows(legacyAssign(legacyCentroids(3))))
  }

  test("cosine + sign-bucket kernels == legacy HOF expressions (s1-s4/d7, s5 search)") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(17)
    val rows = (0L until 200L).map { i =>
      (i, Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat),
        Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat))
    }
    val df = rows.toDF("id", "a", "b")
    // float cosine: zip_with multiplies in FLOAT, aggregate accumulates
    // the widened products in order
    val dot = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(col("a"), lit(0.0), (acc, x) => acc + x * x))
    val nb = sqrt(aggregate(col("b"), lit(0.0), (acc, x) => acc + x * x))
    val legacyCos = df.select(col("id"), round(dot / (na * nb), 6))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val kernelCos = df.select(col("id"), Queries.cosSim6FUdf(col("a"), col("b")))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(kernelCos == legacyCos)
    // double cosine (s5 search path)
    val dd = df.select(col("id"),
      transform(col("a"), x => x.cast("double")).as("a"),
      transform(col("b"), x => x.cast("double")).as("b"))
    val legacyCosD = dd.select(col("id"), round(dot / (na * nb), 6))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val kernelCosD = dd.select(col("id"), Queries.cosSim6DUdf(col("a"), col("b")))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(kernelCosD == legacyCosD)
    // 8-plane sign bucket (s2/s3): the legacy per-plane projection
    val planes = (0 until 8).map { k =>
      val proj = aggregate(
        zip_with(col("a"),
          transform(sequence(lit(0), size(col("a")) - 1),
            i => cos(i.cast("double") * (k + 1) * 0.7 + k)),
          (x, h) => x * h),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L << k)).otherwise(lit(0L))
    }
    val legacyBucket = df.select(col("id"), planes.reduce(_ + _))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val kernelBucket = df.select(col("id"), Queries.signBucket8Udf(col("a")))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(kernelBucket == legacyBucket)
    // and on the real embeddings table, not just synthetic vectors
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val le = e.select(col("vec_id"),
      (0 until 8).map { k =>
        val proj = aggregate(
          zip_with(col("embedding"),
            transform(sequence(lit(0), size(col("embedding")) - 1),
              i => cos(i.cast("double") * (k + 1) * 0.7 + k)),
            (x, h) => x * h),
          lit(0.0), (acc, x) => acc + x)
        when(proj > 0, lit(1L << k)).otherwise(lit(0L))
      }.reduce(_ + _).as("bkt"))
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val ke = e.select(col("vec_id"), Queries.signBucket8Udf(col("embedding")).as("bkt"))
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ke == le)
  }

  test("kernels preserve legacy null/NaN/degenerate-input semantics") {
    val sp = spark
    import sp.implicits._
    // zero vectors: under Spark 4's default ANSI mode the LEGACY
    // expression FAILS the whole query (Divide throws DIVIDE_BY_ZERO on
    // the 0-norm denominator — pinned here); the kernel instead yields
    // the IEEE NaN, which every >= / top-k filter then drops. Strictly
    // more total on degenerate embeddings (d7's own comments name the
    // zero-vector failure mode), identical on all non-degenerate data.
    val zeros = Seq((1L, Array.fill(8)(0.0f), Array.fill(8)(1.0f)),
      (2L, Array.fill(8)(0.0f), Array.fill(8)(0.0f)))
      .toDF("id", "a", "b")
    val dot = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(col("a"), lit(0.0), (acc, x) => acc + x * x))
    val nb = sqrt(aggregate(col("b"), lit(0.0), (acc, x) => acc + x * x))
    intercept[Exception] {
      zeros.select(col("id"), round(dot / (na * nb), 6)).collect()
    }
    // the kernel yields NULL (not NaN: Spark orders NaN above everything,
    // so a NaN sim would pass >= thresholds as a spurious top match)
    val kernelNull = zeros.select(col("id"), Queries.cosSim6FUdf(col("a"), col("b")))
      .orderBy("id").collect().map(_.isNullAt(1)).toSeq
    assert(kernelNull == Seq(true, true))
    // and the null rows are DROPPED by a >= filter — no spurious matches
    assert(zeros.filter(Queries.cosSim6FUdf(col("a"), col("b")) >= 0.9).count() == 0)
    // null arrays: legacy expressions null-propagate; kernels must return
    // null (never NPE) for cosine, intersect-size and sign buckets
    val withNulls = Seq(
      (1L, Array(1.0f, 2.0f), null.asInstanceOf[Array[Float]]),
      (2L, null.asInstanceOf[Array[Float]], Array(1.0f, 2.0f)),
      (3L, Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("id", "a", "b")
    val cos = withNulls.select(Queries.cosSim6FUdf(col("a"), col("b")))
      .collect().map(r => r.isNullAt(0)).toSeq
    assert(cos == Seq(true, true, false))
    val nullsL = Seq((1L, Array(1L, 2L), null.asInstanceOf[Array[Long]]))
      .toDF("id", "a", "b")
    assert(nullsL.select(Queries.interSizeUdf(col("a"), col("b")))
      .collect().head.isNullAt(0))
    assert(withNulls.select(Queries.signBucket8Udf(col("b")))
      .collect().map(_.isNullAt(0)).toSeq == Seq(true, false, false))
    // ragged lengths: legacy zip_with pads with null -> null sim; the
    // kernel returns null for unequal lengths
    val ragged = Seq((1L, Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f)))
      .toDF("id", "a", "b")
    val legacyRag = ragged.select(round(dot / (na * nb), 6)).collect().head.isNullAt(0)
    val kernelRag = ragged.select(Queries.cosSim6FUdf(col("a"), col("b")))
      .collect().head.isNullAt(0)
    assert(legacyRag && kernelRag)
    // dim > 64: the sign-bucket kernel must reproduce the legacy
    // full-length projection, not truncate at the precomputed table
    val rnd = new scala.util.Random(23)
    val wide = (0L until 20L).map(i => (i, Array.fill(100)((rnd.nextDouble() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding")
    val legacyWide = wide.select(col("vec_id"), signPlanes(col("embedding")).reduce(_ + _))
      .orderBy("vec_id").collect().map(_.getLong(1)).toSeq
    val kernelWide = wide.select(col("vec_id"),
      Queries.signBucket8Udf(col("embedding"))).orderBy("vec_id")
      .collect().map(_.getLong(1)).toSeq
    assert(kernelWide == legacyWide)
  }

  test("bigram + PII kernels == legacy regex expressions (t10, t6)") {
    val sp = spark
    import sp.implicits._
    val pii = Seq(
      "contact user7@example.com or 10.0.12.7 ext 555-0142",
      "a@b.co c@d.org 1.2.3.4 999-9999 no match here",
      "overlap 10.0.0.110.0.0.2 edge a@b.cd.",
      "") ++ samples
    val df = pii.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
    // t10 bigrams
    val w = regexp_extract_all(col("text"), lit("\\S+"), lit(0))
    val bigrams = when(size(col("w")) >= 2,
      transform(sequence(lit(1), size(col("w")) - 1),
        i => concat(element_at(col("w"), i), lit(" "), element_at(col("w"), i + 1))))
      .otherwise(array().cast("array<string>"))
    val legacyBg = df.select(col("doc_id"), w.as("w"))
      .select(col("doc_id"), bigrams.as("bg")).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toSeq
    val kernelBg = df.select(col("doc_id"),
      graft.spark.Queries.bigramsUdf(col("text")).as("bg")).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toSeq
    assert(kernelBg == legacyBg)
    // t6 PII counts + redacted md5 (same regexes, same replacement order)
    val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val PhoneRe = "\\b\\d{3}-\\d{4}\\b"
    val legacyPii = df.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))),
      size(regexp_extract_all(col("text"), lit(Ipv4Re), lit(0))),
      size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))),
      md5(regexp_replace(regexp_replace(regexp_replace(col("text"),
        EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), PhoneRe, "<PHONE>")))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toSeq
    val kernelPii = df.select(col("doc_id"),
      graft.spark.Queries.piiUdf(col("text")).as("p"))
      .select(col("doc_id"), col("p.emails"), col("p.ips"), col("p.phones"),
        col("p.redacted_md5"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toSeq
    assert(kernelPii == legacyPii)
    // the PII rows really contain matches (the pin is not vacuous)
    assert(kernelPii.take(2).map(_._2).sum >= 3)
  }

  test("3-gram kernel == legacy substring expression incl. short-text quirk (d4)") {
    val legacy = df().select(col("doc_id"),
      expr("size(array_distinct(transform(sequence(1, greatest(length(text) - 2, 0)), i -> substring(text, i, 3))))")
        .as("g3"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val kernel = df().select(col("doc_id"), Queries.gram3Udf(col("text")).as("g3"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(kernel == legacy)
    // the quirk rows really are in the sample set (len <= 2 -> 1)
    assert(kernel.take(4).map(_._2).forall(_ == 1))
  }

  test("inParallel returns the caller arm's value; both failing keeps both errors") {
    assert(Queries.inParallel((), 42) == 42)
    val child = new IllegalStateException("child arm")
    val caller = intercept[IllegalArgumentException] {
      Queries.inParallel(throw child, throw new IllegalArgumentException("caller arm"))
    }
    assert(caller.getMessage == "caller arm")
    assert(caller.getSuppressed.toSeq == Seq(child))
  }
}
