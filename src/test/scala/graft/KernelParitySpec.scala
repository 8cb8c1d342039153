package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.spark.{PairKernels, Queries}

/** Round-7 optimization guard: the compiled kernels (Queries.Kernels,
  * the *Udf columns and the PairKernels expressions) must be
  * VALUE-IDENTICAL to the legacy Catalyst higher-order-function
  * expressions they replaced — that identity is what keeps every DuckDB
  * oracle and every result checksum unchanged. Pinned on
  * adversarial strings (unicode incl. non-BMP, empties, whitespace runs,
  * hash-heavy repetition) AND on deterministic pseudo-corpus rows. */
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

  private lazy val tmp = java.nio.file.Files.createTempDirectory("kernel_parity").toFile

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  /** `df` written to parquet and read back: arrays come back as
    * `containsNull = true` and are read by the vectorized reader — the
    * signature index's real shape and the one x31's verify reads. */
  private def viaParquet(df: DataFrame, name: String): DataFrame = {
    val path = new java.io.File(tmp, name).getPath
    df.write.mode("overwrite").parquet(path)
    val back = spark.read.parquet(path)
    assert(back.schema.fields.exists(f => f.dataType match {
      case a: ArrayType => a.containsNull
      case _ => false
    }), back.schema.treeString)
    back
  }

  /** Asserts `rows(q)` == `legacy` under Catalyst's generated path
    * (CODEGEN_ONLY, whole-stage codegen on) and its interpreted path
    * (NO_CODEGEN, whole-stage off). ConvertToLocalRelation is excluded:
    * it would otherwise fold a projection over a local Seq at
    * optimization time, interpreted, under both modes. The pair kernels
    * must sit in a `*(n)` codegen stage exactly on the generated path. */
  private def pinBothPaths[T](legacy: T)(q: => DataFrame)(rows: Array[Row] => T): Unit =
    for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> true, "NO_CODEGEN" -> false)) {
      val confs = Seq("spark.sql.codegen.factoryMode" -> mode,
        "spark.sql.codegen.wholeStage" -> wholeStage.toString,
        "spark.sql.optimizer.excludedRules" ->
          "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
      val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      try {
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        val df = q
        assert(rows(df.collect()) == legacy, mode)
        // after execution: AQE's final plan, not the initial one it also prints
        val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
        val kernelLines = plan.linesIterator.filter(l =>
          Seq("inter_size(", "cos_sim6_f(", "cos_sim6_d(").exists(l.contains)).toSeq
        assert(kernelLines.nonEmpty, plan)
        assert(kernelLines.forall(_.contains("*(")) == wholeStage, s"$mode:\n$plan")
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

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

  // ---- the legacy expression forms the kernels replaced ----

  /** Row-local distinct-token array (whitespace split, empties dropped). */
  private def toksCol: Column =
    array_distinct(filter(split(col("text"), "\\s+"), x => length(x) > 0))

  /** Row-local minhash permutation: min over the token-hash array of
    * (x*a + b) mod p. */
  private def minPerm(xs: Column, a: Long, b: Long): Column =
    array_min(transform(xs, x => pmod(x * a + b, lit(1000000007L))))

  /** 60-bit 8-token shingle keys over the token-hash array `th`: two
    * independent rolling folds mod 1e9+7 combined into one long (the
    * arithmetic Queries.duckShingle replays in DuckDB). */
  private def shingleGramsCol: Column = {
    def roll(m: Long)(i: Column) =
      aggregate(slice(col("th"), i, lit(8)), lit(7L),
        (a, x) => pmod(a * m + x, lit(1000000007L)))
    when(size(col("th")) >= 8,
      array_distinct(transform(sequence(lit(1), size(col("th")) - 7),
        i => roll(131)(i) * 1000000007L + roll(137)(i))))
      .otherwise(array().cast("array<bigint>"))
  }

  test("minhash signature kernel == legacy expression (d2/d5/d10 path)") {
    val legacy = df()
      .select(col("doc_id"),
        transform(toksCol, tok => Queries.tokenHashCol(tok)).as("xs"))
      .filter(size(col("xs")) > 0)
      .select(col("doc_id"),
        minPerm(col("xs"), 1299721, 104729).as("mh0"),
        minPerm(col("xs"), 7919, 7507).as("mh1"),
        minPerm(col("xs"), 104183, 337).as("mh2"),
        minPerm(col("xs"), 909091, 5861).as("mh3"))
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
        transform(toksCol, tok => Queries.tokenHashCol(tok)).as("xs"))
      .filter(size(col("xs")) > 0)
      .select(col("doc_id"),
        array_sort(array_distinct(col("xs"))).as("hs"),
        md5(concat_ws(":", minPerm(col("xs"), 1299721, 104729),
          minPerm(col("xs"), 7919, 7507))).as("band0"),
        md5(concat_ws(":", minPerm(col("xs"), 104183, 337),
          minPerm(col("xs"), 909091, 5861))).as("band1"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getString(2), r.getString(3))).toSeq
    val kernel = Queries.sigKeyed(df()).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getString(2), r.getString(3))).toSeq
    assert(kernel == legacy)
  }

  test("simhash kernel == legacy nested-aggregate expression (d3)") {
    val legacy = df()
      .select(col("doc_id"),
        transform(toksCol, tok => Queries.tokenHashCol(tok)).as("xs"))
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
      .select(col("doc_id"), shingleGramsCol.as("g"))
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
        transform(toksCol, tok => Queries.tokenHashCol(tok)).as("xs"))
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
    } ++ Seq(
      (300L, Array.empty[Long], Array[Long](1, 2, 3)),
      (301L, Array[Long](5), Array[Long](5)),
      (302L, Array.empty[Long], Array.empty[Long]),
      // a 100,000-element pair: evens vs multiples of 3 -> 33,334 common
      (303L, Array.tabulate(100000)(i => 2L * i), Array.tabulate(100000)(i => 3L * i)))
    val mem = rows.toDF("id", "a", "b")
    for (df <- Seq(mem, viaParquet(mem, "inter"))) {
      val legacy = df.select(col("id"), size(array_intersect(col("a"), col("b"))))
        .orderBy("id").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      assert(legacy.last == ((303L, 33334)))
      pinBothPaths(legacy)(
        df.select(col("id"), PairKernels.interSize(col("a"), col("b"))).orderBy("id")) {
        _.map(r => (r.getLong(0), r.getInt(1))).toSeq
      }
      // inside a broadcast join's condition, as x31 runs it: each streamed
      // row's array meets ~100 build rows, in either argument position
      val l = df.filter(col("id") < 300).select((col("id") % 3).as("k"), col("a"))
      val r = df.filter(col("id") < 300).select((col("id") % 3).as("k2"), col("b"))
      val legacyJ = size(array_intersect(col("a"), col("b")))
      assert(l.join(broadcast(r), col("k") === col("k2")).count() == 30000)
      pinBothPaths(0L)(l.join(broadcast(r), col("k") === col("k2") &&
        (PairKernels.interSize(col("a"), col("b")) =!= legacyJ ||
          PairKernels.interSize(col("b"), col("a")) =!= legacyJ)))(_.length.toLong)
    }
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
    def cosRows(rs: Array[Row]) = rs.map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // plus a 100,000-element pair; in memory and read back from parquet
    val big = Seq((200L, Array.fill(100000)((rnd.nextDouble() * 2 - 1).toFloat),
      Array.fill(100000)((rnd.nextDouble() * 2 - 1).toFloat))).toDF("id", "a", "b")
    val withBig = df.unionByName(big)
    for (src <- Seq(withBig, viaParquet(withBig, "cos"))) {
      val legacyF = src.select(col("id"), round(dot / (na * nb), 6)).orderBy("id").collect()
      pinBothPaths(cosRows(legacyF))(
        src.select(col("id"), PairKernels.cosSim6F(col("a"), col("b"))).orderBy("id"))(cosRows)
      // double cosine (s5 search path); checkpointed, because a projection
      // holding the interpreted transform() never enters a codegen stage
      val dd = src.select(col("id"),
        transform(col("a"), x => x.cast("double")).as("a"),
        transform(col("b"), x => x.cast("double")).as("b")).localCheckpoint()
      val legacyD = dd.select(col("id"), round(dot / (na * nb), 6)).orderBy("id").collect()
      pinBothPaths(cosRows(legacyD))(
        dd.select(col("id"), PairKernels.cosSim6D(col("a"), col("b"))).orderBy("id"))(cosRows)
    }
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
    // zero and empty vectors: under Spark 4's default ANSI mode the
    // LEGACY expression FAILS the whole query (Divide throws
    // DIVIDE_BY_ZERO on the 0-norm denominator — pinned here); the kernel
    // instead yields NULL (not NaN: Spark orders NaN above everything, so
    // a NaN sim would pass >= thresholds as a spurious top match), which
    // every >= / top-k filter then drops. Strictly more total on
    // degenerate embeddings (d7's own comments name the zero-vector
    // failure mode), identical on all non-degenerate data.
    val zeros = Seq((1L, Array.fill(8)(0.0f), Array.fill(8)(1.0f)),
      (2L, Array.fill(8)(0.0f), Array.fill(8)(0.0f)),
      (3L, Array.empty[Float], Array.empty[Float]))
      .toDF("id", "a", "b")
    val dot = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(col("a"), lit(0.0), (acc, x) => acc + x * x))
    val nb = sqrt(aggregate(col("b"), lit(0.0), (acc, x) => acc + x * x))
    intercept[Exception] {
      zeros.select(col("id"), round(dot / (na * nb), 6)).collect()
    }
    def nullFlags(rs: Array[Row]) = rs.map(_.isNullAt(1)).toSeq
    val asDouble = (d: DataFrame) => d.select(col("id"),
      transform(col("a"), x => x.cast("double")).as("a"),
      transform(col("b"), x => x.cast("double")).as("b")).localCheckpoint() // see cosine test
    pinBothPaths(Seq(true, true, true))(
      zeros.select(col("id"), PairKernels.cosSim6F(col("a"), col("b"))).orderBy("id"))(nullFlags)
    pinBothPaths(Seq(true, true, true))(asDouble(zeros)
      .select(col("id"), PairKernels.cosSim6D(col("a"), col("b"))).orderBy("id"))(nullFlags)
    // and the null rows are DROPPED by a >= filter — no spurious matches
    pinBothPaths(0)(zeros.filter(PairKernels.cosSim6F(col("a"), col("b")) >= 0.9))(_.length)
    // null arrays: legacy expressions null-propagate; kernels must return
    // null (never NPE) for cosine, intersect-size and sign buckets
    val withNulls = Seq(
      (1L, Array(1.0f, 2.0f), null.asInstanceOf[Array[Float]]),
      (2L, null.asInstanceOf[Array[Float]], Array(1.0f, 2.0f)),
      (3L, Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("id", "a", "b")
    pinBothPaths(Seq(true, true, false))(withNulls
      .select(col("id"), PairKernels.cosSim6F(col("a"), col("b"))).orderBy("id"))(nullFlags)
    pinBothPaths(Seq(true, true, false))(asDouble(withNulls)
      .select(col("id"), PairKernels.cosSim6D(col("a"), col("b"))).orderBy("id"))(nullFlags)
    val nullsL = Seq((1L, Array(1L, 2L), null.asInstanceOf[Array[Long]]),
      (2L, null.asInstanceOf[Array[Long]], Array(1L, 2L))).toDF("id", "a", "b")
    pinBothPaths(Seq(true, true))(nullsL
      .select(col("id"), PairKernels.interSize(col("a"), col("b"))).orderBy("id"))(nullFlags)
    assert(withNulls.select(Queries.signBucket8Udf(col("b")))
      .collect().map(_.isNullAt(0)).toSeq == Seq(true, false, false))
    // ragged lengths: legacy zip_with pads with null -> null sim; the
    // kernel returns null for unequal lengths
    val ragged = Seq((1L, Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f)))
      .toDF("id", "a", "b")
    assert(ragged.select(round(dot / (na * nb), 6)).collect().head.isNullAt(0))
    pinBothPaths(Seq(true))(
      ragged.select(col("id"), PairKernels.cosSim6F(col("a"), col("b"))))(nullFlags)
    pinBothPaths(Seq(true))(asDouble(ragged)
      .select(col("id"), PairKernels.cosSim6D(col("a"), col("b"))))(nullFlags)
    // null ELEMENTS, in memory and read back from parquet. The legacy
    // cosine null-propagates (zip_with's product and aggregate's sum over
    // a null are null) and so does the kernel. The Scala UDFs these
    // expressions replaced FAILED the task here
    // (NOT_NULL_ASSERT_VIOLATION while deserializing into a primitive
    // array); the intersect now returns null instead, which keeps the
    // verify total. There it deliberately differs from the legacy
    // array_intersect, which counts null as a value: signature arrays
    // never hold a null.
    val nullElems = spark.sql("""SELECT * FROM VALUES
      (1L, array(1L, CAST(NULL AS BIGINT), 3L), array(1L, 2L, 3L),
        array(CAST(1 AS FLOAT), CAST(NULL AS FLOAT)), array(CAST(1 AS FLOAT), CAST(2 AS FLOAT))),
      (2L, array(1L, 2L, 3L), array(CAST(NULL AS BIGINT), 5L),
        array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)), array(CAST(NULL AS FLOAT), CAST(2 AS FLOAT)))
      AS t(id, la, lb, a, b)""")
    for (src <- Seq(nullElems, viaParquet(nullElems, "null_elems"))) {
      assert(src.select(col("id"), size(array_intersect(col("la"), col("lb"))))
        .orderBy("id").collect().map(_.getInt(1)).toSeq == Seq(2, 0))
      pinBothPaths(Seq(true, true))(src
        .select(col("id"), PairKernels.interSize(col("la"), col("lb"))).orderBy("id"))(nullFlags)
      assert(src.select(col("id"), round(dot / (na * nb), 6)).orderBy("id")
        .collect().forall(_.isNullAt(1)))
      pinBothPaths(Seq(true, true))(src
        .select(col("id"), PairKernels.cosSim6F(col("a"), col("b"))).orderBy("id"))(nullFlags)
      pinBothPaths(Seq(true, true))(asDouble(src)
        .select(col("id"), PairKernels.cosSim6D(col("a"), col("b"))).orderBy("id"))(nullFlags)
    }
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
    assert(Queries.inParallel(spark)((), 42) == 42)
    val child = new IllegalStateException("child arm")
    val caller = intercept[IllegalArgumentException] {
      Queries.inParallel(spark)(throw child, throw new IllegalArgumentException("caller arm"))
    }
    assert(caller.getMessage == "caller arm")
    assert(caller.getSuppressed.toSeq == Seq(child))
  }

  test("inParallel cancels the child arm's job when the caller arm fails") {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val caller = intercept[IllegalArgumentException] {
      Queries.inParallel(spark)(
        // one task that runs until it is killed; the 120 s cap turns a
        // regression into a failed assertion below instead of a hung suite
        sc.parallelize(Seq(1), 1).foreach { _ =>
          val tc = org.apache.spark.TaskContext.get()
          val end = System.nanoTime() + 120L * 1000000000L
          while (!tc.isInterrupted() && System.nanoTime() < end) Thread.sleep(10)
        }, {
          val end = System.nanoTime() + 60L * 1000000000L
          while (sc.statusTracker.getActiveJobIds().isEmpty && System.nanoTime() < end)
            Thread.sleep(10)
          throw new IllegalArgumentException("caller arm")
        })
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 30, s"inParallel took $secs s to rethrow")
    assert(caller.getMessage == "caller arm")
    assert(caller.getSuppressed.exists(e =>
      e.isInstanceOf[org.apache.spark.SparkException] && e.getMessage.contains("cancelled")),
      caller.getSuppressed.map(_.toString).mkString("\n"))
  }
}
