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
  import KernelParitySpec._

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

  /** The legacy sign-LSH plane expressions over column `c`: planes
    * `first until first + planes`, plane k's full-length projection > 0
    * setting bit k - first (s2/s3: 8 planes; d7: 64, band j = the 16
    * from 16j). */
  private def signPlanes(c: Column, planes: Int, first: Int = 0): Seq[Column] =
    (first until first + planes).map { k =>
      val proj = aggregate(
        zip_with(c,
          transform(sequence(lit(0), size(c) - 1),
            i => cos(i.cast("double") * (k + 1) * 0.7 + k)),
          (x, h) => x * h),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L << (k - first))).otherwise(lit(0L))
    }

  /** signBits(8) (s2/s3), signBits(64) and d7's four band keys over
    * `c` == the legacy plane expressions, per row of `d` keyed by `id`. */
  private def pinSignBits(d: DataFrame, id: String, c: String): Unit = {
    val bits = Queries.signBits(64)(col(c))
    val kernel = d.select(col(id) +: Queries.signBits(8)(col(c)) +: bits +:
      (0 until 4).map(j => Queries.signBand(bits, j)): _*)
    val legacy = d.select(col(id) +: signPlanes(col(c), 8).reduce(_ + _) +:
      signPlanes(col(c), 64).reduce(_ + _) +:
      (0 until 4).map(j => signPlanes(col(c), 16, 16 * j).reduce(_ + _)): _*)
    assert(kernel.orderBy(id).collect().toSeq == legacy.orderBy(id).collect().toSeq)
  }

  private def df() = {
    val sp = spark
    import sp.implicits._
    samples.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
  }

  // ---- the legacy expression forms the kernels replaced ----

  /** Token hash: fold (acc*31 + charcode) % 1000000007 over the token's
    * chars (Queries.Kernels.tokenHash; c6 hashes the url with it). */
  private def tokenHashCol(tok: Column): Column =
    aggregate(
      sequence(lit(1), length(tok)),
      lit(7L),
      (acc, i) => pmod(acc * 31 + ascii(substring(tok, i, lit(1))).cast("long"), lit(1000000007L)))

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

  /** The legacy MinHash signature columns over `df()`: doc_id, hs,
    * mh0..mh3, band0, band1 for every row with >= 1 token. */
  private def legacySig(): DataFrame =
    df()
      .select(col("doc_id"),
        transform(toksCol, tok => tokenHashCol(tok)).as("xs"))
      .filter(size(col("xs")) > 0)
      .select(col("doc_id"),
        array_sort(array_distinct(col("xs"))).as("hs"),
        minPerm(col("xs"), 1299721, 104729).as("mh0"),
        minPerm(col("xs"), 7919, 7507).as("mh1"),
        minPerm(col("xs"), 104183, 337).as("mh2"),
        minPerm(col("xs"), 909091, 5861).as("mh3"),
        md5(concat_ws(":", minPerm(col("xs"), 1299721, 104729),
          minPerm(col("xs"), 7919, 7507))).as("band0"),
        md5(concat_ws(":", minPerm(col("xs"), 104183, 337),
          minPerm(col("xs"), 909091, 5861))).as("band1"))

  test("token hash kernel == legacy expression on every non-empty string") {
    // c6 hashes the url with the kernel; on "" the expression folds over
    // sequence(1, 0) = [1, 0] and differs from the kernel's (and DuckDB's) 7
    val sp = spark
    import sp.implicits._
    val rows = samples.toDF("s").select(col("s"), tokenHashCol(col("s")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((s, h) <- rows if s.nonEmpty) assert(Queries.Kernels.tokenHash(s) == h, s)
    assert(Queries.Kernels.tokenHash("") == 7L && rows("") != 7L)
  }

  test("minhash signature kernel == legacy expression (d2/d5/d10 path)") {
    // d2's own output (d5 groups on its band0, d10 links on band0/band1),
    // run end to end on the samples written as a documents table
    val dir = new java.io.File(tmp, "d2").getPath
    df().write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cols = Seq("doc_id", "mh0", "mh1", "mh2", "mh3", "band0", "band1")
    val kernel = Queries.all("d2_minhash_lsh").fn(spark, dir)
    assert(kernel.columns.toSeq == cols, kernel.columns.mkString(","))
    def rows(d: DataFrame) = d.select(cols.map(col): _*).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), (1 to 4).map(r.getLong), r.getString(5), r.getString(6))).toSeq
    assert(rows(kernel) == rows(legacySig()))
  }

  test("full signature kernel == legacy hs/band expressions (sigKeyed path)") {
    // the one MinHash frame: d2/d5/d10 read mh0..mh3 and the band keys,
    // d6/d11/x31 the hash set and the band keys
    val cols = Seq("doc_id", "hs", "mh0", "mh1", "mh2", "mh3", "band0", "band1")
    val legacy = legacySig()
    val kernel = Queries.sigKeyed(df())
    assert(kernel.columns.toSet == cols.toSet, kernel.columns.mkString(","))
    def rows(d: DataFrame) = d.select(cols.map(col): _*).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), (2 to 5).map(r.getLong),
        r.getString(6), r.getString(7))).toSeq
    assert(rows(kernel) == rows(legacy))
  }

  test("simhash kernel == legacy nested-aggregate expression (d3)") {
    val legacy = df()
      .select(col("doc_id"),
        transform(toksCol, tok => tokenHashCol(tok)).as("xs"))
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
      .select(col("doc_id"), transform(w, tok => tokenHashCol(tok)).as("th"))
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
        transform(toksCol, tok => tokenHashCol(tok)).as("xs"))
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
      // inside a broadcast join's condition: each streamed
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

  /** The full verify the first-hit walk is pinned against (d11 ran it
    * until the walk replaced it): every candidate pair of two
    * [[Queries.bandedSigs]]-shaped frames joined on `band` (with `below`,
    * only doc_a < doc_b), through first-band-wins (a band-1 match counts
    * only when the band0s differ) and `3·|a∩b| ≥ |a|+|b|` as Catalyst
    * expressions. Returns the verified (doc_b, doc_a, ...) pairs. */
  private def verifiedNearDups(probe: DataFrame, index: DataFrame, below: Boolean): DataFrame = {
    val p = probe.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"),
      col("b0").as("b0b"), col("band"),
      (substring(col("band"), 1, 2) === "0:").as("is0"))
    val i = index.select(col("band"), col("doc_id").as("doc_a"),
      col("hs").as("hs_a"), col("b0").as("b0a"))
    val pairs = p.join(i, "band")
    (if (below) pairs.filter(col("doc_a") < col("doc_b")) else pairs)
      .filter(col("is0") || col("b0a") =!= col("b0b"))
      .filter(PairKernels.interSize(col("hs_a"), col("hs_b")) * 3 >=
        size(col("hs_a")) + size(col("hs_b")))
  }

  test("first-hit walk == full verify + min(doc_a) (d11, x31)") {
    val sp = spark
    import sp.implicits._
    def minPerProbe(pairs: DataFrame): Map[Long, Long] =
      pairs.groupBy("doc_b").agg(min("doc_a")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def full(probe: DataFrame, index: DataFrame, below: Boolean = false) =
      minPerProbe(verifiedNearDups(probe, index, below))
    // a null ELEMENT in `hs` for the doc ids in `nulls`; read back from
    // parquet the arrays are containsNull = true, as the index is
    def frame(rows: Seq[(Long, Array[Long], String, String)], nulls: Set[Long], name: String) =
      viaParquet(rows.toDF("doc_id", "hs", "b0", "band")
        .withColumn("hs", when(col("doc_id").isin(nulls.toSeq: _*),
          concat(col("hs"), array(lit(null).cast("bigint")))).otherwise(col("hs"))), name)
    // the index spread round-robin over 3 partitions: a band's rows land in several
    def spread(df: DataFrame) = df.repartition(3)
    def bandsOverPartitions(df: DataFrame) =
      df.select(spark_partition_id().as("p"), col("band")).distinct()
        .groupBy("band").count().filter(col("count") > 1).count()

    // constructed buckets, one case each
    def s(xs: Long*) = xs.toArray
    val idx = frame(Seq(
      (1L, s(1, 2, 3), "k0", "1:z"), // same band0 as probe 500: first-band-wins rejects it
      (2L, s(1, 2, 3), "k1", "1:z"),
      (3L, s(1, 2, 3, 4), "t", "0:t"), // 3·2 == 4+2: verifies at the threshold
      (4L, s(7, 8), "e", "0:e"),       // a band-0 hit carries equal band0s
      (9L, s(7, 8), "e", "0:e"),       // a second hit: the walk must report 4, not 9
      (0L, s(5, 6), "n", "0:n"),       // with its null element: never verifies
      (6L, s(5, 6), "n", "0:n")), Set(0L), "walk_idx")
    val probe = frame(Seq(
      (500L, s(1, 2, 3), "k0", "1:z"),
      (501L, s(1, 2), "t", "0:t"),
      (502L, s(7, 8), "e", "0:e"),
      (503L, s(100, 101), "e", "0:e"), // a bucket with no hit
      (504L, s(5, 6), "n", "0:n"),
      (505L, s(1, 2), "x", "0:none")), Set.empty, "walk_probe")
    val want = Map(500L -> 2L, 501L -> 3L, 502L -> 4L, 504L -> 6L)
    assert(full(probe, idx) == want)
    assert(Queries.firstVerifiedNearDups(probe, spread(idx)) == want)

    // within a delta (d11 new<->new): the probe is its own index and only
    // smaller index docs count
    val delta = frame(Seq(
      (10L, s(1, 2, 3), "r", "0:r"),    // doc 10 twice in one bucket: neither
      (10L, s(1, 2, 3, 4), "r", "0:r"), // row may link 10 to itself
      (11L, s(1, 2, 3), "r", "0:r"),
      (20L, s(4, 5), "p", "1:q"),       // its bucket's only hit is 21, larger
      (21L, s(4, 5), "o", "1:q"),
      (30L, s(6, 7), "u", "0:u")), Set.empty, "walk_delta") // verifies only its own row
    val wantDelta = Map(11L -> 10L, 21L -> 20L)
    assert(full(delta, delta, below = true) == wantDelta)
    assert(Queries.firstVerifiedNearDups(delta, spread(delta), below = true) == wantDelta)

    // randomized buckets: few bands and a small token universe, so buckets
    // hold many candidates, several hits each, equal doc ids and misses
    var noHit, multiHit, spanning, repeated, largerOnly, self = 0L
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      def hs() = Queries.Kernels.sortedDistinct(Array.fill(2 + rnd.nextInt(9))(rnd.nextInt(14).toLong))
      def row(doc: Long) = {
        val b0 = s"k${rnd.nextInt(3)}"
        (doc, hs(), b0, if (rnd.nextBoolean()) s"0:$b0" else s"1:k${rnd.nextInt(3)}")
      }
      val index = spread(frame((0 until 150).map(_ => row(rnd.nextInt(70).toLong)),
        Set(5L, 17L, 33L), s"walk_idx_$seed"))
      val probes = frame((0 until 50).map(i => row(1000L + i)), Set(1003L, 1020L), s"walk_probe_$seed")
      val got = Queries.firstVerifiedNearDups(probes, index)
      assert(got == full(probes, index), s"seed $seed")
      val pairs = verifiedNearDups(probes, index, below = false)
      noHit += probes.select(col("doc_id").as("doc_b")).distinct().count() - got.size
      multiHit += pairs.groupBy("doc_b").agg(countDistinct("doc_a").as("n"))
        .filter(col("n") > 1).count()
      spanning += bandsOverPartitions(index)

      val d = frame((0 until 120).map(_ => row(rnd.nextInt(60).toLong)),
        Set(5L, 17L, 33L), s"walk_delta_$seed")
      assert(Queries.firstVerifiedNearDups(d, spread(d), below = true) == full(d, d, below = true),
        s"within, seed $seed")
      val unbounded = verifiedNearDups(d, d, below = false)
      repeated += d.groupBy("band", "doc_id").count().filter(col("count") > 1).count()
      largerOnly += minPerProbe(unbounded.filter(col("doc_a") =!= col("doc_b")))
        .count { case (b, a) => a > b }
      self += unbounded.filter(col("doc_a") === col("doc_b")).count()
    }
    assert(noHit > 0 && multiHit > 0 && spanning > 0, (noHit, multiHit, spanning))
    assert(repeated > 0 && largerOnly > 0 && self > 0, (repeated, largerOnly, self))
  }

  test("one-scan recrawl delta == the four-way union of filtered scans (d11, x31)") {
    val sp = spark
    import sp.implicits._
    // the reference: one filtered scan per delta kind
    def union(docs: DataFrame): DataFrame = {
      val freshText = concat(lit("fresh "), col("doc_id").cast("string"),
        lit(" block "), substring(md5(col("text")), 1, 16))
      docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(10)) === 5)
          .select((col("doc_id") + 100000).as("doc_id"),
            concat(col("text"), lit(" recrawlnote")).as("text")))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(10)) === 1)
          .select((col("doc_id") + 200000).as("doc_id"), freshText.as("text")))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(10)) === 1)
          .select((col("doc_id") + 300000).as("doc_id"), freshText.as("text")))
    }
    // every residue mod 10 on both signs, each with a null, an empty, a
    // blank and a non-BMP text; and null doc_ids
    val texts = Seq(null, "", "  ", "a b a", "ünï 𝔘 c")
    val rows = (-30L to 30L).map(i => (Option(i), texts(((i % 5 + 5) % 5).toInt))) ++
      Seq((None, "orphan"), (None, null))
    val path = new java.io.File(tmp, "recrawl_docs").getPath
    rows.toDF("doc_id", "text").write.mode("overwrite").parquet(path)
    val docs = spark.read.parquet(path)
    def sorted(df: DataFrame) = df.collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), Option(r.getString(1))))
      .sortBy(_.toString).toSeq
    val got = Queries.recrawlDelta(docs)
    val want = union(docs)
    // residue 0: 7 ids in [-30, 30], residue 5: 6, residue 1: 6 twice
    assert(sorted(want).size == 25 && sorted(want).exists(_._2.isEmpty), sorted(want))
    assert(sorted(got) == sorted(want))
    assert(got.schema.map(f => f.name -> f.dataType) == want.schema.map(f => f.name -> f.dataType))
    // one scan of the input (the reference reads it four times)
    def scans(df: DataFrame) = df.queryExecution.optimizedPlan.collectLeaves().size
    assert(scans(got) == 1 && scans(want) == 4, (scans(got), scans(want)))
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
    // sign-LSH bits (s2/s3 bucket, d7 bands): the legacy per-plane
    // projections, on synthetic vectors and on the real embeddings table
    pinSignBits(df, "id", "a")
    pinSignBits(spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
      "vec_id", "embedding")
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
    val bits64 = Queries.signBits(64)(col("b"))
    assert(withNulls.select(col("id") +: Queries.signBits(8)(col("b")) +: bits64 +:
      (0 until 4).map(j => Queries.signBand(bits64, j)): _*).orderBy("id")
      .collect().map(r => (1 to 6).map(r.isNullAt)).toSeq ==
      Seq(true, false, false).map(Seq.fill(6)(_)))
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
    // dim > 64: the sign-bit kernel must reproduce the legacy
    // full-length projection, not truncate at the precomputed table
    val rnd = new scala.util.Random(23)
    pinSignBits((0L until 20L).map(i => (i, Array.fill(100)((rnd.nextDouble() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding"), "vec_id", "embedding")
  }

  test("bigram kernel == legacy regex expression (t10)") {
    val sp = spark
    import sp.implicits._
    val texts = Seq(
      "contact user7@example.com or 10.0.12.7 ext 555-0142",
      "a@b.co c@d.org 1.2.3.4 999-9999 no match here",
      "overlap 10.0.0.110.0.0.2 edge a@b.cd.",
      "") ++ samples
    val df = texts.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
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

  // ---- extraction kernel: header/footer strip and the per-font code table ----

  /** The header/footer strip as it stood before it normalized band lines
    * only (Layout.hs:657-769, quirks included): every line is normalized,
    * band lines twice. The reference expression the one-pass strip is
    * pinned against. */
  private object LegacyHeaderFooter {
    sealed trait Band
    case object Top extends Band
    case object Bottom extends Band
    case object Middle extends Band

    def strip(pageCount: Int, pagesLines: List[List[graft.core.Line]]): List[List[graft.core.Line]] = {
      val threshold = math.max(3, math.min(math.ceil(0.2 * pageCount).toInt, 5))
      val pageInfos = pagesLines.filter(_.nonEmpty).map(ls => (ls, graft.core.Layout.pageBaselineExtent(ls)))
      def countBandCores(band: Band): Map[String, Int] = {
        var m = Map.empty[String, Int]
        for ((ls, extent) <- pageInfos; l <- ls if lineBand(extent, l) == band) {
          val core = normalize(l.text).filter(_ != '#')
          m = m.updated(core, m.getOrElse(core, 0) + 1)
        }
        m
      }
      def repeatedCores(counts: Map[String, Int]): Set[String] =
        if (pageCount >= 3) counts.collect { case (core, c) if c >= threshold => core }.toSet
        else Set.empty
      val repTop = repeatedCores(countBandCores(Top))
      val repBottom = repeatedCores(countBandCores(Bottom))
      def isRemoved(extent: (Double, Double), l: graft.core.Line): Boolean = {
        val band = lineBand(extent, l)
        val norm = normalize(l.text)
        if (band == Middle) false
        else if (graft.core.Layout.isBarePageNumber(norm)) pageCount >= 2
        else (if (band == Top) repTop else repBottom).contains(norm.filter(_ != '#'))
      }
      pagesLines.map { ls =>
        if (ls.isEmpty) ls
        else {
          val extent = graft.core.Layout.pageBaselineExtent(ls)
          val flags = ls.map(isRemoved(extent, _))
          if (ls.length <= 2) {
            if (flags.contains(true)) ls.zip(flags).collect { case (l, false) => l } else ls
          } else ls.zip(flags).collect { case (l, false) => l }
        }
      }
    }

    private def lineBand(extent: (Double, Double), l: graft.core.Line): Band = {
      val (lo, hi) = extent
      val span = hi - lo
      if (span <= 0) Middle
      else if (l.baseline >= hi - 0.15 * span) Top
      else if (l.baseline <= lo + 0.15 * span) Bottom
      else Middle
    }

    def normalize(t: String): String = {
      val noSpace = t.filterNot(graft.core.Util.isHsSpace)
      val digits = new StringBuilder
      var inRun = false
      for (c <- noSpace) {
        if (c >= '0' && c <= '9') {
          if (!inRun) digits.append('#')
          inRun = true
        } else { digits.append(c); inRun = false }
      }
      val d = digits.toString
      val out = new StringBuilder
      var i = 0
      while (i < d.length) {
        var j = i
        while (j < d.length && "ivxlcdmIVXLCDM".indexOf(d.charAt(j)) >= 0) j += 1
        if (j - i > 0 && j - i <= 7) { out.append('#'); i = j }
        else { out.append(d.charAt(i)); i += 1 }
      }
      out.toString
    }
  }

  /** Header/footer-shaped text: page numbers (arabic, roman, "- 4 -",
    * "3/10"), words made of roman letters, '#', running heads, with the
    * separators drawn from hs-space variants. */
  private def headerFooterText(rnd: scala.util.Random): String = {
    val tokens = Vector("civil", "mix", "xiv", "MMXXIV", "mmmmmmmmm", "viiiiiiiii", "Chapter", "Page",
      "Running Header", "Body text", "12", "2024", "1 2", "3", "-", "/", ".", "#", "# 3", "iv.",
      "i", "Dm", "x7y", "第3章", "𝐀", "")
    val seps = Vector("", " ", "  ", " ", "　", "\t", " ")
    (0 until 1 + rnd.nextInt(3)).map(_ => seps(rnd.nextInt(seps.length)) +
      tokens(rnd.nextInt(tokens.length))).mkString + seps(rnd.nextInt(seps.length))
  }

  test("one-pass header/footer normalization == the three-pass reference") {
    val rnd = new scala.util.Random(17)
    val alphabet = "ivxlcdmIVXLCDM0123456789#-/.  　\tab第𝐀"
    val texts = Seq("", " ", "page xiv", "iiiiiiii", "i i i i i i i i", "1 2 3", "x1x", "#12#") ++
      (1 to 3000).map(_ => headerFooterText(rnd)) ++
      (1 to 3000).map(_ => Seq.fill(rnd.nextInt(14))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    for (t <- texts)
      assert(graft.core.Layout.normalizeHeaderFooterText(t) == LegacyHeaderFooter.normalize(t), t)
  }

  test("band-lines-once header/footer strip == the normalize-every-line reference") {
    val rnd = new scala.util.Random(19)
    def line(baseline: Double, text: String) =
      graft.core.Line(baseline, 72, 300, 10, 72, 0, text, Nil, lastSuper = false)
    // a few running heads and foots repeat across pages; body lines vary
    val heads = Vector.fill(4)(headerFooterText(rnd))
    def page(kind: Int): List[graft.core.Line] = kind match {
      case 0 => Nil
      case 1 => List(line(rnd.nextInt(800).toDouble, headerFooterText(rnd)))
      case 2 => List(line(700, heads(rnd.nextInt(heads.length))), line(100, headerFooterText(rnd)))
      case _ =>
        val (lo, hi) = (100.0, 700.0)
        val span = hi - lo
        val body = List.fill(1 + rnd.nextInt(6))(
          line(lo + 1 + rnd.nextInt(598), if (rnd.nextInt(4) == 0) heads(rnd.nextInt(heads.length)) else headerFooterText(rnd)))
        // lines exactly on each 15% band edge, and the extent's own ends
        val edges = List(line(hi - 0.15 * span, heads(rnd.nextInt(heads.length))),
          line(lo + 0.15 * span, headerFooterText(rnd)))
        rnd.shuffle(line(hi, heads(rnd.nextInt(heads.length))) :: line(lo, heads(rnd.nextInt(heads.length))) ::
          (body ++ edges.filter(_ => rnd.nextBoolean())))
    }
    var removedSome = 0
    for (_ <- 1 to 3000) {
      val nPages = Seq(1, 2, 3, 6)(rnd.nextInt(4))
      val pages = List.fill(nPages)(page(rnd.nextInt(5)))
      // applyHeaderFooterStrip counts fallback pages too: pageCount >= pages
      val pageCount = nPages + (if (rnd.nextInt(4) == 0) rnd.nextInt(3) else 0)
      val got = graft.core.Layout.stripHeadersFooters(pageCount, pages)
      assert(got == LegacyHeaderFooter.strip(pageCount, pages), s"pageCount=$pageCount pages=$pages")
      if (got != pages) removedSome += 1
    }
    assert(removedSome > 300, s"only $removedSome of 3000 cases removed a line")
  }

  test("per-font code table == the uncached lookup for every encoding") {
    import graft.core.{Encoding, FontInfo, Interp}
    import scala.collection.immutable.TreeMap
    val diff = Encoding.DiffEncoding(TreeMap(65 -> "/A", 66 -> "/bullet", 67 -> "/uni263A", 68 -> "/uniZZ",
      69 -> "/nosuchglyph", 300 -> "/B", 0x8140 -> "/circle"))
    val encodings = Seq(diff, Encoding.CIDmap("Adobe-Japan1"), Encoding.CIDmap("Adobe-GB1"),
      Encoding.WithCharSet("ZapfDingbats"), Encoding.WithCharSet("Symbol"), Encoding.SJISmap,
      Encoding.UnicodeMap, Encoding.JISmap, Encoding.NullMap)
    val toUnicodes = Seq(Map.empty[Int, String],
      Map(65 -> "Z", 200 -> "fi", 0x3042 -> "あ", 0x10000 -> "𐀀", 0x8140 -> "　"))
    val codes = (0 to 300) ++ Seq(0x3021, 0x3042, 0x8140, 0x889F, 0xE040, 0xFFFF, 0x10000, 0x1F600)
    for (enc <- encodings; tuc <- toUnicodes; bpc <- Seq(1, 2)) {
      val fi = FontInfo(enc, tuc, 0, Vector.empty, Map.empty, Map.empty, FontInfo.DefaultVerticalW1,
        0, bpc, 0, isType0 = bpc == 2)
      for (round <- 1 to 2; code <- codes)
        assert(Interp.codeToUnicode(fi, code) == Interp.codeToUnicodeUncached(fi, code), s"$enc $tuc $bpc $code")
      // the table serves the second lookup, and is no part of equality
      assert(codes.filter(_ < 0x10000).forall(c => Interp.codeToUnicode(fi, c) eq Interp.codeToUnicode(fi, c)))
      assert(fi == fi.copy() && fi.hashCode == fi.copy().hashCode)
    }
  }

  test("counting dominant wmode == the collection expression") {
    import graft.core.{Glyph, Layout}
    val rnd = new scala.util.Random(23)
    for (_ <- 1 to 5000) {
      val gs = List.fill(rnd.nextInt(9))(Glyph("a", 0, 0, 1, 10, "/F", rnd.nextInt(2), None))
      val counts = gs.groupBy(_.wmode).view.mapValues(_.size).toList.sortBy(_._1)
      val expected = if (gs.isEmpty) 0 else counts.filter(_._2 == counts.map(_._2).max).last._1
      assert(Layout.dominantWMode(gs) == expected, gs)
    }
  }

  // ---- the extraction kernel's text path: each rewrite against its old form ----

  private def sameBits(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)

  /** Doubles the layout code must order as the collection methods did. */
  private val edgeDoubles = Vector(0.0, -0.0, 1.0, -1.0, 2.5, 2.5, 7.0, 7.0, 1e300, -1e300,
    Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN, Double.MinPositiveValue)

  private def edgeDouble(rnd: scala.util.Random): Double =
    if (rnd.nextInt(3) == 0) rnd.nextInt(40) - 10.0 else edgeDoubles(rnd.nextInt(edgeDoubles.length))

  /** `Interp.readOperator` as it stood before the packed-key table: a
    * latin1 String per token, then the interned instance of a known one. */
  private object LegacyOperator {
    val knownOps: java.util.HashMap[String, String] = {
      val m = new java.util.HashMap[String, String]
      for (op <- List("q", "Q", "cm", "BT", "ET", "Tf", "Tc", "Tw", "Tz", "TL", "Ts",
        "Tr", "Td", "TD", "Tm", "T*", "Tj", "TJ", "Do", "m", "l", "c", "v", "y",
        "re", "h", "n", "S", "s", "f", "F", "f*", "B", "B*", "b", "b*", "W", "W*",
        "BDC", "BMC", "EMC", "BI", "ID", "EI", "gs", "cs", "CS", "rg", "RG", "g",
        "G", "k", "K", "d", "i", "j", "J", "M", "ri", "sh", "w", "SC", "SCN",
        "sc", "scn", "d0", "d1", "MP", "DP", "BX", "EX", "true", "false", "null"))
        m.put(op, op)
      m
    }

    private def isOpChar(c: Int): Boolean =
      (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '*'

    /** `Interp.readName` as it stood: one StringBuilder append per byte. */
    def readName(cur: graft.core.Cursor): AnyRef = {
      def isWs(c: Int) = c == ' ' || c == '\t' || c == '\r' || c == '\n' || c == '\f'
      def isDelim(c: Int) = "[]()<>/{".indexOf(c) >= 0 && c >= 0
      val start = cur.pos
      cur.pos += 1
      val sb = new StringBuilder("/")
      while (!cur.atEnd && !isWs(cur.peek) && !isDelim(cur.peek)) {
        sb.append(cur.peek.toChar); cur.pos += 1
      }
      if (cur.pos - start > 1) graft.core.PObj.PName(sb.toString)
      else { cur.pos = start; null }
    }

    def read(cur: graft.core.Cursor): AnyRef = {
      val start = cur.pos
      while (!cur.atEnd && isOpChar(cur.peek)) cur.pos += 1
      if (cur.pos == start) null
      else {
        val raw = new String(cur.buf, start, cur.pos - start, java.nio.charset.StandardCharsets.ISO_8859_1)
        val interned = knownOps.get(raw)
        if (interned != null) interned else raw
      }
    }
  }

  test("packed-key operator lookup and in-place names == the String-building reference, known instances kept") {
    import graft.core.{Cursor, Interp}
    val rnd = new scala.util.Random(29)
    val known = LegacyOperator.knownOps.keySet.toArray(new Array[String](0)).toVector
    val others = Vector("T", "Tj*", "TJ*", "Tjj", "B", "BD", "BDCX", "EM", "SCNN", "scnx", "d2", "fals",
      "falsee", "nul", "tru", "truex", "W**", "*", "**", "xyz", "Q1", "12abc", "qQ", "ETBT", "Tf0",
      "longoperatorname", "abcdefgh", "abcdefghi")
    val seps = Vector(" ", "\n", "\t", "(", ")", "[", "]", "<", ">", "/", "{", "}", "%", "'", "\"", "-",
      "+", ".", "\u0000", "\u0080", "\u00e9", "\u00ff")
    val names = Vector("/F1", "/Span", "/MCID", "/a#20b", "/T*", "/\u00e9\u00ff", "/x.y-1", "//")
    def token(): String = rnd.nextInt(4) match {
      case 0 => known(rnd.nextInt(known.length))
      case 1 => others(rnd.nextInt(others.length))
      case 2 => names(rnd.nextInt(names.length))
      case _ => seps(rnd.nextInt(seps.length))
    }
    var knownHits = 0
    var nameHits = 0
    for (_ <- 1 to 3000) {
      val bytes = Seq.fill(1 + rnd.nextInt(8))(token()).mkString
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      for (start <- 0 to bytes.length) {
        val (a, b) = (new Cursor(bytes, start), new Cursor(bytes, start))
        val want = LegacyOperator.read(a)
        val got = Interp.readOperator(b)
        assert(got == want && a.pos == b.pos, s"${new String(bytes, "ISO-8859-1")} @ $start")
        if (want != null && LegacyOperator.knownOps.containsKey(want)) {
          assert(got eq want, s"$want is not the interned instance")
          knownHits += 1
        }
        if (bytes.lift(start).contains('/'.toByte)) {
          val (c, d) = (new Cursor(bytes, start), new Cursor(bytes, start))
          assert(Interp.readName(d) == LegacyOperator.readName(c) && c.pos == d.pos,
            s"${new String(bytes, "ISO-8859-1")} @ $start")
          nameHits += 1
        }
      }
    }
    assert(knownHits > 1500 && nameHits > 1500, s"only $knownHits known-operator tokens, $nameHits names")
  }

  /** The interpreter's text path as it stood with Mats: the text state an
    * `Option[(tm, tlm)]`, six Mats per show, each literal copied to an Int
    * array. Runs a generated op list; path, paint, clip and inline-image
    * ops show nothing and change no state, so it skips them. */
  private object LegacyTextPath {
    import graft.core.{Encoding, FontInfo, Glyph, Interp, Mat}

    final class GS(var ctm: Mat, var fontRes: Option[String], var font: Option[FontInfo],
        var fontSize: Double, var charSp: Double, var wordSp: Double, var hScale: Double,
        var leading: Double, var rise: Double) {
      def copy2: GS = new GS(ctm, fontRes, font, fontSize, charSp, wordSp, hScale, leading, rise)
    }

    def run(ops: Seq[TOp], fonts: Map[String, FontInfo]): List[Glyph] = {
      var gs = new GS(Mat.identity, None, None, 0, 0, 0, 1, 0, 0)
      var stack: List[GS] = Nil
      var ts: Option[(Mat, Mat)] = None
      var mcStack: List[Option[Int]] = Nil
      val out = List.newBuilder[Glyph]

      def textTd(tx: Double, ty: Double): Unit = ts match {
        case None => ()
        case Some((_, tlm)) =>
          val tlm2 = Mat.translate(tx, ty).multiply(tlm)
          ts = Some((tlm2, tlm2))
      }
      def newline(): Unit = textTd(0, -gs.leading)
      def tjKern(k: Double): Unit = ts match {
        case None => ()
        case Some((tm, tlm)) =>
          val wmode = gs.font.map(_.wmode).getOrElse(0)
          val disp = -k / 1000 * gs.fontSize * gs.hScale
          val tm2 =
            if (wmode == 1) Mat.translate(0, disp).multiply(tm)
            else Mat.translate(disp, 0).multiply(tm)
          ts = Some((tm2, tlm))
      }
      def trm(tm: Mat): Mat =
        Mat(gs.fontSize * gs.hScale, 0, 0, gs.fontSize, 0, gs.rise).multiply(tm).multiply(gs.ctm)
      def objBytes(a: TArg): Option[Array[Int]] = a match {
        case TLit(cs) => Some(cs.map(_.toInt).toArray)
        case THex(h) => Some(Interp.hexPairsArr(h))
        case _ => None
      }
      def codesOf(fi: FontInfo, bytes: Array[Int]): Array[Int] = fi.encoding match {
        case Encoding.SJISmap => Interp.sjisBytesToCodesArr(bytes)
        case Encoding.UnicodeMap => Interp.unicodeBytesToCodesArr(bytes)
        case Encoding.JISmap => Interp.jisBytesToCodesArr(bytes)
        case _ if fi.bytesPerCode == 2 => Interp.jisBytesToCodesArr(bytes) // byte pairs
        case _ => bytes
      }
      def show(bytes: Array[Int]): Unit = (ts, gs.font, gs.fontRes) match {
        case (Some((tm, tlm)), Some(fi), Some(fname)) =>
          val codes = codesOf(fi, bytes)
          val originTrm = trm(tm)
          val (ox, oy) = originTrm.apply(0, 0)
          val segSize = { val (vx, vy) = originTrm.applyVec(0, 1); math.sqrt(vx * vx + vy * vy) }
          val text = new StringBuilder
          var e = tm.e
          var f = tm.f
          for (code <- codes) {
            text.append(Interp.codeToUnicode(fi, code))
            var tx = 0.0
            var ty = 0.0
            if (fi.wmode == 1) {
              var w1 = fi.widthV(code)
              if (w1 == 0) w1 = FontInfo.DefaultVerticalW1
              ty = (w1 / 1000) * gs.fontSize + gs.charSp + gs.wordSp
            } else {
              var w0 = fi.width(code)
              if (w0 == 0) w0 = fi.defaultWidth
              val space = if (fi.bytesPerCode == 1 && code == 32) gs.wordSp else 0.0
              tx = ((w0 / 1000) * gs.fontSize + gs.charSp + space) * gs.hScale
            }
            e = tx * tm.a + ty * tm.c + e
            f = tx * tm.b + ty * tm.d + f
          }
          val curTm = Mat(tm.a, tm.b, tm.c, tm.d, e, f)
          val (ex, ey) = trm(curTm).apply(0, 0)
          val width = math.sqrt((ex - ox) * (ex - ox) + (ey - oy) * (ey - oy))
          out += Glyph(text.toString, ox, oy, width, segSize, fname, fi.wmode,
            mcStack.collectFirst { case Some(n) => n })
          ts = Some((curTm, tlm))
        case _ => ()
      }

      for (op <- ops) {
        val n = op.args.collect { case TNum(_, v) => v }
        (op.name, op.args) match {
          case ("q", _) => stack = gs.copy2 :: stack
          case ("Q", _) => stack match {
            case g :: rest => gs = g; stack = rest
            case Nil => ()
          }
          case ("cm", _) => gs.ctm = Mat(n(0), n(1), n(2), n(3), n(4), n(5)).multiply(gs.ctm)
          case ("BT", _) => ts = Some((Mat.identity, Mat.identity))
          case ("ET", _) => ts = None
          case ("Tf", Seq(TName(font), TNum(_, size))) =>
            gs.fontRes = Some(font); gs.font = fonts.get(font); gs.fontSize = size
          case ("Tc", _) => gs.charSp = n(0)
          case ("Tw", _) => gs.wordSp = n(0)
          case ("Tz", _) => gs.hScale = n(0) / 100
          case ("TL", _) => gs.leading = n(0)
          case ("Ts", _) => gs.rise = n(0)
          case ("Td", _) => textTd(n(0), n(1))
          case ("TD", _) => gs.leading = -n(1); textTd(n(0), n(1))
          case ("Tm", _) =>
            val m = Mat(n(0), n(1), n(2), n(3), n(4), n(5))
            ts = Some((m, m))
          case ("T*", _) => if (ts.isDefined) newline()
          case ("Tj", Seq(o)) => objBytes(o).foreach(show)
          case ("TJ", Seq(TArr(elems))) =>
            val shown = elems.map {
              case TNum(_, k) => Some(Left(k))
              case o => objBytes(o).map(Right(_))
            }
            if (shown.forall(_.isDefined)) shown.flatten.foreach {
              case Left(k) => tjKern(k)
              case Right(bs) => show(bs)
            }
          case ("TJ", _) => ()
          case ("'", Seq(o)) => if (ts.isDefined) { newline(); objBytes(o).foreach(show) }
          case ("\"", Seq(TNum(_, aw), TNum(_, ac), o)) =>
            gs.wordSp = aw; gs.charSp = ac
            if (ts.isDefined) { newline(); objBytes(o).foreach(show) }
          case ("BDC", Seq(_, TMcid(n))) => mcStack = Some(n) :: mcStack
          case ("BDC", _) | ("BMC", _) => mcStack = None :: mcStack
          case ("EMC", _) => if (mcStack.nonEmpty) mcStack = mcStack.tail
          case (g, _) if graphicsOps(g) => ()
          case (other, _) => fail(s"no reference for $other")
        }
      }
      out.result()
    }
  }

  /** Path construction, painting and clipping, and the `EI` that closes an
    * inline image. */
  private val graphicsOps = Set("m", "l", "c", "v", "y", "re", "h", "n", "S", "s", "f", "F", "f*",
    "B", "B*", "b", "b*", "W", "W*", "EI")

  test("primitive text state, in-place literals and TJ == the Mat-based text path") {
    import graft.core.{DocStructure, Encoding, FontInfo, Interp}
    import scala.collection.immutable.TreeMap
    val rnd = new scala.util.Random(31)
    val huge = "1" + "0" * 400 // overflows to Infinity in the content-stream number parser
    val nums = Vector(TNum("0", 0.0), TNum("-0", -0.0), TNum("1", 1.0), TNum("-1", -1.0),
      TNum("2", 2.0), TNum("-3", -3.0), TNum("12", 12.0), TNum("0.5", 0.5), TNum("-.5", -0.5),
      TNum("100", 100.0), TNum("-250", -250.0), TNum("700", 700.0),
      TNum(huge, Double.PositiveInfinity), TNum("-" + huge, Double.NegativeInfinity))
    def num(): TNum =
      if (rnd.nextInt(3) > 0) nums(rnd.nextInt(12)) else nums(rnd.nextInt(nums.length))
    def scale(): TNum = Vector(TNum("10", 10.0), TNum("12", 12.0), TNum("0", 0.0), TNum("-8", -8.0),
      TNum("1", 1.0))(rnd.nextInt(5))
    val letters = "ABCDEFab rz "
    // now and then a long one, whose text outgrows a 64-char buffer
    def literal(): TLit = TLit(Seq.fill(if (rnd.nextInt(12) == 0) 40 + rnd.nextInt(60) else rnd.nextInt(6))(rnd.nextInt(6) match {
      case 0 => (0x80 + rnd.nextInt(0x80)).toChar
      case 1 => rnd.nextInt(512).toChar
      case _ => letters(rnd.nextInt(letters.length))
    }).mkString)
    // "<>" is no operand to the tokenizer: at least one digit
    def hex(): THex = THex(Seq.fill(1 + rnd.nextInt(6))("0123456789abcdefABCDEF"(rnd.nextInt(22))).mkString)
    def str(): TArg = rnd.nextInt(5) match {
      case 0 => hex()
      case 1 if rnd.nextInt(4) == 0 => num() // not a string: shows nothing
      case _ => literal()
    }
    def tjArray(): TArr = TArr(Seq.fill(rnd.nextInt(6))(rnd.nextInt(7) match {
      case 0 | 1 => num()
      case 2 => hex()
      case 3 if rnd.nextInt(6) == 0 => TName("/X") // a non-string element: the whole TJ shows nothing
      case _ => literal()
    }))
    // image data holds no E or I, so the only whitespace-led EI is the
    // closing one; it starts with a non-space byte (the interpreter skips all
    // whitespace after ID, so data of spaces alone would hide the EI)
    val imageBytes = "()<>[]Tj01\u00ff \n"
    def inlineImage(): TOp = TOp("EI", Seq(TRaw("BI /W " + num().src + " /H 1 /BPC 8 /CS /G ID " +
      imageBytes(rnd.nextInt(11)) + Seq.fill(rnd.nextInt(12))(imageBytes(rnd.nextInt(13))).mkString)))
    def graphic(): TOp = rnd.nextInt(9) match {
      case 0 => TOp(Vector("m", "l")(rnd.nextInt(2)), Seq.fill(2)(num()))
      case 1 => TOp("c", Seq.fill(6)(num()))
      case 2 => TOp(Vector("v", "y", "re")(rnd.nextInt(3)), Seq.fill(4)(num()))
      case 3 | 4 => TOp(Vector("h", "n", "S", "s", "f", "F", "f*", "B", "B*", "b", "b*")(rnd.nextInt(11)), Nil)
      case 5 => TOp(Vector("W", "W*")(rnd.nextInt(2)), Nil)
      case 6 => TOp(Vector("S", "f")(rnd.nextInt(2)), Seq.fill(rnd.nextInt(3))(num())) // stray operands
      case _ => inlineImage()
    }
    def op(): TOp = rnd.nextInt(25) match {
      case 0 | 1 => TOp("BT", Nil)
      case 2 => TOp("ET", Nil)
      case 3 => TOp("Tf", Seq(TName(Vector("/F1", "/F2", "/F3", "/F4", "/F9")(rnd.nextInt(5))), scale()))
      case 4 => TOp("Tm", Seq.fill(6)(num()))
      case 5 => TOp("Td", Seq.fill(2)(num()))
      case 6 => TOp("TD", Seq.fill(2)(num()))
      case 7 => TOp("T*", Nil)
      case 8 => TOp(Vector("TL", "Ts", "Tz", "Tc", "Tw")(rnd.nextInt(5)), Seq(num()))
      case 9 => TOp("cm", Seq.fill(6)(num()))
      case 10 => TOp("q", Nil)
      case 11 => TOp("Q", Nil)
      case 12 | 13 | 14 => TOp("Tj", Seq(str()))
      case 15 | 16 | 17 => TOp("TJ", Seq(tjArray()))
      case 18 => TOp("TJ", Seq(literal())) // not an array: shows nothing
      case 19 => TOp("'", Seq(str()))
      case 20 => TOp("\"", Seq(num(), num(), str()))
      case 21 => rnd.nextInt(4) match {
        case 0 => TOp("BDC", Seq(TName("/P"), TMcid(rnd.nextInt(4))))
        case 1 => TOp("BDC", Seq(TName("/Span"), TName("/Props"))) // no /Properties: no id
        case 2 => TOp("BMC", Seq(TName("/Artifact")))
        case _ => TOp("EMC", Nil)
      }
      case 22 | 23 => graphic()
      case _ => TOp("Tf", Seq(TName("/F2"), scale()))
    }
    // B, C and D map to several chars, none, and a surrogate pair
    val simple = FontInfo(Encoding.NullMap, Map(66 -> "ffi", 67 -> "", 68 -> "𝐀"), 65, Vector(Some(600.0), Some(0.0), None, Some(-250.0)),
      Map.empty, Map.empty, FontInfo.DefaultVerticalW1, 0, 1, 500, isType0 = false)
    val vertical = FontInfo(Encoding.CIDmap("Adobe-Japan1"), Map.empty, 0, Vector.empty,
      Map(0x4142 -> 800.0), Map(0x4142 -> -900.0, 0x6162 -> 0.0, 0x2020 -> 500.0),
      FontInfo.DefaultVerticalW1, 1, 2, 1000, isType0 = true)
    val sjis = FontInfo(Encoding.SJISmap, Map.empty, 0, Vector.empty, Map(0x8140 -> 1000.0),
      Map.empty, FontInfo.DefaultVerticalW1, 0, 2, 500, isType0 = true)
    val unicode = FontInfo(Encoding.UnicodeMap, Map(0x41 -> "Z"), 0, Vector.empty, Map(0x41 -> 300.0),
      Map.empty, FontInfo.DefaultVerticalW1, 0, 2, 700, isType0 = true)
    val fonts = Map("/F1" -> simple, "/F2" -> vertical, "/F3" -> sjis, "/F4" -> unicode)
    val doc = new DocStructure.Document("".getBytes, TreeMap.empty, Map.empty, None, Some(Map.empty))
    var glyphs = 0
    var nonFinite = 0
    var marked = 0
    for (_ <- 1 to 4000) {
      val ops = TOp("BT", Nil) +: Seq.fill(1 + rnd.nextInt(24))(op())
      val src = ops.map(_.src).mkString("\n").getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      val got = Interp.interpretContentItems(doc, DocStructure.emptyDict, fonts, src)
      val want = LegacyTextPath.run(ops, fonts)
      val ctx = ops.map(_.src).mkString(" | ")
      assert(got.length == want.length, ctx)
      for ((g, w) <- got.zip(want)) {
        assert(g.text == w.text && g.font == w.font && g.wmode == w.wmode && g.mcid == w.mcid, ctx)
        assert(sameBits(g.x, w.x) && sameBits(g.y, w.y) && sameBits(g.width, w.width) &&
          sameBits(g.size, w.size), s"$g != $w: $ctx")
        if (Seq(g.x, g.y, g.width, g.size).exists(v => v.isNaN || v.isInfinite)) nonFinite += 1
        if (g.mcid.isDefined) marked += 1
      }
      glyphs += got.length
    }
    assert(nonFinite > 800 && glyphs - nonFinite > 3000 && marked > 500,
      s"$glyphs glyphs, $nonFinite non-finite, $marked marked")
  }

  test("primitive baseline extents == the boxed min/max of the collection methods") {
    import graft.core.{Layout, Line}
    def legacyBaselines(ls: List[Line]): (Double, Double) = {
      val baselines = ls.map(_.baseline)
      (baselines.min, baselines.max)
    }
    val rnd = new scala.util.Random(37)
    for (_ <- 1 to 20000) {
      val ls = List.fill(1 + rnd.nextInt(6))(
        Line(edgeDouble(rnd), 0, 1, 10, 0, 0, "x", Nil, lastSuper = false))
      val (lo, hi) = Layout.pageBaselineExtent(ls)
      val (llo, lhi) = legacyBaselines(ls)
      assert(sameBits(lo, llo) && sameBits(hi, lhi), ls)
    }
  }

  test("primitive medians == the sorted-Seq reference (Util.medianOf, Ruby.bodyMedianSize)") {
    import graft.core.{Line, Ruby, Util}
    def legacyMedian(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0
      else {
        val sorted = xs.sorted
        val n = sorted.length
        val mid = n / 2
        if (n % 2 == 1) sorted(mid) else (sorted(mid - 1) + sorted(mid)) / 2
      }
    def legacyBody(ls: List[Line]): Double = {
      val med = legacyMedian(ls.map(_.size))
      val bodySizes = ls.collect { case l if l.size > 0.85 * med => l.size }
      if (bodySizes.isEmpty) med else legacyMedian(bodySizes)
    }
    val rnd = new scala.util.Random(41)
    for (_ <- 1 to 20000) {
      val xs = Seq.fill(rnd.nextInt(8))(edgeDouble(rnd))
      assert(sameBits(Util.medianOf(xs.toArray), legacyMedian(xs)), xs)
      val ls = xs.map(s => Line(0, 0, 1, s, 0, 0, "x", Nil, lastSuper = false)).toList
      assert(sameBits(Ruby.bodyMedianSize(ls), legacyBody(ls)), xs)
    }
  }

  test("presized paragraph builders == the mkString / per-line strip reference") {
    import graft.core.{Layout, Line, Util}
    def legacyFormat(ps: List[String]): String = if (ps.isEmpty) "\n" else ps.mkString("\n\n") + "\n"
    def legacyJoin(ls: List[Line]): String = {
      val sb = new StringBuilder
      var first = true
      for (l <- ls) {
        val t = Util.strip(l.text)
        if (first) { sb.append(t); first = false }
        else {
          var end = sb.length
          while (end > 0 && Util.isHsSpace(sb.charAt(end - 1))) end -= 1
          sb.setLength(end)
          val last = if (end > 0) sb.charAt(end - 1) else ' '
          val sep =
            if (end > 0 && t.nonEmpty && Layout.isCJK(last) && Layout.isCJK(t.charAt(0))) ""
            else if (end > 0 && (last == '-' || last == '\u00ad')) ""
            else " "
          sb.append(sep).append(t)
        }
      }
      Util.strip(sb.toString)
    }
    val rnd = new scala.util.Random(43)
    val pieces = Vector("", " ", "\u3000", "\t", "word", "Hyphen-", "soft\u00ad", "-", "日本", "語。",
      "12.", "1 x", "a.", "Code()", "𝐀", "  padded  ", "\u00a0")
    def text(): String = Seq.fill(rnd.nextInt(4))(pieces(rnd.nextInt(pieces.length))).mkString
    var prose = 0
    for (_ <- 1 to 20000) {
      val ps = List.fill(rnd.nextInt(5))(text())
      assert(Layout.formatParagraphs(ps) == legacyFormat(ps), ps)
      val ls = List.fill(rnd.nextInt(5))(
        Line(0, 0, 1, if (rnd.nextBoolean()) 10 else 7, 0, 0, text(), Nil, lastSuper = false))
      // an all-code paragraph takes joinCodeLines, which is unchanged
      if (ls.isEmpty || !ls.forall(Layout.isCodeLine)) {
        val want = if (ls.isEmpty) "" else legacyJoin(ls)
        assert(Layout.joinParaLines(ls) == want, ls)
        prose += 1
      }
    }
    assert(prose > 10000, s"only $prose prose paragraphs")
  }

  test("dingbat repair returns the line itself when its text is unchanged") {
    import graft.core.{Layout, Line}
    val rnd = new scala.util.Random(47)
    val pieces = Vector("r", "r ", "r「", " r「", "「", " ", "a", "B", "•", "rr", "")
    var same = 0
    for (_ <- 1 to 5000) {
      val l = Line(0, 0, 1, 10, 0, 0, Seq.fill(rnd.nextInt(4))(pieces(rnd.nextInt(pieces.length))).mkString,
        Nil, lastSuper = false)
      val got = Layout.fixDingbatBulletLine(l)
      assert(got == l.copy(text = Layout.fixDingbatBullet(l.text)), l)
      if (got.text == l.text) { assert(got eq l, l); same += 1 }
    }
    assert(same > 500 && same < 4500, s"$same of 5000 unchanged")
  }

  // ---- a page is one glyph list, laid out once; object streams read in place ----

  /** The page forms from before a page was a plain glyph list laid out
    * once: texts and line groups from two layout passes, zipped by index;
    * each MCID's glyphs appended one at a time; the tag count over a built
    * list of every glyph. The references the one-pass forms are pinned
    * against. */
  private object LegacyPage {
    import graft.core.{Footnotes, Glyph, Layout, Line, Page, PageRegion, Ruby}
    import graft.core.Layout.{LayoutOptions, PageFallback, PageLines, PageNormal}

    private def applyFootnotesOpt(opts: LayoutOptions, page: PageLines): PageLines = page match {
      case PageNormal(0, ls) if opts.footnotes => PageNormal(0, Footnotes.inlineFootnotes(ls))
      case _ => page
    }
    private def applyRuby(opts: LayoutOptions, page: PageLines): PageLines = page match {
      case PageNormal(wmode, ls) => PageNormal(wmode, Ruby.mergeInterleavedRubyLines(wmode, opts.ruby, ls))
      case _ => page
    }
    private def lines(opts: LayoutOptions, glyphs: List[Glyph]): PageLines =
      applyFootnotesOpt(opts, applyRuby(opts, Layout.pageLinesRaw(glyphs)))

    def layoutParagraphs(opts: LayoutOptions, glyphs: List[Glyph]): List[String] =
      lines(opts, glyphs) match {
        case PageFallback(ps) => ps
        case PageNormal(wmode, ls) => Layout.groupParagraphs(wmode, ls).map(Layout.joinParaLines)
      }
    def pageLines(opts: LayoutOptions, glyphs: List[Glyph]): List[Line] =
      lines(opts, glyphs) match {
        case PageFallback(_) => Nil
        case PageNormal(_, ls) => ls
      }
    def paragraphGroups(opts: LayoutOptions, glyphs: List[Glyph]): List[List[Line]] =
      lines(opts, glyphs) match {
        case PageFallback(ps) => List.fill(ps.length)(Nil)
        case PageNormal(wmode, ls) => Layout.groupParagraphs(wmode, ls)
      }
    def pageRegions(pageNo: Int, opts: LayoutOptions, glyphs: List[Glyph]): List[PageRegion] = {
      val texts = layoutParagraphs(opts, glyphs)
      val groups = paragraphGroups(opts, glyphs)
      texts.zip(groups).zipWithIndex.map { case ((txt, grp), i) =>
        PageRegion(pageNo, i + 1, Page.paraBBox(grp), txt)
      }
    }
    def mcidGlyphMap(glyphs: List[Glyph]): Map[Int, List[Glyph]] = {
      var m = Map.empty[Int, List[Glyph]]
      for (g <- glyphs) g.mcid match {
        case Some(mcid) => m = m.updated(mcid, m.getOrElse(mcid, Nil) :+ g)
        case None => ()
      }
      m
    }
    def taggedUsable(pages: List[List[Glyph]]): Boolean = {
      val glyphs = pages.flatten
      val total = glyphs.length
      val tagged = glyphs.count(_.mcid.isDefined)
      total > 0 && tagged.toDouble / total >= 0.5
    }
  }

  /** A random page: horizontal or vertical, now and then with unusable
    * glyphs (a fallback page), small raised digits (footnote marks), small
    * kana beside the body (ruby) and MCIDs that repeat out of order. */
  private def randomPage(rnd: scala.util.Random): List[graft.core.Glyph] = {
    val words = Vector("word", "Line", "end.", "Hyphen-", "1.", "2)", "r Item", "•", "", " ",
      "日本", "語。", "ひら")
    val vertical = rnd.nextInt(4) == 0
    val broken = rnd.nextInt(6) == 0
    List.fill(rnd.nextInt(36)) {
      val wmode = if (vertical ^ (rnd.nextInt(12) == 0)) 1 else 0
      val line = rnd.nextInt(14)
      val baseline = if (vertical) 500 - line * 14.0 else 720 - line * 12.0 - (if (rnd.nextInt(5) == 0) 30 else 0)
      val along = 72 + rnd.nextInt(30) * 8.0
      val (text, size, lift) = rnd.nextInt(8) match {
        case 0 => ((1 + rnd.nextInt(3)).toString, 6.0, 4.0) // a raised footnote mark
        case 1 => ("るび", 5.0, 7.0) // ruby over the line
        case _ => (words(rnd.nextInt(words.length)), if (rnd.nextInt(10) == 0) 14.0 else 10.0, 0.0)
      }
      val unusable = broken && rnd.nextInt(2) == 0
      val (x, y) = if (wmode == 1) (baseline + lift, 700 - along) else (along, baseline + lift)
      graft.core.Glyph(text, if (unusable) Double.NaN else x, if (rnd.nextInt(40) == 0) -y else y,
        6.0 * math.max(1, text.length), if (unusable && rnd.nextBoolean()) 0 else size, "/F1", wmode,
        if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(4)))
    }
  }

  test("one-pass page regions, linear MCID map and tag count == the two-pass, appending references") {
    import graft.core.{DocStructure, Extract, Glyph, Interp, Layout, Page}
    val allOpts = for (f <- Seq(false, true); r <- Seq(false, true)) yield Layout.LayoutOptions(f, r)
    def same(glyphs: List[Glyph]): Unit = {
      for (opts <- allOpts) {
        // toString: a NaN coordinate compares unequal to itself
        assert(Page.pageRegions(3, opts, glyphs).toString ==
          LegacyPage.pageRegions(3, opts, glyphs).toString, s"$opts $glyphs")
        assert(Layout.layoutParagraphs(opts, glyphs) == LegacyPage.layoutParagraphs(opts, glyphs))
        assert(Layout.pageLines(opts, glyphs).toString == LegacyPage.pageLines(opts, glyphs).toString)
      }
      assert(Extract.mcidGlyphMap(glyphs) == LegacyPage.mcidGlyphMap(glyphs), glyphs)
    }
    var fixturePages = 0
    val fixtures = (0L until 45L).map(graft.spark.FixtureGen.docFor) ++
      Seq(graft.spark.FixtureGen.book(2), graft.spark.FixtureGen.longDoc(1))
    for (d <- fixtures; doc <- DocStructure.openDocument(d.bytes, None).toOption) {
      val pages = DocStructure.pageRefs(doc).getOrElse(Nil)
        .map(Interp.interpretPageItems(doc, _).getOrElse(Nil))
      pages.foreach(same)
      assert(Extract.taggedUsable(pages) == LegacyPage.taggedUsable(pages), d.kind)
      fixturePages += pages.length
    }
    assert(fixturePages > 60, s"$fixturePages fixture pages")
    val rnd = new scala.util.Random(53)
    var fallback = 0
    var vertical = 0
    var repeated = 0
    var multi = 0
    for (_ <- 1 to 3000) {
      val pages = List.fill(1 + rnd.nextInt(3))(randomPage(rnd))
      for (glyphs <- pages) {
        same(glyphs)
        Layout.pageLinesRaw(glyphs) match {
          case Layout.PageFallback(ps) if ps.nonEmpty => fallback += 1
          case Layout.PageNormal(1, _) => vertical += 1
          case _ => ()
        }
        val ids = glyphs.flatMap(_.mcid)
        if (ids.zip(ids.drop(1)).exists { case (a, b) => a != b } && ids.distinct.length < ids.length) repeated += 1
        if (Layout.layoutParagraphs(Layout.defaultOptions, glyphs).length > 1) multi += 1
      }
      assert(Extract.taggedUsable(pages) == LegacyPage.taggedUsable(pages))
    }
    assert(fallback > 200 && vertical > 300 && repeated > 2000 && multi > 1000,
      s"$fallback fallback, $vertical vertical, $repeated repeated-MCID, $multi multi-paragraph pages")
  }

  /** The object-stream parse from before the pair loop was one and
    * members were read in place: one pair loop with `/First`, a second
    * without, and a copy of the body from each member's offset. */
  private object LegacyObjStm {
    import graft.core.{Cursor, Lexer, PObj}
    import graft.core.PObj.PNull

    def parseObjStmHeader(first: Option[Int], s: Array[Byte]): Option[(List[(Int, Int)], Array[Byte])] = {
      def parsePairs(buf: Array[Byte]): Option[List[(Int, Int)]] = {
        val cur = new Cursor(buf)
        Lexer.skipSpaces(cur)
        val out = List.newBuilder[(Int, Int)]
        var count = 0
        var go = true
        while (go) {
          val save = cur.pos
          var r = 0L
          var rd = 0
          while (Lexer.isDigit(cur.peek)) { r = r * 10 + (cur.next() - '0'); rd += 1 }
          if (rd == 0) { cur.pos = save; go = false }
          else {
            Lexer.skipSpaces(cur)
            var o = 0L
            var od = 0
            while (Lexer.isDigit(cur.peek)) { o = o * 10 + (cur.next() - '0'); od += 1 }
            if (od == 0) { cur.pos = save; go = false }
            else {
              Lexer.skipSpaces(cur)
              out += ((r.toInt, o.toInt))
              count += 1
            }
          }
        }
        if (count == 0) None else Some(out.result())
      }
      first match {
        case Some(f) if f >= 0 && f <= s.length =>
          parsePairs(java.util.Arrays.copyOfRange(s, 0, f)).map(loc => (loc, s.drop(f)))
        case _ =>
          val cur = new Cursor(s)
          Lexer.skipSpaces(cur)
          val out = List.newBuilder[(Int, Int)]
          var go = true
          var last = cur.pos
          while (go) {
            val save = cur.pos
            var r = 0L; var rd = 0
            while (Lexer.isDigit(cur.peek)) { r = r * 10 + (cur.next() - '0'); rd += 1 }
            if (rd == 0) { cur.pos = save; go = false }
            else {
              Lexer.skipSpaces(cur)
              var o = 0L; var od = 0
              while (Lexer.isDigit(cur.peek)) { o = o * 10 + (cur.next() - '0'); od += 1 }
              if (od == 0) { cur.pos = save; go = false }
              else { Lexer.skipSpaces(cur); out += ((r.toInt, o.toInt)); last = cur.pos }
            }
          }
          val loc = out.result()
          if (loc.isEmpty) None else Some((loc, s.drop(last)))
      }
    }

    def parseObjStmObject(body: Array[Byte], off: Int): List[PObj] = {
      if (off < 0 || off > body.length) return List(PNull)
      val sub = body.drop(off)
      Lexer.dictionary(new Cursor(sub), None, 0) match {
        case Some(o) => List(o)
        case None =>
          Lexer.array(new Cursor(sub), None, 0) match {
            case Some(o) => List(o)
            case None =>
              Lexer.literal(new Cursor(sub), None, 0) match {
                case Some(o) => List(o)
                case None => List(PNull)
              }
          }
      }
    }
  }

  test("one pair loop and in-place member reads == the two-loop, copying object-stream parse") {
    import graft.core.{DocStructure, PObj}
    import graft.core.PObj._
    def show(o: PObj): String = o match {
      case t: PText => s"PText(${t.s}, ${Option(t.rawBytes).map(_.mkString(","))})"
      case h: PHex => s"PHex(${h.hex}, ${Option(h.rawBytes).map(_.mkString(","))})"
      case PArray(xs) => xs.map(show).mkString("[", " ", "]")
      case PDict(d) => d.map { case (k, v) => s"$k ${show(v)}" }.mkString("<<", " ", ">>")
      case other => other.toString
    }
    def header(h: Option[(List[(Int, Int)], Array[Byte])]) = h.map { case (l, b) => (l, b.toSeq) }
    var members = 0
    def check(first: Option[Int], s: Array[Byte], offsets: Seq[Int]): Unit = {
      val got = DocStructure.parseObjStmHeader(first, s)
      assert(header(got) == header(LegacyObjStm.parseObjStmHeader(first, s)), s"$first ${new String(s, "ISO-8859-1")}")
      for (body <- s :: got.map(_._2).toList; off <- offsets ++ got.toList.flatMap(_._1.map(_._2))) {
        val want = LegacyObjStm.parseObjStmObject(body, off).map(show)
        assert(DocStructure.parseObjStmObject(body, off).map(show) == want, s"$off ${new String(body, "ISO-8859-1")}")
        if (want != List("PNull")) members += 1
      }
    }
    for (i <- 0L until 12L) {
      val doc = DocStructure.openDocument(graft.spark.FixtureGen.objStm(i).bytes, None).toOption.get
      val body = doc.rawStreamByRef(6).toOption.get // the fixture's object-stream container
      val first = doc.findDictByRef(6).flatMap(_.get("/First")).collect { case PNum(n) => n.toInt }
      assert(first.isDefined && DocStructure.parseObjStmHeader(first, body).exists(_._1.length == 4))
      for (f <- Seq(first, None, first.map(_ - 1), first.map(_ + 3), Some(-1), Some(body.length),
          Some(body.length + 1)))
        check(f, body, -2 to body.length + 2)
    }
    val rnd = new scala.util.Random(59)
    val pieces = Vector("1", "0", "12", " ", "\n", "%c\n", "<<", ">>", "/Type", "/K", "[", "]", "(", ")",
      "(a\\)b)", "\\", "<41>", "3 0 R", "true", "null", "-2.5", "<<>>", "[1 2]", "<</A (x)>>")
    for (_ <- 1 to 3000) {
      val pairs = Seq.fill(rnd.nextInt(4))(s"${rnd.nextInt(40)} ${rnd.nextInt(60)} ").mkString
      val s = (pairs + Seq.fill(rnd.nextInt(20))(pieces(rnd.nextInt(pieces.length))).mkString)
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      val first = rnd.nextInt(4) match {
        case 0 => None
        case 1 => Some(pairs.length)
        case _ => Some(rnd.nextInt(s.length + 5) - 2)
      }
      check(first, s, Seq.fill(6)(rnd.nextInt(s.length + 7) - 3))
    }
    assert(members > 3000, s"$members members parsed")
  }
}

object KernelParitySpec {
  /** One generated content-stream operand: its source text and value. */
  sealed trait TArg { def src: String }
  final case class TNum(src: String, v: Double) extends TArg
  final case class TName(name: String) extends TArg { def src: String = name }
  /** A literal string of chars 0-511; letters and spaces plain, everything
    * else an octal escape, raw bytes 0x80-0xff as themselves. */
  final case class TLit(chars: String) extends TArg {
    def src: String = "(" + chars.map { c =>
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || c == ' ' || (c >= 0x80 && c <= 0xff)) c.toString
      else "\\" + f"${c.toInt}%03o"
    }.mkString + ")"
  }
  final case class THex(digits: String) extends TArg { def src: String = "<" + digits + ">" }
  /** Marked-content properties with an id. */
  final case class TMcid(n: Int) extends TArg { def src: String = s"<< /MCID $n >>" }
  /** Source text written as is (an inline image's `BI <dict> ID <data>`). */
  final case class TRaw(src: String) extends TArg
  final case class TArr(elems: Seq[TArg]) extends TArg {
    def src: String = elems.map(_.src).mkString("[", " ", "]")
  }
  final case class TOp(name: String, args: Seq[TArg]) {
    def src: String = (args.map(_.src) :+ name).mkString(" ")
  }
}
