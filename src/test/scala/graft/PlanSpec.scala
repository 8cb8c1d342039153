package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.spark.{CorpusGen, CosSim6D, CosSim6F, InterSize, Pipeline, Queries}

/** Physical-plan assertions: the plans the engine is supposed to produce at
  * scale — broadcasts for dimension joins, no shuffle in the extraction
  * pass, bounded exchanges in the heavy aggregations. */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("plan-spec")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def planOf(name: String): String =
    Queries.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("extraction pass plans with zero shuffles") {
    val corpus = CorpusGen.corpus(spark, rows = 9, partitions = 1)
    val plan = Pipeline.extract(spark, CorpusGen.inputView(corpus))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("dimension joins broadcast (q2)") {
    val plan = planOf("q2_join_broadcast")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    // orders never shuffles for the join itself
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("knn query broadcasts its query vectors (s1)") {
    val plan = planOf("s1_knn_cosine")
    assert(plan.contains("Broadcast"), plan.take(2000))
  }

  test("minhash signatures are row-local: single exchange (the output sort) in d2") {
    val plan = planOf("d2_minhash_lsh")
    val exchanges = "Exchange".r.findAllIn(plan).length
    // signatures fold per-row; the only exchange is the deterministic sort
    assert(exchanges == 1, s"$exchanges exchanges:\n${plan.take(3000)}")
  }

  test("simhash is row-local: single exchange (the output sort) in d3") {
    val plan = planOf("d3_simhash")
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"$exchanges exchanges:\n${plan.take(3000)}")
  }

  test("near-dup verify joins on LSH band keys, never a cartesian (d6)") {
    val plan = planOf("d6_near_dup_verify")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("embedding near-dup joins on sign-LSH band keys, never a cartesian (d7)") {
    val plan = planOf("d7_embed_neardup")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("PII redaction and repetition filters are row-local: single exchange (t6, t7)") {
    for (q <- Seq("t6_pii_redact", "t7_repetition")) {
      val plan = planOf(q)
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(exchanges <= 1, s"$q: $exchanges exchanges\n${plan.take(3000)}")
    }
  }

  test("substring-dup shuffles only on the shingle key and the doc rollup (d8)") {
    val plan = planOf("d8_substring_dup")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // shingle-key window + doc_id rollup + output sort — never more
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 3, s"$exchanges exchanges\n${plan.take(3000)}")
  }

  test("bucketed fact-fact join runs with no exchange before the join (q12)") {
    // at production scale neither fact side fits a broadcast — simulate by
    // disabling auto-broadcast so the planner must use the bucketed SMJ
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val plan =
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        Queries.queries("q12_bucketed_join")(spark, sfDir)
          .queryExecution.executedPlan.toString
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(plan.contains("SortMergeJoin"), plan.take(3000))
    // the join consumes co-bucketed scans directly: every Exchange in the
    // plan sits ABOVE the join (the groupBy/sort), never between the join
    // and its scans
    val joinIdx = plan.indexOf("SortMergeJoin")
    val belowJoin = plan.substring(joinIdx)
    assert(!belowJoin.contains("Exchange"), plan.take(3000))
  }

  test("incremental dedup walks the signature index shuffle-free on the index side (d11)") {
    // the production claim: the persisted signature index is walked where
    // it is read — the stages that scan its files read and write no
    // shuffle, feed no broadcast and run the walk itself, so the index
    // never moves; only delta-sized data does. Taken off d11's own run
    // (the walk is not a Catalyst plan).
    import org.apache.spark.scheduler._
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val fence = "plan-spec fence"
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.add(e.stageInfo)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.job.description") == fence) fenced.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val df = Queries.queries("d11_incremental_dedup")(spark, sfDir)
      assert(df.collect().nonEmpty)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), plan.take(3000))
      // the bus delivers in order: once the fence job's start arrives,
      // every stage of d11 has been seen
      sc.setJobDescription(fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    def scopes(st: StageInfo) = st.rddInfos.flatMap(_.scope.map(_.name))
    // the index is read by path, so its scan's scope names no table: its
    // stages are the file scans in the walk's stages. d11's other file
    // scans read the documents table (the index build and the delta), and
    // its within-delta walk reads the delta's checkpoint, not files.
    val idxStages = stages.asScala.toSeq.filter(st =>
      scopes(st).exists(_.startsWith("Scan parquet")) && scopes(st).contains("mapPartitions"))
    assert(idxStages.nonEmpty, stages.asScala.map(scopes).mkString("\n"))
    for (st <- idxStages) {
      val (r, w) = (st.taskMetrics.shuffleReadMetrics, st.taskMetrics.shuffleWriteMetrics)
      val moved = Seq(r.totalBytesRead, r.recordsRead, w.bytesWritten, w.recordsWritten)
      assert(moved.forall(_ == 0), s"index stage ${st.stageId} shuffled $moved: ${scopes(st)}")
      assert(!scopes(st).contains("BroadcastExchange"), s"index broadcast: ${scopes(st)}")
      assert(scopes(st).contains("mapPartitions"), s"index read apart from the walk: ${scopes(st)}")
    }
  }

  test("near-dup verify generates code (d6's intersect in a codegen stage, no UDF)") {
    // the pair-kernel counterpart of ExtensionsSpec's extract_text codegen
    // check: the verify must stay in generated code, not behind a UDF
    val df = Queries.queries("d6_near_dup_verify")(spark, sfDir)
    assert(df.collect().nonEmpty)
    // after execution: AQE's final plan, not the initial one it also prints
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val verify = plan.linesIterator.filter(_.contains("inter_size(")).toSeq
    assert(verify.nonEmpty && verify.forall(_.contains("*(")), plan)
    assert("""UDF\([^)]*\bhs_[ab]#""".r.findFirstIn(plan).isEmpty, plan)
    // the pair kernels implement doGenCode: none may be the interpreted
    // CodegenFallback escape hatch
    for (c <- Seq(classOf[InterSize], classOf[CosSim6F], classOf[CosSim6D]))
      assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]
        .isAssignableFrom(c), c.getName)
  }

  test("fluency model joins by broadcast; sampler is row-local (t10, t8)") {
    val p10 = planOf("t10_lm_score")
    assert(p10.contains("BroadcastHashJoin"), p10.take(3000))
    assert(!p10.contains("CartesianProduct"), p10.take(3000))
    val p8 = planOf("t8_sample_mix")
    // gate + rollup: partial aggregation map-side, one exchange + the sort
    val exchanges = "Exchange".r.findAllIn(p8).length
    assert(exchanges <= 2, s"t8: $exchanges exchanges\n${p8.take(3000)}")
  }

  test("incremental merge joins on url with no cartesian (x23)") {
    val plan = planOf("x23_incremental")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("decontamination joins the benchmark shingle set by broadcast (d9)") {
    val plan = planOf("d9_decontaminate")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("sign-LSH pairing drops degenerate buckets at the cap, counted (d7 guard)") {
    val sp = spark; import sp.implicits._
    // 200 degenerate rows (zero-vector failure mode) whose signatures all
    // collide into ONE bucket in every band, plus one healthy near-dup pair
    // in a bucket of 2
    val degen = (1L to 200L).map(i => (i, Array.fill(4)(0.0f), 7L, 7L, 7L, 7L))
    val healthy = Seq(
      (2001L, Array.fill(4)(1.0f), 1L, 21L, 31L, 41L),
      (2002L, Array.fill(4)(1.0f), 1L, 22L, 32L, 42L),
      // a pair INSIDE the oversize band0 bucket that also shares a healthy
      // 2-row band1 bucket: the cap must not lose it — band1 recovers it
      (301L, Array.fill(4)(2.0f), 7L, 55L, 61L, 71L),
      (302L, Array.fill(4)(2.0f), 7L, 55L, 62L, 72L))
    val allv = (degen ++ healthy).toDF(
      "id", "embedding", "band0", "band1", "band2", "band3")
    // the drop counters are published as observed metrics of the audit
    // action, read here the way an ops pipeline reads them: through a
    // QueryExecutionListener
    val published = new java.util.concurrent.LinkedBlockingQueue[Row]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.values
          .filter(_.schema.fieldNames.contains("dropped_buckets")).foreach(published.add)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // cap 64: the 202-row band0 bucket is excluded from pairing; the
    // healthy band0 pair survives and the oversize-bucket pair is
    // recovered through its healthy band1 bucket
    val (capped, audit) =
      try (Queries.signLshBandPairs(allv, cap = 64L).select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted,
        published.poll(60, java.util.concurrent.TimeUnit.SECONDS))
      finally spark.listenerManager.unregister(listener)
    assert(capped.toSeq == Seq((301L, 302L), (2001L, 2002L)), capped.mkString(","))
    // the degenerate rows collide in every band: band0's bucket holds 202
    // rows (degen 200 + the 301/302 pair share band0=7), bands 1-3 hold the
    // 200 degen rows each; the counters sum the four bands
    assert(audit != null, "no drop counters published")
    assert(Seq("dropped_buckets", "dropped_rows", "dropped_pairs").map(audit.getAs[Long]) ==
      Seq(4L, 202L + 3 * 200L, 202L * 201L / 2 + 3 * (200L * 199L / 2)), audit)
    // cap above the bucket size: uncapped all-pairs-within-bucket semantics
    // (202*201/2 band0 pairs + the healthy band0 pair)
    assert(Queries.signLshBandPairs(allv, cap = 300L).count() == 20302L)
  }

  test("region extraction is shuffle-free up to the output sort (x24)") {
    val plan = planOf("x24_page_regions")
    // pruned scan -> mapPartitions kernel -> sort: exactly one exchange
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"$exchanges exchanges:\n${plan.take(3000)}")
  }

  test("region chunking reuses the url partitioning for its rollup (c2)") {
    val plan = planOf("c2_region_chunks")
    // window shuffles on url; the (url, chunk) groupBy must NOT add a
    // second shuffle (url partitioning co-locates every group); then the
    // output sort — 2 exchanges total
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 2, s"$exchanges exchanges:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("greedy chunking shuffles once on url plus the output sort (c3)") {
    val plan = planOf("c3_greedy_chunks")
    // extraction (shuffle-free) -> groupByKey(url) -> per-doc fold -> sort
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 2, s"$exchanges exchanges:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("LSH query results do not depend on shuffle partitions or AQE (d2, d5-d7, d10, d11, s2, s3)") {
    // Bench's full-row checksum: row count + order-free hash sum
    def checksum(s: SparkSession, q: String): (Long, Any) = {
      val df = Queries.queries(q)(s, sfDir)
      val r = df.agg(count(lit(1)),
        sum(pmod(xxhash64(df.columns.toSeq.map(c => col(c).cast("string")): _*),
          lit(1000000007L)))).collect()(0)
      (r.getLong(0), r.get(1))
    }
    // AQE's coalescing would shrink 7 partitions of sf0.001 back to ~1,
    // so the AQE run keeps all 7 (skew/join rewrites stay on)
    val variants = Seq("1" -> "false", "7" -> "true").map { case (n, aqe) =>
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", n)
      s.conf.set("spark.sql.adaptive.enabled", aqe)
      s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      s"$n shuffle partitions, AQE $aqe" -> s
    }
    for (q <- Seq("d2_minhash_lsh", "d5_lsh_buckets", "d6_near_dup_verify",
        "d7_embed_neardup", "d10_dedup_components", "d11_incremental_dedup",
        "s2_ann_lsh_bucket", "s3_ann_search")) {
      val expected = checksum(spark, q)
      assert(expected._1 > 0, q)
      for ((label, s) <- variants) assert(checksum(s, q) == expected, s"$q, $label")
    }
  }

  test("anti-join resume broadcasts the done set when small") {
    val corpus = CorpusGen.corpus(spark, rows = 20, partitions = 2)
    val input = CorpusGen.inputView(corpus)
    val done = input.select("url").limit(5)
    val plan = Pipeline.resumeRemaining(input, done).queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), plan.take(2000))
  }
}
