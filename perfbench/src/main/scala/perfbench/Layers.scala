package perfbench

/** Per-layer metrics of a traced run, per traced pass unless named a peak,
  * ratio or count per slice. Every metric is always reported; a layer the
  * workload does not exercise reads 0. */
final class Layers(tracer: Tracer, spark: SparkTrace, traced: Seq[PassResult],
    untraced: Seq[PassResult], cpus: Int, replay: Option[Replay]) {

  private val spans = tracer.spans
  private val passes = spans.filter(_.kind == "pass").map(_.pass).toSet
  private val n = math.max(1, traced.size).toDouble
  private val leafSpans = spans.filter(s => s.kind == "leaf" && passes(s.pass))
  private val leafOf = leafSpans.map(s => s.id -> s.name).toMap
  private val jobs = spark.jobRecs.filter(j => passes(j.pass))
  private val stages = spark.stageRecs.filter { case (j, _) => passes(j.pass) }

  /** max ÷ median task run time; stages with one task or under 100 ms of
    * task time in total read 1. */
  private def skew(st: StageRec): Double = {
    val d = st.agg.durations.sorted
    if (d.size < 2 || st.agg.taskMs < 100) 1.0
    else d.last.toDouble / math.max(1L, d((d.size - 1) / 2))
  }

  /** Job spans (children of leaf spans) and stage spans (children of jobs,
    * with their task aggregates). */
  val sparkSpans: Seq[Span] = {
    val jobSpan = jobs.map(j => j.jobId -> tracer.nextId()).toMap
    val js = jobs.map(j => Span(jobSpan(j.jobId), j.span, j.pass, "job", s"job ${j.jobId}",
      j.startMs * 1000, math.max(j.startMs, j.endMs) * 1000))
    val ss = stages.map { case (j, st) =>
      val a = st.agg
      Span(tracer.nextId(), jobSpan(j.jobId), j.pass, "stage", s"stage ${st.stageId}.${st.attempt}",
        st.submittedMs * 1000, math.max(st.submittedMs, st.completedMs) * 1000,
        Map("tasks" -> a.tasks.toDouble, "failed_tasks" -> a.failed.toDouble,
          "task_s" -> a.taskMs / 1e3, "skew" -> skew(st),
          "shuffle_write_bytes" -> a.shuffleWrite.toDouble,
          "shuffle_read_bytes" -> a.shuffleRead.toDouble, "scan_bytes" -> a.scanBytes.toDouble))
    }
    js ++ ss
  }

  private def sparkMetrics: Seq[(String, Double, String)] = {
    val aggs = stages.map(_._2.agg)
    def total(f: StageAgg => Long): Double = aggs.map(f).sum.toDouble
    val taskS = total(_.taskMs) / 1e3
    val wall = traced.map(_.wallS).sum
    // tasks waiting for launch once their stage is submitted, plus each
    // task's scheduler delay (duration not spent deserializing, running or
    // returning its result)
    val launchWaitMs = stages.map { case (_, st) =>
      if (st.agg.tasks == 0) 0L else math.max(0L, st.agg.firstLaunchMs - st.submittedMs)
    }.sum
    Seq(
      ("spark.jobs", jobs.size / n, "count"),
      ("spark.stages", stages.size / n, "count"),
      ("spark.tasks", total(_.tasks) / n, "count"),
      ("spark.task_s", taskS / n, "s"),
      ("spark.cpu_s", total(_.cpuNs) / 1e9 / n, "s"),
      ("spark.gc_s", total(_.gcMs) / 1e3 / n, "s"),
      ("spark.busy_frac", if (wall > 0) taskS / (wall * cpus) else 0.0, "ratio"),
      ("spark.sched_wait_s", (total(_.schedDelayMs) + launchWaitMs) / 1e3 / n, "s"),
      ("spark.task_skew", (1.0 +: stages.map(s => skew(s._2))).max, "ratio"),
      ("spark.scan_bytes", total(_.scanBytes) / n, "bytes"),
      ("spark.shuffle_write_bytes", total(_.shuffleWrite) / n, "bytes"),
      ("spark.shuffle_read_bytes", total(_.shuffleRead) / n, "bytes"),
      ("spark.fetch_wait_s", total(_.fetchWaitMs) / 1e3 / n, "s"),
      ("spark.spill_bytes", total(_.spillBytes) / n, "bytes"),
      ("spark.output_bytes", total(_.outputBytes) / n, "bytes"),
      ("spark.failed_tasks", total(_.failed), "count"))
  }

  private def streamMetrics: Seq[(String, Double, String)] = {
    val bs = scala.jdk.CollectionConverters.CollectionHasAsScala(StreamTrace.batches).asScala
      .toSeq.filter(b => leafOf.contains(b.span))
    val last = bs.groupBy(_.runId).values.map(_.maxBy(_.batchId)).toSeq
    Seq(
      ("stream.batches", bs.size / n, "count"),
      ("stream.batch_ms", bs.map(_.batchMs).sum / n, "ms"),
      ("stream.addbatch_ms", bs.map(_.addBatchMs).sum / n, "ms"),
      ("stream.log_ms", bs.map(_.logMs).sum / n, "ms"),
      ("stream.state_commit_ms", bs.map(_.stateCommitMs).sum / n, "ms"),
      ("stream.state_rows", last.map(_.stateRows).sum / n, "rows"),
      ("stream.state_bytes", last.map(_.stateBytes).sum / n, "bytes"))
  }

  private def leafMetrics: Seq[(String, Double, String)] = {
    val jobLeaf = jobs.flatMap(j => leafOf.get(j.span).map(j.jobId -> _)).toMap
    val byLeaf = stages.groupBy { case (j, _) => jobLeaf.getOrElse(j.jobId, "") }
    LeafWorkload.Stream.flatMap { leaf =>
      val walls = untraced.flatMap(_.leafS.collect { case (`leaf`, s) => s })
      val st = byLeaf.getOrElse(leaf, Nil).map(_._2)
      Seq(
        (s"leaf.$leaf.wall_s", Main.median(walls), "s"),
        (s"leaf.$leaf.shuffle_bytes", st.map(_.agg.shuffleWrite).sum / n, "bytes"),
        (s"leaf.$leaf.task_skew", if (st.isEmpty) 0.0 else st.map(skew).max, "ratio"))
    }
  }

  private def selfMetrics: Seq[(String, Double, String)] = {
    val self = Tracer.selfSeconds(spans.filter(s => passes(s.pass)) ++ sparkSpans)
    Seq("pass", "leaf", "job", "stage").map(k => (s"self.${k}_s", self.getOrElse(k, 0.0) / n, "s"))
  }

  private def coreMetrics: Seq[(String, Double, String)] = {
    val r = replay
    def perDoc(stage: String) = r.map(x => x.stageUs(stage).toDouble / math.max(1L, x.docs)).getOrElse(0.0)
    def pct(p: Double) = r.map { x =>
      val s = x.docUs.sorted
      if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1)).toDouble
    }.getOrElse(0.0)
    Seq(("core.doc_us.p50", pct(0.5), "us"), ("core.doc_us.p99", pct(0.99), "us")) ++
      Seq("open", "pagetree", "inflate", "interpret", "struct", "layout", "html")
        .map(s => (s"core.${s}_us", perDoc(s), "us")) ++ Seq(
      ("core.pages", r.map(_.pages.toDouble).getOrElse(0.0), "count"),
      ("core.glyphs", r.map(_.glyphs.toDouble).getOrElse(0.0), "count"),
      ("core.inflated_bytes", r.map(_.inflatedBytes.toDouble).getOrElse(0.0), "bytes"),
      ("core.stage_coverage", r.map(_.coverage).getOrElse(0.0), "ratio"))
  }

  private def traceMetrics: Seq[(String, Double, String)] = {
    val t = Main.median(traced.map(_.wallS))
    val u = Main.median(untraced.map(_.wallS))
    Seq(("trace.wall_s_traced", t, "s"), ("trace.wall_s_untraced", u, "s"),
      ("trace.overhead", if (u > 0) t / u else 0.0, "ratio"))
  }

  def metrics: Seq[(String, Double, String)] =
    coreMetrics ++ sparkMetrics ++ streamMetrics ++ leafMetrics ++ selfMetrics ++ traceMetrics
}
