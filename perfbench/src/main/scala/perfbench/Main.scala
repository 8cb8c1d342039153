package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SparkInternals, SparkSession}

/** The repository benchmark: one workload, one client, passes in a closed
  * loop for a fixed time, every pass verified. Prints a facts line, a
  * summary line and, last, the result line the harness reads.
  *
  * Usage: Main --workload extract|stream --seed N --seconds S
  *        --trace 0|1 --work-dir DIR
  *
  * Untraced runs report the end-to-end metrics. Traced runs interleave
  * untraced and traced passes, report the per-layer metrics of the traced
  * ones and the ratio of the two, and write their spans to
  * DIR/traces/<workload>-<seed>.json. */
object Main {

  /** Corpus rows per `extract` pass. */
  val ExtractDocs = 2000L
  /** Set-up materializes the inputs this many times; setup_s takes the median. */
  val SetUpRepeats = 3
  /** Corpus rows the kernel replay takes from the start of the seed's slice,
    * replayed this many times (enough doc timings for a p99). */
  val ReplayDocs = 320
  val ReplayRounds = 4

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work-dir")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val loadBefore = loadavg()
    val cpus = Runtime.getRuntime.availableProcessors()
    val runDir = args.work.resolve("run")
    Dirs.delete(runDir)
    Files.createDirectories(runDir)

    val tSession = System.nanoTime()
    val spark = session(cpus, runDir, args.trace)
    val sessionS = (System.nanoTime() - tSession) / 1e9

    val workload: Workload = args.workload match {
      case "extract" => new ExtractWorkload(args.seed, ExtractDocs, cpus * 4)
      case "stream" => new LeafWorkload("stream", LeafWorkload.Stream, cpus)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val materializeS = (0 until SetUpRepeats).map { k =>
      val dir = runDir.resolve(s"inputs-$k")
      Files.createDirectories(dir)
      val t = System.nanoTime()
      workload.setUp(spark, dir)
      val s = (System.nanoTime() - t) / 1e9
      if (k > 0) Dirs.delete(runDir.resolve(s"inputs-${k - 1}"))
      s
    }
    val warm = (1 to workload.warmUpPasses).map(i => workload.pass(spark, -i, None))
    val warmS = warm.map(_.wallS).sum
    val setupS = sessionS + median(materializeS) + warmS

    val tracer = if (args.trace) Some(new Tracer) else None
    val sparkTrace = tracer.map { _ =>
      val l = new SparkTrace
      spark.sparkContext.addSparkListener(l)
      l
    }
    // every timed pass starts from a collected heap, the first one too
    Heap.sample()
    Heap.reset()
    val untraced = mutable.ArrayBuffer.empty[PassResult]
    val traced = mutable.ArrayBuffer.empty[PassResult]
    val tLoop = System.nanoTime()
    def elapsed = (System.nanoTime() - tLoop) / 1e9
    var passId = 1
    // traced runs interleave untraced and traced passes as U T T U, so that
    // JIT warm-up over the run does not favour either side of the ratio
    while (elapsed < args.seconds || untraced.isEmpty || (args.trace && passId <= 4)) {
      val traceThis = args.trace && (passId - 1) % 4 % 3 != 0
      val r = workload.pass(spark, passId, if (traceThis) tracer else None)
      (if (traceThis) traced else untraced) += r
      Heap.sample()
      passId += 1
    }
    val heapPeakMb = Heap.peakBytes / 1048576.0
    val loopS = elapsed

    val replay = if (args.trace && args.workload == "extract") {
      val rp = new Replay(tracer)
      val first = args.seed * ExtractDocs
      rp.run(first until first + ReplayDocs, ReplayRounds, passId)
      Some(rp)
    } else None

    sparkTrace.foreach(_ => SparkInternals.drainListeners(spark.sparkContext))
    val loadAfter = loadavg()

    // replayed docs are ops too: each must give extractRowMode's text
    val all = warm ++ untraced ++ traced
    val replayMismatches = replay.map(_.mismatches.toSeq).getOrElse(Nil)
    val attempted = all.map(_.ops).sum + replay.map(_.docs).getOrElse(0L)
    val failed = all.map(_.failed).sum + replayMismatches.size
    val problems = all.flatMap(_.problems).distinct ++
      replayMismatches.map(u => s"kernel replay: staged text differs from extractRowMode for $u")
    val correct = failed == 0

    val wallS = median(untraced.map(_.wallS).toSeq)
    val endToEnd = Seq(
      ("wall_s", wallS, "s"),
      ("setup_s", setupS, "s"),
      ("heap_peak_mb", heapPeakMb, "MB"))

    val metrics = tracer match {
      case None => endToEnd
      case Some(t) =>
        val layers = new Layers(t, sparkTrace.get, traced.toSeq, untraced.toSeq, cpus, replay)
        val spansOut = args.work.resolve("traces").resolve(s"${args.workload}-${args.seed}.json")
        Files.createDirectories(spansOut.getParent)
        Files.writeString(spansOut, Tracer.toJson(t.spans ++ layers.sparkSpans))
        layers.metrics
    }

    val facts = Seq(
      "workload" -> Json.str(args.workload), "seed" -> args.seed.toString,
      "trace" -> args.trace.toString, "seconds" -> Json.num(args.seconds),
      "nproc" -> cpus.toString, "loadavg_before" -> Json.str(loadBefore),
      "loadavg_after" -> Json.str(loadAfter),
      "jvm_flags" -> Json.str(ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("-Xm") || a.startsWith("-XX")).mkString(" ")),
      "java" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "commit" -> Json.str(sys.props.getOrElse("perfbench.commit", "unknown")))
    println(Json.obj("facts" -> Json.obj(facts: _*)))

    val docs =
      if (args.workload == "extract") Seq("docs_per_s" -> Json.num(untraced.head.ops / wallS))
      else Nil
    val summary = Seq(
      "passes" -> untraced.size.toString, "traced_passes" -> traced.size.toString,
      "pass_wall_s" -> Json.arr(untraced.map(r => Json.num(r.wallS)).toSeq),
      "wall_s" -> Json.num(wallS)) ++ docs ++ Seq(
      "leaf_wall_s" -> Json.obj(untraced.head.leafS.map(_._1).map { l =>
        l -> Json.num(median(untraced.toSeq.flatMap(_.leafS.collect { case (`l`, s) => s })))
      }: _*),
      "match_rate" -> Json.num((attempted - failed).toDouble / attempted),
      "error_rate" -> Json.num(failed.toDouble / attempted),
      "setup_s" -> Json.num(setupS), "session_s" -> Json.num(sessionS),
      "materialize_s" -> Json.arr(materializeS.map(Json.num)),
      "warmup_s" -> Json.num(warmS), "heap_peak_mb" -> Json.num(heapPeakMb),
      "loop_s" -> Json.num(loopS),
      "problems" -> Json.arr(problems.map(Json.str)))
    println(Json.obj("summary" -> Json.obj(summary: _*)))

    spark.stop()
    Dirs.delete(runDir)
    println(Json.obj(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u))
      }: _*)))
    System.out.flush()
    if (!correct) sys.exit(1)
  }

  private def session(cpus: Int, runDir: Path, trace: Boolean): SparkSession = {
    // graft.Bench.buildSession's settings, with every path inside the run dir
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
    val spark = (if (trace) b.config("spark.sql.streaming.streamingQueryListeners",
      classOf[StreamTrace].getName) else b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split(" ").take(3).mkString(",")
    catch { case _: Exception => "" }
}

/** Peak old-generation occupancy after collection: the old generation's
  * occupancy after a full collection at the end of each pass, the largest
  * over the run's timed passes. The collection runs twice, a moment apart,
  * because Spark's ContextCleaner frees the broadcast and shuffle blocks
  * of collected plans only after the first collection finds them. Before
  * it, the state stores of the pass's finished streams are unloaded: Spark
  * keeps them until its next maintenance tick, so otherwise the figure
  * would count the stores of as many passes as fell between two ticks. */
object Heap {
  private var peak = 0L
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  def reset(): Unit = peak = 0L
  def peakBytes: Long = peak

  def sample(): Unit = {
    SparkInternals.unloadStateStores()
    System.gc()
    Thread.sleep(200)
    System.gc()
    oldGen.foreach(p => Option(p.getCollectionUsage).foreach(u => peak = math.max(peak, u.getUsed)))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
