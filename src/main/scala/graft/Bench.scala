package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.spark.{CorpusGen, LocalFileSystem, Pipeline}

/** Per-round benchmark: one JSON line with per-query seconds plus the
  * extraction headline (docs/s + byte-identical match rate) on a corpus
  * whose parquet is materialized outside the timed section. */
object Bench {

  final case class ExtractionResult(docs: Long, secs: Double, docsPerSec: Double, matchRate: Double,
                                    reps: Seq[Double])

  def buildSession(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // extraction is CPU-bound per row: keep scan partitions small enough
      // that every core gets work even when the corpus parquet is compact
      // (default 128MB splits would coalesce the whole corpus into a
      // handful of tasks and flatline scaling)
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    LocalFileSystem.register(spark)
  }

  /** Materialize a corpus parquet (untimed), then time the full extraction
    * + match-rate job end-to-end (scan -> kernel -> join vs ground truth). */
  def extractionBench(spark: SparkSession, docs: Long, partitions: Int, dir: String): ExtractionResult = {
    val corpusPath = s"$dir/corpus"
    CorpusGen.corpus(spark, docs, partitions, heavy = true)
      .write.mode("overwrite").parquet(corpusPath)
    val stored = spark.read.parquet(corpusPath)
    // one untimed pass to warm the JIT (the kernel speeds up ~3x when hot)
    Pipeline.extract(spark, stored).toDF().agg(count(lit(1))).collect()
    // best of 2 timed reps: this VM's vCPU allocation is bursty (~2x
    // between windows) — the better rep is the least-perturbed observation,
    // the same protocol ScalingBench uses
    var n = 0L
    var matched = 0L
    val reps = scala.collection.mutable.ArrayBuffer[Double]()
    // 2 reps minimum; if they disagree by >2x, both may sit in one vCPU
    // throttle window — take up to 2 extra reps so at least one clean
    // observation can land (verdict r5 item 3: window-proof, not just
    // rep-proof)
    while (reps.size < 2 || (reps.size < 4 && reps.max / reps.min > 2.0)) {
      val t0 = System.nanoTime()
      val agg = Pipeline.extract(spark, stored).toDF()
        .join(stored.select("url", "expected"), Seq("url"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("text") === col("expected"), 1L).otherwise(0L)).as("matched"))
        .collect()(0)
      reps += (System.nanoTime() - t0) / 1e9
      n = agg.getLong(0)
      matched = agg.getLong(1)
    }
    val best = reps.min
    ExtractionResult(n, best, n / best, matched.toDouble / math.max(n, 1), reps.toSeq)
  }

  /** 1/5/15-min load averages — a throttled benchmark window is
    * machine-identifiable from these plus the per-rep spread. */
  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(",")
    catch { case _: Exception => "" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val benchDocs = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "20000").toLong
    val loadBefore = loadavg()
    val spark = buildSession(cpus)

    val tmp = java.nio.file.Files.createTempDirectory("graft_bench").toString
    val ex = extractionBench(spark, benchDocs, cpus * 4, tmp)

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val allReps = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    results("extract_corpus") = ex.secs
    allReps("extract_corpus") = ex.reps
    // best-of-reps per query: this host's vCPU allocation is bursty
    // (CLAUDE.md protocol, same as ScalingBench) — a single-shot timing
    // has manufactured phantom 7x regressions in past rounds. 2 reps
    // minimum; >2x disagreement means both may share a throttle window,
    // so take up to 2 extra (verdict r5 item 3). Per-rep times are
    // emitted so a throttled record is machine-identifiable after the
    // fact. A query that throws is recorded loudly (err map + nonzero
    // exit), never as a fast success.
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val reps = scala.collection.mutable.ArrayBuffer[Double]()
      while (!errors.contains(name) &&
             (reps.size < 2 || (reps.size < 4 && reps.max / reps.min > 2.0))) {
        val t0 = System.nanoTime()
        try {
          // checksum EVERY column, not count(): count() lets the
          // optimizer eliminate unique-key left joins whose columns go
          // unreferenced (measured: d11's whole verify was optimized
          // away, benching the query at ~1/4 its true cost) — hashing
          // the full row forces the complete computation the driver's
          // correctness dump performs
          val df = fn(spark, sfDir)
          df.agg(count(lit(1)),
            sum(pmod(xxhash64(df.columns.map(c => col(c).cast("string")): _*),
              lit(1000000007L)))).collect()
          reps += (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        }
      }
      allReps(name) = reps.toSeq
      results(name) = if (errors.contains(name)) -1.0 else reps.min
    }
    val loadAfter = loadavg()
    def fmt(v: Double): String = f"$v%.3f"
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val repsJson = allReps.map { case (k, v) =>
      "\"" + k + "\":" + v.map(fmt).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val errJson =
      if (errors.isEmpty) ""
      else ",\"errors\":" + errors.map { case (k, v) => "\"" + k + "\":" + jstr(v) }.mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    println(
      "{\"metric\":\"total\",\"value\":" + fmt(total) + ",\"unit\":\"sec\"" +
        ",\"queries\":" + qs + errJson +
        ",\"reps\":" + repsJson +
        ",\"loadavg_before\":\"" + loadBefore + "\",\"loadavg_after\":\"" + loadAfter + "\"" +
        ",\"sf\":\"" + sfDir + "\",\"cpus\":" + cpus +
        ",\"extraction\":{\"docs\":" + ex.docs +
        ",\"secs\":" + fmt(ex.secs) +
        ",\"docs_per_sec\":" + f"${ex.docsPerSec}%.1f" +
        ",\"match_rate\":" + ex.matchRate + "}}")
    LocalFileSystem.deleteTree(new java.io.File(tmp))
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
