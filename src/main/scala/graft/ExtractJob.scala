package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.spark.Pipeline

/** Production extraction job (spark-submit main).
  *
  * Usage: ExtractJob <inputDir> <outputDir> [mode]
  *   inputDir   parquet/Iceberg path with the input_hint schema
  *   outputDir  receives `extracted/` (append) and `metrics/` (append)
  *   mode       a name in Pipeline.Modes (default Pipeline.DefaultMode);
  *              an unknown mode prints the usage and exits with status 2
  *
  * Behavior: resumable — urls already present in outputDir/extracted are
  * dropped with a left-anti join before the kernel runs, so re-running
  * after a failure is idempotent. Per-partition lineage rows are appended
  * to the metrics table; driver-visible totals go through observe().
  * On a real cluster this main is submitted unchanged (the session builder
  * only sets master when none is provided).
  */
object ExtractJob {
  def main(args: Array[String]): Unit = {
    val mode = args.lift(2).getOrElse(Pipeline.DefaultMode)
    if (args.length < 2 || !Pipeline.Modes.contains(mode)) {
      System.err.println(s"usage: ExtractJob <inputDir> <outputDir> [${Pipeline.Modes.keys.mkString("|")}]")
      sys.exit(2)
    }
    val Array(inputDir, outputDir) = args.take(2)

    val builder = SparkSession.builder().appName(s"graft-extract-$mode")
    val spark =
      (if (sys.props.contains("spark.master") || sys.env.contains("SPARK_MASTER"))
         builder
       else builder
         .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
         .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val input = spark.read.parquet(inputDir)
    val extractedPath = s"$outputDir/extracted"
    val metricsPath = s"$outputDir/metrics"

    // resume: drop urls already extracted (idempotent re-runs)
    val remaining =
      if (pathExists(spark, extractedPath))
        Pipeline.resumeRemaining(input, spark.read.parquet(extractedPath))
      else input

    // the decode counters ride the write (no summary job of their own)
    val (observed, obs) = Pipeline.observeExtraction(
      Pipeline.extractMode(spark, remaining, mode))
    val extracted = observed.cache()

    extracted.write.mode(SaveMode.Append).parquet(extractedPath)
    val totals = obs.get
    Pipeline.partitionMetrics(spark, extracted)
      .toDF()
      .withColumn("run_ts", current_timestamp())
      .write.mode(SaveMode.Append).parquet(metricsPath)

    println(s"""{"job":"extract","mode":"$mode","docs":${totals("docs")},"ok":${totals("ok_docs")},"errors":${totals("decode_failures")}}""")
    spark.stop()
  }

  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
