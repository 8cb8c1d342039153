package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.spark.{LocalFileSystem, Pipeline}

/** Production extraction job (spark-submit main).
  *
  * Usage: ExtractJob <inputDir> <outputDir> [mode]
  *   inputDir   parquet/Iceberg path with the input_hint schema
  *   outputDir  receives `extracted/` (append) and `metrics/` (append)
  *   mode       tagged (default) | geom | legacy
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
    require(args.length >= 2, "usage: ExtractJob <inputDir> <outputDir> [tagged|geom|legacy]")
    val Array(inputDir, outputDir) = args.take(2)
    val mode = if (args.length > 2) args(2) else "tagged"

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
    LocalFileSystem.register(spark)
    spark.sparkContext.setLogLevel("WARN")

    val input = spark.read.parquet(inputDir)
    val extractedPath = s"$outputDir/extracted"
    val metricsPath = s"$outputDir/metrics"

    // resume: drop urls already extracted (idempotent re-runs)
    val remaining =
      if (pathExists(spark, extractedPath))
        Pipeline.resumeRemaining(input, spark.read.parquet(extractedPath))
      else input

    val extracted = Pipeline.extractMode(spark, remaining, mode)
      .toDF()
      .observe("extract_totals",
        count(lit(1)).as("docs"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("ok_docs"),
        sum(col("chars").cast("long")).as("chars"))
      .cache()

    extracted.write.mode(SaveMode.Append).parquet(extractedPath)
    Pipeline.partitionMetrics(spark, extracted.as[Pipeline.ExtractedDoc](
      org.apache.spark.sql.Encoders.product[Pipeline.ExtractedDoc]))
      .toDF()
      .withColumn("run_ts", current_timestamp())
      .write.mode(SaveMode.Append).parquet(metricsPath)

    val summary = extracted.agg(
      count(lit(1)).as("docs"),
      coalesce(sum(when(col("ok"), 1L).otherwise(0L)), lit(0L)).as("ok"),
      coalesce(sum(when(col("ok"), 0L).otherwise(1L)), lit(0L)).as("errors")).collect()(0)
    println(s"""{"job":"extract","mode":"$mode","docs":${summary.getLong(0)},"ok":${summary.getLong(1)},"errors":${summary.getLong(2)}}""")
    spark.stop()
  }

  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
