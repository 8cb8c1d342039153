package graft.tools

import org.apache.spark.sql.functions._
import graft.spark.{CorpusGen, Pipeline}

/** Dev tool: million-row corpus end-to-end smoke at local[32]; lists up to
  * 20 rows that fail to match their ground truth. */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val docs = sys.env.getOrElse("DOCS", "1000000").toLong
    // MODE = a name in Pipeline.Modes (default Pipeline.DefaultMode) — each
    // mode has its own rare-input code paths (layout heuristics,
    // backtracking parser), so the smoke can exercise every mode against
    // its ground truth column: `expected` for the default, else
    // `expected_<mode>`
    val mode = sys.env.getOrElse("MODE", Pipeline.DefaultMode)
    require(Pipeline.Modes.contains(mode), s"MODE must be one of ${Pipeline.Modes.keys.mkString(", ")}")
    val expectedCol = if (mode == Pipeline.DefaultMode) "expected" else s"expected_$mode"
    val spark = graft.Bench.buildSession(32)
    val tmp = java.nio.file.Files.createTempDirectory("smoke").toString
    var t0 = System.nanoTime()
    CorpusGen.corpus(spark, docs, 128).write.mode("overwrite").parquet(s"$tmp/c")
    println(f"SMOKE gen+write ${(System.nanoTime()-t0)/1e9}%.1f s")
    val stored = spark.read.parquet(s"$tmp/c")
    t0 = System.nanoTime()
    val joined = Pipeline.extractMode(spark, stored, mode).toDF()
      .join(stored.select(col("url"), col("kind"), col(expectedCol).as("expected")), Seq("url"))
    val agg = joined
      .agg(count(lit(1)).as("n"),
        sum(when(col("text") === col("expected"), 1L).otherwise(0L)).as("m"),
        sum(when(col("ok"), 0L).otherwise(1L)).as("errs"))
      .collect()(0)
    val secs = (System.nanoTime()-t0)/1e9
    println(f"SMOKE [$mode] extract+match $docs docs in $secs%.1f s -> ${docs/secs}%.0f docs/s; matched ${agg.getLong(1)}/${agg.getLong(0)}; errors ${agg.getLong(2)}")
    if (agg.getLong(1) < agg.getLong(0) || agg.getLong(2) > 0) {
      // null-safe: an ok row with null text must be listed too
      val bad = joined.filter(!col("ok") || !(col("text") <=> col("expected")))
        .select("url", "kind", "ok", "error", "chars")
        .limit(20).collect()
      println(s"SMOKE first ${bad.length} failing rows:")
      bad.foreach(r => println(s"  $r"))
    }
    spark.stop()
  }
}
