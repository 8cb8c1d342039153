package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // extra args (dev only) restrict the dump to named queries; the
    // driver always passes exactly (sfDir, outDir) and dumps everything
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.spark.LocalFileSystem.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Generator ground truth for the extraction oracles: url/kind/pages/
    // expected text/payload bytes known BY CONSTRUCTION (no kernel run).
    // The extraction oracle SQL reads this via
    // read_parquet('__AUX__/*.parquet'). Written to a SIBLING directory of
    // outDir — outDir itself must contain only per-query result dumps (the
    // driver globs it and would report the aux table as a spurious query).
    val auxDir = s"${outDir}_aux"
    locally {
      import org.apache.spark.sql.functions.col
      graft.spark.CorpusGen.corpus(spark, rows = 180, partitions = 8)
        .select(col("url"), col("kind"), col("pages"), col("expected").as("text"),
          col("expected_geom").as("text_geom"),
          col("expected_legacy").as("text_legacy"),
          col("toc_entries"), col("toc_text"), col("page_texts"),
          col("title"), col("regions"), col("html").as("payload"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$auxDir/aux_expected")
      // Long-document ground truth for the realistic-budget chunking
      // surface (c4/c5): construction-fact page_texts/regions of the
      // 24-row longCorpus.
      graft.spark.CorpusGen.longCorpus(spark, rows = 24, partitions = 4)
        .select(col("url"), col("kind"), col("expected").as("text"),
          col("page_texts"), col("regions"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$auxDir/aux_long")
      // Diff ground truth: per-url page paragraph texts of the 33-row corpus
      // and its variant (both constructed) joined side by side, so DuckDB
      // can reproduce the paragraph-diff output without running the kernel.
      val a = graft.spark.CorpusGen.corpus(spark, rows = 33, partitions = 3)
        .select(col("url"), col("kind"), col("pages").as("pages_a"),
          col("page_texts").as("page_texts_a"), col("expected").as("text_a"))
      val bv = graft.spark.CorpusGen.variantCorpus(spark, rows = 33, partitions = 3)
        .select(col("url"), col("pages").as("pages_b"),
          col("page_texts").as("page_texts_b"), col("expected").as("text_b"))
      a.join(bv, Seq("url"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$auxDir/aux_diff")
      // Media ground truth: format/dimensions (and PNG pixel md5) known by
      // construction for the real image-decode surface (x17).
      graft.spark.CorpusGen.mediaCorpus(spark, rows = 60, partitions = 4)
        .select(col("url"), col("kind"), col("ok"), col("width"), col("height"),
          col("pixel_md5"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$auxDir/aux_media")
      // Audio ground truth: RIFF header fields + exact PCM sample md5 are
      // construction facts for the real audio-decode surface (x18).
      graft.spark.CorpusGen.audioCorpus(spark, rows = 60, partitions = 4)
        .select(col("url"), col("kind"), col("ok"), col("sample_rate"),
          col("channels"), col("bits"), col("n_samples"), col("sample_md5"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$auxDir/aux_audio")
      // Video ground truth: AVI header fields (dims/fps/frame count) + exact
      // per-frame JPEG byte md5s are construction facts for the real
      // MJPEG/AVI frame-decode surface (x20).
      graft.spark.CorpusGen.videoCorpus(spark, rows = 60, partitions = 4)
        .select(col("url"), col("kind"), col("ok"), col("width"), col("height"),
          col("fps"), col("n_frames"), col("frame_md5s"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$auxDir/aux_video")
      // Scanned-image ground truth: bitmap dimensions + decoded-pixel md5
      // are construction facts for the fax/JBIG2 decode surface (x26).
      graft.spark.CorpusGen.scannedCorpus(spark, rows = 60, partitions = 4)
        .select(col("url"), col("kind"), col("width"), col("height"),
          col("pixel_md5"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$auxDir/aux_scanned")
      // JPX ground truth: JP2/codestream header fields are construction
      // facts for the header-facts-with-refusal surface (x30).
      graft.spark.CorpusGen.jpxCorpus(spark, rows = 60, partitions = 4)
        .select(col("url"), col("kind"), col("ok"), col("format"),
          col("width"), col("height"), col("components"), col("bpc"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$auxDir/aux_jpx")
    }
    SparkEntry.queries.filter(q => only.isEmpty || only(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val auxPath = new java.io.File(auxDir, "aux_expected").getAbsolutePath
    val auxDiffPath = new java.io.File(auxDir, "aux_diff").getAbsolutePath
    val auxMediaPath = new java.io.File(auxDir, "aux_media").getAbsolutePath
    val auxAudioPath = new java.io.File(auxDir, "aux_audio").getAbsolutePath
    val auxVideoPath = new java.io.File(auxDir, "aux_video").getAbsolutePath
    val auxScanPath = new java.io.File(auxDir, "aux_scanned").getAbsolutePath
    val auxJpxPath = new java.io.File(auxDir, "aux_jpx").getAbsolutePath
    val auxLongPath = new java.io.File(auxDir, "aux_long").getAbsolutePath
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__AUXDIFF__", auxDiffPath)
        .replace("__AUXMEDIA__", auxMediaPath).replace("__AUXAUDIO__", auxAudioPath)
        .replace("__AUXVIDEO__", auxVideoPath)
        .replace("__AUXSCAN__", auxScanPath)
        .replace("__AUXJPX__", auxJpxPath)
        .replace("__AUXLONG__", auxLongPath)
        .replace("__AUX__", auxPath))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
