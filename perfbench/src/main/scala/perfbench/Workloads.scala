package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.spark.{CorpusGen, Pipeline, Queries}

/** Outcome of one verified pass. `ops` are documents for `extract` and
  * registry leaves otherwise; `failed` counts the ops that threw or gave a
  * wrong result, and `problems` says which and why. */
final case class PassResult(wallS: Double, ops: Long, failed: Long,
    leafS: Seq[(String, Double)], problems: Seq[String])

/** A workload's inputs and one pass over them. `setUp` materializes the
  * inputs under `dir` and may run several times in a run; the last call's
  * inputs are the ones the passes read. When `trace` is given, every Spark
  * job of the pass is tagged with a leaf span. */
trait Workload {
  def name: String
  /** Untimed passes set-up runs so that timed passes see compiled code. */
  def warmUpPasses: Int
  def setUp(spark: SparkSession, dir: Path): Unit
  def pass(spark: SparkSession, passId: Int, trace: Option[Tracer]): PassResult
}

object Workload {
  /** Run `body` as leaf `leaf` of pass `passId`: with a tracer, a leaf span
    * whose id every Spark job started inside it carries. */
  def leafScope[T](spark: SparkSession, trace: Option[Tracer], leaf: String, passId: Int,
      passSpan: Long)(body: => T): T = trace match {
    case None => body
    case Some(t) =>
      val sc = spark.sparkContext
      t.span("leaf", leaf, passSpan, passId) { id =>
        sc.setLocalProperty(Tracer.SpanKey, id.toString)
        sc.setLocalProperty(Tracer.PassKey, passId.toString)
        try body
        finally {
          sc.setLocalProperty(Tracer.SpanKey, null)
          sc.setLocalProperty(Tracer.PassKey, null)
        }
      }
  }

  /** Run `body` as pass `passId`; with a tracer, under a pass span whose id
    * `body` receives. */
  def timedPass[T](trace: Option[Tracer], name: String, passId: Int)(body: Long => T): T =
    trace match {
      case None => body(0L)
      case Some(t) => t.span("pass", name, 0L, passId)(body)
    }
}

/** `extract`: ExtractJob's production path over a heavy corpus slice. */
final class ExtractWorkload(seed: Long, docs: Long, partitions: Int) extends Workload {
  val name = "extract"
  /** The JIT keeps speeding the kernel up over its first few passes: after
    * two warm-up passes of 2,000 docs the next ones still ran 5-20% slower
    * than later passes. */
  val warmUpPasses = 3
  private var inputPath: String = _
  private var expectedPath: String = _
  private var outRoot: Path = _

  /** Corpus rows [seed*docs, seed*docs + docs): the same kind mix for every
    * seed, different documents. */
  def setUp(spark: SparkSession, dir: Path): Unit = {
    import spark.implicits._
    val first = seed * docs
    val corpus = spark.range(first, first + docs, 1, partitions).as[Long]
      .mapPartitions(_.map(i => CorpusGen.row(i, heavy = true))).toDF()
      .cache()
    inputPath = dir.resolve("corpus").toString
    expectedPath = dir.resolve("expected").toString
    CorpusGen.inputView(corpus).write.mode("overwrite").parquet(inputPath)
    corpus.select("url", "expected").write.mode("overwrite").parquet(expectedPath)
    corpus.unpersist()
    outRoot = dir.resolve("out")
  }

  def pass(spark: SparkSession, passId: Int, trace: Option[Tracer]): PassResult = {
    val out = outRoot.resolve(s"pass-$passId").toString
    val wall = Workload.timedPass(trace, name, passId) { passSpan =>
      val t0 = System.nanoTime()
      Workload.leafScope(spark, trace, "extract", passId, passSpan) {
        // ExtractJob.main's body, minus the session and the resume check
        // (the output directory is fresh, so nothing is left to skip)
        val extracted = Pipeline.extractMode(spark, spark.read.parquet(inputPath), "tagged")
          .toDF()
          .observe("extract_totals",
            count(lit(1)).as("docs"),
            sum(when(col("ok"), 1L).otherwise(0L)).as("ok_docs"),
            sum(col("chars").cast("long")).as("chars"))
          .cache()
        extracted.write.mode(SaveMode.Append).parquet(s"$out/extracted")
        Pipeline.partitionMetrics(spark, extracted.as[Pipeline.ExtractedDoc](
          Encoders.product[Pipeline.ExtractedDoc]))
          .toDF()
          .withColumn("run_ts", current_timestamp())
          .write.mode(SaveMode.Append).parquet(s"$out/metrics")
        extracted.agg(
          count(lit(1)).as("docs"),
          coalesce(sum(when(col("ok"), 1L).otherwise(0L)), lit(0L)).as("ok"),
          coalesce(sum(when(col("ok"), 0L).otherwise(1L)), lit(0L)).as("errors")).collect()
        extracted.unpersist()
      }
      (System.nanoTime() - t0) / 1e9
    }
    val failed = verify(spark, s"$out/extracted")
    Dirs.delete(java.nio.file.Paths.get(out))
    PassResult(wall, docs, failed, Seq("extract" -> wall),
      if (failed == 0) Nil
      else Seq(s"extract: $failed of $docs docs are missing, duplicated or differ from expected"))
  }

  /** Docs whose written text is not byte-identical to the constructed
    * expected text. A missing url misses a match; a duplicated or unknown
    * url adds a joined row beyond one per doc, even when its text is right,
    * because matches count distinct urls. */
  private def verify(spark: SparkSession, extractedPath: String): Long = {
    val got = spark.read.parquet(extractedPath).select(col("url"), col("text"))
    val want = spark.read.parquet(expectedPath)
    val r = want.join(got, Seq("url"), "full_outer")
      .agg(count(lit(1)), countDistinct(when(col("text") === col("expected"), col("url"))))
      .collect()(0)
    val rows = r.getLong(0)
    val matched = r.getLong(1)
    (docs - matched) + (rows - docs)
  }
}

/** `stream`: registry leaves over the generated tables,
  * each forced with `graft.Bench`'s full-row checksum and compared with its
  * pinned (rows, checksum). */
final class LeafWorkload(val name: String, leaves: Seq[String], partitions: Int)
    extends Workload {
  /** After one warm-up pass the next pass still ran about 10% slower than
    * the one after it. */
  val warmUpPasses = 2
  private var dir: String = _
  private val seen = scala.collection.mutable.Map.empty[String, (Long, Long)]

  def setUp(spark: SparkSession, d: Path): Unit = {
    Tables.write(spark, d, partitions)
    dir = d.toString
  }

  def pass(spark: SparkSession, passId: Int, trace: Option[Tracer]): PassResult =
    Workload.timedPass(trace, name, passId) { passSpan =>
      val results = leaves.map { leaf =>
        val t0 = System.nanoTime()
        val outcome =
          try {
            Right(Workload.leafScope(spark, trace, leaf, passId, passSpan) {
              val df = Queries.queries(leaf)(spark, dir)
              val r = df.agg(count(lit(1)),
                sum(pmod(xxhash64(df.columns.map(c => col(c).cast("string")).toIndexedSeq: _*),
                  lit(1000000007L)))).collect()(0)
              (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
            })
          } catch {
            case e: Throwable => Left(s"$leaf threw ${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(200))
          }
        (leaf, (System.nanoTime() - t0) / 1e9, outcome.flatMap(check(leaf, _)))
      }
      val problems = results.collect { case (_, _, Left(p)) => p }
      PassResult(results.map(_._2).sum, leaves.size, problems.size,
        results.map(r => r._1 -> r._2), problems)
    }

  private def check(leaf: String, got: (Long, Long)): Either[String, Unit] = {
    val previous = seen.getOrElseUpdate(leaf, got)
    if (previous != got)
      Left(s"$leaf is not deterministic: (rows, checksum) $got after $previous in this run")
    else Pins.leaves.get(leaf) match {
      case Some(want) if want == got => Right(())
      case Some(want) => Left(s"$leaf gave (rows, checksum) $got, pinned $want")
      case None => Left(s"$leaf has no pinned result; got (rows, checksum) $got")
    }
  }
}

object LeafWorkload {
  /** The `stream` leaves: x22 is a stateful stream-stream join whose batches
    * are bound by state-store commits, and x31 runs the near-duplicate
    * verify that d11 shares, over the hot LSH band key. */
  val Stream = Seq("x22_stream_join", "x31_stream_incremental")
}

/** Each leaf's (row count, full-row checksum) on the tables [[Tables]]
  * writes. They were taken from `graft.Verify` dumps over those tables whose
  * every leaf passes `tools/oracle_check.py` (the DuckDB oracle). */
object Pins {
  val leaves: Map[String, (Long, Long)] = Map(
    "x22_stream_join" -> (322L, 156357284962L),
    "x31_stream_incremental" -> (2000L, 989703377618L))
}

object Dirs {
  def delete(p: Path): Unit =
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => java.nio.file.Files.delete(f))
}
