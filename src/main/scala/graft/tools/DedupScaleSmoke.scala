package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Dev tool: the dedup family (d1 exact, d2 minhash signatures, d6
  * near-dup verify, d10 connected components) on a >=1M-document synthetic
  * corpus with PLANTED duplicate structure, recording per-query wall time,
  * shuffle read/write bytes, broadcast bytes, spill, peak task execution
  * memory, and task failures/retries. d10 runs TWICE and the component
  * assignment is fingerprinted (order-independent per-row hash fold) to
  * prove byte-stability across executions — the verdict's scale evidence
  * for the dedup story beyond the 500-doc oracles and the 20k bench. */
object DedupScaleSmoke {

  final case class DocRow(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  /** Deterministic text with planted duplicate structure: groups of 5 ids;
    * half the groups carry one EXACT copy of the group base, a third carry
    * a 2-token NEAR duplicate, the rest are unique. ~55 tokens per doc. */
  def docText(i: Long): String = {
    val g = i / 5
    val r = i % 5
    // 40-bit token space: unrelated documents share essentially no tokens,
    // so LSH buckets reflect only the PLANTED structure (a small
    // vocabulary chains unrelated docs through accidental minhash
    // collisions into one giant component — the first cut used %9973 and
    // d10 never converged)
    def words(seed: Long, n: Int): Seq[String] =
      (0 until n).map { k =>
        val h = (seed * 6364136223846793005L + k * 1442695040888963407L) >>> 24
        s"tok$h"
      }
    def base(seed: Long): String =
      (s"document group $seed begins here" +: words(seed, 50) :+ "ends").mkString(" ")
    r match {
      case 1 if g % 2 == 0 => base(g) // exact duplicate of role 0
      case 2 if g % 3 == 0 => // near duplicate: 2 tokens replaced
        val toks = base(g).split(" ")
        toks(10) = "changed"; toks(30) = "tokens"
        toks.mkString(" ")
      case _ if r == 0 => base(g)
      case _ => (s"unique document $i standalone" +: words(i * 31 + 7, 50)).mkString(" ")
    }
  }

  /** The mega-tier's single giant duplicate group: one token-rich base
    * text copied verbatim across the first MEGA doc ids (same token-hash
    * formula as docText so the token space stays 40-bit). */
  def megaText: String = {
    val seed = 987654321987L
    val ws = (0 until 50).map { k =>
      val h = (seed * 6364136223846793005L + k * 1442695040888963407L) >>> 24
      s"tok$h"
    }
    (s"document group mega begins here" +: ws :+ "ends").mkString(" ")
  }

  private final class Metrics extends SparkListener {
    val shuffleRead = new java.util.concurrent.atomic.AtomicLong
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
    val broadcast = new java.util.concurrent.atomic.AtomicLong
    val memSpill = new java.util.concurrent.atomic.AtomicLong
    val diskSpill = new java.util.concurrent.atomic.AtomicLong
    val peakExecMem = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val failures = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (te.reason != org.apache.spark.Success) failures.incrementAndGet()
      val m = te.taskMetrics
      if (m != null) {
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
        peakExecMem.getAndAccumulate(m.peakExecutionMemory, math.max(_, _))
      }
    }
    // a broadcast's serialized pieces, as the driver stores them
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isBroadcast && b.blockId.name.contains("_piece"))
        broadcast.addAndGet(b.memSize + b.diskSize)
    }
    def snapshotAndReset(): String = {
      def mb(v: Long) = f"${v / 1048576.0}%.1f MB"
      val s = s"shuffleRead=${mb(shuffleRead.get)} shuffleWrite=${mb(shuffleWrite.get)} " +
        s"broadcast=${mb(broadcast.get)} memSpill=${mb(memSpill.get)} diskSpill=${mb(diskSpill.get)} " +
        s"peakTaskExecMem=${mb(peakExecMem.get)} tasks=${tasks.get} failures=${failures.get}"
      shuffleRead.set(0); shuffleWrite.set(0); broadcast.set(0); memSpill.set(0); diskSpill.set(0)
      peakExecMem.set(0); tasks.set(0); failures.set(0)
      s
    }
  }

  /** Order-independent fingerprint of a (doc_id, component)-style result:
    * per-row hash folded with count + sum + xor, no driver collect. */
  private def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val r = df
      .select(xxhash64(concat_ws(":", df.columns.map(col).toSeq: _*)).as("h"))
      // xor never overflows; the sum is reduced mod ~1e9 first (ANSI mode
      // throws on Long overflow — a ~1e9 residue keeps the sum under
      // Long.Max up to ~9e9 rows)
      .agg(count(lit(1)), expr("bit_xor(h)"), sum(pmod(col("h"), lit(1000000007L))))
      .collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def main(args: Array[String]): Unit = {
    val docs = sys.env.getOrElse("DOCS", "1000000").toLong
    val spark = graft.Bench.buildSession(32)
    import spark.implicits._
    val metrics = new Metrics
    spark.sparkContext.addSparkListener(metrics)

    // Mega tier (MEGA=100000): the first MEGA ids are EXACT copies of one
    // base text — a single 100k-member duplicate cluster inside the 1M
    // corpus, the shape that turns an all-pairs verify into k^2 = 10^10
    // Jaccards. The claim under measurement: rep-chaining keeps verify
    // links at exactly k-1 and d10 converges with the giant component
    // INTACT (one component of size k), byte-stable across runs.
    val mega = sys.env.getOrElse("MEGA", "0").toLong
    val dir = java.nio.file.Files.createTempDirectory("dedup_smoke").toString
    var t0 = System.nanoTime()
    spark.range(0, docs, 1, 256).as[Long].mapPartitions(_.map { i =>
      val t = if (i < mega) megaText else docText(i)
      DocRow(i, t, "en", s"crawl-${i % 7}", t.length.toLong)
    }).toDF().write.mode("overwrite").parquet(s"$dir/documents.parquet")
    println(f"DEDUPSMOKE gen+write $docs docs in ${(System.nanoTime() - t0) / 1e9}%.1f s " +
      s"[${metrics.snapshotAndReset()}]")

    def run(name: String)(action: => (Long, String)): Unit = {
      val t = System.nanoTime()
      val (rows, extra) = action
      println(f"DEDUPSMOKE $name rows=$rows in ${(System.nanoTime() - t) / 1e9}%.1f s " +
        s"[${metrics.snapshotAndReset()}]$extra")
    }

    // Incremental tier (DELTAS="20000,80000"): build the persisted
    // signature index over the base corpus ONCE, then run the d11
    // incremental pass at each delta size. The claim under measurement:
    // what the incremental pass MOVES is proportional to the DELTA, not
    // the corpus — the index is walked where it is read (sequential scan,
    // no exchange, never broadcast); the delta's band rows (once, shared by
    // the new<->old and new<->new legs) and the classification's match
    // maps are broadcast and its sort shuffles delta-sized rows, so a 4x delta
    // should broadcast and shuffle ~4x the bytes while the base corpus
    // never moves.
    sys.env.get("DELTAS").foreach { spec =>
      run("build_signature_index") {
        graft.spark.Queries.buildSignatureIndex(
          spark.read.parquet(s"$dir/documents.parquet"), s"$dir/sigidx")
        (graft.spark.Queries.signatureIndex(spark, s"$dir/sigidx").count(), "")
      }
      val index = graft.spark.Queries.signatureIndex(spark, s"$dir/sigidx")
      for (n <- spec.split(",").map(_.trim.toLong)) {
        run(s"incremental_dedup_delta_$n") {
          // recrawl mix: half exact re-crawls of existing docs, a quarter
          // near-dup re-crawls (2 tokens changed), a quarter fresh docs
          val delta = spark.range(0, n, 1, 64).as[Long].mapPartitions(_.map { i =>
            val id = docs + i
            val text = (i % 4) match {
              case 0 | 1 => docText(i)
              case 2 =>
                val t = docText(i).split(" ")
                t(5) = "recrawled"; t(25) = "delta"
                t.mkString(" ")
              case _ =>
                (s"freshdoc $id standalone" +: (0 until 50).map { k =>
                  val h = (id * 6364136223846793005L + k * 1442695040888963407L) >>> 24
                  s"tok$h"
                }).mkString(" ")
            }
            DocRow(id, text, "en", "recrawl", text.length.toLong)
          }).toDF()
          val out = graft.spark.Queries.incrementalDedup(index,
            graft.spark.Queries.sigKeyed(delta).localCheckpoint(true))
          val byStatus = out.groupBy("status").count().collect()
            .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted
          (byStatus.map(_.split("=")(1).toLong).sum,
            s" byStatus=${byStatus.mkString(",")}")
        }
      }
      println("DEDUPSMOKE done")
      spark.stop()
      return
    }

    val q = graft.spark.Queries.queries
    if (mega > 0) {
      var bad = false
      run("d1_dedup_exact_mega") {
        val out = q("d1_dedup_exact")(spark, dir)
        val maxCopies = out.agg(max("copies")).collect()(0).getLong(0)
        if (maxCopies != mega) { bad = true; println(s"DEDUPSMOKE FAIL: maxCopies=$maxCopies != $mega") }
        (out.count(), s" maxCopies=$maxCopies")
      }
      run("d6_near_dup_verify_mega") {
        val out = q("d6_near_dup_verify")(spark, dir).cache()
        val total = out.count()
        // rep-chaining contract: the k-copy cluster verifies k-1 links
        // (all members share band0, rep = doc 0, band-1 links suppressed
        // by first-band-wins), never k^2
        val megaLinks = out.filter(col("doc_a") === 0 && col("doc_b") < mega).count()
        out.unpersist()
        if (megaLinks != mega - 1) { bad = true; println(s"DEDUPSMOKE FAIL: megaLinks=$megaLinks != ${mega - 1}") }
        (total, s" megaLinks=$megaLinks (expected ${mega - 1})")
      }
      var fpm: (Long, Long, Long) = null
      run("d10_dedup_components_mega_run1") {
        val out = q("d10_dedup_components")(spark, dir).cache()
        fpm = fingerprint(out)
        val giant = out.groupBy("component").count().agg(max("count")).collect()(0).getLong(0)
        out.unpersist()
        if (giant != mega) { bad = true; println(s"DEDUPSMOKE FAIL: giant component=$giant != $mega") }
        (fpm._1, s" fp=$fpm giantComponent=$giant (expected $mega)")
      }
      run("d10_dedup_components_mega_run2") {
        val fp2 = fingerprint(q("d10_dedup_components")(spark, dir))
        if (fp2 != fpm) { bad = true; println(s"DEDUPSMOKE FAIL: d10 fingerprints differ: $fpm vs $fp2") }
        (fp2._1, s" fp=$fp2 stable=${fp2 == fpm}")
      }
      println(if (bad) "DEDUPSMOKE done FAILURES" else "DEDUPSMOKE done")
      spark.stop()
      if (bad) sys.exit(1)
      return
    }

    run("d1_dedup_exact") {
      val out = q("d1_dedup_exact")(spark, dir)
      val dupGroups = out.filter(col("copies") > 1).count()
      (out.count(), s" dupGroups=$dupGroups")
    }
    run("d2_minhash_lsh") { (q("d2_minhash_lsh")(spark, dir).count(), "") }
    run("d6_near_dup_verify") { (q("d6_near_dup_verify")(spark, dir).count(), "") }

    // d10 twice: assignments must be byte-stable run-to-run
    var fp1: (Long, Long, Long) = null
    run("d10_dedup_components_run1") {
      val out = q("d10_dedup_components")(spark, dir)
      fp1 = fingerprint(out)
      (fp1._1, s" fp=$fp1")
    }
    run("d10_dedup_components_run2") {
      val out = q("d10_dedup_components")(spark, dir)
      val fp2 = fingerprint(out)
      val stable = fp2 == fp1
      if (!stable) println(s"DEDUPSMOKE FAIL: d10 fingerprints differ: $fp1 vs $fp2")
      (fp2._1, s" fp=$fp2 stable=$stable")
    }
    println("DEDUPSMOKE done")
    spark.stop()
  }
}
