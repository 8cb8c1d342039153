package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Times are microseconds since the epoch; `parent` is
  * the id of the span that caused this one (0 for a pass). */
final case class Span(id: Long, parent: Long, pass: Int, kind: String, name: String,
    startUs: Long, endUs: Long, attrs: Map[String, Double] = Map.empty) {
  def durUs: Long = endUs - startUs
}

/** Spans recorded by the benchmark around its calls into the program, kept in
  * memory and written out when the run ends. Spark job and stage spans come
  * from [[SparkTrace]]; they find their leaf span through the local property
  * [[Tracer.SpanKey]], which Spark copies to every job the leaf starts,
  * including jobs on stream and helper threads the leaf spawns. */
final class Tracer {
  private val nanoBase = System.nanoTime()
  private val epochBaseUs = System.currentTimeMillis() * 1000
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val buf = mutable.ArrayBuffer.empty[Span]

  def nowUs: Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = synchronized { buf += s }
  def spans: Seq[Span] = synchronized(buf.toList)

  /** Time `body` as a span; `body` receives the span's id. */
  def span[T](kind: String, name: String, parent: Long, pass: Int)(body: Long => T): T = {
    val id = nextId()
    val t0 = nowUs
    try body(id) finally add(Span(id, parent, pass, kind, name, t0, nowUs))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val PassKey = "perfbench.pass"

  /** A layer's self time: each span's duration minus the part of it that
    * its children cover. Summed per span kind, in seconds. */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val covered = union(children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
          .filter { case (a, b) => b > a })
        (s.durUs - covered) / 1e6
      }.sum
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def toJson(spans: Seq[Span]): String = spans.map { s =>
    val attrs = s.attrs.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      .mkString("{", ",", "}")
    s"""{"id":${s.id},"parent":${s.parent},"pass":${s.pass},"kind":${Json.str(s.kind)},""" +
      s""""name":${Json.str(s.name)},"start_us":${s.startUs},"end_us":${s.endUs},"attrs":$attrs}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Task aggregates of one stage. */
final class StageAgg {
  var tasks = 0L
  var failed = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var firstLaunchMs = Long.MaxValue
  var scanBytes = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
}

final case class JobRec(jobId: Int, span: Long, pass: Int, startMs: Long, var endMs: Long = -1)
final case class StageRec(stageId: Int, attempt: Int, submittedMs: Long, completedMs: Long,
    agg: StageAgg)

/** Spark-layer listener: jobs, stages and per-task metrics of the jobs that
  * carry a [[Tracer.SpanKey]]. */
final class SparkTrace extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val aggs = new ConcurrentHashMap[(Int, Int), StageAgg]()
  private val stages = new java.util.concurrent.ConcurrentLinkedQueue[(JobRec, StageRec)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    val span = Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey))).map(_.toLong)
    span.foreach { s =>
      val pass = p.getProperty(Tracer.PassKey).toInt
      val rec = JobRec(e.jobId, s, pass, e.time)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(stageJob.put(_, rec))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageJob.containsKey(e.stageId)) {
      val a = aggs.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new StageAgg)
      a.synchronized {
        a.tasks += 1
        if (e.reason != Success) a.failed += 1
        val info = e.taskInfo
        a.firstLaunchMs = math.min(a.firstLaunchMs, info.launchTime)
        val m = e.taskMetrics
        if (m != null) {
          a.taskMs += m.executorRunTime
          a.durations += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
          a.scanBytes += m.inputMetrics.bytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          a.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(stageJob.get(si.stageId)).foreach { job =>
      val agg = Option(aggs.remove((si.stageId, si.attemptNumber()))).getOrElse(new StageAgg)
      stages.add(job -> StageRec(si.stageId, si.attemptNumber(),
        si.submissionTime.getOrElse(job.startMs), si.completionTime.getOrElse(job.startMs), agg))
    }
  }

  def jobRecs: Seq[JobRec] = jobs.values().asScala.toSeq.sortBy(_.jobId)
  def stageRecs: Seq[(JobRec, StageRec)] = stages.asScala.toSeq
}

/** Per micro-batch progress of the streaming queries started inside a traced
  * leaf. Spark instantiates this listener for every session's query
  * manager (the leaves run their streams on child sessions) through the
  * static conf `spark.sql.streaming.streamingQueryListeners`, so its state
  * lives in the companion object. */
class StreamTrace extends StreamingQueryListener {
  import StreamingQueryListener._

  override def onQueryStarted(e: QueryStartedEvent): Unit = {
    // delivered synchronously on the thread that starts the query, which
    // carries the leaf's local properties
    Option(SparkContext.getOrCreate().getLocalProperty(Tracer.SpanKey)).foreach { span =>
      StreamTrace.runs.put(e.runId.toString, span.toLong)
    }
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    Option(StreamTrace.runs.get(p.runId.toString)).foreach { span =>
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val ops = p.stateOperators
      StreamTrace.batches.add(StreamTrace.Batch(span, p.runId.toString, p.batchId,
        d("triggerExecution"), d("addBatch"), d("walCommit") + d("commitOffsets"),
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
    }
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

object StreamTrace {
  final case class Batch(span: Long, runId: String, batchId: Long, batchMs: Long, addBatchMs: Long,
      logMs: Long, stateCommitMs: Long, stateRows: Long, stateBytes: Long)
  val runs = new ConcurrentHashMap[String, java.lang.Long]()
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
}
