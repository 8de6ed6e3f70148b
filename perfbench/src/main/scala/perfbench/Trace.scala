package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A traced interval; times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, name: String, startMs: Double, endMs: Double)

/**
 * In-memory span recorder. Spans share the run id of one workload run
 * and are written out as JSONL when the run ends. With `enabled = false`
 * every call is a no-op except the clock, so untraced runs pay nothing.
 */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val ids = new AtomicLong(1L)
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()

  /** Epoch milliseconds on the monotonic clock. */
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  def newId(): Long = ids.getAndIncrement()

  def add(s: Span): Unit = if (enabled) buf.synchronized { buf += s }

  def spans: Seq[Span] = buf.synchronized(buf.toSeq)

  /** Times `f` as a span under `parent`; `id` lets callers pre-allocate
    * the id so child work can name it as parent while it runs. */
  def span[T](name: String, parent: Long, id: Long = newId())(f: => T): T = {
    val t0 = nowMs()
    try f finally add(Span(id, parent, name, t0, nowMs()))
  }

  def write(path: Path): Unit = if (enabled) {
    val lines = spans.map { s =>
      Json.obj(Seq("run" -> Json.str(runId), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs)))
    }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }
}

object Tracer {
  /** Local property naming the harness span that issues a Spark job. */
  val SpanKey = "perfbench.span"
  /** Set by MicroBatchExecution on every job of a micro-batch. */
  val BatchKey = "streaming.sql.batchId"

  /** Runs `f` with the span property set on this thread. */
  def under[T](sc: SparkContext, spanId: Long)(f: => T): T = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, spanId.toString)
    try f finally sc.setLocalProperty(SpanKey, prev)
  }
}

/** Aggregated view of one finished stage. */
final class StageRec(val stageId: Int) {
  var rdds: Seq[String] = Nil
  var submitMs = 0.0
  var endMs = 0.0
  var runMs = 0.0
  var shuffleWriteMs = 0.0
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var tasks = 0L
  var retries = 0L
  val taskRunMs = mutable.ArrayBuffer.empty[Double]
  def wallMs: Double = endMs - submitMs
  def hasRdd(n: String): Boolean = rdds.contains(n)
}

final class JobRec(val jobId: Int, val startMs: Double, val span: Option[Long],
    val batchId: Option[Long], val stageIds: Seq[Int]) {
  var endMs = 0.0
}

/**
 * SparkListener at the job and stage boundaries: each job is attributed
 * to the harness span (`perfbench.span`) or micro-batch
 * (`streaming.sql.batchId`) whose thread submitted it, and each stage
 * carries its task-metric sums. Registered only on traced runs.
 */
final class JobProbe extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val j = new JobRec(e.jobId, e.time.toDouble, prop(Tracer.SpanKey).map(_.toLong),
      prop(Tracer.BatchKey).map(_.toLong), e.stageIds)
    jobs(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  private def rec(stageId: Int): StageRec =
    stages.getOrElseUpdate(stageId, new StageRec(stageId))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val r = rec(i.stageId)
    r.rdds = i.rddInfos.map(_.name)
    r.submitMs = i.submissionTime.getOrElse(0L).toDouble
    r.endMs = i.completionTime.getOrElse(0L).toDouble
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val r = rec(e.stageId)
    r.tasks += 1
    if (e.taskInfo.attemptNumber > 0) r.retries += 1
    val m = e.taskMetrics
    if (m != null) {
      r.runMs += m.executorRunTime
      r.taskRunMs += m.executorRunTime.toDouble
      r.shuffleWriteMs += m.shuffleWriteMetrics.writeTime / 1e6
      r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      r.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
    }
  }

  /** Stage spans under their job, and job spans under their parent. */
  def emit(t: Tracer, batchSpan: Long => Option[Long], runSpan: Long): Unit = synchronized {
    for (j <- jobs.values) {
      val jid = t.newId()
      val parent = j.span.orElse(j.batchId.flatMap(batchSpan)).getOrElse(runSpan)
      t.add(Span(jid, parent, s"job ${j.jobId}", j.startMs, math.max(j.endMs, j.startMs)))
      for (sid <- j.stageIds; s <- stages.get(sid) if s.endMs > 0)
        t.add(Span(t.newId(), jid, s"stage ${s.stageId} ${s.rdds.lastOption.getOrElse("")}",
          s.submitMs, s.endMs))
    }
  }

  def jobsUnder(spans: Set[Long]): Seq[JobRec] = synchronized(jobs.values.filter(_.span.exists(spans)).toSeq)
  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(stages.get).filter(_.endMs > 0)
  }
  def allStages: Seq[StageRec] = synchronized(stages.values.filter(_.endMs > 0).toSeq)
}
