package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.sources.JsonlPages

/**
 * `stream_paced`: an open loop. A generator thread moves pre-staged
 * JSONL files (the app's --jsonl path) into the watched directory on a
 * fixed schedule while the query runs the app's 5 s ProcessingTime
 * trigger, and one closed-loop client issues serving reads
 * (readTimeRange over a recent event-time window, aggregated per host)
 * with a fixed think time. The query runs until the no-data batch after
 * the last file has committed the sessions the final watermark closed.
 */
object Paced {
  val FilesPerSec = 4
  val ThinkMs = 200L
  /** Event-time width of a serving read. */
  val WindowUs: Long = 8L * 3600L * 1000000L

  /** Serving-read windows from the batch reference over the whole
    * schedule: for a watermark, the newest [[WindowUs]] of session starts
    * ending at the newest start among the sessions it closed, so a read
    * at a committed epoch covers sessions the sink has written. */
  final class Windows(ref: Map[(String, Long), (Long, Long, Long)]) {
    private val byEnd = ref.toSeq.map { case ((_, start), (end, _, _)) => (end, start) }.sortBy(_._1)
    private val ends = byEnd.map(_._1).toArray
    private val maxStart = byEnd.map(_._2).scanLeft(Long.MinValue)(math.max).tail.toArray
    def below(wmUs: Long): Option[(Long, Long)] = {
      var lo = 0
      var hi = ends.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ends(mid) < wmUs) lo = mid + 1 else hi = mid
      }
      if (lo == 0) None else Some((maxStart(lo - 1) - WindowUs, maxStart(lo - 1)))
    }
  }

  final case class One(run: StreamRun, g0: Double, intervalMs: Double, lateMs: Seq[Double],
      reader: Reader, emitted: Seq[Sess], lastBatch: Long) {
    def due(f: Int): Double = g0 + f * intervalMs
  }

  def apply(spark: SparkSession, o: Opts, tracer: Tracer, runSpan: Long,
      probe: Option[JobProbe], setup: Setup): Outcome = {
    // tiny: still two triggers with data, so one of them emits sessions
    val seconds = if (o.tiny) 6 else o.seconds
    val nFiles = seconds * FilesPerSec
    val perFile = (if (o.tiny) 1000 else o.pacedRate) / FilesPerSec
    val plan = PagePlan(o.seed, nFiles.toLong * perFile, nFiles)
    val staged = o.work.resolve("paced-staged")
    var parts: Map[Int, Path] = null
    var expLen: Array[Int] = null
    setup.repeat {
      Sys.deleteTree(staged)
      val st = tracer.span("stage jsonl", runSpan)(Streams.stageJsonl(spark, plan, staged))
      parts = st._1
      expLen = st._2
    }
    setup.warm {
      // warm-up: the same chain over two staged files
      val warm = o.work.resolve("paced-warm")
      Sys.deleteTree(warm)
      Files.createDirectories(warm.resolve("in"))
      (0 until 2).foreach(f => Files.copy(parts(f), warm.resolve("in").resolve(parts(f).getFileName)))
      Streams.run(spark, JsonlPages.streamPages(spark, warm.resolve("in").toString).toDF(),
        warm, Trigger.AvailableNow(), new Tracer(false, ""), (q, _) => q.awaitTermination())
      Sys.deleteTree(warm)
    }
    val windows = new Windows(Sessions.reference(plan, expLen, plan.n, Long.MaxValue)._1)
    // a traced run first runs untraced, for the tracing overhead
    val untraced =
      if (o.trace) Some(once(spark, o, plan, parts, windows, "0", new Tracer(false, ""), runSpan)) else None
    probe.foreach(spark.sparkContext.addSparkListener)
    val one = try once(spark, o, plan, parts, windows, "1", tracer, runSpan)
      finally probe.foreach(spark.sparkContext.removeSparkListener)

    val ref = Sessions.reference(plan, expLen, plan.n, one.run.finalWmUs)
    val (ok, summary) = Sessions.check(one.emitted, ref, one.run.table)
    val badReads = one.reader.verify(one.emitted)
    val reads = one.reader.reads.synchronized(one.reader.reads.toSeq)
    val readRows = reads.map(_.rows.size)
    Sys.log(s"paced: $summary; emitted in ${one.emitted.map(_.epoch).distinct.size} epochs; " +
      s"reads=${reads.size} (hosts per read ${readRows.minOption.getOrElse(0)}-" +
      s"${readRows.maxOption.getOrElse(0)}) bad=$badReads failed=${one.reader.failures.get} " +
      f"gen late max ${one.lateMs.max}%.1f ms; batches " + one.run.progress.map(p =>
        s"${p.numInputRows}/${Layers.phase(p, "triggerExecution").toLong}ms").mkString(" "))
    val lat = Streams.sessionLatencies(plan, nFiles, one.due, one.emitted, one.run.commitMs)
    val batches = one.run.progress.size.toLong
    // sustained ingest: the schedule's pages over first due -> commit of
    // the epoch that consumed the last file
    val lastCommit = one.run.commitMs(one.lastBatch)
    val e2e = Map(
      "throughput_per_s" -> Metric(plan.n / ((lastCommit - one.g0) / 1000.0), "1/s"),
      "latency_ms_p50" -> Metric(Stats.pct(lat, 50), "ms"),
      "latency_ms_p99" -> Metric(Stats.pct(lat, 99), "ms"))
    val m =
      if (!o.trace) e2e
      else layers(spark, o, tracer, runSpan, probe.get, plan, one, lat, untraced.get)
    Outcome(ok && badReads == 0 && reads.nonEmpty && lat.nonEmpty, reads.size + one.reader.failures.get + batches,
      one.reader.failures.get + badReads + (if (ok) 0 else 1), m)
  }

  def once(spark: SparkSession, o: Opts, plan: PagePlan, parts: Map[Int, Path], windows: Windows,
      tag: String, tracer: Tracer, runSpan: Long): One = {
    val dir = o.work.resolve(s"paced-$tag")
    Sys.deleteTree(dir)
    val watch = dir.resolve("in")
    val pending = dir.resolve("pending")
    Files.createDirectories(watch)
    Files.createDirectories(pending)
    val files = (0 until plan.nFiles).map { f =>
      Files.createLink(pending.resolve(parts(f).getFileName), parts(f))
    }
    val intervalMs = 1000.0 / FilesPerSec
    val committed = new AtomicLong(-1)
    var g0 = 0.0
    val late = new Array[Double](plan.nFiles)
    var reader: Reader = null
    val raw = JsonlPages.streamPages(spark, watch.toString).toDF()
    // ProcessingTime fires on wall-clock multiples of the interval: start
    // the query just before one and the schedule on it, so every run
    // sees the same phase between file arrivals and triggers
    val tick = Streams.TriggerMs
    val boundary = (System.currentTimeMillis() + 1000 + tick - 1) / tick * tick
    Thread.sleep(math.max(boundary - 1000 - System.currentTimeMillis(), 0))
    val run = Streams.run(spark, raw, dir, Trigger.ProcessingTime(tick), tracer,
      (q, log) => {
        reader = new Reader(spark, dir.resolve("table"), tracer, runSpan, ThinkMs,
          e => windows.below(log.watermarkUpTo(e)), committed)
        reader.start()
        g0 = tracer.nowMs() + (boundary - System.currentTimeMillis()) + 50
        for (f <- 0 until plan.nFiles) {
          val due = g0 + f * intervalMs
          val wait = due - tracer.nowMs()
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          Streams.moveInto(files(f), watch)
          late(f) = tracer.nowMs() - due
        }
        // until the batch after the one that consumed the last file commits
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (!log.batchReaching(plan.n).exists(_ < committed.get) && q.isActive &&
            System.nanoTime() < deadline) Thread.sleep(10)
        reader.halt.set(true)
        reader.join()
      },
      onCommit = id => committed.set(id))
    // the batch that consumed the last file
    var cum = 0L
    val lastBatch = run.progress.find { p => cum += p.numInputRows; cum >= plan.n }
      .map(_.batchId).getOrElse(sys.error(s"only $cum of ${plan.n} pages were consumed"))
    One(run, g0, intervalMs, late.toSeq, reader, Sessions.readTable(spark, run.table), lastBatch)
  }

  def layers(spark: SparkSession, o: Opts, tracer: Tracer, runSpan: Long, probe: JobProbe,
      plan: PagePlan, one: One, lat: Seq[Double], untraced: One): Map[String, Metric] = {
    val watch = o.work.resolve("paced-1").resolve("in")
    val (sf, scanShare) = Layers.sourceAndFunctions(spark, watch,
      () => JsonlPages.readPages(spark, watch.toString).toDF())
    val r = one.run
    val reads = one.reader.reads.synchronized(one.reader.reads.toSeq)
    val perFile = plan.n / plan.nFiles
    // which files each non-empty batch consumed, in order
    val busy = r.progress.filter(_.numInputRows > 0)
    val firstFile = busy.scanLeft(0L)(_ + _.numInputRows).map(c => (c / perFile).toInt)
    val waits = busy.zip(firstFile.zip(firstFile.tail)).flatMap { case (p, (a, b)) =>
      (a until b).map(f => Streams.progressStartMs(p) - one.due(f))
    }
    var m = Long.MinValue
    val cumMax = (0 until plan.nFiles).map { f => m = math.max(m, plan.fileMaxUs(f)); m }
    val wmLag = (0 until plan.nFiles).flatMap { f =>
      r.progress.find(p => Streams.parseWmUs(p) >= cumMax(f) - Streams.DelayUs)
        .map(p => (Streams.progressStartMs(p) - one.due(f)) / 1000.0)
    }
    val untracedP50 = Stats.pct(Streams.sessionLatencies(plan, plan.nFiles, untraced.due,
      untraced.emitted, untraced.run.commitMs), 50)
    Layers.emitBatches(tracer, Seq(r), probe, runSpan)
    val lastCommit = r.commitMs(one.lastBatch)
    sf ++ Layers.streamCommon(Seq(r), probe) ++
      Layers.tableAndSelf(Seq(r), probe, scanShare, _ => lastCommit) ++ Map(
        "streaming.sink.rows" -> Metric(one.emitted.size.toDouble, "count"),
        "streaming.sink.read_ms_p50" -> Metric(Stats.median(reads.map(x => x.planMs + x.execMs)), "ms"),
        "streaming.sink.read_ms_p95" -> Metric(Stats.pct(reads.map(x => x.planMs + x.execMs), 95), "ms"),
        "streaming.sink.read_plan_ms_p50" -> Metric(Stats.median(reads.map(_.planMs)), "ms"),
        "streaming.sink.read_exec_ms_p50" -> Metric(Stats.median(reads.map(_.execMs)), "ms"),
        "streaming.batch.backlog_end_s" -> Metric((lastCommit - one.due(plan.nFiles - 1)) / 1000.0, "s"),
        "streaming.batch.trigger_wait_ms_p50" -> Metric(Stats.median(waits), "ms"),
        "streaming.batch.watermark_lag_s" -> Metric(Stats.median(wmLag), "s"),
        "gen.late_ms_max" -> Metric(one.lateMs.max, "ms"),
        "trace.overhead_pct" -> Metric((Stats.pct(lat, 50) / untracedP50 - 1) * 100, "%"))
  }
}
