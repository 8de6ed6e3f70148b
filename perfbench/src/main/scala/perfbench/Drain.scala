package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.functions.ExtractHtmlText.extract_html_text

/**
 * `stream_drain`: a fixed backlog of time-ordered parquet pages drained
 * through the app's chain with `Trigger.AvailableNow` and large triggers,
 * repeated (fresh checkpoint and table each time) until the run's
 * seconds are used. Metrics are those of the fastest drain.
 */
object Drain {
  // three data batches: the median session is committed by the second,
  // the 99th percentile by the closing no-data batch
  val NFiles = 30
  val FilesPerTrigger = 10
  /** Untimed drains first: the first runs at half speed, the second
    * close to the timed ones. */
  val WarmDrains = 2

  final case class One(pagesPerS: Double, latencies: Seq[Double], run: StreamRun, wallMs: Double)

  /** One drain of the staged backlog, its output checked against the
    * batch reference. */
  def drainOnce(spark: SparkSession, o: Opts, src: Path, schema: org.apache.spark.sql.types.StructType,
      plan: PagePlan, expLen: Array[Int], tag: String, tracer: Tracer, runSpan: Long)
      : (One, Boolean, String) = {
    val dir = o.work.resolve(s"drain-$tag")
    Sys.deleteTree(dir)
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", FilesPerTrigger)
      .parquet(src.toString)
    val run = tracer.span(s"drain $tag", runSpan) {
      Streams.run(spark, raw, dir, Trigger.AvailableNow(), tracer, (q, _) => q.awaitTermination())
    }
    val lastCommit = run.commitMs.values.max
    val wallMs = lastCommit - run.startMs
    val emitted = Sessions.readTable(spark, run.table)
    val ref = Sessions.reference(plan, expLen, plan.n, run.finalWmUs)
    val (ok, summary) = Sessions.check(emitted, ref, run.table)
    // every file is due when the query starts: the backlog
    val lat = Streams.sessionLatencies(plan, plan.nFiles, _ => run.startMs, emitted, run.commitMs)
    (One(plan.n / (wallMs / 1000.0), lat, run, wallMs), ok, summary)
  }

  def apply(spark: SparkSession, o: Opts, tracer: Tracer, runSpan: Long,
      probe: Option[JobProbe], setup: Setup): Outcome = {
    val pages = if (o.tiny) 20000L else o.drainPages
    val plan = PagePlan(o.seed, pages, NFiles)
    val src = o.work.resolve("drain-src")
    // set-up: stage the backlog (repeated, the median reported), then
    // warm the chain with untimed drains whose output is checked too
    var staged: (org.apache.spark.sql.types.StructType, Array[Int]) = null
    setup.repeat {
      Sys.deleteTree(src)
      staged = tracer.span("stage parquet", runSpan)(Streams.stageParquet(spark, plan, src))
    }
    val (schema, expLen) = staged
    val warm = setup.warm((0 until (if (o.tiny) 1 else WarmDrains)).map { w =>
      val (one, ok, summary) = drainOnce(spark, o, src, schema, plan, expLen, s"warm$w", new Tracer(false, ""), runSpan)
      Sys.log(f"warm-up drain $w: ${one.pagesPerS}%.0f pages/s${if (ok) "" else s"; $summary"}")
      ok
    })
    val warmOk = warm.forall(identity)
    lastStaged = Some((src, schema, plan, expLen))
    val t0 = System.nanoTime()
    val runs = scala.collection.mutable.ArrayBuffer.empty[One]
    var failed = warm.count(!_).toLong
    var correct = warmOk
    var i = 0
    // a traced run alternates untraced and traced drains, starting and
    // ending untraced: the traced ones give the layers, and each against
    // its two untraced neighbours (which cancels the JVM's warm-up drift)
    // gives the tracing overhead
    val traced = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    val off = new Tracer(false, "")
    while (runs.size < (if (o.trace) 5 else 3) || (System.nanoTime() - t0) / 1e9 < o.seconds ||
        (o.trace && runs.size % 2 == 0)) {
      val on = o.trace && i % 2 == 1
      if (on) spark.sparkContext.addSparkListener(probe.get)
      val (one, ok, summary) =
        try drainOnce(spark, o, src, schema, plan, expLen, i.toString, if (on) tracer else off, runSpan)
        finally if (on) spark.sparkContext.removeSparkListener(probe.get)
      Sys.log(f"drain $i${if (on) " (traced)" else ""}: ${one.pagesPerS}%.0f pages/s " +
        f"wall ${one.wallMs}%.0f ms; batches " + one.run.progress.map(p =>
          s"${p.numInputRows}/${Layers.phase(p, "triggerExecution").toLong}ms").mkString(" ") + s"; $summary")
      if (!ok) { correct = false; failed += 1 }
      runs += one
      traced += on
      i += 1
    }
    val batches = runs.map(_.run.progress.count(_.numInputRows > 0)).sum.toLong
    // the fastest drain: host contention only ever slows a drain, and a
    // contended run slowed its median drain by up to a third
    val best = runs.maxBy(_.pagesPerS)
    val m = if (o.trace) Map.empty[String, Metric] else Map(
      "throughput_per_s" -> Metric(best.pagesPerS, "1/s"),
      "latency_ms_p50" -> Metric(Stats.pct(best.latencies, 50), "ms"),
      "latency_ms_p99" -> Metric(Stats.pct(best.latencies, 99), "ms"))
    val layers =
      if (!o.trace) Map.empty[String, Metric]
      else Layers.drain(spark, o, tracer, runSpan, probe.get, runs.toSeq.zip(traced), src, schema)
    Outcome(correct, runs.size + batches, failed, m ++ layers)
  }

  private var lastStaged: Option[(Path, org.apache.spark.sql.types.StructType, PagePlan, Array[Int])] = None

  /** The staged backlog drained once on a fresh single-thread session:
    * the reference beside local[nproc] (the JVM is already warm). */
  def singleThread(spark: SparkSession, o: Opts): Double = {
    val (src, schema, plan, expLen) = lastStaged.get
    val off = new Tracer(false, "")
    val (one, ok, summary) = drainOnce(spark, o, src, schema, plan, expLen, "local1", off, 0L)
    Sys.log(f"drain local[1]: ${one.pagesPerS}%.0f pages/s; $summary")
    require(ok, s"local[1] drain output is wrong: $summary")
    one.pagesPerS
  }

  /** Standalone passes over the staged input: scan, then scan + extract. */
  def scanAndExtract(reader: () => org.apache.spark.sql.DataFrame): (Double, Double) = {
    def timed(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }
    def scan() = reader().write.format("noop").mode("overwrite").save()
    def extract() = reader().withColumn("text", extract_html_text(col("html"))).drop("html")
      .write.format("noop").mode("overwrite").save()
    scan(); extract() // warm
    val s = Seq.fill(2)(timed(scan())).min
    val e = Seq.fill(2)(timed(extract())).min
    (s, math.max(e - s, 0.0))
  }
}
