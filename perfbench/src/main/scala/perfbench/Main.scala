package perfbench

import java.nio.file.Files

import scala.collection.mutable

/** Set-up time: JVM start to session ready, plus the median of the
  * workload's repeated input staging, plus its one warm-up. */
final class Setup(reps: Int) {
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val times = mutable.ArrayBuffer.empty[Double]
  private var sessionReadyS = 0.0
  private var warmS = 0.0
  def sessionReady(): Unit = sessionReadyS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
  def repeat(f: => Unit): Unit = for (_ <- 1 to reps) {
    val t0 = System.nanoTime()
    f
    times += (System.nanoTime() - t0) / 1e9
  }
  def warm[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally warmS += (System.nanoTime() - t0) / 1e9
  }
  def seconds: Double = sessionReadyS + (if (times.isEmpty) 0.0 else Stats.median(times.toSeq)) + warmS
  override def toString: String =
    f"session $sessionReadyS%.2f s, staging ${times.map(x => f"$x%.2f").mkString("/")} s, warm-up $warmS%.2f s"
}

/**
 * Benchmark entry point: one workload run, one JSON result line last on
 * stdout (`correct`, `attempted`, `failed`, `metrics`). Progress and
 * check details go to stderr.
 */
object Main {
  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        // a failed run prints no result; Spark's threads must not keep the JVM up
        e.printStackTrace()
        sys.exit(1)
    }

  def run(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    Files.createDirectories(o.work)
    val setup = new Setup(if (o.tiny) 1 else 3)
    val spark = Session.start(o.work, Session.nproc,
      if (o.workload == "registry") Some(Session.RegistryCodegenCache) else None)
    setup.sessionReady()
    val tracer = new Tracer(o.trace, s"${o.workload}-${o.seed}-${System.currentTimeMillis()}")
    val probe = if (o.trace) Some(new JobProbe) else None
    val runSpan = tracer.newId()
    val t0 = tracer.nowMs()
    val out = o.workload match {
      case "stream_drain" => Drain(spark, o, tracer, runSpan, probe, setup)
      case "stream_paced" => Paced(spark, o, tracer, runSpan, probe, setup)
      case "registry" => Registry(spark, o, tracer, runSpan, probe, setup)
      case w => sys.error(s"unknown workload '$w'")
    }
    tracer.add(Span(runSpan, 0L, s"workload ${o.workload}", t0, tracer.nowMs()))
    Sys.log(f"setup ${setup.seconds}%.3f s ($setup)")
    val base =
      if (o.trace) out.metrics + ("jvm.peak_rss_mb" -> Metric(Sys.peakRssMb(), "MB"))
      else out.metrics + ("setup_s" -> Metric(setup.seconds, "s"))
    val extra =
      if (o.workload == "stream_drain" && o.trace) {
        // single-thread reference: the same backlog on local[1]
        spark.stop()
        val one = Session.start(o.work, 1)
        val pps = Drain.singleThread(one, o)
        one.stop()
        Map("trace.local1_pages_per_s" -> Metric(pps, "1/s"))
      } else { spark.stop(); Map.empty[String, Metric] }
    tracer.write(o.work.resolve(s"trace-${o.workload}-${o.seed}.jsonl"))
    println(Json.result(out.copy(metrics = base ++ extra)))
  }
}
