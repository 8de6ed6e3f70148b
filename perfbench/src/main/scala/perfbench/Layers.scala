package perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, octet_length, sum}
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.StructType

/**
 * Per-layer metrics of the stream workloads, derived from the traced
 * drains/queries: the harness's own spans (micro-batch, sink.write,
 * readTimeRange), the JobProbe's job and stage records, and
 * StreamingQueryProgress. Self times split each micro-batch's wall along
 * its blocking steps:
 *   - the scan stage (FileScanRDD) runs the file source, extraction and
 *     the shuffle write that feeds the stateful stage; its wall is split
 *     by the stage's shuffle-write share of task time, and the rest by
 *     the standalone scan : extraction ratio;
 *   - the stateful stage (StateStoreRDD) is the sessionizer;
 *   - the rest of sink.write (stats action, parquet write, manifest
 *     commit) is the sink;
 *   - query start-up and the non-addBatch progress phases are the batch
 *     loop's own overhead.
 * `trace.accounted_frac` is the sum of these self times over the wall.
 */
object Layers {
  private def s(v: Double) = Metric(v, "s")
  private def ms(v: Double) = Metric(v, "ms")
  private def mb(v: Double) = Metric(v, "MB")
  private def n(v: Double) = Metric(v, "count")
  private val MB = 1024.0 * 1024.0

  final case class Self(sources: Double, functions: Double, shuffle: Double,
      sessionize: Double, sink: Double, batch: Double, wall: Double) {
    def +(o: Self) = Self(sources + o.sources, functions + o.functions, shuffle + o.shuffle,
      sessionize + o.sessionize, sink + o.sink, batch + o.batch, wall + o.wall)
    def total: Double = sources + functions + shuffle + sessionize + sink + batch
  }

  def phase(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  val OverheadPhases = Seq("latestOffset", "getBatch", "setOffsetRange", "queryPlanning",
    "walCommit", "commitOffsets")

  /** Self times (ms) of one traced stream run whose wall ends at `endMs`. */
  def selfTimes(r: StreamRun, probe: JobProbe, scanShare: Double, endMs: Double): Self = {
    var acc = Self(0, 0, 0, 0, 0, 0, endMs - r.startMs)
    for ((b, w) <- r.writeSpan) {
      val st = probe.stagesOf(probe.jobsUnder(Set(w)))
      val scan = st.filter(_.hasRdd("FileScanRDD"))
      val state = st.filter(x => x.hasRdd("StateStoreRDD") && !x.hasRdd("FileScanRDD"))
      val scanWall = scan.map(_.wallMs).sum
      val shufShare = { val run = scan.map(_.runMs).sum; if (run > 0) scan.map(_.shuffleWriteMs).sum / run else 0 }
      val compute = scanWall * (1 - shufShare)
      val stateWall = state.map(_.wallMs).sum
      acc = acc + Self(compute * scanShare, compute * (1 - scanShare), scanWall * shufShare,
        stateWall, math.max(r.writeMs.getOrElse(b, 0.0) - scanWall - stateWall, 0), 0, 0)
    }
    val ps = r.progress.filter(p => Streams.progressStartMs(p) < endMs)
    val startup = ps.headOption.map(p => Streams.progressStartMs(p) - r.startMs).getOrElse(0.0)
    acc.copy(batch = startup + ps.map(p => OverheadPhases.map(phase(p, _)).sum).sum)
  }

  /** Progress- and stage-derived metrics shared by both stream workloads. */
  def streamCommon(rs: Seq[StreamRun], probe: JobProbe): Map[String, Metric] = {
    val ps = rs.flatMap(_.progress)
    val busy = rs.flatMap(_.progress.filter(_.numInputRows > 0))
    val warm = rs.flatMap(_.progress.filter(_.numInputRows > 0).drop(1))
    val ops = ps.flatMap(p => Option(p.stateOperators).toSeq.flatten)
    def custom(k: String) = ops.map(o => Option(o.customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    val runs = rs.size.max(1).toDouble
    val stages = probe.allStages
    val scan = stages.filter(st => st.hasRdd("FileScanRDD") && st.shuffleWriteBytes > 0)
    val state = stages.filter(st => st.hasRdd("StateStoreRDD") && !st.hasRdd("FileScanRDD"))
    val skew = state.filter(_.taskRunMs.nonEmpty).map { st =>
      st.taskRunMs.max / math.max(Stats.median(st.taskRunMs.toSeq), 1.0)
    }
    val writes = rs.flatMap(_.writeMs.values)
    val lastState = rs.map(_.progress.lastOption.flatMap(p => Option(p.stateOperators).flatMap(_.headOption)))
    Map(
      "streaming.batch.n" -> n(busy.size / runs),
      "streaming.batch.ms_p50" -> ms(Stats.median(busy.map(phase(_, "triggerExecution")))),
      "streaming.batch.ms_max_warm" -> ms(if (warm.isEmpty) 0 else warm.map(phase(_, "triggerExecution")).max),
      "streaming.batch.addBatch_ms" -> ms(ps.map(phase(_, "addBatch")).sum / runs),
      "streaming.batch.queryPlanning_ms" -> ms(ps.map(phase(_, "queryPlanning")).sum / runs),
      "streaming.batch.walCommit_ms" -> ms(ps.map(phase(_, "walCommit")).sum / runs),
      "streaming.batch.commitOffsets_ms" -> ms(ps.map(phase(_, "commitOffsets")).sum / runs),
      "streaming.batch.latestOffset_ms" -> ms(ps.map(phase(_, "latestOffset")).sum / runs),
      "streaming.batch.task_retries" -> n(stages.map(_.retries).sum.toDouble),
      "streaming.sessionize.stage_s" -> s(state.map(_.runMs).sum / 1000.0 / runs),
      "streaming.sessionize.task_skew" -> Metric(if (skew.isEmpty) 0 else Stats.median(skew), "ratio"),
      "streaming.sessionize.state_rows" -> n(Stats.median(lastState.map(_.map(_.numRowsTotal.toDouble).getOrElse(0.0)))),
      "streaming.sessionize.state_mb" -> mb(if (ops.isEmpty) 0 else ops.map(_.memoryUsedBytes).max / MB),
      "streaming.sessionize.state_commit_ms" -> ms(ops.map(_.commitTimeMs.toDouble).sum / runs),
      "streaming.sessionize.late_rows" -> n(ops.map(_.numRowsDroppedByWatermark.toDouble).sum / runs),
      "streaming.sessionize.rocksdb_checkpoint_ms" -> ms(custom("rocksdbCommitCheckpointLatency") / runs),
      "streaming.sessionize.rocksdb_flush_ms" -> ms(custom("rocksdbCommitFlushLatency") / runs),
      "streaming.sessionize.rocksdb_file_sync_ms" -> ms(custom("rocksdbCommitFileSyncLatencyMs") / runs),
      "streaming.shuffle.write_mb" -> mb(scan.map(_.shuffleWriteBytes).sum / MB / runs),
      "streaming.shuffle.records" -> n(scan.map(_.shuffleWriteRecords).sum / runs),
      "streaming.sink.write_ms_p50" -> ms(Stats.median(writes)),
      "streaming.sink.write_ms_max" -> ms(if (writes.isEmpty) 0 else writes.max))
  }

  /** Table-side sink counts of the last run, and the layer self times. */
  def tableAndSelf(rs: Seq[StreamRun], probe: JobProbe, scanShare: Double,
      end: StreamRun => Double): Map[String, Metric] = {
    val last = rs.last
    val bytes = Sys.dirBytes(last.table.resolve("data"))
    val files = {
      val st = java.nio.file.Files.walk(last.table.resolve("data"))
      try st.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")) finally st.close()
    }
    val self = rs.map(r => selfTimes(r, probe, scanShare, end(r))).reduce(_ + _)
    val k = rs.size.toDouble
    Map(
      "streaming.sink.files" -> n(files.toDouble),
      "streaming.sink.mb" -> mb(bytes / MB),
      "sources.self_s" -> s(self.sources / 1000 / k),
      "functions.self_s" -> s(self.functions / 1000 / k),
      "streaming.shuffle.self_s" -> s(self.shuffle / 1000 / k),
      "streaming.sessionize.self_s" -> s(self.sessionize / 1000 / k),
      "streaming.sink.self_s" -> s(self.sink / 1000 / k),
      "streaming.batch.self_s" -> s(self.batch / 1000 / k),
      "trace.wall_s" -> s(self.wall / 1000 / k),
      "trace.accounted_frac" -> Metric(self.total / self.wall, "ratio"))
  }

  /** Standalone source and extraction passes over `reader`'s input. */
  def sourceAndFunctions(spark: SparkSession, src: Path,
      reader: () => org.apache.spark.sql.DataFrame): (Map[String, Metric], Double) = {
    val (scanS, extractS) = Drain.scanAndExtract(reader)
    val htmlMb = reader().agg(sum(octet_length(col("html")))).collect()(0).getLong(0) / MB
    (Map(
      "sources.scan_s" -> s(scanS),
      "sources.input_mb" -> mb(Sys.dirBytes(src) / MB),
      "functions.extract_s" -> s(extractS),
      "functions.extract_mb_per_s" -> Metric(if (extractS > 0) htmlMb / extractS else 0, "MB/s")),
      scanS / math.max(scanS + extractS, 1e-9))
  }

  def drain(spark: SparkSession, o: Opts, tracer: Tracer, runSpan: Long, probe: JobProbe,
      runs: Seq[(Drain.One, Boolean)], src: Path, schema: StructType): Map[String, Metric] = {
    val (sf, scanShare) = sourceAndFunctions(spark, src,
      () => spark.read.schema(schema).parquet(src.toString))
    val on = runs.filter(_._2).map(_._1)
    val offPps = Stats.median(runs.filterNot(_._2).map(_._1.pagesPerS))
    val pps = runs.map(_._1.pagesPerS).toIndexedSeq
    val overhead = Stats.median(runs.indices.filter(i => runs(i)._2 && i + 1 < runs.size)
      .map(i => ((pps(i - 1) + pps(i + 1)) / 2 / pps(i) - 1) * 100))
    emitBatches(tracer, on.map(_.run), probe, runSpan)
    sf ++ streamCommon(on.map(_.run), probe) ++
      tableAndSelf(on.map(_.run), probe, scanShare, r => r.commitMs.values.max) ++ Map(
        "streaming.sink.rows" -> n(Sessions.readTable(spark, on.last.run.table).size.toDouble),
        "trace.overhead_pct" -> Metric(overhead, "%"),
        "trace.localN_pages_per_s" -> Metric(offPps, "1/s"))
  }

  /** Micro-batch spans from progress, then the probe's job/stage spans. */
  def emitBatches(t: Tracer, rs: Seq[StreamRun], probe: JobProbe, runSpan: Long): Unit = if (t.enabled) {
    for (r <- rs; p <- r.progress) {
      val id = r.batchSpan.getOrElse(p.batchId, t.newId())
      val st = Streams.progressStartMs(p)
      t.add(Span(id, runSpan, s"micro-batch ${p.batchId}", st, st + phase(p, "triggerExecution")))
    }
    val byBatch = rs.flatMap(_.batchSpan).toMap
    probe.emit(t, b => byBatch.get(b), runSpan)
  }
}
