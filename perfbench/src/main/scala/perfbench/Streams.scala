package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.Instant
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.types.StructType

import graft.functions.ExtractHtmlText.extract_html_text
import graft.model.RawPage
import graft.sources.{JsonlPages, PageGen, PageGenConfig}
import graft.streaming.{ExactlyOnceSink, Sessionize}

/**
 * The input of a stream workload, planned on the driver: `segments`
 * independent PageGen streams laid end to end in event time (segment j
 * starts [[PagePlan.SegmentSpanSec]] after segment j-1, so no session
 * spans two), every page in (event time, id) order, cut into `nFiles`
 * equal files. Each segment keeps PageGen's host layout (Zipf hosts, the
 * hottest with about a fifth of the pages); several segments average
 * the per-host session-length draws that a single seed leaves to chance.
 * Event times are closed-form in PageGen, so the order, each file's
 * event-time envelope and the host of every page are known here without
 * generating a single page.
 */
final class PagePlan(val cfgs: Seq[PageGenConfig], val nFiles: Int) {
  private val nSeg = cfgs.head.nPages.toInt
  require(cfgs.forall(_.nPages == nSeg), "segments must be the same size")
  val n: Int = nSeg * cfgs.size
  /** page (segment * segment size + id) in (event time, page) order, with
    * its event time in µs and its host index. */
  val (order, tsUs, hostOf): (Array[Long], Array[Long], Array[Int]) = {
    val ts = new Array[Long](n)
    val host = new Array[Int](n)
    for ((cfg, j) <- cfgs.zipWithIndex) {
      val bounds = PageGen.hostBoundaries(cfg)
      var h = 0
      while (h < cfg.nHosts) {
        var id = bounds(h)
        while (id < bounds(h + 1)) {
          ts(j * nSeg + id.toInt) = PageGen.tsSec(cfg, h, id - bounds(h))
          host(j * nSeg + id.toInt) = h
          id += 1
        }
        h += 1
      }
      val segTs = ts.slice(j * nSeg, (j + 1) * nSeg)
      require(segTs.max < cfg.baseEpochSec + PagePlan.SegmentSpanSec, s"segment $j overruns its span")
    }
    val t0 = ts.min
    require(n < (1 << 24) && ts.max - t0 < (1L << 39), "page plan too large to pack")
    val packed = Array.tabulate(n)(i => ((ts(i) - t0) << 24) | i)
    java.util.Arrays.sort(packed)
    val ord = packed.map(_ & ((1L << 24) - 1))
    (ord, ord.map(i => ts(i.toInt) * 1000000L), ord.map(i => host(i.toInt)))
  }
  def fileHi(f: Int): Int = ((f + 1).toLong * n / nFiles).toInt
  def fileMaxUs(f: Int): Long = tsUs(fileHi(f) - 1)

  /** Generates the pages file by file (Spark partition f = file f) and
    * returns them with the expected text length of every page, aligned
    * with `order`, taken from PageGen's own expected_text. */
  def generate(spark: SparkSession): (Dataset[RawPage], () => Array[Int]) = {
    import spark.implicits._
    val sc = spark.sparkContext
    val bOrder = sc.broadcast(order)
    val acc = sc.collectionAccumulator[(Int, Array[Int])]("expected_text_len")
    val cs = cfgs
    val (nf, nn, ns) = (nFiles, n, nSeg)
    val rdd = sc.parallelize(0 until nf, nf).mapPartitions { it =>
      val bounds = cs.map(PageGen.hostBoundaries)
      val ord = bOrder.value
      it.flatMap { f =>
        val lo = (f.toLong * nn / nf).toInt
        val hi = ((f + 1).toLong * nn / nf).toInt
        val pages = (lo until hi).map { i =>
          val j = (ord(i) / ns).toInt
          PageGen.genPage(cs(j), bounds(j), ord(i) % ns)
        }
        acc.add(f -> pages.map(_.expected_text.length).toArray)
        pages.iterator.map(g => RawPage(g.url, g.host, g.warc_ts, g.html))
      }
    }
    val expected = () => {
      val byFile = acc.value.asScala.toMap
      require(byFile.size == nFiles, s"expected lengths for ${byFile.size} of $nFiles files")
      (0 until nFiles).toArray.flatMap(byFile)
    }
    (spark.createDataset(rdd), expected)
  }
}

object PagePlan {
  /** Event-time distance between segment starts: four years, longer than
    * any segment's own span at the benchmark's sizes (checked). */
  val SegmentSpanSec: Long = 4L * 365 * 86400
  val Segments = 64

  /** The workload's input: `pages` split over [[Segments]] PageGen
    * streams of 2000 hosts, each seeded from the run's seed. */
  def apply(seed: Long, pages: Long, nFiles: Int): PagePlan =
    new PagePlan((0 until Segments).map { j =>
      PageGenConfig(seed = PageGen.rnd(seed, 99L, j), nPages = pages / Segments, nHosts = 2000,
        baseEpochSec = 1700000000L + j * SegmentSpanSec)
    }, nFiles)
}

/** One emitted session as read back from the table. */
final case class Sess(host: String, startUs: Long, endUs: Long, n: Long, bytes: Long, epoch: Long)

object Sessions {
  /** Table rows with the epoch each was committed in. */
  def readTable(spark: SparkSession, table: Path): Seq[Sess] = {
    if (!Files.exists(table.resolve("data"))) return Nil
    spark.read.option("basePath", table.resolve("data").toString)
      .parquet(table.resolve("data").toString)
      .select(col("host"), unix_micros(col("session_start")), unix_micros(col("session_end")),
        col("n_pages"), col("text_bytes"), col("epoch").cast("long"))
      .collect().toSeq
      .map(r => Sess(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
  }

  /**
   * Batch reference: per-host sessions over the first `upto` pages of the
   * plan (event-time order), with the operator's gap. Returns the
   * sessions the watermark closed, split into those strictly before it
   * (must be emitted) and those ending exactly on it (may be emitted:
   * the operator's event-time timeout fires only once the watermark
   * passes the session end).
   */
  def reference(plan: PagePlan, expLen: Array[Int], upto: Int, wmUs: Long)
      : (Map[(String, Long), (Long, Long, Long)], Set[(String, Long)]) = {
    val gap = Sessionize.GapUsDefault
    val open = mutable.HashMap.empty[Int, Array[Long]] // start, last, n, bytes
    val out = mutable.HashMap.empty[(String, Long), (Long, Long, Long)]
    def close(h: Int, s: Array[Long]): Unit =
      out((PageGen.hostName(h), s(0))) = (s(1) + gap, s(2), s(3))
    var i = 0
    while (i < upto) {
      val h = plan.hostOf(i)
      val t = plan.tsUs(i)
      open.get(h) match {
        case Some(s) if t - s(1) < gap => s(1) = t; s(2) += 1; s(3) += expLen(i)
        case prev =>
          prev.foreach(close(h, _))
          open(h) = Array(t, t, 1L, expLen(i).toLong)
      }
      i += 1
    }
    open.foreach { case (h, s) => close(h, s) }
    val closed = out.filter { case (_, (end, _, _)) => end <= wmUs }.toMap
    (closed, closed.collect { case (k, (end, _, _)) if end == wmUs => k }.toSet)
  }

  /** Emitted sessions must equal the reference: no duplicates, every
    * emitted session identical to a closed reference session, every
    * session closed strictly before the watermark present, and the
    * manifest epochs contiguous. Returns (ok, summary). */
  def check(emitted: Seq[Sess], ref: (Map[(String, Long), (Long, Long, Long)], Set[(String, Long)]),
      table: Path): (Boolean, String) = {
    val (closed, boundary) = ref
    val keys = emitted.map(s => (s.host, s.startUs))
    val dups = keys.size - keys.distinct.size
    val wrong = emitted.count(s => !closed.get((s.host, s.startUs)).contains((s.endUs, s.n, s.bytes)))
    val got = keys.toSet
    val missing = closed.keys.count(k => !boundary(k) && !got(k))
    val epochs = Option(table.resolve("_manifest").toFile.list()).getOrElse(Array.empty[String])
      .collect { case s if s.startsWith("epoch-") && s.endsWith(".json") =>
        s.stripPrefix("epoch-").stripSuffix(".json").toLong }.sorted
    val contiguous = epochs.nonEmpty && epochs.zipWithIndex.forall { case (e, i) => e == epochs.head + i }
    val ok = dups == 0 && wrong == 0 && missing == 0 && contiguous
    val sumN = emitted.map(_.n).sum
    val sumB = emitted.map(_.bytes).sum
    val refN = closed.values.map(_._2).sum
    val refB = closed.values.map(_._3).sum
    (ok, s"sessions=${emitted.size} ref=${closed.size} (boundary ${boundary.size}) " +
      s"n_pages=$sumN/$refN text_bytes=$sumB/$refB dups=$dups wrong=$wrong missing=$missing " +
      s"epochs=${epochs.size} contiguous=$contiguous")
  }
}

/** Per-batch progress kept by the harness's StreamingQueryListener. */
final class ProgressLog extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized { batches += e.progress }
  def inputRows: Long = synchronized(batches.map(_.numInputRows).sum)
  /** The newest watermark (µs) reported by a batch at or below `batch`. */
  def watermarkUpTo(batch: Long): Long =
    synchronized(batches.filter(_.batchId <= batch).map(Streams.parseWmUs).foldLeft(Long.MinValue)(math.max))
  /** The batch that brought the consumed input to `n` rows, once one has. */
  def batchReaching(n: Long): Option[Long] = synchronized {
    var cum = 0L
    batches.sortBy(_.batchId).find { p => cum += p.numInputRows; cum >= n }.map(_.batchId)
  }
}

/** What one streaming query run leaves behind for metrics and checks. */
final case class StreamRun(
    startMs: Double,
    commitMs: Map[Long, Double],
    writeMs: Map[Long, Double],
    batchSpan: Map[Long, Long],
    writeSpan: Map[Long, Long],
    progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
    finalWmUs: Long,
    table: Path)

object Streams {
  val DelayUs: Long = 7200L * 1000000L // Sessionize.fromPages' default watermark
  val TriggerMs = 5000L // the app's ProcessingTime trigger

  def parseWmUs(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
    Option(p.eventTime.get("watermark")).map(w => Instant.parse(w).toEpochMilli * 1000L)
      .getOrElse(Long.MinValue)

  /** The app's chain: pages -> extract_html_text -> Sessionize -> sink. */
  def start(spark: SparkSession, raw: DataFrame, dir: Path, trigger: Trigger,
      tracer: Tracer, batchSpans: ConcurrentHashMap[Long, Long],
      writeSpans: ConcurrentHashMap[Long, Long], commits: ConcurrentHashMap[Long, Double], writes: ConcurrentHashMap[Long, Double],
      onCommit: Long => Unit = _ => ()): StreamingQuery = {
    val table = dir.resolve("table")
    val sink = new ExactlyOnceSink(table.toString, None, Some("session_start"))
    val pages = raw.withColumn("text", extract_html_text(col("html"))).drop("html")
    val sessions = Sessionize.fromPages(spark, pages)
    val sc = spark.sparkContext
    sessions.toDF().writeStream
      .outputMode("append")
      .option("checkpointLocation", dir.resolve("cp").toString)
      .trigger(trigger)
      .foreachBatch((df: Dataset[Row], id: Long) => {
        val sid = tracer.newId()
        writeSpans.put(id, sid)
        val parent = batchSpans.computeIfAbsent(id, _ => tracer.newId())
        val t0 = tracer.nowMs()
        Tracer.under(sc, sid)(sink.write(df, id))
        val t1 = tracer.nowMs()
        tracer.add(Span(sid, parent, "sink.write", t0, t1))
        writes.put(id, t1 - t0)
        commits.put(id, t1)
        onCommit(id)
      })
      .start()
  }

  def run(spark: SparkSession, raw: DataFrame, dir: Path, trigger: Trigger, tracer: Tracer,
      during: (StreamingQuery, ProgressLog) => Unit,
      onCommit: Long => Unit = _ => ()): StreamRun = {
    val log = new ProgressLog
    spark.streams.addListener(log)
    val spans = new ConcurrentHashMap[Long, Long]()
    val writeSpans = new ConcurrentHashMap[Long, Long]()
    val commits = new ConcurrentHashMap[Long, Double]()
    val writes = new ConcurrentHashMap[Long, Double]()
    val t0 = tracer.nowMs()
    val q = start(spark, raw, dir, trigger, tracer, spans, writeSpans, commits, writes, onCommit)
    try during(q, log) finally { if (q.isActive) q.stop() }
    q.exception.foreach(e => throw e)
    // the listener bus is asynchronous: the query's own record is complete
    val progress = q.recentProgress.toSeq
    spark.streams.removeListener(log)
    StreamRun(t0, commits.asScala.toMap.map { case (k, v) => k -> v.doubleValue },
      writes.asScala.toMap.map { case (k, v) => k -> v.doubleValue },
      spans.asScala.toMap.map { case (k, v) => k -> v.longValue },
      writeSpans.asScala.toMap.map { case (k, v) => k -> v.longValue },
      progress, progress.lastOption.map(parseWmUs).getOrElse(Long.MinValue),
      dir.resolve("table"))
  }

  /** Per-session latency: commit of the epoch that wrote it minus the due
    * time of the first file whose events moved the watermark past its end. */
  def sessionLatencies(plan: PagePlan, nFilesUsed: Int, due: Int => Double,
      emitted: Seq[Sess], commitMs: Map[Long, Double]): Seq[Double] = {
    val cumMax = new Array[Long](nFilesUsed)
    var m = Long.MinValue
    for (f <- 0 until nFilesUsed) { m = math.max(m, plan.fileMaxUs(f)); cumMax(f) = m }
    emitted.flatMap { s =>
      // first f with cumMax(f) - delay >= end (binary search; cumMax is sorted)
      var lo = 0
      var hi = nFilesUsed
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cumMax(mid) - DelayUs >= s.endUs) hi = mid else lo = mid + 1
      }
      if (lo >= nFilesUsed) None
      else commitMs.get(s.epoch).map(c => c - due(lo))
    }
  }

  def progressStartMs(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Double =
    Instant.parse(p.timestamp).toEpochMilli.toDouble

  def moveInto(src: Path, dstDir: Path): Unit = {
    val dst = dstDir.resolve(src.getFileName)
    Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
    dst.toFile.setLastModified(System.currentTimeMillis())
  }

  /** Staged part files keyed by their Spark partition index (= file). */
  def partFiles(dir: Path, ext: String): Map[Int, Path] = {
    val pat = """part-(\d+)-.*""".r
    Files.list(dir).iterator().asScala.toSeq
      .map(p => p -> p.getFileName.toString)
      .collect { case (p, nm @ pat(i)) if nm.endsWith(ext) => i.toInt -> p }
      .toMap
  }

  /** Writes the plan as time-ordered parquet files, file f with mtime
    * base + f s so the file source consumes them in event-time order. */
  def stageParquet(spark: SparkSession, plan: PagePlan, dir: Path): (StructType, Array[Int]) = {
    val (ds, exp) = plan.generate(spark)
    ds.write.parquet(dir.toString)
    val base = System.currentTimeMillis() - 3600L * 1000L
    partFiles(dir, ".parquet").foreach { case (f, p) => p.toFile.setLastModified(base + f * 1000L) }
    (spark.read.parquet(dir.toString).schema, exp())
  }

  /** Writes the plan as JSONL files (the app's --jsonl format). */
  def stageJsonl(spark: SparkSession, plan: PagePlan, dir: Path): (Map[Int, Path], Array[Int]) = {
    val (ds, exp) = plan.generate(spark)
    JsonlPages.toJsonLines(ds.toDF()).write.text(dir.toString)
    val parts = partFiles(dir, ".txt")
    require(parts.size == plan.nFiles, s"staged ${parts.size} of ${plan.nFiles} JSONL files")
    (parts, exp())
  }
}

/** A closed-loop serving client: readTimeRange over an event-time window
  * chosen for the last committed epoch (`window`; None skips the read),
  * aggregated per host, with a fixed think time between reads. */
final class Reader(spark: SparkSession, table: Path, tracer: Tracer, runSpan: Long,
    thinkMs: Long, window: Long => Option[(Long, Long)], lastCommitted: AtomicLong)
    extends Thread("perfbench-reader") {
  final case class Read(fromUs: Long, untilUs: Long, loEpoch: Long, hiEpoch: Long,
      planMs: Double, execMs: Double, rows: Seq[(String, Long, Long, Long)])
  val reads = mutable.ArrayBuffer.empty[Read]
  val failures = new AtomicLong(0)
  val halt = new AtomicBoolean(false)
  private val sink = new ExactlyOnceSink(table.toString, None, Some("session_start"))
  setDaemon(true)

  override def run(): Unit = {
    val sc = spark.sparkContext
    while (!halt.get) {
      Thread.sleep(thinkMs)
      val lo = lastCommitted.get
      for ((from, until) <- if (halt.get || lo < 0) None else window(lo)) {
        val sid = tracer.newId()
        try {
          val t0 = tracer.nowMs()
          val rows = Tracer.under(sc, sid) {
            val df = sink.readTimeRange(spark, from, until)
            val t1 = tracer.nowMs()
            val agg = df.groupBy(col("host"))
              .agg(count(lit(1)), sum(col("n_pages")), sum(col("text_bytes"))).collect()
            (t1, agg)
          }
          val t2 = tracer.nowMs()
          tracer.add(Span(sid, runSpan, "readTimeRange", t0, t2))
          reads.synchronized {
            reads += Read(from, until, lo, lastCommitted.get, rows._1 - t0, t2 - rows._1,
              rows._2.toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted)
          }
        } catch {
          case e: Exception =>
            Sys.log(s"read failed: ${e.getMessage}")
            failures.incrementAndGet()
        }
      }
    }
  }

  /** Re-checks every read against the epochs it could have seen; a read
    * that returned no rows is wrong too, as every window holds a session
    * committed before the read. */
  def verify(all: Seq[Sess]): Int = reads.synchronized(reads.toSeq).count { r =>
    val inWin = all.filter(s => s.startUs >= r.fromUs && s.startUs <= r.untilUs)
    r.rows.isEmpty || !(r.loEpoch to r.hiEpoch).exists { e =>
      val exp = inWin.filter(_.epoch <= e).groupBy(_.host).toSeq
        .map { case (h, ss) => (h, ss.size.toLong, ss.map(_.n).sum, ss.map(_.bytes).sum) }.sorted
      exp == r.rows
    }
  }
}
