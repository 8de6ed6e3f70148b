package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Queries
import graft.Queries.QueryDef

/**
 * `registry`: queries of `Queries.all` over the benchmark's bundled
 * read-only tables, written to the noop sink: timed passes of the gated
 * set ([[gatedSet]]) for the run's seconds after [[WarmPasses]] untimed
 * ones; the seed only permutes the order, one order for every pass.
 * Each query's row count and order-independent checksum are compared with
 * the values recorded at seed in an untimed pass of their own, so the
 * timed and traced passes run the plain queries.
 */
object Registry {
  /** The ten slowest queries of [[coverSet]] at seed (sf0.01, 4 cores):
    * their own per-layer times. */
  val Slowest = Seq("q57_dup_clusters", "q65_corpus_export", "q33_request_response_match",
    "q84_lm_quality_tiers", "q54_bm25_search", "q118_cms_term_counts", "q62_url_canonical",
    "q49_pq_adc_topk", "q116_bloom_seen_gate", "q47_deterministic_sample")

  /** The first query (registry order) of each operators object. */
  def coverSet(ops: Seq[(String, String)]): Seq[QueryDef] = {
    val first = ops.groupBy(_._2).values.map(_.head._1).toSet
    Queries.all.filter(q => first(q.name))
  }

  /** The gated set: the first query of each of the 8 operators objects
    * that serve the most registry queries (86 of the 125). */
  def gatedSet(ops: Seq[(String, String)]): Seq[QueryDef] = {
    val top = ops.groupBy(_._2).toSeq.sortBy { case (o, qs) => (-qs.size, o) }.take(8).map(_._1).toSet
    coverSet(ops.filter { case (_, o) => top(o) })
  }

  /** (row count, low and high 32-bit sums of a per-row hash) of `df`. */
  def checksum(df: DataFrame): (Long, Long, Long) = {
    val h: Column = xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*)))
    val r: Row = df.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xFFFFFFFFL))), sum(shiftrightunsigned(h, 32)))
      .collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def loadExpected(p: Path): Map[String, (Long, Long, Long)] =
    Files.readAllLines(p, UTF_8).asScala.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(q, n, lo, hi) = l.split("\t")
      q -> ((n.toLong, lo.toLong, hi.toLong))
    }.toMap

  def operatorsOf(p: Path): Seq[(String, String)] =
    Files.readAllLines(p, UTF_8).asScala.toSeq.filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> a(1))

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Plan-phase time and summed SQL metrics of each executed query. */
  final class PlanProbe extends QueryExecutionListener {
    val byQuery = mutable.HashMap.empty[String, Map[String, Double]]
    @volatile var current = ""
    private def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _ => p.children.flatMap(walk) ++ p.subqueries.flatMap(walk)
    })
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val nodes = walk(qe.executedPlan)
      def metric(k: String) = nodes.flatMap(_.metrics.get(k)).map(_.value.toDouble).sum
      val planMs = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
      val m = Map("plan_ms" -> planMs, "shuffle_bytes" -> metric("dataSize"),
        "spill_bytes" -> metric("spillSize"), "scan_bytes" -> metric("filesSize"))
      synchronized {
        val prev = byQuery.getOrElse(current, Map.empty)
        byQuery(current) = m.map { case (k, v) => k -> (v + prev.getOrElse(k, 0.0)) }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  final case class Timed(name: String, seconds: Double, ok: Boolean)

  /** Untimed warm-up passes (the first checks every output), then at
    * least this many timed passes, over the gated set. */
  val WarmPasses = 6
  val Passes = 3

  def apply(spark: SparkSession, o: Opts, tracer: Tracer, runSpan: Long,
      probe: Option[JobProbe], setup: Setup): Outcome = {
    val sf = o.dataDir.toString
    val expected = loadExpected(o.expected)
    val ops = operatorsOf(o.home.resolve("registry_operators.tsv"))
    val set = if (o.tiny) Queries.all.take(4) else gatedSet(ops)
    val order = new scala.util.Random(o.seed).shuffle(set)

    // the checksum pass: each query's output against the recorded value
    def check(qs: Seq[QueryDef]): Seq[String] = {
      val t0 = System.nanoTime()
      val wrong = qs.filterNot { q =>
        val got = scala.util.Try(checksum(q.fn(spark, sf)))
        val ok = got.toOption == expected.get(q.name)
        if (!ok) Sys.log(s"${q.name}: checksum $got, expected ${expected.get(q.name)}")
        ok
      }.map(_.name)
      Sys.log(f"checksum pass: ${qs.size} queries in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      wrong
    }
    def once(q: QueryDef, t: Tracer, planProbe: Option[PlanProbe]): Timed = {
      val sid = t.newId()
      planProbe.foreach(_.current = q.name)
      val t0 = System.nanoTime()
      val ok = try {
        Tracer.under(spark.sparkContext, sid)(t.span(q.name, runSpan, sid)(noop(q.fn(spark, sf))))
        true
      } catch { case e: Exception => Sys.log(s"${q.name} failed: ${e.getMessage}"); false }
      val dt = (System.nanoTime() - t0) / 1e9
      planProbe.foreach(_ => org.apache.spark.PerfbenchShim.drainListeners(spark.sparkContext))
      Timed(q.name, dt, ok)
    }
    def pass(qs: Seq[QueryDef], t: Tracer, planProbe: Option[PlanProbe]): Seq[Timed] =
      qs.map(once(_, t, planProbe))
    def traced(qs: Seq[QueryDef]): (Seq[Timed], PlanProbe) = {
      val pp = new PlanProbe
      spark.listenerManager.register(pp)
      spark.sparkContext.addSparkListener(probe.get)
      try pass(qs, tracer, Some(pp)) -> pp
      finally {
        org.apache.spark.PerfbenchShim.drainListeners(spark.sparkContext)
        spark.listenerManager.unregister(pp)
        spark.sparkContext.removeSparkListener(probe.get)
      }
    }

    // set-up: untimed passes (in place of graft.Bench's single warm-up
    // query): a cold JVM runs sub-second queries up to twice as slowly,
    // and passes keep speeding up for about a dozen passes as the JIT
    // warms. The first is the checksum pass.
    val wrong = setup.warm {
      val w = check(order)
      Seq.fill(WarmPasses - 1)(pass(order, new Tracer(false, "warm-up"), None))
      w
    }
    // timed passes over the gated set for the run's seconds (at least [[Passes]])
    val passes = mutable.ArrayBuffer.empty[Seq[Timed]]
    val t0 = System.nanoTime()
    val c0 = org.apache.spark.PerfbenchShim.codegenCompiles
    while (passes.size < (if (o.tiny) 1 else Passes) || (!o.tiny && (System.nanoTime() - t0) / 1e9 < o.seconds))
      passes += pass(order, new Tracer(false, "untraced"), None)
    val untraced = passes.flatten
    Sys.log(s"classes compiled per timed pass: ${(org.apache.spark.PerfbenchShim.codegenCompiles - c0) / passes.size}")
    Sys.log("passes: " + passes.map(p => f"${p.map(_.seconds).sum}%.2f s").mkString(", ") + "; per query: " +
      untraced.groupBy(_.name).toSeq.sortBy(_._1).map { case (q, xs) =>
        q.takeWhile(_ != '_') + " " + xs.map(x => f"${x.seconds}%.2f").mkString("/") }.mkString(", "))
    // a traced run then traces one query of every operators object: the
    // per-layer table, and on the gated queries the tracing overhead; the
    // queries outside the gated set are checked after it
    val cover = if (o.tiny) set else coverSet(ops)
    val tracedRun = if (o.trace) Some(traced(new scala.util.Random(o.seed).shuffle(cover))) else None
    val tracedSet = tracedRun.toSeq.flatMap(_._1)
    val extra = if (o.trace) cover.filterNot(q => set.exists(_.name == q.name)) else Nil
    val wrongTraced = check(extra)
    val runs = untraced ++ tracedSet
    val failed = runs.count(!_.ok) + wrong.size + wrongTraced.size
    Sys.log(s"registry: ${set.size} queries, $failed wrong or failed")
    // the unit of work is a pass over the gated set: its latency is the
    // pass time, and throughput counts queries over all timed passes
    val passS = passes.toSeq.map(_.map(_.seconds).sum)
    val e2e = Map(
      "throughput_per_s" -> Metric(untraced.size / passS.sum, "1/s"),
      "latency_ms_p50" -> Metric(Stats.pct(passS, 50) * 1000, "ms"),
      "latency_ms_p99" -> Metric(Stats.pct(passS, 99) * 1000, "ms"))
    val m = tracedRun match {
      case None => e2e
      case Some((tr, pp)) =>
        probe.get.emit(tracer, _ => None, runSpan)
        layers(ops.toMap, tr, pp, probe.get) ++ Map(
          "trace.overhead_pct" -> Metric((tracedSet.filter(x => set.exists(_.name == x.name))
            .map(_.seconds).sum / Stats.median(passS) - 1) * 100, "%"))
    }
    Outcome(failed == 0, (runs.size + set.size + extra.size).toLong, failed.toLong, m)
  }

  /** Per-layer metrics of the traced pass. */
  def layers(ops: Map[String, String], tr: Seq[Timed], pp: PlanProbe, probe: JobProbe)
      : Map[String, Metric] = {
    val t = tr.map(x => x.name -> x.seconds).toMap
    val total = t.values.sum
    val sums = pp.byQuery.values.flatten.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val MB = 1024.0 * 1024.0
    val perQuery = Slowest.map(q => s"registry.${q.takeWhile(_ != '_')}_s" -> Metric(t.getOrElse(q, 0.0), "s"))
    val perOp = ops.values.toSeq.distinct.map { obj =>
      s"operators.${obj}_s" -> Metric(t.collect { case (q, d) if ops.get(q).contains(obj) => d }.sum, "s")
    }
    (perQuery ++ perOp).toMap ++ Map(
      "registry.total_s" -> Metric(total, "s"),
      "registry.plan_ms" -> Metric(sums.getOrElse("plan_ms", 0.0), "ms"),
      "registry.shuffle_mb" -> Metric(sums.getOrElse("shuffle_bytes", 0.0) / MB, "MB"),
      "registry.spill_mb" -> Metric(sums.getOrElse("spill_bytes", 0.0) / MB, "MB"),
      "registry.scan_mb" -> Metric(sums.getOrElse("scan_bytes", 0.0) / MB, "MB"),
      "registry.tasks" -> Metric(probe.allStages.map(_.tasks).sum.toDouble, "count"))
  }
}
