package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run (see run.py for the launcher). */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    work: Path,
    dataDir: Path,
    expected: Path,
    pacedRate: Int,
    drainPages: Long,
    tiny: Boolean,
    home: Path)

object Opts {
  def parse(args: Array[String]): Opts = {
    require(args.length % 2 == 0, s"options come in --key value pairs: ${args.mkString(" ")}")
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String): String = m.getOrElse(k, sys.error(s"missing option --$k"))
    Opts(
      workload = get("workload"),
      seed = get("seed").toLong,
      seconds = get("seconds").toInt,
      trace = get("trace") == "1",
      work = Paths.get(get("work")).toAbsolutePath,
      dataDir = Paths.get(get("data")).toAbsolutePath,
      expected = Paths.get(get("expected")).toAbsolutePath,
      pacedRate = get("paced-rate").toInt,
      drainPages = get("drain-pages").toLong,
      tiny = m.get("tiny").contains("1"),
      home = Paths.get(get("home")).toAbsolutePath)
  }
}

/** One metric of the final JSON line. */
final case class Metric(value: Double, unit: String)

/** What a workload hands back: its metrics plus the operation counts. */
final case class Outcome(
    correct: Boolean,
    attempted: Long,
    failed: Long,
    metrics: Map[String, Metric])

object Stats {
  /** Linear-interpolated percentile (p in [0, 100]); NaN for no samples. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

object Sys {
  /** Peak resident set of this JVM (VmHWM) in MB. */
  def peakRssMb(): Double = statusKb("VmHWM") / 1024.0

  private def statusKb(key: String): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(key + ":")).getOrElse(s"$key: 0 kB")
    line.split("\\s+")(1).toDouble
  }

  /** Recursive size in bytes of the regular files under a directory. */
  def dirBytes(p: Path): Long = {
    if (!Files.exists(p)) return 0L
    val st = Files.walk(p)
    try {
      var bytes = 0L
      st.filter(Files.isRegularFile(_)).forEach(f => bytes += Files.size(f))
      bytes
    } finally st.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally st.close()
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

object Session {
  /** The host's cores: the app's local[nproc]. */
  def nproc: Int = Runtime.getRuntime.availableProcessors

  /** Generated classes the registry's gated set compiles (141 per pass
    * at seed) exceed Spark's default codegen cache of 100: cycling the set
    * evicts every class before its reuse, so each timed query would
    * re-compile its generated code, and query times went bimodal. */
  val RegistryCodegenCache = 1000

  /** The app's session shape (PagePipelineApp), on local[cpus] with
    * cpus shuffle partitions and every scratch file inside `work`;
    * `codegenCache` sizes Spark's cache of compiled generated classes. */
  def start(work: Path, cpus: Int, codegenCache: Option[Int] = None): SparkSession = {
    val local = work.resolve("spark-local")
    Files.createDirectories(local)
    val b = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", 32 * 1024 * 1024)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
    codegenCache.foreach(n => b.config("spark.sql.codegen.cache.maxEntries", n.toLong))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def result(o: Outcome): String = obj(Seq(
    "correct" -> o.correct.toString,
    "attempted" -> o.attempted.toString,
    "failed" -> o.failed.toString,
    "metrics" -> obj(o.metrics.toSeq.sortBy(_._1).map { case (k, m) =>
      k -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)))
    })))
}
