package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What one timed operation (micro-batch, import or query) took. */
final case class Op(ms: Double, group: String)

/** One pass: the repeated unit of a workload (a drain of the CDC backlog,
  * one bulk import, one run of the query list). */
final case class PassOut(wallS: Double, rows: Long, ops: Seq[Op], failed: Int,
                         traced: Boolean, extra: Map[String, Double] = Map.empty)

trait Workload {
  /** Fresh target or store, the program's own set-up, one warm-up pass. */
  def setup(rep: Int): Unit
  def pass(n: Int): PassOut
  /** Correctness gate over the last pass's output; returns mismatches. */
  def check(corrupt: Boolean): Seq[String]
  /** Per-layer metrics from the traced passes (trace mode only). */
  def layers(traced: Seq[PassOut]): Map[String, Double]
  /** Extra traced-mode measurements made after the gate. */
  def afterGate(): Map[String, Double] = Map.empty
  /** Untimed work between set-up and the first timed pass. */
  def prime(): Unit = ()
}

/**
 * Benchmark process: `perfbench.Runner key=value...`. Builds one
 * local Spark session, runs `setup_reps` set-ups, then passes until
 * `seconds` have elapsed, then the correctness gate, and writes
 * `<work>/result.json`. Spark's own logging goes to stderr; nothing is
 * written outside `work`.
 */
object Runner {
  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val work = a("work")
    val cpus = a("cpus").toInt
    val trace = a("trace") == "1"
    val out = new Json
    try run(a, work, cpus, trace, out)
    catch {
      case t: Throwable =>
        t.printStackTrace()
        out.str("error", (t.toString +: t.getStackTrace.take(8).map(_.toString)).mkString(" | "))
    }
    Files.writeString(Paths.get(work, "result.json"), out.render)
    sys.exit(0)
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.addSparkListener(Trace.Listener)
    s
  }

  private def run(a: Map[String, String], work: String, cpus: Int, trace: Boolean,
                  out: Json): Unit = {
    val loadStart = loadAvg()
    val spark = session(cpus, work)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    out.num("session_s", (System.currentTimeMillis() - jvmStart) / 1e3)
    val wl: Workload = a("workload") match {
      case "cdc_mixed" => new Cdc(spark, a)
      case "etl_bulk" => new Etl(spark, a)
      case "llm_curation" => new Llm(spark, a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val reps = a("setup_reps").toInt
    val setupS = (1 to reps).map { r =>
      val t0 = System.nanoTime(); wl.setup(r); (System.nanoTime() - t0) / 1e9
    }
    wl.prime()
    out.num("first_op_s", (System.currentTimeMillis() - jvmStart) / 1e3)

    val seconds = a("seconds").toDouble
    val passes = ArrayBuffer[PassOut]()
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds ||
           (trace && passes.count(_.traced) < 2)) {
      // traced runs alternate untraced and traced passes, so the two
      // halves see the same warm-up and drift and their difference is the
      // tracing overhead
      Trace.on = trace && passes.size % 2 == 1
      passes += wl.pass(passes.size + 1)
      Trace.on = false
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val gcTotal = gcMs() - gc0
    out.num("peak_rss_kb", vmHwmKb())

    val mismatches = wl.check(a.getOrElse("corrupt", "0") == "1")
    out.strs("mismatches", mismatches.take(20))
    out.num("mismatch_count", mismatches.size)

    val timed = passes.filterNot(_.traced).toSeq
    out.nums("setup_s_reps", setupS)
    out.nums("pass_wall_s", timed.map(_.wallS))
    out.num("rows_per_pass", timed.head.rows)
    out.nums("op_ms", timed.flatMap(_.ops.map(_.ms)))
    out.strs("op_groups", timed.flatMap(_.ops.map(_.group)))
    out.num("attempted", passes.map(_.ops.size).sum)
    out.num("failed", passes.map(_.failed).sum)
    out.num("window_s", windowS)
    out.num("passes", passes.size)
    if (trace) {
      val traced = passes.filter(_.traced).toSeq
      val layer = wl.layers(traced) ++ Map(
        "jvm.gc_ms" -> gcTotal / passes.size,
        "trace.overhead_pct" ->
          (100 * (median(traced.map(_.wallS)) / median(timed.map(_.wallS)) - 1))) ++
        wl.afterGate()
      out.obj("layers", layer)
      writeSpans(work)
    }
    out.num("load_avg_start", loadStart)
    out.num("load_avg_end", loadAvg())
    SparkSession.getDefaultSession.foreach(_.stop())
    spark.stop()
  }

  private def writeSpans(work: String): Unit = {
    import scala.jdk.CollectionConverters._
    val lines = Trace.selfTimes(Trace.spans.asScala.toSeq).map { case (s, self) =>
      f"""{"name":"${s.name}","group":"${s.group}","start_ns":${s.start},"end_ns":${s.end},"self_ms":$self%.3f}"""
    }
    Files.writeString(Paths.get(work, "spans.jsonl"), lines.mkString("", "\n", "\n"))
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Linear-interpolated percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100 * (s.size - 1)
      val lo = r.toInt
      if (lo + 1 >= s.size) s.last else s(lo) + (r - lo) * (s(lo + 1) - s(lo))
    }

  def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
  }

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def vmHwmKb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble).getOrElse(0.0)
  }

  /** Canonical text of a value read back from JDBC or collected from Spark,
    * so typed target values compare with expected values. */
  def norm(v: Any): String = v match {
    case null => "<null>"
    case n: java.lang.Long => n.toString
    case n: java.lang.Integer => n.toLong.toString
    case n: java.lang.Short => n.toLong.toString
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: java.lang.Double => d.toString
    case t: java.sql.Timestamp => norm(t.toLocalDateTime)
    case t: java.time.LocalDateTime => t.format(TsFmt)
    case t: java.time.Instant => norm(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case s: String => s
    case o => o.toString
  }
  private val TsFmt = java.time.format.DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss.SSSSSS")

  /** All rows of a target table over JDBC, each as normalized strings. */
  def readTable(url: String, table: String): Seq[Seq[String]] = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT * FROM $table")
      val n = rs.getMetaData.getColumnCount
      val rows = ArrayBuffer[Seq[String]]()
      while (rs.next()) rows += (1 to n).map(i => norm(rs.getObject(i)))
      rows.toSeq
    } finally c.close()
  }

  def exec(url: String, sqls: String*): Unit = {
    val c = java.sql.DriverManager.getConnection(url)
    try { val st = c.createStatement(); sqls.foreach(st.execute); st.close() }
    finally c.close()
  }

  /** Per-pass averages of traced counters. */
  def perPass(traced: Seq[PassOut], v: Double): Double = if (traced.isEmpty) 0.0 else v / traced.size

  /** Compare two keyed row sets; returns up to a few readable differences. */
  def diff(what: String, expected: Map[String, Seq[String]],
           actual: Map[String, Seq[String]]): Seq[String] = {
    val keys = (expected.keySet ++ actual.keySet).toSeq.sorted
    keys.filter(k => expected.get(k) != actual.get(k)).take(5).map { k =>
      s"$what key $k: expected ${expected.get(k).map(_.mkString("|")).getOrElse("absent")}" +
        s" got ${actual.get(k).map(_.mkString("|")).getOrElse("absent")}"
    } ++ (if (expected.size != actual.size)
      Seq(s"$what row count: expected ${expected.size} got ${actual.size}") else Nil)
  }
}

/** Minimal JSON object writer for the result file. */
final class Json {
  private val fields = ArrayBuffer[String]()
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  private def n(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def num(k: String, v: Double): Unit = fields += s"${q(k)}:${n(v)}"
  def str(k: String, v: String): Unit = fields += s"${q(k)}:${q(v)}"
  def nums(k: String, vs: Seq[Double]): Unit = fields += s"${q(k)}:${vs.map(n).mkString("[", ",", "]")}"
  def strs(k: String, vs: Seq[String]): Unit = fields += s"${q(k)}:${vs.map(q).mkString("[", ",", "]")}"
  def obj(k: String, m: Map[String, Double]): Unit =
    fields += s"${q(k)}:${m.toSeq.sortBy(_._1).map { case (x, v) => s"${q(x)}:${n(v)}" }.mkString("{", ",", "}")}"
  def render: String = fields.mkString("{", ",", "}\n")
}
