package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Statement}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._

/** One traced interval. `group` is the micro-batch, import or query the
  * span belongs to; `level` orders the kinds from outermost (batch, query,
  * import) to innermost (a JDBC call), and the parent of a span is the
  * innermost span of a lower level in the same group that covers it. */
final case class Span(name: String, level: Int, group: String, start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/**
 * Benchmark-side tracing. Everything is measured from outside the program:
 * spans around the callbacks the benchmark hands to the program, a
 * `SparkListener` for jobs, stages and task metrics, and a counting
 * `java.lang.reflect.Proxy` around each JDBC `Connection` the connection
 * factory hands out. Spans and counters stay in memory until the run ends.
 * When `on` is false nothing is recorded and connections are not wrapped.
 */
object Trace {
  @volatile var on = false

  /** Local property carrying the span group (import or query id) to the
    * jobs and tasks it starts; streaming jobs carry Spark's own batch id. */
  val GroupProp = "perfbench.group"
  val BatchIdProp = "streaming.sql.batchId"
  /** Local property naming the callback a job was started from. */
  val KindProp = "perfbench.kind"

  val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = TrieMap.empty[String, AtomicLong]

  def add(name: String, v: Long): Unit =
    if (on) counters.getOrElseUpdate(name, new AtomicLong()).addAndGet(v)
  def count(name: String): Long = counters.get(name).map(_.get).getOrElse(0L)

  /** Epoch nanoseconds from a monotonic clock, so spans from the listener
    * thread, the stream thread and task threads share one time line. */
  private val epochBase = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = epochBase + System.nanoTime()

  def span(name: String, level: Int, group: String, start: Long, end: Long): Unit =
    if (on) spans.add(Span(name, level, group, start, end))

  /** Time `body` as a span; `kind` is also set as a local property so the
    * jobs `body` starts can be attributed to it. */
  def timed[T](sc: org.apache.spark.SparkContext, name: String, level: Int, group: String,
               kind: String)(body: => T): T = {
    val prev = sc.getLocalProperty(KindProp)
    sc.setLocalProperty(KindProp, kind)
    val t0 = now()
    try body finally {
      span(name, level, group, t0, now())
      sc.setLocalProperty(KindProp, prev)
    }
  }

  /** Span group from a local-property lookup: the pass or operation id the
    * benchmark set, plus the batch id inside a stream (batch ids restart
    * at 0 in every pass). */
  def groupOf(prop: String => String): String =
    (Option(prop(GroupProp)), Option(prop(BatchIdProp))) match {
      case (Some(g), Some(b)) => s"$g:b$b"
      case (g, b) => g.orElse(b).getOrElse("none")
    }

  private def taskGroup(): String = {
    val tc = TaskContext.get()
    if (tc == null) "driver" else groupOf(tc.getLocalProperty)
  }

  /** Wrap a connection in the counting proxy (identity when tracing is off). */
  def wrap(c: Connection): Connection =
    if (!on) c
    else {
      add("sink.connections", 1)
      Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]),
        new Handler(c, conn = true)).asInstanceOf[Connection]
    }

  private final class Handler(target: AnyRef, conn: Boolean) extends InvocationHandler {
    private var pending = 0L // addBatch calls since the last executeBatch
    private def call(m: Method, args: Array[AnyRef]): AnyRef =
      try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
      catch { case e: InvocationTargetException => throw e.getCause }
    private def jdbc(kind: String, statements: Long, m: Method, args: Array[AnyRef]): AnyRef = {
      val t0 = now()
      try call(m, args) finally {
        val t1 = now()
        add("sink.jdbc_ns", t1 - t0)
        add("sink.statements", statements)
        span(s"jdbc:$kind", 3, taskGroup(), t0, t1)
      }
    }
    def invoke(proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
      case "prepareStatement" | "createStatement" if conn =>
        val s = call(m, args).asInstanceOf[Statement]
        val iface = if (m.getName == "prepareStatement") classOf[java.sql.PreparedStatement]
                    else classOf[Statement]
        Proxy.newProxyInstance(getClass.getClassLoader, Array(iface), new Handler(s, conn = false))
      case "commit" if conn => add("sink.commits", 1); jdbc("commit", 0, m, args)
      case "rollback" if conn => add("sink.rollbacks", 1); call(m, args)
      case "addBatch" if !conn => pending += 1; call(m, args)
      case "clearBatch" if !conn => pending = 0; call(m, args)
      case "executeBatch" if !conn =>
        val n = pending
        pending = 0
        add("sink.execute_batch_calls", 1)
        add("sink.batched_statements", n)
        jdbc("executeBatch", n, m, args)
      case "execute" | "executeUpdate" | "executeQuery" if !conn =>
        jdbc(m.getName, 1, m, args)
      case _ => call(m, args)
    }
  }

  /** Per-job facts gathered by [[Listener]]. */
  final case class JobInfo(group: String, kind: String, start: Long)
  final class TaskAgg {
    val runNs = new AtomicLong(); val shuffleWrite = new AtomicLong()
    val shuffleRecords = new AtomicLong(); val spill = new AtomicLong()
    val inputBytes = new AtomicLong()
    val readRecords = new ConcurrentLinkedQueue[java.lang.Long]()
  }

  val jobs = TrieMap.empty[Int, JobInfo]
  private val stageJob = TrieMap.empty[Int, Int]
  val stageTasks = TrieMap.empty[Int, TaskAgg]

  def jobOfStage(stage: Int): Option[JobInfo] = stageJob.get(stage).flatMap(jobs.get)

  object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val p = e.properties
      def prop(k: String) = if (p == null) null else p.getProperty(k)
      jobs(e.jobId) = JobInfo(groupOf(prop), Option(prop(KindProp)).getOrElse("pipeline"), now())
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) {
      jobs.get(e.jobId).foreach(j => span(s"job:${e.jobId}", 2, j.group, j.start, now()))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) {
      val m = e.taskMetrics
      val a = stageTasks.getOrElseUpdate(e.stageId, new TaskAgg)
      a.runNs.addAndGet(m.executorRunTime * 1000000L)
      a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      a.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      if (m.shuffleReadMetrics.recordsRead > 0) a.readRecords.add(m.shuffleReadMetrics.recordsRead)
    }
  }

  /** JDBC counters of the traced passes, per pass; `rows` is the source
    * rows of all traced passes. */
  def sinkMetrics(passes: Int, rows: Double): Map[String, Double] = {
    def pp(v: Double) = if (passes == 0) 0.0 else v / passes
    val execBatches = count("sink.execute_batch_calls").toDouble
    Map(
      "sink.jdbc_ms" -> pp(count("sink.jdbc_ns") / 1e6),
      "sink.statements" -> pp(count("sink.statements").toDouble),
      "sink.execute_batch_calls" -> pp(execBatches),
      "sink.stmts_per_execute_batch" -> count("sink.batched_statements") / execBatches.max(1),
      "sink.statements_per_row" -> count("sink.statements") / rows.max(1),
      "sink.commits" -> pp(count("sink.commits").toDouble),
      "sink.rollbacks" -> pp(count("sink.rollbacks").toDouble),
      "sink.connections" -> pp(count("sink.connections").toDouble))
  }

  /** Self time of every span: its duration minus the part of it covered by
    * its children (the spans of the next inner levels it contains). */
  def selfTimes(all: Seq[Span]): Seq[(Span, Double)] =
    all.groupBy(_.group).values.toSeq.flatMap { g =>
      // batch spans come from progress reports with millisecond stamps, so
      // containment allows that much slack and children are clipped
      val slack = 2000000L
      val outer = g.filter(_.level < 3).sortBy(p => (-p.level, p.end - p.start))
      val kids = g.flatMap { c =>
        outer.find(p => p.level < c.level && p.start - slack <= c.start && c.end <= p.end + slack)
          .map(_ -> c)
      }.groupBy(_._1).map { case (p, cs) => p -> cs.map(_._2) }
      g.map { s =>
        val iv = kids.getOrElse(s, Nil).map(c => (c.start max s.start, c.end min s.end))
        s -> (s.ms - cover(iv) / 1e6)
      }
    }

  /** Length of the union of intervals. */
  def cover(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
