package perfbench

import scala.jdk.CollectionConverters._

import graft.etl.EtlJob
import graft.model.{DbMapping, MappingConfig}
import graft.sink.DeleteInsertDialect
import org.apache.spark.sql.SparkSession

/**
 * The bulk-import path: one `EtlJob.importSource(numPartitions = N)` of the
 * generated orders-shaped parquet, filtered by a templated `etlCondition`,
 * into a fresh Derby table. Pure upserts, no key repeats, no streaming
 * layer. One pass is one import.
 */
final class Etl(spark: SparkSession, a: Map[String, String]) extends Workload {
  private val cpus = a("cpus").toInt
  private val source = EtlJob.EtlSource.Parquet(s"${a("inputs")}/source")
  private val params = Seq(a("etl_param"))
  private val url = "jdbc:derby:memory:pbetl;create=true"
  private val plainUrl = url.replace(";create=true", "")
  private var seq = 0
  private var lastTable: String = _
  private val StatusLabels = Seq("OPEN", "FILLED", "PARTIAL")

  private def config(table: String) = MappingConfig(
    dataSourceKey = "ds", destination = "bench", groupId = "g1", concurrent = true,
    dbMapping = DbMapping("benchdb", "orders", s"BENCH.$table",
      targetPk = Map("o_orderkey" -> "o_orderkey"), mapAll = true,
      etlCondition = "o_totalprice >= {0}",
      enumColumns = Map("o_status" -> StatusLabels)))

  private def freshTable(): String = {
    if (lastTable != null) Runner.exec(url, s"""DROP TABLE "BENCH"."$lastTable"""")
    seq += 1
    val t = s"ORDERS_$seq"
    Runner.exec(url, s"""CREATE TABLE "BENCH"."$t" ("O_ORDERKEY" BIGINT PRIMARY KEY,
      "O_CUSTKEY" BIGINT, "O_STATUS" VARCHAR(16), "O_TOTALPRICE" DOUBLE,
      "O_ORDERDATE" TIMESTAMP, "O_ORDERPRIORITY" VARCHAR(20), "O_COMMENT" VARCHAR(64))""")
    lastTable = t
    t
  }

  private val importedCounts = scala.collection.mutable.ArrayBuffer[Long]()

  private def importOnce(n: Int): PassOut = {
    val table = freshTable()
    val u = url
    val conn = () => Trace.wrap(java.sql.DriverManager.getConnection(u))
    val sc = spark.sparkContext
    val group = s"import$n"
    sc.setLocalProperty(Trace.GroupProp, group)
    val t0 = System.nanoTime()
    val res = Trace.timed(sc, "etl.import", 0, group, "import") {
      EtlJob.importSource(spark, config(table), source, params, conn, cpus, DeleteInsertDialect)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    sc.setLocalProperty(Trace.GroupProp, null)
    if (!res.succeeded) System.err.println(s"[perfbench] import $n failed: ${res.errorMessage}")
    importedCounts += res.importedCount
    PassOut(ms / 1e3, res.importedCount, Seq(Op(ms, group)), if (res.succeeded) 0 else 1, Trace.on)
  }

  def setup(rep: Int): Unit = importOnce(-rep)

  def pass(n: Int): PassOut = importOnce(n)

  def check(corrupt: Boolean): Seq[String] = {
    if (corrupt) Runner.exec(plainUrl,
      s"""UPDATE "BENCH"."$lastTable" SET "O_COMMENT" = 'corrupted' WHERE "O_ORDERKEY" = """ +
        s"""(SELECT MIN("O_ORDERKEY") FROM "BENCH"."$lastTable")""")
    val expected = EtlJob.transform(EtlJob.readSource(spark, source), config("X"), params)
      .collect().map(r => r.toSeq.map(Runner.norm)).map(r => r.head -> r).toMap
    val actual = Runner.readTable(plainUrl, s""""BENCH"."$lastTable"""")
    // row count and an order-insensitive digest, then the first differing keys
    def digest(rows: Iterable[Seq[String]]) = rows.map(_.mkString("\u0001").hashCode.toLong).sum
    val counts = importedCounts.distinct.filter(_ != expected.size)
      .map(c => s"an import reported $c rows, expected ${expected.size}").toSeq
    if (actual.size == expected.size && digest(actual) == digest(expected.values)) counts
    else counts ++ Runner.diff("import", expected, actual.map(r => r.head -> r).toMap) :+
      s"digest or row count differs: ${actual.size} rows vs ${expected.size}"
  }

  def layers(traced: Seq[PassOut]): Map[String, Double] = {
    val groups = traced.flatMap(_.ops).map(_.group).toSet
    val jobs = Trace.jobs.values.filter(j => groups(j.group)).toSeq
    val stages = Trace.stageTasks.toSeq.filter { case (s, _) =>
      Trace.jobOfStage(s).exists(j => groups(j.group))
    }
    val readRecs = stages.map(_._2.readRecords.asScala.map(_.toDouble).toSeq).filter(_.nonEmpty)
    val jdbcMs = Trace.count("sink.jdbc_ns") / 1e6
    val taskMs = stages.map(_._2.runNs.get).sum / 1e6
    def pp(v: Double) = Runner.perPass(traced, v)
    Trace.sinkMetrics(traced.size, traced.map(_.rows).sum.toDouble) ++ Map(
      "etl.import_ms" -> Runner.median(traced.flatMap(_.ops).map(_.ms)),
      "etl.scan_bytes" -> pp(stages.map(_._2.inputBytes.get).sum.toDouble),
      "etl.jobs" -> pp(jobs.size.toDouble),
      "etl.non_jdbc_task_ms" -> pp(taskMs - jdbcMs),
      "sink.apply_ms" -> pp(traced.map(_.wallS * 1e3).sum),
      "sink.partition_rows_max" -> (if (readRecs.isEmpty) 0.0 else readRecs.map(_.max).max)
    )
  }
}
