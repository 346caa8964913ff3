package perfbench

import java.util.concurrent.atomic.AtomicReference
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import graft.ddl.DdlParser
import graft.model.{CanalEvent, DbMapping, MappingConfig, TypeMapping}
import graft.sink.{DeleteInsertDialect, SchemaProbe}
import graft.streaming.{CanalStream, DdlBarrier}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The sync path: `CanalStream.start` over a pre-written backlog of Canal
 * JSON files (one file per micro-batch), applied with
 * `CanalStream.applyBatchToJdbc` through `DeleteInsertDialect` into a fresh
 * in-memory Derby database per pass. A pass is a closed-loop drain: each
 * micro-batch starts after the previous one commits; it is timed from
 * `start` to the return of `processAllAvailable`. Micro-batch latency is
 * `triggerExecution` from the query's own progress reports.
 */
final class Cdc(initial: SparkSession, a: Map[String, String]) extends Workload {
  private var spark = initial
  private val cpus = a("cpus").toInt
  private val inputs = a("inputs")
  private val eventsDir = s"$inputs/events"
  private val tables = a("tables").split(',').toSeq
  private val hotTable = a("hot_table")
  private val sourceRows = a("rows").toLong
  private val StatusLabels = Seq("NEW", "PAID", "SHIPPED", "CLOSED")

  /** Target columns of a table: (name, DDL type, kind of generated string). */
  private def baseCols(t: String): Seq[(String, String, String)] =
    if (t == hotTable) Seq(
      ("id", "BIGINT", "long"), ("name", "VARCHAR(32)", "str"), ("qty", "INTEGER", "long"),
      ("price", "DECIMAL(12,2)", "dec"), ("created", "TIMESTAMP", "ts"),
      ("status", "VARCHAR(16)", "enum"), ("score", "DOUBLE", "double"),
      ("city", "VARCHAR(16)", "str"), ("flag", "SMALLINT", "long"), ("note", "VARCHAR(32)", "str"))
    else Seq(("id", "BIGINT", "long"), ("s1", "VARCHAR(32)", "str"), ("s2", "VARCHAR(48)", "str"))

  private def config(schema: String, t: String): MappingConfig = MappingConfig(
    dataSourceKey = "ds", destination = "bench", groupId = "g1", concurrent = true,
    dbMapping = DbMapping("benchdb", t, s"$schema.${t.toUpperCase}",
      targetPk = Map("id" -> "id"), mapAll = true, alter = true,
      enumColumns = if (t == hotTable) Map("status" -> StatusLabels) else Map.empty))
  private val url = "jdbc:derby:memory:pbcdc;create=true"
  private var seq = 0
  private var schema: String = _
  private val addedCols = TrieMap.empty[String, Seq[String]] // table -> columns added by DDL

  /** Fresh target tables for a pass, in a schema of their own (creating a
    * Derby database per pass costs more than the tables). */
  private def freshSchema(): String = {
    if (schema != null)
      Runner.exec(url, tables.map(t => s"""DROP TABLE "$schema"."${t.toUpperCase}""""): _*)
    seq += 1
    schema = s"P$seq"
    Runner.exec(url, tables.map { t =>
      val cols = baseCols(t).map { case (c, ddl, _) =>
        s""""${c.toUpperCase}" $ddl""" + (if (c == "id") " PRIMARY KEY" else "")
      }
      s"""CREATE TABLE "$schema"."${t.toUpperCase}" (${cols.mkString(", ")})"""
    }: _*)
    schema
  }

  private def connFactory(url: String): () => java.sql.Connection = {
    val u = url
    () => Trace.wrap(java.sql.DriverManager.getConnection(u))
  }

  /** One drain of the whole backlog into a fresh database. With
    * `sink = false` the apply callback only counts the ordered rows, which
    * isolates the pipeline (parse, flatten, route, shuffle) from the sink. */
  private def drain(n: Int, sink: Boolean, dir: String = eventsDir): PassOut = {
    val sch = freshSchema()
    val configs = tables.map(config(sch, _))
    val conn = connFactory(url)
    val sc = spark.sparkContext
    val schemas = TrieMap.empty[String, StructType]
    addedCols.clear()
    def schemaOf(cfg: MappingConfig): StructType =
      schemas.getOrElseUpdate(cfg.dbMapping.table, {
        val t0 = System.nanoTime()
        val s = SchemaProbe.probe(cfg.dbMapping, conn, DeleteInsertDialect)
        Trace.add("ddl.probe_ns", System.nanoTime() - t0)
        s
      })
    val apply: (MappingConfig, DataFrame, CanalStream.SegmentCtx) => Unit = (cfg, ordered, ctx) => {
      val group = Trace.groupOf(sc.getLocalProperty)
      Trace.add("streaming.segments", 1)
      Trace.timed(sc, s"apply:${cfg.dbMapping.table}", 1, group, "apply") {
        if (sink)
          CanalStream.applyBatchToJdbc(cfg, ordered, schemaOf(cfg), conn, DeleteInsertDialect,
            sourceColsHint = ctx.sourceCols)
        else { ordered.count(); () }
      }
    }
    val onDdl: (MappingConfig, DdlBarrier.DdlEvent) => Unit = (cfg, d) => {
      val group = Trace.groupOf(sc.getLocalProperty)
      Trace.add("ddl.events", 1)
      Trace.timed(sc, "ddl", 1, group, "ddl") {
        // Derby dialect: no ADD IF NOT EXISTS, so the statement is built
        // from the parsed event here rather than by DdlBarrier.applyDdl
        val (_, ops) = DdlParser.parse(d.sql)
        val m = cfg.dbMapping
        val stmts = ops.collect { case DdlParser.AddColumn(c, typ, _, _) =>
          addedCols(m.table) = addedCols.getOrElse(m.table, Nil) :+ c.toLowerCase
          s"""ALTER TABLE ${DeleteInsertDialect.tableName(m)} ADD "${c.toUpperCase}" """ +
            TypeMapping.map(typ, m.limit).targetDdl
        }
        if (sink) Runner.exec(url, stmts: _*)
        schemas.remove(m.table)
      }
    }
    val raw = spark.readStream.schema("value STRING")
      .option("maxFilesPerTrigger", "1")
      .text(dir)
    sc.setLocalProperty(Trace.GroupProp, s"p$n")
    val t0 = System.nanoTime()
    val q = CanalStream.start(spark, raw, new AtomicReference(configs), cpus, apply, onDdl)
    var failed = 0
    try q.processAllAvailable()
    catch { case t: Throwable => failed = 1; System.err.println(s"[perfbench] pass $n failed: $t") }
    val wallS = (System.nanoTime() - t0) / 1e9
    q.stop()
    sc.setLocalProperty(Trace.GroupProp, null)
    val progress = q.recentProgress.filter(_.numInputRows > 0).toSeq
    val ops = progress.map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
      val trig = p.durationMs.get("triggerExecution").toLong
      Trace.span("batch", 0, s"p$n:b${p.batchId}", start, start + trig * 1000000L)
      Op(trig.toDouble, s"p$n:b${p.batchId}")
    }
    val extra =
      if (!Trace.on) Map.empty[String, Double]
      else progress.flatMap { p =>
        val g = s"p$n:b${p.batchId}"
        Seq(s"$g.addBatch" -> p.durationMs.get("addBatch").toDouble,
          s"$g.trigger" -> p.durationMs.get("triggerExecution").toDouble)
      }.toMap
    PassOut(wallS, sourceRows, ops, failed, Trace.on, extra)
  }

  def setup(rep: Int): Unit = drain(-rep, sink = true, dir = s"$inputs/warmup")

  def pass(n: Int): PassOut = drain(n, sink = true)

  /** Expected value of a generated string for a target column kind. */
  private def expect(kind: String, s: String): String =
    if (s == null) Runner.norm(null)
    else kind match {
      case "long" => s.trim.toLong.toString
      case "dec" => Runner.norm(new java.math.BigDecimal(s))
      case "double" => s.toDouble.toString
      case "ts" => Runner.norm(java.time.LocalDateTime.parse(s.replace(' ', 'T')))
      case "enum" => s.toIntOption.filter(i => i >= 1 && i <= StatusLabels.size)
        .map(i => StatusLabels(i - 1)).getOrElse(s)
      case _ => s
    }

  def check(corrupt: Boolean): Seq[String] = {
    val target = (t: String) => s""""$schema"."${t.toUpperCase}""""
    if (corrupt) Runner.exec(url,
      s"""DELETE FROM ${target(tables.head)} WHERE "ID" = (SELECT MIN("ID") FROM ${target(tables.head)})""")
    val dmls = spark.read.schema(CanalEvent.dmlSchema).json(eventsDir)
      .where(!coalesce(col("isDdl"), lit(false)))
    val cols: Map[String, Seq[(String, String)]] = tables.map { t =>
      t -> (baseCols(t).map(c => c._1 -> c._3) ++ addedCols.getOrElse(t, Nil).map(_ -> "long"))
    }.toMap
    // CanalStream.materialize per table, in one job
    val expectedDf = tables.map { t =>
      val payload = cols(t).map(_._1).filterNot(_ == "id")
      CanalStream.materialize(dmls.where(col("table") === t), Seq("id"), payload)
        .select(lit(t).as("_t"), col("id").as("_id"),
          to_json(struct(cols(t).map(c => col(c._1)): _*)).as("row"))
    }.reduce(_ unionByName _)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def parse(kinds: Seq[(String, String)], json: String): Seq[String] = {
      val node = mapper.readTree(json)
      kinds.map { case (c, k) =>
        val v = node.get(c)
        expect(k, if (v == null || v.isNull) null else v.asText())
      }
    }
    val expected = expectedDf.collect().groupBy(_.getString(0)).map { case (t, rows) =>
      t -> rows.map(r => r.getString(1) -> parse(cols(t), r.getString(2))).toMap
    }
    tables.flatMap { t =>
      val names = cols(t).map(_._1)
      val actual = Runner.readTable(url, target(t)).map(r => r.head -> r).toMap
      val truthFile = java.nio.file.Paths.get(inputs, "truth", s"$t.jsonl")
      val truth = java.nio.file.Files.readAllLines(truthFile).asScala
        .map(l => parse(cols(t), l)).map(r => r.head -> r).toMap
      val exp = expected.getOrElse(t, Map.empty)
      require(actual.headOption.forall(_._2.size == names.size),
        s"target $t has ${actual.head._2.size} columns, expected ${names.size}")
      Runner.diff(s"$t (target vs materialize)", exp, actual) ++
        Runner.diff(s"$t (materialize vs generator)", truth.toMap, exp)
    }
  }

  def layers(traced: Seq[PassOut]): Map[String, Double] = {
    val spans = Trace.spans.asScala.toSeq
    val batches = traced.flatMap(_.ops).map(_.group).toSet
    val nb = batches.size.max(1).toDouble
    val jobs = Trace.jobs.values.filter(j => batches(j.group)).toSeq
    val ranStages = Trace.stageTasks.keySet.toSeq
      .flatMap(s => Trace.jobOfStage(s).filter(j => batches(j.group)).map(_ => s))
    val callbackMs = spans.filter(s => s.level == 1 && batches(s.group))
      .groupBy(_.group).map { case (g, ss) => g -> Trace.cover(ss.map(s => (s.start, s.end))) / 1e6 }
    val extra = traced.flatMap(_.extra).toMap
    val preApply = batches.toSeq.map(g => extra(s"$g.addBatch") - callbackMs.getOrElse(g, 0.0))
    val overhead = batches.toSeq.map(g => extra(s"$g.trigger") - extra(s"$g.addBatch"))
    val stageAgg = ranStages.flatMap(Trace.stageTasks.get)
    val applyStages = Trace.stageTasks.toSeq.filter { case (s, t) =>
      Trace.jobOfStage(s).exists(j => batches(j.group) && j.kind == "apply") &&
        !t.readRecords.isEmpty
    }.map(_._2.readRecords.asScala.map(_.toDouble).toSeq)
    val skews = applyStages.map(r => r.max / (r.sum / r.size))
    val applyMs = spans.filter(s => s.name.startsWith("apply:") && batches(s.group)).map(_.ms).sum
    def pp(v: Double) = Runner.perPass(traced, v)
    Trace.sinkMetrics(traced.size, sourceRows.toDouble * traced.size) ++ Map(
      "streaming.jobs_per_batch" -> jobs.size / nb,
      "streaming.stages_per_batch" -> ranStages.size / nb,
      "streaming.pre_apply_ms_p50" -> Runner.median(preApply),
      "streaming.overhead_ms_p50" -> Runner.median(overhead),
      "streaming.segments_per_batch" -> Trace.count("streaming.segments") / nb,
      "cdc.shuffle_write_bytes" -> pp(stageAgg.map(_.shuffleWrite.get).sum.toDouble),
      "cdc.shuffle_records" -> pp(stageAgg.map(_.shuffleRecords.get).sum.toDouble),
      "cdc.partition_rows_skew" -> Runner.median(skews),
      "sink.apply_ms" -> pp(applyMs),
      "sink.partition_rows_max" -> (if (applyStages.isEmpty) 0.0 else applyStages.map(_.max).max),
      "ddl.events" -> pp(Trace.count("ddl.events").toDouble),
      "ddl.apply_ms" -> pp(spans.filter(s => s.name == "ddl" && batches(s.group)).map(_.ms).sum),
      "ddl.probe_ms" -> pp(Trace.count("ddl.probe_ns") / 1e6)
    )
  }

  /** Pipeline-only throughput, then the single-thread baseline on a
    * `local[1]` session. */
  override def afterGate(): Map[String, Double] = {
    val pipe = drain(0, sink = false)
    spark.stop()
    spark = Runner.session(1, a("work"))
    drain(0, sink = true, dir = s"$inputs/warmup")
    val one = drain(0, sink = true)
    Map("cdc.pipeline_only_rows_per_s" -> sourceRows / pipe.wallS,
      "cdc.local1_rows_per_s" -> sourceRows / one.wallS)
  }
}
