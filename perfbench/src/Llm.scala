package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import org.apache.spark.sql.functions.{expr, xxhash64}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The curation queries: a fixed list from `SparkEntry.queries` over the
 * generated corpus, each timed with the same full-evaluation sink as the
 * repository's `Bench` (bit_xor of xxhash64 over every output column, so no
 * projection is pruned away). Each set-up points
 * `spark.graft.materialized.dir` at a fresh store and runs one cold pass,
 * which builds the stores; timed passes then read them.
 */
final class Llm(spark: SparkSession, a: Map[String, String]) extends Workload {
  private val corpus = a("inputs")
  private val work = a("work")
  private val names = a("queries").split(',').toSeq
  private val registry = SparkEntry.queries
  private val corpusRows = a("rows").toLong
  private val coldWall = scala.collection.mutable.ArrayBuffer[Double]()

  private def fullyEvaluate(df: DataFrame): Unit = {
    df.select(xxhash64(df.columns.map(df(_)): _*).as("h")).agg(expr("bit_xor(h)")).head()
    ()
  }

  private def runAll(n: Int): PassOut = {
    val sc = spark.sparkContext
    var failed = 0
    val ops = names.map { q =>
      val group = s"q:$q:$n"
      sc.setLocalProperty(Trace.GroupProp, group)
      val t0 = System.nanoTime()
      try Trace.timed(sc, s"llm.query:$q", 0, group, "query")(fullyEvaluate(registry(q)(spark, corpus)))
      catch { case t: Throwable => failed += 1; System.err.println(s"[perfbench] $q failed: $t") }
      Op((System.nanoTime() - t0) / 1e6, group)
    }
    sc.setLocalProperty(Trace.GroupProp, null)
    PassOut(ops.map(_.ms).sum / 1e3, corpusRows, ops, failed, Trace.on)
  }

  def setup(rep: Int): Unit = {
    spark.conf.set("spark.graft.materialized.dir", s"$work/store-$rep")
    coldWall += runAll(-rep).wallS
  }

  /** The first pass over a freshly built store is ~30% slower than the
    * next ones (store tables are opened and cached per session), so one
    * untimed pass runs before the window. */
  override def prime(): Unit = runAll(0)

  def pass(n: Int): PassOut = runAll(n)

  /** Dumps each query's result and the oracle SQL; the comparison against
    * DuckDB runs in the calling script. */
  def check(corrupt: Boolean): Seq[String] = {
    val out = s"$work/llm_out"
    names.flatMap { q =>
      try { registry(q)(spark, corpus).coalesce(1).write.parquet(s"$out/$q"); None }
      catch { case t: Throwable => Some(s"$q: result dump failed: $t") }
    } ++ {
      val j = new Json
      SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }.foreach { case (k, v) => j.str(k, v) }
      Files.writeString(Paths.get(out, "oracle_sql.json"), j.render)
      Nil
    }
  }

  def layers(traced: Seq[PassOut]): Map[String, Double] = {
    val ops = traced.flatMap(_.ops)
    def nameOf(g: String) = g.split(':')(1)
    val groups = ops.map(_.group).toSet
    val stages = Trace.stageTasks.toSeq.flatMap { case (s, t) =>
      Trace.jobOfStage(s).filter(j => groups(j.group)).map(j => nameOf(j.group) -> t)
    }
    val jobs = Trace.jobs.values.filter(j => groups(j.group)).toSeq
    def pp(v: Double) = Runner.perPass(traced, v)
    names.flatMap { q =>
      Seq(
        s"llm.${q}_s" -> Runner.median(ops.filter(o => nameOf(o.group) == q).map(_.ms / 1e3)),
        s"llm.${q}_jobs" -> pp(jobs.count(j => nameOf(j.group) == q).toDouble),
        s"llm.${q}_shuffle_bytes" -> pp(stages.filter(_._1 == q).map(_._2.shuffleWrite.get).sum.toDouble))
    }.toMap ++ Map(
      "llm.spill_bytes" -> pp(stages.map(_._2.spill.get).sum.toDouble),
      "llm.scan_bytes" -> pp(stages.map(_._2.inputBytes.get).sum.toDouble),
      "llm.store_build_s" -> (Runner.median(coldWall.toSeq) - Runner.median(traced.map(_.wallS))))
  }
}
