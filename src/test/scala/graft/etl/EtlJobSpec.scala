package graft.etl

import graft.{DerbyConn, TestSpark}
import graft.model.{DbMapping, MappingConfig}
import graft.sink.DeleteInsertDialect
import org.scalatest.funsuite.AnyFunSuite

import java.sql.DriverManager

/** §3.2 bulk-import lifecycle against parquet + JDBC sources and a Derby
  * target — both ends of the reference's MySQL→Phoenix pipe are real JDBC
  * here. */
class EtlJobSpec extends AnyFunSuite {
  @transient lazy val spark = TestSpark.spark

  private val url = "jdbc:derby:memory:etldb;create=true"
  private def conn() = DriverManager.getConnection(url)

  val config: MappingConfig = MappingConfig(
    dataSourceKey = "ds", destination = "example",
    dbMapping = DbMapping("tpch", "customer", "TPCH2.CUSTOMER",
      targetPk = Map("id" -> "c_custkey"), mapAll = true,
      excludeColumns = Set("c_acctbal"),
      targetColumns = Map("id" -> "c_custkey"),
      etlCondition = "c_nationkey < {0}"))

  private def targetCount(table: String): Long = {
    val rs = conn().createStatement().executeQuery(s"SELECT COUNT(1) FROM $table")
    rs.next(); rs.getLong(1)
  }

  test("importOne: parquet → transform (T2/F2) → Derby upsert (K5); idempotent; counts") {
    val c = conn()
    c.createStatement().execute(
      """CREATE TABLE "TPCH2"."CUSTOMER" ("ID" BIGINT PRIMARY KEY,
        | "C_NAME" VARCHAR(64), "C_NATIONKEY" INT, "C_MKTSEGMENT" VARCHAR(32))""".stripMargin)
    c.close()

    val r = EtlJob.importOne(spark, config, s"${TestSpark.sf}/customer.parquet",
      params = Seq("5"), DerbyConn.factory(url), numPartitions = 2, dialect = DeleteInsertDialect)
    assert(r.succeeded, r.errorMessage)

    val expected = spark.read.parquet(s"${TestSpark.sf}/customer.parquet")
      .where("c_nationkey < 5").count()
    assert(r.importedCount == expected && expected > 0) // PhoenixAdapter.java:191-205 parity
    assert(r.resultMessage.contains(expected.toString))
    assert(targetCount("\"TPCH2\".\"CUSTOMER\"") == expected)

    // re-import converges (DELETE-then-UPSERT semantics)
    val r2 = EtlJob.importOne(spark, config, s"${TestSpark.sf}/customer.parquet",
      params = Seq("5"), DerbyConn.factory(url), numPartitions = 2, dialect = DeleteInsertDialect)
    assert(r2.succeeded && r2.importedCount == expected)
    assert(targetCount("\"TPCH2\".\"CUSTOMER\"") == expected)
  }

  test("importOne: a TIMESTAMP_NTZ column lands in a Derby TIMESTAMP column at its wall-clock value") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("etl-ntz")
    val t1 = java.time.LocalDateTime.of(2024, 3, 1, 12, 34, 56, 789000000)
    val t2 = java.time.LocalDateTime.of(1999, 12, 31, 23, 59, 59)
    Seq((1L, t1), (2L, t2)).toDF("id", "o_ts").write.parquet(s"$dir/ntz.parquet")
    assert(spark.read.parquet(s"$dir/ntz.parquet").schema("o_ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)

    val c = conn()
    c.createStatement().execute(
      """CREATE TABLE "TPCH2"."NTZ" ("ID" BIGINT PRIMARY KEY, "O_TS" TIMESTAMP)""")
    c.close()
    val cfg = MappingConfig(dataSourceKey = "ds", destination = "example",
      dbMapping = DbMapping("tpch", "ntz", "TPCH2.NTZ", targetPk = Map("id" -> "id"),
        mapAll = true, etlCondition = "id < {0}"))
    val r = EtlJob.importOne(spark, cfg, s"$dir/ntz.parquet", Seq("10"),
      DerbyConn.factory(url), dialect = DeleteInsertDialect)
    assert(r.succeeded && r.importedCount == 2, r.errorMessage)

    val rs = conn().createStatement()
      .executeQuery("""SELECT "ID", "O_TS" FROM "TPCH2"."NTZ" ORDER BY "ID"""")
    val got = Iterator.continually(rs).takeWhile(_.next())
      .map(x => (x.getLong(1), x.getTimestamp(2).toLocalDateTime)).toList
    assert(got == List((1L, t1), (2L, t2)))
  }

  test("importSource: partitioned JDBC source read → Derby target (S2/P1 over real JDBC)") {
    // seed a Derby *source* table from the corpus — the reference's MySQL side
    val srcUrl = "jdbc:derby:memory:etlsrc;create=true"
    spark.read.parquet(s"${TestSpark.sf}/customer.parquet")
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
      .write.mode("overwrite").jdbc(srcUrl, "TPCH_SRC.CUSTOMER", new java.util.Properties())

    val c = conn()
    c.createStatement().execute(
      """CREATE TABLE "TPCH2"."CUSTOMER_J" ("ID" BIGINT PRIMARY KEY,
        | "C_NAME" VARCHAR(64), "C_NATIONKEY" INT, "C_MKTSEGMENT" VARCHAR(32))""".stripMargin)
    c.close()

    val source = EtlJob.EtlSource.Jdbc(srcUrl, "TPCH_SRC.CUSTOMER",
      partitionColumn = "c_custkey", numPartitions = 4)

    // P1: bounds auto-probed (one MIN/MAX statement), 4 parallel range scans
    val df = EtlJob.readSource(spark, source)
    assert(df.rdd.getNumPartitions == 4)

    // S2: the etlCondition is pushed into the remote JDBC scan, not applied
    // post-read (reference appends it to its scan SQL,
    // PhoenixEtlService.java:243-247; here Catalyst pushes the Filter down)
    val cfgJ = config.copy(dbMapping = config.dbMapping.copy(targetTable = "TPCH2.CUSTOMER_J"))
    val plan = EtlJob.transform(df, cfgJ, Seq("5")).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.toUpperCase.contains("C_NATIONKEY"),
      s"condition did not reach the JDBC scan:\n$plan")

    val r = EtlJob.importSource(spark, cfgJ, source, Seq("5"),
      DerbyConn.factory(url), numPartitions = 2, dialect = DeleteInsertDialect)
    assert(r.succeeded, r.errorMessage)

    val expected = spark.read.parquet(s"${TestSpark.sf}/customer.parquet")
      .where("c_nationkey < 5").count()
    assert(r.importedCount == expected && expected > 0)
    assert(targetCount("\"TPCH2\".\"CUSTOMER_J\"") == expected)

    // re-import from JDBC converges too
    val r2 = EtlJob.importSource(spark, cfgJ, source, Seq("5"),
      DerbyConn.factory(url), dialect = DeleteInsertDialect)
    assert(r2.succeeded && targetCount("\"TPCH2\".\"CUSTOMER_J\"") == expected)
  }

  test("readSource degrades to an unpartitioned read on an empty partition column") {
    val srcUrl = "jdbc:derby:memory:etlsrcempty;create=true"
    val sc = DriverManager.getConnection(srcUrl)
    sc.createStatement().execute(
      """CREATE TABLE "EMPTYT" ("ID" BIGINT PRIMARY KEY, "V" VARCHAR(8))""")
    sc.close()
    val df = EtlJob.readSource(spark,
      EtlJob.EtlSource.Jdbc(srcUrl, "EMPTYT", partitionColumn = "ID", numPartitions = 4))
    assert(df.count() == 0) // MIN/MAX null → no range split, still readable
  }

  test("importSource: CSV and JSON sources flow through the same transform + sink") {
    val base = java.nio.file.Files.createTempDirectory("etl-srcfmt")
    val cust = spark.read.parquet(s"${TestSpark.sf}/customer.parquet")
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    cust.write.option("header", "true").csv(s"$base/csv")
    cust.write.json(s"$base/json")
    val expected = cust.where("c_nationkey < 5").count()

    val c = conn()
    c.createStatement().execute(
      """CREATE TABLE "TPCH2"."CUSTOMER_F" ("ID" BIGINT PRIMARY KEY,
        | "C_NAME" VARCHAR(64), "C_NATIONKEY" INT, "C_MKTSEGMENT" VARCHAR(32))""".stripMargin)
    c.close()
    val cfg = config.copy(dbMapping = config.dbMapping.copy(targetTable = "TPCH2.CUSTOMER_F"))
    val ddl = "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_mktsegment STRING"

    val rc = EtlJob.importSource(spark, cfg,
      EtlJob.EtlSource.Csv(s"$base/csv", schemaDdl = ddl), Seq("5"),
      DerbyConn.factory(url), dialect = DeleteInsertDialect)
    assert(rc.succeeded && rc.importedCount == expected, rc.errorMessage)
    assert(targetCount("\"TPCH2\".\"CUSTOMER_F\"") == expected)

    val rj = EtlJob.importSource(spark, cfg,
      EtlJob.EtlSource.Json(s"$base/json", schemaDdl = ddl), Seq("5"),
      DerbyConn.factory(url), dialect = DeleteInsertDialect)
    assert(rj.succeeded && rj.importedCount == expected, rj.errorMessage)
    assert(targetCount("\"TPCH2\".\"CUSTOMER_F\"") == expected) // idempotent across formats

    cust.write.orc(s"$base/orc")
    val ro = EtlJob.importSource(spark, cfg,
      EtlJob.EtlSource.Orc(s"$base/orc"), Seq("5"),
      DerbyConn.factory(url), dialect = DeleteInsertDialect)
    assert(ro.succeeded && ro.importedCount == expected, ro.errorMessage)
    assert(targetCount("\"TPCH2\".\"CUSTOMER_F\"") == expected)
  }

  test("probeBounds names the partition column on a non-numeric or empty column") {
    val srcUrl = "jdbc:derby:memory:etlsrcbad;create=true"
    val sc = DriverManager.getConnection(srcUrl)
    sc.createStatement().execute(
      """CREATE TABLE "BADT" ("ID" BIGINT PRIMARY KEY, "NAME" VARCHAR(8))""")
    sc.createStatement().execute("""INSERT INTO "BADT" VALUES (1, 'a')""")
    sc.close()
    // non-numeric column: MIN/MAX succeeds in SQL but getLong fails — the
    // probe must surface the column name and the numeric requirement
    val e = intercept[IllegalArgumentException] {
      EtlJob.readSource(spark,
        EtlJob.EtlSource.Jdbc(srcUrl, "BADT", partitionColumn = "NAME", numPartitions = 4))
    }
    assert(e.getMessage.contains("NAME") && e.getMessage.toLowerCase.contains("numeric"))
    val e2 = intercept[IllegalArgumentException] {
      EtlJob.readSource(spark,
        EtlJob.EtlSource.Jdbc(srcUrl, "BADT", partitionColumn = "", numPartitions = 4))
    }
    assert(e2.getMessage.contains("partitionColumn"))
  }

  test("X3 orchestration fans out over configs matching the destination") {
    val other = config.copy(destination = "elsewhere")
    val src = (_: MappingConfig) =>
      EtlJob.EtlSource.Parquet(s"${TestSpark.sf}/customer.parquet")
    val results = EtlJob.etl(spark, "nomatch",
      Map("a" -> config, "b" -> other), Seq("5"),
      src, DerbyConn.factory(url), dialect = DeleteInsertDialect)
    assert(results.isEmpty)
    val byName = EtlJob.etl(spark, "a",
      Map("a" -> config, "b" -> other), Seq("5"),
      src, DerbyConn.factory(url), dialect = DeleteInsertDialect)
    assert(byName.size == 1 && byName.head.succeeded && byName.head.importedCount > 0)
  }

  test("failed import returns an EtlResult error, not an exception (X3)") {
    val bad = config.copy(dbMapping = config.dbMapping.copy(targetTable = "NO.SUCH_TABLE"))
    val r = EtlJob.importOne(spark, bad, s"${TestSpark.sf}/customer.parquet",
      Seq("5"), DerbyConn.factory(url), dialect = DeleteInsertDialect)
    assert(!r.succeeded && r.errorMessage.isDefined && r.importedCount == 0)
  }
}
