package graft.query

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.streaming.LiveTail

class QueryServiceSpec extends SparkSuite {
  import spark.implicits._

  test("time filter injected unless query already constrains the time col") {
    val dir = Files.createTempDirectory("qsinj").toString
    val base = 1700000000000L
    Seq.tabulate(10)(i => (i.toLong, new Timestamp(base + i * 60_000L)))
      .toDF("id", "p_timestamp").write.parquet(s"$dir/logs")
    val streams = Map("logs" ->
      QueryService.Stream(s"$dir/logs", "p_timestamp"))
    val range = TimeRange(
      java.time.Instant.ofEpochMilli(base),
      java.time.Instant.ofEpochMilli(base + 3 * 60_000L))
    assert(QueryService.query(spark, streams,
      "SELECT * FROM logs WHERE id >= 0", range).count() == 3)
    assert(QueryService.query(spark, streams,
      "SELECT * FROM logs WHERE p_timestamp > " +
        s"timestamp'${new Timestamp(base + 5 * 60_000L)}'", range).count() == 4)
    assert(QueryService.referencedTables(spark,
      "SELECT * FROM a JOIN b ON a.x = b.x") == Seq("a", "b"))
    // CTE names shadow streams: neither auth-checked nor window-injected
    assert(QueryService.referencedTables(spark,
      "WITH logs AS (SELECT 1 AS x) SELECT * FROM logs JOIN other ON 1=1")
      == Seq("other"))
    // …but ONLY inside the scope that binds them: a CTE inside a subquery
    // must not hide an OUTER real reference to the same name (that would
    // bypass the auth check on it)
    assert(QueryService.referencedTables(spark,
      "SELECT * FROM secrets JOIN (WITH secrets AS (SELECT 1 AS x) " +
        "SELECT x FROM secrets) z ON 1=1") == Seq("secrets"))
    // a non-recursive CTE's body reference to its own name is the REAL
    // table (the name is not yet bound)
    assert(QueryService.referencedTables(spark,
      "WITH logs AS (SELECT * FROM logs WHERE x = 1) SELECT * FROM logs")
      == Seq("logs"))
    // recursive CTEs bind their own name inside the body
    assert(QueryService.referencedTables(spark,
      "WITH RECURSIVE r AS (SELECT 1 AS n UNION ALL " +
        "SELECT n + 1 FROM r WHERE n < 3) SELECT * FROM r").isEmpty)
    // later CTEs see earlier ones
    assert(QueryService.referencedTables(spark,
      "WITH a AS (SELECT 1 AS x), b AS (SELECT x FROM a) " +
        "SELECT * FROM b JOIN ext ON 1=1") == Seq("ext"))
  }

  test("query refuses CTE names that shadow registered streams") {
    val dir = Files.createTempDirectory("qscte").toString
    val base = 1700000000000L
    Seq.tabulate(3)(i => (i.toLong, new Timestamp(base + i * 1000L)))
      .toDF("id", "p_timestamp").write.parquet(s"$dir/slogs")
    val streams = Map("slogs" ->
      QueryService.Stream(s"$dir/slogs", "p_timestamp"))
    val range = TimeRange(
      java.time.Instant.ofEpochMilli(base - 1000),
      java.time.Instant.ofEpochMilli(base + 60_000L))
    val e = intercept[IllegalArgumentException] {
      QueryService.query(spark, streams,
        "WITH slogs AS (SELECT 1 AS id) SELECT * FROM slogs", range)
    }
    assert(e.getMessage.contains("shadow"))
    // non-colliding CTEs over a stream work normally
    assert(QueryService.query(spark, streams,
      "WITH recent AS (SELECT id FROM slogs) SELECT * FROM recent", range)
      .count() == 3)
  }

  test("an unresolvable table surfaces the analysis error naming it") {
    val dir = Files.createTempDirectory("qsfb").toString
    val base = 1700000000000L
    Seq.tabulate(3)(i => (i.toLong, new Timestamp(base + i * 1000L)))
      .toDF("id", "p_timestamp").write.parquet(s"$dir/fa")
    val streams = Map("fa" -> QueryService.Stream(s"$dir/fa", "p_timestamp"))
    val range = TimeRange(
      java.time.Instant.ofEpochMilli(base - 1000),
      java.time.Instant.ofEpochMilli(base + 60_000L))
    // zz_missing is not registered anywhere: one analysis, its own error
    for (sql <- Seq("SELECT * FROM fa JOIN zz_missing ON 1=1 " +
                      "WHERE p_timestamp > '2024-01-01'",
                    "SELECT * FROM fa JOIN zz_missing ON 1=1")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        QueryService.query(spark, streams, sql, range)
      }
      assert(e.getCondition == "TABLE_OR_VIEW_NOT_FOUND", e.getMessage)
      assert(e.getMessage.contains("zz_missing"), e.getMessage)
    }
  }

  test("query drops its scoped temp views; stale views cannot be resolved " +
       "by a later query") {
    val dir = Files.createTempDirectory("qsviews").toString
    val base = 1700000000000L
    Seq.tabulate(5)(i => (i.toLong, new Timestamp(base + i * 1000L)))
      .toDF("id", "p_timestamp").write.parquet(s"$dir/vlogs")
    val streams = Map("vlogs" ->
      QueryService.Stream(s"$dir/vlogs", "p_timestamp"))
    val range = TimeRange(
      java.time.Instant.ofEpochMilli(base - 1000),
      java.time.Instant.ofEpochMilli(base + 60_000L))
    val before = spark.catalog.listTables().count()
    val df = QueryService.query(spark, streams,
      "SELECT id FROM vlogs", range, scope = "tenantA")
    assert(df.count() == 5) // executable after its views were dropped
    assert(spark.catalog.listTables().count() == before,
      "query() left temp views behind")
    // a query over a DIFFERENT visibility map must not see the stream,
    // even right after tenantA's query ran (no stale view to resolve)
    val e = intercept[Exception] {
      QueryService.query(spark, Map.empty[String, QueryService.Stream],
        "SELECT id FROM vlogs", range, scope = "tenantB").collect()
    }
    assert(e.getMessage.toLowerCase.contains("table") ||
      e.getMessage.toLowerCase.contains("vlogs"))
  }

  test("stats catalog prunes files before the scan; results stay exact") {
    import graft.catalog.TxnCatalog
    val dir = Files.createTempDirectory("qsprune").toString
    val base = 1700000000000L // fixed epoch for determinism
    // two files in disjoint hour ranges
    Seq.tabulate(2) { i =>
      Seq.tabulate(10)(j =>
        (i * 10 + j.toLong, new Timestamp(base + i * 3600_000L + j * 1000L)))
        .toDF("id", "p_timestamp")
        .coalesce(1).write.mode("append").parquet(s"$dir/logs")
    }
    TxnCatalog.reconcile(spark, s"$dir/logs", s"$dir/cat", Seq("p_timestamp"))
    val streams = Map("logs" -> QueryService.Stream(s"$dir/logs", "p_timestamp",
      catalogPath = Some(s"$dir/cat")))
    // a range covering only the first hour → 10 rows, one file scanned
    val range = TimeRange(
      java.time.Instant.ofEpochMilli(base - 1000),
      java.time.Instant.ofEpochMilli(base + 60_000L))
    val df = QueryService.query(spark, streams, "SELECT id FROM logs", range)
    assert(df.count() == 10)
    assert(df.queryExecution.executedPlan.toString
      .split('\n').count(_.contains("parquet")) >= 1)
    // empty range → no files survive, but the query still answers (0 rows)
    val none = TimeRange(
      java.time.Instant.ofEpochMilli(base + 7200_000L),
      java.time.Instant.ofEpochMilli(base + 7260_000L))
    assert(QueryService.query(spark, streams, "SELECT id FROM logs", none)
      .count() == 0)
  }

  test("a catalog dir with no committed version reads as no catalog: " +
       "query, windowedRead and a plain read agree") {
    val dir = Files.createTempDirectory("qsnover").toString
    val base = 1700000000000L
    Seq.tabulate(10)(j => (j.toLong, new Timestamp(base + j * 1000L)))
      .toDF("id", "p_timestamp")
      .coalesce(1).write.mode("append").parquet(s"$dir/logs")
    // a half-initialized catalog: `_commits/` exists, no version in it
    Files.createDirectories(java.nio.file.Paths.get(dir, "cat", "_commits"))
    val stream = QueryService.Stream(s"$dir/logs", "p_timestamp",
      catalogPath = Some(s"$dir/cat"))
    val range = TimeRange(
      java.time.Instant.ofEpochMilli(base + 2000L),
      java.time.Instant.ofEpochMilli(base + 7000L))
    val plain = spark.read.parquet(s"$dir/logs")
      .filter(col("p_timestamp") >= new Timestamp(base + 2000L) &&
        col("p_timestamp") < new Timestamp(base + 7000L)).count()
    assert(plain == 5)
    assert(QueryService.query(spark, Map("logs" -> stream),
      "SELECT id FROM logs", range).count() == plain)
    assert(QueryService.windowedRead(spark, "logs", stream, range)
      .count() == plain)
  }

  test("window still injected into stream B when only stream A is user-constrained") {
    val dir = Files.createTempDirectory("qs2t").toString
    val base = 1700000000000L
    Seq.tabulate(10)(i => (i.toLong, new Timestamp(base + i * 60_000L)))
      .toDF("id", "p_timestamp").write.parquet(s"$dir/a")
    // B's timestamps run in reverse id order: the injected window
    // [base, base+5min) selects B's ids 5..9
    Seq.tabulate(10)(i => (i.toLong, new Timestamp(base + (9 - i) * 60_000L)))
      .toDF("id", "p_timestamp").write.parquet(s"$dir/b")
    val streams = Map(
      "sa" -> QueryService.Stream(s"$dir/a", "p_timestamp"),
      "sb" -> QueryService.Stream(s"$dir/b", "p_timestamp"))
    val range = TimeRange(
      java.time.Instant.ofEpochMilli(base),
      java.time.Instant.ofEpochMilli(base + 5 * 60_000L))
    // per-relation attribution (reference checks each TableScan's filters):
    // sa keeps the user's own (wider) filter — all 10 ids; sb still gets
    // the injected window — ids 5..9; the join therefore returns 5 rows.
    // The old global check skipped BOTH (10 rows).
    val sql = s"""SELECT sa.id FROM sa JOIN sb ON sa.id = sb.id
                  WHERE sa.p_timestamp >= timestamp'${new Timestamp(base)}'"""
    assert(QueryService.query(spark, streams, sql, range).count() == 5)
    // alias indirection resolves to the base column: a subquery renaming
    // sb's time column still counts as constraining sb (all 10 rows, not
    // the window's 5)
    val aliased = s"""SELECT x.id FROM (SELECT id, p_timestamp AS t FROM sb) x
                      WHERE x.t >= timestamp'${new Timestamp(base)}'"""
    assert(QueryService.query(spark, streams, aliased, range).count() == 10)
  }

  test("a user alias spelled like another stream does not drop that " +
       "stream's window") {
    val dir = Files.createTempDirectory("qsalias").toString
    val base = 1700000000000L
    Seq.tabulate(10)(i => (i.toLong, new Timestamp(base + i * 60_000L)))
      .toDF("id", "p_timestamp").write.parquet(s"$dir/a")
    Seq.tabulate(10)(i => (i.toLong, new Timestamp(base + i * 60_000L)))
      .toDF("id", "p_timestamp").write.parquet(s"$dir/b")
    val streams = Map(
      "sa" -> QueryService.Stream(s"$dir/a", "p_timestamp"),
      "sb" -> QueryService.Stream(s"$dir/b", "p_timestamp"))
    val range = TimeRange(
      java.time.Instant.ofEpochMilli(base),
      java.time.Instant.ofEpochMilli(base + 5 * 60_000L))
    // the user constrains sb (aliased `sa`); stream sa (aliased `x`) is
    // unconstrained and keeps its window: ids 0..4 join sb's 10 → 5 rows.
    // Attribution by alias name would skip sa's window too (10 rows).
    val ts = s"timestamp'${new Timestamp(base)}'"
    for (sql <- Seq(
        s"SELECT x.id FROM sa x JOIN sb AS sa ON x.id = sa.id WHERE sa.p_timestamp >= $ts",
        s"SELECT x.id FROM sa x JOIN sb y ON x.id = y.id WHERE y.p_timestamp >= $ts"))
      assert(QueryService.query(spark, streams, sql, range).count() == 5, sql)
  }

  test("query unions staging rows when the range touches the fresh window") {
    val dir = Files.createTempDirectory("qs").toString
    val now = System.currentTimeMillis()
    val old = new Timestamp(now - 3600 * 1000)
    Seq((1L, old, "persisted")).toDF("id", "p_timestamp", "msg")
      .write.parquet(s"$dir/logs")
    LiveTail.clear("logs")
    LiveTail.publish("logs",
      Seq((2L, new Timestamp(now), "staged")).toDF("id", "p_timestamp", "msg"))

    val streams = Map("logs" -> QueryService.Stream(s"$dir/logs", "p_timestamp"))
    val range = TimeRange(
      java.time.Instant.ofEpochMilli(now - 7200 * 1000),
      java.time.Instant.ofEpochMilli(now + 1000))
    val rows = QueryService
      .query(spark, streams, "SELECT msg FROM logs ORDER BY msg", range)
      .as[String].collect().toSeq
    assert(rows == Seq("persisted", "staged"))

    // historical range: staging data excluded
    val past = TimeRange(
      java.time.Instant.ofEpochMilli(now - 7200 * 1000),
      java.time.Instant.ofEpochMilli(now - 1800 * 1000))
    val rows2 = QueryService
      .query(spark, streams, "SELECT msg FROM logs ORDER BY msg", past)
      .as[String].collect().toSeq
    assert(rows2 == Seq("persisted"))
    LiveTail.clear("logs")
  }

  test("metaRoot wires the persisted union schema into queried views") {
    import graft.catalog.StreamMeta
    import graft.ingest.IngestPipeline.{SchemaRegistry, StreamConfig}
    import graft.streaming.IngestStream
    val root = Files.createTempDirectory("qsmeta").toString
    val cfg = StreamConfig("logs")
    val registry = new SchemaRegistry
    val now = System.currentTimeMillis()
    // batch 1: {id, msg}; batch 2 grows the schema with {level}
    def batch(js: String*) =
      IngestStream.processBatch(spark.createDataset(js)(
        org.apache.spark.sql.Encoders.STRING), cfg, registry, root)
    assert(batch("""{"id": 1, "msg": "a"}""").isRight)
    assert(batch("""{"id": 2, "msg": "b", "level": "warn"}""").isRight)

    val streams = Map("logs" -> QueryService.Stream(
      s"$root/logs", "p_timestamp", metaRoot = Some(root)))
    val range = TimeRange(
      java.time.Instant.ofEpochMilli(now - 1000),
      java.time.Instant.ofEpochMilli(now + 3600 * 1000))
    // without the union schema, `level` may be missing (footer lottery);
    // with metaRoot the old file null-fills it
    val rows = QueryService.query(spark, streams,
      "SELECT id, level FROM logs ORDER BY id", range).collect()
    assert(rows.length == 2)
    assert(rows(0).isNullAt(1) && rows(1).getString(1) == "warn")
    // restart path: a fresh registry gets the same schema via StreamMeta
    assert(StreamMeta.unionSchema(root, "logs").exists(
      _.fieldNames.contains("level")))
    assert(IngestStream.readTable(spark, root, cfg, new SchemaRegistry)
      .columns.contains("level"))
    LiveTail.clear("logs")
  }

  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    df.collect() // execute THIS queryExecution so metrics populate
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    plan.collectLeaves()
      .collect { case s: FileSourceScanExec => s.metrics("numFiles").value }
      .sum
  }

  test("a user time filter prunes catalog files: 1 of 2 files scanned") {
    import graft.catalog.TxnCatalog
    val dir = Files.createTempDirectory("qsuserprune").toString
    val base = 1700000000000L
    // two files in disjoint hour ranges
    Seq.tabulate(2) { i =>
      Seq.tabulate(10)(j =>
        (i * 10 + j.toLong, new Timestamp(base + i * 3600_000L + j * 1000L)))
        .toDF("id", "p_timestamp")
        .coalesce(1).write.mode("append").parquet(s"$dir/logs")
    }
    TxnCatalog.reconcile(spark, s"$dir/logs", s"$dir/cat", Seq("p_timestamp"))
    val streams = Map("logs" -> QueryService.Stream(s"$dir/logs", "p_timestamp",
      catalogPath = Some(s"$dir/cat")))
    val range = TimeRange(
      java.time.Instant.ofEpochMilli(base - 1000),
      java.time.Instant.ofEpochMilli(base + 7200_000L))
    val df = QueryService.query(spark, streams, "SELECT id FROM logs WHERE " +
      s"p_timestamp >= timestamp'${new Timestamp(base + 3600_000L)}'", range)
    assert(scannedFiles(df) == 1)
    assert(df.count() == 10)
  }

  test("analysis over a resident catalog with 40 minute partitions runs " +
       "no Spark job, windowed or user-filtered") {
    import graft.catalog.TxnCatalog
    val dir = Files.createTempDirectory("qsjobs").toString
    val base = 1700000000000L - 1700000000000L % 3600_000L
    // one file in each of 40 minute dirs (the ingest layout)
    Seq.tabulate(40)(i => (i.toLong, new Timestamp(base + i * 60_000L)))
      .toDF("id", "p_timestamp")
      .withColumn("date", date_format(col("p_timestamp"), "yyyy-MM-dd"))
      .withColumn("hour", date_format(col("p_timestamp"), "HH"))
      .withColumn("minute", date_format(col("p_timestamp"), "mm"))
      .write.partitionBy("date", "hour", "minute").parquet(s"$dir/logs")
    TxnCatalog.reconcile(spark, s"$dir/logs", s"$dir/cat", Seq("p_timestamp"))
    assert(TxnCatalog.snapshot(spark, s"$dir/cat")
      .flatMap(TxnCatalog.residentOf).exists(_.size == 40))
    val streams = Map("logs" -> QueryService.Stream(s"$dir/logs", "p_timestamp",
      catalogPath = Some(s"$dir/cat")))
    val range = TimeRange(
      java.time.Instant.ofEpochMilli(base),
      java.time.Instant.ofEpochMilli(base + 10 * 60_000L))
    for ((sql, rows) <- Seq(
        "SELECT id FROM logs" -> 10L,
        ("SELECT id FROM logs WHERE " +
          s"p_timestamp >= timestamp'${new Timestamp(base + 30 * 60_000L)}'") -> 10L)) {
      val (df, jobs) = jobsDuring(QueryService.query(spark, streams, sql, range))
      assert(jobs == 0, s"$sql: analysis ran $jobs Spark jobs")
      assert(df.count() == rows, sql)
    }
  }

  test("metaRoot: a custom partition also declared as a data column reads " +
       "its partition value") {
    import graft.ingest.IngestPipeline.{SchemaRegistry, StreamConfig}
    import graft.streaming.IngestStream
    val root = Files.createTempDirectory("qspart").toString
    val cfg = StreamConfig("plogs", customPartitions = Seq("level"))
    val registry = new SchemaRegistry
    val now = System.currentTimeMillis()
    assert(IngestStream.processBatch(spark.createDataset(Seq(
        """{"id": 1, "level": "info"}""", """{"id": 2, "level": "warn"}"""))(
        org.apache.spark.sql.Encoders.STRING), cfg, registry, root,
      txnCatalog = Some((s"$root/cat", Seq("p_timestamp")))).isRight)
    // the persisted union schema declares `level` as a data column; the
    // files carry it only in their partition directory
    assert(graft.catalog.StreamMeta.unionSchema(root, "plogs")
      .exists(_.fieldNames.contains("level")))
    val streams = Map("plogs" -> QueryService.Stream(s"$root/plogs",
      "p_timestamp", catalogPath = Some(s"$root/cat"), metaRoot = Some(root)))
    val range = TimeRange(
      java.time.Instant.ofEpochMilli(now - 60_000L),
      java.time.Instant.ofEpochMilli(now + 3600 * 1000))
    for (sql <- Seq("SELECT id, level FROM plogs ORDER BY id",
                    "SELECT id, level FROM plogs WHERE p_timestamp > " +
                      "'2000-01-01T00:00:00Z' ORDER BY id")) {
      val rows = QueryService.query(spark, streams, sql, range).collect()
        .map(r => (r.getAs[Number](0).longValue, r.getString(1))).toSeq
      assert(rows == Seq((1L, "info"), (2L, "warn")), sql)
    }
    LiveTail.clear("plogs")
  }
}
