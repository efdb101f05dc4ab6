package graft.query

import java.nio.file.Files
import java.util.Base64

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.catalog.{StatsCatalog, TxnCatalog}
import graft.ingest.KinesisSource

/** Specs for the smaller reference surfaces: Kinesis unwrap (S3),
  * correlation joins (J3), NDJSON/JSON writers (S13/S14), stats-catalog
  * query wiring (A2/F4/O4).
  */
class SurfaceSpec extends SparkSuite {
  import spark.implicits._

  private def b64(s: String) = Base64.getEncoder.encodeToString(s.getBytes)

  test("kinesis: base64 records unwrap, flatten, carry envelope fields") {
    val env =
      s"""{"requestId":"req-1","timestamp":1705026780451,
         |"records":[{"data":"${b64("""{"PRICE":5.36,"meta":{"sym":"DEG"}}""")}"},
         |           {"data":"${b64("""{"PRICE":7.0}""")}"}]}""".stripMargin
    val rows = KinesisSource.unwrap(env).toOption.get
    assert(rows.length == 2)
    assert(rows.head.get("PRICE").asDouble == 5.36)
    assert(rows.head.get("meta.sym").asText == "DEG")
    assert(rows.head.get("requestId").asText == "req-1")
    assert(rows.head.get("timestamp").asText == "1705026780451")
    assert(KinesisSource.unwrap("""{"records":[{"data":"!!!"}]}""").isLeft)
  }

  test("correlation: validation rejects bad configs, executes equi-join") {
    import Correlation._
    val orders = Seq((1L, "o1"), (2L, "o2")).toDF("custkey", "order_name")
    val custs = Seq((1L, "alice"), (3L, "carol")).toDF("custkey", "cust_name")
    val cfg = CorrelationConfig(
      Seq(TableConfig("orders", Seq("order_name")),
        TableConfig("custs", Seq("cust_name"))),
      Seq(JoinCondition("orders", "custkey"), JoinCondition("custs", "custkey")))
    val tables = Map("orders" -> orders, "custs" -> custs)
    val out = Correlation.execute(spark, cfg, tables).toOption.get.collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("order_name") == "o1")
    assert(out(0).getAs[String]("custs.cust_name") == "alice")

    val oneTable = cfg.copy(tableConfigs = cfg.tableConfigs.take(1))
    assert(Correlation.execute(spark, oneTable, tables).isLeft)
    val badField = cfg.copy(tableConfigs =
      Seq(TableConfig("orders", Seq("nope")), TableConfig("custs", Nil)))
    assert(Correlation.execute(spark, badField, tables).isLeft)
  }

  test("response writers: JSON array + NDJSON with null handling") {
    val df = Seq((1L, Some("a")), (2L, None)).toDF("id", "v")
    val json = ResponseWriter.toJsonArray(df.orderBy("id"))
    assert(json == """[{"id":1,"v":"a"},{"id":2,"v":null}]""")
    val noNull = ResponseWriter.toJsonArray(df.orderBy("id"), sendNull = false)
    assert(noNull == """[{"id":1,"v":"a"},{"id":2}]""")
    val sw = new java.io.StringWriter()
    val n = ResponseWriter.writeNdjson(df.orderBy("id"), sw)
    assert(n == 2)
    assert(sw.toString == "{\"id\":1,\"v\":\"a\"}\n{\"id\":2,\"v\":null}\n")
  }

  test("otel logs flow through ingestEvents into a queryable stream") {
    import graft.ingest.{IngestPipeline, OtelFlatten}
    val root = Files.createTempDirectory("otel").toString
    val payload =
      """{"resourceLogs":[{"resource":{"attributes":[
        |{"key":"service.name","value":{"stringValue":"api"}}]},
        |"scopeLogs":[{"logRecords":[
        |{"timeUnixNano":"1700000000000000000","severityNumber":17,
        | "body":{"stringValue":"boom"}},
        |{"timeUnixNano":"1700000001000000000","severityNumber":9,
        | "body":{"stringValue":"ok"}}]}]}]}""".stripMargin
    val events = OtelFlatten.flattenLogs(payload)
    val registry = new IngestPipeline.SchemaRegistry
    val cfg = IngestPipeline.StreamConfig("otel_logs")
    val df = IngestPipeline
      .ingestEvents(spark, registry, cfg, events, format = "otel-logs")
      .toOption.get
    IngestPipeline.append(df, root, cfg)
    val back = spark.read.parquet(s"$root/otel_logs")
    assert(back.count() == 2)
    assert(back.filter(col("p_log_category") === "ERROR").count() == 1)
    assert(back.filter(col("`service.name`") === "api").count() == 2)
  }

  test("stats catalog: prune, count(*) fast path") {
    val root = Files.createTempDirectory("cat").toString
    // three files with disjoint id ranges
    Seq.tabulate(3) { i =>
      spark.range(i * 100, (i + 1) * 100).toDF("id")
        .withColumn("part", lit(i))
        .coalesce(1).write.mode("append").parquet(s"$root/data")
    }
    TxnCatalog.reconcile(spark, s"$root/data", s"$root/cat", Seq("id"))

    // pruning: id > 250 → only the [200,300) file survives
    val files = StatsCatalog.pruneFiles(spark, s"$root/cat",
      Seq(StatsCatalog.Pred("id", StatsCatalog.Gt, "250")))
    assert(files.length == 1)
    assert(spark.read.parquet(files: _*).count() == 100) // file-level may-contain

    // count(*) fast path: the shape detector + the metadata answer
    assert(QueryService.bareCountStar(spark,
      "SELECT COUNT(*) FROM events_t").map(_._1) == Some("events_t"))
    assert(QueryService.bareCountStar(spark,
      "SELECT COUNT(*) FROM events_t WHERE x > 1").isEmpty)
    assert(QueryService.bareCountStar(spark,
      "SELECT x, COUNT(*) FROM events_t GROUP BY x").isEmpty)
    assert(QueryService.bareCountStar(spark,
      "SELECT count(*) FROM events_t") == Some(("events_t", "count(1)")))
    assert(StatsCatalog.countStar(spark, s"$root/cat") == 300L)
  }
}
