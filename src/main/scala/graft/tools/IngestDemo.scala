package graft.tools

import java.nio.file.Files

import graft.catalog.{StatsCatalog, TxnCatalog}
import graft.engine.GraftSession
import graft.ingest.IngestPipeline
import graft.ingest.IngestPipeline.{SchemaRegistry, StreamConfig}
import graft.query.{QueryService, TimeRange}

/** End-to-end smoke of the ingest path: JSON (nested, mixed types, arrays)
  * → flatten/infer/rename/enrich → minute-partitioned parquet → stats
  * catalog → SQL query with time injection. Prints each stage's observable
  * output; exits nonzero on any failed expectation.
  */
object IngestDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(cores = 4, appName = "graft-ingest-demo")
    val root = Files.createTempDirectory("graft-demo").toString
    val registry = new SchemaRegistry
    val cfg = StreamConfig("applogs")

    val payload =
      """[
        |{"@level":"info","ctx":{"user":{"id":7},"region":"eu"},"msg":"ok","latency_ms":12},
        |{"@level":30,"ctx":{"user":{"id":8},"region":"us"},"msg":"slow","latency_ms":900},
        |{"@level":"warn","batch":[{"code":1},{"code":2}],"msg":"multi"}
        |]""".stripMargin

    val df = IngestPipeline
      .ingest(spark, registry, cfg, payload, userAgent = "demo/1", srcIp = "127.0.0.1")
      .fold(e => sys.error(s"ingest failed: $e"), identity)
    println("=== enriched batch schema ===")
    df.printSchema()
    println("=== rows ===")
    df.show(truncate = false)
    require(df.count() == 4, "expected 4 rows after cartesian explosion")
    require(df.columns.contains("_level") && df.columns.contains("_level_float64"),
      "expected @level normalization + typed-sibling rename")

    IngestPipeline.append(df, root, cfg)
    val catPath = s"$root/_catalog/applogs"
    TxnCatalog.reconcile(spark, s"$root/applogs", catPath, Seq("latency_ms"))
    println(s"count* fast path: ${StatsCatalog.countStar(spark, catPath)}")
    require(StatsCatalog.countStar(spark, catPath) == 4)

    val streams = Map("applogs" ->
      QueryService.Stream(s"$root/applogs", "p_timestamp"))

    // Range bounds truncate to the minute (reference src/utils/time.rs:
    // 203-206), so end="now" excludes rows ingested within the current
    // minute — they'd come from the staging union in a live deployment.
    val stale = QueryService.query(spark, streams,
      "SELECT msg, count(*) AS n FROM applogs GROUP BY msg ORDER BY msg",
      TimeRange.parse("10m", "now"))
    require(stale.count() == 0, "current-minute rows must be invisible at end=now")

    val futureEnd = java.time.Instant.now().plusSeconds(120).toString
    val out = QueryService.query(spark, streams,
      "SELECT msg, count(*) AS n FROM applogs GROUP BY msg ORDER BY msg",
      TimeRange.parse("10m", futureEnd))
    println("=== query with injected time range ===")
    out.show()
    require(out.count() == 3, "expected 3 distinct msgs in window")
    println("INGEST DEMO OK")
    spark.stop()
  }
}
