package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.catalog.StatsCatalog

class IngestPipelineSpec extends SparkSuite {
  import IngestPipeline._

  test("end-to-end ingest: nested JSON to enriched minute-partitioned parquet") {
    val registry = new SchemaRegistry
    val cfg = StreamConfig("app")
    val json =
      """[{"level":"info","ctx":{"user":{"id":7},"region":"eu"},"msg":"ok"},
        |{"level":30,"ctx":{"user":{"id":8},"region":"us"},"msg":"hot"}]"""
        .stripMargin
    val Right(df) = ingest(spark, registry, cfg, json, userAgent = "t", srcIp = "::1")
    val rows = df.collect()
    assert(rows.length == 2)
    val schema = df.schema
    assert(schema.fieldNames.contains("ctx.user.id"))
    assert(schema.fieldNames.contains("p_timestamp"))
    // first event committed level:string; second conflicts -> level_float64
    assert(schema.fieldNames.contains("level") && schema.fieldNames.contains("level_float64"))

    val root = Files.createTempDirectory("graft-ingest").toString
    append(df, root, cfg)
    val back = spark.read.parquet(s"$root/app")
    assert(back.count() == 2)
    assert(back.schema.fieldNames.toSet.contains("date")) // hive partition cols
  }

  test("schema registry only grows; conflicting batch renames") {
    val registry = new SchemaRegistry
    val cfg = StreamConfig("s2")
    val Right(_) = ingest(spark, registry, cfg, """{"level":"info"}""")
    val Right(_) = ingest(spark, registry, cfg, """{"level":42}""")
    val merged = registry.get("s2").get
    assert(merged("level").dataType == StringType)
    assert(merged("level_float64").dataType == DoubleType)
  }

  test("cartesian explosion produces one row per array element") {
    val registry = new SchemaRegistry
    val Right(df) = ingest(spark, registry, StreamConfig("s3"),
      """{"batch":[{"b":1},{"b":2},{"b":3}],"host":"h1"}""")
    assert(df.count() == 3)
    assert(df.select("host").distinct().collect().map(_.getString(0)).toSeq == Seq("h1"))
  }

  test("stats catalog: collect, prune, count-star fast path") {
    val registry = new SchemaRegistry
    val cfg = StreamConfig("s4")
    val root = Files.createTempDirectory("graft-cat").toString
    // two appends with disjoint value ranges -> two file sets
    val Right(d1) = ingest(spark, registry, cfg, """[{"v":1},{"v":2}]""")
    append(d1, root, cfg)
    val Right(d2) = ingest(spark, registry, cfg, """[{"v":100},{"v":200}]""")
    append(d2, root, cfg)

    val catPath = s"$root/_catalog/s4"
    graft.catalog.TxnCatalog.reconcile(spark, s"$root/s4", catPath, Seq("v"))
    assert(StatsCatalog.countStar(spark, catPath) == 4)

    val all = StatsCatalog.pruneFiles(spark, catPath, Nil)
    val pruned = StatsCatalog.pruneFiles(spark, catPath,
      Seq(StatsCatalog.Pred("v", StatsCatalog.Gt, "50")))
    assert(pruned.nonEmpty && pruned.size < all.size)
    // pruned list is still correct as a scan input
    val cnt = spark.read.parquet(pruned: _*)
      .filter(org.apache.spark.sql.functions.col("v") > 50).count()
    assert(cnt == 2)
  }
}
