package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.ingest.IngestPipeline.{SchemaRegistry, StreamConfig}

class IngestStreamSpec extends SparkSuite {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("stream").toString

  test("processBatch preserves an HTTP-set z-order policy in stream.json " +
      "when its own config carries none; a config WITH a policy wins") {
    val root = tmp()
    val registry = new SchemaRegistry
    val cfg = StreamConfig("zkeep")
    LiveTail.clear("zkeep")
    // simulate the HTTP update: layout policy persisted out-of-band
    graft.catalog.StreamMeta.save(root, graft.catalog.StreamMeta
      .fromConfig(cfg.copy(zOrder =
        Some(graft.ingest.IngestPipeline.ZOrderPolicy(Seq("x", "y"), 8))),
        None))
    val raw = Seq("""{"x":1,"y":2}""").toDS()
    assert(IngestStream.processBatch(raw, cfg, registry, root).isRight)
    // the per-batch save must NOT clobber the policy it does not own
    assert(graft.catalog.StreamMeta.load(root, "zkeep").flatMap(_.zOrder)
      .contains((Seq("x", "y"), 8)))
    // ...but a job actively laying out with its OWN policy wins
    val cfg2 = cfg.copy(zOrder =
      Some(graft.ingest.IngestPipeline.ZOrderPolicy(Seq("x"), 4)))
    assert(IngestStream.processBatch(
      Seq("""{"x":3,"y":4}""").toDS(), cfg2, registry, root).isRight)
    assert(graft.catalog.StreamMeta.load(root, "zkeep").flatMap(_.zOrder)
      .contains((Seq("x"), 4)))
  }

  test("processBatch preserves HTTP-set custom partitions and the " +
      "time-partition limit its own config does not carry") {
    val root = tmp()
    val registry = new SchemaRegistry
    val cfg = StreamConfig("ckeep")
    LiveTail.clear("ckeep")
    // HTTP update persisted out-of-band: custom partition + limit
    graft.catalog.StreamMeta.save(root, graft.catalog.StreamMeta
      .fromConfig(cfg.copy(customPartitions = Seq("tenant"),
        timePartitionLimitDays = Some(45)), None))
    assert(IngestStream.processBatch(
      Seq("""{"x":1}""").toDS(), cfg, registry, root).isRight)
    val kept = graft.catalog.StreamMeta.load(root, "ckeep").get
    assert(kept.customPartitions == Seq("tenant"))
    assert(kept.timePartitionLimitDays.contains(45))
  }

  test("processBatch skips a record that is not JSON, in both passes") {
    val root = tmp()
    val cfg = StreamConfig("badjson")
    LiveTail.clear("badjson")
    val n = IngestStream.processBatch(
      Seq("""{"x":"kept"}""", "not json").toDS(), cfg, new SchemaRegistry,
      root)
    assert(n == Right(1L))
    val back = spark.read.parquet(s"$root/badjson")
    assert(back.select("x").collect().map(_.getString(0)).toSeq == Seq("kept"))
  }

  test("processBatch: distributed infer + write, minute partitioned") {
    val root = tmp()
    val registry = new SchemaRegistry
    val cfg = StreamConfig("logs")
    LiveTail.clear("logs")
    val raw = Seq(
      """{"level":"info","msg":"a","n":1}""",
      """{"level":"warn","msg":"b","n":2,"extra":true}""",
      """{"nested":{"k":"v"},"msg":"c"}""").toDS().repartition(3)
    val n = IngestStream.processBatch(raw, cfg, registry, root)
    assert(n == Right(3L))
    val back = spark.read.parquet(s"$root/logs")
    assert(back.count() == 3)
    // flatten happened executor-side; schema is cumulative
    val names = back.schema.fieldNames.toSet
    assert(names.contains("nested.k"))
    assert(names.contains("p_timestamp"))
    // hive partition dirs exist
    assert(back.schema.fieldNames.contains("date"))
  }

  test("processBatch returns pass 1's event count: no job re-reads the " +
      "batch to count it") {
    val root = tmp()
    val cfg = StreamConfig("counted")
    LiveTail.clear("counted")
    // an array payload is one record holding two events
    val raw = Seq("""{"x":1}""", """[{"x":2},{"x":3,"y":"z"}]""").toDS()
    val (n, jobs) = jobsDuring(
      IngestStream.processBatch(raw, cfg, new SchemaRegistry, root))
    assert(n == Right(spark.read.parquet(s"$root/counted").count()))
    assert(n == Right(3L))
    // pass 1 (schema + count) and the write: the count is not a third
    assert(jobs == 2, s"processBatch ran $jobs jobs")
  }

  test("a static stream builds rows against its schema and refuses a " +
      "batch with an event that does not fit it") {
    val root = tmp()
    val fixed = StructType(Seq(StructField("level", StringType),
      StructField("code", LongType)))
    val cfg = StreamConfig("fixed", staticSchema = Some(fixed))
    val registry = new SchemaRegistry
    LiveTail.clear("fixed")
    val rogue = IngestStream.processBatch(Seq("""{"level":"info","code":1}""",
      """{"level":"warn","rogue":1}""").toDS(), cfg, registry, root)
    assert(rogue.left.exists(_.contains("field rogue not in static schema")),
      rogue)
    val mistyped = IngestStream.processBatch(
      Seq("""{"level":"info","code":"seven"}""").toDS(), cfg, registry, root)
    assert(mistyped.left.exists(_.contains("does not match")), mistyped)
    assert(!Files.exists(java.nio.file.Paths.get(root, "fixed")),
      "a refused batch wrote files")
    // a fitting batch lands in the declared columns: an integral `code`
    // is not renamed to a typed sibling (inference would call it a double)
    assert(IngestStream.processBatch(Seq("""{"level":"info","code":7}""")
      .toDS(), cfg, registry, root) == Right(1L))
    val back = spark.read.parquet(s"$root/fixed")
    assert(back.schema("code").dataType == LongType)
    assert(!back.columns.exists(_.startsWith("code_")), back.columns.toSeq)
    assert(back.select("level", "code").collect().map(r =>
      (r.getString(0), r.getLong(1))).toSeq == Seq(("info", 7L)))
    assert(registry.get("fixed").contains(fixed))
  }

  test("cross-partition type conflicts land as typed sibling columns") {
    val root = tmp()
    val registry = new SchemaRegistry
    val cfg = StreamConfig("mixed")
    LiveTail.clear("mixed")
    // same field name, different types, in different partitions
    val raw = Seq(
      """{"level":"info"}""",
      """{"level":5}""").toDS().repartition(2)
    assert(IngestStream.processBatch(raw, cfg, registry, root).isRight)
    val back = spark.read.parquet(s"$root/mixed")
    val names = back.schema.fieldNames.toSet
    assert(names.contains("level"))
    assert(names.exists(n => n.startsWith("level_")), s"got $names")
    assert(back.count() == 2)
  }

  test("schema grows monotonically across batches") {
    val root = tmp()
    val registry = new SchemaRegistry
    val cfg = StreamConfig("grow")
    LiveTail.clear("grow")
    IngestStream.processBatch(Seq("""{"a":1}""").toDS(), cfg, registry, root)
    IngestStream.processBatch(Seq("""{"b":"x"}""").toDS(), cfg, registry, root)
    val s = registry.get("grow").get.fieldNames.toSet
    assert(s == Set("a", "b"))
  }

  test("streaming end-to-end via MemoryStream + foreachBatch") {
    val root = tmp()
    val registry = new SchemaRegistry
    val cfg = StreamConfig("live")
    LiveTail.clear("live")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = IngestStream.start(mem.toDS(), cfg, registry, root,
      checkpoint = tmp(), triggerMs = 100L)
    try {
      mem.addData("""{"ev":"one","v":1}""", """{"ev":"two","v":2}""")
      q.processAllAvailable()
      mem.addData("""{"ev":"three","v":3,"tag":"t"}""")
      q.processAllAvailable()
    } finally q.stop()
    // files from batch 1 predate the "tag" column — the registry-schema
    // read sees the union schema deterministically
    val back = IngestStream.readTable(spark, root, cfg, registry)
    assert(back.count() == 3)
    assert(back.schema.fieldNames.contains("tag"))
    assert(back.filter(col("tag") === "t").count() == 1)
    assert(back.filter(col("tag").isNull).count() == 2)
  }

  test("schema survives a restart via persisted stream metadata") {
    val root = tmp()
    val cfg = StreamConfig("durable")
    LiveTail.clear("durable")
    val r1 = new SchemaRegistry
    IngestStream.processBatch(
      Seq("""{"a":1,"b":"x"}""").toDS(), cfg, r1, root)
    // simulate restart: fresh registry, bootstrap from disk
    val r2 = new SchemaRegistry
    assert(r2.get("durable").isEmpty)
    IngestStream.bootstrapRegistry(root, cfg, r2)
    assert(r2.get("durable").get.fieldNames.toSet == Set("a", "b"))
    // next batch merges on top of the recovered schema
    IngestStream.processBatch(Seq("""{"c":true}""").toDS(), cfg, r2, root)
    assert(r2.get("durable").get.fieldNames.toSet == Set("a", "b", "c"))
    val back = IngestStream.readTable(spark, root, cfg, r2)
    assert(back.count() == 2)
  }

  test("LiveTail buffers recent batches and fans out to subscribers") {
    val root = tmp()
    val registry = new SchemaRegistry
    val cfg = StreamConfig("tail")
    LiveTail.clear("tail")
    var pushed = 0
    val unsub = LiveTail.subscribe("tail")(b => pushed += b.rows.length)
    IngestStream.processBatch(Seq("""{"x":1}""").toDS(), cfg, registry, root)
    IngestStream.processBatch(Seq("""{"x":2,"y":"n"}""").toDS(), cfg, registry, root)
    assert(pushed == 2)
    // batches flushed by processBatch are persisted: subscribers saw them,
    // but the staging union must not re-count rows the table scan has
    assert(LiveTail.recentFrame(spark, "tail").isEmpty)
    // a genuinely unflushed batch (persisted=false) does appear
    LiveTail.publish("tail", Seq((3L, "u")).toDF("x", "y"))
    val recent = LiveTail.recentFrame(spark, "tail").get
    assert(recent.count() == 1)
    assert(recent.schema.fieldNames.contains("y"))
    unsub()
    LiveTail.clear("tail")
  }

  test("tailed rows equal the stored rows, p_timestamp included") {
    val root = tmp()
    val cfg = StreamConfig("stamped")
    LiveTail.clear("stamped")
    val tailed = scala.collection.mutable.ArrayBuffer[(String, java.sql.Timestamp)]()
    val unsub = LiveTail.subscribe("stamped") { b =>
      val (m, ts) = (b.schema.fieldIndex("m"), b.schema.fieldIndex("p_timestamp"))
      b.rows.foreach(r => tailed += (r.getString(m) -> r.getTimestamp(ts)))
    }
    try {
      IngestStream.processBatch(
        Seq("""{"m":"one"}""", """{"m":"two"}""").toDS(), cfg,
        new SchemaRegistry, root)
      val stored = spark.read.parquet(s"$root/stamped")
        .select("m", "p_timestamp").collect()
        .map(r => r.getString(0) -> r.getTimestamp(1)).toSet
      assert(tailed.size == 2 && tailed.toSet == stored,
        s"tailed $tailed, stored $stored")
    } finally { unsub(); LiveTail.clear("stamped") }
  }

  test("each micro-batch commits an incremental catalog version") {
    val root = tmp()
    val cat = tmp()
    val registry = new SchemaRegistry
    val cfg = StreamConfig("catted")
    import graft.catalog.TxnCatalog
    IngestStream.processBatch(Seq("""{"x":1}""").toDS(), cfg, registry, root,
      txnCatalog = Some((cat, Seq("p_timestamp"))))
    assert(TxnCatalog.latestVersion(cat).contains(0L))
    val n0 = TxnCatalog.snapshot(spark, cat).get.count()
    IngestStream.processBatch(Seq("""{"x":2}""").toDS(), cfg, registry, root,
      txnCatalog = Some((cat, Seq("p_timestamp"))))
    assert(TxnCatalog.latestVersion(cat).contains(1L))
    val snap = TxnCatalog.snapshot(spark, cat).get
    assert(snap.count() > n0)
    assert(snap.select("file_path").distinct().count() == snap.count())
    LiveTail.clear("catted")
  }

  test("Kafka source: classpath probe gates the format(\"kafka\") branch") {
    // this environment ships Spark without the separate
    // spark-sql-kafka-0-10 connector artifact — the probe must say so and
    // fromKafka must fail fast with the jar requirement, not a
    // ClassNotFoundException from deep inside DataSource resolution
    if (IngestStream.kafkaAvailable) {
      // connector present: the branch must build a streaming Dataset[String]
      val ds = IngestStream.fromKafka(spark, "localhost:9092", "logs",
        startingOffsets = "earliest", maxOffsetsPerTrigger = Some(10000L))
      assert(ds.isStreaming)
      assert(ds.schema.fields.map(_.name).toSeq == Seq("value"))
    } else {
      val e = intercept[IllegalStateException] {
        IngestStream.fromKafka(spark, "localhost:9092", "logs")
      }
      assert(e.getMessage.contains("spark-sql-kafka-0-10"))
    }
  }
}
