package graft.catalog

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.ingest.IngestPipeline.StreamConfig

class StreamMetaSpec extends SparkSuite {
  import spark.implicits._

  test("stream.json round-trips config, retention, and schema") {
    val root = Files.createTempDirectory("meta").toString
    val schema = StructType(Seq(
      StructField("msg", StringType), StructField("n", LongType)))
    val meta = StreamMeta.fromConfig(
      StreamConfig("logs", timePartition = Some("ts"),
        customPartitions = Seq("tenant"), staticSchema = Some(schema),
        zOrder = Some(graft.ingest.IngestPipeline.ZOrderPolicy(
          Seq("x", "y"), bits = 8))),
      Some(schema), Some(StreamMeta.Retention("delete", 30)))
    StreamMeta.save(root, meta)
    val back = StreamMeta.load(root, "logs").get
    assert(back == meta)
    assert(back.zOrder.contains((Seq("x", "y"), 8)))
    // a static stream rehydrates its stored schema as the static schema
    assert(back.staticSchemaFlag)
    assert(StreamMeta.toConfig(back).staticSchema.contains(schema))
    assert(StreamMeta.load(root, "absent").isEmpty)
  }

  test("time-partition limit round-trips and rehydrates into a config") {
    val root = Files.createTempDirectory("metalim").toString
    val cfg = StreamConfig("logs", timePartition = Some("ts"),
      customPartitions = Seq("tenant"), timePartitionLimitDays = Some(90),
      zOrder = Some(graft.ingest.IngestPipeline.ZOrderPolicy(Seq("x"), 8)))
    StreamMeta.save(root, StreamMeta.fromConfig(cfg, None))
    val back = StreamMeta.load(root, "logs").get
    assert(back.timePartitionLimitDays.contains(90))
    // the restart path: GET .../info rehydrates the persisted facets
    val re = StreamMeta.toConfig(back)
    assert(re.timePartitionLimitDays.contains(90))
    assert(re.customPartitions == Seq("tenant"))
    assert(re.timePartition.contains("ts"))
    assert(re.zOrder.map(p => (p.dims, p.bits)).contains((Seq("x"), 8)))
  }

  test("mergeSave keeps every HTTP-writable facet the caller's meta " +
      "does not carry; a facet the caller HAS wins") {
    val root = Files.createTempDirectory("metamerge").toString
    // persisted state: the HTTP lifecycle set all five facets
    StreamMeta.save(root, StreamMeta.fromConfig(
      StreamConfig("logs", customPartitions = Seq("tenant"),
        staticSchema = Some(StructType(Seq(StructField("msg", StringType)))),
        timePartitionLimitDays = Some(30),
        zOrder = Some(graft.ingest.IngestPipeline.ZOrderPolicy(Seq("x"), 8))),
      None, Some(StreamMeta.Retention("delete", 7))))
    // a per-batch save from a job whose captured config knows none of them
    StreamMeta.mergeSave(root, StreamMeta.fromConfig(StreamConfig("logs"),
      Some(StructType(Seq(StructField("msg", StringType))))))
    val kept = StreamMeta.load(root, "logs").get
    assert(kept.customPartitions == Seq("tenant"))
    assert(kept.timePartitionLimitDays.contains(30))
    assert(kept.zOrder.contains((Seq("x"), 8)))
    assert(kept.retention.contains(StreamMeta.Retention("delete", 7)))
    assert(kept.staticSchemaFlag)
    assert(kept.schema.isDefined) // the save's own payload still lands
    // ...but a caller that carries a facet overwrites truthfully
    StreamMeta.mergeSave(root, StreamMeta.fromConfig(
      StreamConfig("logs", customPartitions = Seq("region"),
        timePartitionLimitDays = Some(60)), None))
    val won = StreamMeta.load(root, "logs").get
    assert(won.customPartitions == Seq("region"))
    assert(won.timePartitionLimitDays.contains(60))
    assert(won.zOrder.contains((Seq("x"), 8))) // still absent → still kept
  }

  test("a load racing saves returns one whole meta, never a torn file") {
    val root = Files.createTempDirectory("metarace").toString
    val schema = StructType(Seq(StructField("msg", StringType)))
    val a = StreamMeta.fromConfig(StreamConfig("logs"), Some(schema))
    val b = StreamMeta.fromConfig(
      StreamConfig("logs", customPartitions = Seq("tenant"),
        timePartitionLimitDays = Some(30)), Some(schema),
      Some(StreamMeta.Retention("delete", 7)))
    StreamMeta.save(root, a)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val loads = new java.util.concurrent.atomic.AtomicInteger(0)
    val bad = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var firstBad = ""
    def saw(what: String): Unit = {
      if (bad.getAndIncrement() == 0) firstBad = what
    }
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          val m = StreamMeta.load(root, "logs")
          if (m.contains(a) || m.contains(b)) loads.incrementAndGet()
          else saw(String.valueOf(m))
        } catch { case t: Throwable => saw(t.toString) }
      }
    })
    reader.start()
    try (0 until 300).foreach(i => StreamMeta.save(root, if (i % 2 == 0) b else a))
    finally { stop.set(true); reader.join(30000) }
    assert(bad.get() == 0, s"bad loads, the first: $firstBad")
    assert(loads.get() > 0)
    assert(StreamMeta.load(root, "logs").contains(a))
  }

  test("metadata dir is invisible to parquet partition discovery") {
    val root = Files.createTempDirectory("meta2").toString
    Seq((1L, "2024-01-01"), (2L, "2024-01-02")).toDF("id", "date")
      .write.partitionBy("date").parquet(s"$root/logs")
    StreamMeta.save(root, StreamMeta.fromConfig(StreamConfig("logs"), None))
    assert(spark.read.parquet(s"$root/logs").count() == 2)
  }

  test("retention deletes only date partitions past the horizon") {
    val root = Files.createTempDirectory("ret").toString
    val cat = Files.createTempDirectory("retcat").toString
    val today = java.time.LocalDate.parse("2024-06-15")
    Seq(
      (1L, "2024-06-01"), // 14 days old — delete at days=7
      (2L, "2024-06-12"), // 3 days old — keep
      (3L, "2024-06-14")).toDF("id", "date")
      .write.partitionBy("date").parquet(s"$root/logs")
    TxnCatalog.reconcile(spark, s"$root/logs", cat, Seq("id"))
    val deleted = Retention.enforce(spark, s"$root/logs", days = 7, today,
      catalogPath = Some(cat))
    assert(deleted == Seq("date=2024-06-01"))
    val back = spark.read.parquet(s"$root/logs")
    assert(back.select("id").as[Long].collect().toSet == Set(2L, 3L))
    // idempotent, and a missing table root is a no-op
    assert(Retention.enforce(spark, s"$root/logs", days = 7, today,
      catalogPath = Some(cat)).isEmpty)
    assert(Retention.enforce(spark, s"$root/nope", days = 7, today,
      catalogPath = Some(cat)).isEmpty)
    assert(StatsCatalog.countStar(spark, cat) == 2L)
  }

  test("retention drops deleted partitions' catalog rows atomically") {
    val root = Files.createTempDirectory("retcat").toString
    val cat = Files.createTempDirectory("retcat2").toString
    val today = java.time.LocalDate.parse("2024-06-15")
    Seq((1L, "2024-06-01"), (2L, "2024-06-14")).toDF("id", "date")
      .write.partitionBy("date").parquet(s"$root/logs")
    TxnCatalog.reconcile(spark, s"$root/logs", cat, Seq("id"))
    val v0 = TxnCatalog.latestVersion(cat).get

    val deleted = Retention.enforce(spark, s"$root/logs", days = 7, today,
      catalogPath = Some(cat))
    assert(deleted == Seq("date=2024-06-01"))
    val paths = TxnCatalog.snapshot(spark, cat).get
      .select("file_path").as[String].collect()
    assert(paths.nonEmpty && paths.forall(!_.contains("date=2024-06-01")))
    // pinned pre-retention version still lists both partitions
    assert(TxnCatalog.snapshot(spark, cat, Some(v0)).get.count() == 2)
  }
}
