package graft.catalog

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSuite

class CompactionSpec extends SparkSuite {
  import spark.implicits._

  test("compaction merges fragmented partitions, preserves rows and order") {
    val root = Files.createTempDirectory("compact").toString
    val base = 1700000000000L
    // 12 tiny appends into one date partition (minute-granular ingest shape)
    (0 until 12).foreach { i =>
      Seq((i.toLong, new Timestamp(base + i * 60000L)))
        .toDF("id", "p_timestamp")
        .withColumn("date", lit("2024-01-01"))
        .coalesce(1).write.mode("append")
        .partitionBy("date").parquet(s"$root/logs")
    }
    val before = spark.read.parquet(s"$root/logs")
    assert(before.count() == 12)

    val res = Compaction.compactStream(spark, root, "logs",
      today = java.time.LocalDate.parse("2024-06-01"))
    assert(res.length == 1)
    val (date, nBefore, nAfter) = res.head
    assert(date == "2024-01-01" && nBefore == 12 && nAfter == 1)

    val after = spark.read.parquet(s"$root/logs")
    assert(after.count() == 12)
    assert(after.select("id").as[Long].collect().toSet == (0L until 12L).toSet)
    // latest-first order inside the compacted file
    val ids = spark.read
      .parquet(s"$root/logs/date=2024-01-01")
      .select("id").as[Long].collect().toSeq
    assert(ids == ids.sortBy(-_))
  }

  test("partitions at or under the file threshold are left alone") {
    val root = Files.createTempDirectory("compact2").toString
    Seq((1L, new Timestamp(0L))).toDF("id", "p_timestamp")
      .withColumn("date", lit("2024-01-01"))
      .coalesce(1).write.partitionBy("date").parquet(s"$root/logs")
    assert(Compaction.compactStream(spark, root, "logs",
      today = java.time.LocalDate.parse("2024-06-01")).isEmpty)
  }

  test("today's open partition is never compacted") {
    val root = Files.createTempDirectory("compact3").toString
    val today = java.time.LocalDate.parse("2024-01-01")
    (0 until 10).foreach { i =>
      Seq((i.toLong, new Timestamp(i.toLong))).toDF("id", "p_timestamp")
        .withColumn("date", lit(today.toString))
        .coalesce(1).write.mode("append").partitionBy("date")
        .parquet(s"$root/logs")
    }
    assert(Compaction.compactStream(spark, root, "logs", today = today).isEmpty)
  }

  test("compaction commits an atomic catalog swap for the partition") {
    val root = Files.createTempDirectory("compact4").toString
    val cat = Files.createTempDirectory("compact4cat").toString
    (0 until 10).foreach { i =>
      Seq((i.toLong, new Timestamp(i.toLong * 1000))).toDF("id", "p_timestamp")
        .withColumn("date", lit("2024-01-01"))
        .coalesce(1).write.mode("append").partitionBy("date")
        .parquet(s"$root/logs")
    }
    TxnCatalog.appendNewFiles(spark, s"$root/logs", cat, Seq("p_timestamp"))
    val v0 = TxnCatalog.latestVersion(cat).get
    val before = TxnCatalog.snapshot(spark, cat).get
    assert(before.count() == 10)
    val totalRows = StatsCatalog.countStar(spark,
      TxnCatalog.snapshot(spark, cat).get)

    val res = Compaction.compactPartition(spark, root, "logs", "2024-01-01",
      txnCatalog = Some((cat, Seq("p_timestamp"))))
    assert(res.exists(_._2 < res.get._1))
    val after = TxnCatalog.snapshot(spark, cat).get
    // no stale paths: every cataloged file still exists on disk
    val paths = after.select("file_path").as[String].collect()
    assert(paths.nonEmpty && paths.forall(p =>
      Files.exists(java.nio.file.Paths.get(new java.net.URI(p)))))
    assert(StatsCatalog.countStar(spark, after) == totalRows)
    // pre-compaction version still readable (snapshot isolation)
    assert(TxnCatalog.snapshot(spark, cat, Some(v0)).get.count() == 10)
  }

  test("z-ordered compaction preserves rows and tightens per-file bounds") {
    val root = Files.createTempDirectory("compactz").toString
    val base = 1700000000000L
    val rnd = new scala.util.Random(3)
    // 12 fragments, each spanning the FULL (x, y) domain — every file's
    // min/max covers everything, so stats pruning is useless pre-compaction
    (0 until 12).foreach { i =>
      (0 until 200).map(j => (rnd.nextInt(1000).toDouble,
          rnd.nextInt(1000).toDouble,
          new Timestamp(base + (i * 200 + j) * 1000L)))
        .toDF("x", "y", "p_timestamp")
        .withColumn("date", lit("2024-01-01"))
        .coalesce(1).write.mode("append").partitionBy("date")
        .parquet(s"$root/logs")
    }
    val res = Compaction.compactPartition(spark, root, "logs", "2024-01-01",
      targetFiles = 8,
      zorder = Some((Seq("x", "y"), 16)))
    assert(res.contains((12, 8)))
    val after = spark.read.parquet(s"$root/logs/date=2024-01-01")
    assert(after.count() == 2400)
    // per-file x and y bounds now cover a fraction of the domain
    val stats = after
      .select(input_file_name().as("f"), col("x"), col("y"))
      .groupBy("f")
      .agg(min("x").as("x0"), max("x").as("x1"),
        min("y").as("y0"), max("y").as("y1"))
      .collect()
    assert(stats.length == 8)
    val avgSpanX = stats.map(r => r.getDouble(2) - r.getDouble(1)).sum / 8
    val avgSpanY = stats.map(r => r.getDouble(4) - r.getDouble(3)).sum / 8
    assert(avgSpanX < 900.0 && avgSpanY < 900.0, s"$avgSpanX / $avgSpanY")
  }

  test("a stream's persisted z-order policy follows through compactStream " +
      "automatically (no per-job bounds)") {
    val root = Files.createTempDirectory("compactzp").toString
    val base = 1700000000000L
    val rnd = new scala.util.Random(5)
    (0 until 10).foreach { i =>
      (0 until 100).map(j => (rnd.nextInt(1000).toLong,
          rnd.nextInt(1000).toLong,
          new Timestamp(base + (i * 100 + j) * 1000L)))
        .toDF("x", "y", "p_timestamp")
        .withColumn("date", lit("2024-01-01"))
        .coalesce(1).write.mode("append").partitionBy("date")
        .parquet(s"$root/logs")
    }
    // the stream carries the policy in its persisted metadata — exactly
    // what an X-P-Z-Order create writes
    StreamMeta.save(root, StreamMeta.fromConfig(
      graft.ingest.IngestPipeline.StreamConfig("logs",
        zOrder = Some(graft.ingest.IngestPipeline.ZOrderPolicy(
          Seq("x", "y"), bits = 8))), None))
    val res = Compaction.compactStream(spark, root, "logs",
      today = java.time.LocalDate.parse("2024-06-01"))
    assert(res == Seq(("2024-01-01", 10, 1)))
    val after = spark.read.parquet(s"$root/logs/date=2024-01-01")
    assert(after.count() == 1000)
    // the compacted file is laid out along the Morton curve, not the
    // reverse-time order the policy-less path writes: recompute the
    // z-value with the same exact-BIGINT scaling and check monotonicity
    val zs = graft.operators.ZOrder
      .withZValue(after, Seq("x", "y"), bits = 8)
      .select("z").collect().map(_.getLong(0)).toSeq
    assert(zs == zs.sorted && zs.distinct.size > 1)
  }
}
