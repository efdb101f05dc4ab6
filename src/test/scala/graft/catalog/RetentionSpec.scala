package graft.catalog

import java.time.LocalDate

import org.apache.spark.sql.functions._

import graft.SparkSuite

class RetentionSpec extends SparkSuite {

  test("parse validates the reference's config shape") {
    val ok = Retention.parse(
      """[{"description": "keep a month", "action": "delete",
        |"duration": "30d"}]""".stripMargin.replace("\n", " "))
    assert(ok == Right(Seq(Retention.Task("keep a month", 30))))

    // zero days falls back to 7 (reference warning path)
    assert(Retention.parse("""[{"duration": "0d"}]""")
      == Right(Seq(Retention.Task("", 7))))

    assert(Retention.parse("""[{"duration": "30"}]""")
      .left.exists(_.contains("'d' suffix")))
    assert(Retention.parse("""[{"duration": "40000d"}]""")
      .left.exists(_.contains("36500")))
    assert(Retention.parse("""[{"duration": "xd"}]""").isLeft)
    assert(Retention.parse(
      """[{"duration": "1d"}, {"duration": "2d"}]""")
      .left.exists(_.contains("two tasks")))
    assert(Retention.parse("""[{"duration": "1d", "action": "archive"}]""")
      .left.exists(_.contains("unsupported action")))
    assert(Retention.parse("""{"duration": "1d"}""").isLeft)
    assert(Retention.parse("not json").isLeft)

    // round trip through render
    val tasks = Seq(Retention.Task("d", 14))
    assert(Retention.parse(Retention.render(tasks)) == Right(tasks))
  }

  test("enforce removes expired date partitions and their catalog rows") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ret").toString
    val table = s"$tmp/events"
    // four date partitions: 1, 5, 10, 30 days old
    val today = LocalDate.of(2026, 8, 13)
    val dates = Seq(1, 5, 10, 30).map(today.minusDays(_).toString)
    dates.zipWithIndex.foreach { case (d, i) =>
      Seq((i.toLong, s"row-$d")).toDF("id", "msg")
        .withColumn("date", lit(d))
        .write.partitionBy("date").mode("append").parquet(table)
    }
    // a stats catalog referencing each partition's file
    val catPath = s"$tmp/catalog"
    TxnCatalog.reconcile(spark, table, catPath, Seq("id"))
    def catalogPaths = TxnCatalog.snapshot(spark, catPath).get
      .select("file_path").as[String].collect()
    assert(catalogPaths.length == 4)

    val removed = Retention.enforce(spark, table, days = 7, today,
      catalogPath = Some(catPath))
    assert(removed == dates.filter(d =>
      LocalDate.parse(d).isBefore(today.minusDays(7))).sorted
      .map(d => s"date=$d"))
    assert(removed.size == 2) // the 10- and 30-day-old partitions

    // surviving data is intact and only it remains
    val left = spark.read.parquet(table).select("date").distinct()
      .as[String].collect().toSet
    assert(left == dates.take(2).toSet)
    // catalog rows for removed partitions are gone (metadata-first order)
    val catLeft = catalogPaths
    assert(catLeft.length == 2)
    assert(catLeft.forall(p => !removed.exists(p.contains)))

    // idempotent: nothing left to remove
    assert(Retention.enforce(spark, table, 7, today,
      Some(catPath)).isEmpty)
    // nonexistent table root is a no-op
    assert(Retention.enforce(spark, s"$tmp/nope", 7, today).isEmpty)
  }

  test("enforce on a txn-log catalog commits the row drop as a new " +
       "version (metadata first)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-rett").toString
    val table = s"$tmp/events"
    val today = LocalDate.of(2026, 8, 13)
    val dates = Seq(1, 30).map(today.minusDays(_).toString)
    dates.zipWithIndex.foreach { case (d, i) =>
      Seq((i.toLong, s"row-$d")).toDF("id", "msg")
        .coalesce(1).write.mode("append").parquet(s"$table/date=$d")
    }
    val catPath = s"$tmp/catalog"
    TxnCatalog.appendNewFiles(spark, table, catPath, Seq("id"))
    val v0 = TxnCatalog.latestVersion(catPath).get
    assert(TxnCatalog.snapshot(spark, catPath).get.count() == 2)

    val removed = Retention.enforce(spark, table, days = 7, today,
      catalogPath = Some(catPath))
    assert(removed == Seq(s"date=${dates(1)}"))
    // one new atomic version, holding only the surviving partition's row
    assert(TxnCatalog.latestVersion(catPath).contains(v0 + 1))
    val snap = TxnCatalog.snapshot(spark, catPath).get
      .select("file_path").as[String].collect()
    assert(snap.length == 1 && snap.head.contains(s"date=${dates(0)}"))
    // the old version still reads consistently (snapshot isolation), and
    // the data directory for the doomed partition is gone
    assert(TxnCatalog.snapshot(spark, catPath, Some(v0)).get.count() == 2)
    assert(!java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(table, s"date=${dates(1)}")))
  }
}
