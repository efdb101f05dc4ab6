package graft.catalog

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.plans.StatsFileIndex
import graft.query.{Counts, QueryService, TimeRange}

/** Driver-resident catalog versions: a version committed in this JVM is
  * resolved, pruned, counted and appended to without Spark metadata jobs,
  * and residency never serves rows of another version.
  */
class ResidentCatalogSpec extends SparkSuite {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("rescat").toString

  /** One parquet file of `n` events at `startMs` + i seconds, in a date
    * partition, as ingest lays them out.
    */
  private def writeEvents(table: String, date: String, startMs: Long,
                          n: Int): Unit =
    (0 until n).map(i => (startMs + i * 1000L, s"user$i"))
      .toDF("ms", "user")
      .select(timestamp_millis(col("ms")).as("p_timestamp"), col("user"))
      .coalesce(1).write.mode("append").parquet(s"$table/date=$date")

  private val T0 = 1704067200000L // 2024-01-01T00:00:00Z

  test("resolve, countStar, bin density and a StatsFileIndex plan over a " +
       "version committed in this JVM launch no Spark job") {
    val table = tmp()
    val cat = tmp()
    writeEvents(table, "2024-01-01", T0, 5)
    TxnCatalog.appendNewFilesWatermarked(spark, table, cat, Seq("p_timestamp"))
    writeEvents(table, "2024-01-01", T0 + 60000L, 3)
    val (_, appendJobs) = jobsDuring(
      TxnCatalog.appendNewFilesWatermarked(spark, table, cat,
        Seq("p_timestamp")))
    // footer stats: the snapshot write is the append's only job
    assert(appendJobs == 1, s"watermarked append ran $appendJobs jobs")

    val endMs = T0 + 3600000L
    val ((total, dense, plan), readJobs) = jobsDuring {
      val resolved = StatsCatalog.resolve(spark, cat)
      val total = StatsCatalog.countStar(spark, resolved)
      val dense = Counts.binDensityFromStats(resolved, "p_timestamp",
        T0, endMs, binMillis = endMs - T0,
        readFiles = _ => fail("no file straddles the single bin"))
      val plan = StatsFileIndex.read(spark, resolved)
        .filter(col("p_timestamp") >= lit(java.sql.Timestamp.from(
          java.time.Instant.ofEpochMilli(T0 + 60000L))))
        .queryExecution.executedPlan
      (total, dense, plan)
    }
    assert(readJobs == 0, s"resident reads ran $readJobs jobs")
    assert(total == 8L)
    assert(dense.contains(Seq(0 -> 8L)))
    assert(plan.toString.contains("FileScan"))

    // the windowed read behind /counts with a condition and /query/context
    // analyzes without a job too
    val stream = QueryService.Stream(table, "p_timestamp",
      catalogPath = Some(cat))
    val range = TimeRange(java.time.Instant.ofEpochMilli(T0),
      java.time.Instant.ofEpochMilli(endMs))
    val (windowed, analyzeJobs) = jobsDuring {
      val df = QueryService.windowedRead(spark, "events", stream, range)
        .filter(col("user") === "user1")
      df.queryExecution.executedPlan
      df
    }
    assert(analyzeJobs == 0, s"windowed read analysis ran $analyzeJobs jobs")
    assert(windowed.count() == 2L)
  }

  test("resident bin density and count equal the Spark plan's, " +
       "straddlers included") {
    val table = tmp()
    val cat = tmp()
    // 40 s spans every 45 s: some files sit inside a minute, some straddle
    (0 until 8).foreach { k =>
      writeEvents(table, "2024-01-01", T0 + k * 45000L, 41)
      TxnCatalog.appendNewFilesWatermarked(spark, table, cat,
        Seq("p_timestamp"))
    }
    val resident = StatsCatalog.resolve(spark, cat)
    assert(TxnCatalog.residentOf(resident).isDefined)
    val viaSpark = resident.filter(lit(true)) // same rows, not resident
    assert(TxnCatalog.residentOf(viaSpark).isEmpty)
    assert(StatsCatalog.countStar(spark, resident) ==
      StatsCatalog.countStar(spark, viaSpark))
    val read = (p: Seq[String]) => spark.read.parquet(p: _*)
    for ((start, end, bin) <- Seq((T0, T0 + 360000L, 60000L),
                                  (T0 + 30000L, T0 + 200000L, 60000L),
                                  (T0 - 3600000L, T0 + 3600000L, 7200000L),
                                  (T0 + 500000L, T0 + 900000L, 60000L))) {
      def density(c: org.apache.spark.sql.DataFrame, budget: Int) =
        Counts.binDensityFromStats(c, "p_timestamp", start, end, bin, read,
          maxStraddlers = budget).map(_.toMap)
      assert(density(resident, 10000) == density(viaSpark, 10000),
        s"window [$start, $end) / $bin")
      assert(density(resident, 0) == density(viaSpark, 0),
        s"window [$start, $end) / $bin, no straddler budget")
    }
  }

  test("driver-read footer schema equals Spark's inferred schema") {
    val table = tmp()
    Seq((1L, "a", Seq(1.5, 2.5), java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "s", "xs", "ts")
      .withColumn("nested", struct(col("id").as("i"), col("s").as("t")))
      .coalesce(1).write.parquet(s"$table/t")
    val file = Files.list(Paths.get(table, "t")).toArray.toSeq
      .map(_.toString).find(_.endsWith(".parquet")).get
    assert(StatsFileIndex.footerSchema(spark, file) ==
      spark.read.parquet(file).schema)
  }

  test("a commit made behind the cache is seen on the next resolve") {
    val root = tmp()
    TxnCatalog.commit(spark, root)(_ =>
      Seq(("f1", 1L)).toDF("file_path", "num_rows"))
    assert(TxnCatalog.residentOf(StatsCatalog.resolve(spark, root)).isDefined)
    // another process commits v1: its snapshot dir and marker appear on disk
    Seq(("f1", 1L), ("f2", 2L)).toDF("file_path", "num_rows")
      .coalesce(1).write.parquet(s"$root/v000001-0ther")
    Files.writeString(Paths.get(root, "_commits", "1.json"),
      """{"version": 1, "dir": "v000001-0ther", "ts": 0}""")
    val seen = StatsCatalog.resolve(spark, root)
    assert(seen.select("file_path").as[String].collect().toSet ==
      Set("f1", "f2"))
    assert(StatsCatalog.countStar(spark, seen) == 3L)
    // loaded once: the next resolve is served from the driver
    assert(TxnCatalog.residentOf(StatsCatalog.resolve(spark, root)).isDefined)
  }

  test("a catalog deleted and rebuilt from v0 never serves the old v0 rows") {
    val root = tmp()
    TxnCatalog.commit(spark, root)(_ =>
      Seq(("old", 1L)).toDF("file_path", "num_rows"))
    assert(StatsCatalog.countStar(spark, root) == 1L)
    // the ingest failure path: drop the whole catalog, rebuild from v0
    Files.walk(Paths.get(root)).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    TxnCatalog.commit(spark, root)(_ =>
      Seq(("new", 5L)).toDF("file_path", "num_rows"))
    assert(StatsCatalog.resolve(spark, root)
      .select("file_path").as[String].collect().toSeq == Seq("new"))
    // and once more, rebuilt by another process: still never the old rows
    Files.walk(Paths.get(root)).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    Seq(("other", 7L)).toDF("file_path", "num_rows")
      .coalesce(1).write.parquet(s"$root/v000000-0ther")
    Files.createDirectories(Paths.get(root, "_commits"))
    Files.writeString(Paths.get(root, "_commits", "0.json"),
      """{"version": 0, "dir": "v000000-0ther", "ts": 0}""")
    assert(StatsCatalog.countStar(spark, root) == 7L)
  }

  test("a pinned old version returns its own rows after newer commits") {
    val root = tmp()
    TxnCatalog.commit(spark, root)(_ =>
      Seq(("f0", 1L)).toDF("file_path", "num_rows"))
    (1 to 3).foreach { i =>
      TxnCatalog.commit(spark, root)(cur =>
        cur.get.unionByName(Seq((s"f$i", 1L)).toDF("file_path", "num_rows")))
    }
    (0 to 3).foreach { v =>
      val pinned = TxnCatalog.snapshot(spark, root, Some(v.toLong)).get
      assert(pinned.select("file_path").as[String].collect().toSeq ==
        (0 to v).map(i => s"f$i"), s"version $v")
    }
    assert(StatsCatalog.countStar(spark, root) == 4L)
  }

  test("a catalog above the residency bound stays distributed") {
    val root = tmp()
    val n = StatsFileIndex.DefaultMaxDriverRows + 1
    TxnCatalog.commit(spark, root)(_ =>
      spark.range(n).select(concat(lit("f"), col("id").cast("string"))
        .as("file_path"), lit(1L).as("num_rows")))
    val big = StatsCatalog.resolve(spark, root)
    assert(TxnCatalog.residentOf(big).isEmpty)
    assert(StatsCatalog.countStar(spark, big) == n)
    // an update of it stays distributed while above the bound, and is held
    // once back within it
    TxnCatalog.commit(spark, root)(cur =>
      cur.get.unionByName(Seq(("g", 1L)).toDF("file_path", "num_rows")))
    val after = StatsCatalog.resolve(spark, root)
    assert(TxnCatalog.residentOf(after).isEmpty)
    assert(StatsCatalog.countStar(spark, after) == n + 1)
    TxnCatalog.commit(spark, root)(cur =>
      cur.get.filter(!col("file_path").isin("f0", "g")))
    val within = StatsCatalog.resolve(spark, root)
    assert(TxnCatalog.residentOf(within).isDefined)
    assert(StatsCatalog.countStar(spark, within) == n - 1)
  }

  test("vacuum evicts the resident snapshots of the versions it deletes") {
    val root = tmp()
    (0 until 3).foreach { i =>
      TxnCatalog.commit(spark, root)(_ =>
        Seq((s"f$i", 1L)).toDF("file_path", "num_rows"))
    }
    // pin (and so load) v0, then vacuum it away
    TxnCatalog.snapshot(spark, root, Some(0L))
    assert(TxnCatalog.residentVersions(root).contains(0L))
    TxnCatalog.vacuum(root, keep = 1)
    assert(TxnCatalog.residentVersions(root) == Seq(2L))
    assert(TxnCatalog.snapshot(spark, root, Some(0L)).isEmpty)
  }
}
