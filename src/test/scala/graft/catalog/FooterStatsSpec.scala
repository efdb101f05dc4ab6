package graft.catalog

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.plans.StatsFileIndex

/** Catalog rows built from parquet footers on the driver equal the rows
  * the Spark stats aggregate computes for the same files, and a version
  * carries the merged data schema of its files.
  */
class FooterStatsSpec extends SparkSuite {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("footstats").toString

  private def parquetFiles(dir: String): Seq[Path] = {
    val w = Files.walk(Paths.get(dir))
    try w.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    finally w.close()
  }

  private def rowGroups(file: Path): Int =
    org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      spark.sessionState.newHadoopConf(),
      new org.apache.hadoop.fs.Path(file.toUri),
      org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
      .getBlocks.size

  /** Stats rows as comparable value lists, ordered by path. */
  private def statRows(df: DataFrame, statCols: Seq[String]): Seq[Seq[Any]] =
    df.select((Seq("file_path") ++
        statCols.flatMap(c => Seq(s"min_$c", s"max_$c")) ++
        Seq("num_rows", "file_size")).map(col): _*)
      .collect().map(_.toSeq).sortBy(_.head.toString).toSeq

  /** Reconcile `table` into a new catalog and check every committed row
    * against the stats aggregate over its file alone. Returns the Spark
    * jobs the commit ran.
    */
  private def commitMatchesAggregate(table: String,
                                     statCols: Seq[String]): Int = {
    val cat = tmp()
    val (_, jobs) = jobsDuring(TxnCatalog.reconcile(spark, table, cat, statCols))
    val committed = statRows(StatsCatalog.resolve(spark, cat), statCols)
    assert(committed.size == parquetFiles(table).size)
    val aggregated = statRows(committed
      .map(r => StatsCatalog.collectFiles(spark, Seq(r.head.toString), statCols))
      .reduce(_ unionByName _), statCols)
    assert(committed == aggregated)
    jobs
  }

  test("footer rows equal the aggregate's: micro fractions, pre-1970, " +
       "nulls, an all-null file, an absent column, many row groups; the " +
       "commit's only job is the snapshot write") {
    val table = tmp()
    // micro fractions, pre-1970 instants and null rows, plus int columns
    Seq[(Option[Long], Option[Long], Option[Int])](
      (Some(1704067200123456L), Some(5L), Some(-3)),
      (Some(-86400000001L), None, Some(7)),
      (None, Some(-9L), None),
      (Some(1L), Some(Long.MaxValue), Some(Int.MinValue)))
      .toDF("us", "n", "i")
      .select(timestamp_micros(col("us")).as("ts"), col("n"), col("i"))
      .coalesce(1).write.parquet(s"$table/date=2024-01-01")
    // all-null file
    Seq[(Option[Long], Option[Long], Option[Int])]((None, None, None),
        (None, None, None))
      .toDF("us", "n", "i")
      .select(timestamp_micros(col("us")).as("ts"), col("n"), col("i"))
      .coalesce(1).write.parquet(s"$table/date=2024-01-02")
    // drift: written before `n` and `i` existed
    Seq(1704153600000000L, 1704153600999999L).toDF("us")
      .select(timestamp_micros(col("us")).as("ts"))
      .coalesce(1).write.parquet(s"$table/date=2024-01-03")
    // many row groups, each with its own column-chunk statistics
    spark.range(0, 60000).select(
        timestamp_micros(col("id") * 1000003L - 30000000000L).as("ts"),
        (col("id") * 7 % 1000).as("n"), col("id").cast("int").as("i"))
      .coalesce(1).write.option("parquet.block.size", "16384")
      .parquet(s"$table/date=2024-01-04")
    val many = parquetFiles(s"$table/date=2024-01-04").map(rowGroups).max
    assert(many >= 10, s"only $many row groups")

    val jobs = commitMatchesAggregate(table, Seq("ts", "n", "i", "absent"))
    assert(jobs == 1, s"commit ran $jobs jobs")
  }

  test("DATE and TIMESTAMP_NTZ stat columns come from the footer") {
    val table = tmp()
    Seq(("1969-12-31", "1969-12-31 23:59:59.999999"),
        ("2024-02-29", "2024-02-29 12:00:00.5"),
        ("0001-01-01", "1970-01-01 00:00:00"))
      .toDF("d", "t")
      .select(to_date(col("d")).as("d"), to_timestamp_ntz(col("t")).as("t"))
      .coalesce(1).write.parquet(s"$table/date=2024-01-01")
    val jobs = commitMatchesAggregate(table, Seq("d", "t"))
    assert(jobs == 1, s"commit ran $jobs jobs")
  }

  test("a legacy INT96 file and a DOUBLE stat column go through the " +
       "aggregate and still match") {
    val table = tmp()
    val key = "spark.sql.parquet.outputTimestampType"
    val pinned = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try Seq(1704067200123456L, -1L).toDF("us")
        .select(timestamp_micros(col("us")).as("ts"), lit(1.5).as("x"))
        .coalesce(1).write.parquet(s"$table/date=2024-01-01")
    finally spark.conf.set(key, pinned)
    // footer-exact for `ts`, but `x` is a DOUBLE z-order dimension
    Seq((1704067260000000L, -0.25), (1704067261000000L, 3.0)).toDF("us", "x")
      .select(timestamp_micros(col("us")).as("ts"), col("x"))
      .coalesce(1).write.parquet(s"$table/date=2024-01-02")
    // footer-exact for `ts` alone
    Seq(1704067320000000L).toDF("us")
      .select(timestamp_micros(col("us")).as("ts"))
      .coalesce(1).write.parquet(s"$table/date=2024-01-03")

    assert(commitMatchesAggregate(table, Seq("ts")) > 1,
      "the INT96 file took the footer path")
    assert(commitMatchesAggregate(table, Seq("ts", "x")) > 1,
      "the DOUBLE column took the footer path")
  }

  test("a version carries the merged data schema of its files, persisted " +
       "beside its snapshot") {
    val table = tmp()
    val cat = tmp()
    Seq((1704067200000L, 1L)).toDF("ms", "a")
      .select(timestamp_millis(col("ms")).as("p_timestamp"), col("a"))
      .coalesce(1).write.parquet(s"$table/date=2024-01-01")
    TxnCatalog.appendNewFilesWatermarked(spark, table, cat, Seq("p_timestamp"))
    Seq((1704067260000L, 2L, "x")).toDF("ms", "a", "b")
      .select(timestamp_millis(col("ms")).as("p_timestamp"), col("a"), col("b"))
      .coalesce(1).write.mode("append").parquet(s"$table/date=2024-01-01")
    TxnCatalog.appendNewFilesWatermarked(spark, table, cat, Seq("p_timestamp"))

    val snap = TxnCatalog.residentOf(StatsCatalog.resolve(spark, cat)).get
    assert(snap.dataSchema(spark).get.fieldNames.toSeq ==
      Seq("p_timestamp", "a", "b"))
    val read = StatsFileIndex.read(spark, StatsCatalog.resolve(spark, cat))
    assert(read.select("a", "b").as[(Long, Option[String])].collect().toSet ==
      Set((1L, None), (2L, Some("x"))))

    // another process loads the version from disk: the schema comes from
    // the persisted file, not from a data file (the first one is gone)
    val copy = tmp()
    val w = Files.walk(Paths.get(cat))
    try w.iterator().asScala.toSeq.foreach { p =>
      val to = Paths.get(copy).resolve(Paths.get(cat).relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to)
    } finally w.close()
    val first = snap.files.head.path
    Files.delete(Paths.get(new java.net.URI(first)))
    val loaded = TxnCatalog.residentOf(StatsCatalog.resolve(spark, copy)).get
    assert(loaded.dir != snap.dir)
    assert(loaded.dataSchema(spark).get.fieldNames.toSeq ==
      Seq("p_timestamp", "a", "b"))

    // a version without the file keeps the first file's schema
    val bare = tmp()
    val w2 = Files.walk(Paths.get(copy))
    try w2.iterator().asScala.toSeq.foreach { p =>
      val to = Paths.get(bare).resolve(Paths.get(copy).relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else if (p.getFileName.toString != "_data_schema.json") Files.copy(p, to)
    } finally w2.close()
    // restore a first file of the old shape
    Seq((1704067200000L, 1L)).toDF("ms", "a")
      .select(timestamp_millis(col("ms")).as("p_timestamp"), col("a"))
      .coalesce(1).write.parquet(s"$table/restored")
    Files.move(parquetFiles(s"$table/restored").head,
      Paths.get(new java.net.URI(first)))
    val legacy = TxnCatalog.residentOf(StatsCatalog.resolve(spark, bare)).get
    assert(legacy.dataSchema(spark).get.fieldNames.toSeq ==
      Seq("p_timestamp", "a"))
  }
}
