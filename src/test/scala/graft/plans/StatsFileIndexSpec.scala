package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.catalog.{StatsCatalog, TxnCatalog}

class StatsFileIndexSpec extends SparkSuite {
  import spark.implicits._

  /** A stats catalog over `table`, built as one [[TxnCatalog]] version;
    * returns its latest snapshot.
    */
  private def catalogOf(table: String, cat: String,
                        statCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    TxnCatalog.reconcile(spark, table, cat, statCols)
    StatsCatalog.resolve(spark, cat)
  }

  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect() // execute THIS queryExecution so metrics populate
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    plan.collectLeaves()
      .collectFirst { case s: FileSourceScanExec => s.metrics("numFiles").value }
      .getOrElse(-1L)
  }

  test("pushed filters prune files from the scan via catalog min/max") {
    val dir = Files.createTempDirectory("sfi").toString
    // three files with disjoint id ranges
    Seq(0L until 10L, 100L until 110L, 200L until 210L).foreach { r =>
      r.toDF("id").withColumn("v", col("id") * 2)
        .coalesce(1).write.mode("append").parquet(s"$dir/t")
    }
    val cat = catalogOf(s"$dir/t", s"$dir/cat", Seq("id"))
    assert(cat.columns.contains("file_size"))

    val table = StatsFileIndex.read(spark, cat)
    // unfiltered: all three files, all rows
    assert(table.count() == 30)

    val filtered = table.filter(col("id") >= 150)
    assert(filtered.count() == 10)
    assert(scannedFiles(filtered) == 1) // only the 200-209 file opened

    val mid = table.filter(col("id") >= 5 && col("id") < 105)
    assert(mid.count() == 10) // 5..9 + 100..104 (residual filter exact)
    assert(scannedFiles(mid) == 2)

    val none = table.filter(col("id") > 1000)
    assert(none.count() == 0)
    assert(scannedFiles(none) == 0)
  }

  test("timestamp predicates prune correctly (literal format matches stats)") {
    val dir = Files.createTempDirectory("sfits").toString
    val base = 1700000000000L
    Seq(0, 1).foreach { i =>
      Seq.tabulate(5)(j => (i * 5 + j.toLong,
          new java.sql.Timestamp(base + i * 3600_000L + j * 1000L)))
        .toDF("id", "ts")
        .coalesce(1).write.mode("append").parquet(s"$dir/t")
    }
    val table = StatsFileIndex.read(spark,
      catalogOf(s"$dir/t", s"$dir/cat", Seq("ts")))
    val firstHour = table.filter(
      col("ts") < new java.sql.Timestamp(base + 1800_000L))
    assert(firstHour.count() == 5)
    assert(scannedFiles(firstHour) == 1)
  }

  test("unknown predicate shapes scan everything (conservative)") {
    assert(StatsFileIndex.toPred(
      ColumnBridgeHelper.expr(col("id") % 2 === 0)).isEmpty)
  }

  test("string stats compare lexicographically, numeric numerically") {
    val f = StatsFileIndex.FileRow("f", 1L,
      Map("s" -> (("apple", "mango")), "n" -> (("9", "40"))))
    assert(StatsFileIndex.mayMatch(f,
      Seq(StatsCatalog.Pred("s", StatsCatalog.GtEq, "kiwi"))))
    assert(!StatsFileIndex.mayMatch(f,
      Seq(StatsCatalog.Pred("s", StatsCatalog.Gt, "zebra"))))
    // numeric: 9 <= 15 <= 40 must match (lexicographic "15" < "9" would
    // wrongly prune)
    assert(StatsFileIndex.mayMatch(f,
      Seq(StatsCatalog.Pred("n", StatsCatalog.GtEq, "15"))))
  }

  test("oversize catalog stays distributed: only window-overlapping rows fetched") {
    val dir = Files.createTempDirectory("sfibig").toString
    Seq(0L until 10L, 100L until 110L, 200L until 210L).foreach { r =>
      r.toDF("id").coalesce(1).write.mode("append").parquet(s"$dir/t")
    }
    // a frame of the committed snapshot dir that is NOT the resident
    // version: the distributed class
    val resident = catalogOf(s"$dir/t", s"$dir/cat", Seq("id"))
    val cat = spark.read.parquet(TxnCatalog.residentOf(resident).get.dir)
    assert(TxnCatalog.residentOf(cat).isEmpty)

    // distributed pruning path: the SAME mayMatch semantics, executor-side;
    // only rows overlapping the predicate window come back to the driver
    val preds = Seq(StatsCatalog.Pred("id", StatsCatalog.GtEq, "150"))
    val fetched = StatsFileIndex.prunedRows(cat, preds)
    assert(fetched.length == 1)
    assert(fetched.head.minMax("id")._1.toDouble >= 150)

    // an index over the non-resident frame plans and executes
    // identically to the driver-resident path
    val index = new StatsFileIndex(spark, cat)
    assert(index.sizeInBytes > 0)
    assert(index.rootPaths.nonEmpty)
    assert(index.inputFiles.length == 3)
    // analyzed-shape filter, as FileSourceScanExec hands to listFiles
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GreaterThanOrEqual, Literal => CLit}
    val geq = GreaterThanOrEqual(
      AttributeReference("id", org.apache.spark.sql.types.LongType)(),
      CLit(150L))
    assert(StatsFileIndex.toPred(geq).nonEmpty)
    val listed = index.listFiles(Nil, Seq(geq))
    assert(listed.map(_.files.length).sum == 1)
    // no predicate -> every file listed, still without a full-catalog cache
    assert(index.listFiles(Nil, Nil).map(_.files.length).sum == 3)
  }

  test("bucketed StatsFileIndex reads join with zero Exchange") {
    import graft.engine.Distribution
    val facts = (0L until 1000L).map(i => (i % 50, i, i * 2.0)).toDF("k", "id", "v")
    val dims = (0L until 50L).map(i => (i, s"n$i")).toDF("k", "name")
    Distribution.writeBucketed(facts, "sfi_facts", "k", 8)
    Distribution.writeBucketed(dims, "sfi_dims", "k", 8)
    try {
      def catFor(table: String, statCols: Seq[String]) = {
        val dataDir = new java.io.File(new java.net.URI(
          spark.table(table).inputFiles.head)).getParent
        val catDir = Files.createTempDirectory(s"cat_$table").toString
        catalogOf(dataDir, catDir, statCols)
      }
      // path-based reads (no metastore lookup), declared bucketed
      val f = StatsFileIndex.read(spark, catFor("sfi_facts", Seq("id")),
        bucketBy = Some((8, Seq("k"))))
      val d = StatsFileIndex.read(spark, catFor("sfi_dims", Seq("k")),
        bucketBy = Some((8, Seq("k"))))
      val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold")
        .map(k => k -> spark.conf.getOption(k))
      saved.foreach { case (k, _) => spark.conf.set(k, "-1") }
      try {
        val joined = f.join(d, "k")
        assert(Distribution.isShuffleFree(joined),
          joined.queryExecution.executedPlan.toString)
        assert(joined.count() == 1000L)

        val agg = f.groupBy(col("k")).agg(sum(col("v")).as("sv"))
        assert(Distribution.isShuffleFree(agg),
          agg.queryExecution.executedPlan.toString)
        assert(agg.count() == 50L)

        // stats pruning still composes with the bucketed scan
        val filtered = f.filter(col("id") >= 0)
        assert(filtered.count() == 1000L)
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS sfi_facts")
      spark.sql("DROP TABLE IF EXISTS sfi_dims")
    }
  }

  test("bucketBy declaration is validated against cataloged file names") {
    import graft.engine.Distribution
    // 1) files not written by the bucketed writer (no _NNNNN suffix) → reject
    val dir = Files.createTempDirectory("sfival").toString
    (0L until 10L).toDF("id").coalesce(1).write.parquet(s"$dir/t")
    val plainCat = catalogOf(s"$dir/t", s"$dir/cat", Seq("id"))
    val e1 = intercept[IllegalArgumentException] {
      StatsFileIndex.read(spark, plainCat, bucketBy = Some((8, Seq("id"))))
    }
    assert(e1.getMessage.contains("bucket"))

    // 2) written with 8 buckets but declared 4 → some file id >= 4 → reject
    val facts = (0L until 1000L).map(i => (i % 50, i)).toDF("k", "id")
    Distribution.writeBucketed(facts, "sfi_val", "k", 8)
    try {
      val dataDir = new java.io.File(new java.net.URI(
        spark.table("sfi_val").inputFiles.head)).getParent
      val catDir = Files.createTempDirectory("cat_sfi_val").toString
      val cat = catalogOf(dataDir, catDir, Seq("k"))
      val e2 = intercept[IllegalArgumentException] {
        StatsFileIndex.read(spark, cat, bucketBy = Some((4, Seq("k"))))
      }
      assert(e2.getMessage.contains("numBuckets"))
      // correct declaration still builds
      val ok = StatsFileIndex.read(spark, cat, bucketBy = Some((8, Seq("k"))))
      assert(ok.count() == 1000L)
    } finally spark.sql("DROP TABLE IF EXISTS sfi_val")
  }
}

private object ColumnBridgeHelper {
  def expr(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.graft.ColumnBridge.expression(c)
}
