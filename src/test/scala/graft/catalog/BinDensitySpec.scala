package graft.catalog

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.query.Counts

/** Manifest-answered histogram density (`Counts.binDensityFromStats` +
  * `TxnCatalog.reconcile`): bin counts come from catalog metadata for
  * bin-contained files and from a scan of ONLY the straddling files; the
  * catalog updates incrementally per append.
  */
class BinDensitySpec extends SparkSuite {
  import spark.implicits._

  private val Min = 60 * 1000L

  /** One parquet file holding rows at the given epoch-millis stamps. */
  private def writeFile(dir: String, stamps: Seq[Long]): Unit =
    stamps.toDF("ms")
      .select(timestamp_millis(col("ms")).as("ts"), col("ms"))
      .coalesce(1).write.mode("append").parquet(dir)

  test("density from stats; only straddlers scanned; incremental refresh") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bd").toString
    val cat = java.nio.file.Files.createTempDirectory("graft-bdcat").toString

    // minute bins over [0, 4min): file A inside bin 0, file B inside
    // bin 1, file C straddles bins 2|3
    writeFile(dir, Seq(5000L, 20000L, 50000L))            // A: 3 rows, bin 0
    writeFile(dir, Seq(Min + 1000, Min + 59000))          // B: 2 rows, bin 1
    writeFile(dir, Seq(2 * Min + 50000, 3 * Min + 5000))  // C: 2 rows, 2|3

    assert(TxnCatalog.reconcile(spark, dir, cat, Seq("ts")) == 0L)
    assert(StatsCatalog.resolve(spark, cat).count() == 3)
    // nothing new: no new version
    assert(TxnCatalog.reconcile(spark, dir, cat, Seq("ts")) == 0L)

    val scannedPaths = mutable.Buffer.empty[String]
    def readRec(paths: Seq[String]): DataFrame = {
      scannedPaths ++= paths
      spark.read.parquet(paths: _*)
    }
    val dense = Counts.binDensityFromStats(
      StatsCatalog.resolve(spark, cat), "ts",
      startMs = 0L, endMs = 4 * Min, binMillis = Min,
      readFiles = readRec)
    assert(dense.isDefined)
    assert(dense.get.toMap == Map(0 -> 3L, 1 -> 2L, 2 -> 1L, 3 -> 1L))
    // exactly ONE file (the straddler) was scanned
    assert(scannedPaths.size == 1, scannedPaths)

    // agrees with the direct scan
    val direct = spark.read.parquet(dir)
      .filter(col("ms") >= 0L && col("ms") < 4 * Min)
      .groupBy(floor(col("ms") / Min).cast("int").as("bin")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(dense.get.toMap == direct)

    // a narrower range turns edge files into straddlers (A's span crosses
    // the range start): still exact
    val partial = Counts.binDensityFromStats(
      StatsCatalog.resolve(spark, cat), "ts",
      startMs = 10000L, endMs = 4 * Min, binMillis = Min,
      readFiles = p => spark.read.parquet(p: _*))
    val directPartial = spark.read.parquet(dir)
      .filter(col("ms") >= 10000L && col("ms") < 4 * Min)
      .groupBy(floor((col("ms") - 10000L) / Min).cast("int").as("bin"))
      .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(partial.get.toMap == directPartial)

    // straddler budget exhausted → None (caller falls back to a scan)
    assert(Counts.binDensityFromStats(
      StatsCatalog.resolve(spark, cat), "ts",
      startMs = 0L, endMs = 4 * Min, binMillis = Min,
      readFiles = p => spark.read.parquet(p: _*),
      maxStraddlers = 0).isEmpty)

    // incremental: append one more file, only it is stat'd
    writeFile(dir, Seq(3 * Min + 30000))
    assert(TxnCatalog.reconcile(spark, dir, cat, Seq("ts")) == 1L)
    assert(StatsCatalog.resolve(spark, cat).count() == 4)
    val after = Counts.binDensityFromStats(
      StatsCatalog.resolve(spark, cat), "ts",
      startMs = 0L, endMs = 4 * Min, binMillis = Min,
      readFiles = p => spark.read.parquet(p: _*))
    assert(after.get.toMap == Map(0 -> 3L, 1 -> 2L, 2 -> 1L, 3 -> 2L))

    // reconcile after out-of-band deletion: dropped files leave the
    // catalog (retention/compaction path), counts follow
    val victim = spark.read.parquet(dir).where(col("ms") === 5000L)
      .select(input_file_name()).head.getString(0)
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      new java.net.URI(victim).getPath))
    assert(TxnCatalog.reconcile(spark, dir, cat, Seq("ts")) == 2L)
    assert(StatsCatalog.resolve(spark, cat).count() == 3)
    val pruned = Counts.binDensityFromStats(
      StatsCatalog.resolve(spark, cat), "ts",
      startMs = 0L, endMs = 4 * Min, binMillis = Min,
      readFiles = p => spark.read.parquet(p: _*))
    assert(pruned.get.toMap == Map(1 -> 2L, 2 -> 1L, 3 -> 2L))
  }

  test("files without time stats are scanned, not dropped") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bd2").toString
    writeFile(dir, Seq(5000L, 30000L))
    val file = spark.read.parquet(dir).select(input_file_name()).head.getString(0)
    // synthetic catalog row with null min/max (e.g. a type-conflicted
    // column whose stats were dropped)
    val cat = Seq((file, 2L, null: String, null: String))
      .toDF("file_path", "num_rows", "min_ts", "max_ts")
    val dense = Counts.binDensityFromStats(cat, "ts",
      startMs = 0L, endMs = 60000L, binMillis = 60000L,
      readFiles = p => spark.read.parquet(p: _*))
    assert(dense.get.toMap == Map(0 -> 2L))
  }
}
