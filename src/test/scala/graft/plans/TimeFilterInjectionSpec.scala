package graft.plans

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.SparkSuite

class TimeFilterInjectionSpec extends SparkSuite {
  import spark.implicits._

  private val base = 1700000000000L

  private def mkTable(reversed: Boolean = false): String = {
    val path = Files.createTempDirectory("tfi").toString + "/logs"
    Seq.tabulate(10)(i =>
        (i.toLong, new Timestamp(base + (if (reversed) 9 - i else i) * 60_000L)))
      .toDF("id", "p_timestamp").write.parquet(path)
    path
  }

  /** `df` with the window [base, base + minutes) injected into every
    * parquet relation under one of `paths`.
    */
  private def windowed(df: DataFrame, minutes: Int, paths: String*): DataFrame = {
    def ours(p: LogicalPlan) = p match {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
        h.location.rootPaths.exists(r => paths.exists(r.toString.contains))
      case _ => false
    }
    ColumnBridge.ofAnalyzed(spark, TimeFilterInjection.inject(
        df.queryExecution.analyzed, base, base + minutes * 60_000L) {
      case r if ours(r) => "p_timestamp"
    })
  }

  test("injects the window above stream relations; results bounded") {
    val path = mkTable()
    val df = windowed(spark.read.parquet(path).select("id"), 5, path)
    assert(df.count() == 5) // rows 0..4 inside the window
    // the window must reach the parquet scan as pushed filters
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") &&
      scan.contains("GreaterThanOrEqual(p_timestamp"), scan)
  }

  test("skips when the query already constrains the time column") {
    val path = mkTable()
    // user asks for a LATER slice than the injected window would allow —
    // reference semantics: the user's own filter wins, no injection
    val df = windowed(spark.read.parquet(path)
      .filter(col("p_timestamp") >= new Timestamp(base + 8 * 60_000L)), 1, path)
    assert(df.count() == 2)
  }

  test("exactly one window filter per unconstrained instance") {
    val path = mkTable()
    val one = windowed(spark.read.parquet(path).select("id"), 1, path)
    assert(one.queryExecution.analyzed.collect { case f: Filter => f }.size == 1)
    assert(one.count() == 1)
    // a self-join: two instances, two windows, each over its own instance
    val a = spark.read.parquet(path)
    val b = spark.read.parquet(path)
    val joined = windowed(a.join(b, "id"), 3, path)
    assert(joined.queryExecution.analyzed.collect { case f: Filter => f }.size == 2)
    assert(joined.count() == 3)
  }

  test("per-relation skip: a constrained stream A leaves stream B's injection intact") {
    val pathA = mkTable()
    // B's timestamps run in REVERSE id order so B's window selects ids 5..9
    val pathB = mkTable(reversed = true)
    // user constrains ONLY A (wider than the window: all 10 rows);
    // reference semantics: A keeps the user filter un-narrowed, B still
    // gets its injected window (ids 5..9) → join yields exactly 5 rows.
    //   a global-name skip         → 10 rows (B never windowed)
    //   A wrongly injected as well → 0 rows (A ids 0..4 ∩ B ids 5..9)
    val a = spark.read.parquet(pathA)
      .filter(col("p_timestamp") >= new Timestamp(base))
    val b = spark.read.parquet(pathB)
    assert(windowed(a.join(b, "id"), 5, pathA, pathB).count() == 5)
  }

  test("relations the caller does not recognize are untouched") {
    val path = mkTable()
    val df = windowed(spark.read.parquet(path), 1, "/nowhere")
    assert(df.queryExecution.analyzed.collect { case f: Filter => f }.isEmpty)
    assert(df.count() == 10)
  }
}
