package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Manifest-style per-file statistics catalog: num_rows + per-column min/max,
  * consulted to prune the file list before a scan is planned.
  *
  * Re-expresses the reference's snapshot/manifest catalog (parseable
  * `src/catalog/{snapshot.rs,manifest.rs,column.rs}`): `File { file_path,
  * num_rows, columns: [{name, min, max}] }`, built at conversion time from
  * the parquet footer, pruned with `ManifestExt::can_be_pruned`
  * (`src/query/stream_schema_provider.rs:1032-1137`).
  *
  * Spark-first shape: the catalog is itself a small parquet table (one row
  * per data file), and it has one layout: a [[TxnCatalog]] root, whose
  * latest committed version every reader and writer goes through. A
  * version of at most [[graft.plans.StatsFileIndex.DefaultMaxDriverRows]]
  * rows is held on the driver, so [[resolve]], pruning and [[countStar]]
  * over it run no Spark job; a larger one is read as its parquet snapshot
  * dir and pruned by a distributed filter. Each commit still writes the
  * whole next snapshot. Spark never opens data-file footers that the
  * catalog already excluded — the same file-skip economics as the
  * reference's manifest, Delta's data skipping, or Iceberg manifests.
  *
  * Statistics stand in for the reference's 4-variant TypedStatistics
  * (`column.rs:54-59`): min/max are stored as their string casts, and a
  * file that lacks the column records null stats, which never prune — the
  * reference drops stats to None on a type conflict (`column.rs:78-135`).
  */
object StatsCatalog {

  /** Compute per-file stats for every parquet data file under `tableRoot`.
    * Runs as one distributed Spark job: rows are grouped by their source
    * file (the `_metadata` hidden column — also yields `file_size`, which
    * [[graft.plans.StatsFileIndex]] needs to serve `FileStatus` entries
    * without touching the filesystem), aggregating count + min/max per
    * column.
    */
  def collect(spark: SparkSession, tableRoot: String, statCols: Seq[String]): DataFrame =
    statAgg(spark.read.parquet(tableRoot), statCols)

  /** As [[collect]] over an explicit file list (incremental refresh path —
    * only the named files are scanned). The read schema is the footer of
    * the first path in sorted order, the file Spark's own inference would
    * open, read on the driver instead of by an inference job.
    */
  def collectFiles(spark: SparkSession, paths: Seq[String],
                   statCols: Seq[String]): DataFrame =
    statAgg(spark.read
      .schema(graft.plans.StatsFileIndex.footerSchema(spark, paths.min))
      .parquet(paths: _*), statCols)

  /** Per-file stats aggregation. A stat column ABSENT from the scanned
    * schema (schema drift: files written before the column existed, or by
    * another producer) records null min/max instead of failing the whole
    * collection — readers already treat null-stats rows as "may contain
    * anything" straddlers, and a drifted file must not abort a reconcile
    * that also folds in out-of-band deletions (stale rows would otherwise
    * keep answering metadata queries for deleted files).
    */
  private def statAgg(df: DataFrame, statCols: Seq[String]): DataFrame = {
    val present = df.columns.toSet
    val aggs = statCols.flatMap { c =>
      if (present.contains(c))
        Seq(min(col(c)).cast("string").as(s"min_$c"),
          max(col(c)).cast("string").as(s"max_$c"))
      else
        Seq(min(lit(null).cast("string")).as(s"min_$c"),
          max(lit(null).cast("string")).as(s"max_$c"))
    } ++ Seq(count(lit(1)).as("num_rows"),
      first(col("_metadata.file_size")).as("file_size"))
    df.groupBy(col("_metadata.file_path").as("file_path"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Binary predicate usable for pruning: col op literal. */
  sealed trait Op
  case object Lt extends Op
  case object LtEq extends Op
  case object Gt extends Op
  case object GtEq extends Op
  case object Eq extends Op
  final case class Pred(column: String, op: Op, value: String)

  /** The latest committed [[TxnCatalog]] snapshot at `catalogPath`: a
    * driver-resident `LocalRelation` frame when the version is held, else
    * its parquet dir. A catalog with no committed version is no catalog:
    * an empty frame.
    */
  def resolve(spark: SparkSession, catalogPath: String): DataFrame =
    TxnCatalog.snapshot(spark, catalogPath).getOrElse(spark.emptyDataFrame)

  /** Files that may satisfy all predicates: the min/max overlap test
    * [[graft.plans.StatsFileIndex.mayMatch]] (the reference's
    * `satisfy_constraints`) over the latest snapshot. No catalog → no files.
    */
  def pruneFiles(spark: SparkSession, catalogPath: String, preds: Seq[Pred]): Seq[String] =
    TxnCatalog.snapshot(spark, catalogPath).fold(Seq.empty[String])(pruneFiles(_, preds))

  /** As above over an already-loaded stats frame — e.g. a pinned
    * [[TxnCatalog]] snapshot (snapshot-isolated pruning).
    */
  def pruneFiles(cat: DataFrame, preds: Seq[Pred]): Seq[String] =
    graft.plans.StatsFileIndex.prunedRows(cat, preds).map(_.path)

  /** COUNT(*) fast path: answer a bare unfiltered count from the catalog
    * without touching data files (reference `src/query/mod.rs:427-462` +
    * `handle_count_query`).
    */
  def countStar(spark: SparkSession, catalogPath: String): Long =
    countStar(spark, resolve(spark, catalogPath))

  /** As above over a loaded stats frame (e.g. a pinned TxnCatalog snapshot).
    * A resident snapshot is summed on the driver.
    */
  def countStar(spark: SparkSession, cat: DataFrame): Long =
    TxnCatalog.residentOf(cat) match {
      case Some(s) => s.derived[java.lang.Long]("count-star") {
        cat.select(col("num_rows").cast("long")).collect()
          .iterator.filterNot(_.isNullAt(0)).map(_.getLong(0)).sum
      }
      case None => cat.agg(sum(col("num_rows"))).collect()(0).getLong(0)
    }
}
