package graft.catalog

import scala.jdk.CollectionConverters._

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
  * per data file), consulted at plan time to produce the pruned file list.
  * A [[TxnCatalog]] version of at most
  * [[graft.plans.StatsFileIndex.DefaultMaxDriverRows]] rows is held on the
  * driver, so [[resolve]], pruning and [[countStar]] over it run no Spark
  * job; a larger one, or a plain parquet-dir catalog, is read as a parquet
  * table (a single-column-predicate scan). Each commit still writes the
  * whole next snapshot. Spark never opens data-file footers that the
  * catalog already excluded — the same file-skip economics as the
  * reference's manifest, Delta's data skipping, or Iceberg manifests.
  *
  * Statistics follow the reference's 4-variant TypedStatistics (Bool, Int64,
  * Float64, Utf8; `column.rs:54-59`): min/max are stored as strings with a
  * type tag; merge across types drops stats to None (`column.rs:78-135`).
  */
object StatsCatalog {

  final case class ColumnStats(name: String, typeTag: String, min: String, max: String)
  final case class FileStats(path: String, numRows: Long, columns: Seq[ColumnStats])

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

  /** Write/refresh the catalog table for a stream. */
  def refresh(spark: SparkSession, tableRoot: String, catalogPath: String,
      statCols: Seq[String]): Unit =
    collect(spark, tableRoot, statCols)
      .coalesce(1)
      .write.mode("overwrite").parquet(catalogPath)

  /** Binary predicate usable for pruning: col op literal. */
  sealed trait Op
  case object Lt extends Op
  case object LtEq extends Op
  case object Gt extends Op
  case object GtEq extends Op
  case object Eq extends Op
  final case class Pred(column: String, op: Op, value: String)

  /** Files that may satisfy all predicates (min/max overlap test — the
    * reference's `satisfy_constraints`). Values compare via the same
    * ordering the stats were written with (string min/max cast — callers
    * pass numeric predicates for numeric columns, which compare correctly
    * because both sides re-cast to double when parseable).
    */
  def pruneFiles(spark: SparkSession, catalogPath: String, preds: Seq[Pred]): Seq[String] =
    pruneFileStats(spark, catalogPath, preds).map(_._1)

  /** As [[pruneFiles]] but keeps each surviving file's row count (for limit
    * truncation).
    */
  /** Load a catalog from either layout: a plain parquet dir, or a
    * [[TxnCatalog]] root (detected by `_commits/`) — in which case the
    * latest committed snapshot is returned: a driver-resident
    * `LocalRelation` frame when the version is held, else its parquet dir.
    */
  def resolve(spark: SparkSession, catalogPath: String): DataFrame =
    if (java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(catalogPath, "_commits")))
      TxnCatalog.snapshot(spark, catalogPath).getOrElse(spark.emptyDataFrame)
    else spark.read.parquet(catalogPath)

  def pruneFileStats(spark: SparkSession, catalogPath: String,
                     preds: Seq[Pred]): Seq[(String, Long)] =
    pruneFileStats(resolve(spark, catalogPath), preds)

  /** As above over an already-loaded stats frame — e.g. a pinned
    * [[TxnCatalog]] snapshot (snapshot-isolated pruning).
    */
  def pruneFileStats(cat: DataFrame,
                     preds: Seq[Pred]): Seq[(String, Long)] = {
    val keep = preds.foldLeft(cat) { (df, p) =>
      val numeric = scala.util.Try(p.value.toDouble).isSuccess
      val minC = if (numeric) col(s"min_${p.column}").cast("double")
                 else col(s"min_${p.column}")
      val maxC = if (numeric) col(s"max_${p.column}").cast("double")
                 else col(s"max_${p.column}")
      val v = if (numeric) lit(p.value.toDouble) else lit(p.value)
      val cond = p.op match {
        case Eq   => minC <= v && v <= maxC
        case Lt   => minC < v
        case LtEq => minC <= v
        case Gt   => maxC > v
        case GtEq => maxC >= v
      }
      // a file with absent stats for the column can never be pruned
      df.filter(minC.isNull || maxC.isNull || cond)
    }
    keep.select("file_path", "num_rows").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
  }

  /** Limit pushdown to the file list: stop adding files once cumulative
    * `num_rows` covers the limit (reference
    * `src/query/stream_schema_provider.rs:581-597`). Only valid for plain
    * (filterless) limits — callers with residual predicates must pass the
    * full list.
    */
  def truncateByLimit(files: Seq[(String, Long)], limit: Long): Seq[String] = {
    var cum = 0L
    val out = Seq.newBuilder[String]
    val it = files.iterator
    while (cum < limit && it.hasNext) {
      val (path, rows) = it.next()
      out += path
      cum += rows
    }
    out.result()
  }

  /** Read a table through the catalog: file-level pruning (and optional
    * limit truncation) happens *before* Spark lists/opens anything — the
    * returned DataFrame scans only surviving files. Residual filtering
    * above the scan remains the caller's responsibility (stats pruning is
    * may-contain, not exact).
    */
  def prunedRead(spark: SparkSession, catalogPath: String,
                 preds: Seq[Pred], limit: Option[Long] = None): DataFrame = {
    val files = pruneFileStats(spark, catalogPath, preds)
    val paths =
      if (preds.isEmpty && limit.isDefined) truncateByLimit(files, limit.get)
      else files.map(_._1)
    if (paths.isEmpty)
      spark.emptyDataFrame
    else
      spark.read.parquet(paths: _*)
  }

  /** Scheme-independent file identity: catalog `file_path`s come from
    * `_metadata.file_path` ("file:///…"), listings from Hadoop Paths
    * ("file:/…") — compare by the bare path.
    */
  private def normPath(s: String): String =
    new org.apache.hadoop.fs.Path(s).toUri.getPath

  /** Incremental reconcile after an append OR a deletion: list the
    * stream's data files, stat only the ones the catalog doesn't know,
    * DROP catalog rows whose files are gone (retention/compaction), and
    * rewrite the (tiny) catalog. This is the reference's manifest update
    * per flush (`src/catalog/mod.rs:108-260`, called from the sync loop
    * after each parquet conversion): the cost is one listing plus a stats
    * job over the NEW files only — the catalog itself stays a small
    * metadata table however large the data grows.
    *
    * Returns the number of files added.
    */
  def addNewFiles(spark: SparkSession, tableRoot: String, catalogPath: String,
                  statCols: Seq[String]): Int = {
    val rootPath = new org.apache.hadoop.fs.Path(tableRoot)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(rootPath)) return 0
    val listing = Seq.newBuilder[String]
    val it = fs.listFiles(rootPath, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (name.endsWith(".parquet") && !name.startsWith("_") &&
          !name.startsWith("."))
        listing += f.getPath.toString
    }
    val all = listing.result()
    val onDisk = all.map(normPath).toSet
    val existing: Seq[org.apache.spark.sql.Row] =
      if (new java.io.File(catalogPath).isDirectory)
        // an empty/not-yet-written catalog dir reads as no catalog
        try resolve(spark, catalogPath).collect().toSeq
        catch { case _: org.apache.spark.sql.AnalysisException => Seq.empty }
      else Seq.empty
    val kept = existing.filter(r =>
      onDisk.contains(normPath(r.getAs[String]("file_path"))))
    val known = kept.map(r => normPath(r.getAs[String]("file_path"))).toSet
    val fresh = all.filterNot(p => known.contains(normPath(p)))
    if (fresh.isEmpty && kept.size == existing.size) return 0
    if (fresh.isEmpty) {
      // deletions only: rewrite the survivors (schema from existing rows)
      val schema = resolve(spark, catalogPath).schema
      spark.createDataFrame(kept.asJava, schema)
        .coalesce(1).write.mode("overwrite").parquet(catalogPath)
      return 0
    }
    val added = collectFiles(spark, fresh, statCols)
    val merged =
      if (kept.isEmpty) added
      else added.unionByName(
        spark.createDataFrame(kept.asJava, added.schema))
    // the catalog is driver-bounded metadata; collect() breaks the
    // read-then-overwrite-same-path hazard
    val rows = merged.collect().toSeq
    spark.createDataFrame(rows.asJava, added.schema)
      .coalesce(1).write.mode("overwrite").parquet(catalogPath)
    fresh.size
  }

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
