package graft.catalog

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  * A new file's row is built as the reference builds its manifest entry:
  * from the file's footer, on the driver ([[readFooter]]) — row-group
  * counts, the file length, and the column-chunk min/max of integer, DATE
  * and TIMESTAMP stat columns. Only a file the footer cannot answer
  * exactly (an INT96 or legacy-calendar timestamp, a floating-point or
  * string stat column, a row group without statistics) goes through the
  * Spark aggregate [[collectFiles]].
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

  /** As [[collect]] over an explicit file list: the fallback for files
    * whose footer cannot give exact stats ([[readFooter]]). The read schema
    * is the footer of the first path in sorted order, the file Spark's own
    * inference would open, read on the driver instead of by an inference
    * job.
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

  /** Schema of a stats row over `statCols`, in [[statAgg]]'s column order. */
  def statsSchema(statCols: Seq[String]): StructType =
    StructType(StructField("file_path", StringType) +:
      statCols.flatMap(c => Seq(StructField(s"min_$c", StringType),
        StructField(s"max_$c", StringType))) :+
      StructField("num_rows", LongType) :+ StructField("file_size", LongType))

  /** One data file's footer, read on the driver: its data schema and, when
    * the footer answers every stat column exactly, its stats row — the row
    * [[collectFiles]] would compute for the file.
    */
  final case class Footer(path: String, schema: StructType, stats: Option[Row])

  /** Read `path`'s footer once: `num_rows` from the row-group counts,
    * `file_size` from the file status, and per stat column the min/max of
    * its column-chunk statistics, rendered through Spark's `Cast` in the
    * session time zone exactly as [[statAgg]]'s `min(c).cast("string")`
    * renders them. A stat column absent from the file records null stats,
    * as in [[statAgg]]; a column the footer cannot answer exactly leaves
    * `stats` empty.
    */
  def readFooter(spark: SparkSession, path: String,
                 statCols: Seq[String]): Footer = {
    val conf = spark.sessionState.newHadoopConf()
    val hpath = new Path(path)
    val in = HadoopInputFile.fromPath(hpath, conf)
    val reader = ParquetFileReader.open(in)
    val meta = try reader.getFooter finally reader.close()
    val schema = graft.plans.StatsFileIndex.footerSchema(spark, hpath, meta)
    val minMax = statCols.map(c => footerMinMax(spark, meta, schema, c))
    val stats = Option.when(minMax.forall(_.isDefined)) {
      val numRows = meta.getBlocks.asScala.map(_.getRowCount).sum
      Row.fromSeq(path +: minMax.flatten.flatMap { case (lo, hi) => Seq(lo, hi) } :+
        numRows :+ in.getLength)
    }
    Footer(path, schema, stats)
  }

  /** (min, max) of stat column `c` from a footer: `Some((null, null))` when
    * the file lacks the column or holds only nulls in it, None when the
    * footer cannot answer exactly.
    */
  private def footerMinMax(spark: SparkSession, meta: ParquetMetadata,
                           schema: StructType,
                           c: String): Option[(String, String)] = {
    val fileSchema = meta.getFileMetaData.getSchema
    val field = schema.fields.find(_.name == c)
    if (field.isEmpty)
      // a case-insensitive match would resolve in the aggregate
      return Option.when(!schema.fieldNames.exists(_.equalsIgnoreCase(c)))(
        (null, null))
    val parquetType = (fileSchema: org.apache.parquet.schema.GroupType).getType(c)
    if (!parquetType.isPrimitive) return None
    renderer(spark, meta, field.get.dataType, parquetType.asPrimitiveType)
      .flatMap { render =>
        val colPath = org.apache.parquet.hadoop.metadata.ColumnPath.get(c)
        var lo = Long.MaxValue
        var hi = Long.MinValue
        var seen = false
        val exact = meta.getBlocks.asScala.filter(_.getRowCount > 0).forall { b =>
          b.getColumns.asScala.find(_.getPath == colPath).exists { chunk =>
            val s = chunk.getStatistics
            if (s == null || s.isEmpty) false
            else if (s.hasNonNullValue) {
              lo = math.min(lo, s.genericGetMin.asInstanceOf[Number].longValue)
              hi = math.max(hi, s.genericGetMax.asInstanceOf[Number].longValue)
              seen = true
              true
            }
            // an all-null row group adds nothing to min/max
            else s.isNumNullsSet && s.getNumNulls == b.getRowCount
          }
        }
        Option.when(exact)(
          if (seen) (render(lo), render(hi)) else (null, null))
      }
  }

  /** String rendering of a column-chunk statistic for a stat column read
    * as `dt`, or None when the footer value is not that column's exact
    * value: only INT32/INT64 columns with a signed integer, DATE or
    * (MILLIS/MICROS) TIMESTAMP annotation whose timestamp flavour matches
    * the read type, in a file not written in the legacy hybrid calendar.
    */
  private def renderer(spark: SparkSession, meta: ParquetMetadata,
                       dt: DataType, pt: PrimitiveType): Option[Long => String] = {
    import LogicalTypeAnnotation._
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    def cast(t: DataType, v: Any): String =
      Cast(Literal(v, t), StringType, tz).eval(null).toString
    val kv = meta.getFileMetaData.getKeyValueMetaData
    // Spark rebases dates and timestamps of legacy-calendar files on read
    val rebased = kv.containsKey("org.apache.spark.legacyDateTime") ||
      Option(kv.get("org.apache.spark.version")).fold(
        spark.conf.get("spark.sql.parquet.datetimeRebaseModeInRead") ==
          "LEGACY")(_.startsWith("2."))
    val integral = pt.getPrimitiveTypeName == PrimitiveTypeName.INT32 ||
      pt.getPrimitiveTypeName == PrimitiveTypeName.INT64
    (dt, pt.getLogicalTypeAnnotation) match {
      case _ if !integral => None
      case (ByteType | ShortType | IntegerType | LongType, null) =>
        Some(_.toString)
      case (ByteType | ShortType | IntegerType | LongType,
            a: IntLogicalTypeAnnotation) if a.isSigned =>
        Some(_.toString)
      case (DateType, _: DateLogicalTypeAnnotation) if !rebased =>
        Some(v => cast(DateType, v.toInt))
      case (TimestampType | TimestampNTZType, a: TimestampLogicalTypeAnnotation)
          if !rebased && a.isAdjustedToUTC == (dt == TimestampType) =>
        a.getUnit match {
          case TimeUnit.MICROS => Some(v => cast(dt, v))
          case TimeUnit.MILLIS => Some(v => cast(dt, Math.multiplyExact(v, 1000L)))
          case _               => None
        }
      case _ => None
    }
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
