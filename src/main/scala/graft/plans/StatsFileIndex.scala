package graft.plans

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, BoundReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation, PartitionDirectory, PartitionSpec}
import org.apache.spark.sql.execution.datasources.graft.PartitionBridge
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.StructType

import graft.catalog.{StatsCatalog, TxnCatalog}

/** Catalog-pruned scans inside Spark's own scan machinery: a custom
  * [[FileIndex]] that answers `listFiles` from the per-file stats catalog,
  * applying the pushed-down data filters to each file's min/max BEFORE any
  * file or footer is opened.
  *
  * This is the Spark-native form of the reference's manifest pruning
  * (parseable `src/query/stream_schema_provider.rs:1032-1137`
  * `ManifestExt::can_be_pruned`) and the same integration point Delta
  * (TahoeFileIndex) and Iceberg use. Compared to the list-of-paths approach
  * (`spark.read.parquet(survivors: _*)`), the pruning here composes with
  * EVERYTHING Catalyst pushes — any query over the returned DataFrame gets
  * file skipping for free, and `sizeInBytes` reflects the surviving subset
  * so broadcast decisions improve after pruning.
  *
  * File entries are served from catalog rows (`file_size` captured at stats
  * time) — zero filesystem listing on the query path, which at 100 TB /
  * millions of objects is the difference between planning in milliseconds
  * and planning in minutes.
  *
  * Catalog residency (the Delta-log-replay concern) has two classes, both
  * decided once per version by [[TxnCatalog]]: a frame of a resident
  * version (at most [[StatsFileIndex.DefaultMaxDriverRows]] rows) brings
  * its file entries with it — pruning runs on the driver with no Spark job.
  * Every other frame stays distributed: the catalog DATAFRAME is the source
  * of truth — `listFiles` runs the SAME `mayMatch` predicate as a
  * distributed filter over the catalog and collects ONLY the surviving
  * rows, and `sizeInBytes`/`rootPaths` come from tiny aggregates. A
  * 10M-file catalog thus never materializes on the driver; what comes back
  * is bounded by the query's own pruning (e.g. its time window).
  *
  * Given the table's root, the index also carries the table's Hive
  * partitioning (`date=/hour=/minute=` plus custom partitions), parsed by
  * Spark's own partition parser from the cataloged files' directories —
  * the same columns, types and values a plain `spark.read.parquet(root)`
  * infers — and prunes directories by the pushed partition filters.
  */
final class StatsFileIndex(spark: SparkSession, cat: DataFrame,
                           tableRoot: Option[String] = None)
    extends FileIndex {

  /** The resident version's file entries; None → stay distributed. */
  private lazy val cached: Option[Seq[StatsFileIndex.FileRow]] =
    TxnCatalog.residentOf(cat).map(_.files)

  // tiny aggregates (one short job each, cached) — never the full row set
  private lazy val totalBytes: Long = cached match {
    case Some(rows) => rows.map(_.sizeBytes).sum
    case None =>
      import org.apache.spark.sql.functions.sum
      Option(cat.agg(sum("file_size")).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
  }

  override def rootPaths: Seq[Path] = (cached match {
    case Some(rows) => rows.map(f => new Path(f.path).getParent).distinct
    case None =>
      import org.apache.spark.sql.functions.{col, regexp_extract}
      // a bare filename has no '/': the extract yields "" and new Path("")
      // throws — mirror the driver branch's Path.getParent (null parent →
      // skip), keeping both residency classes consistent
      cat.select(regexp_extract(col("file_path"), "(.*)/[^/]+$", 1).as("d"))
        .distinct().collect().toSeq
        .flatMap(r => Option(r.getString(0)).filter(_.nonEmpty))
        .map(new Path(_))
  })

  /** Partition columns and per-directory values, relative to the table
    * root (none without one); computed once per resident snapshot.
    */
  private lazy val partitionSpec: PartitionSpec = tableRoot match {
    case None => PartitionSpec.emptySpec
    case Some(root) =>
      val base = new Path(root)
      val qualified = base.getFileSystem(spark.sessionState.newHadoopConf())
        .makeQualified(base)
      def infer = PartitionBridge.partitionSpec(spark, rootPaths, qualified)
      TxnCatalog.residentOf(cat)
        .fold(infer)(_.derived(s"partitions:$qualified")(infer))
  }

  override def partitionSchema: StructType = partitionSpec.partitionColumns

  /** Files surviving the stats prune (data filters), grouped by partition
    * directory; directories whose values fail the partition filters are
    * dropped HERE — the scan does not re-check partition filters.
    */
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val survivors = StatsFileIndex.prunedRows(cat,
      dataFilters.flatMap(StatsFileIndex.toPred)).map { f =>
      FileStatusWithMetadata(new FileStatus(
        f.sizeBytes, false, 1, 128L * 1024 * 1024, 0L, new Path(f.path)))
    }
    if (partitionSchema.isEmpty) Seq(PartitionDirectory(InternalRow.empty, survivors))
    else {
      val resolver = spark.sessionState.conf.resolver
      val keep = partitionFilters.reduceOption(And).map { cond =>
        Predicate.createInterpreted(cond.transform {
          case a: AttributeReference =>
            val i = partitionSchema.fieldNames.indexWhere(resolver(a.name, _))
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
      }
      val values = partitionSpec.partitions.map(p => p.path -> p.values).toMap
      val byDir = survivors.groupBy(_.getPath.getParent)
      survivors.map(_.getPath.getParent).distinct.flatMap { dir =>
        values.get(dir).filter(v => keep.forall(_.eval(v)))
          .map(PartitionDirectory(_, byDir(dir)))
      }
    }
  }

  override def inputFiles: Array[String] = cached match {
    case Some(rows) => rows.map(_.path).toArray
    case None => cat.select("file_path").collect().map(_.getString(0))
  }

  override def refresh(): Unit = ()
  override def sizeInBytes: Long = math.max(1L, totalBytes)
}

object StatsFileIndex {

  /** One catalog row: path, size, and string-typed min/max per stat column. */
  final case class FileRow(path: String, sizeBytes: Long,
                           minMax: Map[String, (String, String)])

  /** Extract a prunable (col, op, literal) from a pushed filter; unknown
    * shapes prune nothing (conservative).
    *
    * The literal is rendered through Spark's own `Cast(_, StringType)` (UTC)
    * so it has the SAME textual form as the catalog's cast-to-string
    * min/max — a timestamp literal's raw micros value compared against
    * "yyyy-MM-dd HH:mm:ss" strings would otherwise mis-prune.
    */
  def toPred(e: Expression): Option[StatsCatalog.Pred] = {
    def mk(a: Attribute, op: StatsCatalog.Op, l: Literal) =
      Option(org.apache.spark.sql.catalyst.expressions.Cast(
          l, org.apache.spark.sql.types.StringType, Some("UTC")).eval(null))
        .map(v => StatsCatalog.Pred(a.name, op, v.toString))
    e match {
      case GreaterThan(a: Attribute, l: Literal)        => mk(a, StatsCatalog.Gt, l)
      case GreaterThanOrEqual(a: Attribute, l: Literal) => mk(a, StatsCatalog.GtEq, l)
      case LessThan(a: Attribute, l: Literal)           => mk(a, StatsCatalog.Lt, l)
      case LessThanOrEqual(a: Attribute, l: Literal)    => mk(a, StatsCatalog.LtEq, l)
      case EqualTo(a: Attribute, l: Literal)            => mk(a, StatsCatalog.Eq, l)
      case GreaterThan(l: Literal, a: Attribute)        => mk(a, StatsCatalog.Lt, l)
      case GreaterThanOrEqual(l: Literal, a: Attribute) => mk(a, StatsCatalog.LtEq, l)
      case LessThan(l: Literal, a: Attribute)           => mk(a, StatsCatalog.Gt, l)
      case LessThanOrEqual(l: Literal, a: Attribute)    => mk(a, StatsCatalog.GtEq, l)
      case _                                            => None
    }
  }

  /** Min/max overlap test (null stats → cannot prune). Numeric compare when
    * both sides parse as double, else lexicographic. The one overlap test:
    * every scan, path list and distributed prune goes through it.
    */
  def mayMatch(f: FileRow, preds: Seq[StatsCatalog.Pred]): Boolean =
    preds.forall { p =>
      f.minMax.get(p.column) match {
        case None | Some((null, _)) | Some((_, null)) => true
        case Some((mn, mx)) =>
          def cmp(a: String, b: String): Int =
            (a.toDoubleOption, b.toDoubleOption) match {
              case (Some(x), Some(y)) => java.lang.Double.compare(x, y)
              case _                  => a.compareTo(b)
            }
          p.op match {
            case StatsCatalog.Eq   => cmp(mn, p.value) <= 0 && cmp(p.value, mx) <= 0
            case StatsCatalog.Lt   => cmp(mn, p.value) < 0
            case StatsCatalog.LtEq => cmp(mn, p.value) <= 0
            case StatsCatalog.Gt   => cmp(mx, p.value) > 0
            case StatsCatalog.GtEq => cmp(mx, p.value) >= 0
          }
      }
    }

  /** Largest [[TxnCatalog]] version held on the driver; a larger one is
    * pruned distributed (~100k rows ≈ tens of MB of strings — the same
    * ballpark Delta tolerates for log replay).
    */
  val DefaultMaxDriverRows: Long = 100000L

  /** Catalog rows of `schema` as file entries. */
  def fileRows(schema: StructType, rows: Seq[Row]): Seq[FileRow] = {
    val statCols = schema.fieldNames.filter(_.startsWith("min_"))
      .map(_.stripPrefix("min_"))
    rows.map { r =>
      val mm = statCols.map { c =>
        c -> (r.getAs[String](s"min_$c"), r.getAs[String](s"max_$c"))
      }.toMap
      FileRow(r.getAs[String]("file_path"), r.getAs[Long]("file_size"), mm)
    }
  }

  /** A parquet file's data schema from its footer, read on the driver: the
    * schema `spark.read.parquet(file).schema` infers, without the
    * inference job.
    */
  def footerSchema(spark: SparkSession, file: String): StructType = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.ParquetFileReader
    val path = new Path(file)
    footerSchema(spark, path, ParquetFileReader.readFooter(
      spark.sessionState.newHadoopConf(), path,
      ParquetMetadataConverter.SKIP_ROW_GROUPS))
  }

  /** The data schema of an already-read footer. */
  def footerSchema(spark: SparkSession, path: Path,
                   meta: org.apache.parquet.hadoop.metadata.ParquetMetadata)
      : StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
    ColumnBridge.asNullable(ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(path, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
  }

  /** Catalog rows that may satisfy all `preds` ([[mayMatch]]). A resident
    * snapshot is filtered on the driver with no Spark job. Any other frame
    * is pruned distributed: the EXACT predicate runs inside a
    * `mapPartitions` over the catalog DataFrame, so only window-overlapping
    * rows ever reach the driver — at millions of files one short job
    * replaces a multi-GB driver collect with a collect bounded by the
    * query's own selectivity.
    */
  def prunedRows(cat: DataFrame,
                 preds: Seq[StatsCatalog.Pred]): Seq[FileRow] =
    TxnCatalog.residentOf(cat) match {
      case Some(s) => s.files.filter(mayMatch(_, preds))
      case None =>
        val statCols = cat.columns.filter(_.startsWith("min_"))
          .map(_.stripPrefix("min_"))
        val needed = cat.select(
          (Seq("file_path", "file_size") ++
            statCols.flatMap(c => Seq(s"min_$c", s"max_$c")))
            .map(org.apache.spark.sql.functions.col): _*)
        val colsB = statCols.toSeq
        val predsB = preds
        implicit val enc: org.apache.spark.sql.Encoder[FileRow] =
          org.apache.spark.sql.Encoders.product[FileRow]
        needed.mapPartitions { it =>
          it.flatMap { r =>
            val mm = colsB.map { c =>
              c -> (r.getAs[String](s"min_$c"), r.getAs[String](s"max_$c"))
            }.toMap
            val f = FileRow(r.getAs[String]("file_path"),
              r.getAs[Long]("file_size"), mm)
            if (mayMatch(f, predsB)) Some(f) else None
          }
        }.collect().toSeq
    }

  /** A DataFrame over the cataloged files with stats-based file skipping
    * wired into the scan. `schema` defaults to a resident snapshot's data
    * schema (the merged footer schema of its files), else the first
    * cataloged file's footer, read on the driver.
    *
    * `bucketBy = Some((n, cols))` declares the files as Spark-bucketed
    * (they must have been WRITTEN by Spark's bucketed writer — the bucket
    * id is parsed from the `_NNNNN` file-name suffix). The scan then
    * advertises `HashPartitioning(cols, n)`, so joins/aggregations on the
    * bucket key over two such reads run with ZERO Exchange — catalog-pruned
    * scans and shuffle-free joins compose, without a metastore table:
    * exactly what a 100 TB fact⋈fact join on a path-based catalog needs.
    *
    * The declaration is VALIDATED against the cataloged file names before
    * the relation is built: a file whose name carries no parseable bucket
    * id, or a bucket id outside `[0, n)`, throws IllegalArgumentException —
    * silently advertising a HashPartitioning the files don't satisfy would
    * remove the Exchange a correct join needs and return wrong results.
    * The one mis-declaration names alone cannot catch: `n` LARGER than the
    * written bucket count whose ids all still fall inside `[0, n)` (empty
    * buckets are legal, so ids 0..7 under a declared 16 look identical to a
    * half-empty 16-bucket table). Declaring the exact count the files were
    * written with remains the caller's contract.
    *
    * `tableRoot` (the directory the cataloged files were written under)
    * adds the table's Hive partition columns to the read, as a plain read
    * of that directory would.
    */
  def read(spark: SparkSession, cat: DataFrame,
           schema: Option[StructType] = None,
           bucketBy: Option[(Int, Seq[String])] = None,
           tableRoot: Option[String] = None): DataFrame = {
    bucketBy.foreach { case (n, cols) =>
      // same name shape Spark's bucketed writer produces and its reader
      // parses (BucketingUtils): ..._NNNNN[.ext] — validated with one
      // distributed pass over the catalog (no driver materialization);
      // only offending names come back
      import org.apache.spark.sql.functions.{col, regexp_extract}
      val named = cat.select(
        regexp_extract(col("file_path"), "[^/]+$", 0).as("name"))
        .withColumn("id", regexp_extract(col("name"),
          """.*_(\d+)(?:\..*)?$""", 1))
      named.filter(col("id") === "").select("name").limit(1)
        .collect().foreach { r =>
          throw new IllegalArgumentException(
            s"read(bucketBy=($n, $cols)): file '${r.getString(0)}' has no " +
              s"_NNNNN bucket suffix — it was not written by Spark's " +
              s"bucketed writer")
        }
      named.filter(col("id") =!= "" && col("id").cast("decimal(20,0)") >= n)
        .select("name", "id").limit(1).collect().foreach { r =>
          throw new IllegalArgumentException(
            s"read(bucketBy=($n, $cols)): file '${r.getString(0)}' carries " +
              s"bucket id ${r.getString(1)} >= declared numBuckets $n — the " +
              s"files were not written with this bucket spec; scanning them " +
              s"as such would yield wrong join/aggregate results")
        }
    }
    val index = new StatsFileIndex(spark, cat, tableRoot)
    // a resident snapshot carries its files' merged schema; otherwise one
    // file's footer — never list every cataloged path into one read
    val dataSchema = schema
      .orElse(TxnCatalog.residentOf(cat).flatMap(_.dataSchema(spark)))
      .getOrElse {
        val first = cat.select("file_path").limit(1).collect()
        require(first.nonEmpty, "empty stats catalog and no explicit schema")
        footerSchema(spark, first(0).getString(0))
      }
    val bs = bucketBy.map { case (n, cols) =>
      org.apache.spark.sql.catalyst.catalog.BucketSpec(n, cols, Nil) }
    val relation = HadoopFsRelation(index, index.partitionSchema, dataSchema,
      bucketSpec = bs, fileFormat = new ParquetFileFormat(),
      options = Map.empty)(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    ColumnBridge.ofRows(spark, LogicalRelation(relation))
  }
}
