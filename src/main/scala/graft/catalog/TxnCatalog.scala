package graft.catalog

import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Union}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{StringType, StructType}

import graft.plans.StatsFileIndex

/** Versioned, atomically-committed stats catalog — the transaction-log
  * layer over [[StatsCatalog]]'s per-file statistics table.
  *
  * The reference updates its snapshot/manifest catalog in place under a
  * process-wide lock (parseable `src/catalog/mod.rs:108-187`); that breaks
  * down the moment two writers (ingest sync + compaction + retention) race.
  * This is the Iceberg/Delta-shaped fix, built from first principles:
  *
  *   - each catalog version's data lives in a writer-unique immutable
  *     parquet snapshot dir (`v<N>-<uuid>/`) — concurrent writers can never
  *     scribble on each other's data;
  *   - a version becomes visible only when its marker `_commits/<N>.json`
  *     appears. The marker is published with `Files.createLink` (hard link
  *     to a fully-written temp file): atomic, fails if the version is
  *     already claimed, and the name appears with complete content — so
  *     readers never see a half commit. (NOT a rename: POSIX rename()
  *     silently replaces an existing target, letting two writers both
  *     "win".)
  *   - writers use optimistic concurrency: read latest N, write snapshot
  *     for N+1, try to publish the marker; on conflict, re-apply the update
  *     function on the new latest and retry;
  *   - readers pin a version for their whole operation → snapshot isolation
  *     (a concurrent compaction can't make a query's file list dangle).
  *
  * Residency: a committed version of at most
  * [[StatsFileIndex.DefaultMaxDriverRows]] rows is held on the driver as an
  * immutable [[Snapshot]], keyed by its writer-unique snapshot dir (never by
  * N: a catalog deleted and rebuilt from v0 gets new dirs, so it can never
  * hit stale rows). A writer installs the rows it just committed; any other
  * version (another process's commit, a pinned old version) is loaded once.
  * A reader then pays one `_commits` listing plus a marker read, and every
  * frame it gets is a `LocalRelation` — filtering, projecting or collecting
  * it launches no Spark job. Larger catalogs stay distributed: their frames
  * read the snapshot dir, as every frame did before residency.
  *
  * New files are cataloged from their parquet footers, read on the driver
  * (see [[withFreshStats]]); a version also records the merged data schema
  * of its files, so a catalog scan sees every field any file carries.
  *
  * Each commit still writes the whole next snapshot (O(catalog) bytes per
  * version); time travel is free (old versions stay until [[vacuum]]).
  */
object TxnCatalog {

  private def commitsDir(root: String): Path = Paths.get(root, "_commits")

  /** Committed version numbers, from one `_commits` listing. */
  private def versions(root: String): Seq[Long] = {
    val d = commitsDir(root)
    if (!Files.isDirectory(d)) Nil
    else {
      val names = Files.list(d)
      try names.iterator().asScala.toSeq.flatMap { p =>
        val name = p.getFileName.toString
        if (name.endsWith(".json"))
          scala.util.Try(name.stripSuffix(".json").toLong).toOption
        else None
      } finally names.close()
    }
  }

  /** Latest committed version, or None for an empty/uninitialized catalog. */
  def latestVersion(root: String): Option[Long] = versions(root).maxOption

  /** The committed snapshot dir for a version (from its marker), absolute
    * and normalized: the residency key.
    */
  private def snapshotDir(root: String, v: Long): Option[String] = {
    val marker = commitsDir(root).resolve(s"$v.json")
    val txt =
      try Some(Files.readString(marker))
      catch { case _: java.nio.file.NoSuchFileException => None }
    // marker JSON is flat; pull "dir" without a JSON dependency
    txt.flatMap("\"dir\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(_))
      .map(m => Paths.get(root, m.group(1)).toAbsolutePath.normalize.toString)
  }

  /** One committed catalog version held on the driver. Immutable: its rows
    * back every frame handed out for the version, and consumers that
    * recognize a resident frame ([[residentOf]]) fold over them directly.
    */
  final class Snapshot private[catalog] (
      private[catalog] val root: String,
      private[catalog] val version: Long,
      val dir: String,
      val schema: StructType,
      committedRows: IndexedSeq[InternalRow],
      filesSchema: Option[StructType]) {

    // a no-op update hands back the base version's payload: keep only its
    // rows, never a chain of earlier snapshots
    private val rows = committedRows match {
      case r: Rows => r.rows
      case other   => other
    }
    private val data = new Rows(this, rows)

    def size: Int = rows.size

    /** A new frame over the rows: a `LocalRelation` (fresh attribute ids,
      * so two frames of one version self-join cleanly).
      */
    def frame(spark: SparkSession): DataFrame =
      ColumnBridge.ofRows(spark,
        LocalRelation(DataTypeUtils.toAttributes(schema), data))

    /** The rows as [[StatsFileIndex]] file entries, converted once. */
    lazy val files: Seq[StatsFileIndex.FileRow] = {
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      StatsFileIndex.fileRows(schema,
        rows.map(r => toRow(r).asInstanceOf[org.apache.spark.sql.Row]))
    }

    private val derivedValues = new ConcurrentHashMap[String, AnyRef]()

    /** A value derived from the rows alone (a fold, a projection), computed
      * once per snapshot under `key`.
      */
    def derived[T <: AnyRef](key: String)(compute: => T): T =
      derivedValues.computeIfAbsent(key, _ => compute).asInstanceOf[T]

    /** `file_path` of the first row, the file [[dataSchema]] reads for a
      * version committed without a data schema.
      */
    private def firstPath: Option[String] =
      Option(schema.fieldNames.indexOf("file_path")).filter(_ >= 0)
        .filter(i => schema(i).dataType == StringType && rows.nonEmpty &&
          !rows.head.isNullAt(i))
        .map(i => rows.head.getUTF8String(i).toString)

    /** Data schema of the version's files: the merged footer schema its
      * commit persisted ([[DataSchemaFile]]), else that of the first
      * cataloged file, from its footer, read on the driver once per
      * snapshot.
      */
    def dataSchema(spark: SparkSession): Option[StructType] =
      filesSchema.orElse(
        derived("data-schema")(firstPath.map(StatsFileIndex.footerSchema(spark, _))))
  }

  /** LocalRelation payload that remembers its [[Snapshot]]. */
  private final class Rows(val snapshot: Snapshot, val rows: IndexedSeq[InternalRow])
      extends scala.collection.immutable.IndexedSeq[InternalRow] {
    def apply(i: Int): InternalRow = rows(i)
    def length: Int = rows.length
  }

  private val resident = new ConcurrentHashMap[String, Snapshot]()

  /** The resident snapshot behind a frame from [[snapshot]], if it has one
    * (the frame itself, not a query over it).
    */
  def residentOf(df: DataFrame): Option[Snapshot] =
    ColumnBridge.logicalPlan(df) match {
      case l: LocalRelation => l.data match {
        case d: Rows => Some(d.snapshot)
        case _       => None
      }
      case _ => None
    }

  /** Versions of the catalog at `root` currently held on the driver. */
  private[catalog] def residentVersions(root: String): Seq[Long] = {
    val key = rootKey(root)
    resident.values().asScala.filter(_.root == key).map(_.version).toSeq.sorted
  }

  /** Whether a catalog of `rows` rows is held on the driver. */
  private def holdable(rows: Long): Boolean =
    rows <= StatsFileIndex.DefaultMaxDriverRows

  /** Hold `s`, dropping older versions of its catalog and any version
    * whose dir is gone (a deleted, or deleted and rebuilt, catalog).
    */
  private def install(s: Snapshot): Snapshot = {
    resident.put(s.dir, s)
    resident.values().removeIf(o => o.dir != s.dir &&
      ((o.root == s.root && o.version < s.version) ||
        !Files.isDirectory(Paths.get(o.dir))))
    s
  }

  private def rootKey(root: String): String =
    Paths.get(root).toAbsolutePath.normalize.toString

  /** The parquet data files of a snapshot dir, in the sorted order Spark's
    * schema inference uses.
    */
  private def partFiles(dir: String): Seq[String] = {
    val parts =
      try Files.list(Paths.get(dir))
      catch {
        // vacuumed under a pinned reader: the parquet read of the dir
        // fails fast with PATH_NOT_FOUND
        case _: java.nio.file.NoSuchFileException => return Nil
      }
    try parts.iterator().asScala.map(_.toUri.toString)
      .filter(u => u.endsWith(".parquet") &&
        !u.substring(u.lastIndexOf('/') + 1).matches("[_.].*"))
      .toSeq.sorted
    finally parts.close()
  }

  /** File beside a version's snapshot data holding the merged data schema
    * of its files (Spark's schema JSON). Its `_` prefix keeps it out of
    * parquet reads of the snapshot dir.
    */
  private val DataSchemaFile = "_data_schema.json"

  private def persistedSchema(dir: String): Option[StructType] = {
    val f = Paths.get(dir, DataSchemaFile)
    Option.when(Files.isRegularFile(f))(
      org.apache.spark.sql.types.DataType.fromJson(Files.readString(f))
        .asInstanceOf[StructType])
  }

  /** The merged data schema the latest version persisted, read from that
    * one file on the driver: None when there is no version or it recorded
    * none.
    */
  def latestDataSchema(root: String): Option[StructType] =
    latestVersion(root).flatMap(snapshotDir(root, _)).flatMap(persistedSchema)

  /** `base` plus the top-level fields of `more` it lacks (names compared
    * case-insensitively, as Spark resolves them): the first type seen for
    * a name wins, new names append in arrival order.
    */
  private def mergeSchema(base: StructType, more: StructType): StructType =
    StructType(base.fields ++ more.fields.filterNot(f =>
      base.fieldNames.exists(_.equalsIgnoreCase(f.name))))

  /** Rows in parquet files, from their footers (no Spark job). */
  private def footerRowCount(spark: SparkSession, files: Seq[String]): Long =
    files.map { f =>
      org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        spark.sparkContext.hadoopConfiguration, new org.apache.hadoop.fs.Path(f),
        org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
        .getBlocks.asScala.map(_.getRowCount).sum
    }.sum

  /** The frame of version `v`: resident rows when held (loading them once
    * if this JVM did not commit the version, with the data schema its
    * commit persisted), else the snapshot dir. Both take the schema from a
    * footer read on the driver, not an inference job.
    */
  private def load(spark: SparkSession, root: String,
                   v: Long): Option[DataFrame] =
    snapshotDir(root, v).map { dir =>
      Option(resident.get(dir)) match {
        case Some(s) => s.frame(spark)
        case None =>
          val parts = partFiles(dir)
          val df = parts.headOption
            .fold(spark.read)(f =>
              spark.read.schema(StatsFileIndex.footerSchema(spark, f)))
            .parquet(dir)
          if (!holdable(footerRowCount(spark, parts))) df
          else {
            val toRow = CatalystTypeConverters.createToCatalystConverter(df.schema)
            install(new Snapshot(rootKey(root), v, dir, df.schema,
              df.collect().map(r => toRow(r).asInstanceOf[InternalRow])
                .toIndexedSeq, persistedSchema(dir))).frame(spark)
          }
      }
    }

  /** Read a snapshot: the given version, or the latest committed one.
    * None if the catalog has no commits yet.
    */
  def snapshot(spark: SparkSession, root: String,
               version: Option[Long] = None): Option[DataFrame] =
    version.orElse(latestVersion(root)).flatMap(load(spark, root, _))

  /** The rows of a frame computable on the driver alone: its optimized
    * plan is local data (a resident frame filtered or projected, or a union
    * of such). None when producing it needs a Spark job.
    */
  private def driverRows(df: DataFrame): Option[IndexedSeq[InternalRow]] = {
    def local(p: LogicalPlan): Option[Seq[InternalRow]] = p match {
      case l: LocalRelation => Some(l.data)
      case u: Union =>
        val parts = u.children.map(local)
        if (parts.forall(_.isDefined)) Some(parts.flatMap(_.get)) else None
      case _ => None
    }
    local(ColumnBridge.optimizedPlan(df)).map(_.toIndexedSeq)
  }

  /** Atomically commit `update(current)` as the next version. The update
    * function is re-applied on conflict (optimistic concurrency), so it must
    * be a pure function of the current snapshot. Returns the committed
    * version number.
    *
    * When the update is driver work over a resident version (a filter, a
    * union with collected rows), the next snapshot is written from those
    * rows and installed as resident (write-through); otherwise it is
    * written by a distributed job and loaded by its first reader.
    */
  def commit(spark: SparkSession, root: String, maxRetries: Int = 10)(
      update: Option[DataFrame] => DataFrame): Long =
    commitChange(spark, root, maxRetries)(current =>
      Some(Change(update(current))))

  /** A catalog update: the next version's rows, and the data schemas of
    * the files it adds, from the footers its stats were read from.
    */
  private final case class Change(rows: DataFrame,
                                  addedSchemas: Seq[StructType] = Nil)

  /** [[commit]] for an update that may find nothing to change: None
    * commits nothing and returns the latest version (-1 when there is none).
    *
    * A version over a resident base (or the first version) also records
    * its files' data schema: the base's, merged with `addedSchemas`,
    * persisted as [[DataSchemaFile]] before the marker lands.
    */
  private def commitChange(spark: SparkSession, root: String,
                           maxRetries: Int = 10)(
      update: Option[DataFrame] => Option[Change]): Long = {
    var attempt = 0
    while (true) {
      val base = latestVersion(root)
      val next = base.getOrElse(-1L) + 1
      val current = base.flatMap(load(spark, root, _))
      // nothing to change: the latest version stands, nothing is written
      val Change(updated, added) = update(current).getOrElse(return next - 1)
      val held = driverRows(updated).filter(r => holdable(r.size.toLong))
      val filesSchema = current match {
        case None => added.reduceOption(mergeSchema)
        case Some(c) => residentOf(c)
          // a base whose first file is gone has no schema to carry
          .flatMap(s => scala.util.Try(s.dataSchema(spark)).toOption.flatten)
          .map(added.foldLeft(_)(mergeSchema))
      }
      // writer-unique snapshot data, invisible until the marker lands
      val dirName = f"v$next%06d-${UUID.randomUUID()}"
      val dir = Paths.get(root, dirName).toAbsolutePath.normalize
      updated.coalesce(1).write.mode("overwrite").parquet(dir.toString)
      filesSchema.foreach(fs =>
        Files.writeString(dir.resolve(DataSchemaFile), fs.json))
      Files.createDirectories(commitsDir(root))
      val tmp = Files.createTempFile(commitsDir(root), s".v$next-", ".tmp")
      Files.writeString(tmp,
        s"""{"version": $next, "dir": "$dirName", "ts": ${System.currentTimeMillis()}}""")
      try {
        Files.createLink(commitsDir(root).resolve(s"$next.json"), tmp)
        Files.deleteIfExists(tmp)
        held.foreach(rows => install(new Snapshot(rootKey(root), next,
          dir.toString, ColumnBridge.asNullable(updated.schema), rows,
          filesSchema)))
        return next
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          // lost the race — another writer committed <next>; our orphan data
          // dir is invisible (no marker references it); clean it up and
          // re-apply on top of the new latest
          Files.deleteIfExists(tmp)
          deleteRecursively(dir)
          attempt += 1
          if (attempt > maxRetries)
            throw new IllegalStateException(
              s"catalog commit contention: gave up after $maxRetries retries")
      }
    }
    -1L // unreachable
  }

  /** `keep(current)` plus stats rows for the `fresh` data files, or None
    * when neither changes the catalog (`removed` says whether `keep` drops
    * a row). Each fresh file's footer is read once, on the driver: it gives
    * the file's data schema and, for footer-exact files, its stats row
    * ([[StatsCatalog.readFooter]]). Only the other files go through the
    * Spark aggregate [[StatsCatalog.collectFiles]], collected here when the
    * result stays resident, so [[commit]] writes the next version from
    * driver rows.
    */
  private def withFreshStats(spark: SparkSession, current: Option[DataFrame],
                             fresh: Seq[String], statCols: Seq[String],
                             keep: DataFrame => DataFrame = identity,
                             removed: Boolean = false): Option[Change] =
    if (fresh.isEmpty) Option.when(removed)(Change(keep(current.get)))
    else {
      val footers = fresh.map(StatsCatalog.readFooter(spark, _, statCols))
      val exact = spark.createDataFrame(footers.flatMap(_.stats).asJava,
        StatsCatalog.statsSchema(statCols))
      val rest = footers.filter(_.stats.isEmpty).map(_.path)
      val freshStats =
        if (rest.isEmpty) exact
        else {
          val stats = StatsCatalog.collectFiles(spark, rest, statCols)
          val base = current.map(c => residentOf(c).map(_.size.toLong))
          exact.unionByName(
            if (base.forall(_.exists(n => holdable(n + fresh.size))))
              spark.createDataFrame(stats.collect().toSeq.asJava, stats.schema)
            else stats)
        }
      Some(Change(current.map(keep)
        .fold(freshStats)(_.unionByName(freshStats, allowMissingColumns = true)),
        footers.map(_.schema)))
    }

  /** Incremental stats refresh: compute [[StatsCatalog]] rows ONLY for data
    * files not yet in the catalog and append them as a new version — it
    * diffs the file listing against the catalog and reads stats for just
    * the new paths (their footers; see [[withFreshStats]]), O(new data),
    * the only refresh economics that survive 100 TB. No new file, no new
    * version. (Catalog paths are `file:`-scheme URIs, as `_metadata`
    * emits.)
    */
  def appendNewFiles(spark: SparkSession, tableRoot: String, root: String,
                     statCols: Seq[String]): Long =
    commitChange(spark, root) { current =>
      val known: Set[String] = current
        .map(_.select("file_path").collect().map(_.getString(0)).toSet)
        .getOrElse(Set.empty)
      val fresh = listParquet(Paths.get(tableRoot)).filterNot(known.contains)
      withFreshStats(spark, current, fresh, statCols)
    }

  /** [[appendNewFiles]] with partition-watermark discovery: instead of
    * walking the whole table to diff against the catalog, only partition
    * directories lexically ≥ the highest partition already cataloged are
    * listed — O(new partitions + files in the newest partition), not
    * O(table). With date-encoded partition names (`date=YYYY-MM-DD/…`, the
    * ingest layout) lexical order IS time order.
    *
    * A resident catalog yields its watermark and the watermark partition's
    * known paths on the driver; a distributed one computes both in Spark.
    *
    * Assumes partitions arrive in non-decreasing order (true for the
    * arrival-time-derived ingest path). For out-of-order backfill into old
    * partitions use [[appendNewFiles]] — its full diff is the safe path.
    */
  def appendNewFilesWatermarked(spark: SparkSession, tableRoot: String,
                                root: String, statCols: Seq[String]): Long =
    commitChange(spark, root) { current =>
      val tableUri = Paths.get(tableRoot).toUri.toString
        .replaceFirst("^file:///", "file:/")
      // top-level partition of a cataloged file = first path segment under
      // the table root ("" for unpartitioned files)
      def partOf(uri: String): String = {
        val rel = uri.stripPrefix(tableUri).stripPrefix("/")
        val slash = rel.indexOf('/')
        if (slash < 0) "" else rel.substring(0, slash)
      }
      // (watermark, known files of the watermark partition)
      val known: Option[(String, Set[String])] = current.flatMap { c =>
        if (residentOf(c).isDefined) {
          val parts = c.select("file_path").collect()
            .map(r => r.getString(0)).groupBy(partOf)
          parts.keys.maxOption.map(wm => wm -> parts(wm).toSet)
        } else
          // only the known files of the single watermark partition are
          // needed for the diff — filtered in Spark, so the driver only
          // materializes one partition's paths, never the whole catalog
          partitionWatermark(c, tableUri).map(wm => wm ->
            c.filter(partitionOfExpr(tableUri) === wm)
              .select("file_path").collect().map(_.getString(0)).toSet)
      }
      val fresh = known match {
        case None => listParquet(Paths.get(tableRoot)) // empty catalog: full list
        case Some((wm, knownInWm)) =>
          val dirs = Files.list(Paths.get(tableRoot)).toArray.toSeq
            .map(_.asInstanceOf[Path])
            .filter(p => Files.isDirectory(p) &&
              p.getFileName.toString >= wm)
          dirs.flatMap(d => listParquet(d))
            .filterNot(p => partOf(p) < wm || knownInWm.contains(p))
      }
      withFreshStats(spark, current, fresh, statCols)
    }

  /** Top-level partition of a cataloged `file_path` as a Spark expression:
    * first path segment under the table root, "" for unpartitioned files.
    * Mirrors the driver-side `partOf` in [[appendNewFilesWatermarked]].
    */
  private[catalog] def partitionOfExpr(
      tableUri: String): org.apache.spark.sql.Column = {
    val rel = regexp_replace(col("file_path"),
      "^" + java.util.regex.Pattern.quote(tableUri) + "/?", "")
    when(rel.contains("/"), substring_index(rel, "/", 1)).otherwise(lit(""))
  }

  /** Highest cataloged partition of a distributed catalog, computed as a
    * single-row `max` aggregate — the driver fetches ONE row regardless of
    * catalog size. Partition names on the ingest path are ASCII (`date=…`),
    * where Spark's UTF-8 binary string max and the JVM's lexical max agree.
    */
  private[catalog] def partitionWatermark(snapshot: DataFrame,
                                          tableUri: String): Option[String] = {
    val row = snapshot.agg(max(partitionOfExpr(tableUri)).as("wm")).head()
    if (row.isNullAt(0)) None else Some(row.getString(0))
  }

  /** Full bidirectional reconcile as one atomic version: stat files the
    * catalog doesn't know (backfill into old partitions included — the
    * case [[appendNewFilesWatermarked]] deliberately skips) AND drop rows
    * whose files are gone (retention, compaction, manual deletes). O(table
    * listing) + stats for the new files only — the occasional-repair
    * path; the per-append hot path stays [[appendNewFilesWatermarked]].
    */
  def reconcile(spark: SparkSession, tableRoot: String, root: String,
                statCols: Seq[String]): Long =
    commitChange(spark, root) { current =>
      val onDisk = listParquet(Paths.get(tableRoot))
      val onDiskSet = onDisk.toSet
      val known: Set[String] = current
        .map(_.select("file_path").collect().map(_.getString(0)).toSet)
        .getOrElse(Set.empty)
      val fresh = onDisk.filterNot(known.contains)
      // isin over a big list builds a wide predicate; for catalog-sized
      // row counts this is fine (driver-bounded metadata)
      withFreshStats(spark, current, fresh, statCols,
        keep = _.filter(col("file_path").isInCollection(onDiskSet)),
        removed = !known.subsetOf(onDiskSet))
    }

  /** Recursive parquet listing as `file:`-scheme URIs (matching the
    * `_metadata.file_path` format the stats rows carry).
    */
  private def listParquet(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else Files.walk(dir).toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map(_.toUri.toString.replaceFirst("^file:///", "file:/"))

  /** Rewrite the catalog after a compaction: drop rows for `removed` data
    * files and append stats for the replacement files — one atomic version.
    */
  def replaceFiles(spark: SparkSession, root: String, removed: Seq[String],
                   added: DataFrame): Long =
    replaceWhere(spark, root, col("file_path").isin(removed: _*), added)

  /** As [[replaceFiles]] with a predicate over `file_path` (e.g. "every
    * file under this rewritten partition dir").
    */
  def replaceWhere(spark: SparkSession, root: String,
                   removeCond: org.apache.spark.sql.Column,
                   added: DataFrame): Long =
    commit(spark, root) { current =>
      val kept = current.map(_.filter(!removeCond))
      kept.map(_.unionByName(added, allowMissingColumns = true))
        .getOrElse(added)
    }

  /** Drop every version but the latest `keep` (marker first, then data:
    * a version without a marker is invisible, so readers can't pick up a
    * half-deleted snapshot; readers already pinned to it fail fast — run
    * vacuum outside query windows). One `_commits` listing, whatever the
    * version numbers: cost follows the versions present, not their range.
    */
  def vacuum(root: String, keep: Int = 2): Unit =
    versions(root).sorted(Ordering[Long].reverse).drop(keep).foreach { v =>
      snapshotDir(root, v).foreach { dir =>
        Files.deleteIfExists(commitsDir(root).resolve(s"$v.json"))
        resident.remove(dir)
        deleteRecursively(Paths.get(dir))
      }
    }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
    }
}
