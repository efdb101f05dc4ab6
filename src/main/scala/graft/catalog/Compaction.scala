package graft.catalog

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Partition compaction: rewrite fragmented date partitions into few large
  * files.
  *
  * Minute-granular streaming ingest (reference: one parquet per stream per
  * minute per schema, `src/parseable/streams.rs:290-321`) produces up to
  * 1440 small files per day per stream — the classic small-file problem
  * that kills scan throughput at 100 TB (open/footer overhead per file,
  * tiny row groups, no effective column-index pruning). The reference
  * merges staging files at conversion time; a long-lived table also needs
  * periodic re-compaction, which this job provides:
  *
  *   - operates per `date=` partition directory, oldest-closed first —
  *     never the partition currently being written;
  *   - preserves the latest-first physical order (`p_timestamp` DESC,
  *     matching the write-time sort);
  *   - writes to a temp dir, then atomically swaps the partition.
  */
object Compaction {

  /** Compact one stream's date partition if it has more than `maxFiles`
    * parquet files. Returns (filesBefore, filesAfter) when compacted.
    *
    * `zorder` ((dims, bits), the stream's
    * [[graft.ingest.IngestPipeline.ZOrderPolicy]]) switches the rewrite
    * from the latest-first time sort to a Z-order layout — compaction is
    * exactly the moment to buy multi-dimensional stats pruning, since the
    * partition is being rewritten anyway. Min/max come from the partition
    * itself via the exact-BIGINT scaling the ingest path uses
    * ([[graft.operators.ZOrder.zOrderBy]]), so compaction re-clusters
    * with NO hand-tuned bounds — per-append z-runs merge into
    * partition-wide runs and the per-file dim stats tighten further.
    */
  def compactPartition(spark: SparkSession, root: String, stream: String,
                       date: String, timeCol: String = "p_timestamp",
                       maxFiles: Int = 8,
                       targetFiles: Int = 1,
                       txnCatalog: Option[(String, Seq[String])] = None,
                       zorder: Option[(Seq[String], Int)] = None)
      : Option[(Int, Int)] = {
    val partDir = Paths.get(root, stream, s"date=$date")
    if (!Files.exists(partDir)) return None
    val before = countParquetFiles(partDir)
    if (before <= maxFiles) return None

    val tmp = Paths.get(root, stream, s".compact-date=$date")
    deleteRecursive(tmp)
    // hour/minute subdir columns read back as partition cols; keep them in
    // the rewritten layout so the directory shape is unchanged
    val df = spark.read.parquet(partDir.toString)
    val hasSub = df.columns.contains("hour")
    val laidOut = zorder match {
      case Some((dims, bits)) if dims.forall(df.columns.contains) =>
        graft.operators.ZOrder.zOrderBy(df, dims, bits, targetFiles)
      case _ => df.repartition(targetFiles)
        .sortWithinPartitions(col(timeCol).desc)
    }
    val writer = laidOut.write.mode("overwrite")
    (if (hasSub) writer.partitionBy(
      df.columns.filter(Set("hour", "minute")).toIndexedSeq: _*)
     else writer).parquet(tmp.toString)

    // atomic-ish swap: move old out, temp in, drop old
    val trash = Paths.get(root, stream, s".old-date=$date")
    deleteRecursive(trash)
    Files.move(partDir, trash)
    Files.move(tmp, partDir)
    deleteRecursive(trash)
    // one atomic catalog version: drop every stats row under the rewritten
    // partition, append stats for the replacement files — readers pinned to
    // an older version still see a consistent (pre-compaction) file list
    txnCatalog.foreach { case (catRoot, statCols) =>
      val added = StatsCatalog.collect(spark, partDir.toString, statCols)
      TxnCatalog.replaceWhere(spark, catRoot,
        col("file_path").contains(s"/$stream/date=$date/"), added)
    }
    Some((before, countParquetFiles(partDir)))
  }

  /** Compact every closed date partition (all but today's). A stream
    * whose persisted metadata carries a Z-order layout policy
    * (`stream.json` `z_order` — written by the HTTP create/update
    * handlers and by the streaming ingest path) re-clusters with it
    * automatically — the policy FOLLOWS the data through maintenance,
    * no per-job configuration.
    */
  def compactStream(spark: SparkSession, root: String, stream: String,
                    timeCol: String = "p_timestamp", maxFiles: Int = 8,
                    today: java.time.LocalDate = java.time.LocalDate.now())
      : Seq[(String, Int, Int)] = {
    val dir = Paths.get(root, stream)
    if (!Files.exists(dir)) return Nil
    val zorder = StreamMeta.load(root, stream).flatMap(_.zOrder)
    val out = Seq.newBuilder[(String, Int, Int)]
    val parts = Files.list(dir).toArray.map(_.asInstanceOf[Path])
      .map(_.getFileName.toString)
      .filter(_.startsWith("date=")).sorted
    parts.foreach { p =>
      val date = p.stripPrefix("date=")
      if (date != today.toString) {
        compactPartition(spark, root, stream, date, timeCol, maxFiles,
            zorder = zorder)
          .foreach { case (b, a) => out += ((date, b, a)) }
      }
    }
    out.result()
  }

  private def countParquetFiles(dir: Path): Int = {
    var n = 0
    Files.walk(dir).forEach(p =>
      if (p.getFileName.toString.endsWith(".parquet")) n += 1)
    n
  }

  private def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { Files.delete(f); () })
    }
}
