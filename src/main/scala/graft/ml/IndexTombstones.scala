package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.SmallFiles

/** Shared tombstone-deletion machinery for the persisted index families
  * (the ANN indexes in [[Similarity]], the shingle index in [[Dedup]] and
  * the text index in [[TextIndex]]).
  *
  * The contract (documented in full on [[Similarity.deleteFromAnnIndex]]):
  *
  *   - `$path/deletes/`   — (<id>, del_seq) parquet rows, append-only
  *   - `$path/_del_epoch` — monotone delete-event counter (never reset
  *                          except by a full rebuild)
  *   - list rows carry a `seq` stamp: 0 at build, the current epoch at
  *     append — a row is DEAD iff a tombstone with the same id has
  *     `del_seq > seq`, which makes re-insertion after deletion visible
  *     while every copy present at delete time stays hidden.
  *
  * Readers apply the rule as a left-anti join BEFORE any ranking or
  * candidate generation; the tombstone side never touches the driver, so
  * mass deletions scale like any other join. Compaction purges dead rows
  * (same predicate), preserves survivors' `seq` and the epoch file, then
  * clears the log — the crash-window analysis on the callers relies on
  * exactly that order.
  */
private[graft] object IndexTombstones {

  val DeleteDir = "deletes"
  val EpochFile = "_del_epoch"

  private[graft] def fsOf(spark: org.apache.spark.sql.SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())

  def readEpoch(spark: org.apache.spark.sql.SparkSession,
                path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path, EpochFile)
    SmallFiles.read(fsOf(spark, path), p)
      .flatMap(_.toLongOption).getOrElse(0L)
  }

  /** Log one delete event: bump the epoch FIRST (a crash in between
    * leaves a bumped epoch and no tombstones — a retryable no-op delete,
    * never tombstones that outrank appends they shouldn't), then append
    * the id set under the new `del_seq`.
    */
  def logDeletes(spark: org.apache.spark.sql.SparkSession, path: String,
                 ids: DataFrame, srcIdCol: String,
                 listIdCol: String): Unit = {
    val epoch = readEpoch(spark, path) + 1
    SmallFiles.publish(fsOf(spark, path),
      new org.apache.hadoop.fs.Path(path, EpochFile), epoch.toString)
    ids.select(col(srcIdCol).cast("long").as(listIdCol),
        lit(epoch).as("del_seq"))
      .write.mode("append").parquet(s"$path/$DeleteDir")
  }

  /** Default the `seq` stamp for rows predating deletion support (or
    * null-filled rows from a mixed-schema read): epoch 0 = build rows.
    */
  def withSeq(df: DataFrame): DataFrame =
    if (df.columns.contains("seq"))
      df.withColumn("seq", coalesce(col("seq"), lit(0L)))
    else df.withColumn("seq", lit(0L))

  /** Filter tombstoned rows out of an inverted-list read. No deletes dir
    * = identity (plus the seq default). The anti-join has an equi
    * component (the id) so it hash-joins; the tombstone side is small by
    * nature and AQE broadcasts it from actual sizes.
    */
  def applyDeletes(spark: org.apache.spark.sql.SparkSession, path: String,
                   lists: DataFrame, listIdCol: String): DataFrame = {
    val l = withSeq(lists)
    val delPath = new org.apache.hadoop.fs.Path(path, DeleteDir)
    if (!fsOf(spark, path).exists(delPath)) return l
    val dels = spark.read.parquet(delPath.toString)
      .select(col(listIdCol).as("_del_id"), col("del_seq"))
    l.join(dels,
      l(listIdCol) === dels("_del_id") && dels("del_seq") > l("seq"),
      "left_anti")
  }

  /** Drop the tombstone log (post-compaction: survivors already exclude
    * everything the log named). The epoch file is NOT touched — it must
    * stay monotone across compactions so post-compaction deletes outrank
    * pre-compaction appends.
    */
  def clearLog(spark: org.apache.spark.sql.SparkSession,
               path: String): Unit = {
    fsOf(spark, path).delete(
      new org.apache.hadoop.fs.Path(path, DeleteDir), true)
    ()
  }

  /** Full reset (rebuild path): tombstones AND epoch. Callers order this
    * BEFORE their [[Generations.reset]]: a crash in between un-hides rows
    * of the superseded generation only (about to vanish anyway), while
    * the reverse order would leave stale tombstones hiding seq=0 rows of
    * the fresh rebuild.
    */
  def reset(spark: org.apache.spark.sql.SparkSession,
            path: String): Unit = {
    val fs = fsOf(spark, path)
    fs.delete(new org.apache.hadoop.fs.Path(path, DeleteDir), true)
    fs.delete(new org.apache.hadoop.fs.Path(path, EpochFile), false)
    ()
  }
}
