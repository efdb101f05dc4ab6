package graft.query

import java.time.Duration

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Counts/histogram API: time-binned event counts with optional top-k group
  * breakdown.
  *
  * Re-expresses the reference's counts SQL generator (parseable
  * `src/query/mod.rs:665-735`) as a declarative DataFrame plan:
  *   - `DATE_BIN('<interval>', time, epoch)` → [[dateBin]] column arithmetic
  *     (Spark lacks date_bin; floor-to-interval on epoch millis is exact for
  *     the minute/hour/day bins the API generates).
  *   - auto bin width (`src/utils/time.rs:68-80`): 1m (≤1h) … 1d.
  *   - top-k groups (`src/query/mod.rs:708-735`): totals `ORDER BY count DESC
  *     LIMIT k`, joined back with null-safe equality — the join side is tiny
  *     (k rows) so it is explicitly broadcast: no shuffle of the binned side.
  */
object Counts {

  /** Floor `time` to `binMillis`-wide bins anchored at the Unix epoch.
    * Exact equivalent of DATE_BIN(interval, time, '1970-01-01') for
    * positive-epoch data: bin = (millis div width) * width.
    */
  def dateBin(time: Column, binMillis: Long): Column =
    timestamp_millis(
      (unix_millis(time.cast("timestamp")) / binMillis).cast("long") * lit(binMillis))
      .cast("timestamp_ntz")

  /** Auto bin width: mirrors reference `src/utils/time.rs:68-80`. */
  def autoBinMillis(range: Duration): Long = {
    val m = 60L * 1000
    if (range.toHours <= 5) m // 1 minute
    else if (range.toHours <= 24) 5 * m // 5 minutes
    else if (range.toDays < 10) 60 * m // 1 hour
    else 24 * 60 * m // 1 day
  }

  /** Histogram: count of rows per time bin. */
  def histogram(df: DataFrame, timeCol: String, binMillis: Long): DataFrame =
    df.groupBy(dateBin(col(timeCol), binMillis).as("bin_start"))
      .agg(count(lit(1)).as("bin_count"))

  /** One-level pre-aggregate ("rollup"): per (time bin, groups) partial
    * stats chosen to be MERGEABLE — count, exact decimal sum, min, max.
    * This is the materialization the reference's per-minute partition
    * layout implies (`src/lib.rs:83` 1-minute data granularity): persist
    * the finest bin once, answer every coarser-bin query from it.
    */
  def rollup(df: DataFrame, timeCol: String, valueCol: String,
             groupCols: Seq[String], binMillis: Long): DataFrame =
    df.groupBy(dateBin(col(timeCol), binMillis).as("bin_start") +:
        groupCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"),
        sum(col(valueCol).cast("decimal(18,2)")).as("sum_dec"),
        min(col(valueCol)).as("min_v"),
        max(col(valueCol)).as("max_v"))

  /** Merge a finer rollup into coarser bins WITHOUT touching raw data:
    * count-of-counts, sum-of-sums (decimal — exact, order-independent),
    * min-of-mins, max-of-maxes. At 100 TB this is the difference between
    * scanning a day of raw events and scanning 1440 pre-aggregated rows
    * per group: the cascade input is O(bins × groups), independent of raw
    * volume. `finalize` emits the query-facing frame (doubles + avg); the
    * non-finalized frame can keep cascading (1m → 1h → 1d).
    */
  def mergeRollup(fine: DataFrame, groupCols: Seq[String],
                  coarseBinMillis: Long): DataFrame =
    fine.groupBy(dateBin(col("bin_start"), coarseBinMillis).as("bin_start") +:
        groupCols.map(col): _*)
      .agg(sum(col("cnt")).as("cnt"),
        sum(col("sum_dec")).as("sum_dec"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"))

  /** Query-facing view of a rollup: exact decimal sum cast to double once,
    * average derived by a single exact division. No decimal column leaves.
    */
  def finalizeRollup(rollup: DataFrame, groupCols: Seq[String]): DataFrame =
    rollup.select(col("bin_start") +: groupCols.map(col) :+
      col("cnt") :+
      col("sum_dec").cast("double").as("sum_v") :+
      col("min_v") :+ col("max_v") :+
      (col("sum_dec").cast("double") / col("cnt")).as("avg_v"): _*)

  /** Histogram bin densities answered from a [[graft.catalog.StatsCatalog]]
    * frame instead of the data — the reference's `get_bin_density`
    * (`src/query/mod.rs:537-662`): a file whose `[min, max]` time span sits
    * entirely inside one bin contributes its exact `num_rows` from catalog
    * METADATA; only files that straddle a bin boundary (or the range edge,
    * or carry no time stats) are actually scanned. With minute-partitioned
    * ingest and ≥1-minute bins nearly every file is contained, so a
    * 100 TB histogram costs one tiny catalog aggregate plus a scan of the
    * handful of boundary files. Over a driver-resident [[graft.catalog.TxnCatalog]]
    * version the metadata half is a driver fold: no Spark job.
    *
    * Returns sparse `(binIndex, count)` pairs for bins intersecting
    * `[startMs, endMs)`, or `None` when more than `maxStraddlers` files
    * would need scanning — the caller should fall back to a plain scan
    * (the fast path would not be fast).
    */
  def binDensityFromStats(
      cat: DataFrame,
      timeCol: String,
      startMs: Long,
      endMs: Long,
      binMillis: Long,
      readFiles: Seq[String] => DataFrame,
      maxStraddlers: Int = 10000): Option[Seq[(Int, Long)]] = {
    val mn = unix_millis(to_timestamp(col(s"min_$timeCol")))
    val mx = unix_millis(to_timestamp(col(s"max_$timeCol")))
    val (fromStats, straddlers) = graft.catalog.TxnCatalog.residentOf(cat) match {
      case Some(snapshot) =>
        // resident catalog: each file's time span is computed once per
        // snapshot, then binned on the driver with the same rules as the
        // Spark plan below (no Spark job)
        val spans = snapshot.derived(s"time-span:$timeCol:" +
            cat.sparkSession.conf.get("spark.sql.session.timeZone")) {
          cat.select(col("file_path"), col("num_rows").cast("long"), mn, mx)
            .collect()
        }
        val stats = Seq.newBuilder[(Int, Long)]
        val straddling = Seq.newBuilder[String]
        spans.foreach { r =>
          if (r.isNullAt(2) || r.isNullAt(3)) straddling += r.getString(0)
          else {
            val (lo, hi) = (r.getLong(2), r.getLong(3))
            if (hi >= startMs && lo < endMs) {
              val bin = (lo - startMs) / binMillis
              if (lo >= startMs && hi < endMs &&
                  bin == (hi - startMs) / binMillis)
                stats += bin.toInt -> (if (r.isNullAt(1)) 0L else r.getLong(1))
              else straddling += r.getString(0)
            }
          }
        }
        (stats.result(), straddling.result().take(maxStraddlers + 1))
      case None =>
        // no-stats files can hold in-range rows: keep them (as straddlers)
        val overlap = cat
          .select(col("file_path"), col("num_rows"), mn.as("mn"), mx.as("mx"))
          .filter(col("mn").isNull || col("mx").isNull ||
            (col("mx") >= startMs && col("mn") < endMs))
          .withColumn("bmin",
            floor((col("mn") - startMs) / binMillis).cast("int"))
          .withColumn("bmax",
            floor((col("mx") - startMs) / binMillis).cast("int"))
        val contained = col("mn").isNotNull && col("mx").isNotNull &&
          col("mn") >= startMs && col("mx") < endMs &&
          col("bmin") === col("bmax")
        // the metadata half: one aggregate over catalog rows, never the data
        (overlap.filter(contained)
          .groupBy(col("bmin").as("bin"))
          .agg(sum(col("num_rows")).as("cnt"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq,
          overlap.filter(!contained).select("file_path")
            .limit(maxStraddlers + 1)
            .collect().map(_.getString(0)).toSeq)
    }
    if (straddlers.size > maxStraddlers) return None
    val scanned =
      if (straddlers.isEmpty) Seq.empty[(Int, Long)]
      else {
        val t = unix_millis(col(timeCol).cast("timestamp"))
        readFiles(straddlers)
          .filter(t >= startMs && t < endMs)
          .groupBy(floor((t - startMs) / binMillis).cast("int").as("bin"))
          .agg(count(lit(1)).as("cnt"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq
      }
    Some((fromStats ++ scanned).groupBy(_._1).view
      .mapValues(_.map(_._2).sum).toSeq)
  }

  /** Binned counts broken down by the top-k groups (by total count).
    *
    * Two aggregations over the same shuffle key-space + a broadcast join of
    * the k winning groups — the large input is shuffled once per aggregate
    * and never joined shuffle-to-shuffle.
    *
    * Determinism: ties in total count are broken by the group columns
    * ascending, mirroring what the oracle SQL must also declare.
    */
  def topKCounts(
      df: DataFrame,
      timeCol: String,
      groupCols: Seq[String],
      binMillis: Long,
      k: Int = 10): DataFrame = {
    val gcols = groupCols.map(col)
    val topK = df
      .groupBy(gcols: _*)
      .agg(count(lit(1)).as("total_count"))
      .orderBy(col("total_count").desc +: gcols.map(_.asc): _*)
      .limit(k)

    val binned = df
      .groupBy(dateBin(col(timeCol), binMillis).as("bin_start") +: gcols: _*)
      .agg(count(lit(1)).as("bin_count"))

    // Null-safe equality mirrors the reference's `(a = b OR (a IS NULL AND
    // b IS NULL))` join predicate (src/query/mod.rs:716-735).
    val topKRenamed = topK.select(
      groupCols.map(c => col(c).as(s"__k_$c")) :+ col("total_count"): _*)
    binned
      .join(broadcast(topKRenamed),
        groupCols.map(c => binned(c) <=> col(s"__k_$c")).reduce(_ && _))
      .select(col("bin_start") +: gcols :+ col("bin_count") :+ col("total_count"): _*)
  }
}
