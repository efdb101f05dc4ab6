package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table registry for the graft engine.
  *
  * Mirrors the reference's session tuning (parseable `src/query/mod.rs:212-278`
  * `create_session_state`) re-expressed as Spark SQL conf: filter pushdown,
  * page-index pruning and partition parallelism are Spark-native; we pin the
  * knobs that differ from Spark defaults and matter at 100 TB scale.
  */
object GraftSession {

  /** Conf applied to any session the engine builds. Also safe to apply to an
    * externally-provided session (driver-owned) via [[tune]].
    */
  val tuning: Seq[(String, String)] = Seq(
    // AQE: runtime coalescing + skew-join handling — the scale path for
    // shuffles whose ideal partitioning is data-dependent.
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // Parquet scan: pushdown + vectorized reader (reference enables the
    // DataFusion equivalents explicitly; Spark defaults on — keep pinned).
    "spark.sql.parquet.filterPushdown" -> "true",
    "spark.sql.parquet.aggregatePushdown" -> "true",
    // Reference executes with 20k-row batches (src/cli.rs:479-482); Spark's
    // columnar batch default is 4096 — raise toward the reference's choice.
    "spark.sql.parquet.columnarReaderBatchSize" -> "16384",
    "spark.sql.session.timeZone" -> "UTC",
    // Timestamps are written as INT64 micros, which carry column-chunk
    // min/max in the footer (Spark's default INT96 carries none): the stats
    // catalog builds a new file's row from its footer on the driver instead
    // of a Spark aggregate over the file. Read-back type is unchanged.
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    // The synthetic events table stores TIMESTAMP(NANOS) which Spark's
    // vectorized reader rejects; read as long and convert (see [[table]]).
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Timestamps without timezone annotation read as TIMESTAMP_NTZ so the
    // engine's outputs carry naive (UTC) semantics end-to-end.
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "true",
    // Broadcast threshold: dims (region/nation/supplier at any SF, centroid
    // tables) must broadcast rather than shuffle.
    "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
    // Partition discovery: the default threshold (32 paths) launches a
    // DISTRIBUTED listing job for any bucket-partitioned index read
    // (postings/doclens ship 64+ bucket dirs), charging ~0.2 s of job
    // overhead to every search's DataFrame construction. 1024 paths list
    // on the driver in well under that on any filesystem; genuinely large
    // tables (100 TB directory trees) still cross the threshold and keep
    // the parallel listing path.
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "1024",
    // InferFiltersFromGenerate synthesizes `size(e) > 0 AND isnotnull(e)`
    // under every explode; predicate pushdown then substitutes the
    // generator's full defining expression into each copy — for the
    // kernel-computed shingle/window arrays that re-ran the whole
    // tokenize→ngram→hash pipeline 3 extra times per row (visible in the
    // final plan's Filter). The inference only pays when an explode sits
    // far above a selective scan, which no engine path does; the engine's
    // explodes all follow their defining projection directly.
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
  )

  def tune(spark: SparkSession): SparkSession = {
    tuning.foreach { case (k, v) => spark.conf.set(k, v) }
    graft.functions.GraftFunctions.register(spark)
    graft.operators.TopK.install(spark)
    spark
  }

  /** Local session for tests/benchmarks. `cores` maps to the reference's
    * `target_partitions` (4×cores there; here 1 shuffle partition per core —
    * AQE coalesces down, skew-split raises, so the static number only seeds).
    */
  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val b = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
    tuning.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // full engine surface on every factory session: SQL-visible graft_*
    // functions + custom planner strategies (tune is idempotent; configs
    // were already applied at build time above)
    tune(spark)
  }

  /** Table names of the driver-generated test corpus (TESTDATA.md). */
  val tables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Columns that have shipped as TIMESTAMP(NANOS) in some corpus
    * generations — surfaced as long (see nanosAsLong above) and converted
    * to µs TIMESTAMP_NTZ here, matching DuckDB's ns→µs truncation. Newer
    * corpus generations store µs timestamps, which Spark reads natively as
    * TIMESTAMP_NTZ — the conversion keys off the READ type, so both
    * layouts normalize to the same µs TIMESTAMP_NTZ column.
    */
  private val nanoTimestampCols: Map[String, Seq[String]] =
    Map("events" -> Seq("ts"))

  /** Scan fan-out for KERNEL-HEAVY pipelines, SCALE-ADAPTIVE: when a
    * frame's entire input is below one planner split (single file under
    * `spark.sql.files.maxPartitionBytes`, single row group), its scan
    * runs as ONE task — and with it all scan-side work: per-row kernels
    * (tokenize/shingle/hash/decode/encode), partial aggregation. On a
    * 32-core local session that serializes the dominant stage of every
    * kernel-heavy query (measured: multimodal decode 1.6 s single-task
    * → 0.5 s fanned out). A round-robin repartition to
    * `defaultParallelism` fans the rows out for a one-off shuffle of a
    * ≤ one-split input; predicates and column pruning still push
    * through the exchange to the parquet scan. At production scale the
    * input is many files/row groups, the planner parallelizes the scan
    * itself, and this is a no-op by construction.
    *
    * Deliberately NOT applied inside [[table]]: for scan-only or
    * keyed-shuffle queries (sampling filters, joins on another key,
    * windowed sessionization) the extra exchange is pure overhead —
    * measured +0.3–1.2 s per query. Call sites are the operator entry
    * points whose pre-shuffle kernel work dominates.
    */
  def fanOutSmall(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // optimizedPlan would throw; no-op instead
    val spark = df.sparkSession
    val para = spark.sparkContext.defaultParallelism
    if (para <= 1) return df
    val plan = df.queryExecution.optimizedPlan
    // only scan-rooted frames qualify: a local/in-memory relation is
    // already driver-resident and small — an exchange buys nothing there
    // (and the decode/tokenize operators keep their narrow-pass contract
    // on literal inputs)
    val leaves = plan.collectLeaves()
    val scanRooted = leaves.nonEmpty && leaves.forall {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        true
      case _ => false
    }
    if (!scanRooted) return df
    // already fanned out (or otherwise shuffled) upstream — a second
    // round-robin exchange would be pure overhead
    val hasShuffle = plan.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical
          .RepartitionOperation => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Join => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => true
      case _ => false
    }
    if (hasShuffle) return df
    val bytes = plan.stats.sizeInBytes
    if (bytes > 0 &&
        bytes <= BigInt(spark.sessionState.conf.filesMaxPartitionBytes))
      df.repartition(para)
    else df
  }

  /** Read one test table from a scale-factor directory. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    nanoTimestampCols.getOrElse(name, Nil).foldLeft(df) { (d, c) =>
      d.schema(c).dataType match {
        case org.apache.spark.sql.types.LongType =>
          // `div` keeps the arithmetic in long space (ns values overflow
          // the 2^53 double mantissa, so `/` would corrupt them).
          d.withColumn(c,
            org.apache.spark.sql.functions
              .expr(s"CAST(timestamp_micros($c div 1000) AS TIMESTAMP_NTZ)"))
        case _ =>
          // already a timestamp (µs corpus) — pin NTZ semantics only.
          d.withColumn(c,
            org.apache.spark.sql.functions.expr(s"CAST($c AS TIMESTAMP_NTZ)"))
      }
    }
  }
}
