package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The operator workload: a fixed list of SparkEntry gates over a generated
  * corpus with the schemas of the engine's test tables. The corpus seed is
  * fixed so each gate's row count and order-insensitive hash are constants
  * (perfbench/expected_operators.json); the run seed only orders the gates.
  */
object Operators {
  val CorpusSeed = 42L

  /** Gate → family: dedup (shingles, edit distance), the brute-force and
    * int8 similarity paths kept by the ANN frontier, text kernels, eval,
    * SQL aggregation and sessionization. Hybrid retrieval and the
    * recursive-SQL trace gate are left out: at 2–3 s each on four cores
    * they would not fit the run's time budget.
    */
  val Gates: Seq[(String, String)] = Seq(
    "q_dedup_jaccard" -> "dedup", "q_dedup_editdist" -> "dedup",
    "q_sim_knn" -> "similarity", "q_sim_quantized" -> "similarity",
    "q_text_bm25" -> "text", "q_text_scrub" -> "text",
    "q_eval_auc" -> "eval", "q_agg_pricing" -> "sql",
    "q_sessionize" -> "funnel")
  val Families: Seq[String] = Gates.map(_._2).distinct

  /** Row counts of the generated tables (the engine's smallest corpus has
    * these sizes); only the tables the gates read are written.
    */
  def rows(tiny: Boolean): Map[String, Long] = {
    val f = if (tiny) 0.2 else 1.0
    Map("lineitem" -> 60000L, "events" -> 10000L, "documents" -> 500L, "embeddings" -> 500L)
      .map { case (k, v) => k -> math.max(20L, (v * f).toLong) }
  }

  private val Words = Seq("join", "hash", "row", "batch", "scan", "column",
    "customer", "filter", "query", "table", "value", "window", "stream",
    "merge", "sort", "order", "group", "agg", "key", "part", "line", "spark",
    "data", "fast", "slow", "big", "small", "a", "the", "index", "cache")

  /** Uniform integer in [0, m) from (row id, salt): independent of
    * partitioning, so the corpus is the same on any core count.
    */
  private def u(m: Long, salt: Int, id: Column = col("id")): Column =
    pmod(xxhash64(lit(CorpusSeed), id, lit(salt)), lit(m))

  private def pick(xs: Seq[String], salt: Int): Column =
    element_at(array(xs.map(lit): _*), (u(xs.size.toLong, salt) + 1).cast("int"))

  private def day(from: String, days: Int, salt: Int): Column =
    date_add(lit(from).cast("date"), u(days.toLong, salt).cast("int"))
      .cast("timestamp").cast("timestamp_ntz")

  /** Generate the corpus into `dir` unless an earlier run of the same build
    * did; returns the seconds spent. Like the generated HTTP requests it is
    * an input, not engine set-up, so it is made once per build.
    */
  def ensureCorpus(spark: SparkSession, dir: String, tiny: Boolean): Double = {
    val done = java.nio.file.Paths.get(dir, "_CORPUS_COMPLETE")
    if (java.nio.file.Files.exists(done)) 0.0
    else {
      val t0 = System.nanoTime()
      generate(spark, dir, tiny)
      java.nio.file.Files.createFile(done)
      (System.nanoTime() - t0) / 1e9
    }
  }

  private def generate(spark: SparkSession, dir: String, tiny: Boolean): Unit = {
    val n = rows(tiny)
    def range(t: String) = spark.range(0, n(t), 1, 4)
    def write(t: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$t.parquet")
    write("lineitem", range("lineitem").select(u(15000, 17).as("l_orderkey"),
      u(2000, 18).as("l_partkey"), u(100, 19).as("l_suppkey"),
      (u(7, 20) + 1).cast("int").as("l_linenumber"), (u(50, 21) + 1).cast("double").as("l_quantity"),
      ((u(10000000, 22) + 90000) / 100.0).as("l_extendedprice"), (u(11, 23) / 100.0).as("l_discount"),
      (u(9, 24) / 100.0).as("l_tax"), pick(Seq("A", "N", "R"), 25).as("l_returnflag"),
      pick(Seq("F", "O"), 26).as("l_linestatus"), day("1992-01-01", 2500, 27).as("l_shipdate")))
    write("events", range("events").select(col("id").as("event_id"),
      (lit("2024-01-01").cast("timestamp") + make_dt_interval(lit(0), lit(0), lit(0),
        (col("id") * 259 + u(200, 28)).cast("decimal(18,6)"))).cast("timestamp_ntz").as("ts"),
      u(150, 29).as("user_id"), pick(Seq("signup", "error", "click", "view", "purchase"), 30).as("event_type"),
      (u(1000, 31) / 100.0).as("value"), format_string("{\"k\": %d}", u(100, 32)).as("props")))
    // documents: words from a small vocabulary; every seventh document is a
    // near copy of an earlier one so the dedup gates have work
    val base = when(col("id") % 7 === 3, col("id") - 3).otherwise(col("id"))
    val len = (u(80, 33, base) + 8).cast("int")
    val words = transform(sequence(lit(1), len), i =>
      when(col("id") % 7 === 3 && i === 2, lit("novel")).otherwise(
        element_at(array(Words.map(lit): _*),
          (pmod(xxhash64(lit(CorpusSeed), base, i), lit(Words.size.toLong)) + 1).cast("int"))))
    write("documents", range("documents").select(col("id").as("doc_id"),
      concat_ws(" ", words).as("text"), pick(Seq("en", "en", "de", "fr", "es", "zh"), 34).as("lang"),
      concat(lit("src"), u(20, 35)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    // embeddings: ten labelled clusters in 64 dimensions
    val dims = sequence(lit(0), lit(63))
    write("embeddings", range("embeddings").select(col("id").as("vec_id"),
      transform(dims, j => ((pmod(xxhash64(lit(CorpusSeed), col("id") % 10, j), lit(2000L)) - 1000) / 4000.0 +
        (pmod(xxhash64(lit(CorpusSeed + 1), col("id"), j), lit(2000L)) - 1000) / 20000.0)
        .cast("float")).as("embedding"),
      (col("id") % 10).cast("int").as("label")))
  }

  /** A gate's body: prepared gates search a once-built artifact. */
  final class Gate(val name: String, val family: String, spark: SparkSession,
                   dir: String) {
    private val prepared = SparkEntry.prepared.get(name)
    private var artifact: AnyRef = _
    def prepare(): Unit = prepared.foreach(p => artifact = p.build(spark, dir))
    def frame(): DataFrame = prepared match {
      case Some(p) => p.search(spark, dir, artifact)
      case None => SparkEntry.queries(name)(spark, dir)
    }
  }

  /** Row count and order-insensitive hash of a gate's result. Floating
    * columns are rounded so the hash does not depend on summation order.
    */
  def fingerprint(df: DataFrame): (Long, Long) = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => round(c.cast("double"), 6)
      case ArrayType(et, _) => transform(c, x => norm(x, et))
      case _ => c
    }
    val cols = df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    // summands below 2^40 keep the sum clear of long overflow
    val r = df.select(pmod(h, lit(1L << 40)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}
