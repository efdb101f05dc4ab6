package graft.perfbench

import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, floor, lit, unix_millis}

import graft.catalog.{StatsCatalog, TxnCatalog}
import graft.ingest.IngestPipeline
import graft.ml.TextIndex
import graft.query.{Counts, QueryService, ResponseWriter, TimeRange}

/** The traced run's second path: each HTTP op replayed through the public
  * calls its handler makes, in handler order, one span per call. With a
  * null tracer the same calls run bare (the untraced replay the tracing
  * overhead is measured against). Ingest replays write to their own stream
  * so the served stream keeps its exact acknowledged count.
  */
final class Replay(spark: SparkSession, site: Site, stream: String,
                   replayStream: String) {
  val registry = new IngestPipeline.SchemaRegistry
  val cfg = IngestPipeline.StreamConfig(replayStream)
  def statsDir: String = site.catalogDir(replayStream)

  final case class Outcome(scans: Seq[PlanScans.Scan], rowsOut: Long,
                           extra: Map[String, Double] = Map.empty)

  private def sp[T](t: Tracer, op: String, layer: String, call: String)(body: => T): T =
    if (t == null) body else t.span(op, layer, call)(body)

  private def parquetFiles(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")).toLong
      finally s.close()
    }
  }

  private def dirBytes(p: java.nio.file.Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
    finally s.close()
  }

  /** handleIngest + appendWithStats. */
  def ingest(t: Tracer, op: String, body: String): Outcome = {
    val before = parquetFiles(site.streamDir(replayStream))
    val evs = sp(t, op, "ingest", "prepare_ms")(IngestPipeline.prepare(body, cfg))
      .fold(sys.error, identity)
    val df = sp(t, op, "ingest", "infer_ms")(
      IngestPipeline.ingestEvents(spark, registry, cfg, evs, "", "127.0.0.1"))
      .fold(sys.error, identity)
    val n = sp(t, op, "ingest", "count_ms")(df.count())
    sp(t, op, "ingest", "write_ms")(IngestPipeline.append(df, site.root, cfg))
    val version = sp(t, op, "catalog", "commit_ms")(
      TxnCatalog.appendNewFilesWatermarked(spark, site.streamDir(replayStream),
        statsDir, Seq("p_timestamp")))
    sp(t, op, "catalog", "vacuum_ms")(TxnCatalog.vacuum(statsDir, keep = 3))
    val after = parquetFiles(site.streamDir(replayStream))
    val snap = Files.list(Paths.get(statsDir)).iterator().asScala
      .find(_.getFileName.toString.startsWith(f"v$version%06d-"))
    Outcome(Nil, n, Map(
      "ingest.files_per_request" -> (after - before).toDouble,
      "catalog.bytes_rewritten_per_commit" -> snap.map(dirBytes).getOrElse(0L).toDouble,
      "catalog.versions" -> (version + 1).toDouble))
  }

  private def streams = site.server.streams

  /** handleQuery: the parse-level checks, the windowed analysis, and the
    * JSON serialization that executes the plan. A bare COUNT(*) takes the
    * catalog fast path instead.
    */
  def sql(t: Tracer, op: String, q: String, range: TimeRange): Outcome = {
    val bare = sp(t, op, "query", "parse_ms") {
      val b = QueryService.bareCountStar(spark, q)
      if (b.isEmpty) {
        QueryService.cteNames(spark, q); QueryService.referencedTables(spark, q)
      }
      b
    }
    if (bare.isDefined) {
      val st = streams(stream)
      val s = range.start.toEpochMilli
      val e = math.max(s + 1, range.end.toEpochMilli)
      val cat = sp(t, op, "catalog", "resolve_ms")(StatsCatalog.resolve(spark, st.catalogPath.get))
      val dense = sp(t, op, "query", "counts_fastpath_ms")(Counts.binDensityFromStats(
        cat, st.timeCol, s, e, e - s, paths => spark.read.parquet(paths: _*)))
      return Outcome(Nil, 1, Map("query.counts_fastpath_hit" -> (if (dense.isDefined) 1.0 else 0.0)))
    }
    val df = sp(t, op, "query", "analyze_ms")(QueryService.query(spark, streams, q, range))
    sp(t, op, "query", "optimize_ms")(df.queryExecution.optimizedPlan)
    sp(t, op, "query", "plan_ms")(df.queryExecution.executedPlan)
    val json = sp(t, op, "query", "execute_ms")(ResponseWriter.toJsonArray(df, sendNull = false))
    Outcome(Seq(PlanScans.of(df)), json.count(_ == '{').toLong)
  }

  /** handleCounts: the stats fast path when unfiltered, else a scan. */
  def counts(t: Tracer, op: String, range: TimeRange, bins: Int,
             where: Option[(String, String)]): Outcome = {
    val st = streams(stream)
    val s = range.start.toEpochMilli
    val rangeMs = math.max(1L, range.end.toEpochMilli - s)
    val binMs = math.max(1L, (rangeMs + bins - 1) / bins)
    where match {
      case None =>
        val cat = sp(t, op, "catalog", "resolve_ms")(StatsCatalog.resolve(spark, st.catalogPath.get))
        val dense = sp(t, op, "query", "counts_fastpath_ms")(Counts.binDensityFromStats(
          cat, st.timeCol, s, range.end.toEpochMilli, binMs, paths => spark.read.parquet(paths: _*)))
        Outcome(Nil, bins.toLong,
          Map("query.counts_fastpath_hit" -> (if (dense.isDefined) 1.0 else 0.0)))
      case Some((c, v)) =>
        val ts = col(st.timeCol).cast("timestamp")
        val df = sp(t, op, "query", "analyze_ms")(
          QueryService.windowedRead(spark, stream, st, range).filter(col(c) === v)
            .groupBy(floor((unix_millis(ts) - s) / binMs).cast("int").as("bin"))
            .agg(count(lit(1)).as("cnt")))
        sp(t, op, "query", "optimize_ms")(df.queryExecution.optimizedPlan)
        sp(t, op, "query", "plan_ms")(df.queryExecution.executedPlan)
        val out = sp(t, op, "query", "execute_ms")(df.collect())
        Outcome(Seq(PlanScans.of(df)), out.length.toLong)
    }
  }

  /** handleQueryContext: two keyset pages around the anchor. */
  def context(t: Tracer, op: String, anchor: Instant, pageSize: Int): Outcome = {
    val st = streams(stream)
    val w = java.time.Duration.ofMinutes(10)
    val (before, after) = sp(t, op, "query", "analyze_ms") {
      val df = QueryService.windowedRead(spark, stream, st,
        TimeRange(anchor.minus(w), anchor.plus(w).plusMillis(1)))
      val ts = col(st.timeCol).cast("timestamp")
      val a = lit(java.sql.Timestamp.from(anchor))
      val half = math.max(1, pageSize / 2)
      (df.filter(ts < a).orderBy(ts.desc).limit(half),
        df.filter(ts >= a).orderBy(ts.asc).limit(pageSize - half))
    }
    sp(t, op, "query", "optimize_ms") {
      before.queryExecution.optimizedPlan; after.queryExecution.optimizedPlan
    }
    sp(t, op, "query", "plan_ms") {
      before.queryExecution.executedPlan; after.queryExecution.executedPlan
    }
    val n = sp(t, op, "query", "execute_ms") {
      ResponseWriter.toJsonArray(before).count(_ == '{') +
        ResponseWriter.toJsonArray(after).count(_ == '{')
    }
    Outcome(Seq(PlanScans.of(before), PlanScans.of(after)), n.toLong)
  }

  /** handleTextSearch on a persisted index. */
  def search(t: Tracer, op: String, indexDir: String, terms: Seq[String], k: Int): Outcome = {
    val rows = sp(t, op, "ml", "search_ms")(
      TextIndex.bm25SearchPersisted(spark, indexDir, terms, k)
        .select(col("doc_id"), col("rk").cast("int").as("rk"), col("score_micro"))
        .orderBy(col("rk")).collect())
    Outcome(Nil, rows.length.toLong)
  }

  /** handleTextIndex's build step over a document stream window. */
  def indexBuild(t: Tracer, op: String, docStream: String, range: TimeRange,
                 dir: String): Unit = {
    val st = streams(docStream)
    sp(t, op, "ml", "index_build_ms") {
      val df = QueryService.windowedRead(spark, docStream, st, range)
        .select(col("doc_id").cast("long").as("doc_id"), col("body").cast("string").as("body"))
        .filter(col("doc_id").isNotNull && col("body").isNotNull)
      df.count()
      TextIndex.saveTextIndex(df, "doc_id", "body", dir)
    }
  }
}

object Replay {
  /** The catalog's current file count (one small job; outside any span). */
  def catalogFiles(spark: SparkSession, dir: String): Long =
    if (!Files.isDirectory(Paths.get(dir))) 0L
    else StatsCatalog.resolve(spark, dir).count()
}
