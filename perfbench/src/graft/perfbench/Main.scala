package graft.perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.engine.GraftSession

/** One benchmark run: one workload, one seed, one measured window. See
  * perfbench/README.md for the workloads and every metric.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, tiny: Boolean, work: String,
                        engineId: String, git: String, buildS: Double,
                        expected: String, spans: String, record: Boolean,
                        corpus: String)

  /** What a workload hands back: the recorder, its set-up time, the named
    * metrics of the report (None where the workload does not exercise
    * them), the per-layer metrics of a traced run, and run facts.
    */
  final case class Outcome(rec: Recorder, setupS: Double,
                           named: Map[String, Double],
                           layers: Map[String, Double] = Map.empty,
                           facts: Map[String, String] = Map.empty)

  /** The gated end-to-end metrics; every workload reports each. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_ms" -> "ms", "cpu_ms_per_op" -> "ms",
    "live_heap_mb" -> "MB")

  /** The named metrics of the report (null where not exercised). */
  val Named: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ingest_events_per_s" -> "events/s",
    "ingest_p50_ms" -> "ms", "ingest_p90_ms" -> "ms", "query_p50_ms" -> "ms",
    "counts_p50_ms" -> "ms", "search_p50_ms" -> "ms", "read_p90_ms" -> "ms",
    "read_ops_per_s" -> "ops/s", "ops_failed_frac" -> "ratio",
    "stored_bytes_per_input_byte" -> "ratio", "operators_total_s" -> "s",
    "peak_rss_mb" -> "MB")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m.get("tiny").contains("1"), m("work"), m.getOrElse("engine-id", "unknown"),
      m.getOrElse("git", "unknown"), m.getOrElse("build-s", "0").toDouble,
      m.getOrElse("expected", ""), m.getOrElse("spans", ""), m.get("record").contains("1"),
      m.getOrElse("corpus", s"${m("work")}/corpus"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.local(cores = cores, appName = "perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val (out, liveHeap) =
      try {
        if (a.record) { Workloads.record(spark, a); sys.exit(0) }
        val o = Workloads.run(spark, a)
        org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
        (o, Machine.liveHeapMb())
      } finally spark.stop()
    val rss = Machine.peakRssMb()
    val rec = out.rec
    val attempted = rec.attempted.get
    val failed = rec.failed.get
    // set-up: the Spark session plus the workload's own (a fresh storage
    // root with its seeding and index build, or the gates' prepared
    // artifacts)
    val setup = sessionS + out.setupS
    val named: Map[String, Double] = out.named ++ Map(
      "setup_s" -> setup, "peak_rss_mb" -> rss,
      "ops_failed_frac" -> failed.toDouble / math.max(1L, attempted))
    val classes = rec.samples.asScala.map(_.cls).toSeq.distinct
    val perClass = classes.map(c => Stats.median(rec.ms(_ == c)))
    val e2e: Map[String, Double] = Map(
      "setup_s" -> setup,
      "latency_ms" -> Stats.geomean(perClass),
      "cpu_ms_per_op" -> rec.cpuS * 1000 / math.max(1, rec.samples.size),
      "live_heap_mb" -> liveHeap)
    val mapper = new ObjectMapper()
    val report = mapper.createObjectNode()
    val stamp = report.putObject("stamp")
    stamp.put("workload", a.workload).put("seed", a.seed).put("seconds", a.seconds)
      .put("trace", a.trace).put("tiny", a.tiny).put("nproc", cores)
      .put("heap_mb", Runtime.getRuntime.maxMemory / (1024 * 1024))
      .put("git_commit", a.git).put("engine_source_id", a.engineId)
      .put("session_start_s", sessionS).put("build_s", a.buildS)
      .put("window_s", rec.windowS).put("window_cpu_s", rec.cpuS)
      .put("window_steal_frac", rec.stealFrac)
    out.facts.foreach { case (k, v) => stamp.put(k, v) }
    val nm = report.putObject("named_metrics")
    Named.foreach { case (k, unit) =>
      val o = nm.putObject(k).put("unit", unit)
      named.get(k).filterNot(_.isNaN) match {
        case Some(v) => o.put("value", v)
        case None => o.putNull("value")
      }
    }
    val ee = report.putObject("end_to_end")
    EndToEnd.foreach { case (k, u) => ee.putObject(k).put("value", e2e(k)).put("unit", u) }
    report.put("workload_setup_s", out.setupS)
    report.put("attempted", attempted).put("failed", failed)
    val fl = report.putArray("failures"); rec.failures.asScala.foreach(fl.add)
    val lat = report.putObject("class_p50_ms")
    classes.sorted.foreach(c => lat.put(c, Stats.median(rec.ms(_ == c))))
    val wrapped = mapper.createObjectNode(); wrapped.set("report", report)
    println(wrapped.toString)

    val result = mapper.createObjectNode()
    result.put("correct", failed == 0).put("attempted", attempted).put("failed", failed)
    val metrics = result.putObject("metrics")
    val chosen: Seq[(String, String, Double)] =
      if (a.trace) Layers.Names.map { case (k, u) => (k, u, out.layers.getOrElse(k, 0.0)) }
      else EndToEnd.map { case (k, u) => (k, u, e2e(k)) }
    chosen.foreach { case (k, u, v) =>
      metrics.putObject(k).put("value", if (v.isNaN || v.isInfinite) 0.0 else v).put("unit", u)
    }
    println(result.toString)
    System.out.flush()
    sys.exit(0)
  }
}
