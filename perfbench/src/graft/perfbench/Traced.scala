package graft.perfbench

import java.time.Instant

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.query.TimeRange

import HttpWorkloads._
import Main.Args

/** Per-layer metric names and units, reported by every traced run (0 for a
  * layer the workload does not reach).
  */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "http.ingest_overhead_ms" -> "ms", "http.read_overhead_ms" -> "ms",
    "http.response_bytes" -> "bytes",
    "ingest.prepare_ms" -> "ms", "ingest.infer_ms" -> "ms", "ingest.count_ms" -> "ms",
    "ingest.write_ms" -> "ms", "ingest.files_per_request" -> "count",
    "catalog.commit_ms" -> "ms", "catalog.commit_jobs" -> "count",
    "catalog.bytes_rewritten_per_commit" -> "bytes", "catalog.vacuum_ms" -> "ms",
    "catalog.resolve_ms" -> "ms", "catalog.versions" -> "count", "catalog.files" -> "count",
    "query.parse_ms" -> "ms", "query.analyze_ms" -> "ms", "query.optimize_ms" -> "ms",
    "query.plan_ms" -> "ms", "query.execute_ms" -> "ms",
    "query.counts_fastpath_ms" -> "ms", "query.counts_fastpath_hit_ratio" -> "ratio",
    "plans.files_scanned" -> "count", "plans.files_pruned_ratio" -> "ratio",
    "plans.bytes_scanned" -> "bytes", "plans.rows_scanned_per_row_returned" -> "ratio",
    "engine.jobs_per_op" -> "count", "engine.stages_per_op" -> "count",
    "engine.tasks_per_op" -> "count", "engine.job_wall_ms" -> "ms",
    "engine.outside_jobs_ms" -> "ms", "engine.task_time_ms" -> "ms",
    "engine.shuffle_bytes" -> "bytes", "engine.spill_bytes" -> "bytes",
    "ml.search_ms" -> "ms", "ml.index_build_ms" -> "ms",
    "operators.analyze_ms" -> "ms", "operators.optimize_ms" -> "ms",
    "operators.plan_ms" -> "ms", "operators.execute_ms" -> "ms", "operators.jobs" -> "count") ++
    Operators.Families.map(f => s"operators.${f}_s" -> "s") ++ Seq(
    "trace.overhead_ms" -> "ms", "trace.overhead_frac" -> "ratio") ++
    ReadShapes.flatMap(s => Seq(s"read.$s.span_ms" -> "ms", s"read.$s.jobs" -> "count"))
}

/** The traced run: one client; each op goes once through HTTP (untraced),
  * once through a bare replay of its handler's calls, and once through the
  * traced replay. Spans are written to a file at the end.
  */
object Traced {
  private val mapper = new ObjectMapper()

  /** One traced op: its HTTP latency and response size, the bare and
    * traced replay walls, and what the replay saw.
    */
  final case class Op(id: String, shape: String, httpMs: Double, bytes: Long,
                      bareMs: Double, tracedMs: Double, out: Replay#Outcome)

  private def wall[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Run the bare and the traced replay of op `i`, alternating which goes
    * first so that neither profits from the other's warm caches.
    */
  private def bareAndTraced[A, B](i: Int)(bare: => A, traced: => B): (A, B) =
    if (i % 2 == 0) { val b = bare; (b, traced) }
    else { val t = traced; (bare, t) }

  private def med(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  private def replayRead(rp: Replay, t: Tracer, op: String, rd: Read,
                         indexDir: String): Replay#Outcome = {
    val b = mapper.readTree(rd.body)
    def range = TimeRange.parse(b.path("startTime").asText(), b.path("endTime").asText())
    rd.path match {
      case "/api/v1/query" => rp.sql(t, op, b.path("query").asText(), range)
      case "/api/v1/counts" => rp.counts(t, op, range, b.path("numBins").asInt(),
        Option(b.get("conditions")).map(c => (c.path("column").asText(), c.path("value").asText())))
      case "/api/v1/query/context" =>
        rp.context(t, op, Instant.parse(b.path("pTimestamp").asText()), b.path("pageSize").asInt())
      case "/api/v1/text/search" => rp.search(t, op, indexDir,
        b.path("query").asText().split(' ').filter(_.nonEmpty).distinct.toSeq, b.path("k").asInt())
    }
  }

  /** Traced run of an HTTP workload. `reads` is None for `ingest`; `mixed`
    * sends one small-batch write per two reads.
    */
  def http(spark: SparkSession, a: Args, site: Site, ledger: Ledger,
           reads: Option[(Reads, History)], rec: Recorder): Map[String, Double] = {
    val sz = sizes(a.tiny)
    val tracer = new Tracer(spark)
    val replay = new Replay(spark, site, Events, "events_replay")
    val indexDir = s"${site.root}/$Docs/.textindex/body"
    val cycle = new Cycle(new Rng(a.seed * 17))
    val batch = if (a.workload == "ingest") sz.ingestBatch else sz.mixedBatch
    val writes = reads.isEmpty || a.workload == "mixed"
    val ops = scala.collection.mutable.ArrayBuffer[Op]()
    var replayed = 0L
    var i = 0
    // run until the deadline, and on until every read shape was traced
    // (for at most a minute more)
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    val cap = deadline + 60000000000L
    val pending = scala.collection.mutable.Set[String]() ++ reads.map(_ => ReadShapes).getOrElse(Nil)
    while (System.nanoTime() < deadline || (pending.nonEmpty && System.nanoTime() < cap)) {
      val write = writes && (reads.isEmpty || i % 3 == 0)
      val shape = if (write) "ingest" else cycle.next()
      pending -= shape
      val id = s"$shape#$i"
      try {
        if (write) {
          val from = ledger.nextId.get
          val r = ingest(site, a.seed, ledger, batch)
          rec.record("ingest", r.ms, ingestProblem(r, batch))
          val body = Inputs.eventsJson(Inputs.events(a.seed, from, batch))
          val (bare, (out, traced)) = bareAndTraced(i)(
            wall(replay.ingest(null, id + ":bare", body))._2,
            wall(replay.ingest(tracer, id, body)))
          replayed += 2 * batch
          ops += Op(id, shape, r.ms, r.body.length.toLong, bare, traced, out)
        } else {
          val rd = reads.get._1.make(shape)
          val r = site.http.post(rd.path, rd.body)
          rec.record(shape, r.ms,
            if (!r.ok) Some(s"status ${r.status}: ${r.body.take(200)}") else rd.check(r.json))
          val (bare, (out, traced)) = bareAndTraced(i)(
            wall(replayRead(replay, null, id + ":bare", rd, indexDir))._2,
            wall(replayRead(replay, tracer, id, rd, indexDir)))
          ops += Op(id, shape, r.ms, r.body.length.toLong, bare, traced, out)
        }
      } catch { case e: Throwable => rec.fail(shape, String.valueOf(e)) }
      i += 1
    }
    // the index build, replayed once into a throwaway dir
    reads.foreach { case (_, h) =>
      replay.indexBuild(tracer, "index_build#0", Docs,
        TimeRange(h.windowStart, h.windowEnd), s"${a.work}/index-replay")
    }
    if (writes) {
      val n = graft.catalog.StatsCatalog.countStar(spark, replay.statsDir)
      rec.check("replay_catalog_rows", n == replayed, s"replay catalog rows $n, replayed $replayed")
    }
    val files = Replay.catalogFiles(spark, site.catalogDir(Events)).toDouble
    finish(tracer, a, ops.toSeq, Map("catalog.files" -> files))
  }

  /** Traced run of the operator gates: bare then traced, gate by gate. */
  def operators(spark: SparkSession, a: Args, gs: Seq[Operators.Gate],
                rows: Map[String, Long], order: Rng, rec: Recorder): Map[String, Double] = {
    val tracer = new Tracer(spark)
    val ops = scala.collection.mutable.ArrayBuffer[Op]()
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var pass = 0
    var i = 0
    while (System.nanoTime() < deadline) {
      order.shuffle(gs).foreach { g =>
        val id = s"${g.name}#$pass"
        i += 1
        try {
          val ((n, bare), (_, traced)) = bareAndTraced(i)(wall(graft.Bench.materialize(g.frame())), wall {
            val df = tracer.span(id, "operators", "analyze_ms") {
              val d = g.frame(); d.queryExecution.analyzed; d
            }
            tracer.span(id, "operators", "optimize_ms")(df.queryExecution.optimizedPlan)
            tracer.span(id, "operators", "plan_ms")(df.queryExecution.executedPlan)
            tracer.span(id, "operators", "execute_ms")(graft.Bench.materialize(df))
          })
          rec.record(g.name, bare,
            Option.when(!rows.get(g.name).contains(n))(s"rows $n != ${rows.get(g.name)}"))
          ops += Op(id, g.name, Double.NaN, 0L, bare, traced, null)
        } catch { case e: Throwable => rec.fail(g.name, String.valueOf(e)) }
      }
      pass += 1
    }
    val fam = Operators.Gates.toMap
    val byPass = ops.groupBy(_.id.split('#')(1)).values
    val complete = byPass.filter(_.size == gs.size)
    val perPass = if (complete.nonEmpty) complete else byPass
    val families = Operators.Families.map { f =>
      s"operators.${f}_s" -> med(perPass.map(_.filter(o => fam(o.shape) == f)
        .map(_.tracedMs).sum / 1000))
    }
    finish(tracer, a, ops.toSeq, families.toMap)
  }

  /** Fold spans into the per-layer metrics: per op, the sum of each call's
    * spans; per metric, the median over the ops that made the call.
    */
  private def finish(tracer: Tracer, a: Args, ops: Seq[Op],
                     extra: Map[String, Double]): Map[String, Double] = {
    tracer.settle()
    val spans = tracer.spans.asScala.toSeq.groupBy(_.op)
    def calls(o: Op): Seq[tracer.Span] = spans.getOrElse(o.id, Nil)
    def call(metric: String, os: Seq[Op] = ops): Double = med(os.flatMap { o =>
      val s = calls(o).filter(x => s"${x.layer}.${x.call}" == metric)
      Option.when(s.nonEmpty)(s.map(_.ms).sum)
    })
    def work(os: Seq[Op])(f: tracer.Work => Long): Double =
      med(os.map(o => calls(o).map(s => f(s.work)).sum.toDouble))
    def extraOf(k: String): Double = med(ops.flatMap(o => Option(o.out).flatMap(_.extra.get(k))))
    val spanSum = (o: Op) => calls(o).map(_.ms).sum
    val ingestOps = ops.filter(_.shape == "ingest")
    val readOps = ops.filter(o => ReadShapes.contains(o.shape))
    val scanOps = readOps.filter(o => o.out != null && o.out.scans.nonEmpty)
    val catalogFiles = extra.getOrElse("catalog.files", 0.0)
    val scanned = scanOps.map(_.out.scans.map(_.files).sum.toDouble)
    val fastpath = readOps.flatMap(_.out.extra.get("query.counts_fastpath_hit"))
    val bare = med(ops.map(_.bareMs))
    val traced = med(ops.map(_.tracedMs))
    val m = scala.collection.mutable.Map[String, Double]()
    Layers.Names.foreach { case (k, _) => m(k) = call(k) }
    m ++= Map(
      "http.ingest_overhead_ms" -> med(ingestOps.map(o => o.httpMs - spanSum(o))),
      "http.read_overhead_ms" -> med(readOps.map(o => o.httpMs - spanSum(o))),
      "http.response_bytes" -> med(ops.filter(!_.httpMs.isNaN).map(_.bytes.toDouble)),
      "ingest.files_per_request" -> extraOf("ingest.files_per_request"),
      "catalog.bytes_rewritten_per_commit" -> extraOf("catalog.bytes_rewritten_per_commit"),
      "catalog.versions" -> extraOf("catalog.versions"),
      "query.counts_fastpath_hit_ratio" -> (if (fastpath.isEmpty) 0.0 else fastpath.sum / fastpath.size),
      "plans.files_scanned" -> med(scanned),
      "plans.files_pruned_ratio" ->
        (if (catalogFiles <= 0 || scanned.isEmpty) 0.0
         else med(scanned.map(s => math.max(0.0, 1.0 - s / catalogFiles)))),
      "plans.bytes_scanned" -> med(scanOps.map(_.out.scans.map(_.bytes).sum.toDouble)),
      "plans.rows_scanned_per_row_returned" ->
        med(scanOps.map(o => o.out.scans.map(_.rows).sum.toDouble / math.max(1L, o.out.rowsOut))),
      "engine.jobs_per_op" -> work(ops)(_.jobs.get),
      "engine.stages_per_op" -> work(ops)(_.stages.get),
      "engine.tasks_per_op" -> work(ops)(_.tasks.get),
      "engine.job_wall_ms" -> work(ops)(_.jobWallMs.get),
      "engine.outside_jobs_ms" -> med(ops.map(o => spanSum(o) - calls(o).map(_.work.jobWallMs.get).sum)),
      "engine.task_time_ms" -> work(ops)(_.taskMs.get),
      "engine.shuffle_bytes" -> work(ops)(_.shuffleBytes.get),
      "engine.spill_bytes" -> work(ops)(_.spillBytes.get),
      "ml.index_build_ms" -> med(spans.getOrElse("index_build#0", Nil).map(_.ms)),
      "operators.jobs" -> work(ops.filter(o => !ReadShapes.contains(o.shape) && o.shape != "ingest"))(_.jobs.get),
      "trace.overhead_ms" -> (traced - bare),
      "trace.overhead_frac" -> (if (bare > 0) (traced - bare) / bare else 0.0))
    // commit jobs: the jobs of the commit span alone
    m("catalog.commit_jobs") = med(ingestOps.flatMap(o =>
      calls(o).filter(s => s.layer == "catalog" && s.call == "commit_ms").map(_.work.jobs.get.toDouble)))
    ReadShapes.foreach { s =>
      val os = readOps.filter(_.shape == s)
      m(s"read.$s.span_ms") = med(os.map(spanSum))
      m(s"read.$s.jobs") = med(os.map(o => calls(o).map(_.work.jobs.get).sum.toDouble))
    }
    m ++= extra
    if (a.spans.nonEmpty) tracer.write(a.spans)
    tracer.close()
    m.toMap
  }
}
