package graft.http

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpExchange
import org.apache.spark.sql.functions.{col, count, floor, lit, unix_millis}

import graft.engine.SmallFiles
import graft.ingest.IngestPipeline
import graft.query.{Alerts, Counts, QueryService, Rbac, ResponseWriter, TimeRange}

import GraftHttpServer._

/** Console-serving surfaces: about, prism home/stream info, demo
  * data, the OTel demo generator and process metrics.
  *
  * One surface of [[GraftHttpServer]] — split out for maintainability;
  * state and shared plumbing stay on the server class (self-type).
  */
private[http] trait PrismRoutes { self: GraftHttpServer =>

  private val prismLog = org.slf4j.LoggerFactory.getLogger(classOf[PrismRoutes])

  /** `GET /api/v1/about` (reference `handlers/http/about.rs`): instance
    * metadata for the console. `deploymentId` persists in the storage
    * root, so every node of a cluster (and every restart) reports the
    * same id — the reference stores it in object-store metadata the same
    * way.
    */
  private[http] def handleAbout(ex: HttpExchange): Unit =
    authedUser(ex) match {
      case Left(msg) => err(ex, 401, msg)
      case Right(_) =>
        val o = mapper.createObjectNode()
        o.put("version", GraftHttpServer.Version)
        o.put("commit", GraftHttpServer.Commit)
        o.put("deploymentId", deploymentId)
        o.put("mode", role.name)
        o.put("oidcActive", oidc.isDefined)
        o.put("license", "AGPL-3.0-only")
        o.put("staging", root)
        val store = o.putObject("store")
        store.put("type", "filesystem")
        store.put("path", root)
        respond(ex, 200, mapper.writeValueAsString(o))
    }

  private[http] lazy val deploymentId: String = {
    val p = java.nio.file.Paths.get(root, ".graft", "deployment_id")
    if (java.nio.file.Files.isRegularFile(p))
      new String(java.nio.file.Files.readAllBytes(p), UTF_8).trim
    else {
      val id = randomToken().take(16)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, id.getBytes(UTF_8))
      id
    }
  }

  /** `GET /api/v1/demodata?action=…` (reference `demo_data.rs`): seed the
    * instance with sample data. `action=ingest` generates a deterministic
    * batch of structured web-access events into the `demodata` stream
    * in-process (the reference shells out to a script that POSTs the same
    * kind of payload); `filters` / `dashboards` / `alerts` create one
    * sample saved object each, so a fresh console has something to show.
    */
  private[http] def handleDemoData(ex: HttpExchange): Unit =
    authedUser(ex) match {
      case Left(msg) => err(ex, 401, msg)
      case Right(userOpt) =>
        if (role == Cluster.Querier) {
          err(ex, 404, "demo data needs an ingest-capable node"); return
        }
        val tenant = tenantOf(userOpt)
        queryParams(ex).get("action") match {
          case None => err(ex, 400, "missing query parameter 'action'")
          case Some("ingest") =>
            val events = GraftHttpServer.demoEvents(200)
            val cfg = streamConfig(tenantKey(tenant, "demodata"))
            IngestPipeline.ingest(spark, registry, cfg,
                events, "demo-data", "127.0.0.1") match {
              case Left(msg) => err(ex, 500, msg)
              case Right(df) =>
                val n = IngestPipeline.rowCount(df)
                appendWithStats(df, cfg)
                ingestedEvents.addAndGet(n)
                countStreamIngest(cfg.name, n,
                  events.map(_.toString.length.toLong).sum)
                respond(ex, 200, mapper.writeValueAsString(
                  mapper.createObjectNode()
                    .put("status", "ok").put("stream", "demodata")
                    .put("events", n)))
            }
          case Some("filters") =>
            val node = mapper.createObjectNode()
            node.put("filter_name", "demo 5xx errors")
            node.put("stream_name", "demodata")
            node.put("query", "SELECT * FROM demodata WHERE status >= 500")
            val user = userOpt.getOrElse("anonymous")
            respond(ex, 200, mapper.writeValueAsString(
              userConfigs.create(tenant, user, UserConfigs.Filters, node)))
          case Some("dashboards") =>
            val node = mapper.createObjectNode()
            node.put("name", "Demo traffic")
            node.putArray("tiles").addObject()
              .put("title", "Requests per minute")
              .put("stream", "demodata")
            val user = userOpt.getOrElse("anonymous")
            respond(ex, 200, mapper.writeValueAsString(
              userConfigs.create(tenant, user, UserConfigs.Dashboards, node)))
          case Some("alerts") =>
            val node = mapper.createObjectNode()
            node.put("title", "Demo error spike")
            node.put("stream", "demodata")
            node.put("agg", "count")
            node.put("column", "status")
            node.put("operator", "above")
            node.put("threshold", 100)
            alertStore.createAlert(tenant, node) match {
              case Left(msg)      => err(ex, 500, msg)
              case Right(stamped) =>
                respond(ex, 200, mapper.writeValueAsString(stamped))
            }
          case Some(other) => err(ex, 400, s"unknown action '$other'")
        }
    }

  /** OTel demo generator (reference `handlers/http/otel_generator.rs`):
    * `POST /api/v1/otel_generator` (`{"durationSecs": n,
    * "intervalMillis": m?}`) starts one background producer per tenant
    * that pushes a deterministic OTLP logs batch through the SAME
    * flatten/ingest pipeline as `/v1/logs` every interval, into the
    * `otel-demo-logs` stream; `DELETE` stops it; `GET` reports status.
    * 202/409 start semantics as in the reference.
    */
  private[http] final class OtelGenerator(tenant: String, durationSecs: Long,
                                    intervalMillis: Long) {
    val startedAtMs: Long = System.currentTimeMillis()
    @volatile var batches: Long = 0L
    @volatile private var stopRequested = false
    private val thread = new Thread(() => {
      val deadline = startedAtMs + durationSecs * 1000L
      val cfg = streamConfig(tenantKey(tenant, "otel-demo-logs"))
      while (!stopRequested && System.currentTimeMillis() < deadline) {
        try {
          val events = graft.ingest.OtelFlatten.flattenLogs(
            GraftHttpServer.otelDemoBatch(batches, 5))
          IngestPipeline.ingestEvents(spark, registry, cfg, events,
              "otel-generator", "127.0.0.1")
            .foreach(appendWithStats(_, cfg))
          batches += 1
        } catch { case _: Exception => () } // never kill the loop
        Thread.sleep(intervalMillis)
      }
      generators.remove(tenant, this)
      ()
    }, s"graft-otel-generator-$tenant")
    thread.setDaemon(true)
    def start(): Unit = thread.start()
    def stop(): Unit = { stopRequested = true }
    def running: Boolean = thread.isAlive && !stopRequested
  }

  private[http] val generators =
    new java.util.concurrent.ConcurrentHashMap[String, OtelGenerator]()

  private[http] def handleOtelGenerator(ex: HttpExchange): Unit =
    authedUser(ex) match {
      case Left(msg) => err(ex, 401, msg)
      case Right(userOpt) =>
        if (role == Cluster.Querier) {
          err(ex, 404, "the generator needs an ingest-capable node"); return
        }
        val tenant = tenantOf(userOpt)
        ex.getRequestMethod match {
          case "POST" =>
            val body =
              try mapper.readTree(new String(
                ex.getRequestBody.readAllBytes(), UTF_8))
              catch {
                case _: com.fasterxml.jackson.core.JacksonException =>
                  mapper.createObjectNode()
              }
            val duration = body.path("durationSecs").asLong(86400L)
            if (duration <= 0 || duration > GraftHttpServer.MaxGeneratorSecs) {
              err(ex, 400, "durationSecs must be between 1 and " +
                s"${GraftHttpServer.MaxGeneratorSecs}")
              return
            }
            val interval = math.max(50L,
              body.path("intervalMillis").asLong(1000L))
            val fresh = new OtelGenerator(tenant, duration, interval)
            if (generators.putIfAbsent(tenant, fresh) != null) {
              err(ex, 409, "generator already running for this tenant")
            } else {
              fresh.start()
              respond(ex, 202, """{"status":"accepted",""" +
                """"message":"OTel demo generator started"}""")
            }
          case "DELETE" =>
            Option(generators.remove(tenant)) match {
              case Some(g) =>
                g.stop()
                respond(ex, 200, """{"status":"stopped"}""")
              case None => respond(ex, 200, """{"status":"not running"}""")
            }
          case "GET" =>
            Option(generators.get(tenant)) match {
              case Some(g) =>
                respond(ex, 200, mapper.writeValueAsString(
                  mapper.createObjectNode()
                    .put("status", if (g.running) "running" else "stopping")
                    .put("startedAt",
                      java.time.Instant.ofEpochMilli(g.startedAtMs).toString)
                    .put("batches", g.batches)))
              case None =>
                respond(ex, 200, """{"status":"not running"}""")
            }
          case _ => err(ex, 405, "POST, DELETE or GET")
        }
    }

  /** `GET /api/v1/metrics` — Prometheus text exposition of the server's
    * request counters (the reference mounts `actix_web_prometheus`
    * here). Unauthenticated, as scrapers expect.
    */
  /** Stored bytes of one stream's directory, TTL-cached per stream.
    *
    * Two failure modes of a naive walk-per-scrape (both hit in review):
    * scrape latency grows linearly with file count under a 15 s
    * Prometheus interval, and `Files.walk`'s lazy stream throws
    * `UncheckedIOException` out of the terminal op when compaction swaps
    * a directory mid-iteration — failing the WHOLE scrape. So: results
    * are cached for [[PrismRoutes.StorageWalkTtlMs]] (staleness bounded
    * at one scrape interval — fine for a capacity gauge), and the walk is
    * a `walkFileTree` visitor whose `visitFileFailed` CONTINUEs, so a
    * vanished file contributes 0 instead of aborting.
    */
  private def storageBytes(stream: String): Long = {
    import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
    import java.nio.file.attribute.BasicFileAttributes
    val now = System.currentTimeMillis()
    val cached = storageBytesCache.get(stream)
    if (cached != null && now - cached._2 < PrismRoutes.StorageWalkTtlMs)
      return cached._1
    val dir = Paths.get(root, stream)
    var sum = 0L
    if (Files.isDirectory(dir)) {
      try Files.walkFileTree(dir, new SimpleFileVisitor[Path] {
        override def visitFile(f: Path, attrs: BasicFileAttributes)
            : FileVisitResult = {
          sum += attrs.size(); FileVisitResult.CONTINUE
        }
        override def visitFileFailed(f: Path, e: java.io.IOException)
            : FileVisitResult = FileVisitResult.CONTINUE
      })
      catch { case _: java.io.IOException => () }
    }
    storageBytesCache.put(stream, (sum, now))
    sum
  }

  private val storageBytesCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  private[http] def handleMetrics(ex: HttpExchange): Unit = {
    val up = (System.currentTimeMillis() - startedAtMs) / 1000.0
    val body = new StringBuilder
    def metric(name: String, help: String, kind: String, v: String): Unit = {
      body ++= s"# HELP $name $help\n# TYPE $name $kind\n$name $v\n"
      ()
    }
    metric("graft_uptime_seconds", "Seconds since server start", "gauge",
      f"$up%.1f")
    metric("graft_ingest_requests_total", "Ingest API calls", "counter",
      ingestCalls.get.toString)
    metric("graft_ingested_events_total", "Events accepted via HTTP ingest",
      "counter", ingestedEvents.get.toString)
    metric("graft_query_requests_total", "Query API calls", "counter",
      queryCalls.get.toString)
    metric("graft_streams", "Registered streams (all tenants)", "gauge",
      (configs.keySet.asScala.toSet ++ metaStore.streams()).size.toString)
    // per-stream labeled series (reference EVENTS_INGESTED /
    // EVENTS_INGESTED_SIZE / STORAGE_SIZE vecs). Storage size is walked
    // at scrape time — the scrape pays one listing per stream dir rather
    // than every append paying bookkeeping.
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val perStream = streamEvents.entrySet().asScala.toSeq
      .sortBy(_.getKey)
    if (perStream.nonEmpty) {
      body ++= "# HELP graft_stream_events_ingested_total Events accepted" +
        " per stream\n# TYPE graft_stream_events_ingested_total counter\n"
      perStream.foreach { e =>
        body ++= s"""graft_stream_events_ingested_total{stream="${esc(
          e.getKey)}"} ${e.getValue._1.get}\n"""
      }
      body ++= "# HELP graft_stream_ingested_bytes_total JSON payload " +
        "bytes accepted per stream\n" +
        "# TYPE graft_stream_ingested_bytes_total counter\n"
      perStream.foreach { e =>
        body ++= s"""graft_stream_ingested_bytes_total{stream="${esc(
          e.getKey)}"} ${e.getValue._2.get}\n"""
      }
      body ++= "# HELP graft_stream_storage_bytes Stored bytes per " +
        "stream (walked at scrape, TTL-cached)\n" +
        "# TYPE graft_stream_storage_bytes gauge\n"
      perStream.foreach { e =>
        body ++= s"""graft_stream_storage_bytes{stream="${esc(
          e.getKey)}"} ${storageBytes(e.getKey)}\n"""
      }
    }
    // /query latency histogram (reference QUERY_EXECUTE_TIME)
    body ++= "# HELP graft_query_duration_seconds SQL envelope latency\n" +
      "# TYPE graft_query_duration_seconds histogram\n"
    var cum = 0L
    queryLatencyBounds.zipWithIndex.foreach { case (bound, i) =>
      cum += queryLatencyCounts(i).get
      body ++= s"""graft_query_duration_seconds_bucket{le="$bound"} $cum\n"""
    }
    cum += queryLatencyCounts(queryLatencyBounds.length).get
    body ++= s"""graft_query_duration_seconds_bucket{le="+Inf"} $cum\n"""
    body ++= f"graft_query_duration_seconds_sum ${queryLatencySumMicros.get / 1e6}%.6f\n"
    body ++= s"graft_query_duration_seconds_count $cum\n"
    respond(ex, 200, body.toString,
      contentType = "text/plain; version=0.0.4; charset=utf-8")
  }

  /** `POST /api/v1/dataset_stats` (reference `get_dataset_stats`,
    * `src/storage/field_stats.rs:853-948`): rank-paged distinct-value
    * stats per field of a stream window. Body `{"datasetName",
    * "startTime", "endTime", "fields": […]?, "offset"?, "limit"?}`.
    * Computed on demand over the windowed scan ([[graft.query.FieldStats
    * .datasetStats]]) instead of the reference's precomputed pstats
    * stream — always fresh, costs one scan of the window.
    */
  private[http] def handleDatasetStats(ex: HttpExchange): Unit = {
    if (Option(ex.getRequestURI.getPath)
        .exists(_.stripSuffix("/").endsWith("/distinct"))) {
      handleDatasetDistinct(ex); return
    }
    handleDatasetStatsBase(ex)
  }

  /** `POST /api/v1/dataset_stats/distinct` — KMV theta-sketch distinct
    * counts WITH set algebra over a stream window. The reference's field
    * stats serve per-field HLL distinct counts
    * (`src/storage/field_stats.rs:86-90`); the KMV sketch
    * ([[graft.query.ThetaSketch]]) adds what HLL registers cannot:
    * INTERSECTION estimates between named cohorts, plus exactly-mergeable
    * unions. Body: `{"datasetName", "startTime", "endTime",
    * "cohortField", "valueField", "k"?}` (k defaults to 64). Response:
    * `{"cohorts": [{cohort, n_sketch, theta, est_distinct}…],
    * "pairs": [{g_a, g_b, n_common, intersect_est, union_est}…]}` —
    * per-cohort estimates and every ordered cohort pair's
    * intersection/union, all from ONE windowed scan that keeps ≤ k
    * hashes per cohort (`n_sketch < k` means the numbers are exact).
    */
  private[http] def handleDatasetDistinct(ex: HttpExchange): Unit =
    authedUser(ex) match {
      case Left(msg) => err(ex, 401, msg)
      case Right(userOpt) =>
        if (ex.getRequestMethod != "POST") {
          err(ex, 405, "POST only"); return
        }
        val body =
          try mapper.readTree(ex.getRequestBody)
          catch {
            case e: com.fasterxml.jackson.core.JacksonException =>
              err(ex, 400, s"malformed JSON body: ${e.getOriginalMessage}")
              return
          }
        val dataset = body.path("datasetName").asText("")
        val cohortField = body.path("cohortField").asText("")
        val valueField = body.path("valueField").asText("")
        if (dataset.isEmpty || cohortField.isEmpty || valueField.isEmpty) {
          err(ex, 400,
            "datasetName, cohortField and valueField are required")
          return
        }
        val k = body.path("k").asInt(64)
        val tenant = tenantOf(userOpt)
        streamsFor(tenant).get(dataset) match {
          case None => err(ex, 404, s"stream '$dataset' not found")
          case Some(stream) =>
            if (userOpt.exists(u => !Rbac.authorized(u, Rbac.QueryAction,
                tenantKey(tenant, dataset)))) {
              err(ex, 403, s"user lacks query access to stream '$dataset'")
              return
            }
            val range =
              try TimeRange.parse(body.path("startTime").asText(""),
                body.path("endTime").asText(""))
              catch {
                case e: Exception =>
                  err(ex, 400, s"bad time: ${e.getMessage}"); return
              }
            withSqlTimeout(ex) {
              try {
                val df = QueryService.windowedRead(spark, dataset, stream,
                  range)
                // one sketch pass feeds BOTH outputs; ≤ k·cohorts rows,
                // so the checkpoint is tiny and saves the second scan
                val sk = graft.query.ThetaSketch.kmv(df, Seq(cohortField),
                  org.apache.spark.sql.functions.col(valueField), k)
                  .localCheckpoint(true)
                val o = mapper.createObjectNode()
                val cohorts = o.putArray("cohorts")
                graft.query.ThetaSketch.cardinality(sk, Seq(cohortField), k)
                  .orderBy(cohortField).collect().foreach { r =>
                    cohorts.addObject()
                      .put("cohort", String.valueOf(r.get(0)))
                      .put("n_sketch", r.getAs[Long]("n_sketch"))
                      .put("theta", r.getAs[Long]("theta"))
                      .put("est_distinct", r.getAs[Long]("est_distinct"))
                  }
                val pairs = o.putArray("pairs")
                graft.query.ThetaSketch.pairwiseSetAlgebra(sk, cohortField, k)
                  .orderBy("g_a", "g_b").collect().foreach { r =>
                    pairs.addObject()
                      .put("g_a", String.valueOf(r.get(0)))
                      .put("g_b", String.valueOf(r.get(1)))
                      .put("n_common", r.getAs[Long]("n_common"))
                      .put("intersect_est", r.getAs[Long]("intersect_est"))
                      .put("union_est", r.getAs[Long]("union_est"))
                  }
                respond(ex, 200, mapper.writeValueAsString(o))
              } catch {
                case _: org.apache.spark.sql.AnalysisException =>
                  // registered but data-less stream, or a field the
                  // window's schema does not carry
                  respond(ex, 200, """{"cohorts":[],"pairs":[]}""")
                case e: IllegalArgumentException =>
                  err(ex, 400, String.valueOf(e.getMessage))
              }
            }
        }
    }

  private[http] def handleDatasetStatsBase(ex: HttpExchange): Unit =
    authedUser(ex) match {
      case Left(msg) => err(ex, 401, msg)
      case Right(userOpt) =>
        if (ex.getRequestMethod != "POST") {
          err(ex, 405, "POST only"); return
        }
        val body =
          try mapper.readTree(ex.getRequestBody)
          catch {
            case e: com.fasterxml.jackson.core.JacksonException =>
              err(ex, 400, s"malformed JSON body: ${e.getOriginalMessage}")
              return
          }
        val dataset = body.path("datasetName").asText("")
        if (dataset.isEmpty) { err(ex, 400, "datasetName is required"); return }
        val tenant = tenantOf(userOpt)
        val visible = streamsFor(tenant)
        visible.get(dataset) match {
          case None => err(ex, 404, s"stream '$dataset' not found")
          case Some(stream) =>
            if (userOpt.exists(u => !Rbac.authorized(u, Rbac.QueryAction,
                tenantKey(tenant, dataset)))) {
              err(ex, 403, s"user lacks query access to stream '$dataset'")
              return
            }
            val range =
              try TimeRange.parse(body.path("startTime").asText(""),
                body.path("endTime").asText(""))
              catch {
                case e: Exception =>
                  err(ex, 400, s"bad time: ${e.getMessage}"); return
              }
            val fields = Option(body.get("fields")).toSeq
              .flatMap(_.elements().asScala.map(_.asText()))
            val offset = body.path("offset").asInt(0)
            val limit = body.path("limit").asInt(5)
            withSqlTimeout(ex) {
              try {
                val df = QueryService.windowedRead(spark, dataset, stream,
                  range)
                val out = graft.query.FieldStats.datasetStats(df, fields,
                  offset, limit)
                respond(ex, 200, ResponseWriter.toJsonArray(out))
              } catch {
                case _: org.apache.spark.sql.AnalysisException =>
                  respond(ex, 200, "[]") // registered but data-less stream
                case e: IllegalArgumentException =>
                  err(ex, 400, String.valueOf(e.getMessage))
              }
            }
        }
    }

  private[http] def handlePrism(ex: HttpExchange): Unit = {
    if (role == Cluster.Ingestor) {
      err(ex, 404, "prism is not available on an ingestor node"); return
    }
    authedUser(ex) match {
      case Left(msg) => err(ex, 401, msg)
      case Right(userOpt) =>
        if (ex.getRequestMethod != "GET") { err(ex, 405, "GET only"); return }
        val tenant = tenantOf(userOpt)
        val user = userOpt.getOrElse("anonymous")
        def canQuery(name: String): Boolean =
          userOpt.forall(Rbac.authorized(_, Rbac.QueryAction,
            tenantKey(tenant, name)))
        val visible = streamsFor(tenant).keys.toSeq.sorted.filter(canQuery)
        def hasData(name: String): Boolean = {
          val p = new org.apache.hadoop.fs.Path(
            s"$root/${tenantKey(tenant, name)}")
          try p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
          catch { case _: Exception => false }
        }
        val rest = Option(ex.getRequestURI.getPath)
          .map(_.stripPrefix("/api/v1/prism").stripPrefix("/"))
          .filter(_.nonEmpty).map(_.split("/").toSeq)
        rest match {
          case Some(Seq("home")) =>
            val o = mapper.createObjectNode()
            val datasets = o.putArray("datasets")
            visible.foreach { n =>
              val d = datasets.addObject()
              d.put("title", n)
              d.put("ingestion", hasData(n))
            }
            val alerts = alertStore.listAlerts(tenant)
            val checklist = o.putObject("checklist")
            checklist.put("dataIngested", visible.exists(hasData))
            checklist.put("alertCreated", alerts.nonEmpty)
            checklist.put("userAdded", users.nonEmpty)
            checklist.put("keystoneCreated",
              userConfigs.list(tenant, user, UserConfigs.Filters).nonEmpty ||
              userConfigs.list(tenant, user, UserConfigs.Dashboards).nonEmpty)
            o.put("triggeredAlertsCount",
              alerts.count(a => alertStore.stateOf(tenant, a) == "triggered"))
            respond(ex, 200, mapper.writeValueAsString(o))
          case Some(Seq("home", "search")) =>
            val needle = queryParams(ex).getOrElse("key", "").toLowerCase
            if (needle.isEmpty) {
              err(ex, 400, "missing query parameter 'key'"); return
            }
            val o = mapper.createObjectNode()
            val resources = o.putArray("resources")
            def add(id: String, name: String, kind: String): Unit =
              if (name.toLowerCase.contains(needle)) {
                val r = resources.addObject()
                r.put("id", id); r.put("name", name)
                r.put("resource_type", kind)
                ()
              }
            visible.foreach(n => add(n, n, "DataSet"))
            alertStore.listAlerts(tenant).foreach(a =>
              add(a.path("id").asText(), a.path("title").asText(), "Alert"))
            userConfigs.list(tenant, user, UserConfigs.Filters).foreach(f =>
              add(f.path("filter_id").asText(),
                f.path("filter_name").asText(), "Filter"))
            userConfigs.list(tenant, user, UserConfigs.Dashboards).foreach(d =>
              add(d.path("dashboardId").asText(),
                d.path("name").asText(), "Dashboard"))
            userConfigs.list(tenant, user, UserConfigs.Correlations)
              .foreach(c => add(c.path("id").asText(),
                c.path("title").asText(), "Correlation"))
            respond(ex, 200, mapper.writeValueAsString(o))
          case Some(Seq("logstream", name, "info")) =>
            if (!canQuery(name)) { err(ex, 403, "forbidden"); return }
            if (!streamsFor(tenant).contains(name)) {
              err(ex, 404, s"stream '$name' not found"); return
            }
            respond(ex, 200,
              mapper.writeValueAsString(streamInfoNode(tenant, name)))
          case _ => err(ex, 404, "unknown prism path")
        }
    }
  }

  /** The one-call stream info object (reference
    * `get_prism_logstream_info`, `src/prism/logstream/mod.rs:44-75`):
    * info + schema + stats + retention, shared by
    * `GET /api/v1/prism/logstream/{name}/info` and `POST /api/v1/datasets`.
    */
  private[http] def streamInfoNode(tenant: String, name: String)
      : com.fasterxml.jackson.databind.node.ObjectNode = {
    val dirStr = s"$root/${tenantKey(tenant, name)}"
    val o = mapper.createObjectNode()
    val info = o.putObject("info")
    info.put("stream", name)
    // stream creation settings (reference StreamInfo fields)
    Option(configs.get(tenantKey(tenant, name))).foreach { cfg =>
      info.put("static_schema_flag", cfg.staticSchema.isDefined)
      cfg.timePartition.foreach(info.put("time_partition", _))
      cfg.timePartitionLimitDays.foreach(d =>
        info.put("time_partition_limit", s"${d}d"))
      if (cfg.customPartitions.nonEmpty)
        info.put("custom_partition", cfg.customPartitions.mkString(","))
    }
    val schema =
      (try Some(spark.read.parquet(dirStr).schema)
       catch { case _: Exception => None })
        .orElse(registry.get(tenantKey(tenant, name)))
    schema match {
      case Some(s) => o.set[com.fasterxml.jackson.databind.node.ObjectNode](
        "schema", mapper.readTree(s.json))
      case None => o.putNull("schema")
    }
    val dir = new org.apache.hadoop.fs.Path(dirStr)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val stats = o.putObject("stats")
    if (fs.exists(dir)) {
      stats.put("size", fs.getContentSummary(dir).getLength)
      stats.put("count",
        syncedCountStar(tenantKey(tenant, name)).getOrElse(
          try spark.read.parquet(dirStr).count()
          catch { case _: Exception => 0L }))
    } else { stats.put("size", 0L); stats.put("count", 0L) }
    val rp = new org.apache.hadoop.fs.Path(dir, "_retention.json")
    val retention = SmallFiles.read(fs, rp).getOrElse("[]")
    o.set[com.fasterxml.jackson.databind.node.ObjectNode](
      "retention", mapper.readTree(retention))
    o
  }

  /** `POST /api/v1/datasets` (reference `prism_logstream::post_datasets`,
    * `PrismDatasetRequest::get_datasets` at
    * `src/prism/logstream/mod.rs:211-301`): batch one-call dataset info
    * for the console home. Body `{"streams": [..]}`; an absent/empty list
    * means every stream the caller can see. Per the reference contract,
    * streams that don't exist, aren't authorized, or fail to process are
    * SKIPPED — the response carries only the successes. Each entry is the
    * [[streamInfoNode]] object plus the last-hour 10-bin count histogram
    * (reference `get_counts`: "1h" → "now", 10 bins — answered from the
    * stream's stats catalog when possible, a time-pruned scan otherwise).
    */
  private[http] def handleDatasets(ex: HttpExchange): Unit = {
    if (role == Cluster.Ingestor) {
      err(ex, 404, "datasets is not available on an ingestor node"); return
    }
    if (ex.getRequestMethod != "POST") { err(ex, 405, "POST only"); return }
    authedUser(ex) match {
      case Left(msg) => err(ex, 401, msg)
      case Right(userOpt) =>
        val tenant = tenantOf(userOpt)
        val requested: Seq[String] =
          try {
            val raw = new String(ex.getRequestBody.readAllBytes(), UTF_8)
            if (raw.isBlank) Seq.empty
            else mapper.readTree(raw).path("streams").elements().asScala
              .map(_.asText()).filter(_.nonEmpty).toSeq
          } catch {
            case e: com.fasterxml.jackson.core.JacksonException =>
              err(ex, 400, s"malformed JSON body: ${e.getOriginalMessage}")
              return
          }
        def canQuery(name: String): Boolean =
          userOpt.forall(Rbac.authorized(_, Rbac.QueryAction,
            tenantKey(tenant, name)))
        val visible = streamsFor(tenant)
        val names =
          if (requested.isEmpty) visible.keys.toSeq.sorted else requested
        val arr = mapper.createArrayNode()
        names.foreach { n =>
          if (visible.contains(n) && canQuery(n)) {
            try {
              val node = streamInfoNode(tenant, n)
              node.put("stream", n)
              val range = TimeRange.parse("1h", "now")
              val startMs = range.start.toEpochMilli
              val rangeMs = math.max(1L, range.end.toEpochMilli - startMs)
              val binMillis = math.max(1L, (rangeMs + 9) / 10)
              node.set[com.fasterxml.jackson.databind.node.ObjectNode](
                "counts", countsJson(startMs, binMillis, 10,
                  datasetBinCounts(tenant, n, visible(n), range, startMs,
                    binMillis)))
              arr.add(node)
              ()
            } catch { // skip failing streams — but never silently
              case e: Exception =>
                prismLog.warn(s"prism datasets: skipping stream '$n': $e")
            }
          }
        }
        respond(ex, 200, mapper.writeValueAsString(arr))
    }
  }

  /** Unconditioned bin-density for [[handleDatasets]]: the stats-catalog
    * fast path when the stream has a manifest, a time-pruned scan
    * otherwise; empty on any failure (the dataset entry still renders).
    */
  private def datasetBinCounts(tenant: String, name: String,
      stream: QueryService.Stream, range: TimeRange, startMs: Long,
      binMillis: Long): Map[Int, Long] = {
    val catDir = statsPath(tenantKey(tenant, name))
    val fast =
      if (new java.io.File(catDir).isDirectory)
        try Counts.binDensityFromStats(
          graft.catalog.StatsCatalog.resolve(spark, catDir),
          stream.timeCol, startMs, range.end.toEpochMilli, binMillis,
          paths => spark.read.parquet(paths: _*)).map(_.toMap)
        catch {
          case e: Exception =>
            // degrade to the scan path, but a real stats-catalog bug must
            // not be invisible behind an empty sparkline
            prismLog.warn(
              s"prism histogram: stats fast path failed for '$name': $e")
            None
        }
      else None
    fast.getOrElse {
      try {
        val t = col(stream.timeCol).cast("timestamp")
        QueryService.windowedRead(spark, name, stream, range)
          .groupBy(floor((unix_millis(t) - startMs) / binMillis)
            .cast("int").as("bin"))
          .agg(count(lit(1)).as("cnt"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      } catch {
        case e: Exception =>
          prismLog.warn(
            s"prism histogram: scan path failed for '$name', rendering empty: $e")
          Map.empty
      }
    }
  }
}

private[http] object PrismRoutes {
  /** TTL for the per-stream storage walk on /metrics — bounded staleness
    * of a capacity gauge, chosen at ~2/3 of the default 15 s Prometheus
    * scrape interval so consecutive scrapes usually hit the cache.
    */
  private[http] val StorageWalkTtlMs = 10000L
}
