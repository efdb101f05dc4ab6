package graft.http

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpExchange
import org.apache.spark.sql.functions.{col, count, floor, lit, unix_millis}

import graft.ingest.IngestPipeline
import graft.query.{Alerts, Counts, QueryService, Rbac, ResponseWriter, TimeRange}

import GraftHttpServer._

/** Live log tail (chunked NDJSON) and APM trace list/detail.
  *
  * One surface of [[GraftHttpServer]] — split out for maintainability;
  * state and shared plumbing stay on the server class (self-type).
  */
private[http] trait TailRoutes { self: GraftHttpServer =>

  /** Prism — the console's aggregated landing surface (reference
    * `src/prism/`):
    *   - `GET /api/v1/prism/home` — visible datasets, the onboarding
    *     checklist, and the triggered-alert count in one response
    *     (`prism/home/mod.rs` `HomeResponse`);
    *   - `GET /api/v1/prism/home/search?key=…` — one search box over
    *     datasets, alerts, saved filters and dashboards
    *     (`HomeSearchResponse`);
    *   - `GET /api/v1/prism/logstream/{name}/info` — schema + stats +
    *     retention of one stream in one call (`prism/logstream/mod.rs`
    *     `PrismLogstreamInfo`).
    * Pure aggregation over the store/catalog pieces the individual
    * endpoints already use — the reference builds these the same way.
    */
  /** Live log tail (reference `src/handlers/livetail.rs` over gRPC
    * Flight; here `GET /api/v1/livetail/{stream}` as chunked NDJSON —
    * the HTTP-native spelling of the same push): every batch ingested
    * into the stream while the connection is open is fanned out to the
    * subscriber, one JSON object per row, in ingest order. Tenant- and
    * RBAC-scoped like a query. Backpressure mirrors the reference's
    * bounded pipe: a slow consumer's overflow is dropped and surfaced as
    * a `{"skipped": n}` marker (livetail.rs `Message::Skipped`), never
    * buffered unboundedly. `maxEvents`/`timeoutMs` query params bound the
    * tail (a tail holds one server thread; the default cap is 5 min).
    */
  private[http] def handleLivetail(ex: HttpExchange): Unit = authedUser(ex) match {
    case Left(msg) => err(ex, 401, msg)
    case Right(userOpt) =>
      if (ex.getRequestMethod != "GET") { err(ex, 405, "GET only"); return }
      val name = ex.getRequestURI.getPath
        .stripPrefix("/api/v1/livetail").stripPrefix("/")
      if (name.isEmpty || name.contains('/')) {
        err(ex, 400, "use /api/v1/livetail/{stream}"); return
      }
      val tenant = tenantOf(userOpt)
      if (!streamsFor(tenant).contains(name)) {
        err(ex, 404, s"stream '$name' not found"); return
      }
      if (userOpt.exists(u => !Rbac.authorized(u, Rbac.QueryAction,
          tenantKey(tenant, name)))) {
        err(ex, 403, s"user lacks query access to stream '$name'"); return
      }
      val params = queryParams(ex)
      val maxEvents = params.get("maxEvents").flatMap(_.toLongOption)
        .filter(_ > 0).getOrElse(Long.MaxValue)
      val timeoutMs = params.get("timeoutMs").flatMap(_.toLongOption)
        .filter(_ > 0).getOrElse(300000L)
      val queue =
        new java.util.concurrent.LinkedBlockingQueue[graft.streaming.LiveTail.Batch](256)
      val skipped = new java.util.concurrent.atomic.AtomicLong
      val unsubscribe =
        graft.streaming.LiveTail.subscribe(
            liveTailKey(tenantKey(tenant, name))) { b =>
          if (!queue.offer(b)) { skipped.addAndGet(b.rows.length.toLong); () }
        }
      val w = new java.io.OutputStreamWriter(ex.getResponseBody, UTF_8)
      try {
        ex.getResponseHeaders.set("Content-Type", "application/x-ndjson")
        ex.sendResponseHeaders(200, 0) // chunked
        // hello line: the subscription is registered — rows ingested from
        // here on WILL be delivered (clients can sequence on this)
        w.write(mapper.writeValueAsString(
          mapper.createObjectNode().put("livetail", name)) + "\n")
        w.flush()
        val deadline = System.currentTimeMillis() + timeoutMs
        var sent = 0L
        while (sent < maxEvents && System.currentTimeMillis() < deadline) {
          val b = queue.poll(200, java.util.concurrent.TimeUnit.MILLISECONDS)
          if (b != null) {
            val sk = skipped.getAndSet(0L)
            if (sk > 0L)
              w.write(mapper.writeValueAsString(
                mapper.createObjectNode().put("skipped", sk)) + "\n")
            var i = 0
            while (i < b.rows.length && sent < maxEvents) {
              w.write(rowJson(b.schema, b.rows(i)) + "\n")
              sent += 1; i += 1
            }
            w.flush()
          }
        }
      } catch {
        case _: java.io.IOException => () // client went away — clean up
      } finally {
        unsubscribe()
        try w.close() catch { case _: Exception => () }
        ex.close()
      }
  }

  /** One collected Row as a JSON object keyed by the batch schema. */
  private[http] def rowJson(schema: org.apache.spark.sql.types.StructType,
                      row: org.apache.spark.sql.Row): String = {
    val o = mapper.createObjectNode()
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (row.isNullAt(i)) o.putNull(f.name)
      else row.get(i) match {
        case s: String               => o.put(f.name, s)
        case n: java.lang.Long       => o.put(f.name, n.longValue())
        case n: java.lang.Integer    => o.put(f.name, n.intValue())
        case n: java.lang.Double     => o.put(f.name, n.doubleValue())
        case n: java.lang.Float      => o.put(f.name, n.floatValue())
        case b: java.lang.Boolean    => o.put(f.name, b.booleanValue())
        case t: java.sql.Timestamp   => o.put(f.name, t.toInstant.toString)
        case d: java.math.BigDecimal => o.put(f.name, d)
        case other                   => o.put(f.name, String.valueOf(other))
      }
    }
    mapper.writeValueAsString(o)
  }

  /** APM trace endpoints (reference `get_traces_webscope`,
    * `src/handlers/http/modal/server.rs:282-295`):
    * `POST /api/v1/services/traces/list` and `…/detail`, RBAC-gated as
    * Query on the dataset stream. Query shapes live in [[TracesApi]].
    */
  private[http] def handleTraces(ex: HttpExchange): Unit = authedUser(ex) match {
    case Left(msg) => err(ex, 401, msg)
    case Right(userOpt) =>
      if (ex.getRequestMethod != "POST") { err(ex, 405, "POST only"); return }
      val sub = ex.getRequestURI.getPath
        .stripPrefix("/api/v1/services/traces").stripPrefix("/")
      val body =
        try mapper.readTree(ex.getRequestBody)
        catch {
          case e: com.fasterxml.jackson.core.JacksonException =>
            err(ex, 400, s"malformed JSON body: ${e.getOriginalMessage}")
            return
        }
      val tenant = tenantOf(userOpt)
      val dataset = Option(body.get("dataset")).map(_.asText()).getOrElse("")
      if (dataset.isEmpty) { err(ex, 400, "dataset is required"); return }
      val visible = streamsFor(tenant)
      visible.get(dataset) match {
        case None =>
          err(ex, 404, s"stream '$dataset' not found")
        case Some(stream) =>
          if (userOpt.exists(u => !Rbac.authorized(u, Rbac.QueryAction,
              tenantKey(tenant, dataset)))) {
            err(ex, 403,
              s"user lacks query access to stream '$dataset'")
            return
          }
          val range =
            (Option(body.get("startTime")).map(_.asText()),
              Option(body.get("endTime")).map(_.asText())) match {
              case (Some(s0), Some(e0)) =>
                try TimeRange.parse(s0, e0)
                catch {
                  case e: Exception =>
                    err(ex, 400, s"bad time: ${e.getMessage}"); return
                }
              case _ =>
                err(ex, 400, "need startTime and endTime"); return
            }
          // a registered stream with no data yet (config created, nothing
          // ingested) reads as empty, like the counts/query paths do —
          // not as a raw Spark path error
          val df =
            try QueryService.windowedRead(spark, dataset, stream, range)
            catch {
              case _: org.apache.spark.sql.AnalysisException =>
                sub match {
                  case "list" =>
                    val o = mapper.createObjectNode()
                      .put("count", 0L).put("offset", 0).put("limit", 0)
                    o.putArray("records")
                    respond(ex, 200, mapper.writeValueAsString(o))
                  case _ =>
                    err(ex, 404, s"trace not found in dataset '$dataset'")
                }
                return
            }
          val conditions = Option(body.get("conditions")) match {
            case None => None
            case Some(c) => alertStore.parseCondition(c) match {
              case Left(msg)   => err(ex, 400, msg); return
              case Right(node) => Some(Alerts.Conditions.toColumn(node))
            }
          }
          sub match {
            case "list" =>
              val serviceNameRaw =
                Option(body.get("serviceName")).map(_.asText())
              val serviceName = serviceNameRaw.map(_.trim).filter(_.nonEmpty)
              if (serviceNameRaw.isDefined && serviceName.isEmpty) {
                err(ex, 400, "serviceName must not be empty when provided")
                return
              }
              val limit = Option(body.get("limit")).map(_.asInt())
                .getOrElse(TracesApi.DefaultLimit)
              if (limit <= 0 || limit > TracesApi.MaxLimit) {
                err(ex, 400, s"limit must be between 1 and " +
                  s"${TracesApi.MaxLimit}, got $limit")
                return
              }
              val offset =
                Option(body.get("offset")).map(_.asInt()).getOrElse(0)
              val option = Option(body.get("options"))
                .orElse(Option(body.get("option")))
                .map(_.asText()).getOrElse("spans")
              // the reference deserializes options as an enum — an
              // unknown value is a 400, never silently "all spans"
              if (!Seq("spans", "traces", "errorSpans").contains(option)) {
                err(ex, 400, s"unknown options: $option"); return
              }
              val sortBy = Option(body.get("sortBy")).map(_.asText())
                .getOrElse("mostRecent")
              TracesApi.list(df, serviceName, conditions, option, sortBy,
                offset, limit) match {
                case Left(msg) => err(ex, 400, msg)
                case Right(page) =>
                  val n =
                    TracesApi.count(df, serviceName, conditions, option)
                  val o = mapper.createObjectNode()
                    .put("count", n).put("offset", offset)
                    .put("limit", limit)
                  o.set[com.fasterxml.jackson.databind.node.ObjectNode]("records", mapper.readTree(
                    ResponseWriter.toJsonArray(page)))
                  respond(ex, 200, mapper.writeValueAsString(o))
              }
            case "detail" =>
              val traceId = Option(body.get("traceId")).map(_.asText().trim)
                .getOrElse("")
              if (traceId.isEmpty) {
                err(ex, 400, "traceId is required"); return
              }
              TracesApi.bounds(df, stream.timeCol, traceId) match {
                case None =>
                  err(ex, 404,
                    s"trace $traceId not found in dataset '$dataset'")
                case Some((s0, e0)) =>
                  // include the minute containing the final span, as the
                  // reference does (`traces.rs:311-315`)
                  val full = TimeRange(s0.toInstant,
                    e0.toInstant.plusSeconds(60))
                  val spans = QueryService.windowedRead(spark, dataset,
                    stream, full)
                  TracesApi.detail(spans, stream.timeCol, traceId) match {
                    case Left(msg) => err(ex, 400, msg)
                    case Right(out) =>
                      val o = mapper.createObjectNode()
                        .put("startTime", s0.toInstant.toString)
                        .put("endTime", e0.toInstant.toString)
                      o.set[com.fasterxml.jackson.databind.node.ObjectNode]("records", mapper.readTree(
                        ResponseWriter.toJsonArray(out)))
                      respond(ex, 200, mapper.writeValueAsString(o))
                  }
              }
            case other => err(ex, 404, s"no such trace endpoint: $other")
          }
      }
  }
}
