package graft.http

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpExchange
import org.apache.spark.sql.functions.{col, count, floor, lit, unix_millis}

import graft.ingest.IngestPipeline
import graft.query.{Alerts, Counts, QueryService, Rbac, ResponseWriter, TimeRange}

import GraftHttpServer._

/** SQL query, counts histogram and keyset query-context endpoints.
  *
  * One surface of [[GraftHttpServer]] — split out for maintainability;
  * state and shared plumbing stay on the server class (self-type).
  */
private[http] trait QueryRoutes { self: GraftHttpServer =>

  private[http] def handleQuery(ex: HttpExchange): Unit = {
    // an ingestor node does not mount query routes (reference modal split)
    if (role == Cluster.Ingestor) {
      err(ex, 404, "query is not available on an ingestor node"); return
    }
    // the /query context also receives its sub-path (reference mounts
    // POST /query/context as a sibling resource)
    if (ex.getRequestURI.getPath.stripSuffix("/") == "/api/v1/query/context") {
      handleQueryContext(ex); return
    }
    if (ex.getRequestMethod != "POST") { err(ex, 405, "POST only"); return }
    authedUser(ex) match {
      case Left(msg) => err(ex, 401, msg)
      case Right(user) =>
        val body =
          try mapper.readTree(
            new String(ex.getRequestBody.readAllBytes(), UTF_8))
          catch {
            case e: com.fasterxml.jackson.core.JacksonException =>
              err(ex, 400, s"malformed JSON body: ${e.getOriginalMessage}")
              return
          }
        queryCalls.incrementAndGet()
        val sql = Option(body.get("query")).map(_.asText())
        val start = Option(body.get("startTime")).map(_.asText())
        val end = Option(body.get("endTime")).map(_.asText())
        (sql, start, end) match {
          case (Some(q), Some(s0), Some(e0)) =>
            val range =
              try TimeRange.parse(s0, e0)
              catch {
                case e: Exception => err(ex, 400, s"bad time: ${e.getMessage}")
                  return
              }
            // stream names resolve strictly inside the caller's tenant —
            // another tenant's streams are absent from this map entirely
            val visible = streamsFor(tenantOf(user))
            // the one parse: every check below and the execution read it
            val plan = QueryService.parse(spark, q)
            // reference `handle_count_query`: a bare COUNT(*) over a
            // catalog-backed stream answers from manifest row counts for
            // the window (one-bin density) — no data scan
            QueryService.bareCountStar(plan) match {
              case Some((table, outName))
                  if visible.get(table).exists(_.catalogPath.isDefined) &&
                    user.forall(Rbac.authorized(_, Rbac.QueryAction,
                      tenantKey(tenantOf(user), table))) =>
                val st = visible(table)
                val startMs = range.start.toEpochMilli
                val endMs = math.max(startMs + 1, range.end.toEpochMilli)
                val dense =
                  try Counts.binDensityFromStats(
                    graft.catalog.StatsCatalog.resolve(spark,
                      st.catalogPath.get),
                    st.timeCol, startMs, endMs, binMillis = endMs - startMs,
                    readFiles = paths => spark.read.parquet(paths: _*))
                  catch { case _: Exception => None }
                dense match {
                  case Some(pairs) =>
                    val total = pairs.map(_._2).sum
                    // ?fields=true wraps in the reference's
                    // {"fields":[name],"records":[...]} envelope
                    // (handle_count_query, query.rs:237-244)
                    if (queryParams(ex).get("fields")
                        .exists(_.equalsIgnoreCase("true"))) {
                      val o = mapper.createObjectNode()
                      o.putArray("fields").add(outName)
                      o.putArray("records").addObject().put(outName, total)
                      respond(ex, 200, mapper.writeValueAsString(o))
                    } else {
                      val o = mapper.createArrayNode()
                      o.addObject().put(outName, total)
                      respond(ex, 200, mapper.writeValueAsString(o))
                    }
                    return
                  case None => () // fall through to normal execution
                }
              case _ => ()
            }
            val tenant = tenantOf(user)
            // a CTE named like a visible stream would make single-part
            // resolution ambiguous — 400 with an actionable message
            // (QueryService.query would refuse anyway; surface it cleanly)
            val shadowing = QueryService.cteNames(plan)
              .filter(n => visible.keys.exists(_.equalsIgnoreCase(n)))
            if (shadowing.nonEmpty) {
              err(ex, 400, s"CTE name(s) ${shadowing.mkString(", ")} " +
                "shadow stream names; rename the CTE")
              return
            }
            val referenced = QueryService.referencedTables(plan)
            // every referenced relation must be a stream the caller can
            // see — silently dropping unknown names would let resolution
            // fall through to whatever the shared session catalog happens
            // to hold (another tenant's view, a leftover table). One
            // message for both "absent" and "other tenant's": no
            // cross-tenant existence oracle.
            val unknown = referenced.filterNot(visible.contains)
            val result =
              if (unknown.nonEmpty)
                Left("unknown or unauthorized table(s): " +
                  unknown.mkString(", "))
              else user match {
                case Some(u) =>
                  referenced.find(n => !Rbac.authorized(u, Rbac.QueryAction,
                      tenantKey(tenant, n))) match {
                    case Some(n) =>
                      Left(s"user '$u' lacks query access to stream '$n'")
                    case None =>
                      Right(QueryService.query(spark, visible, plan, range,
                        scope = tenant))
                  }
                case None =>
                  Right(QueryService.query(spark, visible, plan, range,
                    scope = tenant))
              }
            result match {
              case Left(msg) => err(ex, 403, msg)
              case Right(df) => withSqlTimeout(ex) {
                // reference Query::from_request: `fields` and `streaming`
                // ride ?query params; `send_null` from the body OR the
                // `sendNull` param (default false — null-valued keys are
                // OMITTED from row objects unless asked for)
                val params = queryParams(ex)
                def flag(k: String): Boolean =
                  params.get(k).exists(_.equalsIgnoreCase("true"))
                val sendNull = flag("sendNull") ||
                  Option(body.get("send_null")).exists(_.asBoolean(false))
                val withFields = flag("fields")
                val streaming = flag("streaming") ||
                  Option(ex.getRequestHeaders.getFirst("Accept"))
                    .exists(_.contains("application/x-ndjson"))
                def fieldsJson: String = {
                  val o = mapper.createObjectNode()
                  val arr = o.putArray("fields")
                  df.columns.foreach(arr.add)
                  mapper.writeValueAsString(o)
                }
                if (streaming) {
                  ex.getResponseHeaders
                    .set("Content-Type", "application/x-ndjson")
                  ex.sendResponseHeaders(200, 0) // chunked
                  val w = new java.io.OutputStreamWriter(
                    ex.getResponseBody, UTF_8)
                  try {
                    // fields=true prefixes one {"fields": [...]} chunk
                    // (reference handle_streaming_query)
                    if (withFields) { w.write(fieldsJson + "\n"); w.flush() }
                    ResponseWriter.writeNdjson(df, w, sendNull)
                  } finally { w.close(); ex.close() }
                } else if (withFields) {
                  val o = mapper.createObjectNode()
                  val arr = o.putArray("fields")
                  df.columns.foreach(arr.add)
                  o.set[com.fasterxml.jackson.databind.node.ObjectNode](
                    "records",
                    mapper.readTree(ResponseWriter.toJsonArray(df, sendNull)))
                  respond(ex, 200, mapper.writeValueAsString(o))
                } else
                  respond(ex, 200, ResponseWriter.toJsonArray(df, sendNull))
              }
            }
          case _ => err(ex, 400, "need query, startTime, endTime")
        }
    }
  }

  /** `POST /api/v1/counts` (reference `query::get_counts`,
    * `CountsRequest` at `src/query/mod.rs:516-527`): per-bin record counts
    * of one stream over a time range, the console's histogram strip. Body
    * `{"stream": "s", "startTime": "...", "endTime": "...",
    * "numBins": 30?, "conditions": <where-tree>?}`; times accept the
    * human forms ("now", "10m", RFC3339). Bins are equal slices of the
    * range (absent numBins → the auto interval of [[Counts.autoBinMillis]]),
    * returned DENSE — empty bins report zero, as the console expects.
    *
    * Scale: one map-side-combinable groupBy on the bin index over a
    * time-pruned scan; the driver materializes at most `MaxCountBins`
    * rows.
    */
  private[http] def handleCounts(ex: HttpExchange): Unit = {
    if (role == Cluster.Ingestor) {
      err(ex, 404, "query is not available on an ingestor node"); return
    }
    if (ex.getRequestMethod != "POST") { err(ex, 405, "POST only"); return }
    authedUser(ex) match {
      case Left(msg) => err(ex, 401, msg)
      case Right(user) =>
        val body =
          try mapper.readTree(
            new String(ex.getRequestBody.readAllBytes(), UTF_8))
          catch {
            case e: com.fasterxml.jackson.core.JacksonException =>
              err(ex, 400, s"malformed JSON body: ${e.getOriginalMessage}")
              return
          }
        val streamName = body.path("stream").asText("")
        val start = body.path("startTime").asText("")
        val end = body.path("endTime").asText("")
        if (streamName.isEmpty || start.isEmpty || end.isEmpty) {
          err(ex, 400, "need stream, startTime, endTime"); return
        }
        val tenant = tenantOf(user)
        val stream = streamsFor(tenant).get(streamName) match {
          case Some(s) => s
          case None => err(ex, 404, s"stream '$streamName' not found"); return
        }
        if (user.exists(!Rbac.authorized(_, Rbac.QueryAction,
            tenantKey(tenant, streamName)))) {
          err(ex, 403,
            s"user '${user.get}' lacks query access to stream '$streamName'")
          return
        }
        val range =
          try TimeRange.parse(start, end)
          catch {
            case e: Exception => err(ex, 400, s"bad time: ${e.getMessage}")
              return
          }
        val startMs = range.start.toEpochMilli
        val rangeMs = math.max(1L, range.end.toEpochMilli - startMs)
        val binMillis = Option(body.get("numBins")).map(_.asLong()) match {
          case Some(n) if n <= 0 =>
            err(ex, 400, "numBins must be positive"); return
          case Some(n) => math.max(1L, (rangeMs + n - 1) / n)
          case None    => Counts.autoBinMillis(range.duration)
        }
        val bins = ((rangeMs + binMillis - 1) / binMillis).toInt
        if (bins > GraftHttpServer.MaxCountBins) {
          err(ex, 400, s"$bins bins exceed the ${GraftHttpServer.MaxCountBins}" +
            " cap; widen the bins or narrow the range")
          return
        }
        val where = Option(body.get("conditions")) match {
          case None => None
          case Some(c) => alertStore.parseCondition(c) match {
            case Left(msg)   => err(ex, 400, msg); return
            case Right(node) => Some(Alerts.Conditions.toColumn(node))
          }
        }
        // the remainder runs Spark jobs — same timeout envelope as /query
        // (a hostile condition tree over a wide window is still a scan)
        withSqlTimeout(ex) {
        // manifest fast path (reference `get_bin_density`): an unfiltered
        // histogram answers from the stream's stats catalog — only files
        // straddling a bin boundary are scanned
        val catDir = statsPath(tenantKey(tenant, streamName))
        if (where.isEmpty && new java.io.File(catDir).isDirectory) {
          val dense =
            try Counts.binDensityFromStats(
              graft.catalog.StatsCatalog.resolve(spark, catDir),
              stream.timeCol, startMs, range.end.toEpochMilli, binMillis,
              paths => spark.read.parquet(paths: _*))
            catch { case _: Exception => None }
          dense match {
            case Some(pairs) =>
              respondCounts(ex, startMs, binMillis, bins, pairs.toMap)
              return
            case None => () // fall through to the scan
          }
        }
        val t = col(stream.timeCol).cast("timestamp")
        val filtered =
          try QueryService.windowedRead(spark, streamName, stream, range)
          catch {
            case _: org.apache.spark.sql.AnalysisException =>
              respondCounts(ex, startMs, binMillis, bins, Map.empty); return
          }
        val sparse = where.foldLeft(filtered)(_ filter _)
          .groupBy(floor((unix_millis(t) - startMs) / binMillis)
            .cast("int").as("bin"))
          .agg(count(lit(1)).as("cnt"))
          .collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        respondCounts(ex, startMs, binMillis, bins, sparse)
        }
    }
  }

  /** The CountsResponse JSON (fields + dense records) — shared by
    * `/counts` and the per-dataset histogram in `POST /datasets`.
    */
  private[http] def countsJson(startMs: Long, binMillis: Long, bins: Int,
      counts: Map[Int, Long]): com.fasterxml.jackson.databind.node.ObjectNode = {
    val o = mapper.createObjectNode()
    val fields = o.putArray("fields")
    Seq("start_time", "end_time", "count").foreach(fields.add)
    val records = o.putArray("records")
    (0 until bins).foreach { i =>
      val r = records.addObject()
      r.put("start_time",
        java.time.Instant.ofEpochMilli(startMs + i * binMillis).toString)
      r.put("end_time",
        java.time.Instant.ofEpochMilli(startMs + (i + 1) * binMillis).toString)
      r.put("count", counts.getOrElse(i, 0L))
    }
    o
  }

  private[http] def respondCounts(ex: HttpExchange, startMs: Long, binMillis: Long,
                            bins: Int, counts: Map[Int, Long]): Unit =
    respond(ex, 200,
      mapper.writeValueAsString(countsJson(startMs, binMillis, bins, counts)))

  /** `POST /api/v1/query/context` (reference `query_context.rs`
    * `LogContextRequest`): the page of logs AROUND an anchor timestamp —
    * `pageSize/2` newest rows strictly before it plus `pageSize/2` rows
    * from it onward, both inside `contextWindow` (default 10m each way),
    * returned oldest-first with the anchor's index. Keyset semantics as in
    * [[LogContext]]: both sides are time-pruned scans with top-k limits —
    * page cost is independent of stream size.
    */
  private[http] def handleQueryContext(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") { err(ex, 405, "POST only"); return }
    authedUser(ex) match {
      case Left(msg) => err(ex, 401, msg)
      case Right(user) =>
        val body =
          try mapper.readTree(
            new String(ex.getRequestBody.readAllBytes(), UTF_8))
          catch {
            case e: com.fasterxml.jackson.core.JacksonException =>
              err(ex, 400, s"malformed JSON body: ${e.getOriginalMessage}")
              return
          }
        val dataset = body.path("dataset").asText("")
        val anchorText = body.path("pTimestamp").asText("")
        if (dataset.isEmpty || anchorText.isEmpty) {
          err(ex, 400, "need dataset, pTimestamp"); return
        }
        val anchor =
          try java.time.ZonedDateTime.parse(anchorText,
              java.time.format.DateTimeFormatter.ISO_DATE_TIME).toInstant
          catch {
            case e: Exception =>
              err(ex, 400, s"bad pTimestamp: ${e.getMessage}"); return
          }
        val window = body.path("contextWindow").asText("10m") match {
          case GraftHttpServer.RelativeWindow(n, unit) =>
            val amount = n.toLong
            unit match {
              case "s" => java.time.Duration.ofSeconds(amount)
              case "m" => java.time.Duration.ofMinutes(amount)
              case "h" => java.time.Duration.ofHours(amount)
              case "d" => java.time.Duration.ofDays(amount)
            }
          case other => err(ex, 400, s"bad contextWindow '$other'"); return
        }
        val pageSize = math.min(
          Option(body.get("pageSize")).map(_.asInt())
            .getOrElse(GraftHttpServer.DefaultContextPageSize),
          10 * GraftHttpServer.DefaultContextPageSize)
        if (pageSize <= 0) { err(ex, 400, "pageSize must be positive"); return }
        val tenant = tenantOf(user)
        val stream = streamsFor(tenant).get(dataset) match {
          case Some(s) => s
          case None => err(ex, 404, s"stream '$dataset' not found"); return
        }
        if (user.exists(!Rbac.authorized(_, Rbac.QueryAction,
            tenantKey(tenant, dataset)))) {
          err(ex, 403,
            s"user '${user.get}' lacks query access to stream '$dataset'")
          return
        }
        withSqlTimeout(ex) {
        val df =
          try QueryService.windowedRead(spark, dataset, stream,
            TimeRange(anchor.minus(window), anchor.plus(window).plusMillis(1)))
          catch {
            case _: org.apache.spark.sql.AnalysisException =>
              err(ex, 404, s"stream '$dataset' has no data"); return
          }
        val t = col(stream.timeCol).cast("timestamp")
        val anchorTs = lit(java.sql.Timestamp.from(anchor))
        val half = math.max(1, pageSize / 2)
        val beforeDf = df.filter(t < anchorTs)
          .orderBy(t.desc).limit(half)
        val afterDf = df.filter(t >= anchorTs)
          .orderBy(t.asc).limit(pageSize - half)
        val beforeArr = mapper.readTree(ResponseWriter.toJsonArray(beforeDf))
        val afterArr = mapper.readTree(ResponseWriter.toJsonArray(afterDf))
        val o = mapper.createObjectNode()
        o.put("scope", "contextWindow")
        o.put("contextStartTime", anchor.minus(window).toString)
        o.put("contextEndTime", anchor.plus(window).toString)
        o.put("limit", pageSize)
        o.put("anchorIndex", beforeArr.size())
        val records = o.putArray("records")
        // before-page arrives newest-first; the response is oldest-first
        (beforeArr.size() - 1 to 0 by -1).foreach(i =>
          records.add(beforeArr.get(i)))
        afterArr.forEach(r => { records.add(r); () })
        respond(ex, 200, mapper.writeValueAsString(o))
        }
    }
  }
}
