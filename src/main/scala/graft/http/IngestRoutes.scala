package graft.http

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpExchange
import org.apache.spark.sql.functions.{col, count, floor, lit, unix_millis}

import graft.ingest.IngestPipeline
import graft.query.{Alerts, Counts, QueryService, Rbac, ResponseWriter, TimeRange}

import GraftHttpServer._

/** JSON ingest and OTLP logs/metrics/traces ingest, plus the
  * append-with-stats pipeline step they share.
  *
  * One surface of [[GraftHttpServer]] — split out for maintainability;
  * state and shared plumbing stay on the server class (self-type).
  */
private[http] trait IngestRoutes { self: GraftHttpServer =>

  // ------------------------------------------------------------ endpoints

  private[http] def handleIngest(ex: HttpExchange): Unit = {
    // a querier node does not mount ingest routes (reference modal split)
    if (role == Cluster.Querier) {
      err(ex, 404, "ingest is not available on a querier node"); return
    }
    // load shedding (reference resource_check middleware): the write path
    // rejects while cpu/mem are over threshold; reads stay open
    if (!resourcesOk) {
      err(ex, 503, "Server resources over-utilized"); return
    }
    if (ex.getRequestMethod != "POST") { err(ex, 405, "POST only"); return }
    authedUser(ex) match {
      case Left(msg) => err(ex, 401, msg)
      case Right(user) =>
        val tenant = tenantOf(user)
        Option(ex.getRequestHeaders.getFirst("X-P-Stream")) match {
          case None => err(ex, 400, "missing X-P-Stream header")
          case Some(stream) if user.exists(
                !Rbac.authorized(_, Rbac.IngestAction,
                  tenantKey(tenant, stream))) =>
            err(ex, 403,
              s"user '${user.get}' lacks ingest access to stream '$stream'")
          case Some(stream) =>
            invalidStreamName(stream) match {
              case Some(msg) => err(ex, 400, msg); return
              case None => ()
            }
            val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
            // storage path and registry are tenant-scoped: the same stream
            // NAME in two tenants is two disjoint tables
            val cfg = streamConfig(tenantKey(tenant, stream))
            val ua =
              Option(ex.getRequestHeaders.getFirst("User-Agent")).getOrElse("")
            val ip = ex.getRemoteAddress.getAddress.getHostAddress
            // X-P-Log-Source (reference ingest.rs:86-123): builtin source
            // names pass through as the p_format stamp; otel-* sources are
            // refused on this endpoint; any OTHER name is a known-format
            // lookup — events are verified/extracted inline
            // (KnownFormats.applyInline), with X-P-Extract-Log naming the
            // raw-line field to regex-extract from.
            val logSource = Option(
                ex.getRequestHeaders.getFirst("X-P-Log-Source"))
              .map(_.trim).filter(_.nonEmpty).getOrElse("json")
            val extractLog = Option(
                ex.getRequestHeaders.getFirst("X-P-Extract-Log"))
              .map(_.trim).filter(_.nonEmpty)
            if (logSource.startsWith("otel-")) {
              err(ex, 400, s"Ingestion failed for stream '$stream': OTEL " +
                "log sources are not supported on /api/v1/ingest endpoint")
              return
            }
            // remaining x-p-* headers become request-level custom-field
            // columns (reference get_custom_fields_from_header,
            // ingest_utils.rs:408-467): key = header minus the prefix,
            // values truncated at 100 chars, at most 7 header-derived
            // fields (the reference caps the whole map incl. its three
            // built-in stamps at 10); stream/log-source/extract-log are
            // routing, not fields
            val ignored = Set("x-p-stream", "x-p-log-source", "x-p-extract-log")
            val customFields = {
              import scala.jdk.CollectionConverters._
              ex.getRequestHeaders.entrySet().asScala.iterator
                .map(e => e.getKey.toLowerCase -> e.getValue)
                .filter { case (k, vs) => k.startsWith("x-p-") &&
                  !ignored(k) && !vs.isEmpty }
                .map { case (k, vs) =>
                  k.stripPrefix("x-p-") -> vs.get(0).take(100) }
                .filter(_._1.nonEmpty)
                .toSeq.sortBy(_._1).take(7).toMap
            }
            val builtin = Set("json", "pmeta", "kinesis")
            // a payload that is not JSON is a 400 from prepare (HttpFuzzSpec
            // drives this with binary junk/truncated JSON)
            val ingested =
              if (builtin(logSource))
                IngestPipeline.ingest(spark, registry, cfg, body, ua, ip,
                  format = logSource, customFields = customFields)
              else
                IngestPipeline.prepare(body, cfg).flatMap(evs =>
                  graft.ingest.KnownFormats
                    .applyInline(evs, logSource, extractLog)
                    .flatMap(evs2 => IngestPipeline.ingestEvents(spark,
                      registry, cfg, evs2, ua, ip, format = logSource,
                      customFields = customFields)))
            ingested match {
              case Left(msg) => err(ex, 400, msg)
              case Right(df) =>
                val n = IngestPipeline.rowCount(df)
                appendWithStats(df, cfg)
                ingestCalls.incrementAndGet()
                ingestedEvents.addAndGet(n)
                countStreamIngest(cfg.name, n, body.getBytes(UTF_8).length.toLong)
                respond(ex, 200, mapper.writeValueAsString(
                  mapper.createObjectNode()
                    .put("status", "ok").put("events", n)))
            }
        }
    }
  }

  /** OTLP/HTTP ingestion (reference `get_ingest_otel_factory`,
    * `server.rs:653-682`: `POST /v1/logs|metrics|traces` with
    * `X-P-Stream`): the OTLP JSON payload flattens through
    * [[graft.ingest.OtelFlatten]] into wide rows, then rides the exact
    * same pipeline as plain JSON ingest (schema registry, enrichment,
    * partitioned append, stats catalog).
    */
  private[http] def handleOtelIngest(ex: HttpExchange): Unit = {
    if (role == Cluster.Querier) {
      err(ex, 404, "ingest is not available on a querier node"); return
    }
    if (!resourcesOk) {
      err(ex, 503, "Server resources over-utilized"); return
    }
    if (ex.getRequestMethod != "POST") { err(ex, 405, "POST only"); return }
    val signal = Option(ex.getRequestURI.getPath)
      .map(_.stripPrefix("/v1").stripPrefix("/")).getOrElse("")
    val flatten: String => Seq[com.fasterxml.jackson.databind.node.ObjectNode] =
      signal match {
        case "logs"    => graft.ingest.OtelFlatten.flattenLogs
        case "metrics" => graft.ingest.OtelFlatten.flattenMetrics
        case "traces"  => graft.ingest.OtelFlatten.flattenTraces
        case other => err(ex, 404, s"unknown OTLP signal '$other'"); return
      }
    authedUser(ex) match {
      case Left(msg) => err(ex, 401, msg)
      case Right(user) =>
        val tenant = tenantOf(user)
        Option(ex.getRequestHeaders.getFirst("X-P-Stream")) match {
          case None => err(ex, 400, "missing X-P-Stream header")
          case Some(stream) if user.exists(
                !Rbac.authorized(_, Rbac.IngestAction,
                  tenantKey(tenant, stream))) =>
            err(ex, 403,
              s"user '${user.get}' lacks ingest access to stream '$stream'")
          case Some(stream) =>
            invalidStreamName(stream) match {
              case Some(msg) => err(ex, 400, msg); return
              case None => ()
            }
            val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
            val events =
              try flatten(body)
              catch {
                case e: com.fasterxml.jackson.core.JacksonException =>
                  err(ex, 400,
                    s"malformed OTLP JSON: ${e.getOriginalMessage}")
                  return
                // valid JSON of the WRONG SHAPE (missing resourceLogs/
                // scope arrays) trips null/cast traversal inside the
                // flattener — equally the client's error, not a 500
                case scala.util.control.NonFatal(e) =>
                  err(ex, 400, s"not an OTLP $signal payload: " +
                    String.valueOf(e.getMessage))
                  return
              }
            val cfg = streamConfig(tenantKey(tenant, stream))
            val ua =
              Option(ex.getRequestHeaders.getFirst("User-Agent")).getOrElse("")
            val ip = ex.getRemoteAddress.getAddress.getHostAddress
            IngestPipeline.ingestEvents(spark, registry, cfg, events, ua, ip,
                format = s"otel-$signal") match {
              case Left(msg) => err(ex, 400, msg)
              case Right(df) =>
                val n = IngestPipeline.rowCount(df)
                appendWithStats(df, cfg)
                ingestCalls.incrementAndGet()
                ingestedEvents.addAndGet(n)
                countStreamIngest(cfg.name, n, body.getBytes(UTF_8).length.toLong)
                respond(ex, 200, mapper.writeValueAsString(
                  mapper.createObjectNode()
                    .put("status", "ok").put("events", n)))
            }
        }
    }
  }

  private[http] def appendWithStats(df: org.apache.spark.sql.DataFrame,
                              cfg: IngestPipeline.StreamConfig): Unit = {
    val timeCol = cfg.timePartition.getOrElse("p_timestamp")
    val lock = statsLocks.computeIfAbsent(cfg.name, _ => new Object)
    lock.synchronized {
      // the DATA append serializes under the same per-stream lock as the
      // catalog: Spark's FileOutputCommitter shares ONE `_temporary` dir
      // per target directory, so two concurrent append jobs race on its
      // commit-time cleanup and one fails with a missing-file error
      // (ConcurrentIngestSpec reproduced this with 4 racing writers).
      // Per-NODE serialization is sufficient — in cluster mode every
      // ingestor writes its own storage prefix.
      IngestPipeline.append(df, root, cfg)
      // live-tail fan-out (reference livetail.rs `process`): only pay the
      // collect when someone is actually tailing; persisted=true because
      // the rows are already in the table (no staging double count)
      val tail = liveTailKey(cfg.name)
      if (graft.streaming.LiveTail.subscriberCount(tail) > 0)
        graft.streaming.LiveTail.publish(tail, df, persisted = true)
      // stats upkeep must never fail an ingest, but queries read THROUGH
      // the catalog once it exists — on failure, drop it entirely so
      // readers fall back to full listing (correct, just slower); the next
      // successful sync rebuilds it. The hot path is the transaction log's
      // watermarked append: O(new partitions) listed per ingest, the new
      // files' stats read from their parquet footers on the driver (no
      // Spark job; only a file the footer cannot answer exactly goes
      // through a stats aggregate), then one atomic catalog version
      // committed. That version is still a full snapshot rewrite
      // (O(catalog) bytes, one write job), written from driver rows when
      // the catalog is resident.
      try {
        // z-ordered streams record min/max for the clustered dims too —
        // that's what lets StatsFileIndex prune a user's box predicate
        // (the layout made the per-file ranges tight; the catalog makes
        // them visible to the planner)
        val statCols = Seq(timeCol) ++
          cfg.zOrder.map(_.dims).getOrElse(Nil).filterNot(_ == timeCol)
        // a time-partitioned stream writes back-dated events into date
        // dirs below the watermark, which the watermarked listing skips:
        // it takes the full diff
        val append =
          if (cfg.timePartition.isEmpty)
            graft.catalog.TxnCatalog.appendNewFilesWatermarked _
          else graft.catalog.TxnCatalog.appendNewFiles _
        append(spark, s"$root/${cfg.name}", statsPath(cfg.name), statCols)
        graft.catalog.TxnCatalog.vacuum(statsPath(cfg.name), keep = 3)
      } catch {
        case _: Exception =>
          val dir = new org.apache.hadoop.fs.Path(statsPath(cfg.name))
          try dir.getFileSystem(spark.sessionState.newHadoopConf())
            .delete(dir, true)
          catch { case _: Exception => () }
          ()
      }
    }
  }
}
