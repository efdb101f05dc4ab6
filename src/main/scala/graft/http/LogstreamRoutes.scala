package graft.http

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpExchange
import org.apache.spark.sql.functions.{col, count, floor, lit, unix_millis}

import graft.engine.SmallFiles
import graft.ingest.IngestPipeline
import graft.query.{Alerts, Counts, QueryService, Rbac, ResponseWriter, TimeRange}

import GraftHttpServer._

/** Stream lifecycle management, retention enforcement and cluster
  * metastore endpoints.
  *
  * One surface of [[GraftHttpServer]] — split out for maintainability;
  * state and shared plumbing stay on the server class (self-type).
  */
private[http] trait LogstreamRoutes { self: GraftHttpServer =>

  /** Cluster management (reference `cluster/mod.rs` handlers, served by
    * querier-class nodes; admin-gated):
    *   - `GET /api/v1/cluster/info` — every registered node with a live
    *     reachability probe;
    *   - `DELETE /api/v1/cluster/{nodeId}` — drop a DEAD node's
    *     registration (refused with 400 while the node answers liveness).
    */
  private[http] def handleCluster(ex: HttpExchange): Unit = {
    if (role == Cluster.Ingestor) {
      err(ex, 404, "cluster management is not available on an ingestor node")
      return
    }
    authedUser(ex) match {
      case Left(msg) => err(ex, 401, msg)
      case Right(userOpt) =>
        if (requireAuth && !userOpt.exists(Rbac.isAdmin)) {
          err(ex, 403, "cluster management requires admin privileges")
          return
        }
        val rest = Option(ex.getRequestURI.getPath)
          .map(_.stripPrefix("/api/v1/cluster").stripPrefix("/"))
          .filter(_.nonEmpty)
        (ex.getRequestMethod, rest) match {
          case ("GET", Some("info")) =>
            val arr = mapper.createArrayNode()
            Cluster.clusterInfo(metaStore, root, httpClient).foreach { n =>
              val o = arr.addObject()
                .put("node_id", n.nodeId).put("url", n.url)
                .put("role", n.role).put("reachable", n.reachable)
                .put("storage_path", n.storagePath)
              n.status.foreach(o.put("status", _))
              n.error.foreach(o.put("error", _))
            }
            respond(ex, 200, mapper.writeValueAsString(arr))
          case ("DELETE", Some(id)) if id.nonEmpty && id != "info" =>
            Cluster.removeNode(metaStore, id, httpClient) match {
              case Left(msg)    => err(ex, 400, msg)
              case Right(true)  => respond(ex, 200,
                s"""{"status":"node '$id' removed"}""")
              case Right(false) => err(ex, 404, s"node '$id' not found")
            }
          case _ => err(ex, 405, "unsupported method/path")
        }
    }
  }

  // ---------------------------------------------------- stream management

  /** Stream management (reference `src/handlers/http/logstream.rs`):
    *   - `GET /api/v1/logstream` — visible streams (query-authorized only);
    *   - `PUT /api/v1/logstream/{name}` — create (ingest privilege);
    *   - `DELETE /api/v1/logstream/{name}` — drop data + registration
    *     (admin);
    *   - `GET …/{name}/schema` — the stream's accumulated schema;
    *   - `GET …/{name}/stats` — event count + storage bytes;
    *   - `GET|PUT …/{name}/retention` — retention config
    *     ([[graft.catalog.Retention]], reference `storage/retention.rs`);
    *   - `POST …/{name}/retention/cleanup` — enforce now (admin), returns
    *     the removed `date=…` partitions.
    */
  private[http] def handleLogstream(ex: HttpExchange): Unit = {
    authedUser(ex) match {
      case Left(msg) => err(ex, 401, msg)
      case Right(userOpt) =>
        val tenant = tenantOf(userOpt)
        val rest = Option(ex.getRequestURI.getPath)
          .map(_.stripPrefix("/api/v1/logstream").stripPrefix("/"))
          .filter(_.nonEmpty).map(_.split("/", 2).toSeq)
        def key(name: String) = tenantKey(tenant, name)
        def canQuery(name: String): Boolean =
          userOpt.forall(Rbac.authorized(_, Rbac.QueryAction, key(name)))
        def canIngest(name: String): Boolean =
          userOpt.forall(Rbac.authorized(_, Rbac.IngestAction, key(name)))
        def isAdminUser: Boolean =
          !requireAuth || userOpt.exists(Rbac.isAdmin)
        def streamDir(name: String) = s"$root/${key(name)}"
        def retentionPath(name: String) =
          new org.apache.hadoop.fs.Path(streamDir(name), "_retention.json")
        def hadoopFs(p: org.apache.hadoop.fs.Path) =
          p.getFileSystem(spark.sessionState.newHadoopConf())
        def exists(name: String): Boolean =
          streamsFor(tenant).contains(name)
        (ex.getRequestMethod, rest) match {
          case ("GET", None) =>
            val arr = mapper.createArrayNode()
            streamsFor(tenant).keys.toSeq.sorted
              .filter(canQuery)
              .foreach(n => arr.addObject().put("name", n))
            respond(ex, 200, mapper.writeValueAsString(arr))
          case ("POST", Some(Seq("schema", "detect"))) =>
            // reference detect_schema: infer the flattened schema a JSON
            // payload WOULD get, without creating anything
            val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
            IngestPipeline.prepare(body,
              IngestPipeline.StreamConfig("__detect")) match {
              case Left(msg) => err(ex, 400, msg)
              case Right(events) =>
                val schema = events
                  .map(graft.ingest.SchemaInference.inferSchema)
                  .foldLeft(new org.apache.spark.sql.types.StructType()) {
                    (acc, s) => graft.ingest.SchemaInference
                      .tryMerge(acc, s).getOrElse(acc)
                  }
                respond(ex, 200, schema.json)
            }
          case ("PUT", Some(Seq(name))) =>
            if (!canIngest(name)) {
              err(ex, 403,
                s"user lacks privilege to create stream '$name'"); return
            }
            invalidStreamName(name) match {
              case Some(msg) => err(ex, 400, msg); return
              case None => ()
            }
            handlePutStream(ex, name, key(name), exists(name))
          case ("DELETE", Some(Seq(name))) =>
            if (!isAdminUser) {
              err(ex, 403, "stream deletion requires admin privileges")
              return
            }
            if (!exists(name)) {
              err(ex, 404, s"stream '$name' not found"); return
            }
            val dir = new org.apache.hadoop.fs.Path(streamDir(name))
            hadoopFs(dir).delete(dir, true)
            val cat = new org.apache.hadoop.fs.Path(statsPath(key(name)))
            hadoopFs(cat).delete(cat, true)
            configs.remove(key(name))
            registry.remove(key(name))
            metaStore.removeStream(key(name))
            respond(ex, 200, s"""{"status":"deleted stream '$name'"}""")
          case ("GET", Some(Seq(name, "info"))) =>
            if (!canQuery(name)) { err(ex, 403, "forbidden"); return }
            if (!exists(name)) {
              err(ex, 404, s"stream '$name' not found"); return
            }
            // a restarted process rehydrates from persisted stream.json,
            // so HTTP-set facets (custom partitions, z-order,
            // time-partition limit) survive restarts
            val cfg = streamConfig(key(name))
            val o = mapper.createObjectNode().put("stream", name)
            o.put("stream_type", "UserDefined")
            cfg.timePartition match {
              case Some(tp) => o.put("time_partition", tp)
              case None => o.putNull("time_partition")
            }
            cfg.timePartitionLimitDays match {
              case Some(d) => o.put("time_partition_limit", s"${d}d")
              case None => o.putNull("time_partition_limit")
            }
            if (cfg.customPartitions.nonEmpty)
              o.put("custom_partition", cfg.customPartitions.mkString(","))
            else o.putNull("custom_partition")
            o.put("static_schema_flag", cfg.staticSchema.isDefined)
            cfg.zOrder match {
              case Some(p) =>
                val zo = o.putObject("z_order")
                val a = zo.putArray("dims")
                p.dims.foreach(a.add)
                zo.put("bits", p.bits)
              case None => o.putNull("z_order")
            }
            // first/latest event: min/max of the stream's event-time column
            // over stored data (reference get_stream_info's
            // first/latest_event_at; one aggregate, no row collect)
            val timeCol = cfg.timePartition.getOrElse("p_timestamp")
            val bounds =
              try {
                val r = spark.read.parquet(streamDir(name))
                  .agg(org.apache.spark.sql.functions.min(col(timeCol)),
                    org.apache.spark.sql.functions.max(col(timeCol))).head()
                if (r.isNullAt(0)) None
                else Some((r.get(0).toString, r.get(1).toString))
              } catch { case _: Exception => None }
            bounds match {
              case Some((first, latest)) =>
                o.put("first_event_at", first)
                o.put("latest_event_at", latest)
              case None =>
                o.putNull("first_event_at"); o.putNull("latest_event_at")
            }
            respond(ex, 200, mapper.writeValueAsString(o))
          case ("GET", Some(Seq(name, "schema"))) =>
            if (!canQuery(name)) { err(ex, 403, "forbidden"); return }
            // stored parquet is authoritative (includes enrichment columns
            // like p_timestamp); the registry covers not-yet-written streams
            (try Some(spark.read.parquet(streamDir(name)).schema)
             catch { case _: Exception => None })
              .orElse(registry.get(key(name))) match {
              case Some(schema) => respond(ex, 200, schema.json)
              case None => err(ex, 404, s"stream '$name' not found")
            }
          case ("GET", Some(Seq(name, "stats"))) =>
            if (!canQuery(name)) { err(ex, 403, "forbidden"); return }
            if (!exists(name)) {
              err(ex, 404, s"stream '$name' not found"); return
            }
            val dir = new org.apache.hadoop.fs.Path(streamDir(name))
            val fs = hadoopFs(dir)
            val (events, bytes) =
              if (!fs.exists(dir)) (0L, 0L)
              else {
                val sum = fs.getContentSummary(dir)
                // synced-catalog num_rows when maintained (no file opens,
                // and the sync folds in out-of-band files); else parquet
                // footer-metadata count
                val n = syncedCountStar(key(name)).getOrElse(
                  try spark.read.parquet(streamDir(name)).count()
                  catch { case _: Exception => 0L })
                (n, sum.getLength)
              }
            val o = mapper.createObjectNode().put("stream", name)
            o.putObject("ingestion").put("count", events)
            o.putObject("storage").put("size", bytes)
            respond(ex, 200, mapper.writeValueAsString(o))
          case ("GET", Some(Seq(name, "retention"))) =>
            if (!canQuery(name)) { err(ex, 403, "forbidden"); return }
            val p = retentionPath(name)
            respond(ex, 200, SmallFiles.read(hadoopFs(p), p).getOrElse("[]"))
          case ("PUT", Some(Seq(name, "retention"))) =>
            if (!isAdminUser) {
              err(ex, 403, "retention config requires admin privileges")
              return
            }
            if (!exists(name)) {
              err(ex, 404, s"stream '$name' not found"); return
            }
            val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
            graft.catalog.Retention.parse(body) match {
              case Left(msg) => err(ex, 400, msg)
              case Right(tasks) =>
                val p = retentionPath(name)
                SmallFiles.publish(hadoopFs(p), p,
                  graft.catalog.Retention.render(tasks))
                respond(ex, 200, """{"status":"ok"}""")
            }
          case ("POST", Some(Seq(name, "retention/cleanup"))) =>
            if (!isAdminUser) {
              err(ex, 403, "retention cleanup requires admin privileges")
              return
            }
            val removed = enforceRetention(name, tenant)
            // the catalog must forget the dropped partitions' files
            if (removed.nonEmpty) { syncedCountStar(key(name)); () }
            val o = mapper.createObjectNode()
            val arr = o.putArray("removed")
            removed.foreach(arr.add)
            respond(ex, 200, mapper.writeValueAsString(o))
          // hot tier (reference put/get/delete_stream_hot_tier,
          // logstream.rs:421-560): pin the newest date partitions of the
          // stream into the executor-local cache tier
          case ("PUT", Some(Seq(name, "hottier"))) =>
            if (!isAdminUser) {
              err(ex, 403, "hot tier requires admin privileges"); return
            }
            if (!exists(name)) {
              err(ex, 404, s"stream '$name' not found"); return
            }
            val body =
              try mapper.readTree(
                new String(ex.getRequestBody.readAllBytes(), UTF_8))
              catch {
                case e: com.fasterxml.jackson.core.JacksonException =>
                  err(ex, 400,
                    s"malformed JSON body: ${e.getOriginalMessage}")
                  return
              }
            Option(body.get("size")).foreach(s =>
              graft.catalog.HotTier.budgetBytes = s.asLong())
            val keep = Option(body.get("keep_dates")).map(_.asInt())
              .getOrElse(1)
            if (keep < 0) { err(ex, 400, "keep_dates must be >= 0"); return }
            hotTierKeep.put(key(name), keep)
            val pinned = graft.catalog.HotTier.refresh(spark, root,
              key(name), keep)
            val o = mapper.createObjectNode().put("keep_dates", keep)
            val arr = o.putArray("pinned")
            pinned.foreach(arr.add)
            respond(ex, 200, mapper.writeValueAsString(o))
          case ("GET", Some(Seq(name, "hottier"))) =>
            if (!canQuery(name)) { err(ex, 403, "forbidden"); return }
            Option(hotTierKeep.get(key(name))) match {
              case None =>
                err(ex, 404, s"hot tier not configured for '$name'")
              case Some(keep) =>
                val o = mapper.createObjectNode().put("keep_dates", keep)
                  .put("used_bytes", graft.catalog.HotTier.usedBytes(spark))
                respond(ex, 200, mapper.writeValueAsString(o))
            }
          case ("DELETE", Some(Seq(name, "hottier"))) =>
            if (!isAdminUser) {
              err(ex, 403, "hot tier requires admin privileges"); return
            }
            if (Option(hotTierKeep.remove(key(name))).isEmpty) {
              err(ex, 404, s"hot tier not configured for '$name'"); return
            }
            graft.catalog.HotTier.refresh(spark, root, key(name), 0)
            respond(ex, 200, """{"status":"hot tier disabled"}""")
          case _ => err(ex, 405, "unsupported method/path")
        }
    }
  }

  /** Stream create/update with the reference's PUT headers
    * (`parseable/mod.rs create_update_stream`:733-853, header parsing
    * `modal/utils/logstream_utils.rs:80-110`):
    *   - `X-P-Static-Schema-Flag: true` — the JSON body
    *     (`{"fields":[{name, data_type}]}`) becomes a FIXED schema
    *     ([[graft.ingest.StaticSchema]]); ingest then rejects any event
    *     with fields outside it.
    *   - `X-P-Custom-Partition` — one extra Hive partition column for the
    *     stream's writes (reference cap: exactly one, no '.').
    *   - `X-P-Time-Partition-Limit` — "Nd" retention metadata, recorded
    *     and surfaced by GET .../info.
    *   - `X-P-Update-Stream: true` — update limit/custom-partition on an
    *     existing stream; altering a schema is refused like the reference.
    * A repeated create without the update flag is refused 400
    * (`parseable/mod.rs:794-801`).
    */
  private def handlePutStream(ex: HttpExchange, name: String,
                              streamKey: String, alreadyExists: Boolean): Unit = {
    val h = ex.getRequestHeaders
    def hdr(k: String): Option[String] =
      Option(h.getFirst(k)).map(_.trim).filter(_.nonEmpty)
    def flag(k: String): Boolean = hdr(k).exists(_.equalsIgnoreCase("true"))
    val staticFlag = flag("X-P-Static-Schema-Flag")
    val updateFlag = flag("X-P-Update-Stream")
    val customHdr = hdr("X-P-Custom-Partition")
    val limitHdr = hdr("X-P-Time-Partition-Limit")
    // opt-in Z-order layout policy: `X-P-Z-Order: col1,col2` (+ optional
    // `X-P-Z-Order-Bits`); `X-P-Z-Order: none` clears it on update
    val zOrderHdr = hdr("X-P-Z-Order")
    val zBitsHdr = hdr("X-P-Z-Order-Bits")
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)

    def parseLimit(s: String): Either[String, Int] =
      if (!s.endsWith("d"))
        Left(s"missing 'd' suffix for duration value '$s'")
      else s.dropRight(1).toIntOption.filter(_ > 0)
        .toRight(s"could not convert time partition limit '$s' to days")
    def parseCustom(s: String): Either[String, Seq[String]] = {
      val ls = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      if (ls.length > 1) Left("Maximum 1 custom partition key is supported")
      else if (ls.exists(_.contains('.')))
        Left(s"custom partition field ${ls.head} must not contain '.'")
      else Right(ls)
    }
    def parseZOrder: Either[String, Option[IngestPipeline.ZOrderPolicy]] =
      zOrderHdr match {
        // bits alone configure nothing — refuse rather than silently
        // ignore (and, on update, rather than falling through to the
        // custom-partition branch, which would CLEAR it)
        case None if zBitsHdr.isDefined =>
          Left("X-P-Z-Order-Bits requires X-P-Z-Order")
        case None => Right(None)
        case Some(s) if s.equalsIgnoreCase("none") => Right(None)
        case Some(s) =>
          val dims = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          val bits = zBitsHdr.map(_.toIntOption.toRight(
            s"could not parse X-P-Z-Order-Bits '${zBitsHdr.get}'"))
            .getOrElse(Right(12))
          bits.flatMap { b =>
            if (dims.isEmpty) Left("X-P-Z-Order needs at least one column")
            else if (dims.size != dims.distinct.size)
              Left("X-P-Z-Order columns must be distinct")
            else if (b < 1 || b > 62 || dims.size * b > 63)
              Left(s"z-order needs bits in [1, 62] and dims*bits <= 63 " +
                s"(got ${dims.size} dims * $b bits)")
            else Right(Some(IngestPipeline.ZOrderPolicy(dims, b)))
          }
      }

    if (updateFlag) {
      if (!alreadyExists) { err(ex, 404, s"stream '$name' not found"); return }
      if (staticFlag) {
        err(ex, 400,
          "Altering the schema of an existing stream is restricted."); return
      }
      // one update request mutates ONE config facet — combining the
      // mutually-exclusive headers would silently drop all but the first
      // matched, so refuse the combination outright
      val updateHdrs = Seq(
        limitHdr.map(_ => "X-P-Time-Partition-Limit"),
        zOrderHdr.map(_ => "X-P-Z-Order"),
        customHdr.map(_ => "X-P-Custom-Partition")).flatten
      if (updateHdrs.size > 1) {
        err(ex, 400, "an update request accepts exactly one of " +
          "X-P-Time-Partition-Limit, X-P-Z-Order or X-P-Custom-Partition " +
          s"(got: ${updateHdrs.mkString(", ")})")
        return
      }
      // bits-only update: without this guard the dispatch would fall
      // through to the custom-partition branch and silently (and now
      // durably) clear customPartitions
      if (zBitsHdr.isDefined && zOrderHdr.isEmpty) {
        err(ex, 400, "X-P-Z-Order-Bits requires X-P-Z-Order")
        return
      }
      // the update applies to the stored config, loaded first when this
      // process has not seen the stream yet (a restart)
      streamConfig(streamKey)
      limitHdr match {
        case Some(l) => parseLimit(l) match {
          case Left(m) => err(ex, 400, m)
          case Right(days) =>
            val updated = configs.computeIfPresent(streamKey,
              (_, c) => c.copy(timePartitionLimitDays = Some(days)))
            Option(updated).foreach(persistStreamMeta)
            // the reference's update path returns after a limit update
            respond(ex, 200, s"""{"status":"updated stream '$name'"}""")
        }
        case None if zOrderHdr.isDefined =>
          // z-order layout update: affects FUTURE writes only (existing
          // files keep their layout until compaction re-clusters them);
          // `X-P-Z-Order: none` clears the policy
          parseZOrder match {
            case Left(m) => err(ex, 400, m)
            case Right(pol) =>
              val updated = configs.computeIfPresent(streamKey,
                (_, c) => c.copy(zOrder = pol))
              Option(updated).foreach(persistStreamMeta)
              respond(ex, 200, s"""{"status":"updated stream '$name'"}""")
          }
        case None =>
          // no limit header: set (or CLEAR, when absent) the custom
          // partition — reference validate_and_update_custom_partition
          customHdr.map(parseCustom).getOrElse(Right(Nil)) match {
            case Left(m) => err(ex, 400, m)
            case Right(parts) =>
              val updated = configs.computeIfPresent(streamKey,
                (_, c) => c.copy(customPartitions = parts))
              Option(updated).foreach(persistStreamMeta)
              respond(ex, 200, s"""{"status":"updated stream '$name'"}""")
          }
      }
      return
    }

    if (alreadyExists) {
      err(ex, 400, s"Logstream $name already exists, please create a new " +
        "log stream with unique name")
      return
    }
    val parsed = for {
      limit <- limitHdr.map(l => parseLimit(l).map(Some(_)))
        .getOrElse(Right(None))
      parts <- customHdr.map(parseCustom).getOrElse(Right(Nil))
      zorder <- parseZOrder
      schema <-
        if (!staticFlag) Right(None)
        else if (body.isBlank)
          Left(s"Please provide schema in the request body for static " +
            s"schema logstream $name")
        else graft.ingest.StaticSchema.parse(body, parts).map(Some(_))
    } yield (limit, parts, zorder, schema)
    parsed match {
      case Left(m) => err(ex, 400, m)
      case Right((limit, parts, zorder, schema)) =>
        val created = configs.computeIfAbsent(streamKey, k => {
          metaStore.putStream(k)
          // a static schema is the stream's schema from birth: commit it
          // so schema reads/merges see it before any event arrives
          schema.foreach(s => registry.commit(k, s))
          IngestPipeline.StreamConfig(k, customPartitions = parts,
            staticSchema = schema, timePartitionLimitDays = limit,
            zOrder = zorder)
        })
        persistStreamMeta(created)
        respond(ex, 200, s"""{"status":"created stream '$name'"}""")
    }
  }

  /** Run the stream's configured retention delete task now; returns the
    * removed `date=…` partition names. A deployment runs this daily (the
    * reference's midnight scheduler) — here it's an explicit admin call so
    * enforcement time is under the operator's control.
    */
  /** Persist the stream's durable metadata (`stream.json`) so maintenance
    * jobs running OUTSIDE this server process — compaction re-clustering by
    * the Z-order policy, catalog-backed scans — see lifecycle changes made
    * over HTTP, and so an `X-P-Z-Order` create/update survives a restart.
    * Only the partition/layout fields belong to this handler: any schema or
    * retention already persisted by the ingest path is carried through.
    */
  private[http] def persistStreamMeta(
      cfg: IngestPipeline.StreamConfig): Unit = {
    // the HTTP lifecycle is AUTHORITATIVE for layout facets (an update
    // may clear a policy), so this writes `save`, not the ingest path's
    // keep-if-absent `mergeSave` — but the load-then-save still runs
    // under the stream lock or a concurrent per-batch save interleaves
    graft.catalog.StreamMeta.locked(root, cfg.name) {
      val existing = graft.catalog.StreamMeta.load(root, cfg.name)
      graft.catalog.StreamMeta.save(root, graft.catalog.StreamMeta
        .fromConfig(cfg,
          existing.flatMap(_.schema).orElse(cfg.staticSchema))
        .copy(retention = existing.flatMap(_.retention)))
    }
  }

  def enforceRetention(name: String,
                       tenant: String = DefaultTenant): Seq[String] = {
    val dir = s"$root/${tenantKey(tenant, name)}"
    val p = new org.apache.hadoop.fs.Path(dir, "_retention.json")
    SmallFiles.read(p.getFileSystem(spark.sessionState.newHadoopConf()), p)
      .map(graft.catalog.Retention.parse) match {
      case Some(Right(tasks)) => tasks.flatMap(t =>
        // metadata before data (the reference's ordering): enforce drops
        // the stream's catalog rows first, then the partitions — a crash
        // between the two leaves only unreferenced files, never a
        // catalog pointing at deleted data
        graft.catalog.Retention.enforce(spark, dir, t.days,
          java.time.LocalDate.now(),
          catalogPath = Some(statsPath(tenantKey(tenant, name)))))
      case _ => Seq.empty
    }
  }
}
