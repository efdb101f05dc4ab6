package graft.http

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, floor, lit, unix_millis}

import graft.ingest.IngestPipeline
import graft.query.{Alerts, Counts, QueryService, Rbac, ResponseWriter, TimeRange}

/** Minimal HTTP service shell binding the ingest and query libraries to a
  * port — the Spark-side analog of the reference's actix handlers
  * (`src/handlers/http/ingest.rs:69-180` ingest flow,
  * `src/handlers/http/query.rs:63-77` query flow), on the JDK's built-in
  * `com.sun.net.httpserver` (zero extra dependencies).
  *
  * Endpoints (reference API shapes):
  *   - `POST /api/v1/ingest` — header `X-P-Stream` names the stream, body
  *     is a JSON object or array of objects. Runs the full
  *     [[IngestPipeline]] (flatten → rename → schema-merge → enrich) and
  *     appends to the stream's minute-partitioned parquet table.
  *   - `POST /api/v1/query` — body
  *     `{"query": sql, "startTime": t, "endTime": t}` with human times
  *     ("now", "10m", RFC-3339 — [[TimeRange.parseHumanTime]]). The time
  *     window is injected into every referenced stream
  *     ([[QueryService.query]]). `Accept: application/x-ndjson` streams
  *     newline-delimited rows through `toLocalIterator` (bounded driver
  *     memory); anything else returns one JSON array.
  *   - `POST|GET|PUT|DELETE /api/v1/filters[/{id}]` and
  *     `/api/v1/dashboards[/{id}]` — per-user saved filters and dashboards
  *     CRUD ([[UserConfigs]]; reference `src/users/filters.rs`,
  *     `src/users/dashboards.rs`). Filters name a stream and require query
  *     access to it; both kinds resolve only within the calling user's
  *     own namespace.
  *   - `GET /api/v1/liveness`, `GET /api/v1/readiness` — health probes.
  *   - `GET /api/v1/o/login|callback|logout` — OIDC authorization-code
  *     login ([[Oidc]]; reference `src/handlers/http/oidc.rs`): login
  *     redirects to the provider (or exchanges valid Basic credentials for
  *     a session cookie — the reference's basic-for-cookie path), callback
  *     validates the id_token and mints a session, logout revokes it.
  *
  * Auth: when `requireAuth` is set, requests carry a `session` cookie
  * (minted by the OIDC flow), HTTP Basic credentials, or an `x-api-key`
  * header (reference `src/apikeys.rs` — each key backs a user;
  * [[revokeApiKey]] kills a key at runtime). The resolved username feeds
  * the [[Rbac]] grants table, and queries run through the same
  * `user_auth_for_datasets` gate.
  *
  * Multi-tenancy (reference `src/tenants/mod.rs`,
  * `stream_schema_provider.rs:76-109`): `userTenants` assigns users to
  * tenants (absent = the default tenant). Streams are registered,
  * stored (`<root>/<tenant>/<stream>`) and RBAC-checked under
  * tenant-scoped keys, and every request resolves stream NAMES strictly
  * inside the caller's tenant — tenant A cannot even name tenant B's
  * streams. Default-tenant keys stay un-prefixed, so single-tenant
  * deployments are unchanged.
  *
  * Scale note: this shell is a driver-side front door for API-sized
  * payloads — exactly the reference's standalone mode. Bulk ingestion
  * belongs on the executor path ([[graft.streaming.IngestStream]]); query
  * results stream with bounded memory. The server itself is a fixed
  * thread pool; Spark serializes/parallelizes the real work.
  */
final class GraftHttpServer(
    private[http] val spark: SparkSession,
    private[http] val root: String,
    port: Int = 0,
    private[http] val requireAuth: Boolean = false,
    private[http] val users: Map[String, String] = Map.empty,
    threads: Int = 8,
    private[http] val userTenants: Map[String, String] = Map.empty,
    private[http] val apiKeys: Map[String, String] = Map.empty,
    private[http] val oidc: Option[Oidc.Config] = None,
    private[http] val role: Cluster.NodeRole = Cluster.All,
    nodeId: String = "",
    private[http] val llm: Option[Llm.Config] = None,
    resourceCheck: Option[ResourceMonitor.Config] = None,
    tls: Option[Tls.Config] = None,
    trustedCerts: Option[String] = None,
    // reference P_SQL_TIMEOUT (cli.rs:211-219, enforced query/mod.rs:157):
    // a query exceeding this is cancelled and answered 504
    private[http] val sqlTimeoutSeconds: Int = 300,
    // reference P_CORS + P_ALLOW_ORIGINS (cli.rs:154-163,265-271):
    // cors=false → permissive (echo any Origin); true → allow-list only
    private[http] val cors: Boolean = false,
    private[http] val allowOrigins: Seq[String] = Nil)
  extends OidcRoutes with IngestRoutes with QueryRoutes with TailRoutes
  with LogstreamRoutes with AlertRoutes with UserRoutes with PrismRoutes
  with LlmRoutes with SimilarityRoutes with TextSearchRoutes {

  import GraftHttpServer.{DefaultTenant, SessionTtlMs, StateTtlMs}

  private[http] val mapper = new ObjectMapper()
  private[http] val configs =
    new java.util.concurrent.ConcurrentHashMap[String, IngestPipeline.StreamConfig]()
  val registry = new IngestPipeline.SchemaRegistry
  private[http] val userConfigs = new UserConfigs(root)
  private[http] val userAccounts = new UserAccounts(root)
  private[http] val apiKeyStore = new ApiKeyStore(root)
  private[http] val alertStore = new AlertStore(root)
  private[http] val revokedKeys =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // OIDC state: opaque session ids → (user, expiry); single-use login
  // states → (redirect target, creation time). Both maps are bounded by
  // TTL sweeps on access — no background reaper thread needed.
  private[http] case class Session(user: String, expiresAtMs: Long)
  private[http] val sessions =
    new java.util.concurrent.ConcurrentHashMap[String, Session]()
  private[http] case class Pending(redirect: String, createdMs: Long)
  private[http] val pendingStates =
    new java.util.concurrent.ConcurrentHashMap[String, Pending]()
  // hot-tier config per stream key: how many newest dates stay pinned
  private[http] val hotTierKeep =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  // trustedCerts pins the outbound trust anchors (cluster peers serving
  // self-signed/private-CA TLS); unset keeps the platform default roots
  private[http] lazy val httpClient = trustedCerts
    .foldLeft(java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(5)))(
      (b, path) => b.sslContext(Tls.clientContext(path)))
    .build()
  private[http] val rng = new java.security.SecureRandom()

  // request counters surfaced by /metrics (reference's prometheus
  // middleware); cheap atomics, bumped on the hot handlers
  private[http] val startedAtMs = System.currentTimeMillis()
  private[http] val ingestCalls = new java.util.concurrent.atomic.AtomicLong
  private[http] val ingestedEvents = new java.util.concurrent.atomic.AtomicLong
  private[http] val queryCalls = new java.util.concurrent.atomic.AtomicLong

  // per-stream labeled series (reference EVENTS_INGESTED /
  // EVENTS_INGESTED_SIZE IntGaugeVecs, metrics/mod.rs:38-57): stream key →
  // (events, approx json bytes); storage size is computed at scrape time
  private[http] val streamEvents = new java.util.concurrent.ConcurrentHashMap[
    String, (java.util.concurrent.atomic.AtomicLong,
             java.util.concurrent.atomic.AtomicLong)]
  private[http] def countStreamIngest(key: String, events: Long,
      bytes: Long): Unit = {
    val c = streamEvents.computeIfAbsent(key,
      _ => (new java.util.concurrent.atomic.AtomicLong,
            new java.util.concurrent.atomic.AtomicLong))
    c._1.addAndGet(events)
    c._2.addAndGet(bytes)
    ()
  }

  // /query latency histogram (reference QUERY_EXECUTE_TIME HistogramVec):
  // cumulative prometheus buckets in seconds + sum/count
  private[http] val queryLatencyBounds =
    Array(0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, 10.0)
  private[http] val queryLatencyCounts =
    Array.fill(queryLatencyBounds.length + 1)(
      new java.util.concurrent.atomic.AtomicLong)
  private[http] val queryLatencySumMicros =
    new java.util.concurrent.atomic.AtomicLong
  private[http] def observeQueryLatency(sec: Double): Unit = {
    var i = 0
    while (i < queryLatencyBounds.length && sec > queryLatencyBounds(i)) i += 1
    queryLatencyCounts(i).incrementAndGet()
    queryLatencySumMicros.addAndGet((sec * 1e6).toLong)
    ()
  }

  // cluster metastore lives in the shared storage root — the same place
  // the data goes, so every node sees the same registrations
  private[http] val metaStore = new Cluster.MetaStore(root)
  private[http] val myNodeId =
    if (nodeId.nonEmpty) nodeId else s"node-${randomToken().take(8)}"

  /** Kill an API key at runtime (reference key revocation). */
  def revokeApiKey(token: String): Unit = { revokedKeys.add(token); () }

  // HTTPS when a cert+key pair is configured, plaintext otherwise — the
  // reference's both-or-nothing switch (ssl_acceptor.rs via modal/mod.rs).
  // A bad TLS config throws here: never silently fall back to plaintext.
  private[http] val server = tls match {
    case Some(t) =>
      val s = com.sun.net.httpserver.HttpsServer
        .create(new InetSocketAddress("127.0.0.1", port), 0)
      s.setHttpsConfigurator(
        new com.sun.net.httpserver.HttpsConfigurator(Tls.sslContext(t)))
      s
    case None =>
      HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  }

  /** Whether this server terminates TLS (affects the advertised scheme). */
  def isTls: Boolean = tls.isDefined
  private[http] val pool =
    java.util.concurrent.Executors.newFixedThreadPool(threads)
  server.setExecutor(pool)

  /** Ephemeral-port deployments read the bound port after construction. */
  def boundPort: Int = server.getAddress.getPort

  /** Tenant of a resolved user; unauthenticated and unassigned users live
    * in the default tenant.
    */
  private[http] def tenantOf(user: Option[String]): String =
    user.flatMap(u => userTenants.get(u)
      .orElse(userAccounts.tenantOfUser(u))
      .orElse(apiKeyStore.tenantOfPrincipal(u))).getOrElse(DefaultTenant)

  /** Tenant-scoped stream key — registry, storage path suffix and RBAC
    * resource. Default-tenant keys stay bare for single-tenant
    * compatibility.
    */
  /** Run a response-producing body under the SQL execution timeout
    * (reference `P_SQL_TIMEOUT`, enforced at `query/mod.rs:157-161`):
    * the handler thread's Spark jobs are tagged with a unique group and a
    * watchdog cancels the group at the deadline — running tasks are
    * interrupted, the result iterator throws, and the client gets 504.
    * On the streaming path the headers may already be out; the cancelled
    * stream simply truncates (best possible once bytes have flowed).
    */
  private[http] def withSqlTimeout(ex: com.sun.net.httpserver.HttpExchange)
      (body: => Unit): Unit = {
    val group = s"graft-query-${java.util.UUID.randomUUID()}"
    val sc = spark.sparkContext
    sc.setJobGroup(group, "http query", interruptOnCancel = true)
    val watchdog = GraftHttpServer.watchdogPool.schedule(
      new Runnable { def run(): Unit = sc.cancelJobGroup(group) },
      sqlTimeoutSeconds.toLong, java.util.concurrent.TimeUnit.SECONDS)
    def cancelled(e: Throwable): Boolean = {
      var cur = e; var depth = 0
      while (cur != null && depth < 10) {
        if (String.valueOf(cur.getMessage).contains("cancelled")) return true
        cur = cur.getCause; depth += 1
      }
      false
    }
    val t0 = System.nanoTime()
    try body
    catch {
      case e: Throwable if cancelled(e) =>
        try err(ex, 504,
          s"SQL query timed out after $sqlTimeoutSeconds seconds")
        catch { case _: Exception => () } // streaming: headers already sent
    } finally {
      watchdog.cancel(false)
      sc.clearJobGroup()
      // reference QUERY_EXECUTE_TIME: every timed SQL envelope (query,
      // counts, context) lands in the scrape histogram, timeouts included
      observeQueryLatency((System.nanoTime() - t0) / 1e9)
    }
  }

  private[http] def tenantKey(tenant: String, stream: String): String =
    if (tenant == DefaultTenant) stream else s"$tenant/$stream"

  /** [[graft.streaming.LiveTail]] key of a (tenant-scoped) stream key: the
    * stream's storage path, so two servers on different roots in one JVM
    * never tail or stage each other's batches.
    */
  private[http] def liveTailKey(streamKey: String): String =
    s"$root/$streamKey"

  /** Streams of the DEFAULT tenant (single-tenant compatibility surface). */
  def streams: Map[String, QueryService.Stream] = streamsFor(DefaultTenant)

  /** Streams visible to `tenant`, keyed by their BARE name — the resolution
    * map a query from that tenant sees; other tenants' streams are simply
    * absent from it.
    */
  def streamsFor(tenant: String): Map[String, QueryService.Stream] = {
    // streams ingested through OTHER nodes of the cluster resolve here via
    // the shared metastore — a querier node knows every ingestor's streams
    val keys = configs.keys().asScala.toSet ++ metaStore.streams()
    keys.toSeq.flatMap { key =>
      val bare =
        if (tenant == DefaultTenant) Option.when(!key.contains('/'))(key)
        else Option.when(key.startsWith(s"$tenant/"))(
          key.stripPrefix(s"$tenant/"))
      // streams with a maintained stats catalog read through the
      // catalog-backed FileIndex (file pruning before any footer opens)
      bare.map(_ -> QueryService.Stream(s"$root/$key", "p_timestamp",
        catalogPath = Option(statsPath(key))
          .filter(p => new java.io.File(p).isDirectory),
        // staging/live-tail buffers are keyed by root + tenant-scoped key:
        // a query can never union another tenant's (or another server's)
        // same-named staging rows
        tailKey = liveTailKey(key)))
    }.toMap
  }

  /** The config of a (tenant-scoped) stream key. A key this process has
    * not seen is rehydrated from its persisted `stream.json` (partitions,
    * z-order, limit), and its schema registry is seeded with the data
    * schema already stored for it (the latest catalog version's, else
    * the one in `stream.json`, minus the `p_*` enrichment columns), so the
    * first batch after a restart lays out and renames conflicting fields
    * as the batches before it did. The key is advertised in the shared
    * metastore so the cluster's querier nodes can resolve it.
    */
  private[http] def streamConfig(key: String): IngestPipeline.StreamConfig =
    configs.computeIfAbsent(key, k => {
      metaStore.putStream(k)
      val meta = graft.catalog.StreamMeta.load(root, k)
      val enrichment = graft.catalog.StreamMeta
        .enriched(new org.apache.spark.sql.types.StructType()).fieldNames.toSet
      graft.catalog.TxnCatalog.latestDataSchema(statsPath(k))
        .orElse(meta.flatMap(_.schema))
        .foreach(s => registry.commit(k, org.apache.spark.sql.types.StructType(
          s.fields.filterNot(f => enrichment(f.name)))))
      meta.map(graft.catalog.StreamMeta.toConfig)
        .getOrElse(IngestPipeline.StreamConfig(k))
    })

  // ------------------------------------------------------------- plumbing

  /** Response floor below which gzip costs more than it saves. */
  private val GzipMinBytes = 512

  private def gzipAccepted(header: String): Boolean =
    GraftHttpServer.gzipAccepted(header)

  private[http] def respond(ex: HttpExchange, status: Int, body: String,
                      contentType: String = "application/json"): Unit = {
    val plain = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    // response compression (reference actix Compress middleware,
    // modal/mod.rs:119): gzip buffered bodies when the client asks and
    // the payload clears the floor; streaming NDJSON paths stay identity
    val acceptsGzip = Option(
      ex.getRequestHeaders.getFirst("Accept-Encoding")).exists(gzipAccepted)
    val bytes =
      if (acceptsGzip && plain.length >= GzipMinBytes) {
        val bos = new java.io.ByteArrayOutputStream(plain.length / 3 + 64)
        val gz = new java.util.zip.GZIPOutputStream(bos)
        try gz.write(plain) finally gz.close()
        ex.getResponseHeaders.set("Content-Encoding", "gzip")
        ex.getResponseHeaders.add("Vary", "Accept-Encoding")
        bos.toByteArray
      } else plain
    ex.sendResponseHeaders(status, bytes.length.toLong)
    try ex.getResponseBody.write(bytes)
    finally ex.close()
  }

  private[http] def err(ex: HttpExchange, status: Int, msg: String): Unit =
    respond(ex, status,
      mapper.writeValueAsString(
        mapper.createObjectNode().put("error", msg)))

  /** Authenticated user, if valid; Right(None) when auth is not required.
    * Order mirrors the reference middleware: a `session` cookie (the OIDC
    * session key) first, then `x-api-key` (token → backing user, unless
    * revoked), then Basic credentials.
    */
  private[http] def authedUser(ex: HttpExchange): Either[String, Option[String]] = {
    if (!requireAuth) Right(None)
    else sessionCookie(ex).flatMap(sessionUser) match {
      case Some(user) => Right(Some(user))
      case None => Option(ex.getRequestHeaders.getFirst("x-api-key")) match {
        case Some(token) =>
          if (revokedKeys.contains(token)) Left("API key revoked")
          else apiKeys.get(token) match {
            case Some(user) => Right(Some(user))
            case None =>
              // dynamically-provisioned keys act as their OWN principal,
              // authorized through the roles assigned at creation
              apiKeyStore.authenticate(token) match {
                case Some((principal, _)) => Right(Some(principal))
                case None                 => Left("invalid API key")
              }
          }
        case None => basicUser(ex)
      }
    }
  }

  private[http] def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).toSeq
      .flatMap(_.split("&").toSeq).flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) =>
            Some(k -> java.net.URLDecoder.decode(v, UTF_8))
          case _ => None
        }
      }.toMap

  /** CORS (reference `cross_origin_config`, handlers/http/mod.rs:75-90):
    * with `cors=false` the server is PERMISSIVE (echo any Origin);
    * enabled, only `allowOrigins` members are echoed — a mismatched
    * origin still gets its response, just without CORS headers
    * (`block_on_origin_mismatch(false)`). Preflight OPTIONS with a
    * request-method header short-circuits to 200 echoing the asked
    * method/headers (actix `allow_any_method`/`allow_any_header`).
    */
  private def corsHeaders(ex: HttpExchange): Boolean = {
    Option(ex.getRequestHeaders.getFirst("Origin")) match {
      case None => false
      case Some(origin) =>
        val allowed = !cors || allowOrigins.contains(origin)
        if (allowed) {
          val h = ex.getResponseHeaders
          h.set("Access-Control-Allow-Origin", origin)
          h.set("Access-Control-Allow-Credentials", "true")
          h.add("Vary", "Origin")
        }
        allowed
    }
  }

  private[http] def handler(f: HttpExchange => Unit): HttpHandler =
    new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        try {
          // reference check_shutdown_middleware: once the shutdown flag is
          // up every route answers 503 — load balancers drain on it while
          // in-flight exchanges finish under server.stop's grace window
          if (stopping) {
            err(ex, 503, "Server is shutting down"); return
          }
          val corsOk = corsHeaders(ex)
          val preflight = ex.getRequestMethod == "OPTIONS" &&
            ex.getRequestHeaders.containsKey("Access-Control-Request-Method")
          if (preflight) {
            if (corsOk) {
              val h = ex.getResponseHeaders
              h.set("Access-Control-Allow-Methods", String.valueOf(
                ex.getRequestHeaders.getFirst("Access-Control-Request-Method")))
              Option(ex.getRequestHeaders
                  .getFirst("Access-Control-Request-Headers"))
                .foreach(h.set("Access-Control-Allow-Headers", _))
              h.set("Access-Control-Max-Age", "3600")
            }
            respond(ex, 200, "")
          } else {
            // request decompression (actix extractors decompress
            // transparently; OTel exporters gzip OTLP bodies by default):
            // swap the exchange's input stream before the handler reads it
            Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
              .map(_.trim.toLowerCase).filter(_.nonEmpty) match {
              case None | Some("identity") => f(ex)
              case Some("gzip") | Some("x-gzip") =>
                // the GZIP header is read eagerly — a garbage body fails
                // HERE, as a clean 400, not inside the handler
                val wrapped =
                  try new java.util.zip.GZIPInputStream(ex.getRequestBody)
                  catch {
                    case _: java.io.IOException =>
                      err(ex, 400, "malformed gzip request body"); return
                  }
                ex.setStreams(wrapped, null)
                f(ex)
              case Some("deflate") =>
                ex.setStreams(new java.util.zip.InflaterInputStream(
                  ex.getRequestBody), null)
                f(ex)
              case Some(other) =>
                err(ex, 415, s"unsupported Content-Encoding '$other'")
            }
          }
        } catch {
          // a corrupt compressed body can also fail mid-read inside the
          // handler — that's the CLIENT's malformed payload, not a bug
          case e @ (_: java.util.zip.ZipException | _: java.io.EOFException) =>
            try err(ex, 400, s"malformed compressed body: ${e.getMessage}")
            catch { case _: Exception => () }
          case e: Exception =>
            try err(ex, 500, String.valueOf(e.getMessage))
            catch { case _: Exception => () }
        }
    }

  /** The stream's per-file stats catalog (the reference's manifest),
    * maintained incrementally on every append so `/counts` (bin density)
    * and stats fast paths answer from metadata.
    */
  private[http] def statsPath(streamKey: String): String =
    s"$root/.stats/$streamKey"

  // per-stream serialization of catalog rewrites: two concurrent appends
  // must not interleave list-then-overwrite (one would drop the other's
  // rows, and the catalog is load-bearing for reads)
  private[http] val statsLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Exact event count via the catalog, reconciling it first (one listing
    * — what a bare parquet count pays anyway) so files written or DELETED
    * out-of-band (compaction, retention, manual copies) are folded in and
    * later reads through the catalog see them too. None when no catalog is
    * maintained.
    */
  private[http] def syncedCountStar(streamKey: String): Option[Long] = {
    val cat = statsPath(streamKey)
    if (!new java.io.File(cat).isDirectory) None
    else {
      val lock = statsLocks.computeIfAbsent(streamKey, _ => new Object)
      lock.synchronized {
        try {
          graft.catalog.TxnCatalog.reconcile(spark, s"$root/$streamKey",
            cat, Seq("p_timestamp"))
          Some(graft.catalog.StatsCatalog.countStar(spark, cat))
        } catch { case _: Exception => None }
      }
    }
  }

  @volatile private[http] var stopping = false

  server.createContext("/api/v1/ingest", handler(handleIngest))
  server.createContext("/v1", handler(handleOtelIngest))
  server.createContext("/api/v1/logstream", handler(handleLogstream))
  server.createContext("/api/v1/cluster", handler(handleCluster))
  server.createContext("/api/v1/query", handler(handleQuery))
  server.createContext("/api/v1/counts", handler(handleCounts))
  server.createContext("/api/v1/role", handler(handleRoles))
  server.createContext("/api/v1/user", handler(handleUsers))
  server.createContext("/api/v1/apikeys", handler(handleApiKeys))
  server.createContext("/api/v1/dataset_stats", handler(handleDatasetStats))
  server.createContext("/api/v1/similarity", handler(handleSimilarity))
  server.createContext("/api/v1/text", handler(handleText))
  server.createContext("/api/v1/filters",
    handler(handleUserConfigs(UserConfigs.Filters)))
  server.createContext("/api/v1/dashboards",
    handler(handleUserConfigs(UserConfigs.Dashboards)))
  server.createContext("/api/v1/correlation",
    handler(handleUserConfigs(UserConfigs.Correlations)))
  server.createContext("/api/v1/o", handler(handleOidc))
  server.createContext("/api/v1/alerts", handler(handleAlerts))
  server.createContext("/api/v1/targets", handler(handleTargets))
  server.createContext("/api/v1/alert-target-policy",
    handler(handleTargetPolicy))
  server.createContext("/api/v1/services/traces", handler(handleTraces))
  server.createContext("/api/v1/livetail", handler(handleLivetail))
  server.createContext("/api/v1/llm", handler(handleLlm))
  server.createContext("/api/v1/prism", handler(handlePrism))
  server.createContext("/api/v1/datasets", handler(handleDatasets))
  server.createContext("/api/v1/sse", handler(handleSse))
  server.createContext("/api/v1/about", handler(handleAbout))
  server.createContext("/api/v1/demodata", handler(handleDemoData))
  server.createContext("/api/v1/metrics", handler(handleMetrics))
  server.createContext("/api/v1/otel_generator",
    handler(handleOtelGenerator))
  server.createContext("/api/v1/liveness",
    handler(ex => respond(ex, 200, """{"status":"alive"}""")))
  server.createContext("/api/v1/readiness",
    handler(ex => respond(ex, 200, """{"status":"ready"}""")))

  // load-shedding guard (reference resource_check): when configured, the
  // monitor samples in the background and [[IngestRoutes]] answers 503
  // while utilization is over threshold
  private[http] val resourceMonitor: Option[ResourceMonitor] =
    resourceCheck.map(new ResourceMonitor(_))
  private[http] def resourcesOk: Boolean =
    resourceMonitor.forall(_.ok)

  def start(): Unit = {
    server.start()
    resourceMonitor.foreach(_.start())
    // cluster-mode nodes register in the shared metastore (standalone
    // [[Cluster.All]] nodes don't participate in a cluster)
    if (role != Cluster.All)
      metaStore.register(Cluster.NodeMetadata(myNodeId,
        s"${if (isTls) "https" else "http"}://127.0.0.1:$boundPort", role.name,
        System.currentTimeMillis()))
  }

  def stop(): Unit = {
    // reference shutdown(): flag first (everything answers 503), then the
    // grace window for in-flight exchanges. No staging flush is needed
    // here — ingest writes parquet + catalog synchronously per request,
    // so there is nothing buffered the way the reference's Arrow staging
    // is; LiveTail rings are query-freshness caches over data already
    // durable on disk.
    stopping = true // also unblocks SSE loops at their next keep-alive tick
    resourceMonitor.foreach(_.stop())
    generators.values().asScala.foreach(_.stop())
    generators.clear()
    // waits for in-flight handlers up to 1 s; immediate when idle
    server.stop(1)
    // the fixed pool's threads are non-daemon: without this, every
    // started server leaks `threads` live threads for the JVM's lifetime
    pool.shutdown()
    alertStore.close() // stops alert repeat-notification tasks
  }
}

object GraftHttpServer {
  /** The un-prefixed tenant single-tenant deployments implicitly use
    * (reference `DEFAULT_TENANT`).
    */
  val DefaultTenant = "default"

  /** RFC 7231 §5.3.4: does this Accept-Encoding header allow gzip?
    * Token-parsed, not a whole-header regex: each comma-separated coding
    * carries an optional `;q=value` (default 1); gzip is acceptable iff
    * its own entry — or the `*` wildcard when no gzip entry exists — has
    * q > 0. A malformed q counts as 0 (don't compress on garbage).
    * `x-gzip` is the RFC's legacy alias.
    */
  private[http] def gzipAccepted(header: String): Boolean = {
    val entries = header.split(",").toSeq.flatMap { tok =>
      val parts = tok.split(";").map(_.trim)
      val coding = parts.headOption.getOrElse("").toLowerCase
      if (coding.isEmpty) None
      else {
        val q = parts.drop(1).collectFirst {
          case p if p.toLowerCase.startsWith("q=") =>
            try math.max(0.0, p.substring(2).trim.toDouble)
            catch { case _: NumberFormatException => 0.0 }
        }.getOrElse(1.0)
        Some(coding -> q)
      }
    }
    entries.collectFirst { case ("gzip" | "x-gzip", q) => q > 0 }
      .orElse(entries.collectFirst { case ("*", q) => q > 0 })
      .getOrElse(false)
  }

  /** Shared daemon scheduler for query-timeout watchdogs — one timer
    * thread serves every server instance in the JVM; cancellation work
    * itself runs on this pool, never on a request thread.
    */
  private[http] lazy val watchdogPool: java.util.concurrent.ScheduledExecutorService =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-sql-timeout")
      t.setDaemon(true)
      t
    })

  /** SQL keywords a stream may not be named (reference
    * `validator.rs DENIED_NAMES`).
    */
  private val DeniedStreamNames = Set(
    "select", "from", "where", "group", "by", "order", "limit", "offset",
    "join", "and", "sql")

  /** Stream-name validation (reference `validator::stream_name`,
    * validator.rs:36-76): non-empty, alphanumeric plus `-`/`_` only, not a
    * SQL keyword, not the default tenant. The character rule is ALSO the
    * path-traversal guard — stream names become storage directories, so a
    * `../`-carrying name must never reach the filesystem
    * (`HttpFuzzSpec` drives exactly that).
    */
  private[http] def invalidStreamName(name: String): Option[String] =
    if (name.isEmpty) Some("stream name cannot be empty")
    else if (name.exists(c =>
        !Character.isLetterOrDigit(c) && c != '-' && c != '_'))
      Some(s"stream name '$name' contains characters outside " +
        "[alphanumeric, '-', '_']")
    else if (DeniedStreamNames(name))
      Some(s"stream name cannot be a SQL keyword: '$name'")
    else if (name == DefaultTenant)
      Some(s"stream name '$name' is reserved")
    else None

  /** Session lifetime (reference `COOKIE_AGE_DAYS` = 7). */
  val SessionTtlMs: Long = 7L * 24 * 3600 * 1000

  /** Single-use login-state lifetime — ample for a human round trip
    * through the provider, short enough to bound replay.
    */
  val StateTtlMs: Long = 10L * 60 * 1000

  /** Driver-side cap on /counts bins (the response is materialized). */
  val MaxCountBins = 1000

  /** Surfaced by `/about`; a library build has no release pipeline, so
    * these identify the engine rather than a binary.
    */
  val Version = "graft-dev"
  val Commit = "unreleased"

  /** Deterministic demo batch (reference `resources/ingest_demo_data.sh`
    * generates the same shape of synthetic web-access logs): JSON array of
    * `n` events — method/path/status/latency/host — seeded by index, so
    * repeated calls are reproducible.
    */
  private[http] def demoEvents(n: Int): String = {
    val methods = Vector("GET", "GET", "GET", "POST", "PUT", "DELETE")
    val paths = Vector("/", "/login", "/api/items", "/api/items/42",
      "/health", "/search")
    val statuses = Vector(200, 200, 200, 201, 301, 404, 500, 503)
    val sb = new StringBuilder("[")
    (0 until n).foreach { i =>
      // splitmix64-style scramble keeps neighboring events uncorrelated
      var h = i.toLong * 0x9E3779B97F4A7C15L
      h ^= h >>> 30; h *= 0xBF58476D1CE4E5B9L; h ^= h >>> 27
      def pick[A](v: Vector[A], salt: Int): A =
        v((((h >>> (salt * 7)) % v.size + v.size) % v.size).toInt)
      if (i > 0) sb += ','
      sb ++= s"""{"method": "${pick(methods, 1)}",""" +
        s""""path": "${pick(paths, 2)}",""" +
        s""""status": ${pick(statuses, 3)},""" +
        s""""latency_ms": ${(h >>> 40) % 500},""" +
        s""""host": "host-${(h >>> 16) % 8}"}"""
    }
    sb += ']'
    sb.toString
  }

  /** Reference `DEFAULT_LOG_CONTEXT_PAGE_SIZE`. */
  val DefaultContextPageSize = 500

  private[http] val RelativeWindow = """^(\d+)\s*(s|m|h|d)$""".r

  /** Reference `MAX_DURATION_SECS` (7 days). */
  val MaxGeneratorSecs: Long = 7L * 24 * 60 * 60

  /** Deterministic OTLP logs payload for the demo generator: `n` records
    * seeded by `(batch, index)`, wearing realistic severity/service/body
    * variety. Timestamps are the CALL time (the stream must look live).
    */
  private[http] def otelDemoBatch(batch: Long, n: Int): String = {
    val services = Vector("checkout", "auth", "catalog", "payments")
    val bodies = Vector("request completed", "cache miss", "retrying upstream",
      "slow query detected", "connection reset by peer")
    val severities = Vector(5, 9, 9, 9, 13, 17) // debug/info×3/warn/error
    val nowNs = System.currentTimeMillis() * 1000000L
    val records = (0 until n).map { i =>
      var h = (batch * 1024 + i) * 0x9E3779B97F4A7C15L
      h ^= h >>> 30; h *= 0xBF58476D1CE4E5B9L; h ^= h >>> 27
      def pick[A](v: Vector[A], salt: Int): A =
        v((((h >>> (salt * 7)) % v.size + v.size) % v.size).toInt)
      s"""{"timeUnixNano":"${nowNs + i}",
         |"severityNumber":${pick(severities, 1)},
         |"body":{"stringValue":"${pick(bodies, 2)}"},
         |"attributes":[{"key":"service.name",
         |"value":{"stringValue":"${pick(services, 3)}"}}]}""".stripMargin
    }.mkString(",")
    s"""{"resourceLogs":[{"resource":{"attributes":[
       |{"key":"telemetry.sdk.name","value":{"stringValue":"graft-demo"}}]},
       |"scopeLogs":[{"scope":{"name":"graft-otel-generator"},
       |"logRecords":[$records]}]}]}""".stripMargin
  }
}
