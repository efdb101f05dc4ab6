package graft.http

import com.sun.net.httpserver.HttpExchange
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml.Similarity
import graft.query.{QueryService, Rbac, TimeRange}

import GraftHttpServer._

/** ANN served over the wire — the engine's recommended similarity entry
  * points get an API surface, the way the reference serves every query
  * capability over HTTP (`src/handlers/http/query.rs`). Two routes:
  *
  *   - `POST /api/v1/similarity/index` — build (and optionally
  *     [[graft.ml.Similarity.calibrateIvfIndex calibrate]]) a persisted
  *     IVF index over a stream window's vector column. The index lives
  *     under the stream's dotted `.simindex/<column>` dir — invisible to
  *     parquet partition discovery, co-located with the data it serves.
  *   - `POST /api/v1/similarity/search` — top-k neighbors for query ids
  *     or raw query vectors. Served from the persisted index when one
  *     exists (at its stored probe calibration via the `nProbe = -1`
  *     contract); otherwise falls back to the ad-hoc
  *     [[graft.ml.Similarity.annSearch]] default path (build + calibrate
  *     per request — correct, but deployments that care index once).
  *     `where` (alert-shaped condition tree over `attrFields` persisted
  *     at build) = filtered search; `facetCap` = diversified search.
  *   - `POST /api/v1/similarity/delete` — tombstone ids in the persisted
  *     index; `POST /api/v1/similarity/compact` — rewrite it without
  *     them. Both write-privileged ([[graft.query.Rbac.IngestAction]]).
  *
  * One surface of [[GraftHttpServer]] — state and shared plumbing stay on
  * the server class (self-type), same split as [[PrismRoutes]].
  */
private[http] trait SimilarityRoutes { self: GraftHttpServer =>

  /** Vector columns become filesystem path segments under `.simindex` —
    * pin to identifier characters so a crafted field name cannot escape
    * the stream's index dir.
    */
  private[http] val SafeField = "^[A-Za-z0-9_]{1,64}$".r

  /** Below this corpus size the ad-hoc search path serves exact brute
    * force instead of build-and-calibrate ANN — exact AND faster
    * (measured: ann_quality.json's `brute` rows beat every ad-hoc index
    * build at these sizes), and immune to PQ's minimum-training-rows
    * requirement when a selective `where` shrinks the corpus.
    */
  private val AdHocExactFloor = 1000L

  private def indexDir(key: String, vecField: String): String =
    s"$root/$key/.simindex/$vecField"

  private def indexExists(key: String, vecField: String): Boolean =
    java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(indexDir(key, vecField), "centroids"))

  private[http] def handleSimilarity(ex: HttpExchange): Unit = {
    val sub = Option(ex.getRequestURI.getPath).getOrElse("")
      .stripPrefix("/api/v1/similarity").stripSuffix("/")
    sub match {
      case "/index" => handleSimIndex(ex)
      case "/search" => handleSimSearch(ex)
      case "/delete" => handleSimDelete(ex)
      case "/compact" => handleSimCompact(ex)
      case _ => err(ex, 404, "unknown similarity route")
    }
  }

  /** Shared request plumbing: auth → method → body parse → dataset
    * resolution → RBAC → time window → (stream key, windowed scan).
    *
    * `action`: search reads ([[Rbac.QueryAction]]); index build, delete
    * and compaction WRITE under the stream root, so they demand
    * [[Rbac.IngestAction]] — a pure Reader must not be able to mutate
    * the index serving other readers. `needIdField = false` for the
    * maintenance routes that never touch vector rows (compaction).
    */
  private def withSimRequest(ex: HttpExchange,
                             action: Rbac.Action = Rbac.QueryAction,
                             needIdField: Boolean = true)(
      body: (com.fasterxml.jackson.databind.JsonNode, String) => Unit): Unit =
    authedUser(ex) match {
      case Left(msg) => err(ex, 401, msg)
      case Right(userOpt) =>
        if (ex.getRequestMethod != "POST") { err(ex, 405, "POST only"); return }
        val b =
          try mapper.readTree(ex.getRequestBody)
          catch {
            case e: com.fasterxml.jackson.core.JacksonException =>
              err(ex, 400, s"malformed JSON body: ${e.getOriginalMessage}")
              return
          }
        val dataset = b.path("datasetName").asText("")
        val vecField = b.path("vectorField").asText("")
        val idField = b.path("idField").asText("")
        if (dataset.isEmpty || vecField.isEmpty ||
            (needIdField && idField.isEmpty)) {
          err(ex, 400, "datasetName, vectorField and idField are required")
          return
        }
        if (!SafeField.matches(vecField)) {
          err(ex, 400, "vectorField must match [A-Za-z0-9_]{1,64}")
          return
        }
        val tenant = tenantOf(userOpt)
        streamsFor(tenant).get(dataset) match {
          case None => err(ex, 404, s"stream '$dataset' not found")
          case Some(_) =>
            if (userOpt.exists(u => !Rbac.authorized(u, action,
                tenantKey(tenant, dataset)))) {
              val verb =
                if (action == Rbac.IngestAction) "write" else "query"
              err(ex, 403, s"user lacks $verb access to stream '$dataset'")
              return
            }
            body(b, tenant)
        }
    }

  /** The windowed (id, vector) frame: ids as long, vectors as
    * array<float> — one vector dtype through index build, persisted
    * search and ad-hoc search, whatever width the JSON ingest inferred.
    */
  private def vectorScan(dataset: String, b: com.fasterxml.jackson.databind.JsonNode,
                         idField: String, vecField: String,
                         tenant: String, attrs: Seq[String] = Nil,
                         where: Option[org.apache.spark.sql.Column] = None)
      : Either[String, DataFrame] = {
    val range =
      try TimeRange.parse(b.path("startTime").asText(""),
        b.path("endTime").asText(""))
      catch { case e: Exception => return Left(s"bad time: ${e.getMessage}") }
    val stream = streamsFor(tenant)(dataset)
    val df0 = QueryService.windowedRead(spark, dataset, stream, range)
    // the attribute predicate applies BEFORE the projection — it may
    // reference columns the (id, vector, attrs) projection drops
    val df = where.map(df0.filter).getOrElse(df0)
    Right(df
      .select(col(idField).cast("long").as(idField) +:
        col(vecField).cast("array<float>").as(vecField) +:
        attrs.map(col): _*)
      .filter(col(idField).isNotNull && col(vecField).isNotNull))
  }

  /** Optional `where` condition tree (the alert condition JSON shape,
    * shared parser) → a Spark predicate, or a 400-able message.
    */
  private[http] def parseWhere(b: com.fasterxml.jackson.databind.JsonNode)
      : Either[String, Option[org.apache.spark.sql.Column]] =
    Option(b.get("where")) match {
      case None => Right(None)
      case Some(w) => alertStore.parseCondition(w)
        .map(n => Some(graft.query.Alerts.Conditions.toColumn(n)))
    }

  /** `POST /api/v1/similarity/index`: `{"datasetName", "vectorField",
    * "idField", "startTime", "endTime", "numCentroids"?, "spill"?,
    * "targetRecall"?, "k"?}`. Builds the persisted IVF index (sized by
    * [[Similarity.autoCoarseCentroids]] unless pinned); with
    * `targetRecall` it also calibrates the serving probe count, so every
    * later search at the default `nProbe = -1` serves AT the stored
    * calibration. Rebuild semantics come from [[Similarity.saveIvfIndex]]
    * (a rebuild clears a stale calibration). Response:
    * `{"status","rows","numCentroids","spill","nProbe"?}`.
    */
  private[http] def handleSimIndex(ex: HttpExchange): Unit =
    withSimRequest(ex, action = Rbac.IngestAction) { (b, tenant) =>
      val dataset = b.path("datasetName").asText("")
      val vecField = b.path("vectorField").asText("")
      val idField = b.path("idField").asText("")
      import scala.jdk.CollectionConverters._
      // attrFields persist alongside the vectors for FILTERED search
      // (search's `where` runs over them, pre-filtering the probed lists)
      val attrs = Option(b.get("attrFields")).toSeq
        .flatMap(_.elements().asScala).map(_.asText())
      attrs.find(a => !SafeField.matches(a)).foreach { bad =>
        err(ex, 400, s"attrFields entry '$bad' must match [A-Za-z0-9_]{1,64}")
        return
      }
      withSqlTimeout(ex) {
        try {
          vectorScan(dataset, b, idField, vecField, tenant, attrs) match {
            case Left(m) => err(ex, 400, m)
            case Right(df) =>
              val rows = df.count()
              if (rows == 0L) { err(ex, 400, "window holds no vectors"); return }
              val cents =
                if (b.hasNonNull("numCentroids")) b.get("numCentroids").asInt
                else Similarity.autoCoarseCentroids(rows)
              if (cents < 1) { err(ex, 400, "numCentroids must be >= 1"); return }
              val spill = b.path("spill").asInt(1)
              val key = tenantKey(tenant, dataset)
              val dir = indexDir(key, vecField)
              Similarity.saveIvfIndex(df, idField, vecField, cents, dir,
                spill = spill, attrCols = attrs)
              val o = mapper.createObjectNode()
                .put("status", "indexed").put("rows", rows)
                .put("numCentroids", cents).put("spill", spill)
              if (attrs.nonEmpty) {
                val aa = o.putArray("attrFields")
                attrs.foreach(aa.add)
              }
              if (b.hasNonNull("targetRecall")) {
                val k = b.path("k").asInt(10)
                val np = Similarity.calibrateIvfIndex(spark, dir, k,
                  b.get("targetRecall").asDouble)
                o.put("nProbe", np)
                ()
              }
              respond(ex, 200, mapper.writeValueAsString(o))
          }
        } catch {
          case e: IllegalArgumentException =>
            err(ex, 400, String.valueOf(e.getMessage))
          case _: org.apache.spark.sql.AnalysisException =>
            err(ex, 400, "window schema lacks the requested fields")
        }
      }
    }

  /** `POST /api/v1/similarity/search`: `{"datasetName", "vectorField",
    * "idField", "k"?, "queryIds": [id…]?` XOR `"queryVectors":
    * [[f…]…]?, "targetRecall"?, "startTime", "endTime"}`. Persisted
    * index present → [[Similarity.ivfSearchPersisted]] at `nProbe = -1`
    * (the stored calibration, or the fixed-fraction fallback); absent →
    * the ad-hoc [[Similarity.annSearch]] default path at `targetRecall`
    * over the windowed scan. `queryVectors` key results by POSITION
    * (q_id = array index). Response: `{"served_from", "results":
    * [{"q_id", "neighbors": [{"id", "rank", "score"}…]}…]}` — score is
    * probed-cosine on the persisted path, exact L2² on the ad-hoc path
    * (each documented by `score_kind`).
    */
  private[http] def handleSimSearch(ex: HttpExchange): Unit =
    withSimRequest(ex) { (b, tenant) =>
      val dataset = b.path("datasetName").asText("")
      val vecField = b.path("vectorField").asText("")
      val idField = b.path("idField").asText("")
      val k = b.path("k").asInt(10)
      if (k < 1) { err(ex, 400, "k must be >= 1"); return }
      val hasIds = b.hasNonNull("queryIds")
      val hasVecs = b.hasNonNull("queryVectors")
      if (hasIds == hasVecs) {
        err(ex, 400, "exactly one of queryIds or queryVectors is required")
        return
      }
      // `where` = FILTERED search (the alert condition JSON shape): the
      // true top-k among PREDICATE-MATCHING vectors — pre-filtering on
      // both paths (probed index lists / the corpus scan), never a
      // post-filtered top-k that comes back near-empty under a
      // selective predicate. `facetCap` = DIVERSIFIED search: at most
      // `max` neighbors per `field` value per query (persisted index
      // only — the attribute rides in the list rows).
      //
      // `nProbe` (persisted path): per-request probe override. The
      // filtered/diversified candidate pool is the PROBED lists — a
      // selective predicate anti-correlated with the query's nearest
      // lists (filter "tag = b" on a query deep in the "a" region) can
      // probe right past every match at the stored calibration. Widen
      // nProbe for selective filters; numCentroids = exact filtered
      // search. Default -1 = the index's stored calibration.
      val nProbe = b.path("nProbe").asInt(-1)
      if (nProbe != -1 && nProbe < 1) {
        err(ex, 400, "nProbe must be positive or the -1 " +
          "stored-calibration sentinel")
        return
      }
      // `autoProbe`: measure the predicate's selectivity and widen the
      // probe count so the expected matching candidates in the probed
      // lists clear safety·k ([[Similarity.autoProbeForFilter]]) — the
      // self-tuning alternative to hand-picking nProbe per filter
      val autoProbe = b.path("autoProbe").asBoolean(false)
      if (autoProbe && !b.hasNonNull("where")) {
        err(ex, 400, "autoProbe widens probes for a where filter — " +
          "without one the stored calibration already serves correctly")
        return
      }
      if (autoProbe && nProbe != -1) {
        err(ex, 400, "autoProbe and an explicit nProbe are mutually " +
          "exclusive")
        return
      }
      val whereCol = parseWhere(b) match {
        case Left(m) => err(ex, 400, m); return
        case Right(w) => w
      }
      val facetCap: Option[(String, Int)] =
        Option(b.get("facetCap")) match {
          case None => None
          case Some(fc) =>
            val f = fc.path("field").asText("")
            val m = fc.path("max").asInt(0)
            if (f.isEmpty || m < 1) {
              err(ex, 400, "facetCap needs a 'field' and a 'max' >= 1")
              return
            }
            Some((f, m))
        }
      withSqlTimeout(ex) {
        try {
          vectorScan(dataset, b, idField, vecField, tenant) match {
            case Left(m) => err(ex, 400, m)
            case Right(scan) =>
              import scala.jdk.CollectionConverters._
              val queries: DataFrame =
                if (hasIds) {
                  val ids = b.get("queryIds").elements().asScala
                    .map(_.asLong).toSeq
                  if (ids.isEmpty) { err(ex, 400, "queryIds is empty"); return }
                  val q = scan.filter(col(idField).isin(ids: _*))
                  if (q.isEmpty) {
                    err(ex, 400, "no queryIds found in the window")
                    return
                  }
                  q
                } else {
                  val vecs = b.get("queryVectors").elements().asScala
                    .map(v => v.elements().asScala.map(_.floatValue).toArray)
                    .toSeq
                  if (vecs.isEmpty) { err(ex, 400, "queryVectors is empty"); return }
                  import spark.implicits._
                  vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
                    .toDF(idField, vecField)
                }
              val key = tenantKey(tenant, dataset)
              // raw-vector queries carry SYNTHETIC positional ids — id
              // equality with a corpus row is a coincidence, not a self
              // match, so only the queryIds path excludes self
              val (res, servedFrom, scoreKind) =
                if (indexExists(key, vecField)) {
                  val np =
                    if (autoProbe && whereCol.isDefined)
                      Similarity.autoProbeForFilter(spark,
                        indexDir(key, vecField), whereCol.get, k)
                    else nProbe
                  (Similarity.ivfSearchPersisted(spark,
                    indexDir(key, vecField), queries, idField, vecField, k,
                    nProbe = np, excludeSelf = hasIds, where = whereCol,
                    facetCap = facetCap),
                    "persisted_index", "cosine")
                }
                else {
                  if (facetCap.isDefined) {
                    err(ex, 400, "facetCap requires a persisted index " +
                      "built with attrFields — POST /similarity/index first")
                    return
                  }
                  val target = b.path("targetRecall").asDouble(0.9)
                  // pre-filter the CORPUS, not the queries: a query row
                  // need not itself satisfy the result predicate
                  val corpus = vectorScan(dataset, b, idField, vecField,
                    tenant, where = whereCol) match {
                    case Left(m) => err(ex, 400, m); return
                    case Right(c) => c
                  }
                  if (whereCol.isDefined && corpus.isEmpty) {
                    err(ex, 400, "no vectors match the where filter")
                    return
                  }
                  // small corpora serve EXACT brute force: below ~1000
                  // vectors it is both exact and faster than building +
                  // calibrating an index per request (ann_quality.json's
                  // brute rows), and PQ training wants more rows than a
                  // selective filter may leave
                  val n = corpus.count()
                  if (n < AdHocExactFloor)
                    (Similarity.knnBruteForce(corpus, queries, idField,
                      vecField, k, excludeSelf = hasIds),
                      "ad_hoc_exact", "cosine")
                  else {
                    val dim =
                      queries.select(size(col(vecField))).head().getInt(0)
                    (Similarity.annSearch(corpus, queries, idField, vecField,
                      k, targetRecall = target, dim = dim,
                      excludeSelf = hasIds), "ad_hoc_ann", "l2sq")
                  }
                }
              val scoreCol =
                res.columns.find(c => c == "cosine" || c == "dist" || c == "adc")
                  .getOrElse("rk")
              val rows = res
                .select(col("q_id"), col("n_id"), col("rk"),
                  col(scoreCol).cast("double").as("score"))
                .orderBy(col("q_id"), col("rk")).collect()
              val o = mapper.createObjectNode()
                .put("served_from", servedFrom).put("score_kind", scoreKind)
              val arr = o.putArray("results")
              rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1).foreach {
                case (qId, ns) =>
                  val qo = arr.addObject()
                  qo.put("q_id", qId)
                  val na = qo.putArray("neighbors")
                  ns.sortBy(_.getInt(2)).foreach { r =>
                    na.addObject().put("id", r.getLong(1))
                      .put("rank", r.getInt(2)).put("score", r.getDouble(3))
                  }
              }
              respond(ex, 200, mapper.writeValueAsString(o))
          }
        } catch {
          case e: IllegalArgumentException =>
            err(ex, 400, String.valueOf(e.getMessage))
          case _: org.apache.spark.sql.AnalysisException =>
            err(ex, 400, "schema lacks the requested fields " +
              "(window scan or persisted index)")
        }
      }
    }

  /** `POST /api/v1/similarity/delete`: `{"datasetName", "vectorField",
    * "idField", "deleteIds": [id…]}`. Tombstones the ids in the
    * persisted index ([[Similarity.deleteFromAnnIndex]]) — deleted
    * vectors stop appearing in every later search (top-k, radius,
    * rerank) without rewriting lists; the storage is reclaimed by
    * `/similarity/compact`. Write-privileged: the index serves OTHER
    * readers.
    */
  private[http] def handleSimDelete(ex: HttpExchange): Unit =
    withSimRequest(ex, action = Rbac.IngestAction) { (b, tenant) =>
      val dataset = b.path("datasetName").asText("")
      val vecField = b.path("vectorField").asText("")
      val idField = b.path("idField").asText("")
      val key = tenantKey(tenant, dataset)
      if (!indexExists(key, vecField)) {
        err(ex, 404, s"no persisted index for '$vecField' — nothing to " +
          "delete from")
        return
      }
      import scala.jdk.CollectionConverters._
      val ids = Option(b.get("deleteIds")).toSeq
        .flatMap(_.elements().asScala).map(_.asLong)
      if (ids.isEmpty) { err(ex, 400, "deleteIds is required"); return }
      withSqlTimeout(ex) {
        import spark.implicits._
        Similarity.deleteFromAnnIndex(spark, indexDir(key, vecField),
          ids.toDF(idField), idField)
        respond(ex, 200, mapper.writeValueAsString(mapper.createObjectNode()
          .put("status", "deleted").put("ids", ids.size)))
      }
    }

  /** `POST /api/v1/similarity/compact`: `{"datasetName", "vectorField"}`.
    * Rewrites the persisted index without tombstoned rows
    * ([[Similarity.compactAnnIndex]] — atomic generation flip, so
    * concurrent searches keep serving). No idField: compaction never
    * touches vector rows.
    */
  private[http] def handleSimCompact(ex: HttpExchange): Unit =
    withSimRequest(ex, action = Rbac.IngestAction,
        needIdField = false) { (b, tenant) =>
      val dataset = b.path("datasetName").asText("")
      val vecField = b.path("vectorField").asText("")
      val key = tenantKey(tenant, dataset)
      if (!indexExists(key, vecField)) {
        err(ex, 404, s"no persisted index for '$vecField' — nothing to " +
          "compact")
        return
      }
      withSqlTimeout(ex) {
        Similarity.compactAnnIndex(spark, indexDir(key, vecField))
        respond(ex, 200, mapper.writeValueAsString(mapper.createObjectNode()
          .put("status", "compacted")))
      }
    }
}
