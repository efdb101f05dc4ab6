package graft.http

import com.sun.net.httpserver.HttpExchange
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml.{Hybrid, Similarity, TextIndex, TextRank}
import graft.query.{QueryService, Rbac, TimeRange}

import GraftHttpServer._

/** Full-text and hybrid retrieval over the wire — the persisted BM25
  * index family ([[graft.ml.TextIndex]]) and the lexical+vector RRF
  * fusion ([[graft.ml.Hybrid]]) get the same API surface the similarity
  * family got ([[SimilarityRoutes]]; reference
  * `src/handlers/http/query.rs` serves every query capability over
  * HTTP). Five routes, all `POST`:
  *
  *   - `/api/v1/text/index` — build the persisted BM25 index over a
  *     stream window's text column into the stream's dotted
  *     `.textindex/<column>` dir (bucketed postings + doclens + stats;
  *     optional `attrFields` for filtered search, optional `maxDocFreq`
  *     stopword cap). Write-privileged.
  *   - `/api/v1/text/search` — BM25 top-k for a query string, tokenized
  *     exactly as the index tokenized documents (0x20 split). Persisted
  *     index when present ([[graft.ml.TextIndex.bm25TopK]]: scored on the
  *     driver, with no Spark job, when the index is driver-resident, else
  *     a bucket-pruned postings probe; `where` filtered search, `after`
  *     keyset pagination); otherwise the ad-hoc corpus-scan scorer.
  *   - `/api/v1/text/delete` / `/api/v1/text/compact` — tombstone doc
  *     ids / rewrite the index without them (generation flip). Both
  *     write-privileged.
  *   - `/api/v1/text/hybrid` — RRF-fused lexical + vector retrieval: a
  *     query string against the text index and a raw query vector
  *     against the ANN index built by `/similarity/index`, both
  *     index-served. Requires both indexes — the fusion is the
  *     production shape, not a fallback composition.
  */
private[http] trait TextSearchRoutes { self: GraftHttpServer =>

  /** Bound on distinct query terms: the persisted scorer pivots one
    * column per term, so an unbounded term list is an unbounded plan.
    */
  private val MaxQueryTerms = 64

  private def textIndexDir(key: String, textField: String): String =
    s"$root/$key/.textindex/$textField"

  /** Presence probe by the `stats` sidecar — written at build and
    * preserved across generation-flipping compactions (whose rewrites
    * replace the `data` dir itself).
    */
  private def textIndexExists(key: String, textField: String): Boolean =
    java.nio.file.Files.isRegularFile(
      java.nio.file.Paths.get(textIndexDir(key, textField), "_text_stats"))

  /** Tokenize a query string the way the index tokenized documents
    * (`TextExprs.tokenize`: split on the 0x20 space byte, no case
    * folding) — distinct, order-preserving, as `bm25SearchPersisted`
    * requires.
    */
  private def queryTerms(q: String): Seq[String] =
    q.split(' ').filter(_.nonEmpty).distinct.toSeq

  private[http] def handleText(ex: HttpExchange): Unit = {
    val sub = Option(ex.getRequestURI.getPath).getOrElse("")
      .stripPrefix("/api/v1/text").stripSuffix("/")
    sub match {
      case "/index" => handleTextIndex(ex)
      case "/search" => handleTextSearch(ex)
      case "/delete" => handleTextDelete(ex)
      case "/compact" => handleTextCompact(ex)
      case "/hybrid" => handleTextHybrid(ex)
      case _ => err(ex, 404, "unknown text route")
    }
  }

  /** Same request plumbing as [[SimilarityRoutes.withSimRequest]], for
    * the text field: auth → method → body → dataset → RBAC.
    */
  private def withTextRequest(ex: HttpExchange,
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
        val textField = b.path("textField").asText("")
        val idField = b.path("idField").asText("")
        if (dataset.isEmpty || textField.isEmpty ||
            (needIdField && idField.isEmpty)) {
          err(ex, 400, "datasetName, textField and idField are required")
          return
        }
        if (!SafeField.matches(textField)) {
          err(ex, 400, "textField must match [A-Za-z0-9_]{1,64}")
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

  /** The windowed (id, text, attrs) frame for index build / ad-hoc
    * scoring. Ids as long — one id dtype through build, search and
    * the hybrid vector leg.
    */
  private def textScan(dataset: String,
                       b: com.fasterxml.jackson.databind.JsonNode,
                       idField: String, textField: String, tenant: String,
                       attrs: Seq[String] = Nil): Either[String, DataFrame] = {
    val range =
      try TimeRange.parse(b.path("startTime").asText(""),
        b.path("endTime").asText(""))
      catch { case e: Exception => return Left(s"bad time: ${e.getMessage}") }
    val stream = streamsFor(tenant)(dataset)
    val df = QueryService.windowedRead(spark, dataset, stream, range)
    Right(df
      .select(col(idField).cast("long").as(idField) +:
        col(textField).cast("string").as(textField) +:
        attrs.map(col): _*)
      .filter(col(idField).isNotNull && col(textField).isNotNull))
  }

  /** `POST /api/v1/text/index`: `{"datasetName", "textField", "idField",
    * "startTime", "endTime", "numBuckets"?, "maxDocFreq"?,
    * "attrFields"?}`. Response: `{"status", "docs", "numBuckets"}`.
    */
  private[http] def handleTextIndex(ex: HttpExchange): Unit =
    withTextRequest(ex, action = Rbac.IngestAction) { (b, tenant) =>
      val dataset = b.path("datasetName").asText("")
      val textField = b.path("textField").asText("")
      val idField = b.path("idField").asText("")
      import scala.jdk.CollectionConverters._
      val attrs = Option(b.get("attrFields")).toSeq
        .flatMap(_.elements().asScala).map(_.asText())
      attrs.find(a => !SafeField.matches(a)).foreach { bad =>
        err(ex, 400, s"attrFields entry '$bad' must match [A-Za-z0-9_]{1,64}")
        return
      }
      withSqlTimeout(ex) {
        try {
          textScan(dataset, b, idField, textField, tenant, attrs) match {
            case Left(m) => err(ex, 400, m)
            case Right(df) =>
              val docs = df.count()
              if (docs == 0L) { err(ex, 400, "window holds no documents"); return }
              val nb = b.path("numBuckets").asInt(64)
              if (nb < 1) { err(ex, 400, "numBuckets must be >= 1"); return }
              val cap =
                if (b.hasNonNull("maxDocFreq")) Some(b.get("maxDocFreq").asLong)
                else None
              val key = tenantKey(tenant, dataset)
              TextIndex.saveTextIndex(
                df.withColumnRenamed(idField, "doc_id"), "doc_id", textField,
                textIndexDir(key, textField), numBuckets = nb,
                maxDocFreq = cap, attrCols = attrs)
              val o = mapper.createObjectNode()
                .put("status", "indexed").put("docs", docs)
                .put("numBuckets", nb)
              if (attrs.nonEmpty) {
                val aa = o.putArray("attrFields")
                attrs.foreach(aa.add)
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

  /** `POST /api/v1/text/search`: `{"datasetName", "textField", "idField",
    * "query", "k"?, "where"?, "after": {"score_micro", "doc_id"}?}`
    * (`after` absent or null: the first page).
    * Persisted path ([[TextIndex.bm25TopK]]): BM25 with filtered search
    * and keyset pagination; ad-hoc path: the corpus-scan scorer (no `after` — build
    * the index for pagination). Response rows are
    * `{"doc_id", "rank", "score_micro"}` plus a `next_after` cursor when
    * a full page came back from the persisted path.
    */
  private[http] def handleTextSearch(ex: HttpExchange): Unit =
    withTextRequest(ex) { (b, tenant) =>
      val dataset = b.path("datasetName").asText("")
      val textField = b.path("textField").asText("")
      val idField = b.path("idField").asText("")
      val k = b.path("k").asInt(10)
      if (k < 1) { err(ex, 400, "k must be >= 1"); return }
      val terms = queryTerms(b.path("query").asText(""))
      if (terms.isEmpty) { err(ex, 400, "query must carry at least one term"); return }
      if (terms.size > MaxQueryTerms) {
        err(ex, 400, s"query exceeds $MaxQueryTerms distinct terms")
        return
      }
      val whereCol = parseWhere(b) match {
        case Left(m) => err(ex, 400, m); return
        case Right(w) => w
      }
      // absent or null: the first page; otherwise both keys, integral
      val after: Option[(Long, Long)] =
        Option(b.get("after")).filterNot(_.isNull).map { a =>
          val (s, d) = (a.path("score_micro"), a.path("doc_id"))
          if (!Seq(s, d).forall(v => v.isIntegralNumber && v.canConvertToLong)) {
            err(ex, 400, "after must be an object with integral " +
              "score_micro and doc_id")
            return
          }
          (s.asLong, d.asLong)
        }
      val key = tenantKey(tenant, dataset)
      withSqlTimeout(ex) {
        try {
          val persisted = textIndexExists(key, textField)
          val rows: Seq[(Long, Int, Long)] =
            if (persisted)
              TextIndex.bm25TopK(spark, textIndexDir(key, textField), terms,
                k, where = whereCol, after = after)
            else {
              if (after.isDefined) {
                err(ex, 400, "after-pagination requires a persisted " +
                  "index — POST /text/index first")
                return
              }
              if (whereCol.isDefined) {
                err(ex, 400, "where requires a persisted index built " +
                  "with attrFields — POST /text/index first")
                return
              }
              textScan(dataset, b, idField, textField, tenant) match {
                case Left(m) => err(ex, 400, m); return
                case Right(scan) =>
                  TextIndex.rankedRows(graft.operators.TopK.rankedLimit(
                    TextRank.bm25Scores(scan, idField, textField, terms),
                    Seq(col("score_micro").desc, col("doc_id").asc), k))
              }
            }
          val o = mapper.createObjectNode()
            .put("served_from", if (persisted) "persisted_index" else "ad_hoc")
          val arr = o.putArray("results")
          rows.foreach { case (doc, rank, score) =>
            arr.addObject().put("doc_id", doc)
              .put("rank", rank).put("score_micro", score)
          }
          // keyset cursor (reference search_after): a full page means
          // there may be more — resume strictly after the last row
          if (persisted && rows.length == k) {
            val (doc, _, score) = rows.last
            val na = o.putObject("next_after")
            na.put("score_micro", score)
            na.put("doc_id", doc)
            ()
          }
          respond(ex, 200, mapper.writeValueAsString(o))
        } catch {
          case e: IllegalArgumentException =>
            err(ex, 400, String.valueOf(e.getMessage))
          case _: org.apache.spark.sql.AnalysisException =>
            err(ex, 400, "schema lacks the requested fields " +
              "(window scan or persisted index)")
        }
      }
    }

  /** `POST /api/v1/text/delete`: `{"datasetName", "textField", "idField",
    * "deleteIds": [id…]}` — tombstone documents in the persisted index.
    */
  private[http] def handleTextDelete(ex: HttpExchange): Unit =
    withTextRequest(ex, action = Rbac.IngestAction) { (b, tenant) =>
      val dataset = b.path("datasetName").asText("")
      val textField = b.path("textField").asText("")
      val key = tenantKey(tenant, dataset)
      if (!textIndexExists(key, textField)) {
        err(ex, 404, s"no persisted text index for '$textField'")
        return
      }
      import scala.jdk.CollectionConverters._
      val ids = Option(b.get("deleteIds")).toSeq
        .flatMap(_.elements().asScala).map(_.asLong)
      if (ids.isEmpty) { err(ex, 400, "deleteIds is required"); return }
      withSqlTimeout(ex) {
        import spark.implicits._
        TextIndex.deleteFromTextIndex(spark, textIndexDir(key, textField),
          ids.toDF("doc_id"), "doc_id")
        respond(ex, 200, mapper.writeValueAsString(mapper.createObjectNode()
          .put("status", "deleted").put("ids", ids.size)))
      }
    }

  /** `POST /api/v1/text/compact`: `{"datasetName", "textField",
    * "numBuckets"?, "maxDocFreq"?}` — rewrite the index without
    * tombstoned docs (generation flip; optionally re-bucket or re-apply
    * the stopword cap).
    */
  private[http] def handleTextCompact(ex: HttpExchange): Unit =
    withTextRequest(ex, action = Rbac.IngestAction,
        needIdField = false) { (b, tenant) =>
      val dataset = b.path("datasetName").asText("")
      val textField = b.path("textField").asText("")
      val key = tenantKey(tenant, dataset)
      if (!textIndexExists(key, textField)) {
        err(ex, 404, s"no persisted text index for '$textField'")
        return
      }
      if (b.hasNonNull("numBuckets") && b.get("numBuckets").asInt < 1) {
        err(ex, 400, "numBuckets must be >= 1")
        return
      }
      withSqlTimeout(ex) {
        TextIndex.compactTextIndex(spark, textIndexDir(key, textField),
          numBuckets =
            if (b.hasNonNull("numBuckets")) Some(b.get("numBuckets").asInt)
            else None,
          maxDocFreq =
            if (b.hasNonNull("maxDocFreq")) Some(b.get("maxDocFreq").asLong)
            else None)
        respond(ex, 200, mapper.writeValueAsString(mapper.createObjectNode()
          .put("status", "compacted")))
      }
    }

  /** `POST /api/v1/text/hybrid`: `{"datasetName", "textField",
    * "vectorField", "idField", "query", "queryVector": [f…], "k"?,
    * "kLex"?, "kVec"?, "nProbe"?, "wLex"?, "wVec"?, "where"?}` — RRF
    * fusion of the persisted BM25 leg and the persisted ANN leg
    * ([[Hybrid.hybridSearchPersisted]]). Both indexes must exist (400
    * naming the missing one) — the endpoint serves the production
    * index-backed shape; per-leg ad-hoc fallbacks are the separate
    * `/text/search` and `/similarity/search` routes. `where` filters
    * both legs over their build-persisted attribute columns. The query
    * vector is raw (no corpus row), so the vector leg does not
    * self-exclude. Response rows:
    * `{"doc_id", "rank", "rrf_micro", "lex_rk", "vec_rk"}` (leg rank 0 =
    * that leg missed the doc).
    */
  private[http] def handleTextHybrid(ex: HttpExchange): Unit =
    withTextRequest(ex) { (b, tenant) =>
      val dataset = b.path("datasetName").asText("")
      val textField = b.path("textField").asText("")
      val idField = b.path("idField").asText("")
      val vecField = b.path("vectorField").asText("")
      if (vecField.isEmpty || !SafeField.matches(vecField)) {
        err(ex, 400, "vectorField must match [A-Za-z0-9_]{1,64}")
        return
      }
      val k = b.path("k").asInt(10)
      val kLex = b.path("kLex").asInt(20)
      val kVec = b.path("kVec").asInt(20)
      if (k < 1 || kLex < 1 || kVec < 1) {
        err(ex, 400, "k, kLex and kVec must be >= 1")
        return
      }
      val nProbe = b.path("nProbe").asInt(-1)
      if (nProbe != -1 && nProbe < 1) {
        err(ex, 400, "nProbe must be positive or the -1 " +
          "stored-calibration sentinel")
        return
      }
      val terms = queryTerms(b.path("query").asText(""))
      if (terms.isEmpty) { err(ex, 400, "query must carry at least one term"); return }
      if (terms.size > MaxQueryTerms) {
        err(ex, 400, s"query exceeds $MaxQueryTerms distinct terms")
        return
      }
      if (!b.hasNonNull("queryVector")) {
        err(ex, 400, "queryVector is required")
        return
      }
      import scala.jdk.CollectionConverters._
      val qvec = b.get("queryVector").elements().asScala
        .map(_.floatValue).toArray
      if (qvec.isEmpty) { err(ex, 400, "queryVector is empty"); return }
      val whereCol = parseWhere(b) match {
        case Left(m) => err(ex, 400, m); return
        case Right(w) => w
      }
      val key = tenantKey(tenant, dataset)
      if (!textIndexExists(key, textField)) {
        err(ex, 400, s"no persisted text index for '$textField' — " +
          "POST /text/index first")
        return
      }
      val annDir = s"$root/$key/.simindex/$vecField"
      if (!java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(annDir, "centroids"))) {
        err(ex, 400, s"no persisted vector index for '$vecField' — " +
          "POST /similarity/index first")
        return
      }
      withSqlTimeout(ex) {
        try {
          import spark.implicits._
          val queries = Seq((0L, qvec)).toDF(idField, vecField)
          val rows = Hybrid.hybridSearchPersisted(spark,
              textIndexDir(key, textField), annDir, terms, queries,
              idField, vecField, nProbe = nProbe, kLex = kLex, kVec = kVec,
              k = k, wLex = b.path("wLex").asDouble(1.0),
              wVec = b.path("wVec").asDouble(1.0), where = whereCol,
              excludeSelf = false)
            .select(col("doc_id"), col("rk").cast("int").as("rk"),
              col("rrf_micro"), col("lex_rk"), col("vec_rk"))
            .orderBy(col("rk")).collect()
          val o = mapper.createObjectNode().put("served_from", "hybrid_rrf")
          val arr = o.putArray("results")
          rows.foreach { r =>
            arr.addObject().put("doc_id", r.getLong(0))
              .put("rank", r.getInt(1)).put("rrf_micro", r.getLong(2))
              .put("lex_rk", r.getLong(3)).put("vec_rk", r.getLong(4))
          }
          respond(ex, 200, mapper.writeValueAsString(o))
        } catch {
          case e: IllegalArgumentException =>
            err(ex, 400, String.valueOf(e.getMessage))
          case _: org.apache.spark.sql.AnalysisException =>
            err(ex, 400, "schema lacks the requested fields " +
              "(window scan or persisted index)")
        }
      }
    }
}
