package graft.http

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkSuite

/** `POST /api/v1/text/{index,search,delete,compact,hybrid}` — BM25 and
  * hybrid retrieval over the wire. Deterministic fixture: per-doc unique
  * terms (`tokenN`), cluster terms (`alpha`/`beta`), a shared term
  * (`common`), a `tag` attribute and the two-cluster embeddings the
  * similarity spec uses — so lexical ranks, filtered search, keyset
  * pagination and RRF fusion are all exactly predictable.
  */
class TextSearchHttpSpec extends SparkSuite {

  private val mapper = new ObjectMapper()

  private def http(method: String, url: String,
                   headers: Map[String, String] = Map.empty,
                   body: Option[String] = None): (Int, String) = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    body.foreach { b =>
      conn.setDoOutput(true)
      val os = conn.getOutputStream
      try os.write(b.getBytes(UTF_8)) finally os.close()
    }
    val status = conn.getResponseCode
    val stream =
      if (status < 400) conn.getInputStream else conn.getErrorStream
    val text =
      if (stream == null) ""
      else try new String(stream.readAllBytes(), UTF_8) finally stream.close()
    conn.disconnect()
    (status, text)
  }

  private def basic(user: String, pass: String): Map[String, String] =
    Map("Authorization" -> ("Basic " + Base64.getEncoder
      .encodeToString(s"$user:$pass".getBytes(UTF_8))))

  test("a search on a resident index runs 0 Spark jobs; an `after` that " +
      "is null means page 1, a half-filled or non-integral one is a 400") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-text-res").toString
    val srv = new GraftHttpServer(spark, tmp)
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}/api/v1"
      assert(http("PUT", s"$base/logstream/rdocs")._1 == 200)
      val events = (1 to 12).map(id =>
        s"""{"did":$id,"body":"token$id ${if (id % 2 == 0) "even" else "odd"} common"}""")
      assert(http("POST", s"$base/ingest", Map("X-P-Stream" -> "rdocs"),
        Some(events.mkString("[", ",", "]")))._1 == 200)
      val end = java.time.Instant.now().plusSeconds(60).toString
      val fields = s""""datasetName":"rdocs","textField":"body","idField":"did""""
      assert(http("POST", s"$base/text/index", body = Some(
        s"""{$fields,"startTime":"10m","endTime":"$end"}"""))._1 == 200)
      def search(extra: String): (Int, String) =
        http("POST", s"$base/text/search",
          body = Some(s"""{$fields,"query":"even common","k":4$extra}"""))
      val (s1, b1) = search("")
      assert(s1 == 200, b1)
      val ((s2, b2), jobs) = jobsDuring(search(""), anyThread = true)
      assert(s2 == 200 && b2 == b1, b2)
      assert(jobs == 0, s"a resident search ran $jobs Spark jobs")
      val (s3, b3) = search(""","after":null""")
      assert(s3 == 200 && b3 == b1, b3)
      for (bad <- Seq("""{"score_micro":1}""", """{"doc_id":1}""",
                      """{"score_micro":1.5,"doc_id":1}""",
                      """{"score_micro":"1","doc_id":1}""", "7")) {
        val (st, bt) = search(s""","after":$bad""")
        assert(st == 400 && bt.contains("after"), s"$bad: $st $bt")
      }
    } finally srv.stop()
  }

  test("BM25 over the wire: ad-hoc and persisted search, filtered " +
      "search, keyset pagination, delete/compact, and RRF hybrid with " +
      "the vector index — maintenance write-privileged") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-text").toString
    val srv = new GraftHttpServer(spark, tmp, requireAuth = true,
      users = Map("wr" -> "pw", "rd" -> "pr"))
    srv.start()
    graft.query.Rbac.grant("wr", Seq(graft.query.Rbac.Writer(Some("tdocs"))))
    graft.query.Rbac.grant("rd", Seq(graft.query.Rbac.Reader(Some("tdocs"))))
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}/api/v1"
      val wr = basic("wr", "pw")
      val rd = basic("rd", "pr")
      assert(http("PUT", s"$base/logstream/tdocs", wr)._1 == 200)
      def vec(id: Int): Seq[Double] = {
        val v = Array.fill(8)(0.01 * (id % 5))
        if (id <= 10) { v(0) = 10.0; v(1) = 1.0 + 0.1 * id }
        else { v(2) = 10.0; v(3) = 1.0 + 0.1 * (id - 10) }
        v.toSeq
      }
      // doc i: its unique term, its cluster term repeated (higher tf for
      // lower dl docs is irrelevant — each alpha doc has the same shape,
      // BM25 ties break by doc_id), and the shared term
      def text(id: Int): String = {
        val cluster = if (id <= 10) "alpha" else "beta"
        s"token$id $cluster $cluster common"
      }
      val events = (1 to 20).map(id =>
        s"""{"did":$id,"body":"${text(id)}","emb":[${vec(id).mkString(",")}],
           |"tag":"${if (id <= 10) "a" else "b"}"}"""
          .stripMargin.replace("\n", ""))
      assert(http("POST", s"$base/ingest", wr + ("X-P-Stream" -> "tdocs"),
        Some(events.mkString("[", ",", "]")))._1 == 200)

      val end = java.time.Instant.now().plusSeconds(60).toString
      val window = s""""startTime":"10m","endTime":"$end""""
      def ask(route: String, who: Map[String, String],
              bodyJson: String): (Int, String) =
        http("POST", s"$base/text/$route", who, Some(bodyJson))
      def docIds(bodyText: String): Seq[Long] = {
        val o = mapper.readTree(bodyText)
        val rs = o.get("results")
        (0 until rs.size()).map(i => rs.get(i).get("doc_id").asLong)
      }

      // ad-hoc search: unique term → exactly that doc, rank 1
      val (a1, b1) = ask("search", rd,
        s"""{"datasetName":"tdocs","textField":"body","idField":"did",
           |"query":"token5","k":3,$window}"""
          .stripMargin.replace("\n", " "))
      assert(a1 == 200, b1)
      assert(mapper.readTree(b1).get("served_from").asText == "ad_hoc", b1)
      assert(docIds(b1) == Seq(5L), b1)
      // ad-hoc limitations are explicit client errors
      assert(ask("search", rd,
        s"""{"datasetName":"tdocs","textField":"body","idField":"did",
           |"query":"alpha","where":{"column":"tag","op":"=","value":"a"},$window}"""
          .stripMargin.replace("\n", " "))._1 == 400)
      assert(ask("search", rd,
        s"""{"datasetName":"tdocs","textField":"body","idField":"did",
           |"query":"alpha","after":{"score_micro":1,"doc_id":1},$window}"""
          .stripMargin.replace("\n", " "))._1 == 400)

      // index build: Reader 403, Writer 200; attrFields persisted
      val idxBody =
        s"""{"datasetName":"tdocs","textField":"body","idField":"did",
           |"attrFields":["tag"],$window}""".stripMargin.replace("\n", " ")
      assert(ask("index", rd, idxBody)._1 == 403)
      val (xs, xb) = ask("index", wr, idxBody)
      assert(xs == 200, xb)
      assert(mapper.readTree(xb).get("docs").asLong == 20L, xb)

      // persisted search: cluster term → that cluster only, tie order by id
      val (p1, pb1) = ask("search", rd,
        s"""{"datasetName":"tdocs","textField":"body","idField":"did",
           |"query":"alpha","k":10,$window}"""
          .stripMargin.replace("\n", " "))
      assert(p1 == 200, pb1)
      assert(mapper.readTree(pb1).get("served_from").asText ==
        "persisted_index", pb1)
      assert(docIds(pb1) == (1L to 10L), pb1)

      // filtered search over the persisted attribute
      val (f1, fb1) = ask("search", rd,
        s"""{"datasetName":"tdocs","textField":"body","idField":"did",
           |"query":"common","k":20,
           |"where":{"column":"tag","op":"=","value":"b"},$window}"""
          .stripMargin.replace("\n", " "))
      assert(f1 == 200, fb1)
      assert(docIds(fb1).toSet == (11L to 20L).toSet, fb1)

      // keyset pagination: two disjoint, order-continuing pages
      val (g1, gb1) = ask("search", rd,
        s"""{"datasetName":"tdocs","textField":"body","idField":"did",
           |"query":"alpha","k":4,$window}"""
          .stripMargin.replace("\n", " "))
      assert(g1 == 200, gb1)
      val page1 = docIds(gb1)
      val cur = mapper.readTree(gb1).get("next_after")
      assert(cur != null, gb1)
      val (g2, gb2) = ask("search", rd,
        s"""{"datasetName":"tdocs","textField":"body","idField":"did",
           |"query":"alpha","k":4,
           |"after":{"score_micro":${cur.get("score_micro").asLong},
           |"doc_id":${cur.get("doc_id").asLong}},$window}"""
          .stripMargin.replace("\n", " "))
      assert(g2 == 200, gb2)
      val page2 = docIds(gb2)
      assert(page1 == (1L to 4L) && page2 == (5L to 8L),
        s"pages not keyset-continuous: $page1 / $page2")

      // delete tombstones out of search; compact keeps it so
      val delBody =
        s"""{"datasetName":"tdocs","textField":"body","idField":"did",
           |"deleteIds":[5]}""".stripMargin.replace("\n", " ")
      assert(ask("delete", rd, delBody)._1 == 403)
      assert(ask("delete", wr, delBody)._1 == 200)
      val (d1, db1) = ask("search", rd,
        s"""{"datasetName":"tdocs","textField":"body","idField":"did",
           |"query":"token5","k":3,$window}"""
          .stripMargin.replace("\n", " "))
      assert(d1 == 200 && !docIds(db1).contains(5L), db1)
      val cmpBody = """{"datasetName":"tdocs","textField":"body"}"""
      assert(ask("compact", rd, cmpBody)._1 == 403)
      assert(ask("compact", wr, cmpBody)._1 == 200)
      val (d2, db2) = ask("search", rd,
        s"""{"datasetName":"tdocs","textField":"body","idField":"did",
           |"query":"alpha","k":10,$window}"""
          .stripMargin.replace("\n", " "))
      assert(d2 == 200 && docIds(db2) == Seq(1L, 2L, 3L, 4L, 6L, 7L, 8L, 9L, 10L), db2)

      // hybrid needs BOTH indexes — vector index absent names the gap
      val hybBase =
        s""""datasetName":"tdocs","textField":"body","idField":"did",
           |"vectorField":"emb"""".stripMargin.replace("\n", " ")
      assert(ask("hybrid", rd,
        s"""{$hybBase,"query":"token13","queryVector":[0,0,10,1.3,0,0,0,0],$window}""")._1 == 400)
      assert(http("POST", s"$base/similarity/index", wr, Some(
        s"""{"datasetName":"tdocs","vectorField":"emb","idField":"did",
           |"numCentroids":4,"targetRecall":0.9,"k":3,$window}"""
          .stripMargin.replace("\n", " ")))._1 == 200)

      // doc 13 matches BOTH legs (its unique term + its own vector):
      // fused rank 1 with nonzero ranks on both legs
      val (h1, hb1) = ask("hybrid", rd,
        s"""{$hybBase,"query":"token13",
           |"queryVector":[${vec(13).mkString(",")}],"k":5,
           |"nProbe":4,$window}"""
          .stripMargin.replace("\n", " "))
      assert(h1 == 200, hb1)
      val ho = mapper.readTree(hb1)
      assert(ho.get("served_from").asText == "hybrid_rrf", hb1)
      val top = ho.get("results").get(0)
      assert(top.get("doc_id").asLong == 13L, hb1)
      assert(top.get("lex_rk").asLong >= 1L && top.get("vec_rk").asLong >= 1L,
        s"doc 13 should rank on both legs: $hb1")
      // the rest of the page is vector-leg cluster B (lex leg has only
      // doc 13 for this query)
      assert(docIds(hb1).tail.forall(id => id >= 11 && id <= 20), hb1)

      // error surfaces
      assert(ask("hybrid", rd,
        s"""{$hybBase,"query":"token13",$window}""")._1 == 400)
      assert(ask("hybrid", rd,
        s"""{$hybBase,"query":"","queryVector":[1],$window}""")._1 == 400)
      assert(ask("search", rd,
        s"""{"datasetName":"tdocs","textField":"body","idField":"did",
           |"query":"   ",$window}""".stripMargin.replace("\n", " "))._1 == 400)
      assert(ask("search", rd,
        s"""{"datasetName":"nope","textField":"body","idField":"did","query":"x",$window}""")._1 == 404)
      assert(ask("index", wr,
        s"""{"datasetName":"tdocs","textField":"../body","idField":"did",$window}""")._1 == 400)
      assert(ask("delete", wr,
        s"""{"datasetName":"tdocs","textField":"nosuch","idField":"did","deleteIds":[1]}""")._1 == 404)
      assert(http("GET", s"$base/text/search", rd)._1 == 405)
      assert(ask("nosuch", rd, "{}")._1 == 404)
    } finally {
      srv.stop()
      graft.query.Rbac.clear()
    }
  }
}
