package graft.http

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkSuite

/** Prism console aggregation (reference `src/prism/`): the home response
  * (datasets + checklist + triggered-alert count), the unified search box,
  * and the one-call per-stream info.
  */
class PrismSpec extends SparkSuite {

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

  test("home, search, logstream info") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-prism").toString
    val srv = new GraftHttpServer(spark, tmp)
    srv.start()
    val base = s"http://127.0.0.1:${srv.boundPort}/api/v1"
    try {
      // empty instance: no datasets, unchecked checklist
      val (h0, b0) = http("GET", s"$base/prism/home")
      assert(h0 == 200, b0)
      val home0 = mapper.readTree(b0)
      assert(home0.get("datasets").size() == 0)
      assert(!home0.get("checklist").get("dataIngested").asBoolean())
      assert(home0.get("triggeredAlertsCount").asInt() == 0)

      // seed: stream + data + an alert that will trigger + a saved filter
      assert(http("PUT", s"$base/logstream/weblogs")._1 == 200)
      assert(http("POST", s"$base/ingest", Map("X-P-Stream" -> "weblogs"),
        Some("""{"status": 500, "path": "/checkout"}"""))._1 == 200)
      val aid = mapper.readTree(http("POST", s"$base/alerts", body = Some(
        """{"title": "server errors", "stream": "weblogs", "agg": "count",
          |"column": "status", "operator": "above", "threshold": 0}"""
          .stripMargin))._2).get("id").asText()
      assert(http("PUT", s"$base/alerts/$aid/evaluate_alert")._1 == 200)
      assert(http("POST", s"$base/filters", body = Some(
        """{"filter_name": "checkout errors", "stream_name": "weblogs",
          |"query": "SELECT 1"}""".stripMargin))._1 == 200)

      val (hs, hb) = http("GET", s"$base/prism/home")
      assert(hs == 200, hb)
      val home = mapper.readTree(hb)
      assert(home.get("datasets").size() == 1)
      assert(home.get("datasets").get(0).get("title").asText() == "weblogs")
      assert(home.get("datasets").get(0).get("ingestion").asBoolean())
      assert(home.get("checklist").get("dataIngested").asBoolean())
      assert(home.get("checklist").get("alertCreated").asBoolean())
      assert(home.get("checklist").get("keystoneCreated").asBoolean())
      assert(home.get("triggeredAlertsCount").asInt() == 1, hb)

      // search spans datasets, alerts, filters
      val (ss, sb) = http("GET", s"$base/prism/home/search?key=web")
      assert(ss == 200, sb)
      val kinds = {
        val rs = mapper.readTree(sb).get("resources")
        (0 until rs.size()).map(i => rs.get(i).get("resource_type").asText())
      }
      assert(kinds.contains("DataSet"), sb)
      val (s2, sb2) = http("GET", s"$base/prism/home/search?key=errors")
      val kinds2 = {
        val rs = mapper.readTree(sb2).get("resources")
        (0 until rs.size()).map(i => rs.get(i).get("resource_type").asText())
      }
      assert(s2 == 200 && kinds2.toSet == Set("Alert", "Filter"), sb2)
      assert(http("GET", s"$base/prism/home/search")._1 == 400)

      // one-call stream info: schema + stats + retention
      val (is, ib) = http("GET", s"$base/prism/logstream/weblogs/info")
      assert(is == 200, ib)
      val info = mapper.readTree(ib)
      assert(info.get("info").get("stream").asText() == "weblogs")
      assert(info.get("schema").get("fields").toString.contains("status"))
      assert(info.get("stats").get("count").asLong() == 1L)
      assert(info.get("retention").isArray)
      assert(http("GET", s"$base/prism/logstream/none/info")._1 == 404)
      assert(http("GET", s"$base/prism/nowhere")._1 == 404)

      // dataset_stats: rank-paged distinct values per field
      val end = java.time.Instant.now().plusSeconds(60).toString
      assert(http("POST", s"$base/ingest", Map("X-P-Stream" -> "weblogs"),
        Some("""[{"status": 500, "path": "/checkout"},
                 {"status": 200, "path": "/home"},
                 {"status": 200, "path": "/home"}]"""))._1 == 200)
      val (ds2, db2) = http("POST", s"$base/dataset_stats", body = Some(
        s"""{"datasetName": "weblogs", "fields": ["status"],
           |"startTime": "10m", "endTime": "$end"}"""
          .stripMargin.replace("\n", " ")))
      assert(ds2 == 200, db2)
      val stats = mapper.readTree(db2)
      assert(stats.size() == 2, db2) // two distinct status values
      val first = stats.get(0)
      assert(first.get("field_name").asText() == "status")
      assert(first.get("distinct_value").asText() == "200.0") // ingest infers double
      assert(first.get("distinct_value_count").asLong() == 2L)
      assert(first.get("field_count").asLong() == 4L) // incl. seed row
      assert(first.get("distinct_count").asLong() == 2L)
      assert(http("POST", s"$base/dataset_stats", body = Some(
        s"""{"datasetName": "nope", "startTime": "10m",
           |"endTime": "$end"}""".stripMargin.replace("\n", " ")))._1 == 404)
    } finally srv.stop()
  }

  test("datasets histogram degrades stats→scan→empty without dropping the entry") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-prism-fb").toString
    val srv = new GraftHttpServer(spark, tmp)
    srv.start()
    val base = s"http://127.0.0.1:${srv.boundPort}/api/v1"
    def binTotal(body: String): Long = {
      val ds = mapper.readTree(body)
      assert(ds.size() == 1, body)
      val recs = ds.get(0).get("counts").get("records")
      (0 until recs.size()).map(i => recs.get(i).get("count").asLong()).sum
    }
    try {
      assert(http("PUT", s"$base/logstream/fall")._1 == 200)
      // seed one row 30 min back, written directly: arrival-time ingest
      // can't land inside the minute-truncated "1h"→"now" window
      // deterministically (TimeRange truncates "now" to the minute)
      spark.sql("""SELECT 200.0 AS status,
                   timestampadd(MINUTE, -30, current_timestamp()) AS p_timestamp""")
        .write.mode("overwrite").parquet(s"$tmp/fall")

      // no stats catalog: the scan path answers the histogram
      val (s1, b1) = http("POST", s"$base/datasets", body = Some("{}"))
      assert(s1 == 200, b1)
      assert(binTotal(b1) == 1L, b1)

      // unreadable stats catalog: the fast path AND the catalog-routed
      // scan both fail — each logs before degrading — and the dataset
      // entry still renders, with an all-zero histogram
      // (a committed version whose snapshot is not parquet defeats the
      // catalog's self-healing reconcile, which must load that version
      // first — a readable-but-wrong catalog would just be rebuilt)
      val statsDir = java.nio.file.Paths.get(tmp, ".stats", "fall")
      java.nio.file.Files.createDirectories(statsDir.resolve("_commits"))
      java.nio.file.Files.createDirectories(statsDir.resolve("v000000-junk"))
      java.nio.file.Files.write(
        statsDir.resolve("v000000-junk").resolve("part-0.parquet"),
        "not a parquet file".getBytes(UTF_8))
      java.nio.file.Files.write(statsDir.resolve("_commits").resolve("0.json"),
        """{"version": 0, "dir": "v000000-junk", "ts": 0}""".getBytes(UTF_8))
      val (s2, b2) = http("POST", s"$base/datasets", body = Some("{}"))
      assert(s2 == 200, b2)
      assert(binTotal(b2) == 0L, b2)

      // catalog removed again: the scan path recovers on the next call
      // (degradation is per-request, nothing latches)
      java.nio.file.Files.walk(statsDir).sorted(
          java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { java.nio.file.Files.delete(p); () })
      val (s3, b3) = http("POST", s"$base/datasets", body = Some("{}"))
      assert(s3 == 200, b3)
      assert(binTotal(b3) == 1L, b3)
    } finally srv.stop()
  }
}
