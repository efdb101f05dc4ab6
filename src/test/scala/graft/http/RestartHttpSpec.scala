package graft.http

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkSuite

/** A stream keeps its stored layout and schema across a server restart
  * over the same root: the first ingest of the new process partitions and
  * renames as the old one did, so every file stays readable together.
  */
class RestartHttpSpec extends SparkSuite {

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

  /** Run `before` on one server, stop it, then `after` on a fresh server
    * over the same root; each gets the root and the server's API base URL.
    */
  private def acrossRestart(before: (String, String) => Unit)(
      after: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft-restart").toString
    for (step <- Seq(before, (_: String, base: String) => after(base))) {
      val srv = new GraftHttpServer(spark, root)
      srv.start()
      try step(root, s"http://127.0.0.1:${srv.boundPort}/api/v1")
      finally srv.stop()
    }
  }

  private def ingest(base: String, stream: String, rows: String): Unit = {
    val (s, b) = http("POST", s"$base/ingest", Map("X-P-Stream" -> stream),
      Some(rows))
    assert(s == 200, b)
  }

  /** `/query` rows over the last 10 minutes, as field → text maps (a
    * null field is absent from its row; integral numbers compare as
    * integers, however they were inferred).
    */
  private def query(base: String, sql: String): Set[Map[String, String]] = {
    val q = mapper.createObjectNode().put("query", sql).put("startTime", "10m")
      .put("endTime", Instant.now().plusSeconds(600).toString)
    val (s, b) = http("POST", s"$base/query",
      body = Some(mapper.writeValueAsString(q)))
    assert(s == 200, s"$sql: $b")
    mapper.readTree(b).elements().asScala.map(r =>
      r.fields().asScala.map { e =>
        val v = e.getValue
        e.getKey -> (if (v.isNumber && v.asDouble == v.asLong.toDouble)
          v.asLong.toString else v.asText)
      }.toMap).toSet
  }

  test("a custom-partitioned stream stays queryable after a restart") {
    acrossRestart { (_, base) =>
      assert(http("PUT", s"$base/logstream/applogs",
        Map("X-P-Custom-Partition" -> "level"))._1 == 200)
      ingest(base, "applogs", """{"level":"info","m":"one"}""")
    } { base =>
      ingest(base, "applogs", """{"level":"warn","m":"two"}""")
      assert(query(base, "SELECT level, m FROM applogs") ==
        Set(Map("level" -> "info", "m" -> "one"), Map("level" -> "warn", "m" -> "two")))
    }
  }

  test("a field renamed on a type conflict keeps its typed sibling after " +
       "a restart") {
    var renamed = Set.empty[String]
    acrossRestart { (_, base) =>
      ingest(base, "mixed", """{"a":1}""")
      ingest(base, "mixed", """{"a":"x"}""")
      renamed = query(base, "SELECT * FROM mixed")
        .flatMap(_.keySet).filter(_.startsWith("a_"))
      assert(renamed.size == 1, renamed)
    } { base =>
      ingest(base, "mixed", """{"a":"y"}""")
      val col = renamed.head
      assert(query(base, s"SELECT a, $col FROM mixed").map(r =>
        (r.get("a"), r.get(col))) ==
        Set((Some("1"), None), (None, Some("x")), (None, Some("y"))))
    }
  }

  test("a time-partitioned stream catalogs back-dated events after a restart") {
    acrossRestart { (root, _) =>
      // the stored config of a stream a streaming job laid out by `ts`
      graft.catalog.StreamMeta.save(root, graft.catalog.StreamMeta.fromConfig(
        graft.ingest.IngestPipeline.StreamConfig("tp", timePartition = Some("ts")),
        None))
    } { base =>
      def daysAgo(d: Long) = Instant.now().minusSeconds(d * 86400).toString
      ingest(base, "tp", s"""{"ts":"${daysAgo(2)}","m":"new"}""")
      ingest(base, "tp", s"""{"ts":"${daysAgo(5)}","m":"old"}""")
      // the SQL's own time filter: the query window would cut both days
      assert(query(base,
          "SELECT m FROM tp WHERE p_timestamp > '2000-01-01T00:00:00Z'") ==
        Set(Map("m" -> "new"), Map("m" -> "old")))
    }
  }

  test("a static-schema stream keeps refusing unknown fields after a " +
       "restart") {
    def rogue(base: String): (Int, String) = http("POST", s"$base/ingest",
      Map("X-P-Stream" -> "fixed"), Some("""{"level":"info","rogue":1}"""))
    acrossRestart { (_, base) =>
      val (s, b) = http("PUT", s"$base/logstream/fixed",
        Map("X-P-Static-Schema-Flag" -> "true"),
        Some("""{"fields":[{"name":"level","data_type":"string"}]}"""))
      assert(s == 200, b)
      ingest(base, "fixed", """{"level":"info"}""")
      val (rs, rb) = rogue(base)
      assert(rs == 400 && rb.contains("field rogue not in static schema"), rb)
    } { base =>
      val (rs, rb) = rogue(base)
      assert(rs == 400 && rb.contains("field rogue not in static schema"), rb)
      val (_, info) = http("GET", s"$base/logstream/fixed/info")
      assert(mapper.readTree(info).get("static_schema_flag").asBoolean, info)
      ingest(base, "fixed", """{"level":"warn"}""")
      assert(query(base, "SELECT level FROM fixed") ==
        Set(Map("level" -> "info"), Map("level" -> "warn")))
    }
  }

  test("a stream update after a restart is applied to the stored config") {
    acrossRestart { (_, base) =>
      assert(http("PUT", s"$base/logstream/upd",
        Map("X-P-Custom-Partition" -> "level"))._1 == 200)
    } { base =>
      val (s, b) = http("PUT", s"$base/logstream/upd",
        Map("X-P-Update-Stream" -> "true", "X-P-Time-Partition-Limit" -> "30d"))
      assert(s == 200, b)
      val (_, info) = http("GET", s"$base/logstream/upd/info")
      val o = mapper.readTree(info)
      assert(o.get("time_partition_limit").asText == "30d", info)
      assert(o.get("custom_partition").asText == "level", info)
    }
  }
}
