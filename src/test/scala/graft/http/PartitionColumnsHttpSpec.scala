package graft.http

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkSuite

/** A custom-partitioned stream's Hive partition columns (`date`, `hour`,
  * `minute` and the custom `level`) over HTTP: the same columns and rows
  * whether the window is injected or the SQL carries its own time filter,
  * partition predicates that filter, and a catalog scan whose schema is
  * the plain read's.
  */
class PartitionColumnsHttpSpec extends SparkSuite {

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

  /** A server with stream `applogs`, partitioned by `level`, holding one
    * `info` and two `warn` events.
    */
  private def withStream(body: (GraftHttpServer, String, String) => Unit): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-partcols").toString
    val srv = new GraftHttpServer(spark, tmp)
    srv.start()
    val base = s"http://127.0.0.1:${srv.boundPort}/api/v1"
    try {
      assert(http("PUT", s"$base/logstream/applogs",
        Map("X-P-Custom-Partition" -> "level"))._1 == 200)
      val (s, b) = http("POST", s"$base/ingest", Map("X-P-Stream" -> "applogs"),
        Some("""[{"level":"info","n":1},{"level":"warn","n":2},""" +
          """{"level":"warn","n":3}]"""))
      assert(s == 200, b)
      body(srv, tmp, base)
    } finally srv.stop()
  }

  private val userFilter = "p_timestamp > '2000-01-01T00:00:00Z'"

  /** `/query` rows as sets of field maps, and the field names. */
  private def query(base: String, sql: String): (Set[Map[String, String]], Set[String]) = {
    val end = DateTimeFormatter.ISO_INSTANT.format(Instant.now().plusSeconds(600))
    val q = mapper.createObjectNode().put("query", sql)
      .put("startTime", "10m").put("endTime", end)
    val (s, b) = http("POST", s"$base/query",
      body = Some(mapper.writeValueAsString(q)))
    assert(s == 200, s"$sql: $b")
    val rows = mapper.readTree(b).elements().asScala.map { r =>
      // integral numbers compare as integers, however they were inferred
      r.fields().asScala.map { e =>
        val v = e.getValue
        e.getKey -> (if (v.isNumber && v.asDouble == v.asLong.toDouble)
          v.asLong.toString else v.asText)
      }.toMap
    }.toSet
    (rows, rows.flatMap(_.keySet))
  }

  test("partition columns answer the same with the injected window and " +
       "with a user time filter") {
    withStream { (_, _, base) =>
      for ((windowed, filtered) <- Seq(
          ("SELECT level, n FROM applogs",
            s"SELECT level, n FROM applogs WHERE $userFilter"),
          ("SELECT * FROM applogs", s"SELECT * FROM applogs WHERE $userFilter"),
          ("SELECT date, count(*) AS c FROM applogs GROUP BY date",
            s"SELECT date, count(*) AS c FROM applogs WHERE $userFilter " +
              "GROUP BY date"))) {
        val (rows, cols) = query(base, windowed)
        assert(rows.nonEmpty, windowed)
        assert(query(base, filtered) == ((rows, cols)), filtered)
      }
      val (_, star) = query(base, "SELECT * FROM applogs")
      assert(Set("date", "hour", "minute", "level", "n").subsetOf(star), star)
      val (levels, _) = query(base, "SELECT level, n FROM applogs")
      assert(levels == Set(Map("level" -> "info", "n" -> "1"),
        Map("level" -> "warn", "n" -> "2"), Map("level" -> "warn", "n" -> "3")))
      val (days, _) = query(base,
        "SELECT date, count(*) AS c FROM applogs GROUP BY date")
      assert(days.toSeq.map(_("c").toInt).sum == 3, days)
    }
  }

  test("a partition predicate filters on both paths") {
    withStream { (_, _, base) =>
      for (sql <- Seq("SELECT n FROM applogs WHERE level = 'warn'",
                      s"SELECT n FROM applogs WHERE level = 'warn' AND $userFilter"))
        assert(query(base, sql)._1 == Set(Map("n" -> "2"), Map("n" -> "3")), sql)
    }
  }

  test("/counts with conditions on a partition column answers") {
    withStream { (_, _, base) =>
      val end = Instant.now().plusSeconds(120).toString
      val (s, b) = http("POST", s"$base/counts", body = Some(
        s"""{"stream": "applogs", "startTime": "10m", "endTime": "$end",
           |"numBins": 10, "conditions": {"column": "level", "op": "=",
           |"value": "warn"}}""".stripMargin))
      assert(s == 200, b)
      var total = 0L
      mapper.readTree(b).get("records").forEach(r => total += r.get("count").asLong)
      assert(total == 2, b)
    }
  }

  test("the catalog read's schema is the plain read's") {
    withStream { (srv, root, _) =>
      val st = srv.streams("applogs")
      val cat = graft.catalog.TxnCatalog.snapshot(spark, st.catalogPath.get).get
      val read = graft.plans.StatsFileIndex.read(spark, cat,
        tableRoot = Some(st.path))
      val plain = spark.read.parquet(s"$root/applogs")
      assert(read.schema == plain.schema)
      assert(plain.schema.fieldNames.toSet
        .contains("date") && plain.schema("level").dataType.typeName == "string")
    }
  }
}
