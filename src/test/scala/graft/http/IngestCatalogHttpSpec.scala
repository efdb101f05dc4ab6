package graft.http

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.Instant
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkSuite

/** HTTP ingest into a stream with a stats catalog: what one request costs
  * in Spark jobs and files, and that fields added after the stream's
  * first file stay queryable.
  */
class IngestCatalogHttpSpec extends SparkSuite {

  private val mapper = new ObjectMapper()

  private def http(method: String, url: String,
                   body: Option[String] = None): (Int, String) = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    conn.setRequestProperty("X-P-Stream", "applogs")
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

  private def withServer(body: (String, String) => Unit): Unit = {
    val tmp = Files.createTempDirectory("graft-ingcat").toString
    val srv = new GraftHttpServer(spark, tmp)
    srv.start()
    try body(tmp, s"http://127.0.0.1:${srv.boundPort}/api/v1")
    finally srv.stop()
  }

  private def parquetFiles(dir: String): Int =
    if (!Files.isDirectory(Paths.get(dir))) 0
    else {
      val w = Files.walk(Paths.get(dir))
      try w.iterator().asScala.count(_.toString.endsWith(".parquet"))
      finally w.close()
    }

  test("one 20-event ingest on a resident catalog runs 2 Spark jobs " +
       "(data write, snapshot write) and adds 1 parquet file") {
    withServer { (root, base) =>
      val batch = (0 until 20)
        .map(i => s"""{"level":"info","msg":"m$i","n":$i}""")
        .mkString("[", ",", "]")
      // the first ingest creates the stream and its catalog's first version
      assert(http("POST", s"$base/ingest", Some(batch))._1 == 200)
      val before = parquetFiles(s"$root/applogs")
      val ((status, resp), jobs) = jobsDuring(
        http("POST", s"$base/ingest", Some(batch)), anyThread = true)
      assert(status == 200, resp)
      assert(mapper.readTree(resp).get("events").asLong == 20L)
      assert(jobs == 2, s"ingest ran $jobs Spark jobs")
      assert(parquetFiles(s"$root/applogs") - before == 1)
    }
  }

  test("a field added after the stream's first file is returned by " +
       "/query, with the injected window and with an explicit time filter") {
    withServer { (_, base) =>
      assert(http("POST", s"$base/ingest", Some("""[{"a":1},{"a":2}]"""))._1
        == 200)
      assert(http("POST", s"$base/ingest", Some("""[{"a":3,"b":"x"}]"""))._1
        == 200)
      val end = DateTimeFormatter.ISO_INSTANT
        .format(Instant.now().plusSeconds(600))
      for (sql <- Seq("SELECT a, b FROM applogs",
                      "SELECT a, b FROM applogs " +
                        "WHERE p_timestamp > '2000-01-01T00:00:00Z'")) {
        val q = mapper.createObjectNode().put("query", sql)
          .put("startTime", "10m").put("endTime", end)
        val (s, b) = http("POST", s"$base/query",
          Some(mapper.writeValueAsString(q)))
        assert(s == 200, s"$sql: $b")
        val got = mapper.readTree(b).elements().asScala.map { r =>
          (r.get("a").asLong,
            Option(r.get("b")).filterNot(_.isNull).map(_.asText))
        }.toSet
        assert(got == Set((1L, None), (2L, None), (3L, Some("x"))), sql)
      }
    }
  }
}
