package graft.http

import java.io.BufferedReader
import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import java.util.concurrent.ConcurrentLinkedQueue

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkSuite
import graft.query.Rbac
import graft.streaming.LiveTail

/** Live log tail over the wire (reference `src/handlers/livetail.rs`):
  * rows ingested while a tail connection is open arrive as NDJSON in
  * ingest order; pre-connection rows do not replay; disconnecting cleans
  * the subscription up; RBAC and visibility gate the endpoint.
  */
class LivetailHttpSpec extends SparkSuite {

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

  /** Open a tail connection; returns (connection, reader) positioned
    * AFTER the hello line — everything ingested from here on is delivered.
    */
  private def openTail(url: String, auth: Map[String, String])
      : (HttpURLConnection, BufferedReader) = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    auth.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    assert(conn.getResponseCode == 200)
    val r = new BufferedReader(
      new java.io.InputStreamReader(conn.getInputStream, UTF_8))
    val hello = r.readLine()
    assert(hello != null && hello.contains("livetail"), s"no hello: $hello")
    (conn, r)
  }

  test("tail delivers mid-connection ingests in order; no replay; " +
       "disconnect unsubscribes; RBAC gates") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-tail").toString
    Rbac.clear()
    val srv = new GraftHttpServer(spark, tmp, requireAuth = true,
      users = Map("alice" -> "pw", "bob" -> "pw"))
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}/api/v1"
      Rbac.grant("alice",
        Seq(Rbac.Reader(Some("taillogs")), Rbac.Ingestor(Some("taillogs"))))
      def ingest(rows: String): Unit = {
        val (s, b) = http("POST", s"$base/ingest",
          basic("alice", "pw") + ("X-P-Stream" -> "taillogs"), Some(rows))
        assert(s == 200, b)
      }
      // pre-connection row: must NOT replay into the tail
      ingest("""{"m": "before"}""")

      val lines = new ConcurrentLinkedQueue[String]()
      val (conn, reader) = openTail(
        s"$base/livetail/taillogs?maxEvents=3&timeoutMs=60000",
        basic("alice", "pw"))
      val t = new Thread(() => {
        var l = reader.readLine()
        while (l != null) { lines.add(l); l = reader.readLine() }
      })
      t.setDaemon(true)
      t.start()

      ingest("""{"m": "one"}""")
      ingest("""[{"m": "two"}, {"m": "three"}]""")
      t.join(60000) // maxEvents=3 closes the stream server-side
      assert(!t.isAlive, "tail did not close after maxEvents")
      conn.disconnect()
      val got = lines.toArray(Array.empty[String]).toSeq
      assert(got.size == 3, s"expected 3 events, got: $got")
      val ms = got.map(l => mapper.readTree(l).get("m").asText())
      assert(ms == Seq("one", "two", "three"), s"out of order: $ms")
      assert(!got.exists(_.contains("before")), "pre-connection row replayed")

      // client abort: reader goes away mid-tail; the next publishes hit a
      // dead socket and the server unsubscribes
      val (conn2, reader2) = openTail(
        s"$base/livetail/taillogs?timeoutMs=60000", basic("alice", "pw"))
      assert(LiveTail.subscriberCount(srv.liveTailKey("taillogs")) == 1)
      reader2.close(); conn2.disconnect()
      val deadline = System.currentTimeMillis() + 30000
      while (LiveTail.subscriberCount(srv.liveTailKey("taillogs")) > 0 &&
             System.currentTimeMillis() < deadline) {
        ingest("""{"m": "poke"}""")
        Thread.sleep(200)
      }
      assert(LiveTail.subscriberCount(srv.liveTailKey("taillogs")) == 0,
        "disconnected tail left its subscription behind")

      // gates: no grant → 403; unknown stream → 404; bad path → 400
      assert(http("GET", s"$base/livetail/taillogs",
        basic("bob", "pw"))._1 == 403)
      assert(http("GET", s"$base/livetail/nope",
        basic("alice", "pw"))._1 == 404)
      assert(http("GET", s"$base/livetail",
        basic("alice", "pw"))._1 == 400)
    } finally {
      srv.stop(); Rbac.clear(); LiveTail.clear(srv.liveTailKey("taillogs"))
    }
  }

  test("two servers on different roots in one JVM never tail each " +
       "other's ingests of a same-named stream") {
    def server(): GraftHttpServer = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-tail2").toString
      val srv = new GraftHttpServer(spark, tmp)
      srv.start()
      srv
    }
    val a = server()
    val b = server()
    try {
      def ingest(srv: GraftHttpServer, m: String): Unit = {
        val (s, body) = http("POST",
          s"http://127.0.0.1:${srv.boundPort}/api/v1/ingest",
          Map("X-P-Stream" -> "shared"), Some(s"""{"m": "$m"}"""))
        assert(s == 200, body)
      }
      assert(a.liveTailKey("shared") != b.liveTailKey("shared"))
      ingest(a, "create")
      val (conn, reader) = openTail(s"http://127.0.0.1:${a.boundPort}" +
        "/api/v1/livetail/shared?maxEvents=1&timeoutMs=60000", Map.empty)
      assert(LiveTail.subscriberCount(a.liveTailKey("shared")) == 1)
      assert(LiveTail.subscriberCount(b.liveTailKey("shared")) == 0)
      // B's ingest lands first: with a root-blind key it would be the
      // one event A's tail delivers
      ingest(b, "fromB")
      ingest(a, "fromA")
      val line = reader.readLine()
      conn.disconnect()
      assert(line != null && mapper.readTree(line).get("m").asText() ==
        "fromA", s"server A's tail delivered: $line")
    } finally { a.stop(); b.stop() }
  }
  test("tailed rows equal the stored rows, p_timestamp included") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-tail3").toString
    val srv = new GraftHttpServer(spark, tmp)
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}/api/v1"
      def ingest(rows: String): Unit = {
        val (s, b) = http("POST", s"$base/ingest",
          Map("X-P-Stream" -> "stamped"), Some(rows))
        assert(s == 200, b)
      }
      ingest("""{"m": "create"}""")
      val (conn, reader) = openTail(
        s"$base/livetail/stamped?maxEvents=2&timeoutMs=60000", Map.empty)
      ingest("""[{"m": "one"}, {"m": "two"}]""")
      val tailed = Seq(reader.readLine(), reader.readLine()).map { l =>
        val r = mapper.readTree(l)
        r.get("m").asText -> r.get("p_timestamp").asText
      }.toSet
      conn.disconnect()
      val stored = spark.read.parquet(s"$tmp/stamped")
        .where("m != 'create'").select("m", "p_timestamp").collect()
        .map(r => r.getString(0) -> r.getTimestamp(1).toInstant.toString)
        .toSet
      assert(tailed.size == 2 && tailed == stored,
        s"tailed $tailed, stored $stored")
    } finally {
      srv.stop(); LiveTail.clear(srv.liveTailKey("stamped"))
    }
  }
}
