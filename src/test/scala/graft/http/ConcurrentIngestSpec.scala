package graft.http

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkSuite

/** Concurrent ingest over the wire: racing appends to ONE stream must
  * lose no events, keep the schema registry consistent, and leave the
  * stats catalog agreeing with the data — the statsLocks serialization
  * and SchemaRegistry.compute contracts under actual thread pressure,
  * not single-threaded specs.
  */
class ConcurrentIngestSpec extends SparkSuite {

  private def post(url: String, headers: Map[String, String],
                   body: String): Int = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    conn.setDoOutput(true)
    val os = conn.getOutputStream
    try os.write(body.getBytes(UTF_8)) finally os.close()
    val status = conn.getResponseCode
    val s = if (status < 400) conn.getInputStream else conn.getErrorStream
    if (s != null) { try s.readAllBytes() finally s.close() }
    conn.disconnect()
    status
  }

  test("racing appends to one stream: no lost events, catalog agrees") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-conc").toString
    val srv = new GraftHttpServer(spark, tmp, threads = 8)
    srv.start()
    val base = s"http://127.0.0.1:${srv.boundPort}/api/v1"
    val writers = 4
    val batches = 6
    val codes = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    try {
      val threads = (0 until writers).map { w =>
        new Thread(() => {
          (0 until batches).foreach { b =>
            // writer-specific field names force concurrent schema growth
            codes.add(post(s"$base/ingest", Map("X-P-Stream" -> "conc"),
              s"""[{"writer": $w, "batch": $b, "f$w": "v"},
                 |{"writer": $w, "batch": $b, "f$w": "w"}]""".stripMargin))
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(120000))
      import scala.jdk.CollectionConverters._
      assert(codes.asScala.forall(_ == 200), codes.asScala.toSeq)
      // mergeSchema: plain parquet inference samples ONE file, and early
      // files legitimately predate late writers' private columns. (The
      // engine's own stream read applies the merged data schema its
      // catalog version records — this merge is the test's equivalent.)
      val df = spark.read.option("mergeSchema", "true").parquet(s"$tmp/conc")
      // every event landed exactly once
      assert(df.count() == writers * batches * 2L)
      // every writer's private column merged into one schema
      (0 until writers).foreach(w =>
        assert(df.columns.contains(s"f$w"), df.columns.toSeq))
      // the stats catalog's row total agrees with the data after the race
      val cat = graft.catalog.StatsCatalog
        .resolve(spark, s"$tmp/.stats/conc")
      val catRows = cat.agg(org.apache.spark.sql.functions.sum("num_rows"))
        .head.getLong(0)
      assert(catRows == writers * batches * 2L, s"catalog says $catRows")
    } finally srv.stop()
  }

  private def http(method: String, url: String, body: Option[String])
      : (Int, String) = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    body.foreach { b =>
      conn.setDoOutput(true)
      val os = conn.getOutputStream
      try os.write(b.getBytes(UTF_8)) finally os.close()
    }
    val status = conn.getResponseCode
    val s = if (status < 400) conn.getInputStream else conn.getErrorStream
    val text = if (s == null) ""
      else try new String(s.readAllBytes(), UTF_8) finally s.close()
    conn.disconnect()
    (status, text)
  }

  test("queries racing with ingest: never 5xx, counts never go backwards") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-rw").toString
    val srv = new GraftHttpServer(spark, tmp, threads = 8)
    srv.start()
    val base = s"http://127.0.0.1:${srv.boundPort}/api/v1"
    val futureIso = java.time.format.DateTimeFormatter.ISO_INSTANT
      .format(java.time.Instant.now().plusSeconds(600))
    assert(post(s"$base/ingest", Map("X-P-Stream" -> "rw"),
      """{"seq": -1}""") == 200)
    @volatile var writerDone = false
    @volatile var readerFailure: Option[String] = None
    val reader = new Thread(() => {
      var last = 0L
      try {
        while (!writerDone && readerFailure.isEmpty) {
          val (code, body) = http("POST", s"$base/query", Some(
            s"""{"query": "SELECT count(*) AS n FROM rw",
               |"startTime": "10m", "endTime": "$futureIso"}""".stripMargin))
          if (code >= 500)
            readerFailure = Some(s"query $code: ${body.take(200)}")
          else if (code == 200) {
            val n = """\d+""".r.findFirstIn(body).map(_.toLong).getOrElse(0L)
            // appends are atomic: a count may lag but never regress
            if (n < last)
              readerFailure = Some(s"count went backwards: $last -> $n")
            last = math.max(last, n)
          }
        }
      } catch { case t: Throwable => readerFailure = Some(t.toString) }
    })
    try {
      reader.start()
      (0 until 12).foreach { i =>
        assert(post(s"$base/ingest", Map("X-P-Stream" -> "rw"),
          s"""{"seq": $i}""") == 200)
      }
      writerDone = true
      reader.join(60000)
      assert(readerFailure.isEmpty, readerFailure)
      val (fc, fb) = http("POST", s"$base/query", Some(
        s"""{"query": "SELECT count(*) AS n FROM rw",
           |"startTime": "10m", "endTime": "$futureIso"}""".stripMargin))
      assert(fc == 200 && fb.contains("13"), s"$fc: $fb")
    } finally { writerDone = true; srv.stop() }
  }
}
