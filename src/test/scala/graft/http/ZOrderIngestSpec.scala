package graft.http

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.SparkSuite
import graft.query.{QueryService, TimeRange}

/** Z-order as an INGEST layout policy, end-to-end through the full
  * pipeline: stream created over HTTP with `X-P-Z-Order`, events ingested
  * over HTTP (the real [[graft.ingest.IngestPipeline.append]] +
  * txn-catalog stats path), then a 2-D box predicate queried through the
  * SAME [[QueryService.query]] the `/query` route runs — the z-ordered
  * stream's scan skips some of its files, an identical stream without the
  * policy skips none, with identical results (also asserted over the
  * wire). Extends `operators.ZOrderSpec`'s StatsCatalog proof to the full
  * write → catalog → plan → scan chain (VERDICT r16 next-round item 1).
  */
class ZOrderIngestSpec extends SparkSuite {

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

  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect() // execute THIS queryExecution so metrics populate
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    plan.collectLeaves()
      .collect { case s: FileSourceScanExec => s.metrics("numFiles").value }
      .sum
  }

  test("HTTP-created z-order stream: ingest lays files out on the Morton " +
      "curve, the catalog carries dim stats, and a 2-D box query through " +
      "the query path scans strictly fewer files than the plain layout — " +
      "same rows") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-zoi").toString
    val srv = new GraftHttpServer(spark, tmp)
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}/api/v1"

      // create: zs carries the layout policy, ps is the control
      val (cs, cb) = http("PUT", s"$base/logstream/zs",
        Map("X-P-Z-Order" -> "x,y", "X-P-Z-Order-Bits" -> "8"))
      assert(cs == 200, cb)
      assert(http("PUT", s"$base/logstream/ps")._1 == 200)
      // the policy round-trips through GET info
      val (is, ib) = http("GET", s"$base/logstream/zs/info")
      assert(is == 200, ib)
      val zo = mapper.readTree(ib).get("z_order")
      assert(zo != null && !zo.isNull && zo.get("bits").asInt == 8)
      assert(zo.get("dims").size == 2 && zo.get("dims").get(0).asText == "x")

      // the policy is DURABLE, not just in-memory: create persisted
      // stream.json, which is exactly what Compaction.compactStream reads
      // to re-cluster closed partitions — no manual StreamMeta.save needed
      assert(graft.catalog.StreamMeta.load(tmp, "zs").flatMap(_.zOrder)
        .contains((Seq("x", "y"), 8)))

      // a rejected policy never half-creates a stream
      val (bs, bb) = http("PUT", s"$base/logstream/bad",
        Map("X-P-Z-Order" -> "a,b,c,d,e,f", "X-P-Z-Order-Bits" -> "16"))
      assert(bs == 400 && bb.contains("dims*bits"), s"$bs $bb")

      // 64x64 grid in RANDOM arrival order (real logs don't arrive
      // clustered): without z-order every written file spans the full
      // range of both dims, so the box prunes nothing
      val rnd = new scala.util.Random(11)
      val events = rnd.shuffle((0 until 4096).toVector).map { i =>
        s"""{"id":$i,"x":${i % 64},"y":${i / 64}}"""
      }
      val payload = events.mkString("[", ",", "]")
      for (streamName <- Seq("zs", "ps")) {
        val (s1, b1) = http("POST", s"$base/ingest",
          Map("X-P-Stream" -> streamName), Some(payload))
        assert(s1 == 200, b1)
        assert(mapper.readTree(b1).get("events").asLong == 4096L)
      }

      // both streams now read through a maintained stats catalog
      val streams = srv.streams
      assert(streams("zs").catalogPath.isDefined)
      assert(streams("ps").catalogPath.isDefined)

      // the box: 16x16 corner = 256 rows, 1/16 of the data. This is the
      // exact QueryService.query call the /query route makes.
      val range = TimeRange(Instant.now().minusSeconds(600),
        Instant.now().plusSeconds(600))
      def box(s: String) = QueryService.query(spark, streams,
        s"SELECT id FROM $s WHERE x BETWEEN 0 AND 15 AND y BETWEEN 0 AND 15",
        range)
      val zDf = box("zs")
      val pDf = box("ps")
      val zFiles = scannedFiles(zDf)
      val pFiles = scannedFiles(pDf)
      // V1 inference types JSON numbers as double
      val zIds = zDf.collect().map(_.getAs[Number](0).longValue).toSet
      val pIds = pDf.collect().map(_.getAs[Number](0).longValue).toSet
      assert(zIds == pIds && zIds.size == 256)
      // an ingest request writes one file per minute partition, so the
      // two layouts differ in the SHARE of their files the box opens: the
      // plain files each span both full ranges, the z-ordered ones do not
      def written(s: String): Long = {
        val w = java.nio.file.Files.walk(java.nio.file.Paths.get(tmp, s))
        try w.iterator().asScala.count(_.toString.endsWith(".parquet")).toLong
        finally w.close()
      }
      assert(zFiles > 0 && pFiles > 0)
      assert(pFiles == written("ps"),
        s"plain scanned $pFiles of ${written("ps")} files")
      assert(zFiles < written("zs"),
        s"z-order scanned $zFiles of ${written("zs")} files")

      // and over the wire: the /query endpoint returns the same answer
      val q = mapper.createObjectNode()
        .put("query", "SELECT count(*) AS n FROM zs " +
          "WHERE x BETWEEN 0 AND 15 AND y BETWEEN 0 AND 15")
        .put("startTime", "10m")
        .put("endTime",
          DateTimeFormatter.ISO_INSTANT.format(Instant.now().plusSeconds(600)))
      val (qs, qb) = http("POST", s"$base/query", Map.empty,
        Some(mapper.writeValueAsString(q)))
      assert(qs == 200, qb)
      assert(mapper.readTree(qb).get(0).get("n").asLong == 256L)

      // mutually-exclusive update headers are refused, not silently
      // first-match-wins — neither facet changes
      val (ms, mb) = http("PUT", s"$base/logstream/zs",
        Map("X-P-Update-Stream" -> "true", "X-P-Z-Order" -> "none",
          "X-P-Time-Partition-Limit" -> "30d"))
      assert(ms == 400 && mb.contains("exactly one"), s"$ms $mb")

      // bits WITHOUT dims configure nothing: refused on update (it would
      // otherwise fall through to the custom-partition branch and wipe
      // it) and on create alike
      val (bs2, bb2) = http("PUT", s"$base/logstream/zs",
        Map("X-P-Update-Stream" -> "true", "X-P-Z-Order-Bits" -> "8"))
      assert(bs2 == 400 && bb2.contains("requires X-P-Z-Order"),
        s"$bs2 $bb2")
      assert(http("PUT", s"$base/logstream/bitsonly",
        Map("X-P-Z-Order-Bits" -> "8"))._1 == 400)

      // layout update applies to future writes; `none` clears it
      assert(http("PUT", s"$base/logstream/zs",
        Map("X-P-Update-Stream" -> "true", "X-P-Z-Order" -> "none"))._1
        == 200)
      val (is2, ib2) = http("GET", s"$base/logstream/zs/info")
      assert(is2 == 200 && mapper.readTree(ib2).get("z_order").isNull, ib2)
      // …and the clear is persisted too (a restart would not resurrect it)
      assert(graft.catalog.StreamMeta.load(tmp, "zs")
        .exists(_.zOrder.isEmpty))
    } finally srv.stop()
  }
}
