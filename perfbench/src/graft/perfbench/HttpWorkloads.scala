package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import java.time.temporal.ChronoUnit
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.http.GraftHttpServer

/** One GraftHttpServer over a fresh storage root, and a client for it. */
final class Site(spark: SparkSession, val root: String) {
  val server = new GraftHttpServer(spark, root)
  server.start()
  val http = new Http(server.boundPort)
  def stop(): Unit = server.stop()
  def streamDir(s: String): String = s"$root/$s"
  def catalogDir(s: String): String = s"$root/.stats/$s"
}

object HttpWorkloads {
  val Events = "events"
  val Docs = "docs"
  val IngestHeaders: Seq[(String, String)] = Seq("X-P-Stream" -> Events)
  val ReadShapes: Seq[String] = Seq("sql_narrow", "sql_wide", "sql_topk",
    "count_star", "counts", "counts_where", "context", "search")
  val QueryShapes = Set("sql_narrow", "sql_wide", "sql_topk", "count_star", "context")
  val CountsShapes = Set("counts", "counts_where")

  /** Sizes of one workload; `tiny` shrinks everything for the smoke. */
  final case class Sizes(ingestBatch: Int, mixedBatch: Int, seedBatches: Int,
                         seedBatch: Int, docs: Int)
  def sizes(tiny: Boolean): Sizes =
    if (tiny) Sizes(50, 10, 2, 100, 100) else Sizes(500, 20, 2, 2000, 600)

  def iso(i: Instant): String = i.toString
  def minute(i: Instant): Instant = i.truncatedTo(ChronoUnit.MINUTES)

  /** Acknowledged events and JSON bytes of one stream. */
  final class Ledger {
    val events = new AtomicLong
    val bytes = new AtomicLong
    val nextId = new AtomicLong
  }

  /** POST one batch; a reply must acknowledge exactly the batch. */
  def ingest(site: Site, seed: Long, ledger: Ledger, n: Int): Http#Reply = {
    val from = ledger.nextId.getAndAdd(n.toLong)
    val body = Inputs.eventsJson(Inputs.events(seed, from, n))
    val r = site.http.post("/api/v1/ingest", body, IngestHeaders)
    if (r.ok && r.json.path("events").asLong(-1) == n) {
      ledger.events.addAndGet(n.toLong); ledger.bytes.addAndGet(Inputs.utf8Bytes(body))
    }
    r
  }

  def ingestProblem(r: Http#Reply, n: Int): Option[String] =
    if (!r.ok) Some(s"status ${r.status}: ${r.body.take(200)}")
    else if (r.json.path("events").asLong(-1) != n)
      Some(s"acknowledged ${r.json.path("events")} of $n events")
    else None

  // ------------------------------------------------------------ the history

  /** What the query workload's readers may assert: the seeded history. */
  final case class History(start: Instant, end: Instant, events: Seq[Inputs.Event],
                           docs: Seq[Inputs.Doc]) {
    val byType: Map[String, (Long, Long, Long)] = events.groupBy(_.kind).map {
      case (k, es) => k -> (es.size.toLong, es.map(_.cents).sum, es.map(_.user).distinct.size.toLong)
    }
    val perUser: Map[Int, Int] = events.groupBy(_.user).map { case (u, es) => u -> es.size }
    val docWords: Map[Long, Set[String]] = docs.map(d => d.id -> d.words.toSet).toMap
    val windowStart: Instant = minute(start).minus(1, ChronoUnit.MINUTES)
    val windowEnd: Instant = minute(end).plus(2, ChronoUnit.MINUTES)
    /** Seconds spent in each seeding phase. */
    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
  }

  /** Seed a fresh site: event batches through /ingest, documents into a
    * second stream, and the persisted BM25 index over them.
    */
  def seedHistory(site: Site, seed: Long, ledger: Ledger, sz: Sizes): History = {
    val t0 = Instant.now()
    (0 until sz.seedBatches).foreach { _ =>
      val r = ingest(site, seed, ledger, sz.seedBatch)
      ingestProblem(r, sz.seedBatch).foreach(p => sys.error(s"seed ingest: $p"))
    }
    val docs = Inputs.documents(seed, sz.docs)
    val t1 = Instant.now()
    val dr = site.http.post("/api/v1/ingest", Inputs.documentsJson(docs),
      Seq("X-P-Stream" -> Docs))
    if (!dr.ok) sys.error(s"seed documents: ${dr.status} ${dr.body.take(200)}")
    val t2 = Instant.now()
    val h = History(t0, t2, Inputs.events(seed, 0, ledger.nextId.get.toInt), docs)
    val ir = site.http.post("/api/v1/text/index",
      s"""{"datasetName":"$Docs","textField":"body","idField":"doc_id","numBuckets":16,
         |"startTime":"${iso(h.windowStart)}","endTime":"${iso(h.windowEnd)}"}""".stripMargin)
    if (!ir.ok || ir.json.path("docs").asLong(-1) != sz.docs)
      sys.error(s"text index: ${ir.status} ${ir.body.take(200)}")
    def secs(a: Instant, b: Instant) = (b.toEpochMilli - a.toEpochMilli) / 1000.0
    h.phases ++= Seq("seed_events_s" -> secs(t0, t1), "seed_docs_s" -> secs(t1, t2),
      "index_build_s" -> ir.ms / 1000)
    h
  }

  // ---------------------------------------------------------------- reads

  /** A read request of one shape, with its window, and the check of its
    * reply. `live` readers (mixed) cannot know totals, so they only check
    * what holds for any snapshot.
    */
  final case class Read(shape: String, path: String, body: String,
                        check: JsonNode => Option[String])

  private def rows(j: JsonNode): Seq[JsonNode] = j.elements().asScala.toSeq

  def tsMicros(s: String): Long = {
    val t = java.time.LocalDateTime.parse(s.trim.replace(' ', 'T').stripSuffix("Z"))
    t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000
  }

  private def sorted(ts: Seq[Long], desc: Boolean): Boolean =
    ts.zip(ts.drop(1)).forall { case (a, b) => if (desc) a >= b else a <= b }

  final class Reads(site: Site, val h: History, live: Boolean, rng: Rng) {
    private def sql(q: String, s: Instant, e: Instant): String =
      site.http.mapper.createObjectNode().put("query", q)
        .put("startTime", iso(s)).put("endTime", iso(e)).toString

    /** Windows: the seeded span, or the last ten minutes up to now. */
    private def window(): (Instant, Instant) =
      if (!live) (h.windowStart, h.windowEnd)
      else {
        val e = minute(Instant.now()).plus(1, ChronoUnit.MINUTES)
        (e.minus(10, ChronoUnit.MINUTES), e)
      }

    /** The first `sql_narrow` answer; a static history never changes it. */
    @volatile var narrowExpected: Option[String] = None

    def make(shape: String): Read = {
      val (ws, we) = window()
      shape match {
        case "sql_narrow" =>
          val ns = if (live) we.minus(1, ChronoUnit.MINUTES) else minute(h.start)
          Read(shape, "/api/v1/query", sql(
            s"SELECT event_type, COUNT(*) AS n, SUM(cents) AS s FROM $Events " +
              "GROUP BY event_type ORDER BY event_type", ns, ns.plus(1, ChronoUnit.MINUTES)),
            j => {
              val r = rows(j)
              if (r.exists(x => !Inputs.EventTypes.contains(x.path("event_type").asText())))
                Some("unknown event_type")
              else if (live) None
              else narrowExpected match {
                case None => narrowExpected = Some(j.toString); None
                case Some(exp) if exp == j.toString => None
                case Some(exp) => Some(s"narrow window changed: $exp vs $j")
              }
            })
        case "sql_wide" =>
          Read(shape, "/api/v1/query", sql(
            s"SELECT event_type, COUNT(*) AS n, SUM(cents) AS s, " +
              s"COUNT(DISTINCT user_id) AS u FROM $Events GROUP BY event_type " +
              "ORDER BY event_type", ws, we),
            j => {
              val got = rows(j).map(x => x.path("event_type").asText() ->
                (x.path("n").asLong(), x.path("s").asDouble(), x.path("u").asLong())).toMap
              if (live) {
                if (got.keySet.subsetOf(Inputs.EventTypes.toSet)) None
                else Some("unknown event_type")
              } else if (got.keySet == h.byType.keySet && h.byType.forall {
                  case (k, (n, s, u)) =>
                    val (gn, gs, gu) = got(k)
                    gn == n && math.abs(gs - s) < 0.5 && gu == u
                }) None
              else Some(s"group-by mismatch: $got vs ${h.byType}")
            })
        case "sql_topk" =>
          val user = rng.nextInt(Inputs.Users)
          Read(shape, "/api/v1/query", sql(
            s"SELECT event_id, user_id, p_timestamp, cents FROM $Events " +
              s"WHERE user_id = $user ORDER BY p_timestamp DESC LIMIT 20", ws, we),
            j => {
              val r = rows(j)
              val want = math.min(20, h.perUser.getOrElse(user, 0))
              if (r.exists(_.path("user_id").asLong(-1) != user)) Some("wrong user")
              else if (!sorted(r.map(x => tsMicros(x.path("p_timestamp").asText())), desc = true))
                Some("top-k not ordered by time")
              else if (!live && r.size != want) Some(s"top-k rows ${r.size} != $want")
              else None
            })
        case "count_star" =>
          Read(shape, "/api/v1/query", sql(s"SELECT COUNT(*) FROM $Events", ws, we),
            j => {
              val n = rows(j).headOption.map(_.elements().next().asLong(-1)).getOrElse(-1L)
              if (live) { if (n >= 0) None else Some("no count") }
              else if (n == h.events.size) None
              else Some(s"count(*) $n != ${h.events.size}")
            })
        case "counts" | "counts_where" =>
          val cond =
            if (shape == "counts") ""
            else ""","conditions":{"column":"event_type","op":"=","value":"error"}"""
          val want =
            if (shape == "counts") h.events.size.toLong
            else h.byType.get("error").map(_._1).getOrElse(0L)
          Read(shape, "/api/v1/counts",
            s"""{"stream":"$Events","startTime":"${iso(ws)}","endTime":"${iso(we)}","numBins":30$cond}""",
            j => {
              val bins = rows(j.path("records"))
              val total = bins.map(_.path("count").asLong()).sum
              if (bins.size != 30) Some(s"${bins.size} bins")
              else if (!live && total != want) Some(s"bin sum $total != $want")
              else None
            })
        case "context" =>
          val (as, ae) = if (live) (we.minus(2, ChronoUnit.MINUTES), Instant.now()) else (h.start, h.end)
          val anchor = as.plusMillis(
            rng.nextInt(math.max(1, (ae.toEpochMilli - as.toEpochMilli).toInt)).toLong)
          Read(shape, "/api/v1/query/context",
            s"""{"dataset":"$Events","pTimestamp":"${iso(anchor)}","contextWindow":"10m","pageSize":40}""",
            j => {
              val r = rows(j.path("records"))
              if (!live && r.isEmpty) Some("empty context page")
              else if (!sorted(r.map(x => tsMicros(x.path("p_timestamp").asText())), desc = false))
                Some("context page not ordered by time")
              else None
            })
        case "search" =>
          val terms = Seq.fill(1 + rng.nextInt(2))(
            Inputs.Vocabulary(rng.nextInt(Inputs.Vocabulary.size))).distinct
          Read(shape, "/api/v1/text/search",
            s"""{"datasetName":"$Docs","textField":"body","idField":"doc_id","query":"${terms.mkString(" ")}","k":10}""",
            j => {
              val hits = rows(j.path("results")).map(_.path("doc_id").asLong())
              val expected = h.docWords.count(_._2.exists(terms.contains))
              if (hits.size != math.min(10, expected)) Some(s"${hits.size} hits for $terms")
              else hits.find(id => !h.docWords.get(id).exists(_.exists(terms.contains)))
                .map(id => s"doc $id holds none of $terms")
            })
      }
    }

    def run(rec: Recorder, shape: String): Unit = run(rec, make(shape))

    def run(rec: Recorder, rd: Read): Unit = {
      val shape = rd.shape
      rec.run(shape) {
        val r = site.http.post(rd.path, rd.body)
        (r.ms, if (!r.ok) Some(s"status ${r.status}: ${r.body.take(200)}") else rd.check(r.json))
      }
    }
  }

  /** Each client walks the shapes in a fresh seeded order per cycle. */
  final class Cycle(rng: Rng) {
    private var left: List[String] = Nil
    def next(): String = {
      if (left.isEmpty) left = rng.shuffle(ReadShapes).toList
      val s = left.head; left = left.tail; s
    }
  }

  // --------------------------------------------------------- end-of-run checks

  /** No event lost: SQL scan count, catalog row sum and acknowledgements agree. */
  def checkNoLoss(spark: SparkSession, site: Site, stream: String, start: Instant,
                  acked: Long, rec: Recorder): Unit = {
    val end = minute(Instant.now()).plus(2, ChronoUnit.MINUTES)
    val s0 = minute(start).minus(1, ChronoUnit.MINUTES)
    val body = site.http.mapper.createObjectNode()
      .put("query", s"SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS d FROM $stream")
      .put("startTime", iso(s0)).put("endTime", iso(end)).toString
    val r = site.http.post("/api/v1/query", body)
    val (n, d) =
      if (r.ok) rows(r.json).headOption.map(x => (x.path("n").asLong(-1), x.path("d").asLong(-1)))
        .getOrElse((-1L, -1L))
      else (-1L, -1L)
    rec.check("sql_count_vs_acked", n == acked && d == acked,
      s"SQL count $n, distinct ids $d, acknowledged $acked (${r.status})")
    val cat = graft.catalog.StatsCatalog.countStar(spark, site.catalogDir(stream))
    rec.check("catalog_rows_vs_acked", cat == acked, s"catalog num_rows $cat, acknowledged $acked")
  }

  /** Parquet + catalog bytes of a stream. */
  def storedBytes(site: Site, stream: String): Long = {
    def size(p: String): Long = {
      val path = Paths.get(p)
      if (!Files.exists(path)) 0L
      else {
        val s = Files.walk(path)
        try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
          !f.getFileName.toString.startsWith(".")).map(Files.size(_: Path)).sum
        finally s.close()
      }
    }
    // the stream dir also holds the text index of a document stream
    size(site.streamDir(stream)) - size(site.streamDir(stream) + "/.textindex") +
      size(site.catalogDir(stream))
  }
}
