package graft.perfbench

import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import HttpWorkloads._
import Main.{Args, Outcome}

object Workloads {
  private val mapper = new ObjectMapper()

  def run(spark: SparkSession, a: Args): Outcome = a.workload match {
    case "ingest" => ingestWorkload(spark, a)
    case "query" => readWorkload(spark, a, live = false)
    case "mixed" => readWorkload(spark, a, live = true)
    case "operators" => operatorsWorkload(spark, a)
    case w => sys.error(s"unknown workload $w")
  }

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  private def ms(rec: Recorder, p: String => Boolean, q: Double): Double =
    Stats.quantile(rec.ms(p), q)

  // ------------------------------------------------------------------ ingest

  private def ingestWorkload(spark: SparkSession, a: Args): Outcome = {
    val sz = sizes(a.tiny)
    val rec = new Recorder
    val start = Instant.now()
    val ((site, ledger), setupS) = time {
      val site = new Site(spark, s"${a.work}/ingest")
      val ledger = new Ledger
      val r = ingest(site, a.seed, ledger, sz.ingestBatch)
      ingestProblem(r, sz.ingestBatch).foreach(p => sys.error(s"first ingest: $p"))
      (site, ledger)
    }
    val warmEvents = ledger.events.get
    val named = scala.collection.mutable.Map[String, Double]()
    var layers = Map.empty[String, Double]
    if (!a.trace) {
      val secs = ClosedLoop.run(rec, 2, a.seconds) { (_, _) =>
        rec.run("ingest") {
          val r = ingest(site, a.seed, ledger, sz.ingestBatch)
          (r.ms, ingestProblem(r, sz.ingestBatch))
        }
      }
      named ++= ingestNamed(rec, ledger.events.get - warmEvents, secs)
    } else layers = Traced.http(spark, a, site, ledger, None, rec)
    checkNoLoss(spark, site, Events, start, ledger.events.get, rec)
    named("stored_bytes_per_input_byte") =
      storedBytes(site, Events).toDouble / math.max(1L, ledger.bytes.get)
    site.stop()
    Outcome(rec, setupS, named.toMap, layers)
  }

  private def ingestNamed(rec: Recorder, events: Long, secs: Double): Map[String, Double] = Map(
    "ingest_events_per_s" -> events / secs,
    "ingest_p50_ms" -> ms(rec, _ == "ingest", 0.5),
    "ingest_p90_ms" -> ms(rec, _ == "ingest", 0.9))

  // ------------------------------------------------------------ query, mixed

  private def readWorkload(spark: SparkSession, a: Args, live: Boolean): Outcome = {
    val sz = sizes(a.tiny)
    val rec = new Recorder
    val name = if (live) "mixed" else "query"
    val ((site, ledger, h), setupS) = time {
      val site = new Site(spark, s"${a.work}/$name")
      val ledger = new Ledger
      (site, ledger, seedHistory(site, a.seed, ledger, sz))
    }
    val seeded = ledger.events.get
    // warm-up: every shape once, split over the two readers, checked like
    // any other read
    val warm = new Reads(site, h, live, new Rng(a.seed * 31 + 7))
    val warmRec = new Recorder
    val (_, warmS) = time {
      val halves = ReadShapes.grouped(ReadShapes.size / 2).toSeq.map(_.map(warm.make))
      val ts = halves.map(rs => new Thread(() => rs.foreach(warm.run(warmRec, _))))
      ts.foreach(_.start()); ts.foreach(_.join())
    }
    rec.attempted.addAndGet(warmRec.attempted.get)
    rec.failed.addAndGet(warmRec.failed.get)
    warmRec.failures.asScala.foreach(rec.failures.add)
    val named = scala.collection.mutable.Map[String, Double]()
    var layers = Map.empty[String, Double]
    if (!a.trace) {
      // mixed: client 0 writes small batches to the live edge; the others read
      val writers = if (live) 1 else 0
      val readers = (0 until 2).map { c =>
        val r = new Reads(site, h, live, new Rng(a.seed * 131 + c))
        r.narrowExpected = warm.narrowExpected
        (r, new Cycle(new Rng(a.seed * 17 + c)))
      }
      val secs = ClosedLoop.run(rec, writers + 2, a.seconds) { (c, _) =>
        if (c < writers) rec.run("ingest") {
          val r = ingest(site, a.seed, ledger, sz.mixedBatch)
          (r.ms, ingestProblem(r, sz.mixedBatch))
        } else {
          val (r, cycle) = readers(c - writers)
          r.run(rec, cycle.next())
        }
      }
      val reads = rec.ms(_ != "ingest")
      named ++= Map(
        "query_p50_ms" -> ms(rec, QueryShapes, 0.5),
        "counts_p50_ms" -> ms(rec, CountsShapes, 0.5),
        "search_p50_ms" -> ms(rec, _ == "search", 0.5),
        "read_p90_ms" -> Stats.quantile(reads, 0.9),
        "read_ops_per_s" -> reads.size / secs)
      if (live) named ++= ingestNamed(rec, ledger.events.get - seeded, secs)
    } else layers = Traced.http(spark, a, site, ledger, Some((warm, h)), rec)
    if (live) checkNoLoss(spark, site, Events, h.start, ledger.events.get, rec)
    named("stored_bytes_per_input_byte") =
      storedBytes(site, Events).toDouble / math.max(1L, ledger.bytes.get)
    site.stop()
    Outcome(rec, setupS, named.toMap, layers, Map("warmup_s" -> f"$warmS%.3f",
      "seeded_events" -> seeded.toString) ++ h.phases.map { case (k, v) => k -> f"$v%.3f" })
  }

  // --------------------------------------------------------------- operators

  private def loadExpected(path: String): Map[String, (Long, Long)] = {
    val j = mapper.readTree(new java.io.File(path))
    j.fields().asScala.map { e =>
      e.getKey -> (e.getValue.path("rows").asLong(-1), e.getValue.path("hash").asLong(-1))
    }.toMap
  }

  private def gates(spark: SparkSession, dir: String): Seq[Operators.Gate] =
    Operators.Gates.map { case (n, f) => new Operators.Gate(n, f, spark, dir) }

  private def operatorsWorkload(spark: SparkSession, a: Args): Outcome = {
    val rec = new Recorder
    val expected = if (a.tiny) Map.empty[String, (Long, Long)] else loadExpected(a.expected)
    val genS = Operators.ensureCorpus(spark, a.corpus, a.tiny)
    val (gs, setupS) = time {
      val gs = gates(spark, a.corpus)
      gs.foreach(_.prepare())
      gs
    }
    // warm pass: each gate once, its rows and hash checked against the
    // recorded values
    val rows = scala.collection.mutable.Map[String, Long]()
    val (_, warmS) = time(gs.foreach { g =>
      try {
        val (n, h) = Operators.fingerprint(g.frame())
        rows(g.name) = n
        expected.get(g.name) match {
          case Some((en, eh)) => rec.check(g.name + ":fingerprint", en == n && eh == h,
            s"rows/hash $n/$h, recorded $en/$eh")
          case None => rec.check(g.name + ":fingerprint", a.tiny && n >= 0,
            "no recorded fingerprint")
        }
      } catch { case e: Throwable => rec.fail(g.name + ":fingerprint", String.valueOf(e)) }
    })
    var layers = Map.empty[String, Double]
    val named = scala.collection.mutable.Map[String, Double]()
    val order = new Rng(a.seed)
    if (!a.trace) {
      // one client walks the gates in a seeded order, in whole passes until
      // the window is spent, so every gate counts equally in every metric
      val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      rec.window(do {
        order.shuffle(gs).foreach { g =>
          rec.run(g.name) {
            val (n, s) = time(graft.Bench.materialize(g.frame()))
            (s * 1000, Option.when(!rows.get(g.name).contains(n))(s"rows $n != ${rows.get(g.name)}"))
          }
        }
      } while (System.nanoTime() < deadline))
      val perGate = gs.map(g => Stats.median(rec.ms(_ == g.name)))
      named("operators_total_s") = perGate.sum / 1000
    } else layers = Traced.operators(spark, a, gs, rows.toMap, order, rec)
    Outcome(rec, setupS, named.toMap, layers, Map("warmup_s" -> f"$warmS%.3f",
      "corpus_generate_s" -> f"$genS%.3f", "corpus_id" -> graft.Bench.corpusId(a.corpus)))
  }

  /** Record the gates' fingerprints on the fixed corpus. */
  def record(spark: SparkSession, a: Args): Unit = {
    Operators.ensureCorpus(spark, a.corpus, tiny = false)
    val gs = gates(spark, a.corpus)
    gs.foreach(_.prepare())
    val o = mapper.createObjectNode()
    gs.foreach { g =>
      val (n, h) = Operators.fingerprint(g.frame())
      o.putObject(g.name).put("rows", n).put("hash", h)
    }
    Files.writeString(Paths.get(a.expected),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(o) + "\n")
    ()
  }
}
