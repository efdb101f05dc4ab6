package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Loopback client for one server. Requests are never retried. */
final class Http(port: Int, timeoutS: Int = 60) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(5)).build()
  val mapper = new ObjectMapper()

  final case class Reply(status: Int, body: String, ms: Double) {
    def ok: Boolean = status / 100 == 2
    def json: JsonNode = mapper.readTree(body)
  }

  def post(path: String, body: String, headers: Seq[(String, String)] = Nil): Reply = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .timeout(Duration.ofSeconds(timeoutS.toLong))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    val t0 = System.nanoTime()
    val r = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    Reply(r.statusCode(), r.body(), (System.nanoTime() - t0) / 1e6)
  }
}

/** Every attempted operation and check of a run. An op fails on a non-2xx
  * status, an exception, a timeout or a wrong answer; failed ops keep their
  * latency out of the latency samples.
  */
final class Recorder {
  final case class Sample(cls: String, ms: Double)
  val samples = new ConcurrentLinkedQueue[Sample]()
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val failures = new ConcurrentLinkedQueue[String]()

  def fail(cls: String, why: String): Unit = {
    attempted.incrementAndGet(); failed.incrementAndGet()
    if (failures.size < 20) failures.add(s"$cls: $why")
    ()
  }

  /** Record an op that returned `ms` after verification said `problem`. */
  def record(cls: String, ms: Double, problem: Option[String]): Unit =
    problem match {
      case Some(p) => fail(cls, p)
      case None =>
        attempted.incrementAndGet(); samples.add(Sample(cls, ms)); ()
    }

  /** A correctness check outside the timed ops: counts as one op. */
  def check(name: String, ok: Boolean, detail: => String): Unit =
    if (ok) attempted.incrementAndGet() else fail(name, detail)

  /** Run one op; exceptions become failures. */
  def run(cls: String)(op: => (Double, Option[String])): Unit =
    try { val (ms, p) = op; record(cls, ms, p) }
    catch { case e: Throwable => fail(cls, String.valueOf(e)) }

  def ms(cls: String => Boolean): Seq[Double] =
    samples.asScala.iterator.filter(s => cls(s.cls)).map(_.ms).toSeq

  /** The measured window: wall seconds, process CPU seconds, and the share
    * of the machine's CPU time stolen by its host meanwhile.
    */
  @volatile var windowS, cpuS, stealFrac = Double.NaN

  def window[T](body: => T): T = {
    val (c0, s0, t0) = (Machine.cpuS(), Machine.cpuTicks(), System.nanoTime())
    val r = body
    val (c1, s1) = (Machine.cpuS(), Machine.cpuTicks())
    windowS = (System.nanoTime() - t0) / 1e9
    cpuS = c1 - c0
    stealFrac = (s1._1 - s0._1).toDouble / math.max(1L, s1._2 - s0._2)
    r
  }
}

object Machine {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuS(): Double = os.getProcessCpuTime / 1e9

  /** (steal, total) jiffies of all CPUs, from /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
      .get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  /** Heap still reachable after full collections. The pause lets Spark's
    * context cleaner drop the broadcasts and shuffles the first collection
    * released.
    */
  def liveHeapMb(): Double = {
    System.gc(); Thread.sleep(500); System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / (1024.0 * 1024.0)
  }

  def peakRssMb(): Double =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}

/** Closed-loop clients: each thread runs `op(i)` back to back until the
  * deadline, waiting for every reply before sending again.
  */
object ClosedLoop {
  def run(rec: Recorder, clients: Int, seconds: Double)(op: (Int, Int) => Unit): Double = rec.window {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var i = 0
        while (System.nanoTime() < deadline) { op(c, i); i += 1 }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}
