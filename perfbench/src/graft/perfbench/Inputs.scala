package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** SplitMix64: the only source of randomness in the benchmark, so one seed
  * fixes every generated request.
  */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
  def shuffle[A](xs: Seq[A]): Seq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1
    }
    a.toSeq.asInstanceOf[Seq[A]]
  }
}

/** Generated log events and documents. Events carry an integer `cents`
  * field so sums stay exact after the ingest path coerces numbers to double.
  */
object Inputs {
  val EventTypes: Seq[String] = Seq("click", "view", "error", "purchase", "signup")
  val Users = 150
  val Vocabulary: Seq[String] = Seq(
    "join", "hash", "row", "batch", "scan", "column", "customer", "filter",
    "query", "table", "value", "window", "stream", "merge", "sort", "order",
    "group", "agg", "key", "part", "line", "spark", "data", "fast", "slow",
    "big", "small", "index", "cache", "page", "log", "trace", "span",
    "metric", "alert", "count", "node", "disk", "shard", "commit", "flush",
    "retry", "latency", "error", "timeout", "socket", "thread", "queue")

  final case class Event(id: Long, user: Int, kind: String, cents: Long,
                         host: Int, k: Int)

  /** Events `[from, from + n)` of the stream seeded by `seed`. */
  def events(seed: Long, from: Long, n: Int): IndexedSeq[Event] =
    (0 until n).map { i =>
      val id = from + i
      val r = new Rng(seed * 1000003L + id)
      Event(id, r.nextInt(Users), EventTypes(r.nextInt(EventTypes.size)),
        r.nextInt(100000).toLong, r.nextInt(16), r.nextInt(100))
    }

  def eventsJson(evs: Seq[Event]): String = {
    val sb = new StringBuilder(evs.size * 180)
    sb.append('[')
    evs.iterator.zipWithIndex.foreach { case (e, i) =>
      if (i > 0) sb.append(',')
      sb.append("{\"event_id\":").append(e.id)
        .append(",\"user_id\":").append(e.user)
        .append(",\"event_type\":\"").append(e.kind)
        .append("\",\"cents\":").append(e.cents)
        .append(",\"value\":").append(e.cents / 100).append('.')
        .append(f"${e.cents % 100}%02d")
        .append(",\"host\":\"host-").append(e.host)
        .append("\",\"props\":{\"k\":").append(e.k)
        .append(",\"tag\":\"t").append(e.k % 7)
        .append("\"},\"msg\":\"").append(e.kind).append(" on host-")
        .append(e.host).append(" took ").append(e.cents % 997).append(" ms\"}")
    }
    sb.append(']').toString
  }

  final case class Doc(id: Long, words: IndexedSeq[String], lang: String,
                       source: String)

  /** `n` documents; word frequencies are skewed so search terms differ in
    * selectivity.
    */
  def documents(seed: Long, n: Int): IndexedSeq[Doc] = {
    val r = new Rng(seed ^ 0x5DEECE66DL)
    (0 until n).map { i =>
      val len = 8 + r.nextInt(40)
      val words = (0 until len).map { _ =>
        val a = r.nextInt(Vocabulary.size); val b = r.nextInt(Vocabulary.size)
        Vocabulary(math.min(a, b))
      }
      Doc(i.toLong, words, Seq("en", "de", "fr", "es")(r.nextInt(4)),
        s"src${r.nextInt(8)}")
    }
  }

  def documentsJson(docs: Seq[Doc]): String =
    docs.map { d =>
      s"""{"doc_id":${d.id},"body":"${d.words.mkString(" ")}","lang":"${d.lang}","source":"${d.source}"}"""
    }.mkString("[", ",", "]")

  def utf8Bytes(s: String): Long = s.getBytes(UTF_8).length.toLong
}
