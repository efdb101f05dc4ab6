package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Driver-resident BM25 serving ([[TextIndex.bm25TopK]]): the resident
  * scorer returns exactly the rows of the Spark plan
  * ([[TextIndex.bm25SearchPersisted]]) and of the ad-hoc
  * [[TextRank.bm25Scores]] with no Spark job; every mutation between two
  * searches is seen; a compaction racing searches fails none; an index
  * above the driver bound, a token-less one, and one whose files break
  * the recorded layout are handled as documented.
  */
class ResidentTextIndexSpec extends SparkSuite {
  import spark.implicits._

  private val vocab = Seq("fox", "dog", "rain", "spark", "join", "lazy",
    "brown", "quick", "garden", "query", "table", "plan")

  /** 120 docs of 3–12 tokens drawn from `vocab` (repeats give tf > 1),
    * a `source` attribute for filtered search.
    */
  private val corpus: DataFrame = {
    val rng = new scala.util.Random(11)
    (0L until 120L).map { id =>
      val n = 3 + rng.nextInt(10)
      (id, Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" "),
        s"s${id % 3}")
    }.toDF("doc_id", "text", "source")
  }

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private def build(docs: DataFrame = corpus, nb: Int = 8): String = {
    val idx = tmp("txtres")
    TextIndex.saveTextIndex(docs, "doc_id", "text", idx, numBuckets = nb,
      attrCols = Seq("source"))
    idx
  }

  /** The Spark plan's rows as `(doc_id, rk, score_micro)`. */
  private def planned(idx: String, terms: Seq[String], k: Int,
                      where: Option[Column] = None,
                      after: Option[(Long, Long)] = None)
      : Seq[(Long, Int, Long)] =
    TextIndex.bm25SearchPersisted(spark, idx, terms, k, where = where,
        after = after)
      .orderBy($"rk").collect()
      .map(r => (r.getLong(0), r.getLong(2).toInt, r.getLong(1))).toSeq

  /** [[TextIndex.bm25TopK]] on a loaded generation: no Spark job. */
  private def resident(idx: String, terms: Seq[String], k: Int,
                       where: Option[Column] = None,
                       after: Option[(Long, Long)] = None)
      : Seq[(Long, Int, Long)] = {
    TextIndex.bm25TopK(spark, idx, terms, k, where = where, after = after)
    val (rows, jobs) = jobsDuring(
      TextIndex.bm25TopK(spark, idx, terms, k, where = where, after = after))
    assert(jobs == 0, s"a resident search ran $jobs Spark jobs")
    rows
  }

  /** The ad-hoc scorer's ranking over `docs`, restricted to `keep`. */
  private def adhoc(docs: DataFrame, terms: Seq[String], k: Int,
                    keep: Long => Boolean = _ => true): Seq[(Long, Int, Long)] =
    TextRank.bm25Scores(docs, "doc_id", "text", terms)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => keep(p._1)).sortBy(p => (-p._2, p._1)).take(k)
      .zipWithIndex.map { case ((d, s), i) => (d, i + 1, s) }.toSeq

  test("parity: resident top-k equals the Spark plan and the ad-hoc " +
      "scorer on plain, filtered and paged searches") {
    val idx = build()
    val rng = new scala.util.Random(5)
    val queries = Seq.fill(12)(Seq.fill(1 + rng.nextInt(3))(
      vocab(rng.nextInt(vocab.size))).distinct) :+ Seq("absent", "fox")
    queries.foreach { q =>
      val r = resident(idx, q, 10)
      assert(r == planned(idx, q, 10), q)
      assert(r == adhoc(corpus, q, 10), q)
    }
    val q = Seq("fox", "rain")
    // filtered over an attr and over a core column; df/N stay global
    val bySource = Some(col("source") === "s1")
    assert(resident(idx, q, 100, where = bySource) ==
      planned(idx, q, 100, where = bySource))
    assert(resident(idx, q, 100, where = bySource) ==
      adhoc(corpus, q, 100, _ % 3 == 1))
    val byTf = Some(col("tf") > 1L)
    assert(resident(idx, q, 100, where = byTf) ==
      planned(idx, q, 100, where = byTf))
    // keyset pages continue the full ranking
    val all = adhoc(corpus, q, 100)
    val p1 = resident(idx, q, 5)
    val cur = Some((p1.last._3, p1.last._1))
    val p2 = resident(idx, q, 5, after = cur)
    assert(p2 == planned(idx, q, 5, after = cur))
    assert((p1 ++ p2).map(_._1) == all.take(10).map(_._1))
  }

  test("parity after a delete and after a duplicated (maybe-dup) append") {
    val idx = build()
    val q = Seq("dog", "lazy", "table")
    TextIndex.deleteFromTextIndex(spark, idx, Seq(1L, 2L, 3L).toDF("doc_id"),
      "doc_id")
    val live = corpus.filter(!$"doc_id".isin(1L, 2L, 3L))
    assert(resident(idx, q, 100) == planned(idx, q, 100))
    assert(resident(idx, q, 100) == adhoc(live, q, 100))
    // an at-least-once replay: the same batch appended twice
    val batch = corpus.filter($"doc_id" < 10L && $"doc_id" > 3L)
    TextIndex.appendToTextIndex(batch, "doc_id", "text", idx)
    TextIndex.appendToTextIndex(batch, "doc_id", "text", idx)
    assert(TextIndex.readStatsFull(spark, idx)._4)
    assert(resident(idx, q, 100) == planned(idx, q, 100))
  }

  test("visibility: an append, a delete, a compaction and a same-size " +
      "rebuild between two searches are each seen by the second") {
    val idx = build()
    val q = Seq("fox", "garden")
    def check(): Seq[(Long, Int, Long)] = {
      val r = TextIndex.bm25TopK(spark, idx, q, 100)
      assert(r == planned(idx, q, 100))
      r
    }
    val r0 = check()
    TextIndex.appendToTextIndex(
      Seq((500L, "fox fox garden", "s0")).toDF("doc_id", "text", "source"),
      "doc_id", "text", idx)
    val r1 = check()
    assert(r1 != r0 && r1.exists(_._1 == 500L))
    TextIndex.deleteFromTextIndex(spark, idx, Seq(500L).toDF("doc_id"),
      "doc_id")
    val r2 = check()
    assert(!r2.exists(_._1 == 500L))
    // same dir ("data"), buckets and postings count: one term renamed
    val renamed = corpus.select($"doc_id",
      regexp_replace($"text", "fox", "zzz").as("text"), $"source")
    TextIndex.saveTextIndex(renamed, "doc_id", "text", idx, numBuckets = 8,
      attrCols = Seq("source"))
    val r3 = check()
    assert(r3 == adhoc(renamed, q, 100) && r3 != r2)
    TextIndex.deleteFromTextIndex(spark, idx, Seq(r3.head._1).toDF("doc_id"),
      "doc_id")
    TextIndex.compactTextIndex(spark, idx, numBuckets = Some(4))
    val r4 = check()
    assert(r4 == adhoc(renamed.filter($"doc_id" =!= r3.head._1), q, 100))
  }

  test("a compaction deleting the loaded generation fails no search") {
    val idx = build()
    val q = Seq("quick", "brown")
    val expected = TextIndex.bm25TopK(spark, idx, q, 10)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val compactor = new Thread(() =>
      try (1 to 3).foreach(_ => TextIndex.compactTextIndex(spark, idx))
      catch { case t: Throwable => failures.add(t); () })
    compactor.start()
    while (compactor.isAlive) {
      try assert(TextIndex.bm25TopK(spark, idx, q, 10) == expected)
      catch { case t: Throwable => failures.add(t); () }
      Thread.sleep(5)
    }
    compactor.join()
    assert(failures.isEmpty, failures)
    assert(TextIndex.activeDataDir(spark, idx).endsWith("data.gen3"))
    assert(resident(idx, q, 10) == expected)
  }

  test("an index above the driver bound is served by the Spark plan " +
      "with the same rows") {
    // 2100 docs × 50 distinct terms: 105k postings rows > 100k
    val big = spark.range(2100).select($"id".as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(49)),
        j => concat(lit("w"), ((col("id") * 7 + j) % 3000).cast("string"))))
        .as("text"), lit("s0").as("source"))
    val idx = build(big, nb = 16)
    val q = Seq("w5", "w1234", "w2999")
    val (rows, jobs) = jobsDuring(TextIndex.bm25TopK(spark, idx, q, 10))
    assert(jobs > 0)
    assert(rows.nonEmpty && rows == planned(idx, q, 10))
  }

  test("a token-less (pre-layout) stats line parses and keeps the Spark " +
      "plan") {
    val idx = build()
    val q = Seq("spark", "plan")
    val (n, s, nb, _) = TextIndex.readStatsFull(spark, idx)
    for (line <- Seq(s"$n $s $nb", s"$n $s $nb 0")) {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(idx, "_text_stats"), line)
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(idx, "._text_stats.crc"))
      assert(TextIndex.readStats(spark, idx) == ((n, s, nb)))
      val (rows, jobs) = jobsDuring(TextIndex.bm25TopK(spark, idx, q, 10))
      assert(jobs > 0)
      assert(rows == adhoc(corpus, q, 10))
    }
  }

  test("a postings file off the recorded layout fails the load naming " +
      "the file") {
    val idx = build()
    // a file without `seq` or the recorded attr
    Seq(("fox", 900L, 3L, 1L)).toDF("term", "doc_id", "dl", "tf")
      .write.mode("append").parquet(s"$idx/data/postings/bucket=0")
    val e = intercept[IllegalStateException](
      TextIndex.bm25TopK(spark, idx, Seq("fox"), 10))
    assert(e.getMessage.contains("bucket=0/part-") &&
      e.getMessage.contains("seq") && e.getMessage.contains("source"),
      e.getMessage)
  }
}
