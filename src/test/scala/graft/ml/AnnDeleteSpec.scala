package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Deletion lifecycle of the persisted ANN indexes
  * ([[Similarity.deleteFromAnnIndex]]): tombstones hide vectors at read
  * time across all three index types, re-insertion after deletion works
  * (epoch/seq visibility rule), compaction physically purges and clears
  * the tombstone log without changing answers, epochs stay monotone
  * across compactions, and a rebuild resets everything. This is the
  * data-removal contract a 100 TB deployment runs between rebuilds.
  */
class AnnDeleteSpec extends SparkSuite {
  import spark.implicits._

  // 64 deterministic 4-d vectors, same family as PersistedPruningSpec
  private def corpus: DataFrame = (0L until 64L).map { i =>
    (i, Array.tabulate(4)(d => ((i * 7 + d * 3) % 13 - 6).toFloat))
  }.toDF("vec_id", "embedding")

  private def queries: DataFrame = corpus.filter($"vec_id" < 4)

  private def ids(xs: Long*): DataFrame = xs.toDF("vec_id")

  private def resultIds(df: DataFrame): Set[Long] =
    df.select($"n_id").collect().map(_.getLong(0)).toSet

  private def asPairs(df: DataFrame): Seq[(Long, Long, Int)] =
    df.select($"q_id", $"n_id", $"rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted

  test("IVF: full-probe search after delete equals brute force over survivors") {
    val dir = java.nio.file.Files.createTempDirectory("del-ivf").toString
    Similarity.saveIvfIndex(corpus, "vec_id", "embedding",
      numCentroids = 8, dir)
    val dropped = Set(5L, 17L, 40L)
    Similarity.deleteFromAnnIndex(spark, dir, ids(dropped.toSeq: _*), "vec_id")
    // nProbe = numCentroids probes every list -> candidate set is exactly
    // the visible index, so the search must equal brute force on survivors
    val got = Similarity.ivfSearchPersisted(spark, dir, queries,
      "vec_id", "embedding", k = 5, nProbe = 8)
    val want = Similarity.knnBruteForce(
      corpus.filter(!$"vec_id".isin(dropped.toSeq: _*)), queries,
      "vec_id", "embedding", k = 5)
    assert(asPairs(got) == asPairs(want))
    assert(resultIds(got).intersect(dropped).isEmpty)
  }

  test("IVF: deleted ids never surface at low nProbe either") {
    val dir = java.nio.file.Files.createTempDirectory("del-ivf2").toString
    Similarity.saveIvfIndex(corpus, "vec_id", "embedding",
      numCentroids = 8, dir)
    val before = resultIds(Similarity.ivfSearchPersisted(spark, dir, queries,
      "vec_id", "embedding", k = 5, nProbe = 2))
    assert(before.nonEmpty)
    Similarity.deleteFromAnnIndex(spark, dir, before.toSeq.toDF("vec_id"),
      "vec_id")
    val after = resultIds(Similarity.ivfSearchPersisted(spark, dir, queries,
      "vec_id", "embedding", k = 5, nProbe = 2))
    assert(after.intersect(before).isEmpty,
      s"deleted ids resurfaced: ${after.intersect(before)}")
  }

  test("IVF: re-insert after delete is visible; a second delete hides it again") {
    val dir = java.nio.file.Files.createTempDirectory("del-reins").toString
    Similarity.saveIvfIndex(corpus, "vec_id", "embedding",
      numCentroids = 8, dir)
    Similarity.deleteFromAnnIndex(spark, dir, ids(33L), "vec_id")
    def hits(): Set[Long] = resultIds(Similarity.ivfSearchPersisted(spark,
      dir, queries, "vec_id", "embedding", k = 64, nProbe = 8))
    assert(!hits().contains(33L))
    // re-append the same id (epoch rule: new seq == tombstone epoch, so
    // the older tombstone no longer applies)
    Similarity.appendToIvfIndex(spark, corpus.filter($"vec_id" === 33L),
      "vec_id", "embedding", dir)
    assert(hits().contains(33L), "re-inserted id should be visible")
    Similarity.deleteFromAnnIndex(spark, dir, ids(33L), "vec_id")
    assert(!hits().contains(33L), "second delete must hide the re-insert")
  }

  test("IVF: compaction purges tombstoned rows and preserves answers") {
    val dir = java.nio.file.Files.createTempDirectory("del-compact").toString
    Similarity.saveIvfIndex(corpus, "vec_id", "embedding",
      numCentroids = 8, dir)
    val dropped = Seq(3L, 9L, 27L)
    Similarity.deleteFromAnnIndex(spark, dir, ids(dropped: _*), "vec_id")
    val before = asPairs(Similarity.ivfSearchPersisted(spark, dir, queries,
      "vec_id", "embedding", k = 5, nProbe = 8))
    Similarity.compactAnnIndex(spark, dir)
    // tombstone log cleared...
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "deletes")))
    // ...rows physically gone from the active generation...
    val raw = spark.read.parquet(Similarity.activeIndexDir(spark, dir))
      .select($"v_id").collect().map(_.getLong(0)).toSet
    assert(raw.intersect(dropped.toSet).isEmpty,
      "purge left tombstoned rows on disk")
    // ...and answers unchanged
    val after = asPairs(Similarity.ivfSearchPersisted(spark, dir, queries,
      "vec_id", "embedding", k = 5, nProbe = 8))
    assert(after == before)
  }

  test("searches racing three compactions never fail and answer identically") {
    val dir = java.nio.file.Files.createTempDirectory("del-race").toString
    Similarity.saveIvfIndex(corpus, "vec_id", "embedding",
      numCentroids = 8, dir)
    def search(): Seq[(Long, Long, Int)] = asPairs(
      Similarity.ivfSearchPersisted(spark, dir, queries, "vec_id",
        "embedding", k = 5, nProbe = 8))
    // the top hits are purged by a first compaction that keeps the base
    // `index` dir: a search that fell back to it would see them again
    val dropped = search().map(_._2).toSet
    Similarity.deleteFromAnnIndex(spark, dir, dropped.toSeq.toDF("vec_id"),
      "vec_id")
    Similarity.compactAnnIndex(spark, dir, keepPrevious = true)
    val want = search()
    assert(want.map(_._2).toSet.intersect(dropped).isEmpty)
    @volatile var failure: Option[Throwable] = None
    @volatile var stop = false
    @volatile var searches = 0
    val reader = new Thread(() => {
      try {
        while (!stop) {
          val got = search()
          assert(got == want, got) // every generation gives the same answer
          searches += 1
        }
      } catch { case t: Throwable => failure = Some(t) }
    })
    reader.start()
    try {
      (0 until 3).foreach(_ =>
        Similarity.compactAnnIndex(spark, dir, keepPrevious = true))
    } finally { stop = true; reader.join(30000) }
    assert(failure.isEmpty, s"concurrent search failed: $failure")
    assert(searches > 0)
    assert(Similarity.activeIndexDir(spark, dir).endsWith("index.gen4"))
  }

  test("IVF: epoch stays monotone across compaction (post-compaction deletes work)") {
    val dir = java.nio.file.Files.createTempDirectory("del-epoch").toString
    Similarity.saveIvfIndex(corpus, "vec_id", "embedding",
      numCentroids = 8, dir)
    // appended rows carry seq = epoch(=1 after this delete)
    Similarity.deleteFromAnnIndex(spark, dir, ids(60L), "vec_id")
    Similarity.appendToIvfIndex(spark,
      Seq((100L, Array(1f, 2f, 3f, 4f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir)
    Similarity.compactAnnIndex(spark, dir)
    // the epoch file must have survived compaction: deleting the appended
    // row (seq=1) needs del_seq=2 > 1 — a reset-to-zero epoch would stamp
    // del_seq=1 and the delete would silently miss it
    Similarity.deleteFromAnnIndex(spark, dir, ids(100L), "vec_id")
    val got = resultIds(Similarity.ivfSearchPersisted(spark, dir, queries,
      "vec_id", "embedding", k = 64, nProbe = 8))
    assert(!got.contains(100L), "post-compaction delete missed an appended row")
    assert(!got.contains(60L))
  }

  test("IVF: rebuild clears tombstones") {
    val dir = java.nio.file.Files.createTempDirectory("del-rebuild").toString
    Similarity.saveIvfIndex(corpus, "vec_id", "embedding",
      numCentroids = 8, dir)
    Similarity.deleteFromAnnIndex(spark, dir, ids(11L), "vec_id")
    Similarity.saveIvfIndex(corpus, "vec_id", "embedding",
      numCentroids = 8, dir)
    val got = resultIds(Similarity.ivfSearchPersisted(spark, dir, queries,
      "vec_id", "embedding", k = 64, nProbe = 8))
    assert(got.contains(11L), "rebuild must forget prior deletions")
  }

  test("IVF-PQ: deleted ids excluded from ADC search and from the rerank path") {
    val dir = java.nio.file.Files.createTempDirectory("del-pq").toString
    Similarity.saveIvfPqIndex(corpus, "vec_id", "embedding",
      numCentroids = 8, path = dir, numSubspaces = 2, pqCentroids = 4,
      dim = 4)
    val baseline = resultIds(Similarity.ivfPqSearchPersisted(spark, dir,
      queries, "vec_id", "embedding", k = 5, nProbe = 8))
    assert(baseline.nonEmpty)
    Similarity.deleteFromAnnIndex(spark, dir,
      baseline.toSeq.toDF("vec_id"), "vec_id")
    val adc = resultIds(Similarity.ivfPqSearchPersisted(spark, dir,
      queries, "vec_id", "embedding", k = 5, nProbe = 8))
    assert(adc.intersect(baseline).isEmpty)
    val reranked = resultIds(Similarity.ivfPqSearchPersisted(spark, dir,
      queries, "vec_id", "embedding", k = 5, nProbe = 8, rerank = 20,
      rerankCorpus = Some(corpus)))
    assert(reranked.intersect(baseline).isEmpty,
      "rerank path resurfaced deleted ids")
  }

  test("LSH: deleted ids excluded") {
    val dir = java.nio.file.Files.createTempDirectory("del-lsh").toString
    Similarity.saveLshIndex(corpus, "vec_id", "embedding", dir, nBits = 3)
    val baseline = resultIds(Similarity.lshSearchPersisted(spark, dir,
      queries, "vec_id", "embedding", k = 5, multiProbe = 3))
    assert(baseline.nonEmpty)
    Similarity.deleteFromAnnIndex(spark, dir,
      baseline.toSeq.toDF("vec_id"), "vec_id")
    val after = resultIds(Similarity.lshSearchPersisted(spark, dir,
      queries, "vec_id", "embedding", k = 5, multiProbe = 3))
    assert(after.intersect(baseline).isEmpty)
  }

  test("plain-IVF rerank default corpus (the index itself) excludes deletions") {
    val dir = java.nio.file.Files.createTempDirectory("del-rerank").toString
    Similarity.saveIvfIndex(corpus, "vec_id", "embedding",
      numCentroids = 8, dir)
    val dropped = Set(2L, 19L, 50L)
    Similarity.deleteFromAnnIndex(spark, dir, ids(dropped.toSeq: _*), "vec_id")
    val got = Similarity.ivfSearchPersisted(spark, dir, queries,
      "vec_id", "embedding", k = 5, nProbe = 8, rerank = 20)
    val gotIds = got.select($"n_id").collect().map(_.getLong(0)).toSet
    assert(gotIds.intersect(dropped).isEmpty)
  }
}
