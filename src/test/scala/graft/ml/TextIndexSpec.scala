package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.SparkSuite

/** Persisted inverted lexical index ([[TextIndex]]): BM25 bit-parity with
  * the ad-hoc [[TextRank.bm25Scores]] across the whole lifecycle
  * (build → append → delete → compact → rebuild), exact stats
  * maintenance, the static bucket-pruning IO contract, and the stop-term
  * guard.
  */
class TextIndexSpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "a lazy dog sleeps while the quick fox runs"),
    (2L, "gardens bloom in the spring rain without any fox"),
    (3L, "dog dog dog barks at the brown fox all day"),
    (4L, "completely unrelated text about query engines and joins"),
    (5L, "rain falls on the quick brown dog in the garden"),
    (6L, "the fox and the dog share a lazy afternoon"),
    (7L, "spark plans joins and filters over parquet tables"))
    .toDF("doc_id", "text")

  private val terms = Seq("fox", "dog", "rain")

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  /** Ad-hoc BM25 ranking (the oracle semantics): score every matching
    * doc, order (score desc, doc_id asc), take k, rank.
    */
  private def adhocTopK(corpus: DataFrame, k: Int): Seq[(Long, Long, Long)] =
    TextRank.bm25Scores(corpus, "doc_id", "text", terms)
      .orderBy($"score_micro".desc, $"doc_id".asc).limit(k)
      .collect().zipWithIndex
      .map { case (r, i) => (r.getLong(0), r.getLong(1), (i + 1).toLong) }
      .toSeq

  private def persistedTopK(idx: String, k: Int): Seq[(Long, Long, Long)] =
    TextIndex.bm25SearchPersisted(spark, idx, terms, k)
      .orderBy($"rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  private def exactStats(corpus: DataFrame): (Long, Long) = {
    val r = corpus.select(size(TextAnalysis.tokens($"text")).cast("long").as("dl"))
      .agg(count(lit(1)), coalesce(sum($"dl"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  test("persisted BM25 search is bit-identical to the ad-hoc scorer") {
    val idx = tmp("txtidx")
    TextIndex.saveTextIndex(docs, "doc_id", "text", idx, numBuckets = 8)
    assert(persistedTopK(idx, 4) == adhocTopK(docs, 4))
    // full depth too (every matching doc, exact ranks)
    assert(persistedTopK(idx, 100) == adhocTopK(docs, 100))
  }

  test("append visibility: new docs enter the ranking and shift df/N " +
      "exactly as a fresh ad-hoc pass over the grown corpus") {
    val idx = tmp("txtapp")
    val batch = Seq(
      (20L, "a second fox meets a second dog in heavy rain"),
      (21L, "no relevant vocabulary at all here")).toDF("doc_id", "text")
    TextIndex.saveTextIndex(docs, "doc_id", "text", idx, numBuckets = 8)
    TextIndex.appendToTextIndex(batch, "doc_id", "text", idx)
    val grown = docs.union(batch)
    assert(persistedTopK(idx, 100) == adhocTopK(grown, 100))
    val (n, s, _) = TextIndex.readStats(spark, idx)
    assert((n, s) == exactStats(grown))
  }

  test("delete: doc leaves the ranking, df and stats are deletion-exact; " +
      "re-insert after delete is visible again") {
    val idx = tmp("txtdel")
    TextIndex.saveTextIndex(docs, "doc_id", "text", idx, numBuckets = 8)
    TextIndex.deleteFromTextIndex(spark, idx, Seq(3L, 4L).toDF("doc_id"),
      "doc_id")
    val live = docs.filter(!$"doc_id".isin(3L, 4L))
    assert(persistedTopK(idx, 100) == adhocTopK(live, 100))
    val (n, s, _) = TextIndex.readStats(spark, idx)
    assert((n, s) == exactStats(live))
    // deleting an id that is absent (or already dead) subtracts nothing
    TextIndex.deleteFromTextIndex(spark, idx, Seq(3L, 999L).toDF("doc_id"),
      "doc_id")
    val (n2, s2, _) = TextIndex.readStats(spark, idx)
    assert((n2, s2) == exactStats(live))
    // re-ingesting doc 3 after its deletion: visible again (epoch rule)
    TextIndex.appendToTextIndex(docs.filter($"doc_id" === 3L),
      "doc_id", "text", idx)
    val reborn = live.union(docs.filter($"doc_id" === 3L))
    assert(persistedTopK(idx, 100) == adhocTopK(reborn, 100))
    val (n3, s3, _) = TextIndex.readStats(spark, idx)
    assert((n3, s3) == exactStats(reborn))
  }

  test("compaction: answers invariant, stats recomputed exactly, " +
      "generations advance, appends land in the new generation") {
    val idx = tmp("txtcmp")
    TextIndex.saveTextIndex(docs, "doc_id", "text", idx, numBuckets = 8)
    TextIndex.deleteFromTextIndex(spark, idx, Seq(0L).toDF("doc_id"),
      "doc_id")
    val live = docs.filter($"doc_id" =!= 0L)
    val before = persistedTopK(idx, 100)
    TextIndex.compactTextIndex(spark, idx)
    assert(TextIndex.activeDataDir(spark, idx).endsWith("data.gen1"))
    assert(persistedTopK(idx, 100) == before)
    assert({ val (n, s, _) = TextIndex.readStats(spark, idx)
      (n, s) == exactStats(live) })
    // the purged doc's rows are physically gone from the new generation
    val gen1 = spark.read.parquet(
      s"${TextIndex.activeDataDir(spark, idx)}/postings")
    assert(gen1.filter($"doc_id" === 0L).count() == 0)
    // post-compaction append is visible and a second compaction works
    TextIndex.appendToTextIndex(
      Seq((30L, "fox in the rain again")).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    val grown = live.union(Seq((30L, "fox in the rain again"))
      .toDF("doc_id", "text"))
    assert(persistedTopK(idx, 100) == adhocTopK(grown, 100))
    TextIndex.compactTextIndex(spark, idx, keepPrevious = true)
    assert(TextIndex.activeDataDir(spark, idx).endsWith("data.gen2"))
    assert(persistedTopK(idx, 100) == adhocTopK(grown, 100))
    // retention grace: the superseded generation is still on disk
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idx/data.gen1")))
  }

  test("rebuild resets tombstones, generations and stats") {
    val idx = tmp("txtrb")
    TextIndex.saveTextIndex(docs, "doc_id", "text", idx, numBuckets = 8)
    TextIndex.deleteFromTextIndex(spark, idx, Seq(0L).toDF("doc_id"),
      "doc_id")
    TextIndex.compactTextIndex(spark, idx)
    TextIndex.saveTextIndex(docs, "doc_id", "text", idx, numBuckets = 8)
    assert(TextIndex.activeDataDir(spark, idx).endsWith("data"))
    assert(persistedTopK(idx, 100) == adhocTopK(docs, 100))
    assert({ val (n, s, _) = TextIndex.readStats(spark, idx)
      (n, s) == exactStats(docs) })
  }

  test("stop-term guard (maxDocFreq) drops corpus-wide hot terms at " +
      "build and re-applies at compaction") {
    val idx = tmp("txtstop")
    // 'dog' and 'fox' each appear in 5 of 8 docs; cap at 4 drops both —
    // only 'rain' (2 docs) may contribute
    TextIndex.saveTextIndex(docs, "doc_id", "text", idx, numBuckets = 8,
      maxDocFreq = Some(4L))
    val viaGuard = TextIndex.bm25SearchPersisted(spark, idx, terms, 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val reduced = TextRank.bm25Scores(docs, "doc_id", "text", Seq("rain"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaGuard == reduced)
    // compaction applies the guard over the df it can SEE (index-live
    // rows): an unguarded build followed by a guarded compaction purges
    // the hot terms' full posting lists
    val idx2 = tmp("txtstop2")
    TextIndex.saveTextIndex(docs, "doc_id", "text", idx2, numBuckets = 8)
    TextIndex.compactTextIndex(spark, idx2, maxDocFreq = Some(4L))
    val post = spark.read.parquet(
      s"${TextIndex.activeDataDir(spark, idx2)}/postings")
    assert(post.filter($"term".isin("dog", "fox")).count() == 0)
    assert(post.filter($"term" === "rain").count() == 2)
  }

  test("search opens only the query terms' bucket partitions") {
    val idx = tmp("txtprune")
    TextIndex.saveTextIndex(docs, "doc_id", "text", idx, numBuckets = 16)
    val res = TextIndex.bm25SearchPersisted(spark, idx, terms, 5)
    res.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec        => nodes(s.plan)
      case _                        => p +: p.children.flatMap(nodes)
    }
    val scans = nodes(res.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths
        .exists(_.toString.contains("txtprune")) => f
    }
    assert(scans.nonEmpty, "postings scan not found in executed plan")
    val m = scans.head.metrics
    // 3 terms → at most 3 of the 16 bucket partitions opened
    assert(m("numPartitions").value <= 3,
      s"opened ${m("numPartitions").value} partitions, expected <= 3 of 16")
    val totalPostings = spark.read.parquet(s"$idx/data/postings").count()
    assert(m("numOutputRows").value < totalPostings,
      "scanned the whole postings set — no pruning")
  }

  test("phrase search: adjacency-exact occurrence counts over the " +
      "positional postings, across the lifecycle") {
    val idx = tmp("txtphr")
    val corpus = Seq(
      (0L, "the quick fox jumps the quick fox runs"), // "quick fox" ×2
      (1L, "quick brown fox"),                        // scattered, no match
      (2L, "a quick fox"),                            // ×1
      (3L, "fox quick fox quick"),                    // interior match ×1
      (4L, "quick quick quick"))                      // repeated term
      .toDF("doc_id", "text")
    TextIndex.saveTextIndex(corpus, "doc_id", "text", idx, numBuckets = 8)
    def phrase(p: String*): Map[Long, Long] =
      TextIndex.phraseSearchPersisted(spark, idx, p)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(phrase("quick", "fox") == Map(0L -> 2L, 2L -> 1L, 3L -> 1L))
    // repeated-term phrase: "quick quick" twice in doc 4 (overlapping)
    assert(phrase("quick", "quick") == Map(4L -> 2L))
    // single-term phrase degenerates to tf
    assert(phrase("fox") == Map(0L -> 2L, 1L -> 1L, 2L -> 1L, 3L -> 2L))
    // 3-slot chain
    assert(phrase("the", "quick", "fox") == Map(0L -> 2L))
    // delete hides; re-append revives
    TextIndex.deleteFromTextIndex(spark, idx, Seq(0L).toDF("doc_id"),
      "doc_id")
    assert(phrase("quick", "fox") == Map(2L -> 1L, 3L -> 1L))
    TextIndex.compactTextIndex(spark, idx)
    assert(phrase("quick", "fox") == Map(2L -> 1L, 3L -> 1L))
    TextIndex.appendToTextIndex(corpus.filter($"doc_id" === 0L),
      "doc_id", "text", idx)
    assert(phrase("quick", "fox") == Map(0L -> 2L, 2L -> 1L, 3L -> 1L))
  }

  test("batched phrase search equals the single-phrase path per phrase, " +
      "including repeated-term and single-term degenerates") {
    val idx = tmp("txtphb")
    val corpus = Seq(
      (0L, "the quick fox jumps the quick fox runs"),
      (1L, "quick brown fox"),
      (2L, "a quick fox"),
      (3L, "fox quick fox quick"),
      (4L, "quick quick quick")).toDF("doc_id", "text")
    TextIndex.saveTextIndex(corpus, "doc_id", "text", idx, numBuckets = 8)
    val phrases = Seq(0L -> Seq("quick", "fox"), 1L -> Seq("quick", "quick"),
      2L -> Seq("fox"), 3L -> Seq("the", "quick", "fox"))
    val batch = TextIndex.phraseSearchPersistedBatch(spark, idx, phrases)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    phrases.foreach { case (pid, ph) =>
      val single = TextIndex.phraseSearchPersisted(spark, idx, ph)
        .collect().map(r => (pid, r.getLong(0)) -> r.getLong(1)).toMap
      assert(batch.filter(_._1._1 == pid) == single,
        s"phrase $pid ($ph) batch != single")
    }
  }

  test("phrase search survives duplicate live posting rows (at-least-once " +
      "re-append): positions collapse, counts stay exact") {
    val idx = tmp("txtdup")
    val corpus = Seq(
      (0L, "the quick fox jumps the quick fox runs"),
      (2L, "a quick fox")).toDF("doc_id", "text")
    TextIndex.saveTextIndex(corpus, "doc_id", "text", idx, numBuckets = 8)
    // re-append doc 0 WITHOUT a preceding delete — the documented
    // crash-replay shape that leaves two live posting rows per (doc,
    // term); map_from_entries would throw on the duplicate key
    TextIndex.appendToTextIndex(corpus.filter($"doc_id" === 0L),
      "doc_id", "text", idx)
    val got = TextIndex.phraseSearchPersisted(spark, idx, Seq("quick", "fox"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 2L, 2L -> 1L))
  }

  test("BM25 single/batch/boolean collapse duplicated live postings: " +
      "df and scores stay duplicate-free, batch == boolean exactly") {
    val idx = tmp("txtdupscore")
    val corpus = Seq(
      (0L, "quick fox quick"), (2L, "quick brown")).toDF("doc_id", "text")
    TextIndex.saveTextIndex(corpus, "doc_id", "text", idx, numBuckets = 8)
    // the documented crash-replay shape: re-append doc 0 with no
    // preceding delete → two live posting rows per (doc 0, term)
    TextIndex.appendToTextIndex(corpus.filter($"doc_id" === 0L),
      "doc_id", "text", idx)
    // stats after replay: N=3 (inflated — documented degradation),
    // sumDl = 3+2+3 = 8; df from COLLAPSED postings: quick→2, fox→1
    val n = 3.0; val avgdl = 8.0 / 3.0; val k1 = 1.2; val b = 0.75
    def contrib(tf: Double, dl: Double, df: Double): Double = {
      val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
      idf * (tf * (k1 + 1.0)) /
        (tf + k1 * ((1.0 - b) + b * (dl / avgdl)))
    }
    val cq0 = contrib(2.0, 3.0, 2.0); val cf0 = contrib(1.0, 3.0, 1.0)
    val cq2 = contrib(1.0, 2.0, 2.0)
    // single grids the left-to-right TOTAL; batch/boolean grid per term
    val expSingle = Map(
      0L -> math.floor((cq0 + cf0) * 1e6).toLong,
      2L -> math.floor(cq2 * 1e6).toLong)
    val expGrid = Map(
      0L -> (math.floor(cq0 * 1e6).toLong + math.floor(cf0 * 1e6).toLong),
      2L -> math.floor(cq2 * 1e6).toLong)
    val single = TextIndex.bm25SearchPersisted(spark, idx,
        Seq("quick", "fox"), 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(single.map(_._1).sorted == Seq(0L, 2L)) // one row per doc
    assert(single.toMap == expSingle)
    val batch = TextIndex.bm25SearchPersistedBatch(spark, idx,
        Seq((7L, "quick"), (7L, "fox")).toDF("q_id", "term"), 10)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toSeq
    assert(batch.map(_._1).sorted == Seq(0L, 2L))
    assert(batch.toMap == expGrid)
    val bool = TextIndex.booleanSearchPersisted(spark, idx,
        must = Seq("quick"), should = Seq("fox"), mustNot = Nil, k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toSeq
    assert(bool.map(_._1).sorted == Seq(0L, 2L))
    assert(bool.toMap == expGrid) // batch == boolean: same grid contract
  }

  test("maybe-dup stats flag lifecycle: fresh build clean, append flips " +
      "it, compaction repairs duplicates physically and resets it, merge " +
      "propagates the dirtier side") {
    val idx = tmp("txtdupflag")
    val corpus = Seq(
      (0L, "quick fox quick"), (2L, "quick brown")).toDF("doc_id", "text")
    TextIndex.saveTextIndex(corpus, "doc_id", "text", idx, numBuckets = 8)
    assert(!TextIndex.readStatsFull(spark, idx)._4) // provably unique
    // the documented crash-replay shape flips the flag
    TextIndex.appendToTextIndex(corpus.filter($"doc_id" === 0L),
      "doc_id", "text", idx)
    assert(TextIndex.readStatsFull(spark, idx)._4)
    assert(TextIndex.readStats(spark, idx) == ((3L, 8L, 8))) // inflated
    // repair compaction: duplicates physically collapsed, stats exact
    // again, flag reset — scorers drop the defensive collapse exchange
    TextIndex.compactTextIndex(spark, idx)
    assert(TextIndex.readStatsFull(spark, idx) == ((2L, 5L, 8, false)))
    val clean = tmp("txtdupflagc")
    TextIndex.saveTextIndex(corpus, "doc_id", "text", clean, numBuckets = 8)
    def scores(p: String) = TextIndex.bm25SearchPersistedBatch(spark, p,
        Seq((7L, "quick"), (7L, "fox")).toDF("q_id", "term"), 10)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(scores(idx) == scores(clean))
    val bool = TextIndex.booleanSearchPersisted(spark, idx,
      must = Seq("quick"), should = Seq("fox"), mustNot = Nil, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq.sorted
    assert(bool == scores(clean))
    // merge: clean ⊎ clean stays clean; clean ⊎ dirty reads dirty
    val half = tmp("txtdupflagh")
    TextIndex.saveTextIndex(
      Seq((5L, "quick times")).toDF("doc_id", "text"),
      "doc_id", "text", half, numBuckets = 8)
    val mClean = tmp("txtdupflagm1")
    TextIndex.mergeTextIndexes(spark, clean, half, mClean, numBuckets = 8)
    assert(!TextIndex.readStatsFull(spark, mClean)._4)
    // a merge into an existing, compacted outPath sweeps its generations
    TextIndex.compactTextIndex(spark, mClean)
    assert(new java.io.File(s"$mClean/data.gen1").isDirectory)
    TextIndex.mergeTextIndexes(spark, clean, half, mClean, numBuckets = 8)
    assert(new java.io.File(mClean).list().filter(_.startsWith("data.gen"))
      .isEmpty)
    assert(TextIndex.readStatsFull(spark, mClean) == ((3L, 7L, 8, false)))
    assert(scores(mClean).nonEmpty)
    TextIndex.appendToTextIndex(
      Seq((6L, "brown times")).toDF("doc_id", "text"),
      "doc_id", "text", half)
    val mDirty = tmp("txtdupflagm2")
    TextIndex.mergeTextIndexes(spark, clean, half, mDirty, numBuckets = 8)
    assert(TextIndex.readStatsFull(spark, mDirty)._4)
  }

  test("pure-negation boolean query fails loudly (index cannot " +
      "enumerate docs lacking a term)") {
    val idx = tmp("txtpureneg")
    val corpus = Seq((0L, "alpha beta"), (1L, "gamma")).toDF("doc_id", "text")
    TextIndex.saveTextIndex(corpus, "doc_id", "text", idx, numBuckets = 4)
    val e = intercept[IllegalArgumentException] {
      TextIndex.booleanSearchPersisted(spark, idx,
        must = Nil, should = Nil, mustNot = Seq("alpha"), k = 5)
    }
    assert(e.getMessage.contains("anti-join"))
  }

  test("BM25 query terms containing '.' or '`' resolve (positional pivot " +
      "aliases, ad-hoc and persisted parity)") {
    val idx = tmp("txtodd")
    val odd = Seq(
      (0L, "config a.b loads before the `tick` table"),
      (1L, "a.b a.b appears twice here"),
      (2L, "nothing matching at all")).toDF("doc_id", "text")
    // tokens() keeps punctuation inside whitespace-delimited tokens
    val oddTerms = Seq("a.b", "`tick`")
    TextIndex.saveTextIndex(odd, "doc_id", "text", idx, numBuckets = 8)
    val adhoc = TextRank.bm25Scores(odd, "doc_id", "text", oddTerms)
      .orderBy($"score_micro".desc, $"doc_id".asc)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val persisted = TextIndex.bm25SearchPersisted(spark, idx, oddTerms, 10)
      .orderBy($"rk")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(adhoc.nonEmpty && adhoc.map(_._1).toSet == Set(0L, 1L))
    assert(persisted == adhoc)
  }

  test("attrCols: filtered search restricts candidates under GLOBAL " +
      "scoring stats; facet counts come from the pruned postings; both " +
      "survive append and compaction") {
    val idx = tmp("txtattr")
    val src = docs.withColumn("source",
      concat(lit("s"), (col("doc_id") % 2).cast("string")))
    TextIndex.saveTextIndex(src, "doc_id", "text", idx, numBuckets = 8,
      attrCols = Seq("source"))
    // global df/N/avgdl + candidate filter == full ad-hoc scores
    // restricted to the predicate's docs (scores depend only on global
    // stats and the doc's own tf/dl)
    def filteredTop(): Seq[(Long, Long)] =
      TextIndex.bm25SearchPersisted(spark, idx, terms, 100,
          where = Some(col("source") === "s1"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def adhocRestricted(ids: Long => Boolean): Seq[(Long, Long)] =
      TextRank.bm25Scores(docs, "doc_id", "text", terms)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .filter(p => ids(p._1))
        .sortBy(p => (-p._2, p._1)).toSeq
    assert(filteredTop() == adhocRestricted(_ % 2 == 1))
    // facet panel: matching docs (any of fox/dog/rain) per source
    val facets = TextIndex.facetCounts(spark, idx, terms, "source")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // matching docs: 0,1,2,3,5,6 (4 and 7 have no query term)
    // → s0: {0,2,6}, s1: {1,3,5}
    assert(facets == Map("s0" -> 3L, "s1" -> 3L))
    // unknown facet column fails loudly
    val err = intercept[IllegalArgumentException] {
      TextIndex.facetCounts(spark, idx, terms, "lang")
    }
    assert(err.getMessage.contains("not persisted"))
    // append carries the recorded attr layout; compaction preserves it
    TextIndex.appendToTextIndex(
      Seq((20L, "rain rain rain")).toDF("doc_id", "text")
        .withColumn("source", lit("s0")),
      "doc_id", "text", idx)
    TextIndex.compactTextIndex(spark, idx)
    val facets2 = TextIndex.facetCounts(spark, idx, terms, "source")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(facets2 == Map("s0" -> 4L, "s1" -> 3L))
    assert(TextIndex.readAttrs(spark, idx) == Seq("source"))
  }

  test("missing or malformed stats file fails with the explicit " +
      "rebuild error") {
    val dir = tmp("txtmiss")
    val e = intercept[IllegalStateException] {
      TextIndex.bm25SearchPersisted(spark, dir, terms, 3)
    }
    assert(e.getMessage.contains("rebuild"))
  }
}
