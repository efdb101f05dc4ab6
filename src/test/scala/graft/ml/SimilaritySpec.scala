package graft.ml

import org.apache.spark.sql.functions._
import graft.SparkSuite

class SimilaritySpec extends SparkSuite {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Array(1f, 0f, 0f)),
    (2L, Array(0.9f, 0.1f, 0f)), // close to 1
    (3L, Array(0f, 1f, 0f)),     // orthogonal to 1
    (4L, Array(-1f, 0f, 0f)),    // opposite of 1
  ).toDF("vec_id", "embedding")

  test("cosine is exact on unit axes") {
    val c = vecs.filter($"vec_id" === 1L)
      .crossJoin(vecs.filter($"vec_id" === 3L).select($"embedding".as("e2")))
      .select(Similarity.cosine($"embedding", $"e2").as("c")).as[Double].head()
    assert(c == 0.0)
  }

  test("knnBruteForce ranks by cosine desc with id tiebreak, excludes self") {
    val r = Similarity
      .knnBruteForce(vecs, vecs.filter($"vec_id" === 1L), "vec_id", "embedding", 3)
      .orderBy("rk").collect()
    assert(r.map(_.getAs[Long]("n_id")).toSeq == Seq(2L, 3L, 4L))
    assert(r.map(_.getAs[Int]("rk")).toSeq == Seq(1, 2, 3))
  }

  test("knn top-k runs through the TopKPerGroup heap operator") {
    // the candidate ranking must NOT be a full per-query window shuffle:
    // the physical plan carries the partial/final heap operator instead
    val plan = Similarity
      .knnBruteForce(vecs, vecs.filter($"vec_id" === 1L), "vec_id",
        "embedding", 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"))
  }

  test("signBucket buckets by coordinate signs") {
    val b = vecs.select($"vec_id", Similarity.signBucket($"embedding", 3).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(1L) == 7L)  // all coords >= 0
    assert(b(4L) == 6L)  // first coord negative
  }

  test("knnLsh only returns same-bucket candidates") {
    val r = Similarity
      .knnLsh(vecs, vecs.filter($"vec_id" === 1L), "vec_id", "embedding",
        k = 3, nBits = 3)
      .collect().map(_.getAs[Long]("n_id")).toSet
    assert(!r.contains(4L)) // different bucket (negative first coord)
    assert(r.contains(2L))
  }

  test("knnLsh multiProbe recovers Hamming-1 neighbors the exact bucket misses") {
    // vec 4 = (-1,0,0) differs from vec 1 = (1,0,0) only in sign bit 0:
    // exact-bucket LSH can never pair them; probing the bit-0 flip can
    val exact = Similarity
      .knnLsh(vecs, vecs.filter($"vec_id" === 1L), "vec_id", "embedding",
        k = 3, nBits = 3)
      .collect().map(_.getAs[Long]("n_id")).toSet
    assert(!exact.contains(4L))
    val probed = Similarity
      .knnLsh(vecs, vecs.filter($"vec_id" === 1L), "vec_id", "embedding",
        k = 3, nBits = 3, multiProbe = 1)
      .collect().map(_.getAs[Long]("n_id")).toSet
    assert(probed.contains(4L))
    // multi-probe is a superset of the exact-bucket candidates
    assert(exact.subsetOf(probed))
  }

  test("nearDupPairs returns ordered pairs above threshold only") {
    val p = Similarity.nearDupPairs(vecs, "vec_id", "embedding", 0.9,
        inDim = 3, bandBits = 2, bands = 4)
      .collect()
    assert(p.length == 1)
    assert((p(0).getAs[Long]("id_a"), p(0).getAs[Long]("id_b")) == (1L, 2L))
  }

  test("nearDupPairs candidates come from a keyed join, not a cross join") {
    val plan = Similarity.nearDupPairs(vecs, "vec_id", "embedding", 0.9,
        inDim = 3, bandBits = 2, bands = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("nearDupPairs maxBucketSize drops hot buckets (documented recall cost)") {
    // 1 and 2 share every band key; capping buckets at size 1 removes all
    // candidate generation for them -> no pairs survive
    val p = Similarity.nearDupPairs(vecs, "vec_id", "embedding", 0.9,
        inDim = 3, bandBits = 2, bands = 4, maxBucketSize = 1)
      .collect()
    assert(p.isEmpty)
  }

  test("adaptive hot-bucket guard drops a degenerate blob (no explicit " +
      "cap) while planted healthy near-dups survive") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val u = Array.fill(8)(1f)
    val w = Array.tabulate(8)(i => (i + 1).toFloat)
    // 1200 identical vectors: one bucket per band of size >= 1200 — over
    // the adaptive bound (64 × median-of-1, floored at 1000) with NO
    // explicit maxBucketSize; plus 3000 diverse vectors and a planted
    // duplicate pair (10000, 10001) in a healthy bucket
    val blob = (0L until 1200L).map(i => (i, u))
    val diverse = (0L until 3000L).map(i =>
      (10002L + i, Array.fill(8)((rnd.nextFloat() - 0.5f) * 4f)))
    val corpus = (blob ++ Seq((10000L, w), (10001L, w)) ++ diverse)
      .toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(corpus, "vec_id", "embedding",
        threshold = 0.999, inDim = 8, bandBits = 16, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // without the guard the blob alone yields ~719k pairs
    assert(!pairs.exists { case (a, b) => a < 1200L && b < 1200L },
      "degenerate blob pairs must be dropped by the adaptive guard")
    assert(pairs.contains((10000L, 10001L)),
      "healthy planted near-dup must survive the guard")

    // bipartite twin: the blob on the TRAIN side is dropped, the planted
    // (train 10000, bench 20000) duplicate is found
    val bench = (Seq((20000L, w)) ++ (0L until 50L).map(i =>
        (20001L + i, Array.fill(8)((rnd.nextFloat() - 0.5f) * 4f))))
      .toDF("vec_id", "embedding")
    val cont = Similarity.semanticContamination(corpus, bench,
        "vec_id", "embedding", threshold = 0.999, inDim = 8,
        bandBits = 16, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!cont.exists(_._1 < 1200L),
      "blob train buckets must be dropped by the adaptive guard")
    assert(cont.contains((10000L, 20000L)))
  }

  test("semanticDedup keeps lowest id per similar group, bounded to clusters") {
    // one cluster: pair (1,2) has cos≈0.994 >= 0.9 -> 2 dropped; 3 and 4
    // are (near-)orthogonal/opposite to everything -> kept.
    val r = Similarity.semanticDedup(vecs, "vec_id", "embedding",
        numCentroids = 1, threshold = 0.9)
      .collect().map(row => row.getLong(0) -> row.getBoolean(2)).toMap
    assert(r == Map(1L -> true, 2L -> false, 3L -> true, 4L -> true))

    // with 2 centroids, 1 and 2 are themselves the centroids and land in
    // their own clusters -> the (1,2) pair is out of scope, nothing dropped
    val r2 = Similarity.semanticDedup(vecs, "vec_id", "embedding",
        numCentroids = 2, threshold = 0.9)
      .collect().map(row => row.getLong(0) -> row.getBoolean(2)).toMap
    assert(r2.values.forall(identity))
  }

  test("semanticDedup maxClusterSize bounds mega-cluster pair work, keeps recall") {
    // adversarial distribution: 200 near-identical vectors, ONE centroid —
    // the exact path would generate n(n-1)/2 = 19900 candidate pairs
    val n = 200
    val mega = Seq.tabulate(n)(i =>
      (i.toLong, Array(1f, (i % 7) * 0.001f, 0f))).toDF("vec_id", "embedding")
    def joinRows(df: org.apache.spark.sql.DataFrame): Long = {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      val qe = df.queryExecution
      qe.executedPlan.execute().count() // one execution; metrics accumulate
      def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case s: QueryStageExec        => nodes(s.plan)
        case _ => p +: p.children.flatMap(nodes)
      }
      nodes(qe.executedPlan).collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
          j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum
    }
    val capped = Similarity.semanticDedup(mega, "vec_id", "embedding",
      numCentroids = 1, threshold = 0.99, maxClusterSize = 10)
    // every vector is near-identical, so the anchor approximation loses
    // nothing: only id 0 survives — the exact SemDeDup answer
    assert(capped.filter(col("kept")).count() == 1)
    assert(capped.count() == n)
    // pair work is bounded by n·cap plus a handful of linear-size joins
    // (size-tag per branch, final kept join) — nowhere near quadratic 19900
    assert(joinRows(capped) <= n.toLong * 10 + 8L * n)
    val exact = Similarity.semanticDedup(mega, "vec_id", "embedding",
      numCentroids = 1, threshold = 0.99)
    assert(joinRows(exact) >= n.toLong * (n - 1) / 2)
    // and the capped result matches the exact result row-for-row here
    assert(capped.orderBy("v_id").collect().toSeq ==
      exact.orderBy("v_id").collect().toSeq)
  }

  test("semanticDedup refineIters routes assignment through k-means centroids") {
    // one refined centroid = the corpus mean; membership is unchanged, so
    // the dedup answer must equal the seed-assignment path
    val r = Similarity.semanticDedup(vecs, "vec_id", "embedding",
        numCentroids = 1, threshold = 0.9, refineIters = 2)
      .collect().map(row => row.getLong(0) -> row.getBoolean(2)).toMap
    assert(r == Map(1L -> true, 2L -> false, 3L -> true, 4L -> true))
  }

  test("semanticDedup never drops a vector without a smaller-id neighbor") {
    val corpus = graft.engine.GraftSession
      .table(spark, "/root/testdata/sf0.001", "embeddings")
    val out = Similarity.semanticDedup(corpus, "vec_id", "embedding",
      numCentroids = 4, threshold = 0.3).collect()
    assert(out.length == corpus.count())
    val minId = out.map(_.getLong(0)).min
    assert(out.find(_.getLong(0) == minId).get.getBoolean(2)) // min id always kept
  }

  test("hardNegatives only returns different-label candidates, ranked") {
    val labeled = Seq(
      (1L, Array(1f, 0f, 0f), 0),
      (2L, Array(0.9f, 0.1f, 0f), 0),  // same label as 1 -> excluded
      (3L, Array(0.8f, 0.2f, 0f), 1),  // different label, most similar
      (4L, Array(0f, 1f, 0f), 1)).toDF("vec_id", "embedding", "label")
    val r = Similarity.hardNegatives(labeled, labeled.filter($"vec_id" === 1L),
        "vec_id", "embedding", "label", k = 2)
      .orderBy("rk").collect()
    assert(r.map(_.getAs[Long]("n_id")).toSeq == Seq(3L, 4L))
    assert(r.forall(_.getAs[Int]("n_label") == 1))
  }

  test("kmeansCentroids refines seeds: assignment quality never degrades") {
    val corpus = graft.engine.GraftSession
      .table(spark, "/root/testdata/sf0.001", "embeddings")
    def quality(cents: org.apache.spark.sql.DataFrame): Double =
      Similarity.assignToCentroids(corpus, "vec_id", "embedding", cents)
        .join(cents, Seq("centroid_id"))
        .select(avg(Similarity.cosine($"v_vec", $"c_vec")).as("q"))
        .as[Double].head()
    val seeds = Similarity.seedCentroids(corpus, "vec_id", "embedding", 8)
    val refined = Similarity.kmeansCentroids(corpus, "vec_id", "embedding",
      k = 8, iters = 3)
    assert(refined.count() == 8)
    // labels are stable (the seed ids), vectors have the original dims
    assert(refined.select("centroid_id").as[Long].collect().sorted.toSeq ==
      seeds.select("centroid_id").as[Long].collect().sorted.toSeq)
    assert(refined.select(size($"c_vec")).as[Int].head() == 64)
    // spherical-kmeans objective (mean cosine to assigned centroid) improves
    assert(quality(refined) >= quality(seeds) - 1e-9)
  }

  test("kmeansCentroids keeps a centroid that loses all members") {
    // vec 4 = (-1,0,0) seeds a cluster nothing is assigned to after round 1
    val refined = Similarity.kmeansCentroids(vecs, "vec_id", "embedding",
      k = 4, iters = 2)
    assert(refined.count() == 4)
    assert(refined.filter($"c_vec".isNull).count() == 0)
  }

  test("persisted IVF index returns exactly the ad-hoc ivfSearch results") {
    val corpus = graft.engine.GraftSession
      .table(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = corpus.filter($"vec_id" < 5L)
    val adhoc = Similarity.ivfSearch(corpus, queries, "vec_id", "embedding",
        k = 3, numCentroids = 8, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val path = java.nio.file.Files.createTempDirectory("ivf").toString
    Similarity.saveIvfIndex(corpus, "vec_id", "embedding",
      numCentroids = 8, path = path)
    val persisted = Similarity.ivfSearchPersisted(spark, path, queries,
        "vec_id", "embedding", k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(persisted == adhoc)
    // the on-disk layout is one directory per centroid list
    val dirs = new java.io.File(s"$path/index").listFiles()
      .filter(_.getName.startsWith("centroid_id="))
    assert(dirs.length > 1)

    // rerank on the persisted plain-IVF path (the ivfPqSearchPersisted
    // lever, kept across index types): full-depth rerank with all lists
    // probed equals brute-force exact L2 ranking, with NO rerankCorpus —
    // the plain index stores raw vectors and reranks from itself
    val all = corpus.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect()
    val n = all.length
    val rr = Similarity.ivfSearchPersisted(spark, path, queries,
        "vec_id", "embedding", k = 3, nProbe = 8, rerank = n)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"),
        r.getAs[Int]("rk"))).toSet
    def l2sq(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) {
        val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1
      }
      s
    }
    val brute = all.filter(_._1 < 5L).flatMap { case (qid, qv) =>
      all.filter(_._1 != qid).map { case (nid, nv) => (nid, l2sq(qv, nv)) }
        .sortBy { case (nid, d) => (d, nid) }.take(3)
        .zipWithIndex.map { case ((nid, _), i) => (qid, nid, i + 1) }
    }.toSet
    assert(rr == brute, s"full-depth persisted-IVF rerank must be exact")
    // an explicit rerankCorpus overrides the index's stored vectors
    val rr2 = Similarity.ivfSearchPersisted(spark, path, queries,
        "vec_id", "embedding", k = 3, nProbe = 8, rerank = n,
        rerankCorpus = Some(corpus))
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"),
        r.getAs[Int]("rk"))).toSet
    assert(rr2 == rr)
  }

  test("quantizeInt8 maps to the [-127,127] integer grid, amax to ±127") {
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f))).toDF("id", "v")
    val q = df.select(col("id"), Similarity.quantizeInt8(col("v")).as("q"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(q(1L) == Seq(64.0, -127.0, 32.0, 0.0)) // 0.5/1.0*127=63.5 → 64
    assert(q(2L) == Seq(0.0, 0.0, 0.0, 0.0)) // zero vector stays zero
    assert(q(1L).forall(x => x == math.rint(x) && math.abs(x) <= 127))
  }

  test("projectionMatrix rows are pairwise distinct and near-orthogonal") {
    val m = Similarity.projectionMatrix(64, 16)
    assert(m.length == 16 && m.forall(_.length == 64))
    assert(m.flatten.forall(v => v == 1.0 || v == -1.0))
    assert(m == Similarity.projectionMatrix(64, 16)) // reproducible
    // all rows distinct — a rank-collapsed matrix voids the JL property
    assert(m.distinct.length == 16)
    // pairwise |dot| far below inDim: random ±1 rows concentrate around
    // √inDim = 8; a duplicated/anti-duplicated pair would hit 64
    val dots = for {
      a <- m.indices; b <- m.indices if a < b
    } yield math.abs(m(a).zip(m(b)).map { case (x, y) => x * y }.sum)
    assert(dots.max <= 32.0, s"max |row dot| ${dots.max} — rows correlated")
    // column balance: signs split roughly evenly overall
    val total = m.flatten.sum
    assert(math.abs(total) <= 128.0)
  }

  test("knnQuantized ranks like exact knn on well-separated vectors") {
    // clusters along two axes: quantization cannot flip these rankings
    val vecs = (0 until 20).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.01f * i, 0f, 0f)
                 else Array(0f, 0f, 1.0f, 0.01f * i)
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 2)
    val exact = Similarity.knnBruteForce(vecs, queries, "vec_id", "embedding", k = 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val quant = Similarity.knnQuantized(vecs, queries, "vec_id", "embedding", k = 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    // same-axis neighbors dominate in both (cross-axis cosine is ~0)
    assert(exact.forall { case (q, n) => (q % 2) == (n % 2) })
    assert(quant.forall { case (q, n) => (q % 2) == (n % 2) })
  }

  test("gated q_cluster_kmeans: k*dim rows, sizes sum to the corpus count") {
    val rows = graft.SparkEntry.queries("q_cluster_kmeans")(spark, sfDir)
      .collect()
    assert(rows.length == 8 * 64) // one scalar row per (centroid, position)
    val nById = rows.map(r => r.getAs[Long]("centroid_id") -> r.getAs[Long]("n"))
      .distinct.toMap
    assert(nById.size == 8)
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    assert(nById.values.sum == corpus) // every vector assigned exactly once
    // refined centroid coordinates are finite floats
    assert(rows.forall(r => !r.getAs[Double]("m").isNaN))
  }

  test("semanticContamination is bipartite and matches LSH-blocked " +
       "brute force between the sides") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val train = e.filter(col("vec_id") < 80)
    val bench = e.filter(col("vec_id") >= 80 && col("vec_id") < 120)
    val got = Similarity.semanticContamination(train, bench,
        "vec_id", "embedding", threshold = 0.3,
        inDim = 64, bandBits = 1, bands = 8) // 1-bit bands: near-full recall
      .collect()
      .map(r => (r.getAs[Long]("train_id"), r.getAs[Long]("bench_id")))
    // strictly bipartite: every pair is (train, bench)
    got.foreach { case (t, b) => assert(t < 80 && b >= 80 && b < 120) }
    assert(got.length == got.distinct.length) // deduped across bands
    // 1-bit bands collide whenever ONE of 8 hyperplanes agrees in sign —
    // at cosine >= 0.3 that probability is ~1: expect exact brute-force
    val brute = train.select(col("vec_id").as("t"),
        col("embedding").as("vt"))
      .crossJoin(bench.select(col("vec_id").as("b"),
        col("embedding").as("vb")))
      .withColumn("c", Similarity.cosine(col("vt"), col("vb")))
      .filter(col("c") >= 0.3)
      .select("t", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet == brute.toSet)
  }

  test("QuantizeInt8Vec kernel equals the two-HOF Column formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(11L)
    val vecs = ((1L to 25L).map(i =>
        (i, Array.fill(10)((rnd.nextFloat() - 0.5f) * 8f)))
      :+ (99L, Array.fill(10)(0f))) // all-zero stays zero
      .toDF("vec_id", "embedding")
    def columnForm(vec: org.apache.spark.sql.Column) = {
      val amax = array_max(transform(vec, x => abs(x.cast("double"))))
      when(amax === 0d, transform(vec, _ => lit(0d)))
        .otherwise(transform(vec,
          x => floor(x.cast("double") * 127.0 / amax + 0.5).cast("double")))
    }
    val rows = vecs.select(
      Similarity.quantizeInt8(col("embedding")).as("k"),
      columnForm(col("embedding")).as("c")).collect()
    rows.foreach(r => assert(r.getSeq[Double](0) == r.getSeq[Double](1)))
  }

  test("SignBandKeys kernel is bit-identical to the per-bit dot formulation") {
    import spark.implicits._
    import org.apache.spark.sql.graft.ColumnBridge
    val rnd = new scala.util.Random(99L)
    val dim = 16; val bandBits = 8; val bands = 4
    val planes = Similarity.projectionMatrix(dim, bandBits * bands)
    val vecs = (1L to 40L).map(i =>
        (i, Array.fill(dim)((rnd.nextFloat() - 0.5f) * 3f)))
      .toDF("vec_id", "embedding")
    def columnForm(vec: org.apache.spark.sql.Column) =
      array((0 until bands).map { t =>
        (0 until bandBits).map { j =>
          when(Similarity.dot(vec,
            lit(planes(t * bandBits + j).toArray)) >= 0d,
            lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ + _)
      }: _*)
    val kernel = ColumnBridge.column(graft.functions.SignBandKeys(
      ColumnBridge.expression(col("embedding")), planes, bandBits))
    val rows = vecs.select(col("vec_id"), kernel.as("k"),
      columnForm(col("embedding")).as("c")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"vec ${r.getLong(0)}: kernel=${r.getSeq[Long](1)} column=${r.getSeq[Long](2)}")
    }
    // malformed (wrong-length) vector: both forms produce all-zero keys
    val bad = Seq((1L, Array(1f, 2f))).toDF("vec_id", "embedding")
    val badRow = bad.select(
      ColumnBridge.column(graft.functions.SignBandKeys(
        ColumnBridge.expression(col("embedding")), planes, bandBits)).as("k"),
      columnForm(col("embedding")).as("c")).head()
    assert(badRow.getSeq[Long](0) == Seq.fill(bands)(0L))
    assert(badRow.getSeq[Long](0) == badRow.getSeq[Long](1))
    // NULL vector: both forms produce all-zero keys, never null — a
    // posexplode over the keys must emit `bands` rows either way, so
    // bucket-size accounting under maxBucketSize stays form-independent
    val nul = Seq(Tuple2(1L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    val nulRow = nul.select(
      ColumnBridge.column(graft.functions.SignBandKeys(
        ColumnBridge.expression(col("embedding")), planes, bandBits)).as("k"),
      columnForm(col("embedding")).as("c")).head()
    assert(!nulRow.isNullAt(0) && nulRow.getSeq[Long](0) == Seq.fill(bands)(0L))
    assert(nulRow.getSeq[Long](0) == nulRow.getSeq[Long](1))
  }

  test("corpus-size-scaled ANN parameter helpers clamp and grow monotonically") {
    import Similarity._
    // coarse lists ~ sqrt(n), clamped [8, 4096]
    assert(autoCoarseCentroids(10L) == 8)
    assert(autoCoarseCentroids(2000L) == 45)
    assert(autoCoarseCentroids(100_000_000L) == 4096)
    // probe a constant fraction of the lists, never below 2
    assert(autoNProbe(8) == 2 && autoNProbe(45) == 11)
    // PQ cells: n/8 clamped [16, 256]
    assert(autoPqCentroids(50L) == 16)
    assert(autoPqCentroids(2000L) == 250)
    assert(autoPqCentroids(1_000_000L) == 256)
    // subspaces widen the code only once the 256-cell cap binds
    assert(autoPqSubspaces(2000L, 64) == 8)   // pqc 250 < 256 -> 8-byte codes
    assert(autoPqSubspaces(20000L, 64) == 16) // cap bound -> 16-byte codes
    assert(autoPqSubspaces(500L, 32) == 4)
    // LSH bits: bucket ~256 vectors, clamped [4, 24]
    assert(autoLshBits(100L) == 4)
    assert(autoLshBits(2000L) == 4)
    assert(autoLshBits(1_000_000L) == 12)
    assert(autoLshBits(Long.MaxValue / 4) == 24)
    // monotone non-decreasing in n
    val ns = Seq(1L, 100L, 10_000L, 1_000_000L, 100_000_000L)
    for (f <- Seq[Long => Int](autoCoarseCentroids, autoPqCentroids, autoLshBits))
      assert(ns.map(f) == ns.map(f).sorted)
  }

  test("a zero-norm centroid never swallows the corpus (NaN cosine guard)") {
    // cosine vs a zero vector is 0/0 = NaN, and Spark sorts NaN above
    // every real value — unguarded, the dead embedding seeded as
    // centroid 1 would win EVERY max_by assignment and collapse the
    // inverted file into one list
    val data = Seq(
      (1L, Array(0f, 0f, 0f, 0f)),   // dead embedding -> seeded centroid 1
      (2L, Array(1f, 0f, 0f, 0f)),   // real centroid 2
      (3L, Array(2f, 1f, 0f, 0f)),
      (4L, Array(3f, 1f, 0f, 0f)),
    ).toDF("vec_id", "embedding")
    val assign = Similarity.ivfIndex(data, "vec_id", "embedding",
        numCentroids = 2)
      .collect()
      .map(r => r.getAs[Long]("v_id") -> r.getAs[Long]("centroid_id"))
      .toMap
    // real cosine to centroid 2 must beat the NaN against centroid 1
    assert(assign(2L) == 2L && assign(3L) == 2L && assign(4L) == 2L, assign)
    // the zero vector itself falls to the lowest-id centroid, not NaN-first
    assert(assign(1L) == 1L, assign)
  }

  test("a zero-norm corpus vector never ranks as anyone's top neighbor") {
    // dead embedding in the corpus: cosine vs every query is NaN, which
    // Spark sorts ABOVE all real values — unguarded, vec 99 would be the
    // #1 neighbor of every query in every desc-ranked variant
    val withDead = vecs.union(
      Seq((99L, Array(0f, 0f, 0f))).toDF("vec_id", "embedding"))
    val q = withDead.filter($"vec_id" === 1L)
    def top1(df: org.apache.spark.sql.DataFrame): Long =
      df.filter($"rk" === 1).collect().head.getAs[Long]("n_id")
    assert(top1(Similarity.knnBruteForce(withDead, q, "vec_id",
      "embedding", 3)) == 2L)
    assert(top1(Similarity.knnQuantized(withDead, q, "vec_id",
      "embedding", 3)) == 2L)
    // the dead vector still appears — ranked LAST with the sentinel score
    val all = Similarity.knnBruteForce(withDead, q, "vec_id", "embedding", 4)
      .orderBy("rk").collect()
    assert(all.last.getAs[Long]("n_id") == 99L)
    assert(all.last.getAs[Double]("cosine") == -2.0)
  }

  test("normalizeVectors: unit norms, degenerate passthrough, cosine == dot") {
    val withDead = vecs.union(
      Seq((99L, Array(0f, 0f, 0f))).toDF("vec_id", "embedding"))
    val u = Similarity.normalizeVectors(withDead, "vec_id", "embedding")
      .cache()
    // every non-degenerate vector lands within one ulp-ish of unit norm
    val norms = u.filter(!col("is_degenerate"))
      .select(Similarity.norm($"embedding").as("n")).as[Double].collect()
    assert(norms.nonEmpty && norms.forall(n => math.abs(n - 1.0) < 1e-12))
    // the dead vector passes through unchanged and flagged
    val dead = u.filter($"vec_id" === 99L).head()
    assert(dead.getAs[Boolean]("is_degenerate"))
    assert(dead.getAs[scala.collection.Seq[Double]]("embedding")
      .forall(_ == 0.0))
    assert(u.filter(col("is_degenerate")).count() == 1)
    // on unit vectors cosine degenerates to the dot product (same ranking)
    val pairs = u.filter(!col("is_degenerate")).select($"embedding".as("a"))
      .crossJoin(u.filter(!col("is_degenerate")).select($"embedding".as("b")))
      .select(Similarity.cosine($"a", $"b").as("c"),
        Similarity.dot($"a", $"b").as("d"))
      .collect()
    pairs.foreach(r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }
}
