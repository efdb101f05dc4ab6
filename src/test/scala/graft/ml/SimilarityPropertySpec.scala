package graft.ml

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Property tests for the ANN family against a bit-exact naive Scala
  * oracle: Spark-side cosine is a sequential left-fold over the zipped
  * arrays ([[Similarity.dot]]), so a Scala `foldLeft` over the same
  * doubles reproduces every value exactly — rankings must agree to the
  * tiebreak, not approximately.
  */
class SimilarityPropertySpec extends SparkSuite {
  import spark.implicits._

  private def forAll[T](gen: Gen[T], iters: Int = 8)(check: T => Unit): Unit =
    (0 until iters).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(check)
    }

  /** Small corpora of low-dim float vectors, including duplicates and
    * axis-aligned degenerate directions.
    */
  private val genVecs: Gen[List[(Long, Array[Float])]] = for {
    n <- Gen.chooseNum(3, 24)
    dim <- Gen.oneOf(3, 4, 6)
    vecs <- Gen.listOfN(n, Gen.listOfN(dim,
      Gen.chooseNum(-5, 5).map(_.toFloat / 2f)))
  } yield vecs.zipWithIndex.collect {
    // drop all-zero vectors: cosine is undefined (NaN) for them and the
    // operator contract assumes non-degenerate embeddings
    case (v, i) if v.exists(_ != 0f) => (i.toLong, v.toArray)
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    def fold(f: (Double, Double) => Double): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { acc += f(a(i).toDouble, b(i).toDouble); i += 1 }
      acc
    }
    val dot = fold(_ * _)
    var na = 0.0; var nb = 0.0
    a.foreach(x => na += x.toDouble * x.toDouble)
    b.foreach(x => nb += x.toDouble * x.toDouble)
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def naiveTopK(corpus: List[(Long, Array[Float])],
                        queries: List[(Long, Array[Float])], k: Int)
      : Map[Long, List[Long]] =
    queries.map { case (qid, qv) =>
      qid -> corpus.filter(_._1 != qid)
        .map { case (cid, cv) => (cid, cosine(qv, cv)) }
        .sortBy { case (cid, c) => (-c, cid) } // cosine desc, id tiebreak
        .take(k).map(_._1)
    }.toMap

  test("knnBruteForce equals the bit-exact naive oracle incl. tiebreaks") {
    forAll(genVecs) { corpus =>
      if (corpus.length >= 3) {
        val df = corpus.toDF("vec_id", "embedding")
        val queries = corpus.take(2)
        val got = Similarity.knnBruteForce(df, queries.toDF("vec_id", "embedding"),
            "vec_id", "embedding", k = 3)
          .orderBy(col("q_id"), col("rk")).collect()
          .groupBy(_.getAs[Long]("q_id")).view
          .mapValues(_.sortBy(_.getAs[Int]("rk")).map(_.getAs[Long]("n_id")).toList)
          .toMap
        assert(got == naiveTopK(corpus, queries, 3), s"corpus=${corpus.map(_._1)}")
      }
    }
  }

  test("assignToCentroids: every vector assigned to its argmax centroid") {
    forAll(genVecs, iters = 6) { corpus =>
      if (corpus.length >= 4) {
        val df = corpus.toDF("vec_id", "embedding")
        val k = math.min(3, corpus.length)
        val cents = Similarity.seedCentroids(df, "vec_id", "embedding", k)
        val got = Similarity.assignToCentroids(df, "vec_id", "embedding", cents)
          .select("v_id", "centroid_id").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val centList = corpus.sortBy(_._1).take(k)
        corpus.foreach { case (id, v) =>
          val want = centList.map { case (cid, cv) => (cid, cosine(v, cv)) }
            .maxBy { case (cid, c) => (c, -cid) }._1
          assert(got(id) == want, s"vec $id")
        }
      }
    }
  }

  test("exactRerank recall is monotone in shortlist depth (nested shortlists)") {
    // shortlist(R1) is a prefix of shortlist(R2) for R1 <= R2 (same ADC
    // ordering), and exact re-ranking keeps the best k of a SUPERSET —
    // so recall@k against brute-force L2 truth can only grow with R
    forAll(genVecs, iters = 5) { corpus =>
      if (corpus.length >= 8) {
        val dim = corpus.head._2.length
        if (dim % 2 == 0) {
          val df = corpus.toDF("vec_id", "embedding")
          val queries = df.filter(col("vec_id") < 2)
          val k = 3
          // exact L2 ground truth per query (self excluded)
          def l2sq(a: Array[Float], b: Array[Float]): Double = {
            var s = 0.0; var i = 0
            while (i < a.length) {
              val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1
            }
            s
          }
          val qs = corpus.filter(_._1 < 2)
          val truth = qs.map { case (qid, qv) =>
            qid -> corpus.filter(_._1 != qid)
              .map { case (nid, nv) => (nid, l2sq(qv, nv)) }
              .sortBy { case (nid, d) => (d, nid) }.take(k).map(_._1).toSet
          }.toMap
          def recallAt(rerank: Int): Double = {
            // flat PQ: one coarse list, one probe
            val got = Similarity.ivfPqSearch(df, queries, "vec_id",
                "embedding", k = k, numCentroids = 1, nProbe = 1,
                numSubspaces = 2, pqCentroids = math.min(4, corpus.length),
                dim = dim, residual = false, rerank = rerank)
              .collect().groupBy(_.getAs[Long]("q_id"))
              .view.mapValues(_.map(_.getAs[Long]("n_id")).toSet).toMap
            truth.map { case (q, t) =>
              got.getOrElse(q, Set.empty).count(t).toDouble / k
            }.sum / truth.size
          }
          val rs = Seq(k, 2 * k, corpus.length).map(recallAt)
          assert(rs == rs.sorted, s"recall not monotone in R: $rs")
          // full-depth shortlist = exact answer
          assert(rs.last == 1.0, s"full-depth rerank must be exact: $rs")
        }
      }
    }
  }

  test("persisted plain-IVF rerank recall is monotone in shortlist depth") {
    // same nested-shortlist argument as above, through ivfSearchPersisted:
    // the cosine-ranked shortlist at R1 <= R2 is a prefix of R2's, and the
    // exact pass keeps the best k of a superset. The index's own stored
    // vectors back the exact pass (no rerankCorpus).
    forAll(genVecs, iters = 3) { corpus =>
      if (corpus.length >= 8) {
        val df = corpus.toDF("vec_id", "embedding")
        val queries = df.filter(col("vec_id") < 2)
        val qs = corpus.filter(_._1 < 2)
        if (qs.nonEmpty) {
          val k = 3
          val nCent = math.min(4, corpus.length)
          val dir = java.nio.file.Files
            .createTempDirectory("ivf-rr-prop").toString
          Similarity.saveIvfIndex(df, "vec_id", "embedding",
            numCentroids = nCent, path = dir)
          def l2sq(a: Array[Float], b: Array[Float]): Double = {
            var s = 0.0; var i = 0
            while (i < a.length) {
              val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1
            }
            s
          }
          val truth = qs.map { case (qid, qv) =>
            qid -> corpus.filter(_._1 != qid)
              .map { case (nid, nv) => (nid, l2sq(qv, nv)) }
              .sortBy { case (nid, d) => (d, nid) }.take(k).map(_._1).toSet
          }.toMap
          def recallAt(rerank: Int): Double = {
            val got = Similarity.ivfSearchPersisted(spark, dir, queries,
                "vec_id", "embedding", k = k, nProbe = nCent,
                rerank = rerank)
              .collect().groupBy(_.getAs[Long]("q_id"))
              .view.mapValues(_.map(_.getAs[Long]("n_id")).toSet).toMap
            truth.map { case (q, t) =>
              got.getOrElse(q, Set.empty).count(t).toDouble / k
            }.sum / truth.size
          }
          val rs = Seq(k, 2 * k, corpus.length).map(recallAt)
          assert(rs == rs.sorted, s"recall not monotone in R: $rs")
          assert(rs.last == 1.0,
            s"full-depth rerank with all lists probed must be exact: $rs")
        }
      }
    }
  }
}
