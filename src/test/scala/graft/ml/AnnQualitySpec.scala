package graft.ml

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.engine.GraftSession

/** The recall harness itself must be trustworthy: exact search scores a
  * perfect 1.0, int8 quantization is near-lossless, and every recall
  * lands in [0, 1].
  */
class AnnQualitySpec extends SparkSuite {

  private lazy val e =
    GraftSession.table(spark, sfDir, "embeddings").cache()
  private lazy val queries =
    e.filter(col("vec_id") < 5)
  private val k = 5

  test("brute force scores recall 1.0 against its own ground truth") {
    val truth = AnnQuality.groundTruth(e, queries, "vec_id", "embedding", k)
    assert(truth.size == 5)
    assert(truth.values.forall(_.size == k))
    val r = AnnQuality.recallAtK(
      Similarity.knnBruteForce(e, queries, "vec_id", "embedding", k),
      truth, k)
    assert(r == 1.0)
  }

  test("int8 quantization is near-exact; every recall is a valid fraction") {
    val truth = AnnQuality.groundTruth(e, queries, "vec_id", "embedding", k)
    val q8 = AnnQuality.recallAtK(
      Similarity.knnQuantized(e, queries, "vec_id", "embedding", k),
      truth, k)
    assert(q8 >= 0.8, s"int8 rounding should be near-lossless, got $q8")
    val results = AnnQuality.evaluate(Seq(
        "lsh" -> (() => Similarity.knnLsh(e, queries, "vec_id",
          "embedding", k, nBits = 4)),
        "ivf" -> (() => Similarity.ivfSearch(e, queries, "vec_id",
          "embedding", k, numCentroids = 4, nProbe = 2))),
      truth, k)
    results.foreach { case (name, r, sec) =>
      assert(r >= 0.0 && r <= 1.0, s"$name recall out of range: $r")
      assert(sec > 0.0)
    }
  }

  test("merged IVF-PQ index recall == the single-index recall under the " +
      "same frozen model (the merge costs routing only for B's half, " +
      "never extra quantization error)") {
    import spark.implicits._
    val a = e.filter(col("vec_id") % 2 === 0)
    val b = e.filter(col("vec_id") % 2 === 1)
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val ia = tmp("aqA"); val ib = tmp("aqB"); val m = tmp("aqM")
    val ref = tmp("aqR")
    Similarity.saveIvfPqIndex(a, "vec_id", "embedding", 8, ia)
    Similarity.saveIvfPqIndex(b, "vec_id", "embedding", 8, ib,
      keepRawVectors = true)
    Similarity.mergeIvfPqIndexes(spark, ia, ib, m)
    // reference: A rebuilt + B's raw appended — the merge's promised twin
    Similarity.saveIvfPqIndex(a, "vec_id", "embedding", 8, ref)
    Similarity.appendToIvfPqIndex(spark, b, "vec_id", "embedding", ref)
    val truth = AnnQuality.groundTruth(e, queries, "vec_id", "embedding", k)
    def recall(path: String, np: Int) = AnnQuality.recallAtK(
      Similarity.ivfPqSearchPersisted(spark, path, queries, "vec_id",
          "embedding", k, nProbe = np)
        .select(col("q_id"), col("n_id"), col("rk")),
      truth, k)
    for (np <- Seq(2, 8)) {
      val rm = recall(m, np); val rr = recall(ref, np)
      assert(rm == rr, s"nProbe=$np: merged $rm != append-twin $rr")
      assert(rm >= 0.0 && rm <= 1.0)
    }
    // full-probe: quantization is the ONLY loss. The seeded (iters=0)
    // half-corpus codebook is deliberately crude at this SF — the
    // parity above is the contract; the floor just proves signal
    assert(recall(m, 8) > 0.0)
  }
}
