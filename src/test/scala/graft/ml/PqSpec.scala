package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import graft.SparkSuite

/** Product-quantization ANN: flat PQ is [[Similarity.ivfPqSearch]] with one
  * coarse list; IVF-PQ, residual encoding and the persisted index.
  */
class PqSpec extends SparkSuite {
  import spark.implicits._

  // dim=4, 2 subspaces of 2; anchors (codebook) = ids 1 and 2.
  private val vecs = Seq(
    (1L, Array(0f, 0f, 0f, 0f)),   // anchor/centroid 0
    (2L, Array(10f, 10f, 10f, 10f)), // anchor/centroid 1
    (3L, Array(1f, 1f, 9f, 9f)),   // codes (0, 1) -> recon (0,0,10,10)
    (4L, Array(9f, 9f, 1f, 1f)),   // codes (1, 0) -> recon (10,10,0,0)
  ).toDF("vec_id", "embedding")

  /** Flat PQ: one coarse list holds every vector, the one probe scans it. */
  private def flatPq(q: DataFrame, k: Int, numSubspaces: Int = 2,
                     refineIters: Int = 0, rerank: Int = 0): DataFrame =
    Similarity.ivfPqSearch(vecs, q, "vec_id", "embedding", k = k,
      numCentroids = 1, nProbe = 1, numSubspaces = numSubspaces,
      pqCentroids = 2, dim = 4, refineIters = refineIters,
      residual = false, rerank = rerank)

  private def pq(k: Int) = flatPq(vecs.filter($"vec_id" === 1L), k)

  /** `(n_id, codes)` through the fused encode kernel. */
  private def encode(df: DataFrame, model: Similarity.PqModel): DataFrame =
    df.select(col("vec_id").as("n_id"),
      ColumnBridge.column(graft.functions.PqEncodeCodes(
        ColumnBridge.expression(col("embedding")), model.codebooks))
        .as("codes"))

  test("ADC is the exact L2 squared to the PQ reconstruction") {
    val r = pq(3).collect().map(r =>
      r.getAs[Long]("n_id") -> r.getAs[Double]("adc")).toMap
    // query (0,0,0,0): anchor 2 reconstructs exactly -> adc = 4*100
    assert(r(2L) == 400.0)
    // vec 3 recon = (0,0,10,10) -> adc = 0+0+100+100
    assert(r(3L) == 200.0)
    assert(r(4L) == 200.0)
  }

  test("ranking is (adc asc, id asc) and excludes self") {
    val r = pq(3).orderBy("rk").collect()
    assert(r.map(_.getAs[Long]("n_id")).toSeq == Seq(3L, 4L, 2L))
    assert(r.map(_.getAs[Int]("rk")).toSeq == Seq(1, 2, 3))
    assert(!r.map(_.getAs[Long]("n_id")).contains(1L))
  }

  test("ADC to an anchor vector is its exact distance (zero quantization error)") {
    // an anchor's nearest centroid in every subspace is itself, so its
    // reconstruction is lossless and ADC degenerates to the true L2².
    val q3 = flatPq(vecs.filter($"vec_id" === 3L), k = 3)
    val adcTo2 = q3.filter($"n_id" === 2L).select($"adc").as[Double].head()
    // exact L2²((1,1,9,9),(10,10,10,10)) = 81+81+1+1
    assert(adcTo2 == 164.0)
  }

  test("top-k runs through the TopKPerGroup heap operator") {
    val plan = pq(2).queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"))
  }

  test("dim must divide into subspaces") {
    intercept[IllegalArgumentException] {
      flatPq(vecs, k = 1, numSubspaces = 3)
    }
  }

  test("ivfPqSearch with all lists probed equals plain PQ") {
    val full = pq(3).orderBy("rk").collect().map(_.toSeq).toSeq
    val ivfpq = Similarity.ivfPqSearch(vecs, vecs.filter($"vec_id" === 1L),
        "vec_id", "embedding", k = 3, numCentroids = 2, nProbe = 2,
        numSubspaces = 2, pqCentroids = 2, dim = 4,
        residual = false, rerank = 0)
      .orderBy("rk").collect().map(_.toSeq).toSeq
    assert(ivfpq == full)
  }

  test("ivfPqSearch with one probe sees only the probed list") {
    // anchors 1,2 along different axes; 3 lands in list 1, 4 and 5 in
    // list 2 — probing only the query's nearest list must hide the rest
    val split = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), // centroid 0
      (2L, Array(0f, 1f, 0f, 0f)), // centroid 1
      (3L, Array(2f, 0f, 0f, 0f)),
      (4L, Array(0f, 3f, 0f, 0f)),
      (5L, Array(0f, 4f, 0f, 0f)),
    ).toDF("vec_id", "embedding")
    val one = Similarity.ivfPqSearch(split, split.filter($"vec_id" === 3L),
        "vec_id", "embedding", k = 3, numCentroids = 2, nProbe = 1,
        numSubspaces = 2, pqCentroids = 2, dim = 4,
        residual = false, rerank = 0)
      .collect()
    val both = Similarity.ivfPqSearch(split, split.filter($"vec_id" === 3L),
        "vec_id", "embedding", k = 3, numCentroids = 2, nProbe = 2,
        numSubspaces = 2, pqCentroids = 2, dim = 4,
        residual = false, rerank = 0)
      .collect()
    assert(one.map(_.getAs[Long]("n_id")).toSet == Set(1L))
    assert(one.length < both.length) // pruned lists really are skipped
  }

  test("pqTrainKmeans never quantizes worse than the anchor codebook " +
      "(Lloyd monotonicity) and finds the obvious cluster means") {
    // two tight clusters per subspace, anchors NOT at the means
    val data = Seq(
      (1L, Array(0f, 0f, 100f, 100f)),
      (2L, Array(2f, 2f, 102f, 102f)),
      (3L, Array(50f, 50f, 0f, 0f)),
      (4L, Array(52f, 52f, 2f, 2f)),
      (5L, Array(0f, 2f, 100f, 102f)),
      (6L, Array(50f, 52f, 0f, 2f))
    ).toDF("vec_id", "embedding")
    val anchor = Similarity.pqTrain(data, "vec_id", "embedding",
      numSubspaces = 2, numCentroids = 2, dim = 4)
    val refined = Similarity.pqTrainKmeans(data, "vec_id", "embedding",
      numSubspaces = 2, numCentroids = 2, dim = 4, iters = 3)
    val d0 = Similarity.pqDistortion(data, "vec_id", "embedding", anchor)
    val d1 = Similarity.pqDistortion(data, "vec_id", "embedding", refined)
    assert(d1 <= d0, s"refined distortion $d1 must not exceed anchor $d0")
    assert(d1 < d0 * 0.5, s"clusters this separated should halve it: $d1 vs $d0")
    // subspace 0 cluster means: ~(1,1.33) and ~(50.67,51.33)-ish groups
    val cb0 = refined.codebooks(0)
    assert(cb0.exists(c => c.forall(_ < 10.0)), s"low cluster lost: $cb0")
    assert(cb0.exists(c => c.forall(_ > 40.0)), s"high cluster lost: $cb0")
  }

  test("PqEncodeCodes kernel equals the transform/array_position formulation") {
    val rnd = new scala.util.Random(123L)
    val data = (1L to 60L).map(i =>
        (i, Array.fill(8)((rnd.nextFloat() - 0.5f) * 4f)))
      .toDF("vec_id", "embedding")
    val model = Similarity.pqTrain(data, "vec_id", "embedding",
      numSubspaces = 4, numCentroids = 8, dim = 8)
    val sd = model.sd
    val columnForm = array((0 until model.numSubspaces).map { j =>
      val dists = transform(element_at(model.centLit, j + 1),
        cent => ColumnBridge.column(graft.functions.ArrayL2Sq(
          ColumnBridge.expression(
            slice(col("embedding").cast("array<double>"), j * sd + 1, sd)),
          ColumnBridge.expression(cent))))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }: _*)
    val rows = encode(data, model)
      .join(data.select(col("vec_id").as("n_id"),
        columnForm.as("expected"), col("embedding")), "n_id")
      .collect()
    assert(rows.length == 60)
    rows.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"vec ${r.getLong(0)}: ${r.getSeq[Int](1)} != ${r.getSeq[Int](2)}")
    }
  }

  test("residual IVF-PQ with a full residual codebook degenerates to " +
      "exact L2² ranking") {
    // pqCentroids = |corpus|: every vector's residual is its own anchor,
    // so each subspace reconstructs losslessly and ADC(q,v) =
    // L2²((q-c) - (v-c)) = exact L2²(q,v) on these integer-valued floats.
    val r = Similarity.ivfPqSearch(vecs, vecs.filter($"vec_id" === 1L),
        "vec_id", "embedding", k = 3, numCentroids = 1, nProbe = 1,
        numSubspaces = 2, pqCentroids = 4, dim = 4, residual = true,
        rerank = 0)
      .orderBy("rk").collect()
    // exact L2² from (0,0,0,0): v3/v4 = 1+1+81+81 = 164, v2 = 400
    assert(r.map(r => r.getAs[Long]("n_id") -> r.getAs[Double]("adc"))
      .toSeq == Seq(3L -> 164.0, 4L -> 164.0, 2L -> 400.0))
  }

  test("residual IVF-PQ recovers cluster-offset structure a raw codebook " +
      "of the same size cannot") {
    // two far-apart clusters, members offset from their centroid by the
    // SAME displacement (+1,+2,0,0): in residual space both members
    // collapse onto one codebook cell and reconstruct exactly, while the
    // raw-space codebook (anchors = the two centroids) must snap each
    // member to its centroid and eat the offset as quantization error.
    // (non-parallel, non-zero centroids — cosine assignment needs both)
    val clustered = Seq(
      (1L, Array(4f, 2f, 0f, 0f)),      // coarse centroid A / anchor 0
      (2L, Array(0f, 0f, 100f, 100f)),  // coarse centroid B / anchor 1
      (3L, Array(5f, 4f, 0f, 0f)),      // in A; residual (1,2,0,0)
      (4L, Array(1f, 2f, 100f, 100f)),  // in B; residual (1,2,0,0)
    ).toDF("vec_id", "embedding")
    val q = clustered.filter($"vec_id" === 3L)
    def adcTo4(residual: Boolean): Double =
      Similarity.ivfPqSearch(clustered, q, "vec_id", "embedding", k = 3,
          numCentroids = 2, nProbe = 2, numSubspaces = 2, pqCentroids = 3,
          dim = 4, residual = residual, rerank = 0)
        .filter($"n_id" === 4L).select($"adc").as[Double].head()
    // exact L2²(v3, v4) = 16 + 4 + 10000 + 10000 = 20020
    val raw = adcTo4(residual = false)
    val res = adcTo4(residual = true)
    assert(res == 20020.0,
      s"residual recon of v4 should be exact, adc = $res")
    assert(raw != 20020.0 && math.abs(raw - 20020.0) > 10,
      s"raw codebook should eat the offset as error, adc = $raw")
  }

  test("PqAdcL2Sq kernel is bit-identical to l2sq(q, recon(codes))") {
    val rnd = new scala.util.Random(77L)
    val data = (1L to 50L).map(i =>
        (i, Array.fill(8)((rnd.nextFloat() - 0.5f) * 4f)))
      .toDF("vec_id", "embedding")
    val model = Similarity.pqTrain(data, "vec_id", "embedding",
      numSubspaces = 4, numCentroids = 8, dim = 8)
    val encoded = encode(data, model)
    val q = data.filter($"vec_id" <= 3L)
      .select($"vec_id".as("q_id"),
        $"embedding".cast("array<double>").as("q_vec"))
    val centLit = model.centLit
    val reconCol = flatten(array((0 until model.numSubspaces).map { j =>
      element_at(element_at(centLit, j + 1),
        element_at(col("codes"), j + 1) + 1)
    }: _*))
    val columnAdc = ColumnBridge.column(graft.functions.ArrayL2Sq(
      ColumnBridge.expression(col("q_vec")),
      ColumnBridge.expression(reconCol)))
    val kernelAdc = ColumnBridge.column(graft.functions.PqAdcL2Sq(
      ColumnBridge.expression(col("q_vec")),
      ColumnBridge.expression(col("codes")), model.codebooks))
    val rows = encoded.crossJoin(q)
      .select($"q_id", $"n_id", columnAdc.as("expected"),
        kernelAdc.as("got"))
      .collect()
    assert(rows.length == 150)
    rows.foreach { r =>
      // bit-identical, not approximately equal
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)),
        s"(${r.getLong(0)},${r.getLong(1)}): ${r.getDouble(2)} != ${r.getDouble(3)}")
    }
  }

  test("flat PQ with refineIters ranks by the refined codebooks") {
    val r = flatPq(vecs.filter($"vec_id" === 1L), k = 3, refineIters = 2)
      .collect()
    assert(r.length == 3)
    assert(r.map(_.getAs[Long]("n_id")).toSet == Set(2L, 3L, 4L))
  }

  test("persisted IVF-PQ index is version-stamped; a stale layout fails " +
      "with an explicit rebuild message") {
    val dir = java.nio.file.Files.createTempDirectory("pq-idx").toString
    Similarity.saveIvfPqIndex(vecs, "vec_id", "embedding",
      numCentroids = 2, path = dir, numSubspaces = 2, pqCentroids = 2,
      dim = 4)
    // round trip works on the current layout
    val r = Similarity.ivfPqSearchPersisted(spark, dir,
      vecs.filter($"vec_id" === 1L), "vec_id", "embedding", k = 2,
      nProbe = 2).collect()
    assert(r.nonEmpty)
    // overwrite the codebook with the pre-version (v1) anchor layout:
    // the reader must say "rebuild", not throw an opaque schema error
    Seq((0, Seq(0.0, 0.0, 0.0, 0.0), 2, 2, 4))
      .toDF("anchor_rank", "anchor", "num_subspaces", "pq_centroids", "dim")
      .write.mode("overwrite").parquet(s"$dir/codebook")
    val ex = intercept[IllegalStateException] {
      Similarity.ivfPqSearchPersisted(spark, dir,
        vecs.filter($"vec_id" === 1L), "vec_id", "embedding", k = 2,
        nProbe = 2).collect()
    }
    assert(ex.getMessage.contains("rebuild"), ex.getMessage)
    // and a FUTURE format version is rejected explicitly too
    Seq((0, 0, Seq(0.0, 0.0), 4, 99))
      .toDF("subspace", "centroid_rank", "subvec", "dim", "format_version")
      .write.mode("overwrite").parquet(s"$dir/codebook")
    val ex2 = intercept[IllegalStateException] {
      Similarity.ivfPqSearchPersisted(spark, dir,
        vecs.filter($"vec_id" === 1L), "vec_id", "embedding", k = 2,
        nProbe = 2).collect()
    }
    assert(ex2.getMessage.contains("rebuild"), ex2.getMessage)
    // right schema, ZERO rows (interrupted write): explicit rebuild
    // error, not a bare NoSuchElementException from .head
    Seq.empty[(Int, Int, Seq[Double], Int, Int)]
      .toDF("subspace", "centroid_rank", "subvec", "dim", "format_version")
      .write.mode("overwrite").parquet(s"$dir/codebook")
    val ex3 = intercept[IllegalStateException] {
      Similarity.ivfPqSearchPersisted(spark, dir,
        vecs.filter($"vec_id" === 1L), "vec_id", "embedding", k = 2,
        nProbe = 2).collect()
    }
    assert(ex3.getMessage.contains("rebuild"), ex3.getMessage)
  }

  test("exact re-rank with a full-depth shortlist equals brute-force L2 " +
      "ranking (ADC errors corrected)") {
    // plain PQ scores v3/v4 at adc 200 (quantized recon); the re-rank
    // stage must replace that with the exact L2² (164) and keep order
    val rr = flatPq(vecs.filter($"vec_id" === 1L), k = 3, rerank = 10)
      .orderBy("rk").collect()
    assert(rr.map(r => r.getAs[Long]("n_id") -> r.getAs[Double]("dist"))
      .toSeq == Seq(3L -> 164.0, 4L -> 164.0, 2L -> 400.0))
    // same refinement through the IVF-PQ path with all lists probed
    val rr2 = Similarity.ivfPqSearch(vecs, vecs.filter($"vec_id" === 1L),
        "vec_id", "embedding", k = 3, numCentroids = 2, nProbe = 2,
        numSubspaces = 2, pqCentroids = 2, dim = 4, residual = false,
        rerank = 10)
      .orderBy("rk").collect()
    assert(rr2.map(r => r.getAs[Long]("n_id") -> r.getAs[Double]("dist"))
      .toSeq == Seq(3L -> 164.0, 4L -> 164.0, 2L -> 400.0))
  }

  test("persisted residual IVF-PQ answers like the ad-hoc path, rerank " +
      "included") {
    val dir = java.nio.file.Files.createTempDirectory("pq-res-idx").toString
    Similarity.saveIvfPqIndex(vecs, "vec_id", "embedding",
      numCentroids = 2, path = dir, numSubspaces = 2, pqCentroids = 2,
      dim = 4, residual = true)
    val q = vecs.filter($"vec_id" === 1L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rk").collect().map(_.toSeq).toSeq
    val adhoc = Similarity.ivfPqSearch(vecs, q, "vec_id", "embedding",
      k = 3, numCentroids = 2, nProbe = 2, numSubspaces = 2,
      pqCentroids = 2, dim = 4, residual = true, rerank = 0)
    val pers = Similarity.ivfPqSearchPersisted(spark, dir, q,
      "vec_id", "embedding", k = 3, nProbe = 2)
    assert(rows(pers) == rows(adhoc))
    // exact re-rank against the persisted index needs the raw corpus
    val adhocR = Similarity.ivfPqSearch(vecs, q, "vec_id", "embedding",
      k = 3, numCentroids = 2, nProbe = 2, numSubspaces = 2,
      pqCentroids = 2, dim = 4, residual = true, rerank = 10)
    val persR = Similarity.ivfPqSearchPersisted(spark, dir, q,
      "vec_id", "embedding", k = 3, nProbe = 2, rerank = 10,
      rerankCorpus = Some(vecs))
    assert(rows(persR) == rows(adhocR))
    // and rerank without the corpus is an explicit error, not a crash
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfPqSearchPersisted(spark, dir, q, "vec_id", "embedding",
        k = 3, nProbe = 2, rerank = 10)
    }
    assert(ex.getMessage.contains("rerankCorpus"), ex.getMessage)
  }

  test("two PqAdcL2Sq instances in one projection stay in codegen") {
    // a bare temp-variable name in doGenCode would collide when the same
    // kernel appears twice in one generated-method scope and silently
    // fall the stage back to interpreted mode
    val model = Similarity.pqTrain(vecs, "vec_id", "embedding",
      numSubspaces = 2, numCentroids = 2, dim = 4)
    val enc = encode(vecs, model)
      .join(vecs.select($"vec_id".as("n_id"),
        $"embedding".cast("array<double>").as("q_vec")), "n_id")
    def adc = ColumnBridge.column(graft.functions.PqAdcL2Sq(
      ColumnBridge.expression(col("q_vec")),
      ColumnBridge.expression(col("codes")), model.codebooks))
    val out = enc.select($"n_id", adc.as("a1"), adc.as("a2")).collect()
    assert(out.length == 4)
    out.foreach(r => assert(r.getDouble(1) == r.getDouble(2)))
  }
}
