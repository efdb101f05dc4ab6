package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.SmallFiles
import graft.ml.IndexTombstones.fsOf

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *   - [[knnBruteForce]]: exact cosine top-k. The query side is broadcast
  *     (it is the small side by construction), the corpus is scanned once
  *     map-side, and the only shuffle is the per-query top-k — at 100 TB
  *     this is a single pass over the corpus with no corpus-side shuffle.
  *   - [[knnLsh]]: sign-LSH bucketed ANN. Corpus and queries hash to
  *     coordinate-sign buckets; candidates are same-bucket only, so the
  *     scan-side work drops by ~2^nBits at the cost of recall. The bucket
  *     column is also the natural *partitioning/bucketing key* for a
  *     persisted ANN index table.
  *
  * All arithmetic is a deterministic left-to-right double fold
  * (`functions.aggregate` over `zip_with`) — reproducible bit-for-bit by
  * any engine that folds sequentially, which is what the correctness
  * oracle does.
  *
  * Degenerate-vector contract: cosine against a ZERO-NORM vector is
  * 0/0 = NaN, and Spark's ordering puts NaN ABOVE every real value — so
  * an unguarded ranking would report a dead embedding as the #1
  * neighbor of EVERY query (and an unguarded centroid assignment would
  * collapse the inverted file; see [[assignToCentroids]]). Every
  * ranking in this module therefore scores such pairs as −2.0 — outside
  * the cosine range, recognizable by callers, and ranked strictly below
  * any real match. Filters (`cosine >= threshold`) need no guard: NaN
  * comparisons are already false.
  */
object Similarity {

  /** Sequential-fold dot product — deterministic fp result. Runs as the
    * native codegen'd [[graft.functions.ArrayDotProduct]] (identical
    * arithmetic to the `aggregate(zip_with(...))` formulation, minus the
    * interpreted per-element lambda dispatch).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.graftDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Fused single-pass cosine ([[graft.functions.ArrayCosineSimilarity]]) —
    * bit-identical to `dot(a,b)/(norm(a)*norm(b))` but one array traversal
    * instead of three on the per-pair hot loop.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.graftCosine(a, b)

  /** Per-group top-k of `scored` by (`scoreCol` desc, `tieCol` asc), with a
    * 1-based `rk` column appended.
    *
    * The ranking runs through the [[graft.plans.TopKPerGroup]] operator
    * (bounded per-partition heaps, partial/final), NOT
    * `row_number().over(partitionBy(group))`. Measured vs the window
    * formulation (`SimilarityShuffleSpec`): Spark ≥ 3.5 does cap the
    * window's shuffle with a WindowGroupLimit partial phase when the
    * `rk <= k` filter sits directly on the rank — but it still SORTS every
    * partition of scored candidates (map side and again reduce side) to
    * feed that limit, and the cap evaporates whenever the pattern isn't
    * syntactically recognized. The heap operator moves the same
    * `partitions × groups × k` bounded rows with no sort over candidates
    * at all (O(n log k) heap updates, O(groups × k) memory); the `rk`
    * window then ranks only the ≤ k survivors per group — negligible.
    */
  private def topKRanked(scored: DataFrame, group: String, scoreCol: String,
                         tieCol: String, k: Int): DataFrame = {
    val top = graft.operators.TopK.perGroup(scored, Seq(col(group)),
      Seq(col(scoreCol).desc, col(tieCol).asc), k)
    val w = Window.partitionBy(col(group))
      .orderBy(col(scoreCol).desc, col(tieCol).asc)
    top.withColumn("rk", row_number().over(w))
  }

  /** Exact top-k neighbors for each query vector.
    *
    * @param corpus  (idCol, vecCol) — the large side, scanned map-side only
    * @param queries (idCol, vecCol) — the small side, broadcast
    */
  def knnBruteForce(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    excludeSelf: Boolean = true): DataFrame = {
    val q = broadcast(
      queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec")))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val scored = c.crossJoin(q)
      // excludeSelf = false: synthetic (positional) query ids — see
      // [[ivfSearchPersisted]]
      .filter(if (excludeSelf) col("q_id") =!= col("n_id") else lit(true))
      .withColumn("cosine", nanvl(cosine(col("q_vec"), col("n_vec")), lit(-2d)))
    topKRanked(scored, "q_id", "cosine", "n_id", k)
      .select(col("q_id"), col("n_id"), col("cosine"), col("rk"))
  }

  /** RADIUS (threshold) search — every neighbor with cosine ≥
    * `minCosine`, the retrieval mode top-k can't express: near-duplicate
    * detection at a similarity cutoff, recall-complete candidate
    * generation, "everything semantically close to this" takedown
    * sweeps. No heap, no ranking — the predicate IS the result bound.
    *
    * Scale: one broadcast of the query side, one corpus pass; output
    * size is governed by the caller's threshold (a lax τ over a dense
    * corpus is answer-quadratic BY CONSTRUCTION — same contract as
    * `q_sim_decontaminate`). Self-pairs excluded.
    *
    * ==100 TB: use [[radiusSearchPersisted]]==
    * This is the EXACT, recall-complete baseline — it scans the whole
    * corpus per call. A deployment at scale should persist an IVF
    * layout once ([[saveIvfIndex]]) and serve thresholds from
    * [[radiusSearchPersisted]], which probes only the closest
    * centroids' partitions for the same answer contract.
    */
  def radiusSearch(corpus: DataFrame, queries: DataFrame,
                   idCol: String, vecCol: String,
                   minCosine: Double): DataFrame = {
    val q = broadcast(
      queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec")))
    corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .crossJoin(q)
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine", nanvl(cosine(col("q_vec"), col("n_vec")), lit(-2d)))
      .filter(col("cosine") >= minCosine)
      .select(col("q_id"), col("n_id"), col("cosine"))
  }

  /** L2-normalize an embedding column — the standard corpus-prep step
    * before indexing: on unit vectors cosine degenerates to the plain
    * dot product (one fused multiply-add sweep instead of three norms)
    * and ranking by cosine equals ranking by L2 distance, so every
    * downstream index agrees on the metric. Zero-norm (dead) embeddings
    * can't be normalized; they pass through unchanged with
    * `is_degenerate = true` — flagging them ONCE at prep time instead
    * of every ranking guarding against them (the −2.0 sentinel contract
    * above is the query-time backstop for corpora that skipped this).
    *
    * Arithmetic: norm = sqrt(sequential dot fold) (IEEE exact-rounded),
    * then one exact-rounded divide per element — engine-portable, the
    * oracle replicates it. One narrow map, no shuffle.
    */
  def normalizeVectors(vecs: DataFrame, idCol: String,
                       vecCol: String): DataFrame =
    // norm lands in its own projection first: referenced inside the HOF
    // lambda directly, its whole subtree would re-evaluate PER ELEMENT
    vecs.select(col(idCol), col(vecCol), norm(col(vecCol)).as("__n"))
      .select(col(idCol),
        when(col("__n") === 0d, col(vecCol).cast("array<double>"))
          .otherwise(transform(col(vecCol).cast("array<double>"),
            x => x / col("__n"))).as(vecCol),
        (col("__n") === 0d).as("is_degenerate"))

  /** Sign-LSH bucket: bit j set iff vec[j] >= 0 (axis-aligned random
    * hyperplanes — deterministic and engine-portable).
    */
  def signBucket(vec: Column, nBits: Int): Column =
    (0 until nBits)
      .map(j => when(element_at(vec, j + 1) >= 0f, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** ANN top-k: candidates restricted to the query's sign-LSH bucket.
    * The join key is the bucket — co-partitioned, no cartesian.
    *
    * `multiProbe = m` additionally probes the `m` buckets at Hamming
    * distance 1 obtained by flipping each of the lowest `m` sign bits —
    * the standard multi-probe LSH recall lift (Lv et al. 2007): a true
    * neighbor that disagrees with the query on one early hyperplane is
    * recovered without doubling the table count. Cost: the QUERY side
    * (broadcast, tiny) expands ×(1+m); the corpus side still hashes each
    * vector to exactly one bucket, and probe values are distinct so no
    * candidate pair repeats. `multiProbe = 0` is the exact-bucket
    * behavior.
    *
    * Parameter choice is data, not folklore: the recall harness's
    * `frontier` sweep (ann_quality.json, nBits × multiProbe grid) shows
    * that at a given corpus size EXTRA BITS ONLY HURT once buckets drop
    * below a few hundred vectors (sf0.1, n=2000: 4 bits + 4 probes =
    * recall 0.50 at 0.16 s; 8 bits at ANY probe count ≤ 0.08), while
    * multi-probe is close to free (query-side-only expansion, measured
    * latency flat). So: size nBits from the corpus via [[autoLshBits]]
    * (bucket ≈ 256 vectors) and probe generously (`multiProbe = 4`).
    */
  def knnLsh(corpus: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, k: Int,
             nBits: Int = 4, multiProbe: Int = 0): DataFrame = {
    require(multiProbe >= 0 && multiProbe <= nBits,
      s"multiProbe must be in [0, nBits=$nBits]")
    val qb = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("q_bucket", signBucket(col("q_vec"), nBits))
    val probes = col("q_bucket") +: (0 until multiProbe).map(j =>
      col("q_bucket").bitwiseXOR(lit(1L << j)))
    val q = broadcast(qb.select(col("q_id"), col("q_vec"),
      explode(array(probes: _*)).as("bucket")))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      signBucket(col(vecCol), nBits).as("bucket"))
    val scored = c.join(q, Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine", nanvl(cosine(col("q_vec"), col("n_vec")), lit(-2d)))
    topKRanked(scored, "q_id", "cosine", "n_id", k)
      .select(col("q_id"), col("n_id"), col("cosine"), col("rk"))
  }

  /** Corpus-size-scaled sign-LSH bucket width: enough bits that a bucket
    * holds ~256 vectors (the harness frontier's sweet spot — fewer
    * candidates than that and recall collapses faster than latency
    * improves), clamped to [4, 24]. Pair with `multiProbe = 4`.
    */
  def autoLshBits(n: Long): Int = {
    val bits = math.ceil(math.log(math.max(1.0, n / 256.0)) /
      math.log(2.0)).toInt
    math.min(24, math.max(4, bits))
  }

  /** Recall-vs-multiProbe curve of the sign-LSH layout over EXACT ground
    * truth, in ONE pass — the [[nProbeRecallCurve]] pattern transferred
    * to the LSH frontier. For every (query, true-top-k-neighbor) pair,
    * the PROBE LEVEL is the smallest `multiProbe` at which [[knnLsh]]
    * reaches the neighbor's bucket: 0 when the buckets agree, j+1 when
    * they differ in exactly sign bit j (that bucket is probed once
    * multiProbe > j), and the sentinel `nBits + 1` when they differ in
    * two or more bits — [[knnLsh]] probes Hamming-1 flips of the lowest
    * bits only, so NO probe count reaches such a pair. Because knnLsh
    * ranks bucket candidates by exact cosine, cumulative pair fraction
    * at level ≤ m IS its recall@k at multiProbe = m (same argument as
    * the IVF curve: a reachable true neighbor always survives the
    * top-k). The sentinel row completes the distribution: the row below
    * it carries the LSH CEILING — the recall no probe count exceeds at
    * this bit width.
    *
    * One row per occupied level: (probe_level, pairs, cum_pairs,
    * total_pairs, recall_micro), recall_micro = cum·10⁶ div total — the
    * exact integer grid, oracle-replicable. Cost: one brute-force truth
    * pass for the sampled queries + one corpus bucket pass; everything
    * after is ≤ nBits + 2 rows, so the single-partition cumulative
    * window is constant-bounded.
    */
  def lshRecallCurve(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     nBits: Int): DataFrame = {
    val truth = knnBruteForce(corpus, queries, idCol, vecCol, k)
      .select(col("q_id"), col("n_id"))
    val cb = corpus.select(col(idCol).as("n_id"),
      signBucket(col(vecCol), nBits).as("n_bucket"))
    val qb = broadcast(queries.select(col(idCol).as("q_id"),
      signBucket(col(vecCol), nBits).as("q_bucket")))
    val diff = col("q_bucket").bitwiseXOR(col("n_bucket"))
    // smallest probe level reaching the neighbor's bucket; the when
    // chain stays codegen'd (nBits ≤ 24 branches)
    val level = (0 until nBits)
      .foldLeft(when(diff === 0, lit(0))) { (acc, j) =>
        acc.when(diff === lit(1L << j), lit(j + 1))
      }.otherwise(lit(nBits + 1))
    val cumW = Window.orderBy(col("probe_level").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val allW = Window.orderBy(col("probe_level").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    truth.join(qb, "q_id").join(cb, "n_id")
      .withColumn("probe_level", level)
      .groupBy(col("probe_level"))
      .agg(count(lit(1)).as("pairs"))
      .withColumn("cum_pairs", sum(col("pairs")).over(cumW))
      .withColumn("total_pairs", sum(col("pairs")).over(allW))
      .withColumn("recall_micro",
        expr("cum_pairs * 1000000 div total_pairs"))
      .orderBy(col("probe_level"))
  }

  /** A measured LSH operating point: serve [[knnLsh]] at
    * (`nBits`, `multiProbe`) when `multiProbe` is defined; `ceilingMicro`
    * is the measured recall ceiling (10⁻⁶ grid) across ALL probe counts
    * at this bit width.
    */
  final case class LshCalibration(nBits: Int, multiProbe: Option[Int],
                                  ceilingMicro: Long)

  /** Pick [[knnLsh]]'s operating point off the measured recall curve —
    * the [[calibrateNProbe]] discipline for the LSH frontier: the
    * smallest `multiProbe` whose measured recall on a deterministic
    * hash-stride sample meets `target`, at a bit width sized from the
    * corpus ([[autoLshBits]]) unless pinned.
    *
    * THE ROUTING RULE (measured, not folklore): `multiProbe = None`
    * means NO probe count reaches the target at this bit width — the
    * single-table LSH ceiling is structural (true neighbors disagreeing
    * with the query in ≥ 2 sign bits are unreachable; on the harness
    * corpus the ceiling is ~0.5 at sizing-rule widths while calibrated
    * IVF / IVF-PQ measure 0.93 / 0.88 — `ann_quality.json`). A
    * recall-sensitive caller getting None must route to [[annSearch]]
    * (or a persisted [[calibrateIvfIndex calibrated]] IVF index); LSH
    * stays the cheap screen for recall-tolerant candidate generation.
    */
  def calibrateLsh(corpus: DataFrame, idCol: String, vecCol: String,
                   k: Int, target: Double, nBits: Int = -1,
                   sampleSize: Int = 50): LshCalibration = {
    require(target > 0.0 && target <= 1.0, "target must be in (0, 1]")
    require(nBits == -1 || nBits > 0,
      s"nBits must be positive or the -1 auto sentinel (got $nBits)")
    val n = corpus.count()
    val bits = if (nBits == -1) autoLshBits(n) else nBits
    val stride = math.max(1L, n / math.max(1, sampleSize))
    val sample = corpus
      .filter(pmod(xxhash64(col(idCol)), lit(stride)) === 0)
      .orderBy(col(idCol).asc).limit(sampleSize)
    val targetMicro = math.round(target * 1e6)
    val rows = lshRecallCurve(corpus, sample, idCol, vecCol, k, bits)
      .select(col("probe_level"), col("recall_micro")).collect()
    val reachable = rows.filter(_.getInt(0) <= bits)
    val ceiling = reachable.map(_.getLong(1)).maxOption.getOrElse(0L)
    val hit = reachable.filter(_.getLong(1) >= targetMicro).map(_.getInt(0))
    LshCalibration(bits, hit.minOption, ceiling)
  }

  /** Corpus-size-scaled coarse-centroid count: ~sqrt(n) inverted lists
    * (the standard IVF sizing — per-list length and list count grow
    * together as sqrt(n), so probe cost stays balanced as the corpus
    * grows). Fixed counts are the scale trap the recall harness exposed:
    * 8 lists over 10× the vectors means every probe scans 10× the rows
    * with no recall gain. Clamped to [8, 4096]; pair with [[autoNProbe]].
    */
  def autoCoarseCentroids(n: Long): Int =
    math.min(4096L, math.max(8L, math.round(math.sqrt(n.toDouble)))).toInt

  /** Probe count matched to [[autoCoarseCentroids]]: a constant FRACTION
    * (~1/4) of the lists, so search cost relative to corpus size is
    * unchanged as the centroid count scales — recall gains come from
    * finer lists, not from scanning more of the corpus.
    */
  def autoNProbe(numCentroids: Int): Int = math.max(2, numCentroids / 4)

  /** Recall-vs-probe-count curve of an IVF layout over EXACT ground
    * truth, computed in ONE pass instead of one search per candidate
    * nProbe: for every (query, true-top-k-neighbor) pair, take the RANK
    * of the neighbor's inverted list in the query's centroid ordering —
    * recall at nProbe = p is then the fraction of pairs whose rank ≤ p,
    * read straight off a cumulative sum. Because [[ivfSearch]] ranks
    * probed candidates by exact cosine, this ceiling IS its recall@k at
    * every probe count simultaneously (a true neighbor inside a probed
    * list always survives the top-k: only the other true neighbors can
    * outscore it, and together they fit the k slots). For PQ-coded lists
    * it is the upper bound the ADC stage + exact re-rank approach from
    * below.
    *
    * One row per occupied rank: (c_rank, pairs, cum_pairs, total_pairs,
    * recall_micro), recall_micro = cum_pairs·10⁶ div total_pairs — the
    * exact integer grid, so the whole curve is oracle-replicable.
    *
    * Cost at scale: one brute-force candidate pass for the sampled
    * queries (|queries|·|corpus| map-side rows against a broadcast query
    * set) + one corpus assignment pass — two corpus scans for the whole
    * curve. Everything after those passes is ≤ numCentroids rows, so the
    * single-partition cumulative window is bounded by the list count
    * (≤ 4096), never the corpus.
    */
  def nProbeRecallCurve(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, k: Int,
                        centroids: DataFrame, spill: Int = 1): DataFrame = {
    val truth = knnBruteForce(corpus, queries, idCol, vecCol, k)
      .select(col("q_id"), col("n_id"))
    // spilled layouts: a neighbor is reachable through ANY of its r
    // lists, so its effective rank is the BEST (min) among them — the
    // min-fold below; single assignment skips the extra aggregate
    val assign = assignToCentroidsSpill(corpus, idCol, vecCol, centroids,
        spill)
      .select(col("v_id").as("n_id"), col("centroid_id"))
    val cents = broadcast(centroids.select(col("centroid_id"), col("c_vec")))
    val rkW = Window.partitionBy(col("q_id"))
      .orderBy(col("c_cos").desc, col("centroid_id").asc)
    val qRanks = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .crossJoin(cents)
      .withColumn("c_cos", nanvl(cosine(col("q_vec"), col("c_vec")), lit(-2d)))
      .withColumn("c_rank", row_number().over(rkW))
      .select(col("q_id"), col("centroid_id"), col("c_rank"))
    val ranked0 = truth.join(assign, Seq("n_id"))
      .join(qRanks, Seq("q_id", "centroid_id"))
    val ranked = if (spill == 1) ranked0
      else ranked0.groupBy(col("q_id"), col("n_id"))
        .agg(min(col("c_rank")).as("c_rank"))
    val cumW = Window.orderBy(col("c_rank").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val allW = Window.orderBy(col("c_rank").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked.groupBy(col("c_rank"))
      .agg(count(lit(1)).as("pairs"))
      .withColumn("cum_pairs", sum(col("pairs")).over(cumW))
      .withColumn("total_pairs", sum(col("pairs")).over(allW))
      .withColumn("recall_micro",
        expr("cum_pairs * 1000000 div total_pairs"))
      .orderBy(col("c_rank"))
  }

  /** Smallest probe count whose recall ceiling meets `target` on a
    * deterministic corpus sample — probe-count CALIBRATION, the way a
    * deployment actually sizes nProbe: measure the curve on a sample,
    * serve at the cheapest setting that meets the recall SLO, and
    * re-calibrate when drift moves it. [[autoNProbe]]'s fixed 1/4
    * fraction is the structure-free guess; on a corpus with weak cluster
    * structure (near-iid embeddings — the synthetic harness corpus is
    * one) the fraction a given recall needs is far higher, and only a
    * measurement says by how much.
    *
    * The sample is a deterministic hash-stride of the corpus — repeat
    * calls agree, and the sample avoids id-locality bias (the lowest-id
    * rows double as the seeded-centroid anchors).
    */
  def calibrateNProbe(corpus: DataFrame, idCol: String, vecCol: String,
                      centroids: DataFrame, k: Int, target: Double,
                      sampleSize: Int = 50, spill: Int = 1): Int = {
    require(target > 0.0 && target <= 1.0, "target must be in (0, 1]")
    val n = corpus.count()
    val stride = math.max(1L, n / math.max(1, sampleSize))
    val sample = corpus
      .filter(pmod(xxhash64(col(idCol)), lit(stride)) === 0)
      .orderBy(col(idCol).asc).limit(sampleSize)
    val targetMicro = math.round(target * 1e6)
    val rows = nProbeRecallCurve(corpus, sample, idCol, vecCol, k,
      centroids, spill).select(col("c_rank"), col("recall_micro")).collect()
    val hit = rows.filter(_.getLong(1) >= targetMicro).map(_.getInt(0))
    if (hit.nonEmpty) hit.min
    else rows.map(_.getInt(0)).maxOption.getOrElse(1)
  }

  /** The recommended ANN entry point — the full IVFADC default path
    * (Jégou et al. 2011): Lloyd-refined coarse quantizer, RESIDUAL
    * product codes, exact re-rank of a 10·k ADC shortlist, and a probe
    * count [[calibrateNProbe calibrated]] to `targetRecall` on a corpus
    * sample instead of guessed from a fixed fraction. Index parameters
    * scale with the corpus ([[autoCoarseCentroids]] /
    * [[autoPqCentroids]] / [[autoPqSubspaces]]). The raw knobs
    * ([[ivfPqSearch]]) stay public for the oracle-gated variants and for
    * deployments that already know their settings.
    *
    * `targetRecall` bounds the IVF CEILING (truth reachable in probed
    * lists); the residual-PQ stage + exact re-rank then approach it from
    * below (within ~0.05 on the harness corpus — `ann_quality.json`
    * `ivfpq_target`). Calibration honesty beats folklore here: a weakly
    * clustered corpus simply NEEDS a large probe fraction for high
    * recall, and this measures that fraction instead of silently
    * missing neighbors.
    */
  def annSearch(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, targetRecall: Double = 0.9,
                dim: Int = 64, excludeSelf: Boolean = true): DataFrame = {
    val n = corpus.count()
    val coarse = autoCoarseCentroids(n)
    val iters = 3
    // NOTE the coarse quantizer trains twice per call (once here for
    // calibration, once inside ivfPqSearch) — deterministic, so the
    // probes route identically, but ad-hoc annSearch pays ~2× build.
    // Deployments that care build ONCE via saveIvfPqIndex +
    // calibrateIvfIndex and serve persisted.
    val cents = kmeansCentroids(corpus, idCol, vecCol, coarse, iters)
    // calibrate the CEILING 0.05 above the requested end-to-end target:
    // the re-rank recovers ADC ordering errors inside the shortlist but
    // not truth the shortlist misses, and the calibration sample is not
    // the serving query set — both eat into the ceiling from below
    val nProbe = calibrateNProbe(corpus, idCol, vecCol, cents, k,
      math.min(1.0, targetRecall + 0.05))
    cents.unpersist()
    // deterministic: ivfPqSearch(coarseIters = iters) re-derives the SAME
    // Lloyd centroids, so the calibrated probe count routes identically
    ivfPqSearch(corpus, queries, idCol, vecCol, k, numCentroids = coarse,
      nProbe = nProbe, numSubspaces = autoPqSubspaces(n, dim),
      pqCentroids = autoPqCentroids(n), dim = dim, refineIters = iters,
      coarseIters = iters, residual = true, rerank = 10 * k,
      excludeSelf = excludeSelf)
  }

  /** Corpus-size-scaled PQ codebook size: one centroid per ~8 training
    * vectors (enough points per centroid for a stable subspace k-means —
    * each SUBSPACE sees all n subvectors, so even n/8 cells train on 8+
    * points each), clamped to [16, 256] (256 = 8-bit codes, the classic
    * PQ cell size; byte-aligned storage). At a fixed 16, recall decays as
    * the corpus grows — the quantizer stays 4-bit-coarse while the
    * neighbor density rises; this is the collapse the recall harness
    * measured from sf0.01 to sf0.1. Beyond the 256 cap, recall comes from
    * residual encoding + exact re-rank, not wider cells.
    */
  def autoPqCentroids(n: Long): Int =
    math.min(256L, math.max(16L, n / 8L)).toInt

  /** Corpus-size-scaled PQ subspace count: 8-wide subvectors while the
    * 256-cell cap has headroom, 4-wide — double the code bytes — once it
    * binds. Past the cap the per-cell resolution can't grow, so the only
    * pure-ADC lever left is more, narrower subspaces; measured at n=20k:
    * ADC recall@10 0.24 → 0.50 at equal search latency for the extra 8
    * bytes/vector. (The alternatives — residual encoding and exact
    * re-rank — stack on top.)
    */
  def autoPqSubspaces(n: Long, dim: Int): Int = {
    val sd = if (autoPqCentroids(n) >= 256) 4 else 8
    math.max(1, dim / sd)
  }

  /** IVF (inverted-file) index build: assign every vector to its nearest
    * centroid by cosine (tiebreak: centroid id). Centroids here are seeded
    * deterministically (the `k` lowest-id vectors) — at production scale
    * they'd come from a k-means job; the index/search machinery is
    * identical. The assignment is one broadcast join + per-vector argmax —
    * a single corpus pass, and `centroid_id` is the natural partition/
    * bucket key for the persisted index.
    */
  def ivfIndex(corpus: DataFrame, idCol: String, vecCol: String,
               numCentroids: Int): DataFrame =
    assignToCentroids(corpus, idCol, vecCol,
      seedCentroids(corpus, idCol, vecCol, numCentroids))

  /** Deterministic centroid seeding shared by [[ivfIndex]] and
    * [[kmeansCentroids]]: the `k` lowest-id vectors.
    */
  def seedCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame =
    corpus.orderBy(col(idCol).asc).limit(k)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("c_vec"))

  /** Nearest-centroid assignment (cosine, centroid-id tiebreak): one
    * broadcast of the centroid table + a per-vector argmax — a single
    * corpus pass regardless of k.
    *
    * The argmax is a `max_by` hash aggregation, not a window: the
    * broadcast cross join expands each vector to k candidate rows IN
    * PLACE, and partial aggregation collapses them back to one row per
    * vector map-side — the shuffle moves 1 row per vector instead of the
    * k candidate rows a `row_number().over(partitionBy(v_id))` would.
    * Tiebreak on equal cosine: the lower centroid id wins (the negated id
    * is the second struct field of the max key).
    *
    * NaN guard (here and in every probe ranking): cosine against a
    * ZERO-NORM vector is 0/0 = NaN, and Spark's ordering puts NaN ABOVE
    * every real value — so one all-zero centroid (a dead embedding
    * landing in the seed set, routine at corpus scale) would win every
    * assignment and collapse the whole inverted file into a single list.
    * `nanvl(cos, -2)` maps NaN below the cosine range instead: a zero
    * centroid attracts only vectors with no real-valued alternative, and
    * a zero corpus vector falls to the lowest-id centroid deterministic-
    * ally. Value-identical on corpora with no zero vectors (the gated
    * oracles pin that).
    */
  def assignToCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                        centroids: DataFrame,
                        attrCols: Seq[String] = Nil): DataFrame = {
    val cents = broadcast(centroids)
    // attrCols ride inside the max_by struct — carried through the argmax
    // without a corpus-sized attribute join afterwards
    corpus.select(col(idCol).as("v_id") +: col(vecCol).as("v_vec") +:
        attrCols.map(col): _*)
      .crossJoin(cents)
      .withColumn("c_cos", nanvl(cosine(col("v_vec"), col("c_vec")), lit(-2d)))
      .groupBy(col("v_id"))
      .agg(max_by(
        struct(col("v_vec") +: col("centroid_id") +: attrCols.map(col): _*),
        struct(col("c_cos"), (-col("centroid_id")).as("neg_id"))).as("best"))
      .select(col("v_id") +: col("best.v_vec").as("v_vec") +:
        col("best.centroid_id").as("centroid_id") +:
        attrCols.map(a => col(s"best.$a").as(a)): _*)
  }

  /** Top-`spill` nearest-centroid assignment — [[assignToCentroids]]
    * generalized to MULTI-ASSIGNMENT (FAISS-style IVF spilling): every
    * vector lands in its `spill` nearest lists, giving a query's true
    * neighbors `spill` independent chances to sit in a probed list.
    * Measured on the harness corpus (45 lists, nProbe 11): recall@10
    * 0.67 → 0.83 at spill 2, 0.93 at spill 3 — the probe fraction a
    * recall target needs roughly HALVES — for spill× index storage and
    * unchanged per-list probe cost. The complementary lever to
    * [[calibrateNProbe]]: calibration measures the probe fraction a
    * target needs, spilling shrinks it. Selection goes through the
    * TopKPerGroup heap (candidates collapse map-side to `spill` rows per
    * vector — no window over the crossJoin expansion).
    */
  def assignToCentroidsSpill(corpus: DataFrame, idCol: String,
                             vecCol: String, centroids: DataFrame,
                             spill: Int,
                             attrCols: Seq[String] = Nil): DataFrame = {
    require(spill >= 1, "spill must be >= 1")
    if (spill == 1)
      return assignToCentroids(corpus, idCol, vecCol, centroids, attrCols)
    val cents = broadcast(centroids)
    val scored = corpus
      .select(col(idCol).as("v_id") +: col(vecCol).as("v_vec") +:
        attrCols.map(col): _*)
      .crossJoin(cents)
      .withColumn("c_cos", nanvl(cosine(col("v_vec"), col("c_vec")), lit(-2d)))
    graft.operators.TopK.perGroup(scored, Seq(col("v_id")),
        Seq(col("c_cos").desc, col("centroid_id").asc), spill)
      .select(col("v_id") +: col("v_vec") +: col("centroid_id") +:
        attrCols.map(col): _*)
  }

  /** Lloyd-refined centroids (spherical k-means): `iters` rounds of
    * assign-to-nearest-by-cosine + per-cluster coordinate mean. Cosine
    * against an unnormalized mean equals cosine against the normalized
    * mean, so this IS spherical k-means without the explicit renormalize.
    *
    * Each round is one corpus pass: broadcast-assign, then a (cluster,
    * position) hash aggregation — posexplode keys the shuffle by
    * (centroid_id, pos), so a round moves k·dim partial sums, not vectors.
    * Cluster labels stay the seed ids (stable across rounds); a cluster
    * that loses all members keeps its previous centroid. Feed the result
    * to [[assignToCentroids]] / [[saveIvfIndex]] for a better-balanced
    * IVF index than raw seeding gives.
    */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int = 3): DataFrame = {
    var cents = seedCentroids(corpus, idCol, vecCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    for (_ <- 0 until iters) {
      val assigned = assignToCentroids(corpus, idCol, vecCol, cents)
      val means = assigned
        .select(col("centroid_id"), posexplode(col("v_vec")).as(Seq("pos", "x")))
        .groupBy(col("centroid_id"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("centroid_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s("m").cast("float")).as("c_vec"))
      val next = cents.select(col("centroid_id"), col("c_vec").as("prev_vec"))
        .join(means, Seq("centroid_id"), "left")
        .select(col("centroid_id"),
          coalesce(col("c_vec"), col("prev_vec")).as("c_vec"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      next.count() // materialize before unpersisting the previous round
      cents.unpersist()
      cents = next
    }
    cents
  }

  /** IVF search: probe the `nProbe` nearest centroid lists per query, rank
    * candidates by exact cosine. Work per query drops from |corpus| to
    * ~|corpus|·nProbe/numCentroids; the candidate join is co-partitioned
    * on centroid_id.
    */
  def ivfSearch(corpus: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String, k: Int,
                numCentroids: Int, nProbe: Int,
                kmeansIters: Int = 0, spill: Int = 1): DataFrame = {
    // kmeansIters > 0: Lloyd-refined coarse centroids — better-balanced
    // lists, measurably higher recall at the same nProbe (the ANN recall
    // harness quantifies it); 0 keeps the deterministic seeded centroids
    // the correctness oracle replicates. spill > 1: multi-assignment
    // ([[assignToCentroidsSpill]]) — recall at the SAME probe count for
    // spill× index rows.
    val centroids =
      if (kmeansIters == 0) seedCentroids(corpus, idCol, vecCol, numCentroids)
      else kmeansCentroids(corpus, idCol, vecCol, numCentroids, kmeansIters)
    val index =
      assignToCentroidsSpill(corpus, idCol, vecCol, centroids, spill)
    val cents = broadcast(
      centroids.select(col("centroid_id"), col("c_vec")))
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("c_cos").desc, col("centroid_id").asc)
    val probes = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .crossJoin(cents)
      .withColumn("c_cos", nanvl(cosine(col("q_vec"), col("c_vec")), lit(-2d)))
      .withColumn("c_rk", row_number().over(probeW))
      .filter(col("c_rk") <= nProbe)
      .select(col("q_id"), col("q_vec"), col("centroid_id"))
    val scored0 = index.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("q_id") =!= col("v_id"))
      .withColumn("cosine", nanvl(cosine(col("q_vec"), col("v_vec")), lit(-2d)))
    // a multi-assigned vector can reach a query through several probed
    // lists — collapse to one candidate row (identical (id, cosine)
    // copies) before ranking
    val scored = if (spill == 1) scored0
      else scored0.select(col("q_id"), col("v_id"), col("cosine")).distinct()
    topKRanked(scored, "q_id", "cosine", "v_id", k)
      .select(col("q_id"), col("v_id").as("n_id"), col("cosine"), col("rk"))
  }

  /** Persist the IVF index: vector assignments partitioned by
    * `centroid_id` (so a search's probed lists map to whole partition
    * directories — dynamic partition pruning skips the rest of the corpus
    * on disk) plus the centroid table. Build once, search many times —
    * [[ivfSearch]] rebuilds the assignment per call, which is the right
    * shape only for ad-hoc queries.
    */
  def saveIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                   numCentroids: Int, path: String,
                   kmeansIters: Int = 0,
                   attrCols: Seq[String] = Nil,
                   spill: Int = 1): Unit = {
    // kmeansIters > 0 persists Lloyd-refined centroids (same lift the
    // recall harness measures for the ad-hoc path: better-balanced
    // lists at the same probe budget); 0 keeps the deterministic
    // lowest-id seeds the oracles replicate. Either way the SAME
    // centroid table drives the assignment and is what gets persisted,
    // so searches route probes consistently with the stored lists.
    //
    // `attrCols` persists extra corpus columns INSIDE the list rows —
    // the storage half of filtered search ([[ivfSearchPersisted]]'s
    // `where`): predicates evaluate on the probed lists themselves, no
    // search-time join against a metadata table.
    val centroids =
      if (kmeansIters == 0) seedCentroids(corpus, idCol, vecCol, numCentroids)
      else kmeansCentroids(corpus, idCol, vecCol, numCentroids, kmeansIters)
    // spill > 1 persists the multi-assigned layout ([[assignToCentroidsSpill]]);
    // a `_spill` marker records it so searches know to collapse duplicate
    // candidates and appends keep the same replication
    assignToCentroidsSpill(corpus, idCol, vecCol, centroids, spill, attrCols)
      .withColumn("seq", lit(0L)) // deletion-epoch stamp, see deleteFromAnnIndex
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$path/index")
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    writeAttrsFile(corpus.sparkSession, path, attrCols)
    writeSpillFile(corpus.sparkSession, path, spill)
    // a rebuild invalidates any stored calibration: the marker was
    // measured against the PREVIOUS layout's lists — re-calibrate after
    clearMarker(corpus.sparkSession, path, NProbeFile)
    resetIndexGenerations(corpus.sparkSession, path)
    centroids.unpersist() // no-op for the seeded path; frees the k-means cache
    ()
  }

  /** Append new vectors to a persisted [[saveIvfIndex]]: assign them to
    * the EXISTING centroids (broadcast argmax — one pass over the new
    * batch only) and append into the same centroid-partitioned layout.
    * The growth half of the index lifecycle: searches see appended vectors
    * immediately, and the centroid table is untouched, so probe routing
    * stays stable. Re-run [[saveIvfIndex]] (or refresh centroids via
    * [[kmeansCentroids]]) when drift makes the lists unbalanced.
    */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
                       corpus: DataFrame, idCol: String, vecCol: String,
                       path: String): Unit = {
    val cents = spark.read.parquet(s"$path/centroids")
    // attribute columns are INFERRED from the index's own schema, so an
    // append can never silently fork the layout: whatever attrCols the
    // build persisted, the batch must supply (an absent column fails the
    // analysis loudly here, not at some later search); the same goes for
    // the multi-assignment factor — appended vectors replicate exactly
    // like the build's, so search-time dedup semantics never fork
    val attrs = indexAttrCols(spark, path)
    assignToCentroidsSpill(corpus, idCol, vecCol, cents,
        indexSpill(spark, path), attrs)
      .select(col("v_id") +: col("v_vec") +: col("centroid_id") +:
        lit(readAnnEpoch(spark, path)).as("seq") +: attrs.map(col): _*)
      .write.mode("append").partitionBy("centroid_id")
      .parquet(activeIndexDir(spark, path))
  }

  /** Attribute columns a persisted raw-vector index carries. The build
    * records them in a one-line `_attrs` file so per-batch appends read
    * a tiny file instead of re-listing the (at scale, very large) index
    * directory for schema inference; indexes predating the file fall
    * back to the schema walk, treating everything beyond the core
    * layout (id, vector, list key, deletion stamp) as an attribute.
    */
  private def indexAttrCols(spark: org.apache.spark.sql.SparkSession,
                            path: String): Seq[String] = {
    SmallFiles.read(fsOf(spark, path),
        new org.apache.hadoop.fs.Path(path, AttrsFile)) match {
      case Some(s) => if (s.isEmpty) Nil else s.split(",").toSeq
      case None =>
        val core = Set("v_id", "v_vec", "centroid_id", "bucket", "seq", "codes")
        spark.read.parquet(activeIndexDir(spark, path))
          .columns.toSeq.filterNot(core.contains)
    }
  }

  private val AttrsFile = "_attrs"

  private def writeAttrsFile(spark: org.apache.spark.sql.SparkSession,
                             path: String, attrCols: Seq[String]): Unit =
    writeMarker(spark, path, AttrsFile, attrCols.mkString(","))

  private val SpillFile = "_spill"

  // one shared read/write/clear for every tiny index-sidecar marker
  // (`_spill`, `_nprobe`) — markers must share rebuild semantics, and a
  // copy-pasted reader is how one of them misses a reset
  private def writeMarker(spark: org.apache.spark.sql.SparkSession,
                          path: String, name: String,
                          value: String): Unit =
    SmallFiles.publish(fsOf(spark, path),
      new org.apache.hadoop.fs.Path(path, name), value)

  private def clearMarker(spark: org.apache.spark.sql.SparkSession,
                          path: String, name: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, name)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) { fs.delete(p, false); () }
  }

  private def readIntMarker(spark: org.apache.spark.sql.SparkSession,
                            path: String, name: String): Option[Int] =
    SmallFiles.read(fsOf(spark, path), new org.apache.hadoop.fs.Path(path, name))
      .flatMap(_.toIntOption).filter(_ >= 1)

  /** Persist (spill > 1) or clear (spill == 1, rebuild semantics — like
    * the raw-vector sidecar) the index's multi-assignment factor.
    */
  private def writeSpillFile(spark: org.apache.spark.sql.SparkSession,
                             path: String, spill: Int): Unit =
    if (spill > 1) writeMarker(spark, path, SpillFile, spill.toString)
    else clearMarker(spark, path, SpillFile)

  /** The persisted index's multi-assignment factor (1 = classic single
    * assignment; indexes predating the marker are single-assigned).
    */
  private[ml] def indexSpill(spark: org.apache.spark.sql.SparkSession,
                             path: String): Int =
    readIntMarker(spark, path, SpillFile).getOrElse(1)

  private val NProbeFile = "_nprobe"

  /** Selectivity-aware probe count for FILTERED search over a persisted
    * IVF index — the scale-correct companion to [[ivfSearchPersisted]]'s
    * `where`: the filtered candidate pool is the PROBED lists only, so a
    * selective predicate anti-correlated with the query's nearest lists
    * can probe right past every match at the unfiltered serving width.
    * This measures the predicate's selectivity (one column-pruned,
    * pushdown-friendly count over the live index rows — distinct ids, so
    * a spilled layout doesn't overstate it) and widens the probe count
    * until the EXPECTED matching candidates in the probed fraction clear
    * `safety · k`:
    *
    *   matches · (p / P) ≥ safety · k  ⇒  p = ceil(P · safety · k / matches)
    *
    * clamped to [base, P]. `base = -1` resolves the index's unfiltered
    * serving width (stored calibration or the fixed-fraction fallback) —
    * a permissive predicate then costs nothing extra. A predicate
    * matching NOTHING returns P: full probe depth is the only honest way
    * to prove emptiness (and "scan every list once" is the cost floor of
    * that proof). Exact-integer arithmetic throughout — the formula is
    * oracle-replicable.
    *
    * The uniform-spread assumption is deliberately conservative for the
    * common case (matches clustered near the query widen more than
    * needed, never less); the adversarial case — every match in the one
    * list the widened probe set still misses — degrades toward p = P as
    * matches shrink, which is exactly the clamp's direction.
    */
  def autoProbeForFilter(spark: org.apache.spark.sql.SparkSession,
                         path: String, where: Column, k: Int,
                         base: Int = -1, safety: Int = 4): Int = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(safety >= 1, s"safety must be >= 1 (got $safety)")
    val nCent = spark.read.parquet(s"$path/centroids").count()
    val pBase = resolveNProbe(spark, path, base).toLong.min(nCent)
    val matches = applyDeletes(spark, path,
        spark.read.parquet(activeIndexDir(spark, path)))
      .filter(where).select(col("v_id")).distinct().count()
    if (matches == 0L) return nCent.toInt
    val need = (nCent * safety * k + matches - 1L) / matches
    math.min(nCent, math.max(pBase, need)).toInt
  }

  /** Calibrate a PERSISTED IVF index's serving probe count and record it
    * in the index (`_nprobe`): the curve runs over the index's own live
    * rows (the raw layout stores vectors) against its own centroids and
    * multi-assignment factor, so no external corpus is needed. Searches
    * passing `nProbe = -1` then serve at the stored setting — the
    * build-once / serve-many shape of [[calibrateNProbe]]: one
    * calibration job after build or compaction, a tiny marker read per
    * search. Returns the calibrated count.
    */
  def calibrateIvfIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String, k: Int, target: Double,
                        sampleSize: Int = 50): Int = {
    val live = applyDeletes(spark, path,
      spark.read.parquet(activeIndexDir(spark, path)))
      .select(col("v_id"), col("v_vec"))
    val spill = indexSpill(spark, path)
    // spilled layouts replicate rows id-for-id — collapse for the curve
    val corpus = if (spill == 1) live else live.distinct()
    val cents = spark.read.parquet(s"$path/centroids")
    val np = calibrateNProbe(corpus, "v_id", "v_vec", cents, k, target,
      sampleSize, spill)
    writeMarker(spark, path, NProbeFile, np.toString)
    np
  }

  /** The stored serving probe count ([[calibrateIvfIndex]]), if any. */
  private[ml] def storedNProbe(spark: org.apache.spark.sql.SparkSession,
                               path: String): Option[Int] =
    readIntMarker(spark, path, NProbeFile)

  /** Resolve a caller's probe count against the index: positive values
    * pass through; `-1` serves at the stored calibration
    * ([[calibrateIvfIndex]]) or, uncalibrated, the fixed-fraction
    * fallback. Shared by every persisted search so the `-1` contract
    * cannot fork between the top-k, radius and PQ paths.
    */
  private def resolveNProbe(spark: org.apache.spark.sql.SparkSession,
                            path: String, nProbe: Int): Int = {
    // only -1 is the calibration sentinel: a typo'd 0 or -3 must fail
    // loudly, not silently serve at the stored calibration
    require(nProbe == -1 || nProbe > 0,
      s"nProbe must be positive or the -1 calibration sentinel (got $nProbe)")
    if (nProbe > 0) nProbe
    else storedNProbe(spark, path).getOrElse(
      autoNProbe(spark.read.parquet(s"$path/centroids").count().toInt))
  }

  /** Incremental append to a persisted IVF-PQ index
    * ([[saveIvfPqIndex]]): the new batch is assigned against the INDEX'S
    * centroids and encoded with the INDEX'S codebook (residual-aware —
    * the flag comes from the codebook), then appended to the
    * centroid-partitioned lists. This is the streaming-ingest contract:
    * the quantizer is frozen at build time, appended vectors are coded
    * under it, and the drift cost is a (measurable, recall-harness-
    * visible) quantization error on data far from the training
    * distribution — rebuild when it matters. O(batch) work: one
    * assignment + one encode pass over the new rows only.
    */
  def appendToIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                         batch: DataFrame, idCol: String, vecCol: String,
                         path: String): Unit = {
    val (model, residual) = readCodebook(spark, path)
    val centroids = spark.read.parquet(s"$path/centroids")
    val cents = broadcast(centroids)
    val assigned = assignToCentroids(batch, idCol, vecCol, centroids)
    val pqInput =
      if (!residual)
        assigned.select(col("v_id"), col("centroid_id"),
          col("v_vec").cast("array<double>").as("pq_vec"))
      else assigned.join(cents, "centroid_id")
        .select(col("v_id"), col("centroid_id"),
          zip_with(col("v_vec").cast("array<double>"),
            col("c_vec").cast("array<double>"), (a, b) => a - b).as("pq_vec"))
    pqInput.select(col("v_id"), col("centroid_id"),
        pqCodesOf(col("pq_vec"), model).as("codes"),
        lit(readAnnEpoch(spark, path)).as("seq"))
      .write.mode("append").partitionBy("centroid_id")
      .parquet(activeIndexDir(spark, path))
    // keep the merge-fuel sidecar in sync when the build opted into one
    if (hasRawSidecar(spark, path))
      batch.select(col(idCol).as("v_id"), col(vecCol).as("v_vec"))
        .withColumn("seq", lit(readAnnEpoch(spark, path)))
        .write.mode("append").parquet(activeRawDir(spark, path))
  }

  /** IVF search against a persisted index ([[saveIvfIndex]]): same
    * ranking semantics as [[ivfSearch]], but the corpus pass is replaced
    * by a read of only the probed centroid partitions.
    *
    * `rerank = R > 0` finishes with the exact [[exactRerank]] stage over
    * an R-deep shortlist — the same recall lever [[ivfPqSearchPersisted]]
    * has, so a deployment switching index types keeps the knob. Unlike
    * the PQ index (codes only), a plain-IVF index STORES the raw vectors,
    * so the exact pass defaults to the index itself; pass `rerankCorpus`
    * only to re-rank against fresher vectors than the indexed ones.
    * Output switches to the rerank contract: (q_id, n_id, dist, rk) by
    * exact L2², matching the PQ path's reranked shape.
    *
    * `where` = FILTERED search over the attribute columns the build
    * persisted (`saveIvfIndex(attrCols = ...)`): the predicate is
    * applied to the probed lists BEFORE ranking (pre-filtering), so the
    * result is the true top-k among matching vectors — and pushable
    * predicates reach the parquet scan of the probed partitions. The
    * codes-only IVF-PQ index has no attribute rows by design; filtered
    * search belongs to the raw-vector indexes (or finish a PQ shortlist
    * with [[exactRerank]] against an attribute-filtered corpus).
    *
    * `facetCap = (attrCol, m)` = DIVERSIFIED search: at most m results
    * per facet value per query, selected best-first by the same ranking
    * (output then carries the facet column). Composes with `where`, with
    * deletions, and with `rerank` (the cap constrains the R-deep
    * shortlist; the exact top-k of a capped set stays ≤m per facet, and
    * the output keeps the rerank shape without the facet column). For
    * embedding-space (facet-free) diversity see [[mmrRerank]].
    *
    * `excludeSelf = false`: for callers whose query ids are synthetic
    * (raw vectors keyed by position rather than corpus rows), where an
    * id-equality "self" match is a coincidence that would drop a real
    * neighbor. Defaults to true — the corpus-row-as-query contract every
    * oracle gate replicates.
    */
  def ivfSearchPersisted(spark: org.apache.spark.sql.SparkSession,
                         path: String, queries: DataFrame,
                         idCol: String, vecCol: String, k: Int,
                         nProbe: Int, rerank: Int = 0,
                         rerankCorpus: Option[DataFrame] = None,
                         where: Option[Column] = None,
                         facetCap: Option[(String, Int)] = None,
                         excludeSelf: Boolean = true): DataFrame = {
    // nProbe = -1: serve at the index's CALIBRATED probe count
    // ([[calibrateIvfIndex]]'s `_nprobe` marker); an uncalibrated index
    // falls back to the structure-free fixed fraction
    val np = resolveNProbe(spark, path, nProbe)
    // one marker read per search (the rerank and dedup branches both
    // need it — each previously re-read the sidecar file)
    val spillFactor = indexSpill(spark, path)
    if (rerank > 0) {
      // spilled layouts replicate rows id-for-id — collapse before the
      // exact pass, or each candidate scores `spill` times and the
      // duplicates occupy top-k slots. getOrElse is by-name: the index
      // read (schema + tombstones) only happens when the caller didn't
      // supply a corpus.
      val corpus = rerankCorpus.getOrElse {
        val fromIndex = applyDeletes(spark, path,
            spark.read.parquet(activeIndexDir(spark, path)))
          .select(col("v_id").as(idCol), col("v_vec").as(vecCol))
        if (spillFactor == 1) fromIndex
        else fromIndex.distinct()
      }
      // the shortlist below is already `where`-filtered (pre-filtering)
      // and facet-capped, so the exact pass only ever re-ranks
      // predicate-passing ids and the ≤m-per-facet bound survives the
      // re-rank (a top-k of a capped set is still capped). Output keeps
      // the rerank contract (q_id, n_id, dist, rk) — the facet column is
      // a shortlist-selection constraint here, not an output column.
      return exactRerank(
        ivfSearchPersisted(spark, path, queries, idCol, vecCol,
          math.max(rerank, k), np, where = where,
          facetCap = facetCap, excludeSelf = excludeSelf),
        corpus, queries, idCol, vecCol, k)
    }
    val cents = broadcast(spark.read.parquet(s"$path/centroids"))
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("c_cos").desc, col("centroid_id").asc)
    val probes = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .crossJoin(cents)
      .withColumn("c_cos", nanvl(cosine(col("q_vec"), col("c_vec")), lit(-2d)))
      .withColumn("c_rk", row_number().over(probeW))
      .filter(col("c_rk") <= np)
      .select(col("q_id"), col("q_vec"), col("centroid_id"))
    // PRE-filtering: the attribute predicate (over attrCols persisted at
    // build) drops rows before ranking, so the returned k are the best k
    // MATCHING vectors — not the survivors of a post-filtered top-k,
    // which under a selective predicate can come back near-empty. The
    // filter sits directly on the parquet scan, so Catalyst pushes
    // pushable predicates into the probed-partition reads.
    val (index0, probesL) = prunedIndexRead(spark, path, probes)
    val index = where.map(index0.filter).getOrElse(index0)
    val scored1 = index.join(broadcast(probesL), Seq("centroid_id"))
      // excludeSelf = false: callers whose query ids are SYNTHETIC (raw
      // vectors keyed by position, not corpus rows) — an id-equality
      // "self" there is a coincidence that would silently drop a real
      // neighbor
      .filter(if (excludeSelf) col("q_id") =!= col("v_id") else lit(true))
      .withColumn("cosine", nanvl(cosine(col("q_vec"), col("v_vec")), lit(-2d)))
    // a spilled index replicates each vector into `spill` lists — a
    // candidate reachable through several probed lists collapses to one
    // row (identical copies) before capping/ranking; single-assigned
    // indexes skip the exchange entirely
    val scored = if (spillFactor == 1) scored1
      else scored1.select(Seq(col("q_id"), col("v_id"), col("cosine")) ++
        facetCap.map { case (fc, _) => col(fc) }.toSeq: _*).distinct()
    // RESULT DIVERSIFICATION (`facetCap = (attrCol, m)`): keep only each
    // query's best m candidates per facet value (source, domain, dedup
    // cluster — any attribute the build persisted) BEFORE the final
    // top-k, so one hot facet cannot monopolize the result list. The
    // per-(query, facet) selection goes through the TopKPerGroup heap —
    // bounded state per group, no mega-partition sort.
    val capped = facetCap match {
      case None => scored
      case Some((fc, m)) =>
        graft.operators.TopK.perGroup(scored,
          Seq(col("q_id"), col(fc)),
          Seq(col("cosine").desc, col("v_id").asc), m)
    }
    val ranked = topKRanked(capped, "q_id", "cosine", "v_id", k)
    facetCap match {
      case None =>
        ranked.select(col("q_id"), col("v_id").as("n_id"), col("cosine"),
          col("rk"))
      case Some((fc, _)) =>
        ranked.select(col("q_id"), col("v_id").as("n_id"), col(fc),
          col("cosine"), col("rk"))
    }
  }

  /** [[radiusSearch]] against a persisted [[saveIvfIndex]] layout:
    * candidates come from the `nProbe` probed lists only (partition-
    * pruned reads, tombstones applied), so like IVF top-k it is
    * approximate at small nProbe and exact at full probe depth —
    * with the same `where` attribute pre-filtering as
    * [[ivfSearchPersisted]]. The 100-TB shape of "find every committed
    * near-duplicate of these documents" without a corpus scan.
    */
  def ivfRadiusSearchPersisted(spark: org.apache.spark.sql.SparkSession,
                               path: String, queries: DataFrame,
                               idCol: String, vecCol: String,
                               minCosine: Double, nProbe: Int,
                               where: Option[Column] = None): DataFrame = {
    val np = resolveNProbe(spark, path, nProbe)
    val cents = broadcast(spark.read.parquet(s"$path/centroids"))
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("c_cos").desc, col("centroid_id").asc)
    val probes = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .crossJoin(cents)
      .withColumn("c_cos", nanvl(cosine(col("q_vec"), col("c_vec")), lit(-2d)))
      .withColumn("c_rk", row_number().over(probeW))
      .filter(col("c_rk") <= np)
      .select(col("q_id"), col("q_vec"), col("centroid_id"))
    val (index0, probesL) = prunedIndexRead(spark, path, probes)
    val index = where.map(index0.filter).getOrElse(index0)
    val hits = index.join(broadcast(probesL), Seq("centroid_id"))
      .filter(col("q_id") =!= col("v_id"))
      .withColumn("cosine", nanvl(cosine(col("q_vec"), col("v_vec")), lit(-2d)))
      .filter(col("cosine") >= minCosine)
      .select(col("q_id"), col("v_id").as("n_id"), col("cosine"))
    // spilled indexes: the same in-radius pair can surface from several
    // probed lists — radius results are SETS, collapse the copies
    if (indexSpill(spark, path) == 1) hits else hits.distinct()
  }

  /** Read `$path/index` with a STATIC partition filter on the probed
    * centroid ids. The probe set is tiny by construction (queries ×
    * nProbe ids), so collecting it costs one small job — and buys
    * GUARANTEED partition pruning: Spark's dynamic partition pruning on
    * the `index ⋈ broadcast(probes)` join falls back to a no-op filter
    * here (the probe subquery's window+crossJoin makes its broadcast
    * non-reusable, and the scan-metrics probe showed numFiles = ALL
    * partitions read). With the literal IN-list the un-probed lists are
    * never opened — the actual nProbe/numCentroids IO contract the
    * persisted layout exists for.
    */
  /** Partition-pruned index read + the probe frame as a LOCAL relation.
    * The probe set is bounded by contract (query set × nProbe rows), and
    * the pruning IN-list needs it on the driver anyway — so collect it
    * ONCE and hand the same rows back for the broadcast join side. The
    * previous shape ran the probes subplan twice per search: a
    * distinct+collect job for the IN-list, then a full recompute under
    * the BroadcastExchange.
    */
  private def prunedIndexRead(
      spark: org.apache.spark.sql.SparkSession, path: String,
      probes: DataFrame): (DataFrame, DataFrame) = {
    val rows = probes.collect()
    val idIdx = probes.schema.fieldIndex("centroid_id")
    val probeIds = rows.map(_.get(idIdx)).distinct.toIndexedSeq
    val local = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), probes.schema)
    (applyDeletes(spark, path,
      spark.read.parquet(activeIndexDir(spark, path))
        .filter(col("centroid_id").isin(probeIds: _*))), local)
  }

  // ------------------------------------------------- persisted LSH index

  private val LshFormatVersion = 1

  /** Persist the sign-LSH bucketed corpus — the third persisted index
    * type next to [[saveIvfIndex]] / [[saveIvfPqIndex]], for the regime
    * where LSH wins (no training pass at all, O(1) bucket routing, cheap
    * appends). Layout mirrors the IVF family:
    *
    *   `$path/index/bucket=<b>/` — (v_id, v_vec) rows, one dir per bucket
    *   `$path/meta`              — (n_bits, format_version), so searches
    *                               and appends hash with the INDEX'S bits
    *                               (a mismatched nBits would probe wrong
    *                               buckets silently)
    *
    * Shares the whole index lifecycle: [[appendToLshIndex]] growth,
    * [[compactAnnIndex]] small-files maintenance via the `_index_gen`
    * pointer, rebuild-resets. Size `nBits` with [[autoLshBits]].
    */
  def saveLshIndex(corpus: DataFrame, idCol: String, vecCol: String,
                   path: String, nBits: Int,
                   attrCols: Seq[String] = Nil): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus.select(col(idCol).as("v_id") +: col(vecCol).as("v_vec") +:
        attrCols.map(col): _*)
      .withColumn("bucket", signBucket(col("v_vec"), nBits))
      .withColumn("seq", lit(0L)) // deletion-epoch stamp
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/index")
    Seq((nBits, LshFormatVersion)).toDF("n_bits", "format_version")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    writeAttrsFile(spark, path, attrCols)
    resetIndexGenerations(spark, path)
  }

  /** The index's hash width, with the same explicit-rebuild error
    * contract as [[readCodebook]]: wrong columns, zero rows, or a future
    * format version all say "rebuild with saveLshIndex" instead of
    * failing opaquely (or worse, probing wrong buckets).
    */
  private def readLshMeta(spark: org.apache.spark.sql.SparkSession,
                          path: String): Int = {
    val df = spark.read.parquet(s"$path/meta")
    val expected = Set("n_bits", "format_version")
    if (!expected.subsetOf(df.columns.toSet))
      throw new IllegalStateException(
        s"incompatible LSH index format at $path/meta: found columns " +
          s"${df.columns.sorted.mkString("[", ", ", "]")}, expected " +
          s"$expected — rebuild the index with saveLshIndex")
    val rows = df.collect()
    if (rows.isEmpty)
      throw new IllegalStateException(
        s"empty LSH index meta at $path/meta (interrupted write?) — " +
          "rebuild the index with saveLshIndex")
    val ver = rows.head.getAs[Int]("format_version")
    if (ver != LshFormatVersion)
      throw new IllegalStateException(
        s"incompatible LSH index format version $ver at $path/meta " +
          s"(this build reads $LshFormatVersion) — rebuild the index " +
          "with saveLshIndex")
    rows.head.getAs[Int]("n_bits")
  }

  /** Append new vectors to a persisted [[saveLshIndex]]: hash with the
    * INDEX'S stored bit width, append into the active generation.
    * O(batch); searches see appended vectors immediately (no quantizer to
    * drift — sign buckets are data-independent, so an LSH index never
    * needs the re-train the IVF family's drift harness schedules).
    */
  def appendToLshIndex(spark: org.apache.spark.sql.SparkSession,
                       batch: DataFrame, idCol: String, vecCol: String,
                       path: String): Unit = {
    val nBits = readLshMeta(spark, path)
    val attrs = indexAttrCols(spark, path)
    batch.select(col(idCol).as("v_id") +: col(vecCol).as("v_vec") +:
        attrs.map(col): _*)
      .withColumn("bucket", signBucket(col("v_vec"), nBits))
      .withColumn("seq", lit(readAnnEpoch(spark, path)))
      .write.mode("append").partitionBy("bucket")
      .parquet(activeIndexDir(spark, path))
  }

  /** [[knnLsh]] against a persisted index: identical ranking (the spec
    * pins it), with the corpus hash pass replaced by a read of ONLY the
    * probed bucket partitions — the static IN-list contract shared with
    * [[ivfSearchPersisted]] (DPP cannot be trusted on the
    * index ⋈ broadcast(probes) shape; the probe set is queries×(1+m)
    * values, driver-collectable by construction). At `multiProbe = m`
    * the read touches ≤ |queries|·(1+m) of the 2^nBits bucket dirs.
    */
  def lshSearchPersisted(spark: org.apache.spark.sql.SparkSession,
                         path: String, queries: DataFrame,
                         idCol: String, vecCol: String, k: Int,
                         multiProbe: Int = 0,
                         where: Option[Column] = None): DataFrame = {
    val nBits = readLshMeta(spark, path)
    require(multiProbe >= 0 && multiProbe <= nBits,
      s"multiProbe must be in [0, nBits=$nBits]")
    val qb = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("q_bucket", signBucket(col("q_vec"), nBits))
    val probes = col("q_bucket") +: (0 until multiProbe).map(j =>
      col("q_bucket").bitwiseXOR(lit(1L << j)))
    val q = qb.select(col("q_id"), col("q_vec"),
      explode(array(probes: _*)).as("bucket"))
    val probeBuckets = q.select(col("bucket")).distinct()
      .collect().map(_.get(0))
    val visible = applyDeletes(spark, path,
      spark.read.parquet(activeIndexDir(spark, path))
        .filter(col("bucket").isin(probeBuckets.toIndexedSeq: _*)))
    // PRE-filtering, same contract as ivfSearchPersisted's `where`
    val index = where.map(visible.filter).getOrElse(visible)
      .select(col("v_id").as("n_id"), col("v_vec").as("n_vec"),
        col("bucket"))
    val scored = index.join(broadcast(q), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine", nanvl(cosine(col("q_vec"), col("n_vec")), lit(-2d)))
    topKRanked(scored, "q_id", "cosine", "n_id", k)
      .select(col("q_id"), col("n_id"), col("cosine"), col("rk"))
  }

  // ------------------------------------- index generations & compaction

  /** Raw-vector SIDECAR dir aligned with a generation's list dir:
    * `index` ↔ `raw`, `index.genN` ↔ `raw.genN` — one `_index_gen`
    * pointer flips both atomically. The sidecar is MERGE FUEL, not a
    * serving path: [[saveIvfPqIndex]]`(keepRawVectors = true)` writes
    * it, appends keep it in sync, compaction purges it alongside the
    * lists (a cleared tombstone log must not resurrect deleted raw
    * rows), and [[mergeIvfPqIndexes]] reads it to re-encode under the
    * surviving codebook.
    */
  private def activeRawDir(spark: org.apache.spark.sql.SparkSession,
                           path: String): String = {
    val idx = Generations.AnnLists.activeName(fsOf(spark, path), path).get
    s"$path/${Generations.AnnLists.sidecar(idx, "raw")}"
  }

  private def hasRawSidecar(spark: org.apache.spark.sql.SparkSession,
                            path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(activeRawDir(spark, path))
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** The active inverted-list directory of a persisted index: `_index_gen`
    * names it after a [[compactAnnIndex]] flip; absent (every
    * freshly-built index) means the original `index` ([[Generations]]).
    */
  private[graft] def activeIndexDir(
      spark: org.apache.spark.sql.SparkSession, path: String): String =
    Generations.AnnLists.active(fsOf(spark, path), path)

  /** MERGE two raw-vector IVF indexes under A's coarse quantizer — the
    * shared-quantizer segment merge (FAISS's merge convention): A's
    * live lists copy through with their stored assignments; B's live
    * vectors RE-ASSIGN to A's centroid table (one broadcast-argmax pass
    * over B only — raw vectors live in the lists, so no corpus re-read);
    * the result is a fresh single-generation index at `outPath` with
    * A's centroids. Deletion state folds in (tombstoned rows drop, seq
    * resets), attr layouts must match, id disjointness is the caller's
    * contract as in every id-space composition here.
    *
    * Quantization caveat, by construction: B's vectors now route under
    * A's quantizer, so probe recall for B's half is whatever A's
    * centroids give it — the same drift the IVF family's re-train
    * harness schedules; merge then re-train when the halves'
    * distributions differ materially. Parity with assigning the union
    * under A's centroids is spec-pinned.
    */
  def mergeIvfIndexes(spark: org.apache.spark.sql.SparkSession,
                      aPath: String, bPath: String,
                      outPath: String): Unit = {
    val attrs = indexAttrCols(spark, aPath)
    require(attrs == indexAttrCols(spark, bPath),
      s"attr layouts differ: $attrs vs ${indexAttrCols(spark, bPath)}")
    // the merged layout keeps A's replication factor: B re-assigns with
    // it, and the marker carries to the output so search-time dedup
    // semantics never fork (mismatched factors would silently mix)
    val spill = indexSpill(spark, aPath)
    require(spill == indexSpill(spark, bPath),
      s"spill factors differ: $spill vs ${indexSpill(spark, bPath)} — " +
        "rebuild one side first")
    val cents = spark.read.parquet(s"$aPath/centroids")
    def live(p: String) = IndexTombstones.applyDeletes(spark, p,
      spark.read.parquet(activeIndexDir(spark, p)), "v_id")
    val aRows = live(aPath).select(col("v_id") +: col("v_vec") +:
      col("centroid_id") +: attrs.map(col): _*)
    val bRows = assignToCentroidsSpill(
      live(bPath).select(col("v_id") +: col("v_vec") +: attrs.map(col): _*),
      "v_id", "v_vec", cents, spill, attrs)
      .select(col("v_id") +: col("v_vec") +: col("centroid_id") +:
        attrs.map(col): _*)
    aRows.unionByName(bRows)
      .withColumn("seq", lit(0L))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$outPath/index")
    cents.write.mode("overwrite").parquet(s"$outPath/centroids")
    writeAttrsFile(spark, outPath, attrs)
    writeSpillFile(spark, outPath, spill)
    // merged lists are a new layout: any calibration stored at outPath
    // (in-place re-merge) no longer describes them
    clearMarker(spark, outPath, NProbeFile)
    resetIndexGenerations(spark, outPath)
  }

  /** MERGE two sign-LSH indexes — EXACT, unlike the IVF merge: sign
    * buckets are data-independent, so two indexes hashed at the same
    * bit width union row-for-row into an index identical to a rebuild
    * from the union corpus (spec-pinned). Live rows only; seq resets;
    * bit widths and attr layouts must match.
    */
  def mergeLshIndexes(spark: org.apache.spark.sql.SparkSession,
                      aPath: String, bPath: String,
                      outPath: String): Unit = {
    import spark.implicits._
    val nBits = readLshMeta(spark, aPath)
    require(nBits == readLshMeta(spark, bPath),
      s"bit widths differ: $nBits vs ${readLshMeta(spark, bPath)} — " +
        "rebuild one side first")
    val attrs = indexAttrCols(spark, aPath)
    require(attrs == indexAttrCols(spark, bPath),
      s"attr layouts differ: $attrs vs ${indexAttrCols(spark, bPath)}")
    def live(p: String) = IndexTombstones.applyDeletes(spark, p,
      spark.read.parquet(activeIndexDir(spark, p)), "v_id")
    val cols = Seq(col("v_id"), col("v_vec"), col("bucket")) ++ attrs.map(col)
    live(aPath).select(cols: _*)
      .unionByName(live(bPath).select(cols: _*))
      .withColumn("seq", lit(0L))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$outPath/index")
    Seq((nBits, LshFormatVersion)).toDF("n_bits", "format_version")
      .coalesce(1).write.mode("overwrite").parquet(s"$outPath/meta")
    writeAttrsFile(spark, outPath, attrs)
    resetIndexGenerations(spark, outPath)
  }

  /** TRUE MERGE of two persisted IVF-PQ indexes under A's frozen model —
    * previously rebuild-only (codes cannot re-encode without raw
    * vectors): B must carry the raw-vector SIDECAR
    * ([[saveIvfPqIndex]]`(keepRawVectors = true)`, loud error
    * otherwise). A's live codes copy through unchanged; B's live raw
    * vectors assign to A's coarse centroids and re-encode under A's
    * codebook (residual-aware, read from the codebook stamp) — exactly
    * the [[appendToIvfPqIndex]] contract, so `merge(A, B)` answers
    * bit-identically to appending B's raw corpus into a copy of A
    * (spec-pinned). The same quantization caveat as [[mergeIvfIndexes]]
    * applies to B's half: A's quantizer was not trained on it — merge
    * then rebuild when the halves' distributions differ materially.
    *
    * The output carries a sidecar iff BOTH inputs have one (A's raw ∪
    * B's raw, seq reset), keeping the merged index mergeable in turn.
    * Deletion state folds in on both sides; seq resets; the result is a
    * fresh single-generation index at `outPath` with A's centroids and
    * codebook. One distributed assign+encode pass over B only — A's
    * (typically much larger) half is a straight copy.
    */
  def mergeIvfPqIndexes(spark: org.apache.spark.sql.SparkSession,
                        aPath: String, bPath: String,
                        outPath: String): Unit = {
    require(hasRawSidecar(spark, bPath),
      s"IVF-PQ merge re-encodes B under A's codebook and needs B's " +
        s"raw-vector sidecar — rebuild $bPath with " +
        "saveIvfPqIndex(keepRawVectors = true)")
    val (model, residual) = readCodebook(spark, aPath)
    val centroids = spark.read.parquet(s"$aPath/centroids")
    val cents = broadcast(centroids)
    val aLive = applyDeletes(spark, aPath,
        spark.read.parquet(activeIndexDir(spark, aPath)))
      .select(col("v_id"), col("centroid_id"), col("codes"))
    val bRaw = applyDeletes(spark, bPath,
        spark.read.parquet(activeRawDir(spark, bPath)))
      .select(col("v_id"), col("v_vec"))
    val assigned = assignToCentroids(bRaw, "v_id", "v_vec", centroids)
    val pqInput =
      if (!residual)
        assigned.select(col("v_id"), col("centroid_id"),
          col("v_vec").cast("array<double>").as("pq_vec"))
      else assigned.join(cents, "centroid_id")
        .select(col("v_id"), col("centroid_id"),
          zip_with(col("v_vec").cast("array<double>"),
            col("c_vec").cast("array<double>"), (a, b) => a - b).as("pq_vec"))
    val bCoded = pqInput.select(col("v_id"), col("centroid_id"),
      pqCodesOf(col("pq_vec"), model).as("codes"))
    aLive.unionByName(bCoded)
      .withColumn("seq", lit(0L))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$outPath/index")
    centroids.write.mode("overwrite").parquet(s"$outPath/centroids")
    spark.read.parquet(s"$aPath/codebook")
      .coalesce(1).write.mode("overwrite").parquet(s"$outPath/codebook")
    val outRaw = new org.apache.hadoop.fs.Path(s"$outPath/raw")
    val fs = outRaw.getFileSystem(spark.sessionState.newHadoopConf())
    if (hasRawSidecar(spark, aPath))
      applyDeletes(spark, aPath,
          spark.read.parquet(activeRawDir(spark, aPath)))
        .select(col("v_id"), col("v_vec"))
        .unionByName(bRaw)
        .withColumn("seq", lit(0L))
        .write.mode("overwrite").parquet(outRaw.toString)
    else if (fs.exists(outRaw)) { fs.delete(outRaw, true); () }
    resetIndexGenerations(spark, outPath)
  }

  /** Compact a persisted index's inverted lists into ONE file per
    * partition — layout-agnostic: the partition column and list count
    * come from the directory listing, so the same op serves
    * [[saveIvfIndex]]/[[saveIvfPqIndex]] (`centroid_id=`) and
    * [[saveLshIndex]] (`bucket=`). Every append micro-batch adds a file
    * set to each touched partition, so a long-running
    * [[graft.streaming.StreamOps.annIndexStream]] accretes thousands of
    * small files per list — the classic streaming small-files problem:
    * at 100 TB the per-file open cost starts to dominate the
    * probed-partition reads the IN-list pruning exists to keep cheap.
    * Compaction rewrites the ACTIVE generation into `index.gen{g+1}`
    * (hash-repartitioned on the partition column, so each list lands in
    * exactly one task = one file per partition dir), then flips the
    * `_index_gen` pointer atomically. Readers resolve the pointer per
    * query; `keepPrevious = true` leaves the superseded generation on
    * disk for readers mid-scan (multi-minute scans at scale need a
    * retention grace — clean up out-of-band), mirroring
    * `compactShingleIndex`.
    *
    * Compaction is also the PURGE point of the deletion lifecycle:
    * tombstoned rows ([[deleteFromAnnIndex]]) are dropped from the
    * rewrite and the tombstone log is cleared once the pointer flips —
    * reclaiming the space and retiring the read-time anti-join cost.
    *
    * Single-writer contract (same as the shingle index): run compaction
    * from the maintenance process that owns appends — an append racing
    * the compaction's read could land in the old generation and be lost.
    */
  def compactAnnIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String, keepPrevious: Boolean = false): Unit = {
    val fs = fsOf(spark, path)
    val gens = Generations.AnnLists
    val curName = gens.activeName(fs, path)
    val curDir = s"$path/${curName.get}"
    val nextName = gens.next(curName)
    val partDirs = fs.listStatus(new org.apache.hadoop.fs.Path(curDir))
      .map(_.getPath.getName).filter(_.contains("="))
    require(partDirs.nonEmpty, s"no partition dirs under $curDir")
    val partCol = partDirs.head.takeWhile(_ != '=')
    // Purge tombstoned rows while rewriting ([[deleteFromAnnIndex]]):
    // survivors keep their seq stamp and the epoch file is untouched, so
    // a crash between the pointer flip and the tombstone clear below
    // leaves stale tombstones that match no surviving row — never a
    // resurrect-or-overhide window.
    val cleaned = applyDeletes(spark, path, spark.read.parquet(curDir))
      .repartition(partDirs.length, col(partCol))
    // Lists keep arrival order: sorting a list by a similarity-locality
    // key (its PQ code arrays, or a Morton key of the leading dims) does
    // not pay (ivf_layout.json, 20k-vector sf1 sweep corpus: bytes on
    // disk and bytes read by the probed search within 0.02% for both
    // index types) — near-iid float vectors carry no local byte
    // redundancy, and PQ code pages compress order-free at this size.
    cleaned
      .write.mode("overwrite").partitionBy(partCol)
      .parquet(s"$path/$nextName")
    // purge the raw sidecar in the SAME generation step: the tombstone
    // log clears below, and an unpurged sidecar would resurrect deleted
    // vectors at the next merge. The pointer flip publishes both dirs.
    val curRaw = s"$path/${gens.sidecar(curName.get, "raw")}"
    if (fs.exists(new org.apache.hadoop.fs.Path(curRaw)))
      applyDeletes(spark, path, spark.read.parquet(curRaw))
        .write.mode("overwrite")
        .parquet(s"$path/${gens.sidecar(nextName, "raw")}")
    gens.flip(fs, path, nextName, curName, keepPrevious)
    IndexTombstones.clearLog(spark, path)
  }

  /** A rebuild ([[saveIvfIndex]]/[[saveIvfPqIndex]]) always writes the
    * original `index` dir — reset the generation pointer so readers see
    * the rebuild, drop superseded `index.gen*` dirs, and clear the
    * deletion state ([[deleteFromAnnIndex]]): a rebuild re-indexes
    * whatever corpus the caller passed, so stale tombstones must not
    * hide rows of the new build.
    */
  private def resetIndexGenerations(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    IndexTombstones.reset(spark, path) // tombstones BEFORE the pointer
    Generations.AnnLists.reset(fsOf(spark, path), path)
  }

  // ------------------------------------------------- index deletions

  private def readAnnEpoch(spark: org.apache.spark.sql.SparkSession,
                           path: String): Long =
    IndexTombstones.readEpoch(spark, path)

  /** Delete vectors from a persisted index (any of the three types —
    * IVF / IVF-PQ / sign-LSH) WITHOUT touching the inverted lists: the
    * data-removal half of the index lifecycle. At 100 TB a removal
    * request (takedown, opt-out, contamination discovery) cannot wait
    * for a rebuild, and rewriting the touched lists per request churns
    * the same small-files problem compaction exists to fix — so deletes
    * are logged as TOMBSTONES and applied at read time:
    *
    *   `$path/deletes/`   — (v_id, del_seq) parquet rows, append-only
    *   `$path/_ann_epoch` — monotone delete-event counter
    *
    * Visibility rule: a list row (stamped `seq` = the epoch at its
    * append; build rows carry 0) is dead iff a tombstone exists with the
    * same id and `del_seq > seq`. That makes re-insertion after deletion
    * WORK: the re-appended row's seq equals the tombstoning epoch, so
    * older tombstones don't hide it, while every copy present at delete
    * time stays hidden. Searches apply the rule as a left-anti join
    * BEFORE ranking (a deleted vector never occupies a shortlist slot);
    * the tombstone side never touches the driver, so mass deletions
    * scale like any other join.
    *
    * [[compactAnnIndex]] physically purges dead rows and clears the
    * tombstone log (the epoch file is kept — surviving rows keep their
    * seq, so a crash between the generation flip and the tombstone
    * clear leaves stale tombstones that match nothing, never a
    * correctness window). Write order here is epoch-then-tombstones:
    * a crash in between leaves a bumped epoch and no tombstones — a
    * no-op delete the caller retries — never tombstones that outrank
    * concurrent appends they shouldn't.
    *
    * Single-writer contract (shared with appends/compaction): run
    * deletes from the maintenance process that owns the index.
    */
  def deleteFromAnnIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String, ids: DataFrame,
                         idCol: String): Unit =
    IndexTombstones.logDeletes(spark, path, ids, idCol, "v_id")

  /** Filter tombstoned rows out of an inverted-list read — the
    * visibility rule documented on [[deleteFromAnnIndex]], shared with
    * the shingle index via [[IndexTombstones]].
    */
  private def applyDeletes(spark: org.apache.spark.sql.SparkSession,
                           path: String, lists: DataFrame): DataFrame =
    IndexTombstones.applyDeletes(spark, path, lists, "v_id")

  /** Hard-negative mining for contrastive training (the DPR/Contriever
    * recipe): for each query vector, the top-k most cosine-similar corpus
    * vectors with a DIFFERENT label — maximally confusable examples that
    * are known non-matches. Same broadcast-queries/one-corpus-pass shape
    * as [[knnBruteForce]]; the label inequality is applied before the
    * per-query top-k window so discarded candidates never rank.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("q_id"),
      col(vecCol).as("q_vec"), col(labelCol).as("q_label")))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      col(labelCol).as("n_label"))
    val scored = c.crossJoin(q)
      .filter(col("q_id") =!= col("n_id") && col("q_label") =!= col("n_label"))
      .withColumn("cosine", nanvl(cosine(col("q_vec"), col("n_vec")), lit(-2d)))
    topKRanked(scored, "q_id", "cosine", "n_id", k)
      .select(col("q_id"), col("n_id"), col("n_label"), col("cosine"), col("rk"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space, then within each
    * cluster drop every vector that has a cosine-similar neighbor
    * (>= threshold) with a smaller id. Clustering bounds the quadratic
    * pair work to within-cluster candidates — the defining trick that
    * makes semantic dedup tractable at corpus scale: the self-join is
    * co-partitioned on `centroid_id` (one shuffle each side, no
    * cartesian), and per-cluster pair counts are (n/k)² not n².
    *
    * Returns one row per vector: (v_id, centroid_id, kept). Centroid
    * seeding is the deterministic lowest-id rule shared with [[ivfIndex]];
    * swap in [[kmeansCentroids]] output at production scale.
    *
    * Skew guard (`maxClusterSize`): the within-cluster self-join is bounded
    * only while clusters are balanced — a degenerate embedding distribution
    * (everything near one centroid) makes one mega-cluster and the join
    * quadratic. Clusters above the cap therefore switch from all-pairs to
    * ANCHOR comparison: each member is compared against the cluster's
    * `maxClusterSize` lowest-id vectors only (selected through the
    * [[graft.plans.TopKPerGroup]] heap operator — bounded shuffle, no
    * mega-partition sort), so pair work is O(n·cap) instead of O(n²).
    * This is an approximation in exactly one case: a duplicate pair whose
    * members are BOTH outside the anchor set and dissimilar to every
    * anchor. In the degenerate distributions the cap exists for (a
    * near-identical mass), the lowest-id anchors cover the mass by
    * construction — unlike a drop-the-bucket guard, recall on the
    * adversarial input stays intact ([[SimilaritySpec]] asserts an
    * all-duplicates corpus still collapses to one kept vector).
    */
  def semanticDedup(vecs: DataFrame, idCol: String, vecCol: String,
                    numCentroids: Int, threshold: Double,
                    maxClusterSize: Int = Int.MaxValue,
                    refineIters: Int = 0): DataFrame = {
    // refineIters > 0: Lloyd-refined spherical k-means centroids instead of
    // raw lowest-id seeds — better-balanced clusters are the FIRST defense
    // against the mega-cluster case (the anchor cap below is the backstop)
    val index =
      if (refineIters <= 0) ivfIndex(vecs, idCol, vecCol, numCentroids)
      else assignToCentroids(vecs, idCol, vecCol,
        kmeansCentroids(vecs, idCol, vecCol, numCentroids, refineIters))
    // k cluster sizes — broadcast to tag members with their cluster's size
    val sizes = index.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("cluster_n"))
    val withN = index.join(broadcast(sizes), Seq("centroid_id"))
    val small = withN.filter(col("cluster_n") <= maxClusterSize)
    val big = withN.filter(col("cluster_n") > maxClusterSize)

    def droppedIds(lhs: DataFrame, rhs: DataFrame) =
      lhs.join(rhs, Seq("centroid_id"))
        .filter(col("id_a") < col("id_b"))
        .filter(cosine(col("vec_a"), col("vec_b")) >= threshold)
        .select(col("id_b").as("v_id"))

    val smallDropped = droppedIds(
      small.select(col("centroid_id"), col("v_id").as("id_a"),
        col("v_vec").as("vec_a")),
      small.select(col("centroid_id"), col("v_id").as("id_b"),
        col("v_vec").as("vec_b")))
    val anchors = graft.operators.TopK.perGroup(
        big.select(col("centroid_id"), col("v_id"), col("v_vec")),
        Seq(col("centroid_id")), Seq(col("v_id").asc), maxClusterSize)
      .select(col("centroid_id"), col("v_id").as("id_a"),
        col("v_vec").as("vec_a"))
    val bigDropped = droppedIds(anchors,
      big.select(col("centroid_id"), col("v_id").as("id_b"),
        col("v_vec").as("vec_b")))

    val dropped = smallDropped.union(bigDropped)
      .distinct()
      .withColumn("dropped", lit(true))
    index.select(col("v_id"), col("centroid_id"))
      .join(dropped, Seq("v_id"), "left")
      .select(col("v_id"), col("centroid_id"),
        coalesce(!col("dropped"), lit(true)).as("kept"))
  }

  /** Symmetric int8 quantization of an embedding column: per-vector
    * absolute max → scale, each component mapped to the integer grid
    * [-127, 127] by `floor(x · 127 / amax + 0.5)` (half-up, expressed as
    * floor so every engine rounds identically — `round()` rounding modes
    * differ). The all-zero vector quantizes to all zeros.
    *
    * The grid values are returned as DOUBLE (each is an exact small
    * integer): every downstream dot product is then a sum of integers
    * below 2^53, which IEEE doubles represent exactly, so quantized
    * scores are bit-identical across engines AND across summation orders
    * — unlike raw float cosine, quantized search is deterministic under
    * repartitioning. At 100 TB scale this is the memory play: 4x smaller
    * vectors in the scan and shuffle (int8 storage), with the hot loop
    * still the fused native cosine.
    */
  def quantizeInt8(vec: Column): Column = {
    // fused native kernel: one pass instead of two interpreted HOF
    // lambdas per row (element-identical — parity spec + gated oracle)
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.QuantizeInt8Vec(
      ColumnBridge.expression(vec)))
  }

  /** Exact top-k by QUANTIZED cosine: [[knnBruteForce]] over
    * [[quantizeInt8]] vectors. Scores differ slightly from float cosine
    * (that is the accuracy/memory trade), but are fully deterministic.
    */
  def knnQuantized(corpus: DataFrame, queries: DataFrame,
                   idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("q_id"),
      quantizeInt8(col(vecCol)).as("q_vec")))
    val c = corpus.select(col(idCol).as("n_id"),
      quantizeInt8(col(vecCol)).as("n_vec"))
    val scored = c.crossJoin(q)
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("qcosine", nanvl(cosine(col("q_vec"), col("n_vec")), lit(-2d)))
    topKRanked(scored, "q_id", "qcosine", "n_id", k)
      .select(col("q_id"), col("n_id"), col("qcosine"), col("rk"))
  }

  /** Deterministic ±1 random-projection matrix (Achlioptas 2003: sign
    * matrices satisfy Johnson–Lindenstrauss): entry (j, i) from a fixed
    * golden-ratio multiplicative hash — reproducible everywhere, no RNG
    * state. The sign comes from the full splitmix64 finalizer of the flat
    * index: a single odd multiply is NOT enough — it is invertible mod
    * 2^64, so any fixed bit of `index * oddConstant` is a linear-ish
    * function of the index bits and consecutive rows (indices in
    * arithmetic progression) come out identical or anti-identical,
    * collapsing the matrix toward rank 1 and silently voiding the JL
    * guarantee. The xor-shift rounds break that linearity; rows are
    * pairwise near-orthogonal (asserted by `SimilaritySpec`).
    */
  def projectionMatrix(inDim: Int, outDim: Int): Seq[Seq[Double]] =
    (0 until outDim).map { j =>
      (0 until inDim).map { i =>
        var h = (j.toLong * inDim + i) * 0x9E3779B97F4A7C15L
        h ^= (h >>> 30); h *= 0xBF58476D1CE4E5B9L
        h ^= (h >>> 27); h *= 0x94D049BB133111EBL
        h ^= (h >>> 31)
        if ((h & 1L) == 0L) 1.0 else -1.0
      }
    }

  /** Exact refinement of an ANN shortlist (the FAISS `IndexRefineFlat`
    * pattern): re-rank each query's top-`R` approximate candidates by the
    * EXACT L2² against the raw vectors and keep the top-`k`. The
    * approximate stage only has to land the true neighbors anywhere in
    * its R-deep shortlist — a far weaker ask than ranking them into the
    * top k — so recall multiplies at the cost of R raw-vector reads per
    * query (the recall harness quantifies it; at R = 5k it roughly
    * doubles PQ recall@10 on the test corpus).
    *
    * Scale shape: the shortlist is queries × R rows of bare ids; when
    * that is broadcast-small (the usual case) AQE turns the candidate
    * fetch into a map-side semi-join pass over the corpus with no corpus
    * shuffle, and the per-query top-k then runs through the bounded
    * TopKPerGroup heap. The hints are deliberately NOT hard-coded:
    * R and the query count are caller-controlled, so a large batch ×
    * deep R must degrade to a shuffle join rather than blow the
    * driver's broadcast limit — both inputs sit behind shuffles, so AQE
    * decides from their ACTUAL materialized sizes, not estimates. On a
    * persisted index the same join prunes to the candidate rows'
    * partitions instead.
    */
  def exactRerank(shortlist: DataFrame, corpus: DataFrame,
                  queries: DataFrame, idCol: String, vecCol: String,
                  k: Int): DataFrame = {
    val cvec = corpus.select(col(idCol).as("n_id"),
      col(vecCol).cast("array<double>").as("n_vec"))
    val qvec = queries.select(col(idCol).as("q_id"),
      col(vecCol).cast("array<double>").as("q_vec"))
    val scored = cvec
      .join(shortlist.select(col("q_id"), col("n_id")), "n_id")
      .join(qvec, "q_id")
      .withColumn("dist", l2sq(col("q_vec"), col("n_vec")))
    val top = graft.operators.TopK.perGroup(scored, Seq(col("q_id")),
      Seq(col("dist").asc, col("n_id").asc), k)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("dist").asc, col("n_id").asc)
    top.withColumn("rk", row_number().over(w))
      .select(col("q_id"), col("n_id"), col("dist"), col("rk"))
  }

  /** MMR (Maximal Marginal Relevance, Carbonell & Goldstein 1998)
    * re-ranking of a per-query shortlist: greedily select k candidates
    * maximizing `λ·sim(q, c) − (1−λ)·max_{s ∈ selected} sim(c, s)` — the
    * embedding-space diversity twin of `facetCap` (no attribute needed;
    * near-duplicate candidates suppress each other directly). λ = 1
    * degenerates to plain top-k by query similarity; λ → 0 maximizes
    * pairwise spread.
    *
    * Input `shortlist` is any (q_id, n_id) result (e.g. a persisted
    * search at depth R ≥ k); vectors come from `corpus`/`queries`. The
    * greedy loop is inherently sequential PER QUERY but embarrassingly
    * parallel ACROSS queries, so it runs as one `flatMapGroups` over
    * q_id: per group the work is O(R·k) dot products on R shortlist
    * vectors — driver-free, bounded by the shortlist depth, and shuffled
    * once on q_id. (Iterative greedy selection is not SQL-expressible,
    * so this operator is spec-gated, not oracle-gated — the house
    * convention for iterative ops.)
    *
    * Ties (equal marginal score) break on lower n_id; NaN cosines rank
    * as −2 (the repo-wide degenerate-vector rule), so zero-norm vectors
    * never win a selection round.
    */
  def mmrRerank(shortlist: DataFrame, corpus: DataFrame,
                queries: DataFrame, idCol: String, vecCol: String,
                k: Int, lambda: Double): DataFrame = {
    require(lambda >= 0 && lambda <= 1, "lambda must be in [0, 1]")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cvec = corpus.select(col(idCol).cast("long").as("n_id"),
      col(vecCol).cast("array<double>").as("n_vec"))
    val qvec = queries.select(col(idCol).cast("long").as("q_id"),
      col(vecCol).cast("array<double>").as("q_vec"))
    val rows = shortlist.select(col("q_id").cast("long"), col("n_id").cast("long"))
      .join(cvec, "n_id").join(qvec, "q_id")
      .select(col("q_id"), col("n_id"), col("n_vec"), col("q_vec"))
      .as[(Long, Long, Seq[Double], Seq[Double])]
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0d; var na = 0d; var nb = 0d; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      val c = dot / (math.sqrt(na) * math.sqrt(nb))
      if (c.isNaN) -2d else c
    }
    rows.groupByKey(_._1).flatMapGroups { (q, it) =>
      val cands = it.toArray.sortBy(_._2) // deterministic scan order
      if (cands.isEmpty) Iterator.empty
      else {
        val qv = cands.head._4
        val rel = cands.map(c => cos(qv, c._3))
        val picked = scala.collection.mutable.ArrayBuffer.empty[Int]
        val maxSimToSel = Array.fill(cands.length)(-2d)
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Double, Int)]
        while (picked.size < math.min(k, cands.length)) {
          var best = -1; var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < cands.length) {
            if (!picked.contains(i)) {
              val penalty = if (picked.isEmpty) 0d else maxSimToSel(i)
              val s = lambda * rel(i) - (1 - lambda) * penalty
              if (s > bestScore ||
                  (s == bestScore && best >= 0 &&
                    cands(i)._2 < cands(best)._2)) {
                best = i; bestScore = s
              }
            }
            i += 1
          }
          picked += best
          out += ((q, cands(best)._2, rel(best), picked.size))
          // update each remaining candidate's max similarity to the
          // selected set with the newly picked vector
          var j = 0
          while (j < cands.length) {
            if (!picked.contains(j)) {
              val s = cos(cands(best)._3, cands(j)._3)
              if (s > maxSimToSel(j)) maxSimToSel(j) = s
            }
            j += 1
          }
        }
        out.iterator
      }
    }.toDF("q_id", "n_id", "cosine", "rk")
  }

  // --------------------------------------------- product quantization (PQ)

  /** A trained PQ codebook (Jégou et al. 2011, "Product Quantization for
    * Nearest Neighbor Search"): `codebooks(j)(c)` is centroid `c`'s
    * subvector in subspace `j` (`dim/numSubspaces` wide). A vector encodes
    * as one code per subspace — the index of its nearest centroid there —
    * and queries rank by the asymmetric distance (ADC): the exact L2²
    * between the query and the code row's reconstruction. Flat PQ is
    * [[ivfPqSearch]] with one coarse list (`numCentroids = 1`,
    * `nProbe = 1`); train once ([[pqTrain]] / [[pqTrainKmeans]]), persist
    * the codes with [[saveIvfPqIndex]], search many times with
    * [[ivfPqSearchPersisted]].
    */
  final case class PqModel(codebooks: Seq[Seq[Seq[Double]]], dim: Int) {
    val numSubspaces: Int = codebooks.size
    val numCentroids: Int = codebooks.head.size
    val sd: Int = dim / numSubspaces
    /** centLit(j)(c) = centroid c's subvector in subspace j (literal tree). */
    private[ml] def centLit: Column = array(codebooks.map(cb =>
      array(cb.map(c => array(c.map(lit): _*)): _*)): _*)
  }

  object PqModel {
    /** Codebooks from full-dim anchor vectors: subspace `j`'s codebook is
      * each anchor's `[j*sd, (j+1)*sd)` slice.
      */
    def fromAnchors(anchors: Seq[Seq[Double]], numSubspaces: Int,
                    dim: Int): PqModel = {
      val sd = dim / numSubspaces
      PqModel((0 until numSubspaces).map(j =>
        anchors.map(a => a.slice(j * sd, (j + 1) * sd))), dim)
    }
  }

  /** Codebook train: subvectors of the `numCentroids` lowest-id corpus
    * vectors — the deterministic analog of sample-initialized k-means, so
    * every engine rebuilds the identical codebook from the data alone (the
    * correctness oracle does). The collect is `numCentroids` rows,
    * driver-side by design.
    */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
              numSubspaces: Int = 8, numCentroids: Int = 16,
              dim: Int = 64): PqModel = {
    val sd = dim / numSubspaces
    require(sd * numSubspaces == dim,
      s"dim $dim must divide into $numSubspaces subspaces")
    val anchors: Seq[Seq[Double]] = corpus
      .select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .orderBy(col(idCol).asc).limit(numCentroids)
      .collect().map(_.getSeq[Double](1).toSeq).toSeq
    require(anchors.size == numCentroids && anchors.forall(_.size == dim),
      s"need $numCentroids anchor vectors of dim $dim")
    PqModel.fromAnchors(anchors, numSubspaces, dim)
  }

  // native codegen'd fold — bit-identical to the interpreted
  // aggregate(zip_with(a,b,(x,y)=>(x-y)*(x-y)), 0d, +) formulation
  private def l2sq(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.graftL2Sq(a, b)

  /** (subspace j, subvec) rows: every corpus vector exploded into its
    * `numSubspaces` subvectors — the working set of the per-subspace
    * k-means and the distortion metric.
    */
  private def subvecRows(corpus: DataFrame, vecCol: String,
                         numSubspaces: Int, sd: Int): DataFrame =
    corpus.select(explode(array((0 until numSubspaces).map { j =>
      struct(lit(j).as("j"),
        slice(col(vecCol).cast("array<double>"), j * sd + 1, sd).as("sv"))
    }: _*)).as("e")).select(col("e.j").as("j"), col("e.sv").as("sv"))

  /** Per-row distance list to subspace `j`'s codebook (j is a column). */
  private def codebookDists(model: PqModel): Column =
    transform(element_at(model.centLit, col("j") + 1),
      c => l2sq(col("sv"), c))

  /** Total quantization distortion of `model` over the corpus: the sum
    * across all (vector, subspace) cells of L2² to the nearest codebook
    * centroid — THE number PQ training minimizes, and the monotone
    * quantity [[pqTrainKmeans]]'s spec pins. One narrow pass + a scalar
    * aggregate.
    */
  def pqDistortion(corpus: DataFrame, idCol: String, vecCol: String,
                   model: PqModel): Double =
    subvecRows(corpus, vecCol, model.numSubspaces, model.sd)
      .select(array_min(codebookDists(model)).as("d"))
      .agg(coalesce(sum(col("d")), lit(0d))).head().getDouble(0)

  /** Lloyd-refined PQ codebooks: per-subspace k-means initialized at
    * [[pqTrain]]'s anchor codebook. Distortion is non-increasing in every
    * iteration from that init, so the refined model never quantizes worse
    * than the anchors — and in practice substantially better (the ANN
    * recall harness measures the lift).
    *
    * Scale: ALL subspaces refine in one distributed job per iteration —
    * the corpus explodes once to (subspace, subvec) rows, assignment is a
    * per-row argmin against the broadcast-literal codebooks, and the
    * update is one (subspace, code, position) hash aggregation whose
    * result (numSubspaces·numCentroids·sd doubles — ~8 KB at the
    * defaults) is the only thing the driver ever holds. Cells that lose
    * every member keep their previous centroid.
    *
    * The per-iteration assignment runs through the fused
    * [[graft.functions.PqEncodeCodes]] kernel (one primitive sweep per
    * vector) instead of numSubspaces × numCentroids interpreted-lambda
    * L2² evaluations — same first-min codes bit-for-bit (the kernel's
    * parity spec pins it), which is what makes corpus-size-scaled
    * codebooks ([[autoPqCentroids]], up to 256 centroids/subspace)
    * trainable at full-corpus scale.
    */
  def pqTrainKmeans(corpus: DataFrame, idCol: String, vecCol: String,
                    numSubspaces: Int = 8, numCentroids: Int = 16,
                    dim: Int = 64, iters: Int = 3): PqModel = {
    import org.apache.spark.sql.graft.ColumnBridge
    var model = pqTrain(corpus, idCol, vecCol, numSubspaces, numCentroids,
      dim)
    val sd = model.sd
    for (_ <- 0 until iters) {
      val codesOf = ColumnBridge.column(graft.functions.PqEncodeCodes(
        ColumnBridge.expression(col(vecCol)), model.codebooks))
      val means = corpus
        .select(col(vecCol).cast("array<double>").as("v"), codesOf.as("codes"))
        .select(explode(array((0 until numSubspaces).map { j =>
          struct(lit(j).as("j"), element_at(col("codes"), j + 1).as("code"),
            slice(col("v"), j * sd + 1, sd).as("sv"))
        }: _*)).as("e"))
        .select(col("e.j").as("j"), col("e.code").as("code"),
          posexplode(col("e.sv")).as(Seq("pos", "x")))
        .groupBy(col("j"), col("code"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .view.mapValues(_.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq)
        .toMap
      model = PqModel((0 until numSubspaces).map { j =>
        (0 until numCentroids).map { c =>
          means.getOrElse((j, c), model.codebooks(j)(c))
        }
      }, dim)
    }
    model
  }

  /** IVF-PQ composite ANN (the FAISS IVFPQ layout; Jégou et al. 2011
    * §IV-V): a coarse inverted file prunes the corpus to each query's
    * `nProbe` nearest centroid lists, and ranking inside the probed lists
    * scans ONLY the PQ codes (asymmetric distance to the reconstruction,
    * ADC). The 100 TB arithmetic: the scan touches `nProbe/numCentroids`
    * of the corpus rows at 1/32 of the bytes per row (8 int codes vs 64
    * floats) — the standard billion-scale ANN IO shape, and exactly what
    * [[saveIvfIndex]]'s centroid-partitioned layout persists when `codes`
    * is stored alongside `centroid_id`.
    *
    * Coarse centroids and PQ codebooks are both deterministic lowest-id
    * anchors ([[seedCentroids]], [[pqTrain]]) so any engine rebuilds the
    * identical index from the data alone — the correctness oracle does.
    *
    * `residual = true` is the full IVFADC layout (Jégou et al. 2011 §V.A,
    * eq. 14): the PQ is trained on and encodes the RESIDUAL `x − c(x)`
    * against each vector's coarse centroid, and queries rank by the ADC
    * between the query's residual `q − c_probe` and the reconstructed
    * residual. Residuals concentrate around zero with far smaller spread
    * than raw vectors, so the same codebook budget quantizes much finer —
    * the standard recall lever that lets a byte-per-subspace code survive
    * corpus growth (the recall harness measures the lift). Costs nothing
    * at search: one broadcast subtraction per (query, probe) pair.
    */
  def ivfPqSearch(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int, numCentroids: Int = 8,
                  nProbe: Int = 2, numSubspaces: Int = 8,
                  pqCentroids: Int = 16, dim: Int = 64,
                  refineIters: Int = 0, coarseIters: Int = 0,
                  residual: Boolean = true, rerank: Int = -1,
                  excludeSelf: Boolean = true): DataFrame = {
    // DEFAULT PATH is residual encoding + exact re-rank of a 10·k ADC
    // shortlist (rerank < 0 = auto) — the quality configuration the
    // recall harness validates (at 5·k the shortlist misses enough truth
    // on weakly-clustered corpora to cost ~0.1 recall@10); pass
    // residual = false / rerank = 0 explicitly for the plain-ADC
    // variants the oracles replicate
    val rr = if (rerank < 0) 10 * k else rerank
    if (rr > 0)
      return exactRerank(
        ivfPqSearch(corpus, queries, idCol, vecCol, math.max(rr, k),
          numCentroids, nProbe, numSubspaces, pqCentroids, dim,
          refineIters, coarseIters, residual, rerank = 0,
          excludeSelf = excludeSelf),
        corpus, queries, idCol, vecCol, k)
    val (centroids0, coded0, model, cleanup) = ivfPqBuild(corpus, idCol,
      vecCol, numCentroids, numSubspaces, pqCentroids, dim, refineIters,
      coarseIters, residual)
    // Residual + refined builds persist the FULL-corpus residual frame
    // (dim doubles per row) for Lloyd's repeated passes; the ad-hoc path
    // returns a lazy plan, so without intervention that cache outlives
    // the call until session end, and repeated searches over different
    // corpora accumulate entries (r11 ADVICE). Pin the far smaller
    // derived frames instead — codes are numSubspaces ints/row, centroids
    // are numCentroids rows — via eager localCheckpoint, then release the
    // build caches before returning.
    val (centroids, coded) =
      if (residual && refineIters > 0) {
        val cts = centroids0.localCheckpoint(true)
        val cd = coded0.localCheckpoint(true)
        cleanup()
        (cts, cd)
      } else (centroids0, coded0)
    val cents = broadcast(centroids)
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("c_cos").desc, col("centroid_id").asc)
    val probes = queries
      .select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("q_vec"))
      .crossJoin(cents)
      .withColumn("c_cos", nanvl(cosine(col("q_vec"), col("c_vec")), lit(-2d)))
      .withColumn("c_rk", row_number().over(probeW))
      .filter(col("c_rk") <= nProbe)
      .select(col("q_id"),
        (if (residual)
          zip_with(col("q_vec"), col("c_vec").cast("array<double>"),
            (a, b) => a - b)
        else col("q_vec")).as("q_vec"),
        col("centroid_id"))
    val scored = coded.join(broadcast(probes), Seq("centroid_id"))
      // excludeSelf = false: synthetic (positional) query ids — see
      // [[ivfSearchPersisted]]
      .filter(if (excludeSelf) col("q_id") =!= col("v_id") else lit(true))
      .withColumn("adc", pqAdcOf(col("q_vec"), col("codes"), model))
    val top = graft.operators.TopK.perGroup(scored, Seq(col("q_id")),
      Seq(col("adc").asc, col("v_id").asc), k)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").asc, col("v_id").asc)
    top.withColumn("rk", row_number().over(w))
      .select(col("q_id"), col("v_id").as("n_id"), col("adc"), col("rk"))
  }

  /** Shared IVF-PQ build ([[ivfPqSearch]] ad-hoc + [[saveIvfPqIndex]]
    * persist): coarse centroids, the encoded inverted lists
    * `(v_id, centroid_id, codes)`, and the trained PQ model.
    *
    * Training-input shaping:
    *   - Non-residual: train straight off the corpus — the anchor
    *     collect is a cheap TakeOrdered, no assignment pass needed
    *     (codes are value-identical since the cast is elementwise exact).
    *   - Residual, anchors only (refineIters = 0): each vector's
    *     assignment is independent, so the lowest-`pqCentroids` anchors
    *     need ONLY those seed vectors assigned — a pqCentroids-row pass,
    *     not a full-corpus one (value-identical; the strict oracle pins
    *     it).
    *   - Residual + refinement: Lloyd iterates over ALL residuals, so
    *     the full residual frame is the training input — persisted,
    *     because it is read refineIters+1 times (each a crossJoin +
    *     aggregate corpus pass otherwise). Spark dedupes cache entries
    *     by canonicalized plan, so repeated calls with the same inputs
    *     reuse one entry.
    */
  /** Fourth element: a cleanup thunk unpersisting the build's cached
    * frames (refined centroids, residual training input). Call it ONLY
    * once every returned frame is fully materialized (the save path does,
    * after its writes); the ad-hoc search path must not — its returned
    * plan still reads them lazily.
    */
  private def ivfPqBuild(corpus: DataFrame, idCol: String, vecCol: String,
                         numCentroids: Int, numSubspaces: Int,
                         pqCentroids: Int, dim: Int, refineIters: Int,
                         coarseIters: Int, residual: Boolean)
      : (DataFrame, DataFrame, PqModel, () => Unit) = {
    // refineIters / coarseIters > 0: Lloyd-refined PQ codebooks / coarse
    // centroids (defaults keep the oracle-replicable seeded behavior)
    val centroids =
      if (coarseIters == 0) seedCentroids(corpus, idCol, vecCol, numCentroids)
      else kmeansCentroids(corpus, idCol, vecCol, numCentroids, coarseIters)
    val cents = broadcast(centroids)
    def residualsOf(vecs: DataFrame): DataFrame =
      assignToCentroids(vecs, idCol, vecCol, centroids)
        .join(cents, "centroid_id")
        .select(col("v_id"), col("centroid_id"),
          zip_with(col("v_vec").cast("array<double>"),
            col("c_vec").cast("array<double>"), (a, b) => a - b).as("pq_vec"))
    // PQ encode input: raw vectors, or per-vector residuals against the
    // assigned coarse centroid (IVFADC). Either way the frame carries
    // (v_id, centroid_id, pq_vec) — one corpus pass.
    val pqInput =
      if (!residual)
        assignToCentroids(corpus, idCol, vecCol, centroids)
          .select(col("v_id"), col("centroid_id"),
            col("v_vec").cast("array<double>").as("pq_vec"))
      else residualsOf(corpus)
    val model =
      if (refineIters == 0) {
        val (df, id, vc) =
          if (residual)
            (residualsOf(corpus.orderBy(col(idCol).asc).limit(pqCentroids)),
              "v_id", "pq_vec")
          else (corpus, idCol, vecCol)
        pqTrain(df, id, vc, numSubspaces, pqCentroids, dim)
      } else {
        val (df, id, vc) =
          if (residual) {
            pqInput.persist(
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            (pqInput, "v_id", "pq_vec")
          } else (corpus, idCol, vecCol)
        pqTrainKmeans(df, id, vc, numSubspaces, pqCentroids, dim,
          refineIters)
      }
    // inverted lists carrying codes, not vectors: (centroid_id, v_id, codes)
    val coded = pqInput.select(col("v_id"), col("centroid_id"),
      pqCodesOf(col("pq_vec"), model).as("codes"))
    // unpersist is a no-op on frames that were never cached
    (centroids, coded, model, () => { pqInput.unpersist(); centroids.unpersist(); () })
  }

  /** Fused-kernel PQ codes of `vec` under `model` (shared by the IVF-PQ
    * build, append and merge paths).
    */
  private def pqCodesOf(vec: Column, model: PqModel): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.PqEncodeCodes(
      ColumnBridge.expression(vec), model.codebooks))
  }

  /** Fused-kernel ADC ([[graft.functions.PqAdcL2Sq]]): sequential L2²
    * between `qvec` and the PQ reconstruction of `codes` — bit-identical
    * to `l2sq(qvec, reconOf(codes))` with the codebook held once as a
    * reference object instead of a per-plan literal tree.
    */
  private def pqAdcOf(qvec: Column, codes: Column, model: PqModel): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.PqAdcL2Sq(
      ColumnBridge.expression(qvec), ColumnBridge.expression(codes),
      model.codebooks))
  }

  /** Persist the IVF-PQ index: inverted lists partitioned by
    * `centroid_id` carrying ONLY `(v_id, codes)` — the search never reads
    * a raw vector — plus the coarse-centroid table and the PQ codebook
    * (anchor vectors + shape params). The [[saveIvfIndex]] contract with
    * the 32× smaller payload: probed lists map to partition directories,
    * everything else is never opened.
    */
  def saveIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                     numCentroids: Int, path: String,
                     numSubspaces: Int = 8, pqCentroids: Int = 16,
                     dim: Int = 64, residual: Boolean = false,
                     refineIters: Int = 0, coarseIters: Int = 0,
                     keepRawVectors: Boolean = false): Unit = {
    // the SAME build as ivfPqSearch (residual/refined variants included)
    // so a persisted index answers like the ad-hoc path — spec-pinned
    val (centroids, coded, model, cleanup) = ivfPqBuild(corpus, idCol,
      vecCol, numCentroids, numSubspaces, pqCentroids, dim, refineIters,
      coarseIters, residual)
    coded.withColumn("seq", lit(0L)) // deletion-epoch stamp
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$path/index")
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    // raw-vector sidecar: the price of a true (re-encode) merge later —
    // the 32× payload the codes-only layout saves, so strictly opt-in.
    // A rebuild WITHOUT the flag removes any stale sidecar: a raw set
    // out of sync with the lists would silently merge the wrong corpus.
    if (keepRawVectors)
      corpus.select(col(idCol).as("v_id"), col(vecCol).as("v_vec"))
        .withColumn("seq", lit(0L))
        .write.mode("overwrite").parquet(s"$path/raw")
    else {
      val rp = new org.apache.hadoop.fs.Path(s"$path/raw")
      val fs = rp.getFileSystem(
        corpus.sparkSession.sessionState.newHadoopConf())
      if (fs.exists(rp)) { fs.delete(rp, true); () }
    }
    resetIndexGenerations(corpus.sparkSession, path)
    // rebuild semantics for ALL sidecar markers: a PQ build over a dir
    // that previously held a raw (possibly spilled, calibrated) index
    // must not inherit its dedup or probe settings
    writeSpillFile(corpus.sparkSession, path, 1)
    clearMarker(corpus.sparkSession, path, NProbeFile)
    cleanup() // writes above materialized everything the cache served
    val spark = corpus.sparkSession
    import spark.implicits._
    // per-subspace codebooks (general: also holds k-means-refined models),
    // stamped with the layout version and the residual flag so a reader
    // of a stale index fails with "rebuild", not an opaque schema/cast
    // error, and a residual index is never ADC'd as a raw one
    model.codebooks.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (sv, c) =>
        (j, c, sv, dim, CodebookFormatVersion, residual) }
    }.toDF("subspace", "centroid_rank", "subvec", "dim", "format_version",
        "residual")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
  }

  /** Persisted PQ codebook layout version. v2 = per-subspace
    * (subspace, centroid_rank, subvec) rows (supports k-means-refined
    * models whose subspaces differ); v1 was full-dim anchor rows with no
    * version column. Bumped whenever the schema changes shape.
    */
  private[ml] val CodebookFormatVersion = 2

  /** Read a persisted codebook, failing EXPLICITLY on a stale layout:
    * an index saved by a build with a different codebook schema (or one
    * predating the version stamp) must say "rebuild the index", not
    * surface an AnalysisException from a column mismatch three operators
    * downstream.
    */
  private def readCodebook(spark: org.apache.spark.sql.SparkSession,
                           path: String): (PqModel, Boolean) = {
    val df = spark.read.parquet(s"$path/codebook")
    val cols = df.columns.toSet
    val expected = Set("subspace", "centroid_rank", "subvec", "dim",
      "format_version")
    if (!expected.subsetOf(cols))
      throw new IllegalStateException(
        s"incompatible IVF-PQ index format at $path/codebook: found " +
          s"columns ${df.columns.sorted.mkString("[", ", ", "]")}, expected " +
          s"$expected — the index was written by an earlier build; " +
          "rebuild it with saveIvfPqIndex")
    val cb = df.orderBy(col("subspace").asc, col("centroid_rank").asc)
      .collect()
    // right schema but zero rows (e.g. an interrupted write): same
    // explicit rebuild error as a wrong version, not a bare head crash
    if (cb.isEmpty)
      throw new IllegalStateException(
        s"empty IVF-PQ codebook at $path/codebook (interrupted write?) — " +
          "rebuild the index with saveIvfPqIndex")
    val ver = cb.head.getAs[Int]("format_version")
    if (ver != CodebookFormatVersion)
      throw new IllegalStateException(
        s"incompatible IVF-PQ index format version $ver at $path/codebook " +
          s"(this build reads $CodebookFormatVersion) — rebuild the index " +
          "with saveIvfPqIndex")
    // `residual` joined the schema mid-v2; absent column = raw-vector index
    val residual = cols.contains("residual") &&
      cb.head.getAs[Boolean]("residual")
    (PqModel(
      cb.groupBy(_.getAs[Int]("subspace")).toSeq.sortBy(_._1).map(_._2.toSeq
        .sortBy(_.getAs[Int]("centroid_rank"))
        .map(_.getAs[scala.collection.Seq[Double]]("subvec").toSeq)),
      cb.head.getAs[Int]("dim")), residual)
  }

  /** ADC search against a persisted IVF-PQ index ([[saveIvfPqIndex]]):
    * identical ranking to [[ivfPqSearch]], with the corpus pass replaced
    * by a codes-only read of the probed centroid partitions. A
    * residual-encoded index (flag read from the codebook) is answered in
    * residual space automatically. `rerank > 0` finishes with the exact
    * [[exactRerank]] stage — `rerankCorpus` must then supply the raw
    * vectors (the index itself stores only codes).
    */
  def ivfPqSearchPersisted(spark: org.apache.spark.sql.SparkSession,
                           path: String, queries: DataFrame,
                           idCol: String, vecCol: String, k: Int,
                           nProbe: Int, rerank: Int = -1,
                           rerankCorpus: Option[DataFrame] = None): DataFrame = {
    // rerank < 0 = auto: exact re-rank of a 10·k shortlist whenever a
    // raw corpus is available to rank against, plain ADC otherwise — so
    // the default path upgrades itself when the caller can afford it
    val rr = if (rerank < 0) { if (rerankCorpus.nonEmpty) 10 * k else 0 }
             else rerank
    // nProbe = -1 serves at the stored calibration (same contract as
    // ivfSearchPersisted — the -1 sentinel must not fork across paths)
    val np = resolveNProbe(spark, path, nProbe)
    require(rr <= 0 || rerankCorpus.nonEmpty,
      "rerank needs rerankCorpus: the index stores only codes, exact " +
        "re-ranking reads raw vectors")
    if (rr > 0)
      return exactRerank(
        ivfPqSearchPersisted(spark, path, queries, idCol, vecCol,
          math.max(rr, k), np, rerank = 0),
        rerankCorpus.get, queries, idCol, vecCol, k)
    val (model, residual) = readCodebook(spark, path)
    val cents = broadcast(spark.read.parquet(s"$path/centroids"))
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("c_cos").desc, col("centroid_id").asc)
    val probes = queries
      .select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("q_vec"))
      .crossJoin(cents)
      .withColumn("c_cos", nanvl(cosine(col("q_vec"), col("c_vec")), lit(-2d)))
      .withColumn("c_rk", row_number().over(probeW))
      .filter(col("c_rk") <= np)
      .select(col("q_id"),
        (if (residual)
          zip_with(col("q_vec"), col("c_vec").cast("array<double>"),
            (a, b) => a - b)
        else col("q_vec")).as("q_vec"),
        col("centroid_id"))
    val (index, probesL) = prunedIndexRead(spark, path, probes)
    val scored = index.join(broadcast(probesL), Seq("centroid_id"))
      .filter(col("q_id") =!= col("v_id"))
      .withColumn("adc", pqAdcOf(col("q_vec"), col("codes"), model))
    val top = graft.operators.TopK.perGroup(scored, Seq(col("q_id")),
      Seq(col("adc").asc, col("v_id").asc), k)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").asc, col("v_id").asc)
    top.withColumn("rk", row_number().over(w))
      .select(col("q_id"), col("v_id").as("n_id"), col("adc"), col("rk"))
  }

  /** Embedding-cosine near-duplicate pairs above `threshold`, blocked by
    * banded sign-random-projection LSH (Charikar 2002 SimHash hyperplanes,
    * banded like MinHash LSH): each vector hashes to `bands` keys of
    * `bandBits` hyperplane signs each (hyperplanes = rows of the
    * deterministic ±1 [[projectionMatrix]]); a pair is a candidate iff it
    * matches in at least one band. Candidates are generated by an
    * equi-join on (band, key) — co-partitioned, never a cross join — then
    * deduped and ranked by exact cosine.
    *
    * Collision probability per band is p^bandBits with
    * p = 1 − θ/π (θ the pair's angle), and recall over `bands` tables is
    * 1 − (1 − p^bandBits)^bands — the standard S-curve. At a real
    * near-dup threshold (≥ 0.9) the defaults (16 bits × 8 bands) pass
    * ~2^-16 of random pairs per band while keeping ~50–95% of true
    * near-dups; for LOW thresholds no LSH separates well (p approaches
    * 1/2), so tests use wider buckets (fewer bits). Degenerate hot
    * buckets (e.g. all-zero embeddings) are dropped before the pair join
    * by the default-on [[hotBucketGuard]]; an explicit `maxBucketSize`
    * tightens it absolutely — the same skew guard as [[Dedup.lshPairs]]'s
    * `maxShingleFreq`, with the same documented recall caveat.
    */
  /** All `bands` SRP band keys of a vector as one array<long> — the fused
    * [[graft.functions.SignBandKeys]] kernel; bit-for-bit the per-bit
    * `when(dot >= 0, 1<<j)` Column formulation the oracles replicate, at
    * one vector materialization per row instead of bands×bandBits dot
    * expression evaluations.
    */
  private def bandKeysNative(vec: Column, planes: Seq[Seq[Double]],
                             bandBits: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.SignBandKeys(
      ColumnBridge.expression(vec), planes, bandBits))
  }

  def nearDupPairs(vecs: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, inDim: Int,
                   bandBits: Int = 16, bands: Int = 8,
                   maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val planes = projectionMatrix(inDim, bandBits * bands)
    val base = vecs.select(col(idCol).as("id"), col(vecCol).as("vec"))
    // ids only through the banded join and the pair dedupe: the (band,
    // key) and (id_a, id_b) shuffles carry 16-byte rows instead of two
    // full dim×8-byte vectors per candidate; the exact-verify vectors
    // re-join AFTER the distinct (AQE sizes the pair side — under a
    // tight threshold it broadcasts against the column-pruned vec scan)
    val keyed = hotBucketGuard(base.select(col("id"),
      posexplode(bandKeysNative(col("vec"), planes, bandBits))
        .as(Seq("band", "key"))), maxBucketSize)
    val a = keyed.select(col("band"), col("key"), col("id").as("id_a"))
    val b = keyed.select(col("band"), col("key"), col("id").as("id_b"))
    // a pair colliding in several bands appears once per band — dedupe
    // BEFORE the vector re-join so the exact-verify work is once per pair
    val cand = a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .withColumn("cosine", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Hot-bucket guard for the banded LSH pair joins, ON by default:
    * drop every (band, key) bucket whose row count exceeds
    * `min(maxBucketSize, max(1000, 64 × that band's MEDIAN bucket
    * size))`. The adaptive bound is SF-proportional by construction
    * (the house threshold rule — a fixed absolute cap inverts behavior
    * as the corpus grows): healthy bands never bind (64× the median
    * dwarfs any uniform-ish bucket, and the floor of 1000 exempts small
    * corpora entirely), while a degenerate mass — all-zero embeddings,
    * a boilerplate blob hashing to one key — concentrates ≥ 64× the
    * median in one bucket and is dropped before it quadratically
    * dominates the pair join (the documented recall caveat). An
    * explicit `maxBucketSize` tightens the bound absolutely.
    *
    * Cost: one map-side-combinable count over the (band, key) rows plus
    * an exact `median` over the bucket-stats frame (≤ bands × 2^bandBits
    * rows — bounded, and exactness keeps the cutoff deterministic where
    * an approx percentile could wobble a boundary bucket between runs).
    * Guard-cost note: the r13 bench deltas attributed to this guard
    * reverted in the r14 no-change bench (zero commits, −9% total) —
    * box noise, not guard cost; the guard's measured overhead is within
    * the run-to-run band.
    */
  private def hotBucketGuard(keyed: DataFrame,
                             maxBucketSize: Int): DataFrame = {
    val bstats = keyed.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("bucket_n"))
    val med = bstats.groupBy(col("band"))
      .agg(median(col("bucket_n")).as("med_n"))
    val ok = bstats.join(med, "band")
      .filter(col("bucket_n").cast("double") <=
        least(lit(maxBucketSize.toDouble),
          greatest(lit(1000d), col("med_n") * lit(64d))))
      .select(col("band"), col("key"))
    keyed.join(ok, Seq("band", "key"))
  }

  /** SEMANTIC decontamination: training vectors whose cosine against any
    * benchmark vector reaches `threshold` — the embedding-space analog of
    * [[Dedup.contamination]]'s n-gram overlap, catching PARAPHRASED
    * benchmark leakage that exact n-grams miss. Same banded SRP-LSH
    * blocking as [[nearDupPairs]], but BIPARTITE: train keys join bench
    * keys only, so there is no train×train or bench×bench work at all —
    * per-refresh cost is O(train collisions with the small bench side),
    * the only shape that survives a 100 TB train corpus.
    *
    * Output: (train_id, bench_id, cosine), one row per flagged pair above
    * threshold. Anti-join `train` against the distinct `train_id`s to get
    * the clean set. TRAIN-side bucket blowup from degenerate embedding
    * regions is dropped by the default-on [[hotBucketGuard]]; an explicit
    * `maxBucketSize` tightens it (recall caveat as in [[nearDupPairs]]).
    * Like the near-dup pass, candidates shuffle as (train_id, bench_id)
    * ids only — vectors re-join for the ≤|candidates| exact-verify rows.
    */
  def semanticContamination(train: DataFrame, bench: DataFrame,
      idCol: String, vecCol: String, threshold: Double, inDim: Int,
      bandBits: Int = 16, bands: Int = 8,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val planes = projectionMatrix(inDim, bandBits * bands)
    def keyedIds(df: DataFrame, asId: String) =
      df.select(col(idCol).as(asId),
        posexplode(bandKeysNative(col(vecCol), planes, bandBits))
          .as(Seq("band", "key")))
    val tr = hotBucketGuard(keyedIds(train, "train_id"), maxBucketSize)
    val cand = tr.join(keyedIds(bench, "bench_id"), Seq("band", "key"))
      .select(col("train_id"), col("bench_id")).distinct()
    cand
      .join(train.select(col(idCol).as("train_id"),
        col(vecCol).as("vec_t")), "train_id")
      .join(bench.select(col(idCol).as("bench_id"),
        col(vecCol).as("vec_b")), "bench_id")
      .withColumn("cosine", cosine(col("vec_t"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("train_id"), col("bench_id"), col("cosine"))
  }
}
