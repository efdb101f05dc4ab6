package graft

/** Repo-wide physical-plan audit: EVERY gated query plans without the two
  * operators that kill a 100 TB run — `CartesianProduct` (both sides big)
  * is banned outright; `BroadcastNestedLoopJoin` only where the query's
  * contract documents a broadcast-TINY side (ANN query sets capped at a
  * few vectors, scalar-constant frames, ≤k centroid/anchor tables).
  * A future query that accidentally plans either fails here by name —
  * breadth insurance on top of `PlanShapeSpec`'s per-flagship detail.
  */
class PlanAuditSpec extends SparkSuite {

  /** Queries whose contract is a broadcast cross join of a tiny side:
    * ANN query/centroid/anchor tables (≤ tens of rows), corpus-constant
    * single-row frames (N, total tokens), model tables under an explicit
    * broadcast-size cap. Additions require the same documented bound.
    */
  private val bnljAllowed = Set(
    "q_cluster_kmeans", "q_corpus_report", "q_dedup_semantic",
    "q_sample_importance", "q_sim_hardneg", "q_sim_ivf",
    // _deleted/_filtered: same ≤8-row centroid cross join as the
    // persisted base; their tombstone anti-join is a BroadcastHashJoin
    // LeftAnti (equi on id, residual del_seq > seq) — verified via
    // PlanDumpAll, not BNLJ
    "q_sim_ivf_deleted", "q_sim_ivf_diverse", "q_sim_ivf_filtered",
    // auto-probe filtered search: same ≤8-row centroid cross join as
    // q_sim_ivf_filtered; the selectivity count is a scan + aggregate
    "q_sim_ivf_autoprobe",
    "q_sim_ivf_persisted", "q_sim_ivfpq", "q_sim_ivfpq_residual",
    // multi-assignment: the same ≤8-row centroid cross joins as
    // q_sim_ivf (spill top-2 selection + the probe subquery)
    "q_sim_ivf_spill",
    // true merge: same ≤8-row centroid cross joins as q_sim_ivfpq
    // (A's build, B's build, the merge re-assign, the probe subquery)
    "q_sim_merge_ivfpq",
    "q_sim_knn", "q_sim_pq", "q_sim_pq_rerank",
    "q_sim_quantized", "q_text_bm25",
    "q_text_lmscore", "q_text_tfidf", "q_vocab_topk",
    // radius search: `corpus.crossJoin(broadcast(q))` with a single
    // query row — same tiny-query-side contract as q_sim_knn. Verified
    // via the formatted plan (r13): BNLJ Cross BuildRight, build = the 1-row
    // query frame (persisted variant adds the ≤8-row centroid cross
    // join of the probe subquery, same as q_sim_ivf_persisted).
    "q_sim_radius", "q_sim_radius_persisted",
    // adaptive block cap: the 1-row median-block-size frame broadcasts
    // into the block-stats filter (the corpus-constant single-row
    // pattern, same as q_corpus_report)
    "q_dedup_editdist",
    // in-job 1% threshold: the 1-row corpus-count frame broadcasts into
    // the line-doc-frequency filter (corpus-constant single-row pattern)
    "q_dedup_lines",
    // hybrid RRF: the BNLJs are inside the LEGS (knnBruteForce's 1-row
    // broadcast query / ivfSearchPersisted's ≤8-row centroid table);
    // the RRF fusion full-outer itself plans SortMergeJoin FullOuter on
    // the id equi-key over ≤(kLex+kVec) rows — verified via PlanDumpAll
    // (r13), not BNLJ.
    "q_hybrid_rrf", "q_hybrid_persisted",
    // calibration curve: the ≤8-row centroid table cross-joins into both
    // the assignment argmax and the per-query centroid ranking (the same
    // broadcast shape as q_sim_ivf), plus knnBruteForce's broadcast query
    // side for ground truth — every BNLJ build side is queries- or
    // centroid-sized, never corpus-sized
    "q_sim_calibrate",
    // LSH curve: only knnBruteForce's broadcast query side for ground
    // truth (the bounded vec_id < 500 sample); the bucket join itself
    // is an equi-join on (q_id / n_id)
    "q_sim_lsh_curve",
    // batched/filtered hybrid: the vec leg is the same ≤8-row centroid
    // cross join as q_sim_ivf_persisted (filtered adds only an
    // attribute predicate on the probed scan); fusion and lex legs are
    // equi-joins
    "q_hybrid_batch", "q_hybrid_filtered",
    // prior blend: the vec leg is knnBruteForce's 1-row broadcast query
    // (as q_hybrid_rrf); the 3-leg fusion is a union + hash aggregate
    "q_hybrid_prior",
    // persisted prior blend: the vec leg is ivfSearchPersisted's ≤8-row
    // centroid cross join (as q_hybrid_persisted); lex leg and fusion
    // are equi-joins / union + hash aggregate; the prior is a bounded
    // top-20 rank list
    "q_hybrid_prior_persisted",
    // collocations: the two 1-row corpus-constant frames (total tokens,
    // total pairs) broadcast into the PMI projection — the
    // corpus-constant single-row pattern, same as q_corpus_report; the
    // unigram joins are keyed equi-joins
    "q_text_collocations",
    // temperature mixing: the 1-row normalizer frame (Σ√n, N) broadcasts
    // into the per-row multiplier — corpus-constant single-row pattern;
    // the per-source stats join is a keyed broadcast equi-join
    "q_sample_temperature",
    // dimension shift: the 1-row window/baseline TOTALS frame broadcasts
    // into the per-dimension share projection — corpus-constant
    // single-row pattern (q_corpus_report precedent); the only other
    // stage is one hash aggregate
    // template drift rides the same dimensionShift single-row totals
    // broadcast
    "q_dim_shift", "q_dim_shift_weighted", "q_template_drift",
    // retrieval topline: retrievalTopline's documented cross join of TWO
    // 1-row aggregate frames (binary macro summary × graded nDCG
    // summary) — the corpus-constant single-row pattern, both sides
    // 1 row by construction
    "q_eval_topline",
    // z-order: withZValue's documented broadcast of the 1-row per-dim
    // min/max frame into the scaling projection — corpus-constant
    // single-row pattern
    "q_zorder",
    // RBO: the broadcast k-row (k=10) literal depth grid crossed with
    // the per-query list — a constant-sized model-table broadcast
    // (the extrapolated variant adds only a projection over the same
    // aggregate — identical join shape)
    "q_eval_rbo", "q_eval_rbo_ext",
    // theta-sketch set algebra: the cohort-pair frame is a `g_a < g_b`
    // theta join of the G-row per-group stats (G = event types, 5
    // here) — a broadcast of a group-count-sized frame, never
    // data-sized; everything else is equi-joins over ≤ k·G sketch rows
    "q_sketch_setops")

  test("every gated query: no CartesianProduct; BNLJ only where documented") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan =
          try fn(spark, sfDir).queryExecution.executedPlan.toString
          catch { case e: Throwable =>
            fail(s"$name failed to plan: ${e.getMessage}") }
        val cart = plan.contains("CartesianProduct")
        val bnlj = plan.contains("BroadcastNestedLoopJoin") &&
          !bnljAllowed(name)
        (if (cart) Seq(s"$name: CartesianProduct") else Nil) ++
          (if (bnlj) Seq(s"$name: undocumented BroadcastNestedLoopJoin")
           else Nil)
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
