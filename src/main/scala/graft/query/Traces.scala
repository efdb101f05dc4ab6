package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** APM-style trace queries re-expressed over Spark windows.
  *
  * The reference's trace-list SQL (parseable `src/handlers/http/traces.rs:
  * 489-513`) computes per-trace span counts with
  * `COUNT(DISTINCT span_id) OVER (PARTITION BY trace_id)` plus a conditional
  * error count, then pages with ORDER BY … OFFSET/LIMIT. Spark disallows
  * COUNT(DISTINCT) OVER a window → `size(collect_set(..))` over the same
  * window (SURVEY §2.5 W1).
  *
  * At scale the windowed form shuffles the full span set once on trace_id —
  * identical cost to the groupBy form — but keeps per-span rows available for
  * the detail view; the list view then dedups to one row per trace.
  */
object Traces {

  /** Trace list: one row per trace with span/error counts and time bounds,
    * paged deterministically.
    *
    * Column mapping for the synthetic `events` table: traceId=user_id,
    * spanId=event_id, start=ts, error flag = event_type = 'error'.
    */
  def traceList(
      spans: DataFrame,
      traceCol: String,
      spanCol: String,
      timeCol: String,
      errorCond: org.apache.spark.sql.Column,
      offset: Int,
      limit: Int): DataFrame = {
    val w = Window.partitionBy(col(traceCol))
    spans
      .withColumn("span_count", size(collect_set(col(spanCol)).over(w)))
      .withColumn("error_count", sum(when(errorCond, 1L).otherwise(0L)).over(w))
      .withColumn("trace_start", min(col(timeCol)).over(w))
      .withColumn("trace_end", max(col(timeCol)).over(w))
      .select(
        col(traceCol).as("trace_id"),
        col("span_count"),
        col("error_count"),
        col("trace_start"),
        col("trace_end"))
      .distinct()
      .orderBy(col("trace_start").asc, col("trace_id").asc)
      .offset(offset)
      .limit(limit)
  }

  /** Trace detail: all spans of one trace plus `COUNT(*) OVER ()` total
    * (reference `traces.rs:635`), newest-first.
    */
  def traceDetail(spans: DataFrame, traceCol: String, traceId: Long,
      spanCol: String, timeCol: String): DataFrame = {
    // every surviving row shares traceCol (the filter pins it), so
    // partitioning the COUNT(*) OVER () on it is semantically the empty
    // spec — one trace's spans in one partition — without the WindowExec
    // no-partition warning
    val w = Window.partitionBy(col(traceCol))
    spans
      .filter(col(traceCol) === lit(traceId))
      .withColumn("total_spans", count(lit(1)).over(w))
      .orderBy(col(timeCol).desc, col(spanCol).desc)
  }

  /** Critical path per trace: the root-to-leaf path with the largest total
    * duration (the APM "where did the time go" view — the reference stops
    * at the recursive hierarchy, `traces.rs:608-638`; this extends it with
    * path aggregation). Iterative BFS like [[spanHierarchy]], but each
    * frontier row carries the accumulated `path_dur`/`path_len`, so level
    * k+1 is ONE equi-join of spans against the frontier on
    * (trace, parent). Loop count = trace depth (small constant), never
    * data size; every join is key-partitioned, no cartesian anywhere.
    *
    * `durCol` must be integer-quantized by the caller (exact sums —
    * float path sums would be order-dependent across engines). Returns one
    * row per trace: (trace_id, leaf_span, path_len, path_dur), leaf with
    * the max path duration, ties broken by smallest leaf span id.
    *
    * Each level is counted as it materializes and the loop stops at the
    * first empty frontier, so the depth need not be known up front.
    */
  def criticalPath(spans: DataFrame, traceCol: String, spanCol: String,
                   parentCol: String, durCol: String,
                   maxDepth: Int = 20): DataFrame = {
    // one up-front hash partition on the trace id: HashPartitioning(t_id)
    // satisfies the ClusteredDistribution of every (t_id, parent) level
    // join AND the final per-trace window/anti-join, so the whole BFS runs
    // with a single Exchange regardless of depth.
    val base = spans.select(col(traceCol).as("t_id"), col(spanCol).as("s_id"),
        col(parentCol).as("p_id"), col(durCol).cast("long").as("dur"))
      .repartition(col("t_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // every frontier is persisted and materialized ONCE: the level-k join
    // reads the cached level k-1 (not a k-deep recomputed lineage, which
    // would make the loop quadratic in depth), and the same count drives
    // the termination check — one job per level, not two. All frontiers
    // stay cached until the final result materializes (acc unions every
    // level), then everything intermediate is dropped so repeated calls in
    // a long-lived session don't accumulate executor storage.
    val persisted = scala.collection.mutable.ListBuffer[DataFrame](base)
    var frontier = base.filter(col("p_id").isNull)
      .select(col("t_id"), col("s_id"),
        col("dur").as("path_dur"), lit(1L).as("path_len"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    persisted += frontier
    var acc = frontier
    var depth = 0
    var frontierRows = frontier.count()
    while (depth < maxDepth && frontierRows > 0) {
      val next = base.as("c")
        .join(frontier.as("p"),
          col("c.t_id") === col("p.t_id") && col("c.p_id") === col("p.s_id"))
        .select(col("c.t_id").as("t_id"), col("c.s_id").as("s_id"),
          (col("p.path_dur") + col("c.dur")).as("path_dur"),
          (col("p.path_len") + lit(1L)).as("path_len"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      persisted += next
      frontierRows = next.count()
      acc = acc.unionByName(next)
      frontier = next
      depth += 1
    }
    // leaves = spans that are nobody's parent (per trace)
    val childKeys = base.filter(col("p_id").isNotNull)
      .select(col("t_id"), col("p_id").as("s_id")).distinct()
    val leaves = base.select(col("t_id"), col("s_id"))
      .join(childKeys, Seq("t_id", "s_id"), "left_anti")
    val w = Window.partitionBy(col("t_id"))
      .orderBy(col("path_dur").desc, col("s_id").asc)
    val result = acc.join(leaves, Seq("t_id", "s_id"), "left_semi")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("t_id").as("trace_id"), col("s_id").as("leaf_span"),
        col("path_len"), col("path_dur"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager: materialize the (one-row-per-trace) answer while the frontier
    // caches are still live, then release base + every level. The returned
    // frame keeps only the small result cached; callers may unpersist it.
    result.count()
    persisted.foreach(_.unpersist(blocking = false))
    result
  }

  /** Critical path per trace, single-shuffle variant for BOUNDED traces.
    *
    * APM traces are small by construction (the reference bounds trace depth
    * — `traces.rs:617` MAX_TRACE_DEPTH — and span fan-out is bounded by the
    * instrumented request), so one trace always fits in memory. That makes
    * the iterative-join BFS of [[criticalPath]] the wrong plan shape at
    * scale: depth sequential joins + caches, when ONE hash partition on the
    * trace id brings every span of a trace to the same task. This variant
    * is that plan: groupByKey(trace) → mapGroups, computing the max
    * root-to-leaf duration path per trace with an O(spans) in-memory DP.
    * No iteration, no persistence, exactly one Exchange; at 100 TB the cost
    * is the same single shuffle a groupBy-count would pay.
    *
    * Semantics identical to [[criticalPath]] (integer path sums; leaf = span
    * that is nobody's parent; ties broken by smallest leaf id; rows deeper
    * than `maxDepth` are not reachable and thus never become leaf paths).
    * Use [[criticalPath]] only when a single trace may exceed task memory.
    */
  def criticalPathGrouped(spans: DataFrame, traceCol: String, spanCol: String,
                          parentCol: String, durCol: String,
                          maxDepth: Int = 20): DataFrame = {
    val ss = spans.sparkSession
    import ss.implicits._
    val depthBound = maxDepth
    spans.select(col(traceCol).cast("long").as("t_id"),
        col(spanCol).cast("long").as("s_id"),
        col(parentCol).cast("long").as("p_id"),
        col(durCol).cast("long").as("dur"))
      .as[(Long, Long, Option[Long], Long)]
      .groupByKey(_._1)
      .flatMapGroups { (trace, it) =>
        val rows = it.toArray
        val byId = new java.util.HashMap[Long, (Option[Long], Long)](rows.length * 2)
        val isParent = new java.util.HashSet[Long](rows.length * 2)
        rows.foreach { case (_, s, p, d) =>
          byId.put(s, (p, d)); p.foreach(isParent.add(_))
        }
        // path_dur/path_len from the root, memoized; spans past depthBound
        // or on a cycle/orphan chain are unreachable (None), matching the
        // BFS's depth guard. Iterative (ascend the parent chain, then fold
        // back down): stack depth stays O(1) no matter how deep the chain —
        // recursion here would overflow on the multi-thousand-span chains
        // a 100 TB trace store will contain.
        val memo = new java.util.HashMap[Long, Option[(Long, Long)]](rows.length * 2)
        def pathTo(start: Long): Option[(Long, Long)] = {
          val cached0 = memo.get(start)
          if (cached0 != null) return cached0
          // ascend: collect unresolved ancestors bottom-up until a memoized
          // node, the root, a missing parent (orphan), or a cycle.
          val chain = new scala.collection.mutable.ArrayBuffer[Long]()
          val onChain = new java.util.HashSet[Long]()
          var cur = start
          // value of the node ABOVE the top of `chain` (virtual parent of a
          // root = (0,0) so the root folds to (d,1) like the BFS seed)
          var above: Option[(Long, Long)] = null
          while (above == null) {
            val c = memo.get(cur)
            if (c != null) above = c
            else byId.get(cur) match {
              case null => above = None // orphan: parent id absent from trace
              case (pOpt, _) =>
                chain += cur
                onChain.add(cur)
                pOpt match {
                  case None => above = Some((0L, 0L))
                  case Some(p) =>
                    if (onChain.contains(p)) above = None // cycle
                    else cur = p
                }
            }
          }
          // fold down: child len = parent len + 1, valid only while the
          // parent is within depthBound (BFS runs maxDepth join levels →
          // paths up to len maxDepth+1); memoize every node on the way.
          var res = above
          var i = chain.length - 1
          while (i >= 0) {
            val s = chain(i)
            val d = byId.get(s)._2
            res = res match {
              case Some((pd, pl)) if pl <= depthBound => Some((pd + d, pl + 1L))
              case _ => None
            }
            memo.put(s, res)
            i -= 1
          }
          res
        }
        var best: Option[(Long, Long, Long)] = None // (leaf, len, dur)
        rows.foreach { case (_, s, _, _) =>
          if (!isParent.contains(s)) pathTo(s).foreach { case (d, l) =>
            val better = best match {
              case None => true
              case Some((bs, _, bd)) => d > bd || (d == bd && s < bs)
            }
            if (better) best = Some((s, l, d))
          }
        }
        best.map { case (s, l, d) => (trace, s, l, d) }.iterator
      }
      .toDF("trace_id", "leaf_span", "path_len", "path_dur")
  }

  /** Span hierarchy levels — the reference's recursive CTE over
    * parent_span_id (`traces.rs:608-638`, bounded by MAX_TRACE_DEPTH at
    * `:617`) as an iterative BFS: level 0 = roots, level k+1 = spans whose
    * parent is at level k. Rows never reached within `maxDepth` (cycles,
    * unreachable descendants) are dropped, matching recursive CTE
    * semantics with a depth guard.
    *
    * `orphansAsRoots = true` applies the reference's exact root rule
    * (`traces.rs:615-617`): a span whose parent id does not exist in the
    * batch is itself a root (level 0) — partial traces still render. The
    * default (false) keeps only explicit roots (null/empty parent).
    *
    * Note this SQL dialect also accepts the reference's `WITH RECURSIVE`
    * trace SQL verbatim (Spark ≥ 4.0 executes recursive CTEs natively —
    * gated by `q_trace_hierarchy_sql`); this operator is the Column-API
    * equivalent, useful when the hierarchy feeds further DataFrame logic.
    *
    * Each iteration is one broadcast-able join on the parent key; depth is
    * small (trace depth, not data size), so the loop count is bounded and
    * the plan stays shallow per step.
    */
  def spanHierarchy(spans: DataFrame, spanCol: String, parentCol: String,
                    maxDepth: Int = 10,
                    orphansAsRoots: Boolean = false): DataFrame = {
    val explicitRoot = col(parentCol).isNull || col(parentCol) === lit("")
    val rootRows =
      if (!orphansAsRoots) spans.filter(explicitRoot)
      else {
        // anti-join on the parent key: keeps parent-null rows (null never
        // matches) and rows whose parent id is absent from the batch —
        // precisely the reference's COALESCE(parent,'')='' OR parent NOT
        // IN (ids) disjunction, in one pass
        val ids = spans.select(col(spanCol).as("__sid")).distinct()
        spans.join(ids, col(parentCol) === col("__sid"), "left_anti")
      }
    val roots = rootRows.withColumn("span_level", lit(0))
    var result = roots
    var frontier = roots
    var depth = 0
    while (depth < maxDepth && !frontier.isEmpty) {
      val parents = broadcast(
        frontier.select(col(spanCol).as("__parent_id")).distinct())
      val next = spans
        .join(parents, col(parentCol) === col("__parent_id"))
        .drop("__parent_id")
        .withColumn("span_level", lit(depth + 1))
      result = result.unionByName(next)
      frontier = next
      depth += 1
    }
    result
  }

  /** Tail-based trace sampling (the OTel tail-sampling processor shape):
    * keep EVERY span of a trace that satisfies `interesting` on any span
    * (errors, slow spans), and a deterministic hash-sample of the
    * remaining traces at `rate` — the standard way to cut trace storage
    * 10-50x without losing the traces anyone will ever look at.
    *
    * Decisions are per-trace, never per-span (a sampled trace keeps ALL
    * its spans — partial traces are useless), and the hash sample is
    * reproducible/repartition-stable ([[graft.ml.Sampling.keepAtRate]]).
    * Shape: one per-trace aggregate + one semi-join, both keyed by the
    * trace id — with spans pre-bucketed by trace id both are
    * exchange-free at scale. Output adds `keep_reason`
    * ('signal' | 'sampled').
    */
  def tailSample(spans: DataFrame, traceCol: String, interesting: Column,
                 rate: Double, salt: String = ""): DataFrame = {
    val marks = spans.groupBy(col(traceCol))
      .agg(max(when(interesting, 1L).otherwise(0L)).as("__sig"))
      .filter(col("__sig") === 1L ||
        graft.ml.Sampling.keepAtRate(col(traceCol), rate, salt))
      .select(col(traceCol),
        when(col("__sig") === 1L, "signal").otherwise("sampled")
          .as("keep_reason"))
    spans.join(marks, Seq(traceCol))
  }

  /** Service dependency graph (the Jaeger/Tempo "system architecture"
    * view): one row per (parent_service → child_service) edge over all
    * traces, with call count, distinct-trace count, exact integer duration
    * sum/max of the CHILD spans, and mean duration as the single exact
    * double division.
    *
    * Input contract: spans as (t_id, s_id, p_id, service, dur) — p_id null
    * for roots. Shape: ONE self-join on (t_id, parent span id) to resolve
    * each child's parent service, then one hash aggregation on the
    * (tiny-cardinality) service pair. Both join inputs hash-partition on
    * the same (t_id, span-id) key; at 100 TB the spans table pre-bucketed
    * on t_id makes this exchange-free. The aggregate output is
    * O(services²), so the final shuffle is negligible regardless of
    * corpus size.
    */
  def serviceGraph(spans: DataFrame): DataFrame = {
    val parents = spans.select(col("t_id"), col("s_id").as("__psid"),
      col("service").as("parent_service"))
    val children = spans.filter(col("p_id").isNotNull)
      .select(col("t_id"), col("p_id").as("__psid"),
        col("service").as("child_service"), col("dur"))
    children.join(parents, Seq("t_id", "__psid"))
      .groupBy(col("parent_service"), col("child_service"))
      .agg(count(lit(1)).as("calls"),
        countDistinct(col("t_id")).as("n_traces"),
        sum(col("dur")).as("sum_dur"),
        max(col("dur")).as("max_dur"))
      .withColumn("avg_dur", col("sum_dur").cast("double") / col("calls"))
  }
}
