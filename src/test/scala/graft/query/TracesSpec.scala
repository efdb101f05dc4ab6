package graft.query

import graft.SparkSuite

class TracesSpec extends SparkSuite {
  import spark.implicits._

  test("spanHierarchy assigns BFS levels from roots, bounded by maxDepth") {
    // root s1 -> (s2, s3); s2 -> s4; orphan s9 (parent never appears)
    val spans = Seq(
      ("s1", null.asInstanceOf[String]),
      ("s2", "s1"), ("s3", "s1"),
      ("s4", "s2"),
      ("s9", "zz")).toDF("span_id", "parent_span_id")
    val levels = Traces.spanHierarchy(spans, "span_id", "parent_span_id")
      .collect().map(r => r.getAs[String]("span_id") -> r.getAs[Int]("span_level"))
      .toMap
    assert(levels == Map("s1" -> 0, "s2" -> 1, "s3" -> 1, "s4" -> 2))

    val shallow = Traces.spanHierarchy(spans, "span_id", "parent_span_id",
      maxDepth = 1)
    assert(shallow.count() == 3) // root + level-1 children only
  }

  test("spanHierarchy on an all-root set terminates immediately") {
    val spans = Seq(("a", ""), ("b", "")).toDF("span_id", "parent_span_id")
    val out = Traces.spanHierarchy(spans, "span_id", "parent_span_id")
    assert(out.count() == 2)
    assert(out.select("span_level").distinct().collect().map(_.getInt(0)).toSeq == Seq(0))
  }

  test("criticalPath picks the max-duration root-to-leaf path per trace") {
    // trace 1:      0(10)
    //            /        \
    //         1(5)        2(1)
    //        /    \
    //     3(2)    4(20)        -> critical: 0-1-4 = 35, len 3
    // trace 2: single root 0(7) -> path 7, len 1
    val spans = Seq(
      (1L, 0L, Option.empty[Long], 10L),
      (1L, 1L, Some(0L), 5L), (1L, 2L, Some(0L), 1L),
      (1L, 3L, Some(1L), 2L), (1L, 4L, Some(1L), 20L),
      (2L, 0L, Option.empty[Long], 7L))
      .toDF("t_id", "s_id", "p_id", "dur")
    val r = Traces.criticalPath(spans, "t_id", "s_id", "p_id", "dur")
      .orderBy("trace_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toSeq == Seq((1L, 4L, 3L, 35L), (2L, 0L, 1L, 7L)))
  }

  test("criticalPath tiebreaks equal-duration paths by smallest leaf id") {
    val spans = Seq(
      (1L, 0L, Option.empty[Long], 1L),
      (1L, 1L, Some(0L), 3L), (1L, 2L, Some(0L), 3L))
      .toDF("t_id", "s_id", "p_id", "dur")
    val r = Traces.criticalPath(spans, "t_id", "s_id", "p_id", "dur").collect()
    assert(r.length == 1 && r(0).getLong(1) == 1L && r(0).getLong(3) == 4L)
  }

  test("criticalPathGrouped equals the BFS on a synthetic heap forest") {
    // heap-shaped traces like the gated query builds: rank r's parent is
    // (r-1)/2, sizes 1..40 across traces, pseudo-random-ish durations
    val spans = (1L to 12L).flatMap { t =>
      val n = (t * 7 % 40 + 1).toInt
      (0 until n).map { r =>
        (t, r.toLong, if (r == 0) Option.empty[Long] else Some(((r - 1) / 2).toLong),
          (r * 31 + t * 17) % 97 + 1)
      }
    }.toDF("t_id", "s_id", "p_id", "dur")
    val bfs = Traces.criticalPath(spans, "t_id", "s_id", "p_id", "dur")
      .orderBy("trace_id").collect().toSeq
    val grouped = Traces.criticalPathGrouped(spans, "t_id", "s_id", "p_id", "dur")
      .orderBy("trace_id").collect().toSeq
    assert(bfs == grouped)
  }

  test("criticalPathGrouped equals the BFS on orphans, cycles and the depth guard") {
    val spans = Seq(
      // trace 1: chain of 5 under maxDepth=3 — deep leaf unreachable in both
      (1L, 0L, Option.empty[Long], 1L), (1L, 1L, Some(0L), 1L),
      (1L, 2L, Some(1L), 1L), (1L, 3L, Some(2L), 1L), (1L, 4L, Some(3L), 1L),
      // trace 2: orphan subtree (parent 99 never appears) + real root
      (2L, 0L, Option.empty[Long], 5L), (2L, 7L, Some(99L), 100L),
      (2L, 8L, Some(7L), 100L),
      // trace 3: pure 2-cycle, no root at all → no output row
      (3L, 1L, Some(2L), 1L), (3L, 2L, Some(1L), 1L))
      .toDF("t_id", "s_id", "p_id", "dur")
    for (d <- Seq(3, 20)) {
      val bfs = Traces.criticalPath(spans, "t_id", "s_id", "p_id", "dur",
        maxDepth = d).orderBy("trace_id").collect().toSeq
      val grouped = Traces.criticalPathGrouped(spans, "t_id", "s_id", "p_id",
        "dur", maxDepth = d).orderBy("trace_id").collect().toSeq
      assert(bfs == grouped, s"maxDepth=$d")
    }
  }

  test("criticalPathGrouped survives a 200k-span parent chain (no recursion)") {
    // one trace = one straight chain far deeper than any JVM stack; the
    // depth guard makes every span past maxDepth+1 unreachable, so the
    // answer is the maxDepth-bounded path — but computing that must not
    // recurse chain-length deep.
    val n = 200000
    val spans = (0 until n).map { r =>
      (1L, r.toLong, if (r == 0) Option.empty[Long] else Some(r - 1L), 1L)
    }.toDF("t_id", "s_id", "p_id", "dur")
    val rows = Traces.criticalPathGrouped(spans, "t_id", "s_id", "p_id", "dur",
      maxDepth = 20).collect()
    // the only leaf (span n-1) is unreachable within the bound → no row
    assert(rows.isEmpty)
    // with a bound >= chain length the full path comes back
    val full = Traces.criticalPathGrouped(spans, "t_id", "s_id", "p_id", "dur",
      maxDepth = n).collect()
    assert(full.length == 1 && full(0).getLong(2) == n.toLong &&
      full(0).getLong(3) == n.toLong)
  }

  test("tailSample keeps whole signal traces plus a stable hash sample") {
    import org.apache.spark.sql.functions._
    // 100 traces x 3 spans; trace 7 has one slow span
    val spans = (1 to 100).flatMap { t =>
      (0 until 3).map(s => (t.toLong, s.toLong,
        if (t == 7 && s == 1) 99999L else 10L))
    }.toDF("t_id", "s_id", "dur")
    val kept = Traces.tailSample(spans, "t_id", col("dur") > 1000L,
      rate = 0.2)
    val byTrace = kept.collect()
      .map(r => (r.getLong(0), r.getString(3))).groupBy(_._1)
    // trace 7 kept via signal, ALL 3 spans present
    assert(byTrace(7L).length == 3)
    assert(byTrace(7L).forall(_._2 == "signal"))
    // sampled traces are whole too, and the decision is repartition-stable
    assert(byTrace.values.forall(_.length == 3))
    val again = Traces.tailSample(spans.repartition(13), "t_id",
        col("dur") > 1000L, rate = 0.2)
      .select("t_id").distinct().as[Long].collect().toSet
    assert(byTrace.keySet == again)
    // rate ~20% of non-signal traces
    assert(byTrace.size > 5 && byTrace.size < 50)
  }

  test("serviceGraph aggregates parent->child service edges exactly") {
    // trace 1: api(0) -> db(1), api(0) -> cache(2), db(1) -> disk(3)
    // trace 2: api(0) -> db(1)   (same edge, second trace)
    val spans = Seq(
      (1L, 0L, Option.empty[Long], "api", 10L),
      (1L, 1L, Some(0L), "db", 20L),
      (1L, 2L, Some(0L), "cache", 5L),
      (1L, 3L, Some(1L), "disk", 40L),
      (2L, 0L, Option.empty[Long], "api", 10L),
      (2L, 1L, Some(0L), "db", 30L)).toDF("t_id", "s_id", "p_id", "service", "dur")
    val edges = Traces.serviceGraph(spans).collect().map { r =>
      (r.getAs[String]("parent_service"), r.getAs[String]("child_service")) ->
        ((r.getAs[Long]("calls"), r.getAs[Long]("n_traces"),
          r.getAs[Long]("sum_dur"), r.getAs[Long]("max_dur"),
          r.getAs[Double]("avg_dur")))
    }.toMap
    assert(edges.keySet == Set(("api", "db"), ("api", "cache"), ("db", "disk")))
    assert(edges(("api", "db")) == ((2L, 2L, 50L, 30L, 25.0)))
    assert(edges(("api", "cache")) == ((1L, 1L, 5L, 5L, 5.0)))
    assert(edges(("db", "disk")) == ((1L, 1L, 40L, 40L, 40.0)))
  }
}
