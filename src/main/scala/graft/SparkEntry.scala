package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.GraftSession
import graft.query.{Alerts, Analytics, Counts, LogContext, FieldStats, Percentiles, TimeSeries, Traces}
import graft.ml.{BpeTrain, Dedup, Eval, Multimodal, Packing, Sampling, Similarity, TextAnalysis, TextIndex, TextRank}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with DuckDB-equivalent `oracleSql` over the same
  * parquet tables.
  *
  * Determinism rules used throughout (the driver hash-compares values):
  *   - every query ends in a total ORDER BY (all tiebreaks);
  *   - float aggregates go through DECIMAL(18,2) sums — exact in both Spark
  *     and DuckDB, so no fp-addition-order drift;
  *   - averages/ratios are computed from exact sums with a single double
  *     division (deterministic given equal operands);
  *   - NO decimal column ever reaches the output: every exact decimal sum is
  *     cast to DOUBLE in the final select on BOTH sides. A decimal read back
  *     through pandas keeps its fixed scale ("253942.00") while the oracle's
  *     surfaces as float64 ("253942.0"), so any trailing-zero value would
  *     hash-mismatch (root cause of the 6 r01 failures).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    GraftSession.table(GraftSession.tune(s), dir, name)

  /** [[t]] + [[GraftSession.fanOutSmall]] — for search bodies whose
    * pre-shuffle per-row kernel (subword encode, codec decode) dominates:
    * a one-split input would otherwise run the kernel in a single task.
    */
  private def tF(s: SparkSession, dir: String, name: String): DataFrame =
    GraftSession.fanOutSmall(t(s, dir, name))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_pricing")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  /** Every gated query: its [[fused]] body where it has one, else its
    * [[prepared]] split run end to end (build, then search), so the
    * oracle checks the body the bench times.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    prepared.map { case (n, p) =>
      n -> ((s: SparkSession, dir: String) =>
        p.search(s, dir, p.build(s, dir)))
    } ++ fused

  /** Gates written as one body: every gate without a split, plus
    * `q_sim_pq`, `q_sim_ivfpq` and `q_sim_ivfpq_residual`, whose body runs
    * the ad-hoc [[Similarity.ivfPqSearch]] while their split runs the
    * persisted index — `PreparedQuerySpec` holds the two paths equal.
    */
  private[graft] def fused
      : Map[String, (SparkSession, String) => DataFrame] = Map(
    // A9/A1: grouped aggregation (TPC-H Q1 shape), exact decimal sums.
    "q_agg_pricing" -> ((s, dir) => {
      // tF: 600k rows of decimal casts + map-side aggregation otherwise
      // run in the one-split scan's single task
      val l = tF(s, dir, "lineitem")
      l.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).as("dq"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).as("dbp"),
          sum((col("l_extendedprice").cast("decimal(18,2)") *
            (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
              col("l_discount").cast("decimal(18,2)"))).cast("decimal(28,4)"))
            .as("ddp"),
          count(lit(1)).as("count_order"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("dq").cast("double").as("sum_qty"),
          col("dbp").cast("double").as("sum_base_price"),
          col("ddp").cast("double").as("sum_disc_price"),
          col("count_order"),
          (col("dq").cast("double") / col("count_order")).as("avg_qty"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // F1/F3: filter + projection pushdown to the parquet scan.
    "q_filter_project" -> ((s, dir) => {
      t(s, dir, "events")
        .filter(col("event_type") === "error" && col("value") > 5.0)
        .select(col("event_id"), col("user_id"), col("value"))
        .orderBy(col("event_id"))
    }),

    // J4: equi-join + grouped aggregate (orders x customer).
    "q_join_agg" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"),
          count(lit(1)).as("order_count"))
        .select(col("c_mktsegment"), col("rev").cast("double").as("revenue"),
          col("order_count"))
        .orderBy(col("c_mktsegment"))
    }),

    // J4: multiway join with broadcast dims (region/nation broadcast;
    // orders x lineitem co-shuffle on the join key).
    "q_join_multiway" -> ((s, dir) => {
      val r = broadcast(t(s, dir, "region"))
      val n = broadcast(t(s, dir, "nation"))
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      // tF: the probe side streams 600k rows through four joins + the
      // revenue arithmetic - single-task without the fan-out
      val l = tF(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum((col("l_extendedprice").cast("decimal(18,2)") *
            (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
              col("l_discount").cast("decimal(18,2)"))).cast("decimal(28,4)"))
            .as("rev"),
          count(lit(1)).as("lineitem_count"))
        .select(col("r_name"), col("n_name"),
          col("rev").cast("double").as("revenue"), col("lineitem_count"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // J4: left-semi join (EXISTS).
    "q_semi_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 400.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "leftsemi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // J4: left-anti join (NOT EXISTS).
    "q_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "leftanti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // W3: ranking window — top-3 orders per customer.
    "q_window_rank" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val w = Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      o.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
        .orderBy(col("o_custkey"), col("rk"))
    }),

    // As-of join (point-in-time lookup): each event sees the most recent
    // error event of the same user at-or-before its timestamp — one
    // window pass over the tagged union, no range-join explosion.
    "q_asof_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val err = e.filter(col("event_type") === "error")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("err_id"), max(col("value")).as("err_val"))
      graft.operators.AsOfJoin.asOf(
          e.select(col("event_id"), col("user_id"), col("ts")), err,
          leftKey = "user_id", rightKey = "user_id",
          leftTime = "ts", rightTime = "ts",
          rightCols = Seq("err_id", "err_val"))
        .orderBy(col("event_id"))
    }),

    // §2.6 top-k: the custom TopKPerGroup operator (LogicalPlan + Strategy
    // + SparkPlan) — bounded heaps per group, partial before the shuffle,
    // no full sort. Same result set as the window formulation.
    "q_topk_operator" -> ((s, dir) =>
      graft.operators.TopK.perGroup(t(s, dir, "orders"),
          Seq(col("o_custkey")),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"), col("o_totalprice").desc,
          col("o_orderkey").asc)),

    // W1: COUNT(DISTINCT) OVER (PARTITION BY k) — Spark disallows it
    // directly; the scalable rewrite is distinct → tiny per-key counts →
    // broadcast join back. (`size(collect_set().over(w))` is the literal
    // rewrite but materializes the whole set per key — OOM at 100 TB
    // cardinalities; this shape never holds more than the per-key counts.)
    "q_window_count_distinct" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val perKey = e.select(col("event_type").as("et"), col("user_id")).distinct()
        .groupBy(col("et"))
        // count(col) excludes NULL user_id — COUNT(DISTINCT) semantics
        .agg(count(col("user_id")).as("distinct_users"))
      e.join(broadcast(perKey), e("event_type") <=> perKey("et"))
        .select(col("event_id"), col("event_type"), col("distinct_users"))
        .orderBy(col("event_id"))
        .limit(500)
    }),

    // A3: time-binned histogram (date_bin shim), hourly bins.
    "q_counts_histogram" -> ((s, dir) => {
      Counts
        .histogram(t(s, dir, "events"), "ts", 3600L * 1000)
        .orderBy(col("bin_start"))
    }),

    // A8+: rollup cascade — build 1-minute mergeable pre-aggregates, merge
    // them to 1-hour bins WITHOUT rescanning raw events (count-of-counts,
    // exact sum-of-sums, min-of-mins, max-of-maxes). The oracle aggregates
    // the raw table directly at 1 h: a hash match proves cascade == direct.
    "q_counts_cascade" -> ((s, dir) => {
      val minute = Counts.rollup(t(s, dir, "events"), "ts", "value",
        Seq("event_type"), 60L * 1000)
      val hour = Counts.mergeRollup(minute, Seq("event_type"), 3600L * 1000)
      Counts.finalizeRollup(hour, Seq("event_type"))
        .orderBy(col("bin_start"), col("event_type"))
    }),

    // A4/J1: binned counts joined back to broadcast top-k groups.
    "q_counts_topk" -> ((s, dir) => {
      Counts
        .topKCounts(t(s, dir, "events"), "ts", Seq("event_type"),
          binMillis = 86400L * 1000, k = 3)
        .orderBy(col("bin_start"), col("event_type"))
    }),

    // A2: COUNT(*) fast path (metadata-answerable; full-scan correctness).
    "q_count_star" -> ((s, dir) =>
      t(s, dir, "events").agg(count(lit(1)).as("cnt"))),

    // F6/F7 + A5: alert condition AST → Column filter + grouped aggregate.
    "q_alert_avg" -> ((s, dir) => {
      import Alerts._
      val cond = Group(and = true, Seq(
        Leaf("event_type", ILike, Some("%err%")),
        Leaf("event_type", IsNotNull, None)))
      t(s, dir, "events")
        .filter(Conditions.toColumn(cond))
        .groupBy(col("user_id"))
        .agg(
          sum(col("value").cast("decimal(18,2)")).as("sv"),
          count(lit(1)).as("n"))
        .select(col("user_id"), col("sv").cast("double").as("sum_value"),
          col("n"), (col("sv").cast("double") / col("n")).as("avg_value"))
        .orderBy(col("user_id"))
    }),

    // O5: keyset pagination after a (ts,id) cursor.
    "q_logctx_after" -> ((s, dir) =>
      LogContext.after(t(s, dir, "events"), "ts", "event_id",
        LogContext.Cursor(tsMillis = 1705276800000L, id = 0L), n = 50)),

    // O5: keyset pagination before the cursor (reverse order).
    "q_logctx_before" -> ((s, dir) =>
      LogContext.before(t(s, dir, "events"), "ts", "event_id",
        LogContext.Cursor(tsMillis = 1705276800000L, id = 0L), n = 50)),

    // W1/W2/O6: trace list with paging over events-as-spans.
    "q_trace_list" -> ((s, dir) =>
      Traces.traceList(t(s, dir, "events"), "user_id", "event_id", "ts",
          errorCond = col("event_type") === "error", offset = 2, limit = 10)
        .withColumn("span_count", col("span_count").cast("long"))
        .select(col("trace_id"), col("span_count"), col("error_count"),
          col("trace_start"), col("trace_end"))),

    // W1/HTTP: the APM trace-list endpoint's query shape (TracesApi.list:
    // per-trace distinct span/error counts via ONE trace-id window,
    // DISTINCT projection, deterministic sort + paging) over an OTel-ish
    // span mapping of events. Gates the /services/traces/list logic
    // against the oracle, not just over the wire.
    "q_trace_apm_list" -> ((s, dir) => {
      val spans = t(s, dir, "events").select(
        col("event_type").as("service.name"),
        concat(lit("s"), col("event_id")).as("span_name"),
        floor(col("value") * 1000).cast("long").as("span_duration_ns"),
        col("user_id").cast("string").as("span_trace_id"),
        lpad(col("event_id").cast("string"), 8, "0").as("span_span_id"),
        col("ts").as("span_start_time_unix_nano"),
        unix_millis(col("ts").cast("timestamp"))
          .as("span_start_time_unix_nano_epoch"),
        when(col("event_type") === "error", 2).otherwise(0)
          .as("span_status_code"),
        when(col("event_id") % 5 === 0, lit("")).otherwise(
          lpad((col("event_id") - 1).cast("string"), 8, "0"))
          .as("span_parent_span_id"),
        col("ts").as("p_timestamp"))
      graft.http.TracesApi.list(spans, None, None, "spans", "longestFirst",
          offset = 20, limit = 200)
        .toOption.get
        .withColumnRenamed("service.name", "service_name")
    }),

    // J2/W2: trace detail — one trace's spans with COUNT(*) OVER () total.
    "q_trace_detail" -> ((s, dir) =>
      Traces.traceDetail(t(s, dir, "events"), "user_id", traceId = 7L,
          "event_id", "ts")
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
          col("total_spans"))),

    // J2+: per-trace critical path — longest root-to-leaf duration path
    // over a deterministic heap-shaped span hierarchy (rank r's parent is
    // (r-1)/2), durations integer-quantized for exact path sums.
    "q_trace_critical_path" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val spans = t(s, dir, "events")
        .select(col("user_id").as("t_id"),
          (row_number().over(w) - 1).cast("long").as("s_id"),
          floor(col("value") * 100).cast("long").as("dur"))
        .withColumn("p_id",
          when(col("s_id") === 0L, lit(null).cast("long"))
            .otherwise(((col("s_id") - 1) / 2).cast("long")))
      // traces are bounded (≤ spans-per-user), so the single-shuffle
      // grouped plan beats the iterative BFS: one Exchange, no caching,
      // no per-level jobs — the right shape at 100 TB too.
      Traces.criticalPathGrouped(spans, "t_id", "s_id", "p_id", "dur")
        .orderBy(col("trace_id"))
    }),

    // A6: field stats — top-N values of a column with deterministic tiebreak.
    "q_field_stats_top" -> ((s, dir) =>
      FieldStats.statsFrame(t(s, dir, "events"), "event_type")
        .orderBy(col("value_count").desc, col("value").asc)),

    // A6/HTTP: the /dataset_stats response shape — rank-paged distinct
    // values per field with exact totals (reference build_stats_sql).
    "q_field_stats_dataset" -> ((s, dir) =>
      FieldStats.datasetStats(t(s, dir, "documents"),
        fields = Seq("lang", "source"), offset = 1, limit = 3)),

    // ML: quality scoring over documents (pure column arithmetic, no shuffle).
    "q_text_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextAnalysis.qualityColumns(col("text"))
        .foldLeft(d) { case (df, (n, c)) => df.withColumn(n, c) }
        .withColumn("quality_score", TextAnalysis.qualityScore(col("text")))
        .select(col("doc_id"), col("n_words"), col("n_chars"),
          col("distinct_words"), col("avg_word_len"), col("distinct_ratio"),
          col("stopword_ratio"), col("quality_score"))
        .orderBy(col("doc_id"))
    }),

    // ML: token counting (whitespace words + BPE-ish subword regex).
    "q_text_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_words"),
          TextAnalysis.subwordCount(col("text")).cast("long").as("subword_count"))
        .orderBy(col("doc_id"))),

    // ML: document fingerprinting (md5 + 60-bit numeric key).
    "q_text_fingerprint" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextAnalysis.fingerprintColumns(col("text"))
        .foldLeft(d) { case (df, (n, c)) => df.withColumn(n, c) }
        .select(col("doc_id"), col("fp_md5"), col("fp_num"))
        .orderBy(col("doc_id"))
    }),

    // ML: language-ID by stopword voting (deterministic argmax).
    "q_text_langid" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))),

    // ML: PII scrubbing — mask emails/URLs/IPs/long digit runs in one
    // codegen'd regexp_replace chain, plus the scrub-count audit column.
    "q_text_scrub" -> ((s, dir) => {
      val decorated = concat(col("text"),
        lit(" contact u"), col("doc_id").cast("string"),
        lit("@example.com or http://ex.com/p/"), col("doc_id").cast("string"),
        lit(" ip 10.0.0.7 acct 1234567890"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.scrubPii(decorated).as("scrubbed"),
          TextAnalysis.piiCount(decorated).as("pii_n"))
        .orderBy(col("doc_id"))
    }),

    // ML: per-doc novelty — fraction of the doc's distinct bigrams that no
    // other doc contains (contamination signal). One narrow tokenize pass
    // per aggregation (native kernels: scan-bound, so two passes beat a
    // corpus-scale cache), one tiny per-doc join — no join back to the
    // exploded frame and no collect_list on hot bigrams (skew-safe: a
    // bigram appearing in every doc costs one counter, not a giant list).
    // All-integer until one exact division.
    "q_text_novelty" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val bigrams = d.select(col("doc_id"),
          explode(array_distinct(
            TextAnalysis.shingles(TextAnalysis.tokens(col("text")), 2)))
            .as("bg"))
      val perDoc = bigrams.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"))
      // (doc_id, bg) rows are distinct per doc, so df = count(*); a bigram
      // with df=1 lives in exactly one doc, recoverable as min(doc_id)
      val uniques = bigrams.groupBy(col("bg"))
        .agg(count(lit(1)).as("df"), min(col("doc_id")).as("doc_id"))
        .filter(col("df") === 1)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_unique"))
      perDoc.join(uniques, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_bigrams"),
          coalesce(col("n_unique"), lit(0L)).as("n_unique"),
          (coalesce(col("n_unique"), lit(0L)).cast("double") /
            col("n_bigrams")).as("novelty"))
        .orderBy(col("doc_id"))
    }),

    // ML: Gopher-style within-document repetition signals — top-word /
    // top-bigram occurrence fractions and duplicated-trigram fraction.
    // One explode + two hash aggregations (skew-safe); all-integer counts,
    // one exact double division per fraction.
    "q_text_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionSignals(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // ML: word-distribution Shannon entropy (gibberish/boilerplate quality
    // signal) — native one-pass kernel, no explode, no shuffle; per-word
    // terms on the 1e-6 grid before an integer sum (engine-portable).
    "q_text_entropy" -> ((s, dir) =>
      TextAnalysis.wordEntropy(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // ML: C4-style cleaning flags — per-row predicates (word floor,
    // blocklist, terminal punctuation, brace detection) at scan speed.
    "q_text_c4" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id") +:
          TextAnalysis.c4Flags(col("text"), blocklist = Seq("spark", "vector"))
            .map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))),

    // ML: Gopher-style document filter rules (Rae et al. 2021 Table A1)
    // — word-count and mean-word-length bands, symbol/bullet/ellipsis
    // ratios, alpha-word share, stopword presence. Every threshold is an
    // INTEGER comparison (no division) — scan-speed per-row predicates.
    "q_text_gopher" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id") +:
          TextAnalysis.gopherFlags(col("text"), minWords = 50)
            .map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))),

    // ML: exact dedup — hash-groupBy on normalized content.
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("fp_md5"))),

    // ML: exact dedup with a quality-aware canonical policy — keep the
    // longest variant per content group (ties → min id), one struct-max
    // aggregate, no per-group sort/window.
    "q_dedup_keep_best" -> ((s, dir) =>
      Dedup.exactKeepBest(t(s, dir, "documents"), "doc_id", "text",
          score = col("n_chars").cast("long"))
        .orderBy(col("fp_md5"))),

    // ML: hashing-trick featurizer — sparse TF features over a fixed
    // 256-slot space, no vocabulary pass (fastText/VW style).
    "q_text_hashfeatures" -> ((s, dir) =>
      TextAnalysis.hashingFeatures(t(s, dir, "documents"), dim = 256)
        .orderBy(col("doc_id"), col("slot"))),

    // ML: linear quality-classifier inference over hash features —
    // fastText-style model application as one narrow aggregate; micro-grid
    // integer weights (slot-derived here) keep the logit engine-exact.
    "q_text_quality_model" -> ((s, dir) => {
      val w = Array.tabulate(256)(sl =>
        (sl.toLong * 2654435761L) % 2001L - 1000L)
      TextRank.scoreLinearModel(t(s, dir, "documents"), "doc_id", "text",
          weightsMicro = w, biasMicro = 50000L)
        .orderBy(col("doc_id"))
    }),

    // ML: Unicode NFC normalization + accent folding. The corpus is ASCII,
    // so a decomposed suffix (" cafe" + combining acute U+0301) is spliced
    // onto each row to make the composition observable: NFC fuses e+◌́ into
    // é (char count drops by 1), the accent fold strips it back to "cafe".
    "q_text_normalize" -> ((s, dir) => {
      def raw = concat(substring(col("text"), 1, 24),
        lit(" cafe"), lit("\u0301"))
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.normalizeUnicode(raw).as("nfc_text"),
        length(TextAnalysis.normalizeUnicode(raw)).cast("long")
          .as("nfc_chars"),
        TextAnalysis.foldAccents(raw).as("ascii_text"))
        .orderBy(col("doc_id"))
    }),

    // ML: n-gram Jaccard near-dup pairs (shingle-key join, no cartesian).
    "q_dedup_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))),

    // ML: duplicate clustering — connected components (min-label
    // propagation) over the Jaccard near-dup pairs.
    "q_dedup_cluster" -> ((s, dir) =>
      Dedup.clusters(
          Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
            n = 3, threshold = 0.5))
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy(col("doc_id"))),

    // ML: the dedup end product — retained docs (cluster canonicals +
    // singletons) after Jaccard near-dup clustering.
    "q_dedup_keeplist" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.keepList(docs, "doc_id",
          Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // ML: incremental dedup — a "new batch" (doc_id >= 250) deduplicated
    // against the existing reference corpus (doc_id < 250): bipartite
    // shingle join, no new x new or ref x ref work.
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.jaccardAgainstReference(
          docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250),
          "doc_id", "text", n = 3, threshold = 0.5)
        .orderBy(col("new_id"), col("ref_id"))
    }),

    // ML: corpus vocabulary induction — top tokens by occurrence with the
    // cumulative-coverage curve (tokenizer vocab sizing).
    "q_vocab_topk" -> ((s, dir) =>
      TextAnalysis.vocabulary(t(s, dir, "documents"), topK = 100)
        .orderBy(col("rank"))),

    // ML: overlapping token-window chunking (RAG / embedding prep) —
    // 64-token chunks every 48 tokens, shuffle-free explode.
    "q_chunk_overlap" -> ((s, dir) =>
      TextAnalysis.chunk(t(s, dir, "documents"), size = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_id"))),

    // ML: MinHash+LSH near-dup pairs (band-bucket join + exact verify).
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.lshPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))),

    // ML: 32-bit SimHash signatures (pure per-row arithmetic).
    "q_dedup_simhash" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), Dedup.simhash32(col("text")).as("simhash"))
        .orderBy(col("doc_id"))),

    // ML: one spherical-k-means Lloyd iteration over the embeddings —
    // seed-assignment cluster sizes + refined coordinate-mean centroids,
    // exploded to (centroid_id, n, pos, m) scalar rows. Assignment is a
    // broadcast max_by argmax (one row per vector shuffles); the mean is
    // a (centroid, pos)-keyed partial aggregation that moves k·dim sums
    // per task, never vectors — the centroid-refinement step that feeds
    // IVF/SemDeDup at production scale.
    "q_cluster_kmeans" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val seeds = Similarity.seedCentroids(e, "vec_id", "embedding", 8)
      val sizes = Similarity.assignToCentroids(e, "vec_id", "embedding", seeds)
        .groupBy(col("centroid_id")).agg(count(lit(1)).as("n"))
      val refined = Similarity.kmeansCentroids(e, "vec_id", "embedding",
        k = 8, iters = 1)
      refined.join(sizes, Seq("centroid_id"), "left")
        .select(col("centroid_id"), coalesce(col("n"), lit(0L)).as("n"),
          posexplode(col("c_vec")))
        .select(col("centroid_id"), col("n"), col("pos"),
          col("col").cast("double").as("m"))
        .orderBy(col("centroid_id"), col("pos"))
    }),

    // ML: exact cosine top-k (broadcast queries, single corpus pass).
    "q_sim_knn" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.knnBruteForce(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
        .orderBy(col("q_id"), col("rk"))
    }),

    // ML: RADIUS (threshold) search — every neighbor above a cosine
    // cutoff, the retrieval mode top-k can't express (near-dup sweeps,
    // recall-complete candidate generation). Output bounded by τ.
    "q_sim_radius" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.radiusSearch(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", minCosine = 0.3)
        .orderBy(col("q_id"), col("n_id"))
    }),

    // ML: L2 vector normalization (corpus-prep step before indexing:
    // unit vectors make cosine = dot and rank-equal to L2; dead vectors
    // flagged once at prep). Output pinned on the 10^-6 grid: the unit
    // norm and first element of each normalized vector, exact-rounded
    // IEEE ops both engines share.
    "q_sim_normalize" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.normalizeVectors(e.filter(col("vec_id") < 50),
          "vec_id", "embedding")
        .select(col("vec_id"),
          floor(Similarity.norm(col("embedding")) * 1000000d)
            .cast("long").as("unit_norm_micro"),
          floor(element_at(col("embedding"), 1) * 1000000d)
            .cast("long").as("first_elem_micro"),
          col("is_degenerate"))
        .orderBy(col("vec_id"))
    }),

    // ML: sign-LSH bucketed ANN (bucket-key join, ~2^nBits less work).
    "q_sim_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.knnLsh(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 3, nBits = 4)
        .orderBy(col("q_id"), col("rk"))
    }),

    // ML: multi-probe sign-LSH ANN — the query side additionally probes
    // the Hamming-1 buckets from flipping the lowest 2 sign bits (Lv
    // et al. 2007 recall lift); corpus still hashes once per vector.
    "q_sim_ann_multiprobe" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.knnLsh(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 3, nBits = 4, multiProbe = 2)
        .orderBy(col("q_id"), col("rk"))
    }),

    // ML: IVF-bucketed ANN — centroid assignment + nProbe search.
    "q_sim_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfSearch(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 3, numCentroids = 8, nProbe = 2)
        .orderBy(col("q_id"), col("rk"))
    }),

    // ML: IVF with MULTI-ASSIGNMENT (spill = 2) — every vector lives in
    // its TWO nearest lists, so a true neighbor has two independent
    // chances to sit in a probed list: measured recall@10 at unchanged
    // nProbe rises 0.67 → 0.83 for 2× index rows (ann_quality.json
    // ivf_spill2). Candidates reachable through several probed lists
    // collapse to one row before ranking.
    "q_sim_ivf_spill" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfSearch(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 3, numCentroids = 8, nProbe = 2,
          spill = 2)
        .orderBy(col("q_id"), col("rk"))
    }),

    // ML: exact-substring dup detection — sliding 8-token windows present
    // in >1 document (passage-level signal that doc-level dedup misses).
    "q_dedup_spans" -> ((s, dir) =>
      Dedup.duplicateSpans(t(s, dir, "documents"), k = 8)
        .orderBy(col("span"))),

    // ML: maximal duplicated passages — overlapping/adjacent duplicated
    // windows coalesced per document into [start,end] token ranges with the
    // passage text (the actionable output of exact-substring dedup).
    "q_dedup_spans_max" -> ((s, dir) =>
      Dedup.maximalDuplicateSpans(t(s, dir, "documents"), k = 8)
        .orderBy(col("doc_id"), col("start_tok"))),

    // ML: SemDeDup — cluster-bounded semantic dedup; within-centroid
    // co-partitioned self-join, drop cosine-similar higher ids.
    "q_dedup_semantic" -> ((s, dir) =>
      Similarity.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
          numCentroids = 8, threshold = 0.3)
        .orderBy(col("v_id"))),

    // ML: GPT-style sequence packing — concat-then-chunk token layout via
    // a scalable two-phase prefix sum (no single-partition global window).
    "q_pack_sequences" -> ((s, dir) =>
      Packing.concatChunks(t(s, dir, "documents"), "doc_id",
          size(TextAnalysis.tokens(col("text"))), budgetTokens = 512)
        .orderBy(col("doc_id"))),

    // ML: hard-negative mining — top-k cosine-similar different-label
    // vectors per query (broadcast queries, one corpus pass).
    "q_sim_hardneg" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", "label", k = 5)
        .orderBy(col("q_id"), col("rk"))
    }),

    // A5+: SRE multi-window burn-rate alert — error rate must exceed the
    // threshold over BOTH a 6h and a 24h trailing window.
    "q_alert_burnrate" -> ((s, dir) =>
      Alerts.burnRate(t(s, dir, "events"), "ts",
          col("event_type") === "error",
          binMillis = 3600L * 1000, shortBins = 6, longBins = 24,
          threshold = 0.21)
        .orderBy(col("bin_start"))),

    // ML: embedding-cosine near-dup pairs, LSH-banded (candidates come
    // from a keyed (band,key) self-join, never a cross join).
    "q_sim_neardup" -> ((s, dir) =>
      Similarity.nearDupPairs(
          t(s, dir, "embeddings").filter(col("vec_id") < 200),
          "vec_id", "embedding", threshold = 0.35,
          inDim = 64, bandBits = 2, bands = 8)
        .orderBy(col("id_a"), col("id_b"))),

    // ML: semantic decontamination — the 4% of vectors with vec_id % 25
    // == 0 act as the benchmark, the rest as train (proportional split at
    // every SF — a fixed id cutoff would flip the roles as the corpus
    // grows); bipartite SRP-LSH blocking, no train x train work.
    "q_sim_decontaminate" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.semanticContamination(
          e.filter(col("vec_id") % 25 =!= 0),
          e.filter(col("vec_id") % 25 === 0),
          "vec_id", "embedding", threshold = 0.35,
          inDim = 64, bandBits = 4, bands = 8)
        .orderBy(col("train_id"), col("bench_id"))
    }),

    // ML: deterministic stratified sampling — per-language Bernoulli rates
    // from the portable id hash (reproducible, repartition-stable).
    "q_sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedSample(t(s, dir, "documents"), "lang", "doc_id",
          rates = Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // ML: deterministic train/val/test split — append- and
    // repartition-stable assignment from the id hash, no shuffle.
    "q_sample_split" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("split",
          Sampling.splitColumn(col("doc_id"), valFrac = 0.1, testFrac = 0.1))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
        .orderBy(col("split"))),

    // ML: leakage-free split — near-dup clusters (Jaccard >= 0.5) land on
    // one side as a unit; singletons get the plain hash-split assignment.
    "q_sample_leakfree" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Sampling.leakFreeSplit(d, "doc_id",
          Dedup.jaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.5),
          valFrac = 0.1, testFrac = 0.1)
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // ML: fixed-size per-group sample — k smallest id-hashes per language
    // (uniform without replacement, deterministic).
    "q_sample_pergroup" -> ((s, dir) =>
      Sampling.perGroupSample(t(s, dir, "documents"), "lang", "doc_id", k = 7)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // ML: deterministic global shuffle + sharding — reproducible corpus-wide
    // permutation (shard, shard_pos) from the id hash; one shuffle on the
    // shard key, shards sort independently (no global sort bottleneck).
    "q_sample_shards" -> ((s, dir) =>
      Sampling.shuffleShards(t(s, dir, "documents"), "doc_id", numShards = 8)
        .select(col("doc_id"), col("shard"), col("shard_pos"))
        .orderBy(col("doc_id"))),

    // ML: per-source token-budget selection (best-first greedy fill) via
    // the SCALE path — histogram threshold + exact boundary bin; only one
    // bin's rows per group ever pay a sort (spec asserts ≡ direct window).
    "q_sample_budget" -> ((s, dir) =>
      Sampling.budgetSelect(t(s, dir, "documents"), "lang", "n_chars",
          "n_chars", budgets = Map("en" -> 50000L), defaultBudget = 20000L,
          idCol = "doc_id", bins = 16)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // ML: group-wise embedding mean pooling — posexplode (narrow) then one
    // balanced shuffle on (group, position). Fixed-point determinism:
    // elements scale by 1e10 in DOUBLE (IEEE multiply, identical on every
    // engine) and TRUNCATE to BIGINT — truncation has no rounding ties
    // (engines disagree on decimal HALF_UP vs HALF_EVEN at dyadic values
    // like 0.27392578125, which DO land on the 1e-10 half-grid). Integer
    // sums are exact; one exact double division yields the mean.
    "q_embed_meanpool" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .withColumn("grp", col("vec_id") % 10)
        .select(col("grp"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("grp"), col("pos"))
        .agg(sum((col("v").cast("double") * lit(1.0e10)).cast("long"))
            .as("scaled"),
          count(lit(1)).as("n"))
        .select(col("grp"), col("pos"),
          (col("scaled").cast("double") / (lit(1.0e10) * col("n")))
            .as("mean_v"),
          col("n"))
        .orderBy(col("grp"), col("pos"))),

    // J3: correlation API — validated two-stream equi-join config.
    "q_correlation" -> ((s, dir) => {
      import graft.query.Correlation._
      val cfg = CorrelationConfig(
        Seq(TableConfig("orders", Seq("o_orderkey", "o_totalprice")),
          TableConfig("customer", Seq("c_name", "c_mktsegment"))),
        Seq(JoinCondition("orders", "o_custkey"),
          JoinCondition("customer", "c_custkey")))
      graft.query.Correlation.execute(s, cfg,
          Map("orders" -> t(s, dir, "orders"),
            "customer" -> t(s, dir, "customer")))
        .toOption.get
        .filter(col("o_totalprice") > 450.0)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("`customer.c_name`").as("c_name"),
          col("`customer.c_mktsegment`").as("c_mktsegment"))
        .orderBy(col("o_orderkey"))
    }),

    // §2.8: JSON scalar functions — extract from the semi-structured props
    // column, then filter + aggregate on the extracted value.
    "q_json_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k_val"),
          col("value"))
        .filter(col("k_val") >= 50)
        .groupBy((col("k_val") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy(col("k_mod"))),

    // F8: list-column predicates via the alerts condition AST
    // (array_contains / has-all / has-any over token arrays).
    "q_list_predicates" -> ((s, dir) => {
      import Alerts._
      val cond = Group(and = true, Seq(
        Leaf("toks", ArrayContains, Some("spark")),
        Leaf("toks", ArrayHasAll, Some("table,key")),
        Leaf("toks", ArrayHasAny, Some("join,merge"))))
      t(s, dir, "documents")
        .withColumn("toks", TextAnalysis.tokens(col("text")))
        .filter(Conditions.toColumn(cond))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // §2.10/F: Generate (explode) — token frequency via array explode.
    "q_explode_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20)),

    // A9: CUBE aggregation (all grouping combinations).
    "q_agg_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
        .orderBy(col("gid").asc,
          col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    // A6+: exact discrete percentiles per group — rank selection in one
    // window pass, all percentiles from the same shuffle.
    "q_percentiles" -> ((s, dir) =>
      Percentiles.exact(t(s, dir, "events"), "event_type", "value",
          tieCol = "event_id", ps = Seq(0.5, 0.95, 0.99))
        .orderBy(col("event_type"))),

    // A1: exact COUNT(DISTINCT) aggregation per group.
    "q_count_distinct" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("distinct_users"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))),

    // A9: ROLLUP aggregation with grouping_id (subtotals + grand total).
    "q_agg_rollup" -> ((s, dir) => {
      val l = tF(s, dir, "lineitem")
      l.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n"),
          grouping_id().as("gid"))
        .orderBy(col("gid").asc,
          col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // A9: explicit GROUPING SETS (arbitrary subset lattice, not just
    // rollup/cube prefixes).
    "q_grouping_sets" -> ((s, dir) => {
      GraftSession.tune(s)
      t(s, dir, "orders").createOrReplaceTempView("orders_gs")
      s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
              |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
              |FROM orders_gs
              |GROUP BY GROUPING SETS ((o_orderstatus),
              |  (o_orderstatus, o_orderpriority), ())
              |ORDER BY gid, o_orderstatus NULLS FIRST,
              |  o_orderpriority NULLS FIRST""".stripMargin)
    }),

    // A3+: numeric value histogram via width_bucket (fixed-range bins).
    "q_numeric_histogram" -> ((s, dir) =>
      t(s, dir, "events")
        .select(width_bucket(col("value"), lit(0.0), lit(10.0), lit(20))
          .as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))),

    // §2.7: set operations — UNION / INTERSECT / EXCEPT.
    // SKETCHES: KMV theta-sketch distinct counts per cohort — the
    // mergeable set-summary the HLL field stats can't intersect.
    // Exhaustive below k (exact), (k−1)·2⁴⁸ div θ above; md5-prefix
    // hash mirrors in DuckDB, so the whole estimator is oracle-exact.
    "q_sketch_distinct" -> ((s, dir) =>
      graft.query.ThetaSketch.cardinality(
        graft.query.ThetaSketch.kmv(t(s, dir, "events"),
          Seq("event_type"), col("user_id"), k = 64),
        Seq("event_type"), k = 64)
        .orderBy(col("event_type"))),

    // SKETCHES: pairwise set ALGEBRA over the same sketches — union via
    // the merged bottom-k (bottom-k is exactly mergeable) and
    // intersection via common hashes below the pair's θ. At sf0.001 the
    // cohorts are exhaustive (everything exact); at sf0.1 the
    // estimation branch runs — the gate pins both regimes.
    "q_sketch_setops" -> ((s, dir) =>
      graft.query.ThetaSketch.pairwiseSetAlgebra(
        graft.query.ThetaSketch.kmv(t(s, dir, "events"),
          Seq("event_type"), col("user_id"), k = 64),
        "event_type", k = 64)
        .orderBy(col("g_a"), col("g_b"))),

    "q_set_ops" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val building = c.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val bigSpenders = o.filter(col("o_totalprice") > 450.0)
        .select(col("o_custkey").as("c_custkey"))
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("c_custkey"))
      building.union(bigSpenders).distinct()
        .intersect(urgent)
        .except(c.filter(col("c_acctbal") < 0).select(col("c_custkey")))
        .orderBy(col("c_custkey"))
    }),

    // W3: analytic window frame — lag + running sum per customer.
    "q_window_lag_frames" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      o.withColumn("dp", col("o_totalprice").cast("decimal(18,2)"))
        .withColumn("prev_dp", lag(col("dp"), 1).over(w))
        .withColumn("run_dp",
          sum(col("dp")).over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
        .select(col("o_custkey"), col("o_orderkey"),
          col("dp").cast("double").as("price"),
          col("prev_dp").cast("double").as("prev_price"),
          col("run_dp").cast("double").as("running_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // §2.9/W3: gap-based sessionization — lag marks session starts, running
    // sum numbers them, then per-session aggregates. One shuffle on the
    // session key; both window and groupBy share the user_id partitioning.
    "q_sessionize" -> ((s, dir) => {
      val gapMs = 30L * 60 * 1000
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_millis(col("ts").cast("timestamp")) -
              unix_millis(col("prev_ts").cast("timestamp")) > gapMs, 1L)
            .otherwise(0L))
        .withColumn("sess_n", sum(col("new_sess"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sess_n"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("sess_start"), max(col("ts")).as("sess_end"))
        .orderBy(col("user_id"), col("sess_n"))
    }),

    // §2.8: scalar-function sampler — CAST/COALESCE/CASE/IN/LIKE/string/
    // date/math builtins over one pass.
    "q_scalar_funcs" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.select(
          col("o_orderkey"),
          upper(substring(col("o_orderpriority"), 1, 3)).as("prio3"),
          concat(col("o_orderstatus"), lit("-"),
            col("o_orderpriority")).as("status_prio"),
          when(col("o_totalprice") > 300.0, "high")
            .when(col("o_totalprice") > 150.0, "mid")
            .otherwise("low").as("band"),
          col("o_orderstatus").isin("F", "O").cast("boolean").as("is_fo"),
          col("o_orderpriority").like("%URGENT%").as("is_urgent"),
          coalesce(nullif(col("o_orderstatus"), lit("P")),
            lit("PENDING")).as("status_or_default"),
          // a naive output timestamp, as every gate emits
          date_trunc("month", col("o_orderdate")).cast("timestamp_ntz")
            .as("order_month"),
          year(col("o_orderdate")).as("order_year"),
          floor(col("o_totalprice")).cast("long").as("price_floor"),
          abs(col("o_totalprice") - 250.0).as("dist_250"))
        .orderBy(col("o_orderkey"))
    }),

    // F9: known-format regex extraction as codegen'd columns — synthesize
    // access-log lines from events, re-parse with the format library, agg.
    "q_format_extract" -> ((s, dir) => {
      import graft.ingest.KnownFormats
      val e = t(s, dir, "events")
      val line = concat(
        lit("192.0.2.1 - user"), col("user_id").cast("string"),
        lit(" [01/Jan/2024:00:00:00 +0000] \""),
        when(col("event_type") === "error", "POST").otherwise("GET"),
        lit(" /api/"), col("event_type"), lit(" HTTP/1.1\" "),
        when(col("event_type") === "error", "500").otherwise("200"),
        lit(" "), col("event_id").cast("string"))
      KnownFormats.extractColumns(e.select(line.as("raw")), "raw", "access_log")
        .groupBy(col("method"), col("status"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user")).as("users"))
        .orderBy(col("method"), col("status"))
    }),

    // ML: multimodal decode/feature/resize plumbing (deterministic stub
    // codec over binary payloads; mapPartitions narrow stage).
    "q_multimodal_decode" -> ((s, dir) => {
      val media = t(s, dir, "documents")
        .withColumn("payload", col("text").cast("binary"))
      val dec = Multimodal.decodeAndFeaturize(media, "doc_id", "payload").toDF()
      Multimodal.withResizePlan(dec, 256, 256)
        .select(col("media_id"), col("width"), col("height"), col("channels"),
          col("n_frames"), col("out_width"), col("out_height"),
          element_at(col("features"), 1).as("feat_0"),
          element_at(col("features"), Multimodal.FeatureDim).as("feat_last"),
          aggregate(col("features"), lit(0.0), _ + _).as("feat_sum"))
        .orderBy(col("media_id"))
    }),

    // ML: multimodal near-dup — image-style dedup over the stub feature
    // vectors (decode → featurize → cosine pairs); the end-to-end
    // composition a perceptual-dedup pipeline runs, on a bounded id range.
    "q_multimodal_neardup" -> ((s, dir) => {
      val media = t(s, dir, "documents").filter(col("doc_id") < 100)
        .withColumn("payload", col("text").cast("binary"))
      val feats = Multimodal.decodeAndFeaturize(media, "doc_id", "payload")
        .toDF().select(col("media_id"), col("features"))
      Similarity.nearDupPairs(feats, "media_id", "features", threshold = 0.2,
          inDim = Multimodal.FeatureDim, bandBits = 2, bands = 8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ML: REAL image codec end-to-end — deterministic solid-gray PNGs are
    // ENCODED (ImageIO.write) then DECODED (ImageIoCodec: header dims,
    // frame count, luma histogram) in one narrow pass; the oracle
    // recomputes every output from the generation formula, so a lying
    // decode fails the gate. PNG is lossless, hence exact.
    "q_multimodal_real" -> ((s, dir) => {
      import s.implicits._
      // fan out the id frame BEFORE the encode mapPartitions: the PNG
      // encode is per-row heavy and would otherwise run in the scan's
      // single task (the ids are 8 bytes each — the exchange is free)
      val media = GraftSession.fanOutSmall(
          t(s, dir, "documents").filter(col("doc_id") < 200)
            .select(col("doc_id"))).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = 16 + (id % 32).toInt
            val h = 16 + ((id / 32) % 32).toInt
            val gray = (id % 256).toInt
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val rgb = (gray << 16) | (gray << 8) | gray
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { img.setRGB(x, y, rgb); x += 1 }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            (id, bos.toByteArray)
          }
        }.toDF("media_id", "payload")
      Multimodal
        .decodeAndFeaturize(media, "media_id", "payload",
          Multimodal.ImageIoCodec)
        .toDF()
        .select(col("media_id"), col("width"), col("height"), col("channels"),
          col("n_frames"),
          expr("array_position(features, array_max(features))")
            .cast("long").as("luma_bin"),
          array_max(col("features")).as("feat_max"))
        .orderBy(col("media_id"))
    }),

    // A3+: dense time series — hourly error spikes with empty bins
    // zero-filled from a sequence() grid (bounded by range, not volume).
    "q_counts_gapfill" -> ((s, dir) =>
      TimeSeries.gapfill(
          t(s, dir, "events")
            .filter(col("event_type") === "error" && col("value") > 200.0),
          "ts", 3600L * 1000)
        .orderBy(col("bin_start"))),

    // Counter rate per series (PromQL-style reset handling), one window
    // pass partitioned by the series key.
    "q_metric_rate" -> ((s, dir) =>
      TimeSeries.rate(
          t(s, dir, "events").filter(col("event_type") === "view"),
          Seq("user_id"), "ts", "value", tieBreak = "event_id")
        .select(col("event_id"), col("user_id"), col("value"),
          col("delta"), col("rate_per_sec"))
        .orderBy(col("user_id"), col("event_id"))),

    // Statistical anomaly flags: per-type z-score over integer-quantized
    // values (exact moments, fixed IEEE expression tree), outliers only.
    "q_anomaly_zscore" -> ((s, dir) =>
      TimeSeries.zscore(t(s, dir, "events"), "event_type",
          floor(col("value") * 100).cast("long"), threshold = 2.5)
        .filter(col("is_anomaly"))
        .select(col("event_id"), col("event_type"), col("vq"), col("z"))
        .orderBy(col("event_id"))),

    // ML: top-3 TF-IDF keywords per document (integer micro-scores).
    "q_text_tfidf" -> ((s, dir) =>
      TextRank.tfidfTopK(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), col("rk"))),

    // ML: BM25 query scoring over the corpus, top-20 docs.
    "q_text_bm25" -> ((s, dir) =>
      TextRank.bm25Scores(t(s, dir, "documents"), "doc_id", "text",
          Seq("stream", "join", "filter"))
        .orderBy(col("score_micro").desc, col("doc_id").asc)
        .limit(20)),

    // ML: HYBRID retrieval — BM25 lexical leg + exact-cosine vector leg
    // over the shared id space, fused by reciprocal rank fusion
    // (1/(60+rank) per leg, floored to the micro-grid per leg so the
    // fused score is an exact BIGINT). The production search shape:
    // keyword recall + semantic recall in one ranked answer.
    "q_hybrid_rrf" -> ((s, dir) =>
      graft.ml.Hybrid.hybridSearch(t(s, dir, "documents"), "doc_id",
          "text", t(s, dir, "embeddings"), "vec_id", "embedding",
          Seq("stream", "join", "filter"), queryVecId = 0L,
          kLex = 20, kVec = 20, k = 10)
        .orderBy(col("rk"))),

    // ML: THREE-LEG blend — lexical + vector + a query-independent
    // length prior (top-20 by n_chars, the corpus-prior slot recency or
    // quality scores fill in production) at half weight, fused through
    // the N-leg union+hash-agg RRF (one keyed shuffle regardless of N).
    "q_hybrid_prior" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val prior = graft.operators.TopK.rankedLimit(docs,
          Seq(col("n_chars").desc, col("doc_id").asc), 20)
        .select(col("doc_id"), col("rk"))
      graft.ml.Hybrid.hybridSearchWithPrior(docs, "doc_id", "text",
          t(s, dir, "embeddings"), "vec_id", "embedding",
          Seq("stream", "join", "filter"), queryVecId = 0L,
          prior = prior, kLex = 20, kVec = 20, k = 10)
        .orderBy(col("rk"))
    }),

    // ML: COLLOCATIONS — top-20 within-2-token ordered pairs by PMI on
    // the 10⁻⁶ grid (corpus phrase discovery; one sort per doc, two hash
    // aggregates, a TakeOrdered answer).
    "q_text_collocations" -> ((s, dir) =>
      TextAnalysis.collocations(t(s, dir, "documents"),
          "doc_id", "text", window = 2, minCount = 2, topK = 20)
        .select(col("left").as("w1"), col("right").as("w2"),
          col("n_pair"), col("pmi_micro"))
        .orderBy(col("pmi_micro").desc, col("w1").asc, col("w2").asc)),

    // A9: pivot — event counts per user cohort, one column per type.
    "q_pivot" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy((col("user_id") % 10).as("cohort"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .select(col("cohort"),
          coalesce(col("click"), lit(0L)).as("click"),
          coalesce(col("error"), lit(0L)).as("error"),
          coalesce(col("purchase"), lit(0L)).as("purchase"),
          coalesce(col("signup"), lit(0L)).as("signup"),
          coalesce(col("view"), lit(0L)).as("view"))
        .orderBy(col("cohort"))),

    // A9: unpivot — wide lineitem measures to (key, measure, val) rows.
    "q_unpivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") < 100)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "measure", "val")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"))),

    // W3: NTILE quartile assignment per group (total order via tiebreak).
    "q_window_ntile" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").asc, col("event_id").asc)
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          ntile(4).over(w).as("quartile"))
        .orderBy(col("event_id"))
    }),

    // ML: benchmark decontamination — training docs sharing ≥2 distinct
    // 4-grams with a held-out benchmark doc (raw n-gram join, hash-free).
    "q_decontaminate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.contamination(
          d.filter(col("doc_id") % 20 =!= 0),
          d.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", n = 4, minShared = 2L)
        .orderBy(col("train_id"), col("bench_id"))
    }),

    // ML: per-doc contamination REPORT — the overlap-fraction distribution
    // audits publish (zero-overlap docs included), where q_decontaminate
    // is the boolean filter. Distinct bench n-grams broadcast; the train
    // explosion marks hits in place, no train-side shuffle.
    "q_decontaminate_overlap" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.contaminationOverlap(
          d.filter(col("doc_id") % 20 =!= 0),
          d.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", n = 4)
        .orderBy(col("train_id"))
    }),

    // ML: Bloom-prefiltered decontamination — identical output contract to
    // contamination (trigrams, ≥3 shared) but the bench side crosses the
    // cluster as a codegen'd Bloom filter, not exploded strings; exact
    // verify join sees only survivors. The eval-suites-too-big-to-broadcast
    // shape.
    "q_decontaminate_bloom" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.contaminationBloom(
          d.filter(col("doc_id") % 20 =!= 0),
          d.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", n = 3, minShared = 3L,
          expectedItems = 100000L)
        .orderBy(col("train_id"), col("bench_id"))
    }),

    // ML: blocked edit-distance near-dup pairs (record-linkage blocking,
    // Levenshtein within block only).
    "q_dedup_editdist" -> ((s, dir) =>
      Dedup.editDistancePairs(t(s, dir, "documents"), "doc_id", "text",
          blockCols = Seq("lang"), blockLen = 8, compareLen = 80,
          maxDist = 20)
        .orderBy(col("id_a"), col("id_b"))),

    // LAYOUT: Z-ORDER (Morton) clustering value — the multi-dimensional
    // file-skipping layout (Delta/Iceberg ZORDER BY): two dims min-max
    // scaled to 16 bits (exact BIGINT division), bits interleaved. The
    // ZOrderSpec pruning demo shows the payoff; this gate pins the
    // curve itself (scaling + interleave) against the oracle.
    "q_zorder" -> ((s, dir) =>
      graft.operators.ZOrder.withZValue(t(s, dir, "lineitem"),
          Seq("l_partkey", "l_suppkey"), bits = 16)
        .select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"), col("z"))
        .orderBy(col("z"), col("l_orderkey"), col("l_linenumber"))),

    // Product analytics: ordered view→click→purchase funnel — per-user
    // first-completion times (cascade of filtered min-aggregations).
    "q_funnel" -> ((s, dir) =>
      Analytics.funnel(t(s, dir, "events"), "user_id", "ts",
          Seq(col("event_type") === "view", col("event_type") === "click",
            col("event_type") === "purchase"))
        .orderBy(col("user_id"))),

    // Product analytics: the conversion chart — per-step completion counts
    // (monotonically non-increasing).
    "q_funnel_counts" -> ((s, dir) =>
      Analytics.funnelCounts(t(s, dir, "events"), "user_id", "ts",
          Seq(col("event_type") === "view", col("event_type") === "click",
            col("event_type") === "purchase"))
        .orderBy(col("step"))),

    // Product analytics: TIME-BOUNDED funnel — each step must land
    // within 24 h of the previous one (how conversion is actually
    // defined; the unbounded funnel credits stale conversions).
    "q_funnel_within" -> ((s, dir) =>
      Analytics.funnelWithin(t(s, dir, "events"), "user_id", "ts",
          Seq(col("event_type") === "view", col("event_type") === "click",
            col("event_type") === "purchase"),
          maxGapMillis = 86400000L)
        .orderBy(col("user_id"))),

    // Product analytics: TIME-TO-CONVERT per funnel transition — exact
    // BIGINT ms stats over the fully-converted cohort, plus the p50
    // from a 1-second-bucketed duration histogram (the scale path: an
    // exact median would collect a step's durations onto one executor).
    "q_funnel_timing" -> ((s, dir) => {
      val steps = Seq(col("event_type") === "view",
        col("event_type") === "click", col("event_type") === "purchase")
      val ev = t(s, dir, "events")
      val stats = Analytics.funnelTiming(ev, "user_id", "ts", steps)
      val durs = Analytics.funnel(ev, "user_id", "ts", steps)
        .select(explode(array(
          struct(lit(2L).as("step"),
            (unix_millis(col("t_2").cast("timestamp")) -
              unix_millis(col("t_1").cast("timestamp"))).as("d_ms")),
          struct(lit(3L).as("step"),
            (unix_millis(col("t_3").cast("timestamp")) -
              unix_millis(col("t_2").cast("timestamp"))).as("d_ms"))))
          .as("x"))
        .select(col("x.step").as("step"),
          expr("((x.d_ms + 999) div 1000) * 1000").as("le"))
        .groupBy(col("step"), col("le")).agg(count(lit(1)).as("cnt"))
      val p50 = Percentiles.histogramQuantile(durs, Seq("step"),
          "le", "cnt", phiMicro = 500000L)
        .select(col("step"), col("q_micro").as("p50_ms_bucketed"))
      stats.join(p50, Seq("step")).orderBy(col("step"))
    }),

    // Product analytics: path transitions ("what happens next") — per
    // user consecutive event-type pairs ordered by (ts, event_id), a
    // 6 h gap break, top-15 edges by count. One per-user window + one
    // (src, dst) hash aggregate + TakeOrdered.
    "q_event_paths" -> ((s, dir) =>
      Analytics.pathTransitions(t(s, dir, "events"), "user_id", "ts",
        "event_type", "event_id", maxGapMillis = 21600000L, topK = 15)),

    // Product analytics: weekly cohort retention (signup cohort × weeks
    // since, distinct active users).
    "q_retention_cohort" -> ((s, dir) =>
      Analytics.cohortRetention(t(s, dir, "events"), "user_id", "ts",
          col("event_type") === "signup")
        .orderBy(col("cohort_week"), col("week_offset"))),

    // Forward fill (LOCF): carry each user's last purchase value forward
    // across their event history.
    "q_fill_forward" -> ((s, dir) =>
      TimeSeries.forwardFill(
          t(s, dir, "events").withColumn("pv",
            when(col("event_type") === "purchase", col("value"))),
          Seq("user_id"), "ts", "pv", tieBreak = "event_id")
        .select(col("event_id"), col("user_id"), col("filled"))
        .orderBy(col("user_id"), col("event_id"))),

    // Sliding-window aggregates: trailing 1 h count and exact quantized
    // sum per user (RANGE frame on epoch millis).
    "q_window_rolling" -> ((s, dir) =>
      TimeSeries.rolling(t(s, dir, "events"), Seq("user_id"), "ts",
          floor(col("value") * 100).cast("long"), 3600L * 1000)
        .select(col("event_id"), col("user_id"), col("w_count"), col("w_sum"))
        .orderBy(col("user_id"), col("event_id"))),

    // Bucketed range join: events against daily 12:00–13:00 maintenance
    // windows — an equi-join on time buckets instead of Spark's O(n·m)
    // nested-loop plan for BETWEEN joins.
    "q_join_range" -> ((s, dir) => {
      // 2024-01-01 12:00:00 UTC = 1704110400; windows [start, start+3599s]
      val win = s.range(0, 30)
        .select((lit(1704110400L) + col("id") * 86400L).as("ss"))
        .select(
          timestamp_seconds(col("ss")).cast("timestamp_ntz").as("win_start"),
          timestamp_seconds(col("ss") + 3599L).cast("timestamp_ntz").as("win_end"))
      graft.operators.RangeJoin
        .pointInInterval(t(s, dir, "events"), "ts", win,
          "win_start", "win_end", bucketMillis = 3600L * 1000)
        .groupBy(col("i_win_start").as("win_start"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("win_start"))
    }),

    // JOIN: INTERVAL × INTERVAL overlap — per-user daily activity spans
    // against per-event-type daily spans ("which sessions overlapped
    // the incident" shape): both sides explode onto a 6 h bucket grid,
    // equi-join there, exact overlap filter inside buckets, each pair
    // emitted once at its canonical bucket (no output distinct).
    "q_join_interval" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val a = ev.filter(col("user_id") < 40)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(min(col("ts")).as("s"), max(col("ts")).as("e"))
        .select(col("user_id"), col("s"), col("e"))
      val b = ev
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
        .agg(min(col("ts")).as("s"), max(col("ts")).as("e"))
        .select(col("event_type"), col("s"), col("e"))
      graft.operators.RangeJoin.intervalOverlap(a, "s", "e", b, "s", "e",
          bucketMillis = 6L * 3600 * 1000)
        .select(col("user_id"), col("s"), col("e"), col("i_event_type"),
          col("i_s"), col("i_e"))
        .orderBy(col("user_id"), col("s"), col("i_event_type"), col("i_s"))
    }),

    // ML: asymmetric containment — doc A (near-)contained in doc B;
    // catches quotations/subsets symmetric Jaccard misses.
    "q_dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))),

    // Statistical aggregate: per-group Pearson correlation from exact
    // integer moments (engine-exact, unlike running-float corr()).
    "q_agg_corr" -> ((s, dir) =>
      Analytics.corrByGroup(t(s, dir, "events"), "event_type",
          floor(col("value") * 100).cast("long"),
          hour(col("ts")).cast("long"))
        .orderBy(col("event_type"))),

    // Exact p50/p95/p99 per (service, day bin) — THE observability
    // latency roll-up, as discrete rank selection over quantized values
    // (one shuffle; all percentiles from one window pass).
    "q_percentile_binned" -> ((s, dir) =>
      Percentiles.exactBy(
          t(s, dir, "events")
            .withColumn("bin_start", Counts.dateBin(col("ts"), 86400L * 1000))
            .withColumn("vq", floor(col("value") * 100).cast("long")),
          Seq("event_type", "bin_start"), "vq", "event_id",
          ps = Seq(0.5, 0.95, 0.99))
        .orderBy(col("event_type"), col("bin_start"))),

    // W3: percent_rank / cume_dist over a total per-group order.
    "q_window_percentrank" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").asc, col("event_id").asc)
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          percent_rank().over(w).as("pr"), cume_dist().over(w).as("cd"))
        .orderBy(col("event_id"))
    }),

    // J2+: service dependency graph — per (parent_service → child_service)
    // edge: calls, distinct traces, exact integer duration sum/max, mean as
    // one exact division. One self-join on (trace, parent span id) + one
    // tiny aggregation; spans derive from the same deterministic heap
    // hierarchy as q_trace_critical_path.
    "q_trace_depgraph" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val spans = t(s, dir, "events")
        .select(col("user_id").as("t_id"),
          (row_number().over(w) - 1).cast("long").as("s_id"),
          col("event_type").as("service"),
          floor(col("value") * 100).cast("long").as("dur"))
        .withColumn("p_id",
          when(col("s_id") === 0L, lit(null).cast("long"))
            .otherwise(((col("s_id") - 1) / 2).cast("long")))
      Traces.serviceGraph(spans)
        .orderBy(col("parent_service"), col("child_service"))
    }),

    // Log template mining (Drain-lite): mask variable tokens, group by the
    // masked line — one narrow projection + one low-cardinality hash agg.
    "q_log_templates" -> ((s, dir) =>
      graft.ingest.LogTemplates.mine(t(s, dir, "events"),
          concat(col("event_type"), lit(" "), col("props")),
          col("ts"), col("user_id"))
        .orderBy(col("template"))),

    // ML: weighted source mixing — epoch-replicated rows (floor(w) copies
    // + deterministic fractional extra from the id hash); the training-data
    // mixture step. No shuffle; stable under repartition/append.
    "q_sample_mixture" -> ((s, dir) =>
      Sampling.mixtureSample(t(s, dir, "documents"), "doc_id", "source",
          weights = Map("src1" -> 2.5, "src2" -> 0.25, "src3" -> 3.0))
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))),

    // ML: THRESHOLD SWEEP — the quality-gate calibration table:
    // precision/recall at four cut points in ONE data pass (per-row
    // monotone bin + one aggregate), integer-exact micro fractions.
    "q_eval_threshold_sweep" -> ((s, dir) =>
      Eval.thresholdSweep(
          t(s, dir, "documents").withColumn("y", col("lang") === "en"),
          "n_chars", "y", thresholds = Seq(100L, 200L, 400L, 800L))
        .orderBy(col("threshold"))),

    // ML: EXACT AUC — Mann–Whitney rank-sum with integral tie handling
    // (2U over distinct scores), pure BIGINT micro-grid output.
    "q_eval_auc" -> ((s, dir) =>
      Eval.aucExact(
        t(s, dir, "documents").withColumn("y", col("lang") === "en"),
        "n_chars", "y")),

    // ML: EXACT AVERAGE PRECISION — the PR-curve gate metric (rare
    // positives), deterministic (score desc, doc_id asc) total order,
    // each positive's prec@k on the micro grid before the sum; same
    // bucketed distributed cumulative as the AUC (no global window).
    "q_eval_ap" -> ((s, dir) =>
      Eval.apExact(
        t(s, dir, "documents").withColumn("y", col("lang") === "en"),
        "n_chars", "y", "doc_id")),

    // ML: OFFLINE RETRIEVAL EVAL — a tf-ranked top-10 per query term
    // scored against lang='en' containment judgments: per query the
    // reciprocal rank of the first relevant hit, hits, and recall@10
    // (the trec_eval surface over any of the engine's search ops).
    "q_eval_retrieval" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val terms = Seq((0L, "stream"), (1L, "join"), (2L, "filter"))
        .toDF("q_id", "qterm")
      val tf = docs.select(col("doc_id"), col("lang"),
          explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("lang"), col("term"))
        .agg(count(lit(1)).as("tf"))
      // ONE materialized candidate pass: the metric internals consume
      // `cand` through several branches that each prune different
      // columns (ranked keeps tf, relevance/judgment branches drop it,
      // per-query lists reduce to q_id), so the pruned subtrees stop
      // canonicalizing equal and the corpus explode+groupBy re-runs once
      // per branch (measured 2–5 scans per query in the final plans).
      // The candidate set is term-bounded — tiny at every scale — so
      // checkpointing it caps the corpus cost at exactly one pass.
      val cand = tf.join(broadcast(terms), col("term") === col("qterm"))
        .localCheckpoint()
      val ranked = graft.operators.TopK.perGroup(cand, Seq(col("q_id")),
          Seq(col("tf").desc, col("doc_id").asc), 10)
        .withColumn("rk", row_number().over(Window.partitionBy(col("q_id"))
          .orderBy(col("tf").desc, col("doc_id").asc)).cast("long"))
        .select(col("q_id"), col("doc_id"), col("rk"))
      val relevant = cand.filter(col("lang") === "en")
        .select(col("q_id"), col("doc_id"))
      Eval.retrievalMetrics(ranked, relevant).orderBy(col("q_id"))
    }),

    // ML: EXACT PR CURVE — the full curve behind the AP scalar: one
    // row per positive at its global rank, precision/recall at that
    // cut on the micro grid (the operating-point picker for a quality
    // gate); same bucketed distributed rank walk, no global window.
    "q_eval_pr_curve" -> ((s, dir) =>
      Eval.prCurve(
          t(s, dir, "documents").withColumn("y", col("lang") === "en"),
          "n_chars", "y", "doc_id")
        .orderBy(col("rk"))),

    // ML: RETRIEVAL MACRO SUMMARY — MRR, macro recall, success rate
    // over the per-query metrics, exact BIGINT micro means.
    "q_eval_retrieval_summary" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val terms = Seq((0L, "stream"), (1L, "join"), (2L, "filter"))
        .toDF("q_id", "qterm")
      val tf = docs.select(col("doc_id"), col("lang"),
          explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("lang"), col("term"))
        .agg(count(lit(1)).as("tf"))
      // ONE materialized candidate pass: the metric internals consume
      // `cand` through several branches that each prune different
      // columns (ranked keeps tf, relevance/judgment branches drop it,
      // per-query lists reduce to q_id), so the pruned subtrees stop
      // canonicalizing equal and the corpus explode+groupBy re-runs once
      // per branch (measured 2–5 scans per query in the final plans).
      // The candidate set is term-bounded — tiny at every scale — so
      // checkpointing it caps the corpus cost at exactly one pass.
      val cand = tf.join(broadcast(terms), col("term") === col("qterm"))
        .localCheckpoint()
      val ranked = graft.operators.TopK.perGroup(cand, Seq(col("q_id")),
          Seq(col("tf").desc, col("doc_id").asc), 10)
        .withColumn("rk", row_number().over(Window.partitionBy(col("q_id"))
          .orderBy(col("tf").desc, col("doc_id").asc)).cast("long"))
        .select(col("q_id"), col("doc_id"), col("rk"))
      val relevant = cand.filter(col("lang") === "en")
        .select(col("q_id"), col("doc_id"))
      Eval.retrievalSummary(Eval.retrievalMetrics(ranked, relevant))
    }),

    // ML: nDCG@k over GRADED judgments — the trec_eval graded-relevance
    // metric (en docs grade 2, others grade 1): per-rank discounted
    // gains grid to micro BEFORE the order-independent BIGINT sum
    // ("ln on the 10⁻⁶ grid", hardcoded ln2), normalized per query by
    // the ideal ordering of its own judgments.
    "q_eval_ndcg" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val terms = Seq((0L, "stream"), (1L, "join"), (2L, "filter"))
        .toDF("q_id", "qterm")
      val tf = docs.select(col("doc_id"), col("lang"),
          explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("lang"), col("term"))
        .agg(count(lit(1)).as("tf"))
      // ONE materialized candidate pass: the metric internals consume
      // `cand` through several branches that each prune different
      // columns (ranked keeps tf, relevance/judgment branches drop it,
      // per-query lists reduce to q_id), so the pruned subtrees stop
      // canonicalizing equal and the corpus explode+groupBy re-runs once
      // per branch (measured 2–5 scans per query in the final plans).
      // The candidate set is term-bounded — tiny at every scale — so
      // checkpointing it caps the corpus cost at exactly one pass.
      val cand = tf.join(broadcast(terms), col("term") === col("qterm"))
        .localCheckpoint()
      val ranked = graft.operators.TopK.perGroup(cand, Seq(col("q_id")),
          Seq(col("tf").desc, col("doc_id").asc), 10)
        .withColumn("rk", row_number().over(Window.partitionBy(col("q_id"))
          .orderBy(col("tf").desc, col("doc_id").asc)).cast("long"))
        .select(col("q_id"), col("doc_id"), col("rk"))
      val judgments = cand.select(col("q_id"), col("doc_id"),
        when(col("lang") === "en", 2L).otherwise(1L).as("grade"))
      Eval.ndcgAtK(ranked, judgments, 10).orderBy(col("q_id"))
    }),

    // ML: macro nDCG — the headline graded-eval scalar over the same
    // per-query table (undefined queries excluded from the mean, not
    // zeroed; exact BIGINT micro mean).
    "q_eval_ndcg_summary" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val terms = Seq((0L, "stream"), (1L, "join"), (2L, "filter"))
        .toDF("q_id", "qterm")
      val tf = docs.select(col("doc_id"), col("lang"),
          explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("lang"), col("term"))
        .agg(count(lit(1)).as("tf"))
      // ONE materialized candidate pass: the metric internals consume
      // `cand` through several branches that each prune different
      // columns (ranked keeps tf, relevance/judgment branches drop it,
      // per-query lists reduce to q_id), so the pruned subtrees stop
      // canonicalizing equal and the corpus explode+groupBy re-runs once
      // per branch (measured 2–5 scans per query in the final plans).
      // The candidate set is term-bounded — tiny at every scale — so
      // checkpointing it caps the corpus cost at exactly one pass.
      val cand = tf.join(broadcast(terms), col("term") === col("qterm"))
        .localCheckpoint()
      val ranked = graft.operators.TopK.perGroup(cand, Seq(col("q_id")),
          Seq(col("tf").desc, col("doc_id").asc), 10)
        .withColumn("rk", row_number().over(Window.partitionBy(col("q_id"))
          .orderBy(col("tf").desc, col("doc_id").asc)).cast("long"))
        .select(col("q_id"), col("doc_id"), col("rk"))
      val judgments = cand.select(col("q_id"), col("doc_id"),
        when(col("lang") === "en", 2L).otherwise(1L).as("grade"))
      Eval.ndcgSummary(Eval.ndcgAtK(ranked, judgments, 10))
    }),

    // ML: PRECISION@K / RECALL@K — the rank-cut metrics over the same
    // retrieval scaffolding (k=5 inside the top-10 ranking); trec_eval
    // convention (P@k divides by k itself), exact micro divisions.
    "q_eval_prec_at_k" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val terms = Seq((0L, "stream"), (1L, "join"), (2L, "filter"))
        .toDF("q_id", "qterm")
      val tf = docs.select(col("doc_id"), col("lang"),
          explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("lang"), col("term"))
        .agg(count(lit(1)).as("tf"))
      // ONE materialized candidate pass: the metric internals consume
      // `cand` through several branches that each prune different
      // columns (ranked keeps tf, relevance/judgment branches drop it,
      // per-query lists reduce to q_id), so the pruned subtrees stop
      // canonicalizing equal and the corpus explode+groupBy re-runs once
      // per branch (measured 2–5 scans per query in the final plans).
      // The candidate set is term-bounded — tiny at every scale — so
      // checkpointing it caps the corpus cost at exactly one pass.
      val cand = tf.join(broadcast(terms), col("term") === col("qterm"))
        .localCheckpoint()
      val ranked = graft.operators.TopK.perGroup(cand, Seq(col("q_id")),
          Seq(col("tf").desc, col("doc_id").asc), 10)
        .withColumn("rk", row_number().over(Window.partitionBy(col("q_id"))
          .orderBy(col("tf").desc, col("doc_id").asc)).cast("long"))
        .select(col("q_id"), col("doc_id"), col("rk"))
      val relevant = cand.filter(col("lang") === "en")
        .select(col("q_id"), col("doc_id"))
      Eval.precisionAtK(ranked, relevant, 5).orderBy(col("q_id"))
    }),

    // ML: RETRIEVAL TOPLINE — one dashboard row joining the binary
    // macro summary (MRR / recall / success) with the graded one
    // (macro nDCG@10): a cross join of two 1-row aggregates.
    "q_eval_topline" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val terms = Seq((0L, "stream"), (1L, "join"), (2L, "filter"))
        .toDF("q_id", "qterm")
      val tf = docs.select(col("doc_id"), col("lang"),
          explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("lang"), col("term"))
        .agg(count(lit(1)).as("tf"))
      // ONE materialized candidate pass: the metric internals consume
      // `cand` through several branches that each prune different
      // columns (ranked keeps tf, relevance/judgment branches drop it,
      // per-query lists reduce to q_id), so the pruned subtrees stop
      // canonicalizing equal and the corpus explode+groupBy re-runs once
      // per branch (measured 2–5 scans per query in the final plans).
      // The candidate set is term-bounded — tiny at every scale — so
      // checkpointing it caps the corpus cost at exactly one pass.
      val cand = tf.join(broadcast(terms), col("term") === col("qterm"))
        .localCheckpoint()
      val ranked = graft.operators.TopK.perGroup(cand, Seq(col("q_id")),
          Seq(col("tf").desc, col("doc_id").asc), 10)
        .withColumn("rk", row_number().over(Window.partitionBy(col("q_id"))
          .orderBy(col("tf").desc, col("doc_id").asc)).cast("long"))
        .select(col("q_id"), col("doc_id"), col("rk"))
      val relevant = cand.filter(col("lang") === "en")
        .select(col("q_id"), col("doc_id"))
      val judgments = cand.select(col("q_id"), col("doc_id"),
        when(col("lang") === "en", 2L).otherwise(1L).as("grade"))
      Eval.retrievalTopline(Eval.retrievalMetrics(ranked, relevant),
        Eval.ndcgAtK(ranked, judgments, 10))
    }),

    // ML: RANKING AGREEMENT @10 — exact-vs-alternate ranker comparison
    // over the same retrieval scaffolding: ranking A orders candidates
    // by term frequency, ranking B by document length; per query the
    // top-10 Jaccard overlap and Kendall's τ over the common docs
    // (bounded k²-pair walk, sign-split micro division).
    "q_eval_rank_agreement" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val terms = Seq((0L, "stream"), (1L, "join"), (2L, "filter"))
        .toDF("q_id", "qterm")
      val tf = docs.select(col("doc_id"), col("n_chars"),
          explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("n_chars"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val cand = tf.join(broadcast(terms), col("term") === col("qterm"))
      def ranked(order: Seq[org.apache.spark.sql.Column]) =
        graft.operators.TopK.perGroup(cand, Seq(col("q_id")), order, 10)
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("q_id")).orderBy(order: _*))
            .cast("long"))
          .select(col("q_id"), col("doc_id"), col("rk"))
      val a = ranked(Seq(col("tf").desc, col("doc_id").asc))
      // ranking B orders by doc length but KEEPS a non-foldable zero
      // reference to tf (pmod(coalesce(tf,0),1) ≡ 0 — the
      // constPartitionKey idiom): without it column pruning rewrites B's
      // candidate aggregate from count(1) to a bare distinct, the two
      // branches stop canonicalizing equal, and the corpus
      // explode+groupBy runs TWICE (no exchange reuse). Ordering is
      // unchanged (adds integer 0); the shared subtree now executes once.
      val b = ranked(Seq(
        (col("n_chars") + graft.operators.TopK.constPartitionKey(col("tf")))
          .desc, col("doc_id").asc))
      Eval.rankAgreement(a, b, 10).orderBy(col("q_id"))
    }),

    // ML: RANK-BIASED OVERLAP @10 — the top-weighted agreement over the
    // same two rankings (rank-1 disagreement costs more than rank-10);
    // depth weights are driver-computed literals (the Ln2 convention),
    // each depth's term floors to the micro grid before the BIGINT sum.
    "q_eval_rbo" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val terms = Seq((0L, "stream"), (1L, "join"), (2L, "filter"))
        .toDF("q_id", "qterm")
      val tf = docs.select(col("doc_id"), col("n_chars"),
          explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("n_chars"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val cand = tf.join(broadcast(terms), col("term") === col("qterm"))
      def ranked(order: Seq[org.apache.spark.sql.Column]) =
        graft.operators.TopK.perGroup(cand, Seq(col("q_id")), order, 10)
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("q_id")).orderBy(order: _*))
            .cast("long"))
          .select(col("q_id"), col("doc_id"), col("rk"))
      val a = ranked(Seq(col("tf").desc, col("doc_id").asc))
      // zero term keeps tf referenced in B's order (same ordering — adds
      // integer 0): both rankings then share ONE corpus pass via
      // exchange reuse instead of B re-running a pruned duplicate
      val b = ranked(Seq(
        (col("n_chars") + graft.operators.TopK.constPartitionKey(col("tf")))
          .desc, col("doc_id").asc))
      Eval.rboAtK(a, b, 10, p = 0.9).orderBy(col("q_id"))
    }),

    // ML: RBO EXTRAPOLATED @10 — Webber 2010's point estimate over the
    // same two rankings: the truncated score plus p^k·X_k/k (the lists
    // assumed to keep agreeing at their depth-k rate); the residual
    // constant is driver-computed with the same repeated-multiplication
    // order as the depth table and embedded as a literal in both
    // engines.
    "q_eval_rbo_ext" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val terms = Seq((0L, "stream"), (1L, "join"), (2L, "filter"))
        .toDF("q_id", "qterm")
      val tf = docs.select(col("doc_id"), col("n_chars"),
          explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("n_chars"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val cand = tf.join(broadcast(terms), col("term") === col("qterm"))
      def ranked(order: Seq[org.apache.spark.sql.Column]) =
        graft.operators.TopK.perGroup(cand, Seq(col("q_id")), order, 10)
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("q_id")).orderBy(order: _*))
            .cast("long"))
          .select(col("q_id"), col("doc_id"), col("rk"))
      val a = ranked(Seq(col("tf").desc, col("doc_id").asc))
      // zero term keeps tf referenced in B's order (same ordering — adds
      // integer 0): both rankings then share ONE corpus pass via
      // exchange reuse instead of B re-running a pruned duplicate
      val b = ranked(Seq(
        (col("n_chars") + graft.operators.TopK.constPartitionKey(col("tf")))
          .desc, col("doc_id").asc))
      Eval.rboExtrapolated(a, b, 10, p = 0.9).orderBy(col("q_id"))
    }),

    // ML: SPEARMAN'S ρ @10 — displacement-distance rank correlation over
    // the same two rankings (τ counts inversions, ρ squares the
    // distance moved): common docs re-rank densely 1..n, then
    // 1 − 6Σd²/(n(n²−1)) as an exact micro division.
    "q_eval_spearman" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val terms = Seq((0L, "stream"), (1L, "join"), (2L, "filter"))
        .toDF("q_id", "qterm")
      val tf = docs.select(col("doc_id"), col("n_chars"),
          explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("n_chars"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val cand = tf.join(broadcast(terms), col("term") === col("qterm"))
      def ranked(order: Seq[org.apache.spark.sql.Column]) =
        graft.operators.TopK.perGroup(cand, Seq(col("q_id")), order, 10)
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("q_id")).orderBy(order: _*))
            .cast("long"))
          .select(col("q_id"), col("doc_id"), col("rk"))
      // the two lists share the tf-major order but break ties
      // differently — the cuts overlap at EVERY corpus scale while the
      // within-tie displacements keep rho below 1
      val a = ranked(Seq(col("tf").desc, col("doc_id").asc))
      val b = ranked(Seq(col("tf").desc, col("n_chars").desc,
        col("doc_id").asc))
      Eval.spearmanAtK(a, b, 10).orderBy(col("q_id"))
    }),

    // ML: KENDALL τ-b @10 — the TIE-AWARE agreement over rankings that
    // genuinely tie: rank() with no tiebreak over tf (integer term
    // counts collide constantly) vs rank() over the COARSENED tf
    // (tf div 2 — same signal, bigger tie groups, so the two cuts
    // overlap at EVERY corpus scale and the tie structures differ).
    // Plain τ's C+D denominator quietly drops tied pairs; τ-b restores
    // them (√((n₀−n₁)(n₀−n₂))) — the score is one fixed IEEE tree over
    // exact BIGINTs (sqrt is IEEE-exact, the only-sqrt convention).
    "q_eval_tau_b" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val terms = Seq((0L, "stream"), (1L, "join"), (2L, "filter"))
        .toDF("q_id", "qterm")
      val tf = docs.select(col("doc_id"), col("n_chars"),
          explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("n_chars"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val cand = tf.join(broadcast(terms), col("term") === col("qterm"))
      def rankedTies(order: Seq[org.apache.spark.sql.Column]) = cand
        .withColumn("rk", rank().over(
          Window.partitionBy(col("q_id")).orderBy(order: _*))
          .cast("long"))
        .select(col("q_id"), col("doc_id"), col("rk"))
      val a = rankedTies(Seq(col("tf").desc))
      val b = rankedTies(Seq(expr("tf div 2").desc))
      Eval.rankAgreementTauB(a, b, 10).orderBy(col("q_id"))
    }),

    // ML: PER-GROUP AVERAGE PRECISION — one exact AP per source (the
    // PR twin of the per-group AUC): group-partitioned rank walk,
    // per-positive prec@k on the micro grid, executor-side division.
    "q_eval_ap_by_source" -> ((s, dir) =>
      Eval.apByGroup(
          t(s, dir, "documents").withColumn("y", col("lang") === "en"),
          "source", "n_chars", "y", "doc_id")
        .orderBy(col("source"))),

    // ML: PER-GROUP AUC — one exact AUC per source, fully distributed
    // (group-partitioned cumulative, executor-side BIGINT division).
    "q_eval_auc_by_source" -> ((s, dir) =>
      Eval.aucByGroup(
          t(s, dir, "documents").withColumn("y", col("lang") === "en"),
          "source", "n_chars", "y")
        .orderBy(col("source"))),

    // ML: CALIBRATION bins — 8 equal-width n_chars bins, empirical
    // positive rate per bin on the micro grid (reliability diagram).
    "q_eval_calibration" -> ((s, dir) =>
      Eval.calibrationBins(
          t(s, dir, "documents").withColumn("y", col("lang") === "en"),
          "n_chars", "y", lo = 0L, hi = 1024L, nBins = 8)
        .orderBy(col("bin"))),

    // ML: EXPECTED/MAX CALIBRATION ERROR — the 1-row headline over the
    // reliability diagram (same 8 bins as q_eval_calibration): per-bin
    // |empirical positive rate − mean predicted score|, mass-weighted
    // mean (ECE) and max (MCE), all BIGINT-exact on the micro grid.
    "q_eval_ece" -> ((s, dir) =>
      Eval.ece(
        t(s, dir, "documents").withColumn("y", col("lang") === "en"),
        "n_chars", "y", lo = 0L, hi = 1024L, nBins = 8)),

    // ML: TEMPERATURE mixing (α = ½) — mixture weights computed from the
    // source sizes (p_s ∝ √n_s): small sources upsample, the crawl
    // downsamples, volume stays ≈ N. √n floors to the micro grid before
    // the cross-source normalizer sums — exact, order-free.
    // (the shipped corpus is source-uniform — a fixed point; the derived
    // 'crawl' supersource makes the gate exercise real up/downsampling)
    "q_sample_temperature" -> ((s, dir) =>
      Sampling.temperatureMixture(
          t(s, dir, "documents").withColumn("src",
            when(col("doc_id") % 10 < 7, lit("crawl"))
              .otherwise(col("source"))),
          "doc_id", "src")
        .select(col("doc_id"), col("src"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))),

    // Observability: SEASONALITY-AWARE anomalies — z-score against the
    // per-(type, hour-of-day) baseline instead of the global mean
    // ("normal for 3 am?"); same exact integer moments, 24x the stats
    // rows, the same single shuffle.
    "q_metric_seasonal" -> ((s, dir) =>
      TimeSeries.seasonalZscore(t(s, dir, "events"), "event_type", "ts",
          floor(col("value") * 100).cast("long"), threshold = 2.5)
        .filter(col("is_anomaly"))
        .select(col("event_id"), col("event_type"), col("season"),
          col("vq"), col("z"))
        .orderBy(col("event_id"))),

    // OBS: ROBUST (median/MAD) anomaly baseline — spike-resistant twin
    // of the moment z-score (outliers can't inflate their own
    // baseline; 50% breakdown point). z in MAD units; the half/quarter
    // interpolation grid keeps the doubles bit-identical cross-engine.
    "q_metric_robust" -> ((s, dir) =>
      TimeSeries.robustZscoreBy(t(s, dir, "events"), Seq("event_type"),
          floor(col("value") * 100).cast("long"), threshold = 3.5)
        .filter(col("is_anomaly"))
        .select(col("event_id"), col("event_type"), col("vq"), col("z"))
        .orderBy(col("event_id"))),

    // OBS: DIMENSION SHIFT (contribution analysis) — which event_type
    // changed its share inside the Jan 15-18 window vs the rest of the
    // month: one conditional-sum aggregate + the 1-row totals
    // broadcast; shares/shift/lift integer-exact on the micro grid.
    "q_dim_shift" -> ((s, dir) =>
      Analytics.dimensionShift(t(s, dir, "events"), "event_type", "ts",
          "2024-01-15 00:00:00", "2024-01-18 00:00:00")
        .orderBy(col("event_type"))),

    // OBS: LOG-TEMPLATE DRIFT — "which log pattern is surging?": the
    // Drain-lite template of each line becomes the contribution
    // dimension (mask chain is codegen'd per row, so the shift rides
    // the same single-pass aggregate as q_dim_shift; template
    // cardinality = distinct formats, tiny after masking).
    "q_template_drift" -> ((s, dir) =>
      Analytics.dimensionShift(
          t(s, dir, "events").withColumn("template",
            graft.ingest.LogTemplates.template(
              concat(col("event_type"), lit(" "), col("props")))),
          "template", "ts",
          "2024-01-15 00:00:00", "2024-01-18 00:00:00")
        .orderBy(col("template"))),

    // OBS: MULTI-DIM contribution panel — event_type AND a 16-way user
    // bucket ranked in ONE data pass (melt + single aggregate + |dims|-
    // row totals equi-join; no nested-loop shape).
    "q_dim_shift_multi" -> ((s, dir) =>
      Analytics.dimensionShiftMulti(
          t(s, dir, "events")
            .withColumn("user_bucket", pmod(col("user_id"), lit(16L))),
          Seq("event_type", "user_bucket"), "ts",
          "2024-01-15 00:00:00", "2024-01-18 00:00:00")
        .orderBy(col("dim"), col("value"))),

    // OBS: WEIGHTED dimension shift — share of the summed measure
    // (value on the 10^-2 grid), not row counts: "which event_type
    // drove the value-mass in the window".
    "q_dim_shift_weighted" -> ((s, dir) =>
      Analytics.dimensionShiftBy(t(s, dir, "events"), "event_type", "ts",
          "2024-01-15 00:00:00", "2024-01-18 00:00:00",
          floor(col("value") * 100).cast("long"))
        .orderBy(col("event_type"))),

    // OBS: the robust baseline PER (group, hour-of-day) — burst-proof
    // seasonality ("normal for 3 am?" when 3 am history has bursts).
    "q_metric_robust_seasonal" -> ((s, dir) =>
      TimeSeries.seasonalRobustZscore(t(s, dir, "events"), "event_type",
          "ts", floor(col("value") * 100).cast("long"), threshold = 3.5)
        .filter(col("is_anomaly"))
        .select(col("event_id"), col("event_type"), col("season"),
          col("vq"), col("z"))
        .orderBy(col("event_id"))),

    // OBS: CUSUM changepoint — the sustained-LEVEL-SHIFT detector the
    // z-score family can't be (error rate quietly doubled, no single
    // remarkable bin): per (event_type, hour bin) the summed 10^-2-grid
    // value, Page's recursions via the prefix-sum identity (two
    // group-partitioned cumulative windows, all BIGINT-exact).
    "q_metric_cusum" -> ((s, dir) =>
      TimeSeries.cusumBy(t(s, dir, "events"), "event_type", "ts",
          3600000L, floor(col("value") * 100).cast("long"),
          slack = 500L, decision = 20000L)
        .orderBy(col("event_type"), col("bin_start"))),

    // OBS: EWMA control chart — smoothed per-series baseline from the
    // 8 previous hourly bins (driver-literal geometric weights, exact
    // lag-chain tree), spike = bin > 2x its own baseline.
    "q_metric_ewma" -> ((s, dir) =>
      TimeSeries.ewmaBy(t(s, dir, "events"), "event_type", "ts",
          3600000L, floor(col("value") * 100).cast("long"))
        .orderBy(col("event_type"), col("bin_start"))),

    // OBS: APDEX per event_type — the user-satisfaction roll-up
    // (satisfied ≤ T, tolerating ≤ 4T, score = (sat + tol/2)/total as
    // the exact doubled-numerator BIGINT division). T = 50.00 on the
    // 10^-2 value grid.
    "q_metric_apdex" -> ((s, dir) =>
      TimeSeries.apdexBy(t(s, dir, "events"), Seq("event_type"),
          floor(col("value") * 100).cast("long"), thresholdT = 5000L)
        .orderBy(col("event_type"))),

    // OBS: histogram_quantile (Prometheus) — p95 per event_type
    // recovered from PRE-BUCKETED counts only (2000-wide micro buckets,
    // upper-bound grid): BIGINT rank selection + the fixed-IEEE-tree
    // linear interpolation inside the covering bucket.
    "q_metric_hist_quantile" -> ((s, dir) => {
      val buckets = t(s, dir, "events")
        .withColumn("vq", floor(col("value") * 100).cast("long"))
        .withColumn("le", expr("((vq + 1999) div 2000) * 2000"))
        .groupBy(col("event_type"), col("le"))
        .agg(count(lit(1)).as("cnt"))
      Percentiles.histogramQuantile(buckets, Seq("event_type"),
          "le", "cnt", phiMicro = 950000L)
        .orderBy(col("event_type"))
    }),

    // OBS: PromQL increase() — per event_type total increase recovered
    // from scrape-style CUMULATIVE counter samples (hourly running
    // count that restarts every 12 hours, simulating instance
    // restarts): reset-aware delta sum, first sample counts in full.
    "q_metric_increase" -> ((s, dir) => {
      // `div`, not `/` — BIGINT division (Spark's / on longs is DOUBLE)
      val hr = expr("unix_micros(cast(ts as timestamp)) div 3600000000")
      val samples = t(s, dir, "events")
        .groupBy(col("event_type"), hr.as("hr"))
        .agg(count(lit(1)).as("c"))
        .withColumn("v", sum(col("c")).over(
          Window.partitionBy(col("event_type"), expr("hr div 12"))
            .orderBy(col("hr"))))
      TimeSeries.increaseBy(samples, Seq("event_type"), "hr",
          col("v"), "hr")
        .orderBy(col("event_type"))
    }),

    // OBS: increase() → histogram_quantile — the full Prometheus
    // latency-dashboard pipeline: per (event_type, le) cumulative
    // bucket counters (hourly, restarting every 12 h), reset-aware
    // increases reconstruct the bucket counts, then the p95 rank
    // selection + interpolation over the RECONSTRUCTED histogram.
    "q_metric_increase_quantile" -> ((s, dir) => {
      // `div`, not `/` — BIGINT division (Spark's / on longs is DOUBLE)
      val hr = expr("unix_micros(cast(ts as timestamp)) div 3600000000")
      val samples = t(s, dir, "events")
        .withColumn("vq", floor(col("value") * 100).cast("long"))
        .withColumn("le", expr("((vq + 1999) div 2000) * 2000"))
        .groupBy(col("event_type"), col("le"), hr.as("hr"))
        .agg(count(lit(1)).as("c"))
        .withColumn("v", sum(col("c")).over(
          Window.partitionBy(col("event_type"), col("le"),
            expr("hr div 12")).orderBy(col("hr"))))
      val inc = TimeSeries.increaseBy(samples, Seq("event_type", "le"),
        "hr", col("v"), "hr")
      Percentiles.histogramQuantile(inc, Seq("event_type"),
          "le", "increase", phiMicro = 950000L)
        .orderBy(col("event_type"))
    }),

    // ML: QUALITY CURATION FUNNEL — the attrition report every corpus
    // pipeline publishes: documents surviving each successive filter
    // (language-ID = en → readability ≥ 20 → C4 keep), cumulative-AND
    // conditional sums in ONE aggregate over the flag projection
    // (readability joins per doc_id; zero-word docs fail the band).
    "q_quality_funnel" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val c4 = TextAnalysis.c4Flags(col("text"),
        blocklist = Seq("spark", "vector")).toMap
      val flags = d.select(col("doc_id"),
          (TextAnalysis.langId(col("text")) === "en").as("f1"),
          c4("keep").as("f3"))
        .join(TextAnalysis.readability(d)
          .select(col("doc_id"),
            (col("flesch_micro") >= 20000000L).as("f2r")),
          Seq("doc_id"), "left")
        .withColumn("f2", coalesce(col("f2r"), lit(false)))
      flags.agg(
          count(lit(1)).as("s0"),
          sum(when(col("f1"), 1L).otherwise(0L)).as("s1"),
          sum(when(col("f1") && col("f2"), 1L).otherwise(0L)).as("s2"),
          sum(when(col("f1") && col("f2") && col("f3"), 1L)
            .otherwise(0L)).as("s3"))
        .select(explode(array(
          struct(lit(0L).as("stage"), lit("all").as("rule"),
            col("s0").as("docs")),
          struct(lit(1L).as("stage"), lit("lang_en").as("rule"),
            col("s1").as("docs")),
          struct(lit(2L).as("stage"), lit("readability").as("rule"),
            col("s2").as("docs")),
          struct(lit(3L).as("stage"), lit("c4").as("rule"),
            col("s3").as("docs")))).as("x"))
        .select(col("x.stage").as("stage"), col("x.rule").as("rule"),
          col("x.docs").as("docs"))
        .orderBy(col("stage"))
    }),

    // ML: FLESCH READABILITY — words / [.!?]+ sentences / vowel-group
    // syllables as exact BIGINTs, the classic score as a fixed IEEE
    // tree floored to the micro grid. Per-row HOF aggregate, no explode.
    "q_text_readability" -> ((s, dir) =>
      TextAnalysis.readability(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // ML: int8-quantized brute-force ANN — 4x smaller vectors; integer dot
    // products make quantized cosine bit-exact across engines AND
    // summation orders.
    "q_sim_quantized" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.knnQuantized(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
        .orderBy(col("q_id"), col("rk"))
    }),

    // ML: distributed BPE pair statistics (the per-iteration workhorse of
    // Sennrich-2016 tokenizer training): adjacent character pairs weighted
    // by word frequency over the Zipf-compressed distinct-word table —
    // the corpus is shuffled exactly once (word groupBy); pair counting is
    // one hash agg. Top-30 with a full deterministic tiebreak.
    "q_bpe_pairs" -> ((s, dir) =>
      BpeTrain.pairCounts(BpeTrain.wordTable(t(s, dir, "documents"), "text"))
        .orderBy(col("pair_freq").desc, col("lhs").asc, col("rhs").asc)
        .limit(30)
        .orderBy(col("pair_freq").desc, col("lhs").asc, col("rhs").asc)),

    // ML: corpus-trained bigram-LM scoring (perplexity-style quality
    // filter, CCNet/Gopher recipe). Per-bigram ln lands on the 1e-6 grid
    // BEFORE the per-doc sum, so the distributed aggregation is an exact
    // BIGINT in any order.
    "q_text_lmscore" -> ((s, dir) =>
      TextRank.lmScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ML: per-source dataset card — doc/token/char volume, language
    // spread, C4 keep-rate, mixture share. Scan-bound narrow projection
    // into one source-cardinality hash agg.
    "q_corpus_report" -> ((s, dir) =>
      TextAnalysis.corpusReport(t(s, dir, "documents"))
        .orderBy(col("source"))),

    // A1+: arg-extrema per group (max_by/min_by — "the event id of the
    // slowest request per service"). Deterministic via a unique composite
    // key: quantized value then event id.
    "q_agg_argmax" -> ((s, dir) => {
      val key = floor(col("value") * 100).cast("long") * 10000000L +
        col("event_id")
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(max_by(col("event_id"), key).as("slowest_event"),
          min_by(col("event_id"), key).as("fastest_event"),
          max(col("value")).as("max_value"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),

    // ML: weighted sample without replacement (A-Res priority sampling)
    // — longer documents proportionally likelier; ONE TakeOrdered(k), no
    // global sort, no RNG; micro-grid priorities order identically across
    // engines.
    "q_sample_weighted" -> ((s, dir) =>
      Sampling.weightedSample(t(s, dir, "documents"), "doc_id", "n_chars",
          k = 50)
        .select(col("doc_id"), col("n_chars"), col("priority_micro"))
        .orderBy(col("priority_micro").desc, col("doc_id").asc)),

    // ML: DSIR importance scoring (Xie 2023) — per-doc log importance
    // weight ln p_target/p_raw under add-1 unigram LMs (target = English
    // docs), exact micro-grid BIGINT scores; top-50 via ONE TakeOrdered.
    "q_sample_importance" -> ((s, dir) =>
      TextRank.dsirScores(t(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en")
        .orderBy(col("logratio_micro").desc, col("doc_id").asc)
        .limit(50)),

    // A5+: SLO error-budget report — per service: requests, errors,
    // availability, budget burn vs the SLO target. Exact integers + fixed
    // single-division trees; one scan-bound hash agg.
    "q_slo_report" -> ((s, dir) =>
      Alerts.sloReport(t(s, dir, "events"), Seq("event_type"),
          col("value") > 300, sloTarget = 0.99)
        .orderBy(col("event_type"))),

    // A6++: p99 exemplar — per service, the WHOLE span row at the p99
    // rank (value + the trace/span ids a human clicks through to).
    "q_trace_exemplar" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val spans = t(s, dir, "events")
        .select(col("user_id").as("t_id"),
          (row_number().over(w) - 1).cast("long").as("s_id"),
          col("event_type").as("service"),
          floor(col("value") * 100).cast("long").as("dur"))
      Percentiles.exemplarAt(spans, Seq("service"), "dur",
          Seq("t_id", "s_id"), p = 0.99)
        .select(col("service"), col("dur").as("p99_dur"),
          col("t_id").as("exemplar_trace"), col("s_id").as("exemplar_span"))
        .orderBy(col("service"))
    }),

    // J2+: tail-based trace sampling — keep all spans of traces with a
    // very slow span (top ~0.5% of traces), plus a deterministic 10%
    // hash-sample of the rest.
    // Per-trace decisions (never partial traces); one agg + one
    // semi-join, both keyed by trace id.
    "q_trace_tailsample" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val spans = t(s, dir, "events")
        .select(col("user_id").as("t_id"),
          (row_number().over(w) - 1).cast("long").as("s_id"),
          col("event_type").as("service"),
          floor(col("value") * 100).cast("long").as("dur"))
      Traces.tailSample(spans, "t_id", col("dur") > 47000, rate = 0.1)
        .orderBy(col("t_id"), col("s_id"))
    }),

    // ML: exact-substring dedup CLEANED OUTPUT — duplicated passages
    // spliced out per document (Lee et al. 2022's deliverable); clean
    // docs pass through token-rejoined.
    "q_dedup_clean" -> ((s, dir) =>
      Dedup.removeDuplicateSpans(t(s, dir, "documents"), "doc_id", "text",
          k = 8)
        .orderBy(col("doc_id"))),

    // ML: exact-substring dedup, Lee et al. 2022 keep-one-copy variant —
    // the canonical (lowest doc, start) occurrence of each duplicated
    // passage survives; only later occurrences are spliced out.
    "q_dedup_clean_keep" -> ((s, dir) =>
      Dedup.removeDuplicateSpans(t(s, dir, "documents"), "doc_id", "text",
          k = 8, keepCanonical = true)
        .orderBy(col("doc_id"))),

    // ML: CCNet/RefinedWeb line-level boilerplate removal — lines
    // repeated across >1% of documents are stripped, survivors rejoin in
    // order. The corpus text is single-line, so lines are synthesized by
    // breaking after every 2nd word (the same regex on both engines).
    "q_dedup_lines" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lined = docs.select(col("doc_id"),
        regexp_replace(col("text"), "(\\S+ \\S+) ", "$1\n").as("text"))
      // 1% threshold computed inside the job (no separate count() scan)
      Dedup.lineDedupByShare(lined, "doc_id", "text",
          shareNumer = 1L, shareDenom = 100L)
        .orderBy(col("doc_id"))
    }),

    // ML: CCNet-exact paragraph dedup — every duplicated line keeps only
    // its first occurrence (lowest doc, position); same synthesized lines.
    "q_dedup_lines_keepfirst" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lined = docs.select(col("doc_id"),
        regexp_replace(col("text"), "(\\S+ \\S+) ", "$1\n").as("text"))
      Dedup.lineDedupKeepFirst(lined, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ML: product-quantization ANN (Jégou 2011) — corpus encoded once as 8
    // codes/vector (32× smaller than raw floats), neighbors ranked by ADC
    // = exact L2² to the PQ reconstruction; anchor-sampled codebooks so the
    // oracle rebuilds them from the data; top-k via the heap operator.
    // Flat PQ is IVF-PQ with ONE coarse list: every vector lands in it and
    // the single probe scans them all.
    "q_sim_pq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfPqSearch(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, numCentroids = 1, nProbe = 1,
          numSubspaces = 8, pqCentroids = 16, dim = 64,
          residual = false, rerank = 0)
        .orderBy(col("q_id"), col("rk"))
    }),

    // ML: IVF-PQ composite ANN (FAISS IVFPQ shape) — coarse inverted
    // lists prune to nProbe centroid partitions, ADC ranks over 8-byte
    // codes only: probed-fraction × 1/32 of the corpus bytes per search.
    "q_sim_ivfpq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfPqSearch(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, numCentroids = 8, nProbe = 2,
          numSubspaces = 8, pqCentroids = 16, dim = 64,
          residual = false, rerank = 0) // plain ADC — what the oracle mirrors
        .orderBy(col("q_id"), col("rk"))
    }),

    // ML: PQ with exact re-rank (FAISS IndexRefineFlat pattern) — the ADC
    // pass produces a 20-deep shortlist per query, and the final ranking
    // is the EXACT L2² against the raw vectors of just those candidates:
    // the approximate stage only has to land true neighbors anywhere in
    // the shortlist, so recall multiplies at R raw reads per query.
    "q_sim_pq_rerank" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfPqSearch(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, numCentroids = 1, nProbe = 1,
          numSubspaces = 8, pqCentroids = 16, dim = 64,
          residual = false, rerank = 20)
        .orderBy(col("q_id"), col("rk"))
    }),

    // ML: residual IVF-PQ (full IVFADC, Jégou 2011 §V.A) — the PQ
    // quantizes each vector's RESIDUAL against its coarse centroid, and
    // ADC ranks the query's residual against reconstructed residuals.
    // Residuals concentrate near zero, so the same codebook budget
    // quantizes far finer — the recall lever that survives corpus growth.
    "q_sim_ivfpq_residual" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfPqSearch(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, numCentroids = 8, nProbe = 2,
          numSubspaces = 8, pqCentroids = 16, dim = 64, residual = true,
          rerank = 0) // ADC ranking itself is what the oracle mirrors
        .orderBy(col("q_id"), col("rk"))
    }),

    // ML: recall-vs-nProbe calibration curve (the probe-count sizing
    // measurement behind Similarity.calibrateNProbe / annSearch): for
    // every (query, exact-top-5-neighbor) pair, the rank of the
    // neighbor's inverted list in the query's centroid ordering; the
    // cumulative fraction at rank p IS ivfSearch's recall@5 at
    // nProbe = p — the whole recall/latency frontier from two corpus
    // passes, on the exact 10⁶ integer grid.
    // query set FIXED-SIZE across SFs (vec_id < 500): the ground-truth
    // pass is |queries|·|corpus| — a query set growing with the corpus
    // would make the gate quadratic (the first floor-asserted scale
    // sweep flagged exactly that at 30× on 10× data), which is also the
    // operating contract: calibration samples a BOUNDED query set
    "q_sim_calibrate" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.nProbeRecallCurve(e,
          e.filter(col("vec_id") % 10 === 0 && col("vec_id") < 500),
          "vec_id", "embedding", k = 5,
          Similarity.seedCentroids(e, "vec_id", "embedding", 8))
        .orderBy(col("c_rank"))
    }),

    // ML: recall-vs-multiProbe curve of the sign-LSH layout — the IVF
    // calibration discipline transferred to the LSH frontier. Each exact
    // top-3 truth pair classifies by the smallest knnLsh probe level
    // reaching the neighbor's bucket (0 = same bucket, j+1 = single-bit
    // disagreement on sign bit j, nBits+1 = unreachable at ANY probe
    // count); the cumulative fraction per level IS knnLsh's recall@3 at
    // that multiProbe, and the last reachable row is the structural LSH
    // ceiling the calibrateLsh routing rule reads. Query set bounded
    // (vec_id < 500) — the calibration contract AND the scale-sweep
    // hygiene rule (a query set growing with the corpus is quadratic).
    "q_sim_lsh_curve" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshRecallCurve(e,
          e.filter(col("vec_id") % 10 === 0 && col("vec_id") < 500),
          "vec_id", "embedding", k = 3, nBits = 4)
        .orderBy(col("probe_level"))
    }),
  )

  // ------------------------------------------------- build/search split

  /** A gated query split into its one-time artifact build (index write,
    * codebook train + encode, merge-table train) and the per-query search
    * that a production deployment repeats against the built artifact.
    */
  final case class Prepared(
      build: (SparkSession, String) => AnyRef,
      search: (SparkSession, String, AnyRef) => DataFrame)

  /** Build/search splits of the gates that pair a one-time build with a
    * search. Each is its gate's only body: [[queries]] runs build then
    * search, which is what the oracle checks. The bench builds once per
    * process and times the phases separately (`build_sec` in the detail
    * map, search time as the query's figure) so round-over-round
    * regression signal tracks the thing deployments repeat, not the
    * artifact build.
    */
  def prepared: Map[String, Prepared] = Map(
    // ML: the same sign-LSH search through the PERSISTED bucket-
    // partitioned index (hash once, probe = partition-pruned reads) —
    // identical results to the ad-hoc path, same oracle
    "q_sim_lsh_persisted" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("lshidx").toString
        Similarity.saveLshIndex(t(s, dir, "embeddings"), "vec_id",
          "embedding", idx, nBits = 4)
        idx
      },
      search = (s, dir, idx) => {
        val e = t(s, dir, "embeddings")
        Similarity.lshSearchPersisted(s, idx.asInstanceOf[String],
            e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 3)
          .orderBy(col("q_id"), col("rk"))
      }),
    // ML: LSH shard MERGE — sign buckets are data-independent, so two
    // half-corpus indexes at the same bit width union row-for-row into
    // an index identical to a single build (spec-pinned); the merged
    // index serves the same search as q_sim_lsh_persisted, same oracle.
    "q_sim_merge_lsh" -> Prepared(
      build = (s, dir) => {
        val e = t(s, dir, "embeddings")
        val a = java.nio.file.Files.createTempDirectory("mrgla").toString
        val b = java.nio.file.Files.createTempDirectory("mrglb").toString
        val m = java.nio.file.Files.createTempDirectory("mrglm").toString
        Similarity.saveLshIndex(e.filter(col("vec_id") % 2 === 0),
          "vec_id", "embedding", a, nBits = 4)
        Similarity.saveLshIndex(e.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", b, nBits = 4)
        Similarity.mergeLshIndexes(s, a, b, m)
        m
      },
      search = (s, dir, m) => {
        val e = t(s, dir, "embeddings")
        Similarity.lshSearchPersisted(s, m.asInstanceOf[String],
            e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 3)
          .orderBy(col("q_id"), col("rk"))
      }),
    // ML: IVF-PQ TRUE shard merge — A (even ids) keeps its frozen coarse
    // centroids + PQ codebook; B (odd ids, built with the raw-vector
    // sidecar) re-assigns and RE-ENCODES under A's model, so the merged
    // index answers exactly like appending B's raw corpus into A. The
    // oracle is the q_sim_ivfpq pipeline with centroids/anchors drawn
    // from the EVEN half only (A's training slice), assignment and ADC
    // over the full union.
    "q_sim_merge_ivfpq" -> Prepared(
      build = (s, dir) => {
        val e = t(s, dir, "embeddings")
        val a = java.nio.file.Files.createTempDirectory("mrgpa").toString
        val b = java.nio.file.Files.createTempDirectory("mrgpb").toString
        val m = java.nio.file.Files.createTempDirectory("mrgpm").toString
        Similarity.saveIvfPqIndex(e.filter(col("vec_id") % 2 === 0),
          "vec_id", "embedding", numCentroids = 8, a,
          numSubspaces = 8, pqCentroids = 16, dim = 64)
        Similarity.saveIvfPqIndex(e.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", numCentroids = 8, b,
          numSubspaces = 8, pqCentroids = 16, dim = 64,
          keepRawVectors = true)
        Similarity.mergeIvfPqIndexes(s, a, b, m)
        m
      },
      search = (s, dir, m) => {
        val e = t(s, dir, "embeddings")
        Similarity.ivfPqSearchPersisted(s, m.asInstanceOf[String],
            e.filter(col("vec_id") < 10), "vec_id", "embedding",
            k = 5, nProbe = 2)
          .orderBy(col("q_id"), col("rk"))
      }),
    // ML: SHARDED build → MERGE lifecycle — two inverted indexes built
    // on disjoint halves (doc_id parity: the shard-per-writer layout a
    // 100 TB deployment builds in parallel), merged, then the standard
    // BM25 top-20. Merge unions live postings/doclens and recomputes
    // stats exactly, so the answer is identical to a single build over
    // the union corpus — same oracle as q_text_bm25.
    "q_text_merge_bm25" -> Prepared(
      build = (s, dir) => {
        val a = java.nio.file.Files.createTempDirectory("mrgta").toString
        val b = java.nio.file.Files.createTempDirectory("mrgtb").toString
        val m = java.nio.file.Files.createTempDirectory("mrgtm").toString
        val docs = t(s, dir, "documents")
        TextIndex.saveTextIndex(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", a)
        TextIndex.saveTextIndex(docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", b)
        TextIndex.mergeTextIndexes(s, a, b, m)
        m
      },
      search = (s, _, m) =>
        TextIndex.bm25SearchPersisted(s, m.asInstanceOf[String],
            Seq("stream", "join", "filter"), k = 20)
          .select(col("doc_id"), col("score_micro"))
          .orderBy(col("score_micro").desc, col("doc_id").asc)),
    // ML: the same IVF search through the PERSISTED centroid-partitioned
    // index (build once, probe = partition-pruned reads) — the production
    // shape for repeated searches; identical results, same oracle
    "q_sim_ivf_persisted" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("ivfidx").toString
        Similarity.saveIvfIndex(t(s, dir, "embeddings"), "vec_id",
          "embedding", numCentroids = 8, idx)
        idx
      },
      search = (s, dir, idx) => {
        val e = t(s, dir, "embeddings")
        Similarity.ivfSearchPersisted(s, idx.asInstanceOf[String],
            e.filter(col("vec_id") < 10), "vec_id", "embedding",
            k = 3, nProbe = 2)
          .orderBy(col("q_id"), col("rk"))
      }),
    // ML: DIVERSIFIED vector search — at most one result per label per
    // query (facet cap through the TopKPerGroup heap, best-first), then
    // the true top-k of the capped pool: one hot facet cannot
    // monopolize a result list.
    "q_sim_ivf_diverse" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("ivfdiv").toString
        Similarity.saveIvfIndex(t(s, dir, "embeddings"), "vec_id",
          "embedding", numCentroids = 8, idx, attrCols = Seq("label"))
        idx
      },
      search = (s, dir, idx) => {
        val e = t(s, dir, "embeddings")
        Similarity.ivfSearchPersisted(s, idx.asInstanceOf[String],
            e.filter(col("vec_id") < 10), "vec_id", "embedding",
            k = 3, nProbe = 2, facetCap = Some(("label", 1)))
          .orderBy(col("q_id"), col("rk"))
      }),
    // ML: FILTERED vector search — the index persists an attribute
    // column (label) inside the list rows and the predicate pre-filters
    // candidates BEFORE ranking: the true top-k among matching vectors,
    // with the filter pushed into the probed-partition parquet reads.
    "q_sim_ivf_filtered" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("ivffil").toString
        Similarity.saveIvfIndex(t(s, dir, "embeddings"), "vec_id",
          "embedding", numCentroids = 8, idx, attrCols = Seq("label"))
        idx
      },
      search = (s, dir, idx) => {
        val e = t(s, dir, "embeddings")
        Similarity.ivfSearchPersisted(s, idx.asInstanceOf[String],
            e.filter(col("vec_id") < 10), "vec_id", "embedding",
            k = 3, nProbe = 2, where = Some(col("label") === 1))
          .orderBy(col("q_id"), col("rk"))
      }),
    // ML: selectivity-aware FILTERED search — the probe count widens
    // with the predicate's MEASURED selectivity (expected matching
    // candidates in the probed fraction must clear safety·k:
    // p = ceil(P·safety·k / matches), clamped to [base, P]), so a
    // selective filter anti-correlated with the query's nearest lists
    // cannot be probed past. The ~1% vec_id % 97 predicate forces the
    // widening to bind at small corpora (full probe depth) and relax as
    // matches grow — the output pins the chosen width (nprobe_used).
    "q_sim_ivf_autoprobe" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("ivfauto").toString
        Similarity.saveIvfIndex(t(s, dir, "embeddings"), "vec_id",
          "embedding", numCentroids = 8, idx)
        idx
      },
      search = (s, dir, idx) => {
        val e = t(s, dir, "embeddings")
        val w = col("v_id") % 97 === 0
        val p = Similarity.autoProbeForFilter(s, idx.asInstanceOf[String],
          w, k = 3, base = 2)
        Similarity.ivfSearchPersisted(s, idx.asInstanceOf[String],
            e.filter(col("vec_id") < 10), "vec_id", "embedding",
            k = 3, nProbe = p, where = Some(w))
          .withColumn("nprobe_used", lit(p))
          .orderBy(col("q_id"), col("rk"))
      }),
    // ML: the persisted IVF search AFTER a tombstone deletion
    // (deleteFromAnnIndex) — the data-removal half of the index
    // lifecycle: deleted vectors (vec_id % 11 == 5) are anti-joined out
    // before ranking, never rebuilt out. Oracle = q_sim_ivf with the
    // deleted set excluded from the candidate side (routing unchanged:
    // centroids predate the deletion).
    "q_sim_ivf_deleted" -> Prepared(
      build = (s, dir) => {
        val e = t(s, dir, "embeddings")
        val idx = java.nio.file.Files.createTempDirectory("ivfdel").toString
        Similarity.saveIvfIndex(e, "vec_id", "embedding",
          numCentroids = 8, idx)
        Similarity.deleteFromAnnIndex(s, idx,
          e.filter(col("vec_id") % 11 === 5).select(col("vec_id")), "vec_id")
        idx
      },
      search = (s, dir, idx) => {
        val e = t(s, dir, "embeddings")
        Similarity.ivfSearchPersisted(s, idx.asInstanceOf[String],
            e.filter(col("vec_id") < 10), "vec_id", "embedding",
            k = 3, nProbe = 2)
          .orderBy(col("q_id"), col("rk"))
      }),
    "q_sim_pq" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("pqidx").toString
        Similarity.saveIvfPqIndex(t(s, dir, "embeddings"), "vec_id",
          "embedding", numCentroids = 1, idx, numSubspaces = 8,
          pqCentroids = 16, dim = 64)
        idx
      },
      search = (s, dir, idx) => {
        val e = t(s, dir, "embeddings")
        Similarity.ivfPqSearchPersisted(s, idx.asInstanceOf[String],
            e.filter(col("vec_id") < 10), "vec_id", "embedding",
            k = 5, nProbe = 1)
          .orderBy(col("q_id"), col("rk"))
      }),
    "q_sim_ivfpq" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("ivfpqidx").toString
        Similarity.saveIvfPqIndex(t(s, dir, "embeddings"), "vec_id",
          "embedding", numCentroids = 8, idx, numSubspaces = 8,
          pqCentroids = 16, dim = 64)
        idx
      },
      search = (s, dir, idx) => {
        val e = t(s, dir, "embeddings")
        Similarity.ivfPqSearchPersisted(s, idx.asInstanceOf[String],
            e.filter(col("vec_id") < 10), "vec_id", "embedding",
            k = 5, nProbe = 2)
          .orderBy(col("q_id"), col("rk"))
      }),
    "q_sim_ivfpq_residual" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("ivfadcidx").toString
        Similarity.saveIvfPqIndex(t(s, dir, "embeddings"), "vec_id",
          "embedding", numCentroids = 8, idx, numSubspaces = 8,
          pqCentroids = 16, dim = 64, residual = true)
        idx
      },
      search = (s, dir, idx) => {
        val e = t(s, dir, "embeddings")
        // the persisted reader picks up the residual flag from the
        // codebook — same answer as the ad-hoc residual path (spec-pinned)
        Similarity.ivfPqSearchPersisted(s, idx.asInstanceOf[String],
            e.filter(col("vec_id") < 10), "vec_id", "embedding",
            k = 5, nProbe = 2)
          .orderBy(col("q_id"), col("rk"))
      }),
    // ML: the same BM25 top-20 served from the PERSISTED inverted index
    // (build once; a search reads |query terms| bucket partitions with
    // the term predicate pushed down, df deletion-exact from the live
    // postings, N/avgdl from the stats file) — identical scores by
    // construction (TextIndexSpec pins bit-parity), same oracle.
    "q_text_bm25_persisted" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("txtidx").toString
        TextIndex.saveTextIndex(t(s, dir, "documents"), "doc_id", "text", idx)
        idx
      },
      search = (s, dir, idx) =>
        TextIndex.bm25SearchPersisted(s, idx.asInstanceOf[String],
            Seq("stream", "join", "filter"), k = 20)
          .select(col("doc_id"), col("score_micro"))
          .orderBy(col("score_micro").desc, col("doc_id").asc)),
    // ML: PHRASE search over the positional postings — adjacency-exact
    // occurrence counts ("table scan" as a phrase, not a bag of words),
    // served from the same bucket-pruned inverted-file reads.
    "q_text_phrase" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("phridx").toString
        TextIndex.saveTextIndex(t(s, dir, "documents"), "doc_id", "text", idx)
        idx
      },
      search = (s, dir, idx) =>
        TextIndex.phraseSearchPersisted(s, idx.asInstanceOf[String],
            Seq("table", "scan"))
          .orderBy(col("doc_id"))),
    // ML: BATCHED hybrid retrieval — three queries (mixed per-query term
    // lists, vector = the embedding row sharing the query id) amortized
    // over ONE union-pruned postings pass and ONE probed-partition ANN
    // pass, RRF-fused per query. The lex leg grids each term's
    // contribution before the per-(q, doc) sum (order-free exact BIGINT).
    "q_hybrid_batch" -> Prepared(
      build = (s, dir) => {
        val tIdx = java.nio.file.Files.createTempDirectory("hybbt").toString
        val aIdx = java.nio.file.Files.createTempDirectory("hybba").toString
        TextIndex.saveTextIndex(t(s, dir, "documents"), "doc_id", "text",
          tIdx)
        Similarity.saveIvfIndex(t(s, dir, "embeddings"), "vec_id",
          "embedding", numCentroids = 8, aIdx)
        (tIdx, aIdx)
      },
      search = (s, dir, art) => {
        val (tIdx, aIdx) = art.asInstanceOf[(String, String)]
        val sp = s; import sp.implicits._
        val qt = Seq((0L, "stream"), (0L, "join"), (0L, "filter"),
            (1L, "table"), (1L, "scan"), (2L, "parquet"), (2L, "filter"))
          .toDF("q_id", "term")
        graft.ml.Hybrid.hybridSearchPersistedBatch(s, tIdx, aIdx, qt,
            t(s, dir, "embeddings").filter(col("vec_id") < 3),
            "vec_id", "embedding", nProbe = 8, kLex = 20, kVec = 20, k = 10)
          .orderBy(col("q_id"), col("rk"))
      }),
    // ML: FILTERED hybrid retrieval — the same fused query scoped to
    // lang = 'en' documents via attribute columns persisted in BOTH
    // indexes (candidates restricted per leg, scoring stats stay
    // corpus-global — the per-index filtered-search convention).
    "q_hybrid_filtered" -> Prepared(
      build = (s, dir) => {
        val tIdx = java.nio.file.Files.createTempDirectory("hybft").toString
        val aIdx = java.nio.file.Files.createTempDirectory("hybfa").toString
        val docs = t(s, dir, "documents")
        TextIndex.saveTextIndex(docs, "doc_id", "text", tIdx,
          attrCols = Seq("lang"))
        val embA = t(s, dir, "embeddings")
          .join(docs.select(col("doc_id").as("vec_id"), col("lang")),
            "vec_id")
        Similarity.saveIvfIndex(embA, "vec_id", "embedding",
          numCentroids = 8, aIdx, attrCols = Seq("lang"))
        (tIdx, aIdx)
      },
      search = (s, dir, art) => {
        val (tIdx, aIdx) = art.asInstanceOf[(String, String)]
        graft.ml.Hybrid.hybridSearchPersisted(s, tIdx, aIdx,
            Seq("stream", "join", "filter"),
            t(s, dir, "embeddings").filter(col("vec_id") === 0L),
            "vec_id", "embedding", nProbe = 8, kLex = 20, kVec = 20,
            k = 10, where = Some(col("lang") === "en"))
          .orderBy(col("rk"))
      }),
    // ML: BATCHED phrase search — four phrases (incl. a repeated-term
    // overlap case and a single-term degenerate) answered from ONE
    // union-pruned positional-postings pass; the phrase structure
    // travels as data, the adjacency check is one HOF per doc.
    "q_text_phrase_batch" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("phrbidx").toString
        TextIndex.saveTextIndex(t(s, dir, "documents"), "doc_id", "text",
          idx)
        idx
      },
      search = (s, _, idx) =>
        TextIndex.phraseSearchPersistedBatch(s, idx.asInstanceOf[String],
            Seq(0L -> Seq("table", "scan"), 1L -> Seq("join", "order"),
              2L -> Seq("table", "table"), 3L -> Seq("scan")))
          .orderBy(col("p_id"), col("doc_id"))),
    // ML: FACET panel — matching-doc counts per language for a term
    // query, served from the pruned postings (attrs ride in the posting
    // rows; the corpus is never re-read).
    "q_text_facets" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("fctidx").toString
        TextIndex.saveTextIndex(t(s, dir, "documents"), "doc_id", "text",
          idx, attrCols = Seq("lang"))
        idx
      },
      search = (s, _, idx) =>
        TextIndex.facetCounts(s, idx.asInstanceOf[String],
            Seq("stream", "join", "filter"), "lang")
          .orderBy(col("lang"))),
    // ML: BATCHED facet panels — three term queries' source-facet counts
    // from ONE union-pruned postings pass (one keyed shuffle, not three
    // index reads).
    "q_text_facets_batch" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("fctbidx").toString
        TextIndex.saveTextIndex(t(s, dir, "documents"), "doc_id", "text",
          idx, attrCols = Seq("source"))
        idx
      },
      search = (s, _, idx) => {
        val sp = s; import sp.implicits._
        val qs = Seq((0L, "stream"), (0L, "join"), (1L, "filter"),
            (1L, "table"), (2L, "scan"))
          .toDF("q_id", "term")
        TextIndex.facetCountsBatch(s, idx.asInstanceOf[String], qs, "source")
          .orderBy(col("q_id"), col("source"))
      }),
    // ML: SNIPPET windows — per matching doc the best 8-token window
    // (max distinct query terms covered, ties to the earliest start),
    // computed entirely from the positional postings.
    "q_text_snippet" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("snpidx").toString
        TextIndex.saveTextIndex(t(s, dir, "documents"), "doc_id", "text", idx)
        idx
      },
      search = (s, _, idx) =>
        TextIndex.snippetWindows(s, idx.asInstanceOf[String],
            Seq("stream", "join", "filter"), width = 8)
          .orderBy(col("doc_id"))),
    // ML: MULTI-PASSAGE highlighting — up to 2 non-overlapping best
    // windows per matching doc, greedy by (coverage desc, start asc)
    // with a width-8 exclusion zone around every earlier pick. The
    // greedy is DETERMINISTIC over a statically-scored anchor set, so
    // the oracle unrolls the two rounds as SQL (pick 1 = best window;
    // pick 2 = best among anchors >= width away from pick 1).
    "q_text_passages" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("psgidx").toString
        TextIndex.saveTextIndex(t(s, dir, "documents"), "doc_id", "text", idx)
        idx
      },
      search = (s, _, idx) =>
        TextIndex.snippetPassages(s, idx.asInstanceOf[String],
            Seq("stream", "join", "filter"), width = 8, p = 2)
          .orderBy(col("doc_id"), col("passage_rk"))),
    // ML: PASSAGE TEXT — the top-10 docs' (by best passage) up-to-2
    // non-overlapping passages materialized as text; only those 10 ids
    // re-read from the corpus (literal IN-list pushdown).
    "q_text_passages_text" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("psgtidx").toString
        TextIndex.saveTextIndex(t(s, dir, "documents"), "doc_id", "text", idx)
        idx
      },
      search = (s, dir, idx) =>
        TextIndex.passagesText(s, idx.asInstanceOf[String],
            t(s, dir, "documents"), "doc_id", "text",
            Seq("stream", "join", "filter"), width = 8, p = 2, k = 10)
          .orderBy(col("doc_id"), col("passage_rk"))),
    // ML: FUZZY term lookup — vocabulary terms within edit distance 1 of
    // the TYPO 'strean' (-> 'stream'), via the SymSpell deletion-neighborhood dictionary (two
    // bucket-pruned equi-joins + exact verify on candidates only, never
    // a vocabulary scan).
    "q_text_fuzzy" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("fzidx").toString
        val dict = java.nio.file.Files.createTempDirectory("fzdict").toString
        TextIndex.saveTextIndex(t(s, dir, "documents"), "doc_id", "text", idx)
        TextIndex.saveTermDict(s, idx, dict)
        dict
      },
      search = (s, _, dict) =>
        TextIndex.fuzzyTermsPersisted(s, dict.asInstanceOf[String], "strean")
          .orderBy(col("term"))),
    // ML: BOOLEAN search — must contain 'stream', none of 'table', and
    // >= 1 of {join, filter}; BM25-ranked over the matching clause
    // terms, one pruned postings pass for all three clauses.
    "q_text_bool" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("boolidx").toString
        TextIndex.saveTextIndex(t(s, dir, "documents"), "doc_id", "text", idx)
        idx
      },
      search = (s, _, idx) =>
        TextIndex.booleanSearchPersisted(s, idx.asInstanceOf[String],
            must = Seq("stream"), should = Seq("join", "filter"),
            mustNot = Seq("table"), k = 15, minShouldMatch = 1)
          .orderBy(col("rk"))),
    // ML: SEARCH-AFTER pagination — page 2 of the BM25 ranking via the
    // keyset cursor of page 1's last row (no deep offset, no cursor
    // state; page N = one index probe).
    "q_text_search_after" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("saidx").toString
        TextIndex.saveTextIndex(t(s, dir, "documents"), "doc_id", "text", idx)
        idx
      },
      search = (s, _, art) => {
        val idx = art.asInstanceOf[String]
        val terms = Seq("stream", "join", "filter")
        val cur = TextIndex.bm25SearchPersisted(s, idx, terms, k = 10)
          .orderBy(col("rk")).select("score_micro", "doc_id")
          .collect().last
        TextIndex.bm25SearchPersisted(s, idx, terms, k = 10,
            after = Some((cur.getLong(0), cur.getLong(1))))
          .select(col("doc_id"), col("score_micro"), col("rk"))
          .orderBy(col("rk"))
      }),
    // ML: NUMERIC RANGE FACET — 64-char-wide n_chars histogram of the
    // docs matching the term query, from the postings-resident attr.
    "q_text_facet_hist" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("fhidx").toString
        TextIndex.saveTextIndex(t(s, dir, "documents"), "doc_id", "text",
          idx, attrCols = Seq("n_chars"))
        idx
      },
      search = (s, _, idx) =>
        TextIndex.facetHistogram(s, idx.asInstanceOf[String],
            Seq("stream", "join", "filter"), "n_chars", binWidth = 64L)
          .orderBy(col("bin"))),
    // ML: PER-QUERY FILTERED batch BM25 — one pruned pass for a query
    // set where each query carries its OWN attribute predicate (q0
    // scoped to lang='en', q1 unfiltered); stats stay corpus-global.
    "q_text_bm25_batch_filtered" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("bbfidx").toString
        TextIndex.saveTextIndex(t(s, dir, "documents"), "doc_id", "text",
          idx, attrCols = Seq("lang"))
        idx
      },
      search = (s, _, idx) => {
        val sp = s; import sp.implicits._
        val qt = Seq((0L, "stream"), (0L, "join"), (1L, "filter"))
          .toDF("q_id", "term")
        TextIndex.bm25SearchPersistedBatch(s, idx.asInstanceOf[String], qt,
            kLex = 10, perQueryWhere = Map(0L -> (col("lang") === "en")))
          .orderBy(col("q_id"), col("rk"))
      }),
    // ML: MULTI-FACET panels — both facet columns' panels for two term
    // queries in ONE pruned pass (the whole left-rail in one query).
    "q_text_facet_panels" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("fpidx").toString
        TextIndex.saveTextIndex(t(s, dir, "documents"), "doc_id", "text",
          idx, attrCols = Seq("lang", "source"))
        idx
      },
      search = (s, _, idx) => {
        import s.implicits._
        val qs = Seq((0L, "stream"), (0L, "join"), (1L, "filter"))
          .toDF("q_id", "term")
        TextIndex.facetPanels(s, idx.asInstanceOf[String], qs,
            Seq("lang", "source"))
          .orderBy(col("q_id"), col("facet_col"), col("facet_val"))
      }),
    // ML: BOOLEAN + FILTER-CONTEXT PHRASE — docs containing 'stream'
    // AND the exact phrase "table scan" (non-scoring clause), ranked by
    // BM25 on the scoring terms.
    "q_text_bool_phrase" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("bphidx").toString
        TextIndex.saveTextIndex(t(s, dir, "documents"), "doc_id", "text", idx)
        idx
      },
      search = (s, _, idx) =>
        TextIndex.booleanSearchPersisted(s, idx.asInstanceOf[String],
            must = Seq("stream"), should = Nil, mustNot = Nil, k = 15,
            mustPhrase = Seq("table", "scan"))
          .orderBy(col("rk"))),
    // ML: FACET METRICS — per-language doc count + exact n_chars
    // sum/min/max over the matching docs (terms-agg with sub-metrics),
    // from the postings-resident attrs.
    "q_text_facet_metrics" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("fmidx").toString
        TextIndex.saveTextIndex(t(s, dir, "documents"), "doc_id", "text",
          idx, attrCols = Seq("lang", "n_chars"))
        idx
      },
      search = (s, _, idx) =>
        TextIndex.facetMetrics(s, idx.asInstanceOf[String],
            Seq("stream", "join", "filter"), "lang", "n_chars")
          .orderBy(col("lang"))),
    // ML: AUTOCOMPLETE — top-5 completions of prefix 's' by document
    // frequency from the dictionary's prefix-partitioned term table
    // (one partition dir read + pushed range predicate, never a
    // vocabulary scan).
    "q_text_suggest" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("sgidx").toString
        val dict = java.nio.file.Files.createTempDirectory("sgdict").toString
        TextIndex.saveTextIndex(t(s, dir, "documents"), "doc_id", "text", idx)
        TextIndex.saveTermDict(s, idx, dict)
        dict
      },
      search = (s, _, dict) =>
        TextIndex.suggestTerms(s, dict.asInstanceOf[String], "s", k = 5)
          .orderBy(col("df").desc, col("term").asc)),
    // ML: REGEX search served from the INDEX — docs containing >= 1
    // vocabulary term matching '^s.*a' (anchored literal prefix prunes
    // the term table; the regex runs over surviving terms; matched
    // terms drive the pruned postings read — grep semantics, index
    // cost).
    "q_text_regex" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("rgidx").toString
        val dict = java.nio.file.Files.createTempDirectory("rgdict").toString
        TextIndex.saveTextIndex(t(s, dir, "documents"), "doc_id", "text", idx)
        TextIndex.saveTermDict(s, idx, dict)
        (idx, dict)
      },
      search = (s, _, art) => {
        val (idx, dict) = art.asInstanceOf[(String, String)]
        TextIndex.regexDocSearch(s, idx, dict, "^s.*a")
          .orderBy(col("doc_id"))
      }),
    // ML: regex search with an OPTIONAL-QUANTIFIER prefix — '^streams?$'
    // must match BOTH 'stream' and 'streams': the literal-prefix pruning
    // drops its last character when a quantifier makes it optional
    // (r14 ADVICE finding; TextSearchOpsSpec pins the prefix shapes).
    "q_text_regex_opt" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("rgoidx").toString
        val dict = java.nio.file.Files.createTempDirectory("rgodict").toString
        TextIndex.saveTextIndex(t(s, dir, "documents"), "doc_id", "text", idx)
        TextIndex.saveTermDict(s, idx, dict)
        (idx, dict)
      },
      search = (s, _, art) => {
        val (idx, dict) = art.asInstanceOf[(String, String)]
        TextIndex.regexDocSearch(s, idx, dict, "^streams?$")
          .orderBy(col("doc_id"))
      }),
    // ML: SNIPPET TEXT — the top-10 docs' best windows materialized as
    // text: only those 10 ids re-read from the corpus (literal IN-list
    // pushdown), window tokens sliced back out.
    "q_text_snippet_text" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("snptidx").toString
        TextIndex.saveTextIndex(t(s, dir, "documents"), "doc_id", "text", idx)
        idx
      },
      search = (s, dir, idx) =>
        TextIndex.snippetText(s, idx.asInstanceOf[String],
            t(s, dir, "documents"), "doc_id", "text",
            Seq("stream", "join", "filter"), width = 8, k = 10)
          .orderBy(col("doc_id"))),
    // ML: PSEUDO-RELEVANCE FEEDBACK — top-5 answers of the 2-term query
    // donate their 2 most distinctive terms (tf·idf, originals
    // excluded); the expanded 4-term query re-searches. Recall recovery
    // with zero user interaction.
    "q_text_prf" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("prfidx").toString
        TextIndex.saveTextIndex(t(s, dir, "documents"), "doc_id", "text", idx)
        idx
      },
      search = (s, dir, idx) =>
        TextIndex.pseudoRelevanceFeedback(s, idx.asInstanceOf[String],
            t(s, dir, "documents"), "doc_id", "text",
            Seq("stream", "join"), rDocs = 5, mTerms = 2, k = 10)
          .orderBy(col("rk"))),
    // ML: PROXIMITY search — docs with 'stream' and 'join' within a
    // 12-token window in any order, with the minimal covering span
    // (SpanNear-with-slop, the third positional primitive).
    "q_text_proximity" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("prxidx").toString
        TextIndex.saveTextIndex(t(s, dir, "documents"), "doc_id", "text", idx)
        idx
      },
      search = (s, _, idx) =>
        TextIndex.proximitySearch(s, idx.asInstanceOf[String],
            Seq("stream", "join"), slop = 12)
          .orderBy(col("doc_id"))),
    // ML: DID-YOU-MEAN — per query term the single best correction
    // (exact hit → itself; else most frequent edit-distance-1 term;
    // else null), one batched dictionary probe for the whole query.
    "q_text_didyoumean" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("dymidx").toString
        val dict = java.nio.file.Files.createTempDirectory("dymdict").toString
        TextIndex.saveTextIndex(t(s, dir, "documents"), "doc_id", "text", idx)
        TextIndex.saveTermDict(s, idx, dict)
        dict
      },
      search = (s, _, dict) =>
        TextIndex.didYouMean(s, dict.asInstanceOf[String],
            Seq("strean", "join", "filtr", "zzz"))
          .orderBy(col("query"))),
    // ML: MORE-LIKE-THIS — doc 42's top-3 tf·idf terms (idf from the
    // index) become a BM25 query; top-10 non-source docs.
    "q_text_mlt" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("mltidx").toString
        TextIndex.saveTextIndex(t(s, dir, "documents"), "doc_id", "text", idx)
        idx
      },
      search = (s, dir, idx) =>
        TextIndex.moreLikeThisPersisted(s, idx.asInstanceOf[String],
            t(s, dir, "documents"), "doc_id", "text",
            docId = 42L, mTerms = 3, k = 10)
          .orderBy(col("rk"))),
    // ML: the same radius sweep served from the persisted IVF index at
    // full probe depth (exact — every list probed, tombstones applied).
    "q_sim_radius_persisted" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("radidx").toString
        Similarity.saveIvfIndex(t(s, dir, "embeddings"), "vec_id",
          "embedding", numCentroids = 8, idx)
        idx
      },
      search = (s, dir, idx) => {
        val e = t(s, dir, "embeddings")
        Similarity.ivfRadiusSearchPersisted(s, idx.asInstanceOf[String],
            e.filter(col("vec_id") < 10), "vec_id", "embedding",
            minCosine = 0.3, nProbe = 8)
          .orderBy(col("q_id"), col("n_id"))
      }),
    // ML: the same hybrid query served entirely from PERSISTED indexes
    // (inverted file + IVF at full probe depth → identical answer,
    // HybridSpec-pinned) — two index probes and a ≤40-row fusion.
    "q_hybrid_persisted" -> Prepared(
      build = (s, dir) => {
        val tIdx = java.nio.file.Files.createTempDirectory("hybt").toString
        val aIdx = java.nio.file.Files.createTempDirectory("hyba").toString
        TextIndex.saveTextIndex(t(s, dir, "documents"), "doc_id", "text", tIdx)
        Similarity.saveIvfIndex(t(s, dir, "embeddings"), "vec_id",
          "embedding", numCentroids = 8, aIdx)
        (tIdx, aIdx)
      },
      search = (s, dir, art) => {
        val (tIdx, aIdx) = art.asInstanceOf[(String, String)]
        graft.ml.Hybrid.hybridSearchPersisted(s, tIdx, aIdx,
            Seq("stream", "join", "filter"),
            t(s, dir, "embeddings").filter(col("vec_id") === 0L),
            "vec_id", "embedding", nProbe = 8, kLex = 20, kVec = 20, k = 10)
          .orderBy(col("rk"))
      }),
    // ML: PERSISTED three-leg blend — the production shape of
    // q_hybrid_prior: both dynamic legs index-served (bucket-pruned
    // postings probe + probed-partition ANN read; full probe depth =
    // exact), the same bounded length prior at half weight through the
    // N-leg RRF. Ad-hoc parity is spec-pinned (HybridSpec).
    "q_hybrid_prior_persisted" -> Prepared(
      build = (s, dir) => {
        val tIdx = java.nio.file.Files.createTempDirectory("hybpt").toString
        val aIdx = java.nio.file.Files.createTempDirectory("hybpa").toString
        TextIndex.saveTextIndex(t(s, dir, "documents"), "doc_id", "text", tIdx)
        Similarity.saveIvfIndex(t(s, dir, "embeddings"), "vec_id",
          "embedding", numCentroids = 8, aIdx)
        (tIdx, aIdx)
      },
      search = (s, dir, art) => {
        val (tIdx, aIdx) = art.asInstanceOf[(String, String)]
        val prior = graft.operators.TopK.rankedLimit(t(s, dir, "documents"),
            Seq(col("n_chars").desc, col("doc_id").asc), 20)
          .select(col("doc_id"), col("rk"))
        graft.ml.Hybrid.hybridSearchPersistedWithPrior(s, tIdx, aIdx,
            Seq("stream", "join", "filter"),
            t(s, dir, "embeddings").filter(col("vec_id") === 0L),
            "vec_id", "embedding", prior, nProbe = 8,
            kLex = 20, kVec = 20, k = 10)
          .orderBy(col("rk"))
      }),
    // ML: bipartite dedup through a PERSISTED shingle index — the LARGE
    // kept-corpus side (doc_id >= 50) exploded once and bucket-partitioned
    // on disk; each small arriving batch (doc_id < 50) probes it with a
    // broadcast batch side and partition-pruned index reads (the index
    // never shuffles, never re-tokenizes). Role assignment is the point:
    // the index holds the corpus, the probe is the batch.
    "q_dedup_incremental_indexed" -> Prepared(
      build = (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("shidx").toString
        Dedup.saveShingleIndex(
          t(s, dir, "documents").filter(col("doc_id") >= 50),
          "doc_id", "text", idx, n = 3)
        idx
      },
      search = (s, dir, idx) => {
        val docs = t(s, dir, "documents")
        Dedup.jaccardAgainstIndex(s, idx.asInstanceOf[String],
            docs.filter(col("doc_id") < 50), "doc_id", "text",
            n = 3, threshold = 0.5, pruneBuckets = false)
          .orderBy(col("new_id"), col("ref_id"))
      }),
    // A3+: manifest-answered histogram — materialize the events table
    // day-partitioned (one file per day), build the per-file stats
    // catalog, then answer the DAILY histogram from catalog num_rows sums
    // alone (bin-contained files never scanned; straddlers would be read
    // exactly — BinDensitySpec covers that path). Hash-equal to the
    // scan-based oracle → the metadata fast path is exact.
    // Build: the day-partitioned copy of the events timestamps plus its
    // stats catalog — what a deployment's ingest path maintains anyway;
    // only the stats-answered histogram is the repeated query.
    "q_counts_density" -> Prepared(
      build = (s, dir) => {
        val Day = 86400000L
        val base = java.nio.file.Files.createTempDirectory("density").toString
        t(s, dir, "events").select(col("ts"))
          .withColumn("d", floor(unix_millis(col("ts").cast("timestamp")) /
            Day).cast("long"))
          // co-locate each day before the partitioned write: one file per
          // day dir instead of tasks×days fragments
          .repartition(col("d"))
          .write.partitionBy("d").parquet(s"$base/t")
        graft.catalog.TxnCatalog.reconcile(s, s"$base/t", s"$base/cat",
          Seq("ts"))
        base
      },
      search = (s, _, base) => {
        import s.implicits._
        val Day = 86400000L
        val dense = Counts.binDensityFromStats(
          graft.catalog.StatsCatalog.resolve(s, s"$base/cat"), "ts",
          startMs = 0L, endMs = 4102444800000L, binMillis = Day,
          readFiles = paths => s.read.parquet(paths: _*)).get
        dense.toDF("bin", "bin_count")
          .select(timestamp_millis(col("bin") * Day)
            .cast("timestamp_ntz").as("bin_start"), col("bin_count"))
          .orderBy(col("bin_start"))
      }),
    // J2+: the reference's recursive-CTE span-hierarchy SQL
    // (traces.rs:608-638) executed NATIVELY — Spark ≥ 4.0 runs WITH
    // RECURSIVE; anchor = orphan-as-root rule, depth-capped recursion,
    // MIN(level) dedup, COUNT(*) OVER () total. Oracle runs the identical
    // recursive SQL in DuckDB.
    // Build stages the derived span table to parquet ONCE before the
    // recursion: the recursive CTE's loop body re-evaluates every relation
    // it references per level, so a view over the raw plan would re-run the
    // events scan + per-trace window sort ~depth times. Staged as parquet
    // (not .persist) the per-level cost is a columnar re-scan of a small
    // table, and nothing pins executor storage after the query. In
    // production the spans ARE a stored table.
    "q_trace_hierarchy_sql" -> Prepared(
      build = (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val staged = java.nio.file.Files
          .createTempDirectory("trace-spans").toString
        t(s, dir, "events").filter(col("user_id") < 50)
          .select(col("user_id").as("t_id"),
            (row_number().over(w) - 1).cast("long").as("s_id"),
            col("event_type").as("service"),
            floor(col("value") * 100).cast("long").as("dur"))
          .select(
            (col("t_id") * 100000L + col("s_id")).as("span_id"),
            when(col("s_id") === 0L, lit(null).cast("long"))
              .otherwise(col("t_id") * 100000L +
                ((col("s_id") - 1) / 2).cast("long")).as("parent_id"),
            col("service"), col("dur"))
          .coalesce(1).write.mode("overwrite").parquet(staged)
        staged
      },
      search = (s, _, staged) => {
        s.read.parquet(staged.asInstanceOf[String])
          .createOrReplaceTempView("trace_spans_sql")
        s.sql(
          """WITH RECURSIVE all_span_ids AS (
            |  SELECT DISTINCT span_id FROM trace_spans_sql
            |),
            |span_hierarchy AS (
            |  SELECT span_id, 0 AS level
            |  FROM trace_spans_sql
            |  WHERE parent_id IS NULL
            |    OR parent_id NOT IN (SELECT span_id FROM all_span_ids)
            |  UNION ALL
            |  SELECT s.span_id, sh.level + 1
            |  FROM trace_spans_sql s
            |  INNER JOIN span_hierarchy sh ON s.parent_id = sh.span_id
            |  WHERE sh.level < 10
            |),
            |span_levels AS (
            |  SELECT span_id, MIN(level) AS level
            |  FROM span_hierarchy
            |  GROUP BY span_id
            |)
            |SELECT d.span_id, d.parent_id, d.service, d.dur, sl.level,
            |  COUNT(*) OVER () AS total_span_count
            |FROM trace_spans_sql d
            |INNER JOIN span_levels sl ON d.span_id = sl.span_id
            |ORDER BY sl.level, d.span_id""".stripMargin)
      }),
    // ML: BPE train + native merge-rank encode end-to-end. Exact
    // segmentation is SQL-inexpressible (iterative merges) and is gated
    // by BpeTrainSpec against a pure reference; what the oracle CAN pin
    // corpus-wide is losslessness — every document's pieces must rejoin
    // to exactly its tokens, so piece characters == token characters.
    "q_bpe_encode" -> Prepared(
      build = (s, dir) =>
        BpeTrain.train(t(s, dir, "documents"), "text", numMerges = 20),
      search = (s, dir, m) => {
        val merges = m.asInstanceOf[Seq[BpeTrain.Merge]]
        tF(s, dir, "documents")
          .select(col("doc_id"),
            BpeTrain.encode(TextAnalysis.tokens(col("text")), merges)
              .as("pieces"))
          .select(col("doc_id"),
            length(concat_ws("", col("pieces"))).cast("long")
              .as("piece_chars"))
          .orderBy(col("doc_id"))
      }),
    // ML: unigram-LM tokenizer end-to-end (soft-EM forward-backward
    // training + Viterbi encode). Exact segmentation is SQL-inexpressible
    // (iterative EM + per-word lattice DP) and is gated by UnigramLmSpec
    // against a pure reference; the corpus-wide oracle pins
    // LOSSLESSNESS — single-char coverage means every document's pieces
    // rejoin to exactly its tokens (the q_bpe_encode convention).
    "q_unigram_encode" -> Prepared(
      build = (s, dir) => graft.ml.UnigramLm.trainSoft(
        t(s, dir, "documents"), "text",
        vocabSize = 512, maxPieceLen = 4, seedSize = 1024, iters = 2),
      search = (s, dir, m) => {
        val model = m.asInstanceOf[graft.functions.UnigramModel]
        tF(s, dir, "documents")
          .select(col("doc_id"),
            graft.ml.UnigramLm.encodePieces(
              TextAnalysis.tokens(col("text")), model).as("pieces"))
          .select(col("doc_id"),
            length(concat_ws("", col("pieces"))).cast("long")
              .as("piece_chars"))
          .orderBy(col("doc_id"))
      }),
    // ML: SUBWORD-REGULARIZATION sampled encode (Kudo 2018) — one draw
    // from P(segmentation)^alpha per word via deterministic FFBS (seeded
    // integer mixing; same word+seed ⇒ same pieces anywhere). The
    // sampling distribution is spec-gated (UnigramLmSpec); the oracle
    // pins corpus-wide losslessness — every draw still reconstructs.
    "q_unigram_sampled" -> Prepared(
      build = (s, dir) => graft.ml.UnigramLm.trainSoft(
        t(s, dir, "documents"), "text",
        vocabSize = 512, maxPieceLen = 4, seedSize = 1024, iters = 2),
      search = (s, dir, m) => {
        val model = m.asInstanceOf[graft.functions.UnigramModel]
        tF(s, dir, "documents")
          .select(col("doc_id"),
            graft.ml.UnigramLm.encodePiecesSampled(
              TextAnalysis.tokens(col("text")), model, alpha = 0.5,
              seed = 42L).as("pieces"))
          .select(col("doc_id"),
            length(concat_ws("", col("pieces"))).cast("long")
              .as("piece_chars"))
          .orderBy(col("doc_id"))
      }),
    // ML: TOKENIZER-AUGMENTATION epochs (subword regularization at the
    // corpus level, Kudo 2018 §3.2): N sampled-encode epochs at
    // per-epoch seeds over ONE trained unigram model — the way an LLM
    // data pipeline multiplies its corpus with segmentation diversity.
    // The oracle pins what IS engine-independent: (a) the dedup rate of
    // the DUPLICATED seed — deterministic sampling collapses same-seed
    // epochs to exactly ONE distinct segmentation per doc (the
    // replayed-epoch dedup guarantee), and (b) losslessness of EVERY
    // epoch (piece chars total = epochs × token chars). WHICH
    // segmentation a distinct seed draws is engine-specific and
    // spec-pinned (UnigramLmSpec: FFBS reference parity + cross-seed
    // diversity). One corpus scan per epoch, one hash aggregate.
    "q_unigram_augment" -> Prepared(
      build = (s, dir) => graft.ml.UnigramLm.trainSoft(
        t(s, dir, "documents"), "text",
        vocabSize = 512, maxPieceLen = 4, seedSize = 1024, iters = 2),
      search = (s, dir, m) => {
        val model = m.asInstanceOf[graft.functions.UnigramModel]
        val d = tF(s, dir, "documents")
        // ONE corpus scan for all epochs (an epoch-union would re-read the
        // table per epoch — 3x the IO at 100 TB): the per-epoch kernels run
        // side by side in one projection and explode into epoch rows. The
        // seed-41 kernels still run INDEPENDENTLY — the same-seed dedup pin
        // tests the engine, not a shared subexpression.
        d.select(col("doc_id"),
            explode(array(Seq((1L, 41L), (2L, 41L), (3L, 97L)).map {
              case (e, seed) => struct(lit(e).as("epoch"),
                graft.ml.UnigramLm.encodePiecesSampled(
                  TextAnalysis.tokens(col("text")), model, alpha = 0.5,
                  seed = seed).as("pieces"))
            }: _*)).as("__e"))
          .select(col("doc_id"), col("__e.epoch").as("epoch"),
            col("__e.pieces").as("pieces"))
          .select(col("doc_id"), col("epoch"),
            // piece-BOUNDARY-preserving key: two segmentations of the
            // same word must compare different ("ab|c" vs "a|bc")
            concat_ws("\u0001", col("pieces")).as("seg"),
            length(concat_ws("", col("pieces"))).cast("long").as("chars"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_epochs"),
            countDistinct(when(col("epoch") <= 2L, col("seg")))
              .as("same_seed_distinct"),
            sum(col("chars")).as("piece_chars_total"))
          .orderBy(col("doc_id"))
      }),
  )

  // ----------------------------------------------------------- oracle SQL

  /** DuckDB fragment: 60-bit integer from the md5 hex prefix of `s` —
    * mirrors [[graft.ml.Dedup.hash60]] exactly.
    */
  private def dHash60(s: String): String =
    s"""list_reduce(list_transform(string_split(substring(md5($s), 1, 15), ''),
       | c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
       | (a, b) -> a * 16 + b)""".stripMargin.replace("\n", "")

  /** DuckDB CTEs shared by the shingle-based dedup oracles: per-doc distinct
    * shingle-hash list `shh` (mod Prime) and its size.
    */
  private def dShingleCte: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, ' +'), t -> t != '') AS tk
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
       |    i -> ${dHash60("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} % ${Dedup.Prime})) AS shh
       |  FROM toks WHERE len(tk) >= 3)""".stripMargin

  /** DuckDB 16-element MinHash signature list over `shh`. */
  private def dMinhashSig: String =
    Dedup.minhashParams
      .map { case (a, b) =>
        s"list_min(list_transform(shh, x -> ($a * x + $b) % ${Dedup.Prime}))" }
      .mkString("[", ", ", "]")

  private def dBandKey(band: Int): String = {
    val parts = (0 until Dedup.bandRows)
      .map(r => s"CAST(sig[${band * Dedup.bandRows + r + 1}] AS VARCHAR)")
    s"md5(${parts.mkString(" || ',' || ")})"
  }

  /** DuckDB sequential-fold dot product over two double lists — mirrors
    * [[graft.ml.Similarity.dot]] (0.0+x1 == x1 in IEEE, so the missing
    * explicit init is immaterial).
    */
  private def dDot(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), p -> p[1] * p[2]), (x, y) -> x + y)"

  private def dCosine(a: String, b: String): String =
    s"${dDot(a, b)} / (sqrt(${dDot(a, a)}) * sqrt(${dDot(b, b)}))"

  /** DuckDB: banded sign-LSH keys of `e` — a list of `bands` BIGINT band
    * keys built from the SAME ±1 hyperplane literals
    * [[Similarity.nearDupPairs]] uses (rows of
    * `projectionMatrix(inDim, bandBits*bands)`), so candidate generation
    * is engine-identical.
    */
  private def dBandKeys(e: String, inDim: Int, bandBits: Int,
                        bands: Int): String = {
    val planes = Similarity.projectionMatrix(inDim, bandBits * bands)
    (0 until bands).map { t =>
      (0 until bandBits).map { j =>
        val arr = planes(t * bandBits + j)
          .map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
        s"(CASE WHEN ${dDot(e, arr)} >= 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      }.mkString(" + ")
    }.mkString("[", ",\n         ", "]")
  }

  /** DuckDB sign-LSH bucket — mirrors [[graft.ml.Similarity.signBucket]]. */
  private def dSignBucket(v: String, nBits: Int): String =
    (0 until nBits)
      .map(j => s"(CASE WHEN $v[${j + 1}] >= 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")

  private def dSimhash: String =
    (0 until 32).map { j =>
      s"""(CASE WHEN list_sum(list_transform(hs, x -> ((x >> $j) & 1) * 2 - 1)) > 0
         | THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"""
        .stripMargin.replace("\n", "")
    }.mkString(" + ")

  def oracleSql: Map[String, String] =
    oracleBase +
      ("q_sim_ivf_persisted" -> oracleBase("q_sim_ivf")) +
      // q_sim_ivf with the tombstoned set (vec_id % 11 == 5) excluded
      // from the CANDIDATE side only — probe routing and centroid seeds
      // predate the deletion, exactly like the persisted index
      ("q_sim_ivf_deleted" ->
        oracleBase("q_sim_ivf").replace("WHERE p.q_id != a.v_id",
          "WHERE p.q_id != a.v_id AND a.v_id % 11 != 5")) +
      ("q_sim_lsh_persisted" -> oracleBase("q_sim_ann_lsh")) +
      ("q_text_bm25_persisted" -> oracleBase("q_text_bm25")) +
      // shard-merge lifecycles answer identically to a single build
      // over the union corpus (merge unions live rows + exact stats)
      ("q_text_merge_bm25" -> oracleBase("q_text_bm25")) +
      ("q_sim_merge_lsh" -> oracleBase("q_sim_ann_lsh")) +
      // IVF-PQ true merge: B re-encodes under A's frozen model, so the
      // union answers like one build whose centroids/anchors came from
      // A's (even-id) training slice — q_sim_ivfpq with the cent/anch
      // CTEs restricted to even vec_ids
      ("q_sim_merge_ivfpq" -> oracleBase("q_sim_ivfpq")
        .replace("e AS ce FROM v",
          "e AS ce FROM v WHERE vec_id % 2 = 0")
        .replace("FROM v ORDER BY vec_id ASC LIMIT 16",
          "FROM v WHERE vec_id % 2 = 0 ORDER BY vec_id ASC LIMIT 16")) +
      // macro nDCG = one outer aggregate over the per-query oracle
      ("q_eval_ndcg_summary" ->
        ("SELECT CAST(count(*) AS BIGINT) AS n_queries, " +
          "CAST(sum(CASE WHEN ndcg_micro IS NOT NULL THEN 1 ELSE 0 END) " +
          "AS BIGINT) AS n_scored, " +
          "CAST(sum(ndcg_micro) // nullif(sum(CASE WHEN ndcg_micro IS " +
          "NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS macro_ndcg_micro " +
          s"FROM (${oracleBase("q_eval_ndcg")}) b")) +
      ("q_hybrid_persisted" -> oracleBase("q_hybrid_rrf")) +
      // persisted three-leg blend == the ad-hoc blend at full probe
      // depth (HybridSpec-pinned), so it shares q_hybrid_prior's oracle
      ("q_hybrid_prior_persisted" -> oracleBase("q_hybrid_prior")) +
      ("q_sim_radius_persisted" -> oracleBase("q_sim_radius")) +
      // q_dedup_incremental with the roles swapped: the indexed REFERENCE
      // side is the large corpus (doc_id >= 250), the probing batch the
      // small one — the production layout the index exists for
      ("q_dedup_incremental_indexed" ->
        oracleBase("q_dedup_incremental")
          .replace("a.doc_id >= 250 AND b.doc_id < 250",
            "a.doc_id < 50 AND b.doc_id >= 50"))

  private def oracleBase: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp_md5,
        |  min(doc_id) AS canonical_id, count(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY fp_md5""".stripMargin,

    // keep-best canonical: max score, ties -> min doc_id; the window
    // formulation here is the naive re-derivation of the struct-max
    "q_dedup_keep_best" ->
      """SELECT fp_md5, CAST(doc_id AS BIGINT) AS keep_id,
        |  CAST(n_chars AS BIGINT) AS score, dup_count
        |FROM (
        |  SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
        |      AS fp_md5,
        |    doc_id, n_chars,
        |    row_number() OVER (
        |      PARTITION BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
        |      ORDER BY n_chars DESC, doc_id ASC) AS rn,
        |    count(*) OVER (
        |      PARTITION BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')))
        |      AS dup_count
        |  FROM documents)
        |WHERE rn = 1 ORDER BY fp_md5""".stripMargin,

    "q_dedup_jaccard" ->
      s"""$dShingleCte,
         |sz AS (SELECT doc_id, CAST(len(shh) AS BIGINT) AS sz FROM sh),
         |ex AS (SELECT doc_id, unnest(shh) AS s FROM sh),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
         |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
         |FROM pairs
         |JOIN sz sa ON sa.doc_id = id_a
         |JOIN sz sb ON sb.doc_id = id_b
         |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_cluster" ->
      s"""WITH RECURSIVE ${dShingleCte.stripPrefix("WITH ")},
         |szc AS (SELECT doc_id, CAST(len(shh) AS BIGINT) AS sz FROM sh),
         |exc AS (SELECT doc_id, unnest(shh) AS s FROM sh),
         |prs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM exc a JOIN exc b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jp AS (
         |  SELECT id_a, id_b FROM prs
         |  JOIN szc sa ON sa.doc_id = id_a
         |  JOIN szc sb ON sb.doc_id = id_b
         |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5),
         |e AS (SELECT id_a AS a, id_b AS b FROM jp
         |      UNION SELECT id_b, id_a FROM jp),
         |reach(id, r) AS (
         |  SELECT a, a FROM e
         |  UNION
         |  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a)
         |SELECT id AS doc_id, min(r) AS cluster_id
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    "q_dedup_keeplist" ->
      s"""WITH RECURSIVE ${dShingleCte.stripPrefix("WITH ")},
         |szk AS (SELECT doc_id, CAST(len(shh) AS BIGINT) AS sz FROM sh),
         |exk AS (SELECT doc_id, unnest(shh) AS s FROM sh),
         |prk AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM exk a JOIN exk b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jpk AS (
         |  SELECT id_a, id_b FROM prk
         |  JOIN szk sa ON sa.doc_id = id_a
         |  JOIN szk sb ON sb.doc_id = id_b
         |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5),
         |ek AS (SELECT id_a AS a, id_b AS b FROM jpk
         |       UNION SELECT id_b, id_a FROM jpk),
         |reachk(id, r) AS (
         |  SELECT a, a FROM ek
         |  UNION
         |  SELECT reachk.id, ek.b FROM reachk JOIN ek ON reachk.r = ek.a),
         |dropk AS (
         |  SELECT id AS doc_id FROM reachk GROUP BY id
         |  HAVING id != min(r))
         |SELECT d.doc_id, d.lang FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM dropk)
         |ORDER BY d.doc_id""".stripMargin,

    "q_dedup_minhash" ->
      s"""$dShingleCte,
         |sigs AS (SELECT doc_id, CAST(len(shh) AS BIGINT) AS sz, shh,
         |  $dMinhashSig AS sig FROM sh),
         |bands AS (
         |  SELECT doc_id, sz, shh, band,
         |    CASE band ${(0 until Dedup.numBands)
                 .map(b => s"WHEN $b THEN ${dBandKey(b)}").mkString(" ")}
         |    END AS key
         |  FROM (SELECT *, unnest([${(0 until Dedup.numBands).mkString(", ")}]) AS band
         |        FROM sigs)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.shh AS sh_a, b.shh AS sh_b, a.sz AS sz_a, b.sz AS sz_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         |scored AS (
         |  SELECT id_a, id_b,
         |    CAST(len(list_filter(sh_a, s -> list_contains(sh_b, s))) AS BIGINT) AS inter,
         |    sz_a, sz_b
         |  FROM cand)
         |SELECT id_a, id_b, inter,
         |  CAST(inter AS DOUBLE) / (sz_a + sz_b - inter) AS jaccard
         |FROM scored
         |WHERE CAST(inter AS DOUBLE) / (sz_a + sz_b - inter) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_simhash" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(text, ' +'), t -> t != '') AS tk
         |  FROM documents),
         |hs AS (SELECT doc_id, list_transform(tk, t -> ${dHash60("t")}) AS hs FROM toks)
         |SELECT doc_id, CAST($dSimhash AS BIGINT) AS simhash
         |FROM hs ORDER BY doc_id""".stripMargin,

    "q_sim_radius" ->
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings)
         |SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |  ${dCosine("q.e", "c.e")} AS cosine
         |FROM v q JOIN v c ON q.vec_id != c.vec_id
         |WHERE q.vec_id < 10
         |  AND ${dCosine("q.e", "c.e")} >= 0.3
         |ORDER BY q_id, n_id""".stripMargin,

    "q_sim_knn" ->
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |p AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |    ${dCosine("q.e", "c.e")} AS cosine
         |  FROM v q JOIN v c ON q.vec_id != c.vec_id
         |  WHERE q.vec_id < 10),
         |r AS (
         |  SELECT q_id, n_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cosine DESC, n_id ASC) AS INTEGER) AS rk
         |  FROM p)
         |SELECT q_id, n_id, cosine, rk FROM r WHERE rk <= 5
         |ORDER BY q_id, rk""".stripMargin,

    "q_sim_ann_lsh" ->
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         |    ${dSignBucket("embedding", 4)} AS bucket
         |  FROM embeddings),
         |p AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |    ${dCosine("q.e", "c.e")} AS cosine
         |  FROM v q JOIN v c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
         |  WHERE q.vec_id < 10),
         |r AS (
         |  SELECT q_id, n_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cosine DESC, n_id ASC) AS INTEGER) AS rk
         |  FROM p)
         |SELECT q_id, n_id, cosine, rk FROM r WHERE rk <= 3
         |ORDER BY q_id, rk""".stripMargin,

    "q_sim_ann_multiprobe" ->
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         |    ${dSignBucket("embedding", 4)} AS bucket
         |  FROM embeddings),
         |p AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |    ${dCosine("q.e", "c.e")} AS cosine
         |  FROM v q JOIN v c
         |    ON c.bucket IN (q.bucket, xor(q.bucket, 1), xor(q.bucket, 2))
         |   AND q.vec_id != c.vec_id
         |  WHERE q.vec_id < 10),
         |r AS (
         |  SELECT q_id, n_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cosine DESC, n_id ASC) AS INTEGER) AS rk
         |  FROM p)
         |SELECT q_id, n_id, cosine, rk FROM r WHERE rk <= 3
         |ORDER BY q_id, rk""".stripMargin,

    "q_sim_ivf" ->
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |cent AS (
         |  SELECT vec_id AS centroid_id, e AS ce FROM v
         |  ORDER BY vec_id ASC LIMIT 8),
         |assign AS (
         |  SELECT v_id, v_e, centroid_id FROM (
         |    SELECT v.vec_id AS v_id, v.e AS v_e, c.centroid_id,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${dCosine("v.e", "c.ce")} DESC, c.centroid_id ASC) AS rk
         |    FROM v CROSS JOIN cent c)
         |  WHERE rk = 1),
         |probes AS (
         |  SELECT q_id, q_e, centroid_id FROM (
         |    SELECT q.vec_id AS q_id, q.e AS q_e, c.centroid_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${dCosine("q.e", "c.ce")} DESC, c.centroid_id ASC) AS rk
         |    FROM v q CROSS JOIN cent c WHERE q.vec_id < 10)
         |  WHERE rk <= 2),
         |cand AS (
         |  SELECT p.q_id, a.v_id AS n_id, ${dCosine("p.q_e", "a.v_e")} AS cosine
         |  FROM probes p JOIN assign a USING (centroid_id)
         |  WHERE p.q_id != a.v_id),
         |r AS (
         |  SELECT q_id, n_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cosine DESC, n_id ASC) AS INTEGER) AS rk
         |  FROM cand)
         |SELECT q_id, n_id, cosine, rk FROM r WHERE rk <= 3
         |ORDER BY q_id, rk""".stripMargin,

    // q_sim_ivf with TWO-list multi-assignment (rk <= 2) and the
    // duplicate-candidate collapse (DISTINCT over identical copies)
    "q_sim_ivf_spill" ->
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |cent AS (
         |  SELECT vec_id AS centroid_id, e AS ce FROM v
         |  ORDER BY vec_id ASC LIMIT 8),
         |assign AS (
         |  SELECT v_id, v_e, centroid_id FROM (
         |    SELECT v.vec_id AS v_id, v.e AS v_e, c.centroid_id,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${dCosine("v.e", "c.ce")} DESC, c.centroid_id ASC) AS rk
         |    FROM v CROSS JOIN cent c)
         |  WHERE rk <= 2),
         |probes AS (
         |  SELECT q_id, q_e, centroid_id FROM (
         |    SELECT q.vec_id AS q_id, q.e AS q_e, c.centroid_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${dCosine("q.e", "c.ce")} DESC, c.centroid_id ASC) AS rk
         |    FROM v q CROSS JOIN cent c WHERE q.vec_id < 10)
         |  WHERE rk <= 2),
         |cand AS (
         |  SELECT DISTINCT p.q_id, a.v_id AS n_id,
         |    ${dCosine("p.q_e", "a.v_e")} AS cosine
         |  FROM probes p JOIN assign a USING (centroid_id)
         |  WHERE p.q_id != a.v_id),
         |r AS (
         |  SELECT q_id, n_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cosine DESC, n_id ASC) AS INTEGER) AS rk
         |  FROM cand)
         |SELECT q_id, n_id, cosine, rk FROM r WHERE rk <= 3
         |ORDER BY q_id, rk""".stripMargin,

    // q_sim_ivf with the label carried through assignment, candidates
    // capped at ONE per (query, label) best-first, then the top-3 of the
    // capped pool — the facet-diversified contract
    "q_sim_ivf_diverse" ->
      s"""WITH v AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |cent AS (
         |  SELECT vec_id AS centroid_id, e AS ce FROM v
         |  ORDER BY vec_id ASC LIMIT 8),
         |assign AS (
         |  SELECT v_id, v_e, label, centroid_id FROM (
         |    SELECT v.vec_id AS v_id, v.e AS v_e, v.label AS label,
         |      c.centroid_id,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${dCosine("v.e", "c.ce")} DESC, c.centroid_id ASC) AS rk
         |    FROM v CROSS JOIN cent c)
         |  WHERE rk = 1),
         |probes AS (
         |  SELECT q_id, q_e, centroid_id FROM (
         |    SELECT q.vec_id AS q_id, q.e AS q_e, c.centroid_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${dCosine("q.e", "c.ce")} DESC, c.centroid_id ASC) AS rk
         |    FROM v q CROSS JOIN cent c WHERE q.vec_id < 10)
         |  WHERE rk <= 2),
         |cand AS (
         |  SELECT p.q_id, a.v_id AS n_id, a.label AS label,
         |    ${dCosine("p.q_e", "a.v_e")} AS cosine
         |  FROM probes p JOIN assign a USING (centroid_id)
         |  WHERE p.q_id != a.v_id),
         |capped AS (
         |  SELECT q_id, n_id, label, cosine FROM (
         |    SELECT q_id, n_id, label, cosine,
         |      row_number() OVER (PARTITION BY q_id, label
         |        ORDER BY cosine DESC, n_id ASC) AS frk
         |    FROM cand)
         |  WHERE frk <= 1),
         |r AS (
         |  SELECT q_id, n_id, label, cosine,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cosine DESC, n_id ASC) AS INTEGER) AS rk
         |  FROM capped)
         |SELECT q_id, n_id, label, cosine, rk FROM r WHERE rk <= 3
         |ORDER BY q_id, rk""".stripMargin,

    // q_sim_ivf with the label attribute carried through assignment and
    // the candidate side restricted to label = 1 — probe routing and
    // centroid seeds are label-blind, exactly like the persisted index
    "q_sim_ivf_filtered" ->
      s"""WITH v AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |cent AS (
         |  SELECT vec_id AS centroid_id, e AS ce FROM v
         |  ORDER BY vec_id ASC LIMIT 8),
         |assign AS (
         |  SELECT v_id, v_e, label, centroid_id FROM (
         |    SELECT v.vec_id AS v_id, v.e AS v_e, v.label AS label,
         |      c.centroid_id,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${dCosine("v.e", "c.ce")} DESC, c.centroid_id ASC) AS rk
         |    FROM v CROSS JOIN cent c)
         |  WHERE rk = 1),
         |probes AS (
         |  SELECT q_id, q_e, centroid_id FROM (
         |    SELECT q.vec_id AS q_id, q.e AS q_e, c.centroid_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${dCosine("q.e", "c.ce")} DESC, c.centroid_id ASC) AS rk
         |    FROM v q CROSS JOIN cent c WHERE q.vec_id < 10)
         |  WHERE rk <= 2),
         |cand AS (
         |  SELECT p.q_id, a.v_id AS n_id, ${dCosine("p.q_e", "a.v_e")} AS cosine
         |  FROM probes p JOIN assign a USING (centroid_id)
         |  WHERE p.q_id != a.v_id AND a.label = 1),
         |r AS (
         |  SELECT q_id, n_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cosine DESC, n_id ASC) AS INTEGER) AS rk
         |  FROM cand)
         |SELECT q_id, n_id, cosine, rk FROM r WHERE rk <= 3
         |ORDER BY q_id, rk""".stripMargin,

    // selectivity-aware filtered search: the probe width is COMPUTED in
    // SQL from the predicate's match count with the engine's exact
    // integer formula (p = ceil(P·safety·k / matches) clamped to
    // [base, P]; P = 8, safety = 4, k = 3, base = 2), then the standard
    // probes/candidates replication runs at that width — the gate pins
    // the widening arithmetic AND the widened search
    "q_sim_ivf_autoprobe" ->
      s"""WITH v AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |cent AS (
         |  SELECT vec_id AS centroid_id, e AS ce FROM v
         |  ORDER BY vec_id ASC LIMIT 8),
         |assign AS (
         |  SELECT v_id, v_e, centroid_id FROM (
         |    SELECT v.vec_id AS v_id, v.e AS v_e, c.centroid_id,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${dCosine("v.e", "c.ce")} DESC, c.centroid_id ASC) AS rk
         |    FROM v CROSS JOIN cent c)
         |  WHERE rk = 1),
         |m AS (SELECT count(*) AS matches FROM v WHERE vec_id % 97 = 0),
         |width AS (
         |  SELECT CAST(CASE WHEN matches = 0 THEN 8
         |    ELSE LEAST(8, GREATEST(2, (8 * 4 * 3 + matches - 1) // matches))
         |    END AS INTEGER) AS p
         |  FROM m),
         |probes AS (
         |  SELECT q_id, q_e, centroid_id FROM (
         |    SELECT q.vec_id AS q_id, q.e AS q_e, c.centroid_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${dCosine("q.e", "c.ce")} DESC, c.centroid_id ASC) AS rk
         |    FROM v q CROSS JOIN cent c WHERE q.vec_id < 10)
         |  WHERE rk <= (SELECT p FROM width)),
         |cand AS (
         |  SELECT p.q_id, a.v_id AS n_id, ${dCosine("p.q_e", "a.v_e")} AS cosine
         |  FROM probes p JOIN assign a USING (centroid_id)
         |  WHERE p.q_id != a.v_id AND a.v_id % 97 = 0),
         |r AS (
         |  SELECT q_id, n_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cosine DESC, n_id ASC) AS INTEGER) AS rk
         |  FROM cand)
         |SELECT q_id, n_id, cosine, rk, (SELECT p FROM width) AS nprobe_used
         |FROM r WHERE rk <= 3
         |ORDER BY q_id, rk""".stripMargin,

    "q_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, ' +'), t -> t != ''))
        |      AS BIGINT) AS n_tokens
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS tok_offset
        |  FROM t)
        |SELECT doc_id, n_tokens, tok_offset,
        |  tok_offset // 512 AS pack_id,
        |  CASE WHEN n_tokens > 0
        |    THEN (tok_offset + n_tokens - 1) // 512 != tok_offset // 512
        |    ELSE FALSE END AS spans_boundary
        |FROM p ORDER BY doc_id""".stripMargin,

    "q_sim_hardneg" ->
      s"""WITH v AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |p AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, c.label AS n_label,
         |    ${dCosine("q.e", "c.e")} AS cosine
         |  FROM v q JOIN v c
         |    ON q.vec_id != c.vec_id AND q.label != c.label
         |  WHERE q.vec_id < 10),
         |r AS (
         |  SELECT q_id, n_id, n_label, cosine,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cosine DESC, n_id ASC) AS INTEGER) AS rk
         |  FROM p)
         |SELECT q_id, n_id, n_label, cosine, rk FROM r WHERE rk <= 5
         |ORDER BY q_id, rk""".stripMargin,

    "q_alert_burnrate" ->
      """WITH b AS (
        |  SELECT make_timestamp((epoch_ms(ts) // 3600000) * 3600000 * 1000) AS bin_start,
        |    count(*) AS total,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS errors
        |  FROM events GROUP BY 1),
        |r AS (
        |  SELECT bin_start,
        |    CAST(sum(errors) OVER ws AS BIGINT) AS short_errors,
        |    CAST(sum(total) OVER ws AS BIGINT) AS short_total,
        |    CAST(sum(errors) OVER wl AS BIGINT) AS long_errors,
        |    CAST(sum(total) OVER wl AS BIGINT) AS long_total
        |  FROM b
        |  WINDOW ws AS (ORDER BY epoch_ms(bin_start)
        |      RANGE BETWEEN 18000000 PRECEDING AND CURRENT ROW),
        |    wl AS (ORDER BY epoch_ms(bin_start)
        |      RANGE BETWEEN 82800000 PRECEDING AND CURRENT ROW))
        |SELECT bin_start, short_errors, short_total, long_errors, long_total,
        |  CAST(short_errors AS DOUBLE) / short_total AS short_rate,
        |  CAST(long_errors AS DOUBLE) / long_total AS long_rate
        |FROM r
        |WHERE CAST(short_errors AS DOUBLE) / short_total >= 0.21
        |  AND CAST(long_errors AS DOUBLE) / long_total >= 0.21
        |ORDER BY bin_start""".stripMargin,

    "q_sim_neardup" ->
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings WHERE vec_id < 200),
         |bk AS (
         |  SELECT vec_id, e, ${dBandKeys("e", 64, 2, 8)} AS keys FROM v)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${dCosine("a.e", "b.e")} AS cosine
         |FROM bk a JOIN bk b ON a.vec_id < b.vec_id
         |WHERE len(list_filter(range(1, 9), t -> a.keys[t] = b.keys[t])) > 0
         |  AND ${dCosine("a.e", "b.e")} >= 0.35
         |ORDER BY id_a, id_b""".stripMargin,

    "q_sim_decontaminate" ->
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |bk AS (
         |  SELECT vec_id, e, ${dBandKeys("e", 64, 4, 8)} AS keys FROM v)
         |SELECT t.vec_id AS train_id, b.vec_id AS bench_id,
         |  ${dCosine("t.e", "b.e")} AS cosine
         |FROM bk t JOIN bk b ON t.vec_id % 25 != 0 AND b.vec_id % 25 = 0
         |WHERE len(list_filter(range(1, 9), i -> t.keys[i] = b.keys[i])) > 0
         |  AND ${dCosine("t.e", "b.e")} >= 0.35
         |ORDER BY train_id, bench_id""".stripMargin,

    "q_dedup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, ' +'), t -> t != '') AS tk
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(tk) - 6),
        |    i -> list_aggregate(tk[i:i+7], 'string_agg', ' '))) AS span
        |  FROM toks WHERE len(tk) >= 8),
        |c AS (
        |  SELECT span, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS n_occ, min(doc_id) AS first_doc
        |  FROM sp GROUP BY span)
        |SELECT span, n_docs, n_occ, first_doc FROM c
        |WHERE n_docs > 1 ORDER BY span""".stripMargin,

    "q_dedup_spans_max" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, ' +'), t -> t != '') AS tk
        |  FROM documents),
        |sp0 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(tk) - 6),
        |    i -> struct_pack(p := i,
        |      span := list_aggregate(tk[i:i+7], 'string_agg', ' ')))) AS w
        |  FROM toks WHERE len(tk) >= 8),
        |sp AS (SELECT doc_id, w.p AS p, w.span AS span FROM sp0),
        |dup AS (
        |  SELECT span FROM sp GROUP BY span HAVING count(DISTINCT doc_id) > 1),
        |occ AS (
        |  SELECT doc_id, p FROM sp WHERE span IN (SELECT span FROM dup)),
        |brk AS (
        |  SELECT doc_id, p,
        |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 8
        |      THEN 1 ELSE 0 END AS b
        |  FROM occ),
        |isl AS (
        |  SELECT doc_id, p,
        |    SUM(b) OVER (PARTITION BY doc_id ORDER BY p) AS g
        |  FROM brk),
        |agg AS (
        |  SELECT doc_id, CAST(min(p) AS BIGINT) AS start_tok,
        |    CAST(max(p) + 7 AS BIGINT) AS end_tok,
        |    CAST(count(*) AS BIGINT) AS n_windows
        |  FROM isl GROUP BY doc_id, g)
        |SELECT a.doc_id, a.start_tok, a.end_tok, a.n_windows,
        |  list_aggregate(t.tk[a.start_tok:a.end_tok], 'string_agg', ' ') AS passage
        |FROM agg a JOIN toks t USING (doc_id)
        |ORDER BY a.doc_id, a.start_tok""".stripMargin,

    "q_agg_argmax" ->
      """WITH k AS (
        |  SELECT event_type, event_id, value,
        |    CAST(floor(value * 100) AS BIGINT) * 10000000 + event_id AS key
        |  FROM events)
        |SELECT event_type,
        |  CAST(arg_max(event_id, key) AS BIGINT) AS slowest_event,
        |  CAST(arg_min(event_id, key) AS BIGINT) AS fastest_event,
        |  max(value) AS max_value,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM k GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q_sample_weighted" ->
      s"""WITH b AS (
         |  SELECT doc_id, n_chars,
         |    CAST(floor(
         |      ln((CAST(${dHash60("CAST(doc_id AS VARCHAR)")} % 1000000
         |            AS DOUBLE) + 0.5) / 1000000.0)
         |        / CAST(n_chars AS DOUBLE) * 1000000.0) AS BIGINT)
         |      AS priority_micro
         |  FROM documents)
         |SELECT doc_id, n_chars, priority_micro FROM b
         |ORDER BY priority_micro DESC, doc_id ASC LIMIT 50""".stripMargin,

    "q_sample_importance" ->
      """WITH toks AS (
        |  SELECT doc_id, lang = 'en' AS tgt,
        |    list_filter(string_split_regex(text, ' +'), t -> t != '') AS tk
        |  FROM documents),
        |t1 AS (SELECT * FROM toks WHERE len(tk) > 0),
        |w AS (SELECT doc_id, tgt, unnest(tk) AS w FROM t1),
        |raw AS (SELECT w, CAST(count(*) AS BIGINT) AS r_cnt FROM w GROUP BY 1),
        |tgtc AS (SELECT w, CAST(count(*) AS BIGINT) AS t_cnt
        |  FROM w WHERE tgt GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS r_tot,
        |  CAST(count(*) FILTER (WHERE tgt) AS BIGINT) AS t_tot FROM w),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS vsz FROM raw),
        |stats AS (SELECT raw.w, r_cnt, COALESCE(t_cnt, CAST(0 AS BIGINT))
        |    AS t_cnt
        |  FROM raw LEFT JOIN tgtc USING (w)),
        |terms AS (
        |  SELECT doc_id,
        |    CAST(floor(ln(
        |      (CAST(t_cnt + 1 AS DOUBLE) / CAST(r_cnt + 1 AS DOUBLE)) *
        |      (CAST(r_tot + vsz AS DOUBLE) / CAST(t_tot + vsz AS DOUBLE)))
        |      * 1000000.0) AS BIGINT) AS t
        |  FROM w JOIN stats USING (w) CROSS JOIN tot CROSS JOIN v),
        |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(t) AS BIGINT) AS logratio_micro FROM terms GROUP BY 1)
        |SELECT doc_id, n_tokens, logratio_micro FROM sc
        |ORDER BY logratio_micro DESC, doc_id ASC LIMIT 50""".stripMargin,

    "q_slo_report" ->
      s"""SELECT event_type,
         |  CAST(count(*) AS BIGINT) AS requests,
         |  CAST(sum(CASE WHEN value > 300 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS errors,
         |  CAST(1.0 AS DOUBLE) -
         |    CAST(sum(CASE WHEN value > 300 THEN 1 ELSE 0 END) AS DOUBLE)
         |      / count(*) AS availability,
         |  (CAST(sum(CASE WHEN value > 300 THEN 1 ELSE 0 END) AS DOUBLE)
         |      / count(*)) / CAST('${1.0 - 0.99}' AS DOUBLE) AS budget_consumed,
         |  (CAST(1.0 AS DOUBLE) -
         |    CAST(sum(CASE WHEN value > 300 THEN 1 ELSE 0 END) AS DOUBLE)
         |      / count(*)) >= ${0.99} AS slo_met
         |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q_trace_exemplar" ->
      """WITH s AS (
        |  SELECT user_id AS t_id,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) - 1 AS BIGINT) AS s_id,
        |    event_type AS service,
        |    CAST(floor(value * 100) AS BIGINT) AS dur
        |  FROM events),
        |r AS (
        |  SELECT service, dur, t_id, s_id,
        |    row_number() OVER (PARTITION BY service
        |      ORDER BY dur ASC, t_id ASC, s_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY service) AS n
        |  FROM s)
        |SELECT service, dur AS p99_dur, t_id AS exemplar_trace,
        |  s_id AS exemplar_span
        |FROM r WHERE rn - 1 = floor(0.99 * (n - 1))
        |ORDER BY service""".stripMargin,

    "q_trace_tailsample" ->
      s"""WITH s AS (
         |  SELECT user_id AS t_id,
         |    CAST(row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts ASC, event_id ASC) - 1 AS BIGINT) AS s_id,
         |    event_type AS service,
         |    CAST(floor(value * 100) AS BIGINT) AS dur
         |  FROM events),
         |m AS (
         |  SELECT t_id, max(CASE WHEN dur > 47000 THEN 1 ELSE 0 END) AS sig
         |  FROM s GROUP BY 1),
         |k AS (
         |  SELECT t_id,
         |    CASE WHEN sig = 1 THEN 'signal' ELSE 'sampled' END AS keep_reason
         |  FROM m
         |  WHERE sig = 1
         |    OR ${dHash60("CAST(t_id AS VARCHAR)")} % 1000000 < 100000)
         |SELECT s.t_id, s.s_id, s.service, s.dur, k.keep_reason
         |FROM s JOIN k USING (t_id)
         |ORDER BY t_id, s_id""".stripMargin,

    "q_dedup_clean" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, ' +'), t -> t != '') AS tk
        |  FROM documents),
        |sp0 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(tk) - 6),
        |    i -> struct_pack(p := i,
        |      span := list_aggregate(tk[i:i+7], 'string_agg', ' ')))) AS w
        |  FROM toks WHERE len(tk) >= 8),
        |sp AS (SELECT doc_id, w.p AS p, w.span AS span FROM sp0),
        |dup AS (
        |  SELECT span FROM sp GROUP BY span HAVING count(DISTINCT doc_id) > 1),
        |occ AS (
        |  SELECT doc_id, p FROM sp WHERE span IN (SELECT span FROM dup)),
        |brk AS (
        |  SELECT doc_id, p,
        |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 8
        |      THEN 1 ELSE 0 END AS b
        |  FROM occ),
        |isl AS (
        |  SELECT doc_id, p,
        |    SUM(b) OVER (PARTITION BY doc_id ORDER BY p) AS g
        |  FROM brk),
        |agg AS (
        |  SELECT doc_id, CAST(min(p) AS BIGINT) AS start_tok,
        |    CAST(max(p) + 7 AS BIGINT) AS end_tok
        |  FROM isl GROUP BY doc_id, g),
        |tr AS (
        |  SELECT doc_id, unnest(tk) AS t, generate_subscripts(tk, 1) AS i
        |  FROM toks),
        |keep AS (
        |  SELECT tr.doc_id, tr.t, tr.i FROM tr
        |  LEFT JOIN agg a ON tr.doc_id = a.doc_id
        |    AND tr.i BETWEEN a.start_tok AND a.end_tok
        |  WHERE a.doc_id IS NULL),
        |clean AS (
        |  SELECT doc_id, string_agg(t, ' ' ORDER BY i) AS ct
        |  FROM keep GROUP BY doc_id),
        |st AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_passages,
        |    CAST(sum(end_tok - start_tok + 1) AS BIGINT) AS toks_removed
        |  FROM agg GROUP BY doc_id)
        |SELECT t.doc_id,
        |  COALESCE(s.n_passages, CAST(0 AS BIGINT)) AS n_passages,
        |  COALESCE(s.toks_removed, CAST(0 AS BIGINT)) AS toks_removed,
        |  COALESCE(c.ct, '') AS clean_text
        |FROM toks t
        |LEFT JOIN st s USING (doc_id)
        |LEFT JOIN clean c USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_clean_keep" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, ' +'), t -> t != '') AS tk
        |  FROM documents),
        |sp0 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(tk) - 6),
        |    i -> struct_pack(p := i,
        |      span := list_aggregate(tk[i:i+7], 'string_agg', ' ')))) AS w
        |  FROM toks WHERE len(tk) >= 8),
        |sp AS (SELECT doc_id, w.p AS p, w.span AS span FROM sp0),
        |dup AS (
        |  SELECT span FROM sp GROUP BY span HAVING count(DISTINCT doc_id) > 1),
        |occ AS (
        |  SELECT doc_id, p FROM sp WHERE span IN (SELECT span FROM dup)),
        |brk AS (
        |  SELECT doc_id, p,
        |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 8
        |      THEN 1 ELSE 0 END AS b
        |  FROM occ),
        |isl AS (
        |  SELECT doc_id, p,
        |    SUM(b) OVER (PARTITION BY doc_id ORDER BY p) AS g
        |  FROM brk),
        |agg AS (
        |  SELECT doc_id, CAST(min(p) AS BIGINT) AS start_tok,
        |    CAST(max(p) + 7 AS BIGINT) AS end_tok
        |  FROM isl GROUP BY doc_id, g),
        |aggp AS (
        |  SELECT a.doc_id, a.start_tok, a.end_tok,
        |    list_aggregate(t.tk[a.start_tok:a.end_tok], 'string_agg', ' ')
        |      AS passage
        |  FROM agg a JOIN toks t USING (doc_id)),
        |cut AS (
        |  SELECT doc_id, start_tok, end_tok FROM (
        |    SELECT doc_id, start_tok, end_tok,
        |      row_number() OVER (PARTITION BY passage
        |        ORDER BY doc_id, start_tok) AS o
        |    FROM aggp) WHERE o > 1),
        |tr AS (
        |  SELECT doc_id, unnest(tk) AS t, generate_subscripts(tk, 1) AS i
        |  FROM toks),
        |keep AS (
        |  SELECT tr.doc_id, tr.t, tr.i FROM tr
        |  LEFT JOIN cut a ON tr.doc_id = a.doc_id
        |    AND tr.i BETWEEN a.start_tok AND a.end_tok
        |  WHERE a.doc_id IS NULL),
        |clean AS (
        |  SELECT doc_id, string_agg(t, ' ' ORDER BY i) AS ct
        |  FROM keep GROUP BY doc_id),
        |st AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_passages,
        |    CAST(sum(end_tok - start_tok + 1) AS BIGINT) AS toks_removed
        |  FROM cut GROUP BY doc_id)
        |SELECT t.doc_id,
        |  COALESCE(s.n_passages, CAST(0 AS BIGINT)) AS n_passages,
        |  COALESCE(s.toks_removed, CAST(0 AS BIGINT)) AS toks_removed,
        |  COALESCE(c.ct, '') AS clean_text
        |FROM toks t
        |LEFT JOIN st s USING (doc_id)
        |LEFT JOIN clean c USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // line = 2-word window (regex identical to the Spark side); doc
    // frequency counted over DISTINCT docs per normalized-line hash;
    // threshold = floor(1% of corpus docs)
    "q_dedup_lines" ->
      s"""WITH lined AS (
         |  SELECT doc_id,
         |    regexp_replace(text, '(\\S+ \\S+) ', '\\1' || chr(10), 'g') AS t
         |  FROM documents),
         |thr AS (
         |  SELECT CAST(floor(count(*) / 100) AS BIGINT) AS k FROM documents),
         |ln0 AS (
         |  SELECT doc_id, unnest(string_split(t, chr(10))) AS l,
         |    generate_subscripts(string_split(t, chr(10)), 1) AS p
         |  FROM lined),
         |ln AS (
         |  SELECT doc_id, p, l,
         |    ${dHash60("regexp_replace(trim(lower(l)), '\\s+', ' ', 'g')")} AS h
         |  FROM ln0 WHERE length(trim(l)) >= 1),
         |docfreq AS (
         |  SELECT h, count(*) AS df FROM (SELECT DISTINCT h, doc_id FROM ln)
         |  GROUP BY 1),
         |flagged AS (
         |  SELECT ln.doc_id, ln.p, ln.l, (d.df <= thr.k) AS keep
         |  FROM ln JOIN docfreq d USING (h), thr)
         |SELECT doc_id,
         |  string_agg(l, chr(10) ORDER BY p) FILTER (WHERE keep)
         |    AS clean_text,
         |  CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS kept_lines,
         |  CAST(count(*) FILTER (WHERE NOT keep) AS BIGINT) AS dropped_lines
         |FROM flagged GROUP BY doc_id
         |HAVING count(*) FILTER (WHERE keep) > 0
         |ORDER BY doc_id""".stripMargin,

    // first occurrence per normalized-line hash = row_number 1 over
    // (doc_id, position); only that copy of a duplicated line survives
    "q_dedup_lines_keepfirst" ->
      s"""WITH lined AS (
         |  SELECT doc_id,
         |    regexp_replace(text, '(\\S+ \\S+) ', '\\1' || chr(10), 'g') AS t
         |  FROM documents),
         |ln0 AS (
         |  SELECT doc_id, unnest(string_split(t, chr(10))) AS l,
         |    generate_subscripts(string_split(t, chr(10)), 1) AS p
         |  FROM lined),
         |ln AS (
         |  SELECT doc_id, p, l,
         |    ${dHash60("regexp_replace(trim(lower(l)), '\\s+', ' ', 'g')")} AS h
         |  FROM ln0 WHERE length(trim(l)) >= 1),
         |fo AS (
         |  SELECT doc_id, p, l,
         |    row_number() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
         |  FROM ln)
         |SELECT doc_id,
         |  string_agg(l, chr(10) ORDER BY p) FILTER (WHERE rn = 1)
         |    AS clean_text,
         |  CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS kept_lines,
         |  CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS dropped_lines
         |FROM fo GROUP BY doc_id
         |HAVING count(*) FILTER (WHERE rn = 1) > 0
         |ORDER BY doc_id""".stripMargin,

    "q_dedup_incremental" ->
      s"""$dShingleCte,
         |sz AS (SELECT doc_id, CAST(len(shh) AS BIGINT) AS sz FROM sh),
         |ex AS (SELECT doc_id, unnest(shh) AS s FROM sh),
         |pairs AS (
         |  SELECT a.doc_id AS new_id, b.doc_id AS ref_id, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.s = b.s
         |  WHERE a.doc_id >= 250 AND b.doc_id < 250
         |  GROUP BY 1, 2)
         |SELECT new_id, ref_id, CAST(inter AS BIGINT) AS inter,
         |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
         |FROM pairs
         |JOIN sz sa ON sa.doc_id = new_id
         |JOIN sz sb ON sb.doc_id = ref_id
         |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
         |ORDER BY new_id, ref_id""".stripMargin,

    "q_vocab_topk" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split_regex(text, ' +'), t -> t != ''))
        |    AS token
        |  FROM documents),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS n_occ
        |  FROM tok GROUP BY token),
        |tt AS (SELECT CAST(sum(n_occ) AS BIGINT) AS total FROM c),
        |r AS (SELECT token, n_occ,
        |    row_number() OVER (ORDER BY n_occ DESC, token ASC) AS rank,
        |    CAST(sum(n_occ) OVER (ORDER BY n_occ DESC, token ASC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM c)
        |SELECT CAST(rank AS BIGINT) AS rank, token, n_occ,
        |  CAST(cum AS DOUBLE) / (SELECT total FROM tt) AS cum_frac
        |FROM r WHERE rank <= 100 ORDER BY rank""".stripMargin,

    // same weight formula as the Spark side's Array.tabulate: weights
    // w(slot) = (slot*2654435761) % 2001 - 1000 micro units, bias 50000
    "q_text_quality_model" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(text, ' +'), t -> t != '') AS tk
         |  FROM documents),
         |w AS (SELECT doc_id, unnest(tk) AS w FROM toks),
         |f AS (
         |  SELECT doc_id, CAST(${dHash60("w")} % 256 AS BIGINT) AS slot,
         |    count(*) AS tf
         |  FROM w GROUP BY 1, 2),
         |s AS (
         |  SELECT doc_id,
         |    CAST(sum(tf * ((slot * 2654435761) % 2001 - 1000)) + 50000
         |      AS BIGINT) AS logit_micro
         |  FROM f GROUP BY doc_id)
         |SELECT doc_id, logit_micro,
         |  CAST(logit_micro AS DOUBLE) / 1000000.0 AS logit
         |FROM s ORDER BY doc_id""".stripMargin,

    // combining acute = chr(769) = U+0301; NFC fuses "e"+U+0301 into é,
    // strip_accents (utf8proc) agrees with NFD + \p{Mn} removal here
    "q_text_normalize" ->
      """WITH raw AS (
        |  SELECT doc_id, substring(text, 1, 24) || ' cafe' || chr(769) AS r
        |  FROM documents)
        |SELECT doc_id,
        |  nfc_normalize(r) AS nfc_text,
        |  CAST(length(nfc_normalize(r)) AS BIGINT) AS nfc_chars,
        |  strip_accents(r) AS ascii_text
        |FROM raw ORDER BY doc_id""".stripMargin,

    "q_text_hashfeatures" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(text, ' +'), t -> t != '') AS tk
         |  FROM documents),
         |w AS (SELECT doc_id, unnest(tk) AS w FROM toks)
         |SELECT doc_id, CAST(${dHash60("w")} % 256 AS INT) AS slot,
         |  count(*) AS tf
         |FROM w GROUP BY 1, 2 ORDER BY doc_id, slot""".stripMargin,

    "q_chunk_overlap" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, ' +'), t -> t != '') AS tk
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1, 48),
        |    i -> struct_pack(cid := (i - 1) // 48, ck := tk[i:i+63]))) AS w
        |  FROM toks WHERE len(tk) > 0)
        |SELECT doc_id, CAST(w.cid AS BIGINT) AS chunk_id,
        |  CAST(len(w.ck) AS BIGINT) AS n_tokens,
        |  list_aggregate(w.ck, 'string_agg', ' ') AS chunk
        |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,

    "q_dedup_semantic" ->
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |cent AS (
         |  SELECT vec_id AS centroid_id, e AS ce FROM v
         |  ORDER BY vec_id ASC LIMIT 8),
         |assign AS (
         |  SELECT v_id, v_e, centroid_id FROM (
         |    SELECT v.vec_id AS v_id, v.e AS v_e, c.centroid_id,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${dCosine("v.e", "c.ce")} DESC, c.centroid_id ASC) AS rk
         |    FROM v CROSS JOIN cent c)
         |  WHERE rk = 1),
         |dropped AS (
         |  SELECT DISTINCT b.v_id
         |  FROM assign a JOIN assign b USING (centroid_id)
         |  WHERE a.v_id < b.v_id AND ${dCosine("a.v_e", "b.v_e")} >= 0.3)
         |SELECT s.v_id, s.centroid_id, d.v_id IS NULL AS kept
         |FROM assign s LEFT JOIN dropped d ON s.v_id = d.v_id
         |ORDER BY s.v_id""".stripMargin,

    "q_sample_stratified" ->
      s"""WITH b AS (
         |  SELECT doc_id, lang,
         |    ${dHash60("CAST(doc_id AS VARCHAR)")} % 1000000 AS bucket
         |  FROM documents)
         |SELECT doc_id, lang FROM b
         |WHERE CAST(bucket AS DOUBLE) <
         |  (CASE WHEN lang = 'en' THEN 0.5
         |        WHEN lang = 'de' THEN 0.25 ELSE 0.1 END) * 1000000.0
         |ORDER BY doc_id""".stripMargin,

    "q_sample_split" ->
      s"""WITH b AS (
         |  SELECT doc_id,
         |    ${dHash60("CAST(doc_id AS VARCHAR)")} % 1000000 AS bucket
         |  FROM documents),
         |sp AS (
         |  SELECT doc_id, CASE WHEN bucket < 100000 THEN 'val'
         |                      WHEN bucket < 200000 THEN 'test'
         |                      ELSE 'train' END AS split
         |  FROM b)
         |SELECT split, count(*) AS n, min(doc_id) AS min_id
         |FROM sp GROUP BY split ORDER BY split""".stripMargin,

    // near-dup clusters via the recursive min-label reach (as
    // q_dedup_cluster); split key = cluster canonical, else own id
    "q_sample_leakfree" ->
      s"""WITH RECURSIVE ${dShingleCte.stripPrefix("WITH ")},
         |szf AS (SELECT doc_id, CAST(len(shh) AS BIGINT) AS sz FROM sh),
         |exf AS (SELECT doc_id, unnest(shh) AS s FROM sh),
         |prf AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM exf a JOIN exf b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jpf AS (
         |  SELECT id_a, id_b FROM prf
         |  JOIN szf sa ON sa.doc_id = id_a
         |  JOIN szf sb ON sb.doc_id = id_b
         |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5),
         |ef AS (SELECT id_a AS a, id_b AS b FROM jpf
         |       UNION SELECT id_b, id_a FROM jpf),
         |reachf(id, r) AS (
         |  SELECT a, a FROM ef
         |  UNION
         |  SELECT reachf.id, ef.b FROM reachf JOIN ef ON reachf.r = ef.a),
         |clf AS (SELECT id AS doc_id, min(r) AS cluster_id
         |        FROM reachf GROUP BY id),
         |keyf AS (
         |  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS k
         |  FROM documents d LEFT JOIN clf c USING (doc_id)),
         |bf AS (
         |  SELECT doc_id,
         |    ${dHash60("CAST(k AS VARCHAR)")} % 1000000 AS bucket
         |  FROM keyf)
         |SELECT doc_id, CASE WHEN bucket < 100000 THEN 'val'
         |                    WHEN bucket < 200000 THEN 'test'
         |                    ELSE 'train' END AS split
         |FROM bf ORDER BY doc_id""".stripMargin,

    "q_sample_pergroup" ->
      s"""WITH b AS (
         |  SELECT doc_id, lang,
         |    ${dHash60("CAST(doc_id AS VARCHAR)")} % 1000000 AS bucket
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY bucket ASC, doc_id ASC) AS rk
         |  FROM b)
         |SELECT doc_id, lang FROM r WHERE rk <= 7 ORDER BY doc_id""".stripMargin,

    "q_sample_shards" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    ${dHash60("CAST(doc_id AS VARCHAR)")} AS hh
         |  FROM documents)
         |SELECT doc_id, CAST(hh % 8 AS INTEGER) AS shard,
         |  row_number() OVER (PARTITION BY hh % 8
         |    ORDER BY hh ASC, doc_id ASC) - 1 AS shard_pos
         |FROM h ORDER BY doc_id""".stripMargin,

    "q_sample_budget" ->
      """WITH w AS (
        |  SELECT doc_id, lang, n_chars,
        |    coalesce(sum(n_chars) OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
        |  FROM documents)
        |SELECT doc_id, lang, n_chars FROM w
        |WHERE prev < (CASE WHEN lang = 'en' THEN 50000 ELSE 20000 END)
        |ORDER BY doc_id""".stripMargin,

    "q_embed_meanpool" ->
      """WITH e AS (
        |  SELECT vec_id % 10 AS grp, embedding FROM embeddings),
        |x AS (
        |  SELECT grp, unnest(list_transform(embedding,
        |    (v, i) -> struct_pack(pos := CAST(i - 1 AS INTEGER), v := v))) AS u
        |  FROM e)
        |SELECT grp, u.pos AS pos,
        |  CAST(sum(CAST(trunc(CAST(u.v AS DOUBLE) * 1e10) AS BIGINT))
        |      AS DOUBLE)
        |    / (1e10 * count(*)) AS mean_v,
        |  count(*) AS n
        |FROM x GROUP BY grp, u.pos ORDER BY grp, pos""".stripMargin,

    "q_correlation" ->
      """SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 450.0
        |ORDER BY o_orderkey""".stripMargin,

    "q_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
        |GROUP BY 1 ORDER BY k_mod""".stripMargin,

    "q_list_predicates" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, ' +'), t -> t != '') AS toks
        |  FROM documents)
        |SELECT doc_id FROM tk
        |WHERE list_contains(toks, 'spark')
        |  AND list_has_all(toks, ['table', 'key'])
        |  AND list_has_any(toks, ['join', 'merge'])
        |ORDER BY doc_id""".stripMargin,

    "q_explode_tokens" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(list_filter(string_split_regex(text, ' +'),
        |    t -> t != '')) AS token
        |  FROM documents)
        |GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin,

    "q_agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY gid ASC,
        |  o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q_percentiles" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value ASC, event_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_type,
        |  max(CASE WHEN rn - 1 = floor(0.5 * (n - 1)) THEN value END) AS p50,
        |  max(CASE WHEN rn - 1 = floor(0.95 * (n - 1)) THEN value END) AS p95,
        |  max(CASE WHEN rn - 1 = floor(0.99 * (n - 1)) THEN value END) AS p99
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_count_distinct" ->
      """SELECT event_type,
        |  count(DISTINCT user_id) AS distinct_users, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_agg_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n,
        |  CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid ASC,
        |  l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus),
        |  (o_orderstatus, o_orderpriority), ())
        |ORDER BY gid, o_orderstatus NULLS FIRST,
        |  o_orderpriority NULLS FIRST""".stripMargin,

    // width_bucket(v, 0, 10, 20): bin width 0.5 is an exact power of two,
    // so floor(v*2)+1 reproduces Spark's floor((v-lo)/((hi-lo)/n))+1
    // bit-for-bit (DuckDB has no width_bucket builtin).
    "q_numeric_histogram" ->
      """SELECT CASE WHEN value IS NULL THEN NULL
        |            WHEN value < 0.0 THEN 0
        |            WHEN value >= 10.0 THEN 21
        |            ELSE CAST(floor(value * 2) + 1 AS BIGINT) END AS bucket,
        |  count(*) AS n
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,

    // KMV theta sketch: the md5-prefix hash (dHash60) shifted to the
    // 48-bit space, bottom-64 per cohort, (k−1)·2⁴⁸ // θ — the exact
    // estimator the Spark plan computes. 281474976710656 = 2^48;
    // 17732923532771328 = 63·2^48.
    "q_sketch_distinct" ->
      s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |    (${dHash60("CAST(user_id AS VARCHAR)")}) // 4096 AS h
         |  FROM events WHERE user_id IS NOT NULL),
         |rk AS (
         |  SELECT event_type, h, row_number() OVER (PARTITION BY
         |    event_type ORDER BY h ASC) AS rk FROM h),
         |sk AS (SELECT event_type, h FROM rk WHERE rk <= 64),
         |st AS (
         |  SELECT event_type, count(*) AS n_sketch, max(h) AS mx
         |  FROM sk GROUP BY 1)
         |SELECT event_type,
         |  CAST(n_sketch AS BIGINT) AS n_sketch,
         |  CAST(CASE WHEN n_sketch >= 64 THEN mx
         |    ELSE 281474976710656 END AS BIGINT) AS theta,
         |  CAST(CASE WHEN n_sketch < 64 THEN n_sketch
         |    ELSE 17732923532771328 // mx END AS BIGINT) AS est_distinct
         |FROM st ORDER BY event_type""".stripMargin,

    "q_sketch_setops" ->
      s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |    (${dHash60("CAST(user_id AS VARCHAR)")}) // 4096 AS h
         |  FROM events WHERE user_id IS NOT NULL),
         |rk AS (
         |  SELECT event_type, h, row_number() OVER (PARTITION BY
         |    event_type ORDER BY h ASC) AS rk FROM h),
         |sk AS (SELECT event_type, h FROM rk WHERE rk <= 64),
         |st AS (
         |  SELECT event_type, count(*) AS n_sketch, max(h) AS mx
         |  FROM sk GROUP BY 1),
         |st2 AS (
         |  SELECT event_type, CASE WHEN n_sketch >= 64 THEN mx
         |    ELSE 281474976710656 END AS theta FROM st),
         |p AS (
         |  SELECT a.event_type AS g_a, b.event_type AS g_b,
         |    least(a.theta, b.theta) AS tp
         |  FROM st2 a JOIN st2 b ON a.event_type < b.event_type),
         |ic AS (
         |  SELECT l.event_type AS g_a, r.event_type AS g_b,
         |    count(*) AS n_common
         |  FROM sk l JOIN sk r ON l.h = r.h
         |    AND l.event_type < r.event_type
         |  JOIN p ON p.g_a = l.event_type AND p.g_b = r.event_type
         |  WHERE l.h < p.tp GROUP BY 1, 2),
         |tg AS (
         |  SELECT p.g_a, p.g_b, s.h FROM p
         |  JOIN sk s ON s.event_type = p.g_a
         |  UNION
         |  SELECT p.g_a, p.g_b, s.h FROM p
         |  JOIN sk s ON s.event_type = p.g_b),
         |ur AS (
         |  SELECT g_a, g_b, h, row_number() OVER (PARTITION BY g_a, g_b
         |    ORDER BY h ASC) AS rk FROM tg),
         |us AS (
         |  SELECT g_a, g_b, count(*) AS nu, max(h) AS mxu
         |  FROM ur WHERE rk <= 64 GROUP BY 1, 2)
         |SELECT p.g_a, p.g_b,
         |  CAST(COALESCE(n_common, 0) AS BIGINT) AS n_common,
         |  CAST(COALESCE(n_common * 281474976710656 // tp, 0)
         |    AS BIGINT) AS intersect_est,
         |  CAST(CASE WHEN nu < 64 THEN nu
         |    ELSE 17732923532771328 // mxu END AS BIGINT) AS union_est
         |FROM p LEFT JOIN ic ON ic.g_a = p.g_a AND ic.g_b = p.g_b
         |JOIN us ON us.g_a = p.g_a AND us.g_b = p.g_b
         |ORDER BY p.g_a, p.g_b""".stripMargin,

    "q_set_ops" ->
      """SELECT c_custkey FROM (
        |  SELECT DISTINCT c_custkey FROM (
        |    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |    UNION ALL
        |    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 450.0)
        |  INTERSECT
        |  SELECT o_custkey AS c_custkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT'
        |  EXCEPT
        |  SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        |ORDER BY c_custkey""".stripMargin,

    "q_window_lag_frames" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
        |  CAST(lag(CAST(o_totalprice AS DECIMAL(18,2)), 1) OVER w AS DOUBLE)
        |    AS prev_price,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_total
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, event_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |y AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN prev_ts IS NULL
        |           OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM x),
        |z AS (
        |  SELECT user_id, ts,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sess_n
        |  FROM y)
        |SELECT user_id, CAST(sess_n AS BIGINT) AS sess_n, count(*) AS n_events,
        |  min(ts) AS sess_start, max(ts) AS sess_end
        |FROM z GROUP BY 1, 2 ORDER BY user_id, sess_n""".stripMargin,

    "q_scalar_funcs" ->
      """SELECT o_orderkey,
        |  upper(substring(o_orderpriority, 1, 3)) AS prio3,
        |  o_orderstatus || '-' || o_orderpriority AS status_prio,
        |  CASE WHEN o_totalprice > 300.0 THEN 'high'
        |       WHEN o_totalprice > 150.0 THEN 'mid' ELSE 'low' END AS band,
        |  o_orderstatus IN ('F', 'O') AS is_fo,
        |  o_orderpriority LIKE '%URGENT%' AS is_urgent,
        |  coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_or_default,
        |  date_trunc('month', o_orderdate) AS order_month,
        |  CAST(year(o_orderdate) AS INTEGER) AS order_year,
        |  CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
        |  abs(o_totalprice - 250.0) AS dist_250
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_format_extract" -> {
      val pat = """^(\S+) \S+ (\S+) \[([^\]]+)\] "(\S+) (\S+) ([^"]+)" (\d{3}) (\d+|-)"""
      s"""WITH raw AS (
         |  SELECT '192.0.2.1 - user' || CAST(user_id AS VARCHAR)
         |    || ' [01/Jan/2024:00:00:00 +0000] "'
         |    || CASE WHEN event_type = 'error' THEN 'POST' ELSE 'GET' END
         |    || ' /api/' || event_type || ' HTTP/1.1" '
         |    || CASE WHEN event_type = 'error' THEN '500' ELSE '200' END
         |    || ' ' || CAST(event_id AS VARCHAR) AS raw
         |  FROM events)
         |SELECT regexp_extract(raw, '$pat', 4) AS method,
         |  regexp_extract(raw, '$pat', 7) AS status,
         |  count(*) AS n,
         |  count(DISTINCT regexp_extract(raw, '$pat', 2)) AS users
         |FROM raw GROUP BY 1, 2 ORDER BY method, status""".stripMargin
    },

    "q_multimodal_decode" ->
      s"""WITH h AS (
         |  SELECT doc_id AS media_id, ${dHash60("text")} AS h, md5(text) AS hex
         |  FROM documents),
         |dec AS (
         |  SELECT media_id,
         |    CAST(128 + (h % 896) AS INTEGER) AS width,
         |    CAST(128 + ((h >> 10) % 896) AS INTEGER) AS height,
         |    CAST(3 AS INTEGER) AS channels,
         |    CAST(1 + ((h >> 20) % 12) AS INTEGER) AS n_frames,
         |    list_transform(range(0, ${Multimodal.FeatureDim}), i ->
         |      CAST((${dHash60("hex || ':' || CAST(i AS VARCHAR)")} % 2000001)
         |        - 1000000 AS DOUBLE) / 1e6) AS feats
         |  FROM h),
         |rs AS (
         |  SELECT *, least(CAST(256 AS DOUBLE) / width,
         |                  CAST(256 AS DOUBLE) / height) AS scale FROM dec)
         |SELECT media_id, width, height, channels, n_frames,
         |  CAST(floor(width * scale) AS INTEGER) AS out_width,
         |  CAST(floor(height * scale) AS INTEGER) AS out_height,
         |  feats[1] AS feat_0, feats[${Multimodal.FeatureDim}] AS feat_last,
         |  list_reduce(feats, (a, b) -> a + b) AS feat_sum
         |FROM rs ORDER BY media_id""".stripMargin,

    "q_multimodal_neardup" ->
      s"""WITH h AS (
         |  SELECT doc_id AS media_id, md5(text) AS hex
         |  FROM documents WHERE doc_id < 100),
         |f AS (
         |  SELECT media_id,
         |    list_transform(range(0, ${Multimodal.FeatureDim}), i ->
         |      CAST((${dHash60("hex || ':' || CAST(i AS VARCHAR)")} % 2000001)
         |        - 1000000 AS DOUBLE) / 1e6) AS feats
         |  FROM h),
         |bk AS (
         |  SELECT media_id, feats,
         |    ${dBandKeys("feats", Multimodal.FeatureDim, 2, 8)} AS keys
         |  FROM f),
         |p AS (
         |  SELECT a.media_id AS id_a, b.media_id AS id_b,
         |    ${dCosine("a.feats", "b.feats")} AS cosine
         |  FROM bk a JOIN bk b ON a.media_id < b.media_id
         |  WHERE len(list_filter(range(1, 9), t -> a.keys[t] = b.keys[t])) > 0)
         |SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.2
         |ORDER BY id_a, id_b""".stripMargin,
    "q_multimodal_real" ->
      s"""SELECT doc_id AS media_id,
         |  CAST(16 + doc_id % 32 AS INTEGER) AS width,
         |  CAST(16 + (doc_id // 32) % 32 AS INTEGER) AS height,
         |  CAST(3 AS INTEGER) AS channels,
         |  CAST(1 AS INTEGER) AS n_frames,
         |  CAST((doc_id % 256) // ${256 / Multimodal.FeatureDim} + 1
         |    AS BIGINT) AS luma_bin,
         |  CAST(1.0 AS DOUBLE) AS feat_max
         |FROM documents WHERE doc_id < 200
         |ORDER BY media_id""".stripMargin,

    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_base_price,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |      AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_filter_project" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'error' AND value > 5.0
        |ORDER BY event_id""".stripMargin,

    "q_join_agg" ->
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS order_count
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_join_multiway" ->
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |      AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
        |  count(*) AS lineitem_count
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400.0)
        |ORDER BY c_custkey""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders) WHERE rk <= 3
        |ORDER BY o_custkey, rk""".stripMargin,

    "q_asof_join" ->
      """WITH err AS (
        |  SELECT user_id, ts, max(event_id) AS err_id, max(value) AS err_val
        |  FROM events WHERE event_type = 'error' GROUP BY user_id, ts)
        |SELECT e.event_id, e.user_id, e.ts,
        |  r.err_id AS err_id_asof, r.err_val AS err_val_asof
        |FROM events e ASOF LEFT JOIN err r
        |  ON e.user_id = r.user_id AND e.ts >= r.ts
        |ORDER BY e.event_id""".stripMargin,

    "q_topk_operator" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders) WHERE rk <= 3
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey ASC""".stripMargin,

    "q_window_count_distinct" ->
      """SELECT event_id, event_type,
        |  count(DISTINCT user_id) OVER (PARTITION BY event_type) AS distinct_users
        |FROM events ORDER BY event_id LIMIT 500""".stripMargin,

    "q_counts_histogram" ->
      """SELECT make_timestamp((epoch_ms(ts) // 3600000) * 3600000 * 1000) AS bin_start,
        |  count(*) AS bin_count
        |FROM events GROUP BY 1 ORDER BY bin_start""".stripMargin,

    // the manifest-answered path must be indistinguishable from the scan
    "q_counts_density" ->
      """SELECT make_timestamp((epoch_ms(ts) // 86400000) * 86400000 * 1000) AS bin_start,
        |  count(*) AS bin_count
        |FROM events GROUP BY 1 ORDER BY bin_start""".stripMargin,

    "q_counts_cascade" ->
      """SELECT make_timestamp((epoch_ms(ts) // 3600000) * 3600000 * 1000) AS bin_start,
        |  event_type,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
        |  min(value) AS min_v,
        |  max(value) AS max_v,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_v
        |FROM events GROUP BY 1, 2 ORDER BY bin_start, event_type""".stripMargin,

    "q_counts_topk" ->
      """WITH totals AS (
        |  SELECT event_type, count(*) AS total_count FROM events
        |  GROUP BY event_type
        |  ORDER BY total_count DESC, event_type ASC LIMIT 3),
        |binned AS (
        |  SELECT make_timestamp((epoch_ms(ts) // 86400000) * 86400000 * 1000)
        |      AS bin_start,
        |    event_type, count(*) AS bin_count
        |  FROM events GROUP BY 1, 2)
        |SELECT b.bin_start, b.event_type, b.bin_count, t.total_count
        |FROM binned b JOIN totals t ON b.event_type IS NOT DISTINCT FROM t.event_type
        |ORDER BY b.bin_start, b.event_type""".stripMargin,

    "q_count_star" -> "SELECT count(*) AS cnt FROM events",

    "q_alert_avg" ->
      """SELECT user_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value
        |FROM events
        |WHERE event_type ILIKE '%err%' AND event_type IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_logctx_after" ->
      """SELECT * FROM events
        |WHERE ts > make_timestamp(1705276800000 * 1000)
        |   OR (ts = make_timestamp(1705276800000 * 1000) AND event_id > 0)
        |ORDER BY ts ASC, event_id ASC LIMIT 50""".stripMargin,

    "q_logctx_before" ->
      """SELECT * FROM events
        |WHERE ts < make_timestamp(1705276800000 * 1000)
        |   OR (ts = make_timestamp(1705276800000 * 1000) AND event_id < 0)
        |ORDER BY ts DESC, event_id DESC LIMIT 50""".stripMargin,

    "q_trace_list" ->
      """SELECT user_id AS trace_id,
        |  count(DISTINCT event_id) AS span_count,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS error_count,
        |  min(ts) AS trace_start, max(ts) AS trace_end
        |FROM events GROUP BY user_id
        |ORDER BY trace_start ASC, trace_id ASC
        |LIMIT 10 OFFSET 2""".stripMargin,

    "q_trace_apm_list" ->
      """WITH spans AS (
        |  SELECT
        |    event_type AS service_name,
        |    's' || CAST(event_id AS VARCHAR) AS span_name,
        |    CAST(floor(value * 1000) AS BIGINT) AS span_duration_ns,
        |    CAST(user_id AS VARCHAR) AS span_trace_id,
        |    lpad(CAST(event_id AS VARCHAR), 8, '0') AS span_span_id,
        |    ts AS span_start_time_unix_nano,
        |    CAST(epoch_ms(ts) AS BIGINT) AS span_start_time_unix_nano_epoch,
        |    CASE WHEN event_type = 'error' THEN 2 ELSE 0 END
        |        AS span_status_code,
        |    ts AS p_timestamp
        |  FROM events
        |), stats AS (
        |  SELECT s.*, c.total_span_count, c.error_count
        |  FROM spans s JOIN (
        |    SELECT span_trace_id,
        |      CAST(COUNT(DISTINCT span_span_id) AS BIGINT)
        |          AS total_span_count,
        |      CAST(COUNT(DISTINCT CASE WHEN span_status_code = 2
        |        THEN span_span_id END) AS BIGINT) AS error_count
        |    FROM spans GROUP BY span_trace_id) c USING (span_trace_id)
        |)
        |SELECT DISTINCT service_name, span_name, span_duration_ns,
        |  span_trace_id, span_span_id, span_start_time_unix_nano,
        |  span_start_time_unix_nano_epoch, p_timestamp,
        |  total_span_count, error_count
        |FROM stats
        |ORDER BY span_duration_ns DESC,
        |  span_start_time_unix_nano_epoch DESC, span_span_id ASC
        |LIMIT 200 OFFSET 20""".stripMargin,

    "q_trace_detail" ->
      """SELECT event_id, user_id, event_type, ts,
        |  count(*) OVER () AS total_spans
        |FROM events WHERE user_id = 7
        |ORDER BY ts DESC, event_id DESC""".stripMargin,

    "q_trace_hierarchy_sql" ->
      """WITH RECURSIVE sp AS (
        |  SELECT user_id AS t_id,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) - 1 AS BIGINT) AS s_id,
        |    event_type AS service,
        |    CAST(floor(value * 100) AS BIGINT) AS dur
        |  FROM events WHERE user_id < 50),
        |spans AS (
        |  SELECT CAST(t_id * 100000 + s_id AS BIGINT) AS span_id,
        |    CASE WHEN s_id = 0 THEN NULL
        |         ELSE CAST(t_id * 100000 + (s_id - 1) // 2 AS BIGINT)
        |    END AS parent_id,
        |    service, dur
        |  FROM sp),
        |all_span_ids AS (SELECT DISTINCT span_id FROM spans),
        |span_hierarchy AS (
        |  SELECT span_id, 0 AS level FROM spans
        |  WHERE parent_id IS NULL
        |    OR parent_id NOT IN (SELECT span_id FROM all_span_ids)
        |  UNION ALL
        |  SELECT s.span_id, sh.level + 1
        |  FROM spans s
        |  INNER JOIN span_hierarchy sh ON s.parent_id = sh.span_id
        |  WHERE sh.level < 10),
        |span_levels AS (
        |  SELECT span_id, CAST(MIN(level) AS INTEGER) AS level
        |  FROM span_hierarchy GROUP BY span_id)
        |SELECT d.span_id, d.parent_id, d.service, d.dur, sl.level,
        |  CAST(COUNT(*) OVER () AS BIGINT) AS total_span_count
        |FROM spans d
        |INNER JOIN span_levels sl ON d.span_id = sl.span_id
        |ORDER BY sl.level, d.span_id""".stripMargin,

    "q_trace_critical_path" ->
      """WITH RECURSIVE s AS (
        |  SELECT user_id AS t_id,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) - 1 AS BIGINT) AS s_id,
        |    CAST(floor(value * 100) AS BIGINT) AS dur
        |  FROM events),
        |sp AS (
        |  SELECT t_id, s_id,
        |    CASE WHEN s_id = 0 THEN NULL ELSE (s_id - 1) // 2 END AS p_id, dur
        |  FROM s),
        |paths AS (
        |  SELECT t_id, s_id, dur AS path_dur, CAST(1 AS BIGINT) AS path_len
        |  FROM sp WHERE p_id IS NULL
        |  UNION ALL
        |  SELECT c.t_id, c.s_id, p.path_dur + c.dur, p.path_len + 1
        |  FROM sp c JOIN paths p ON c.t_id = p.t_id AND c.p_id = p.s_id
        |  WHERE p.path_len <= 20),
        |leaves AS (
        |  SELECT a.t_id, a.s_id FROM sp a
        |  LEFT JOIN (SELECT DISTINCT t_id, p_id FROM sp WHERE p_id IS NOT NULL) ch
        |    ON a.t_id = ch.t_id AND a.s_id = ch.p_id
        |  WHERE ch.p_id IS NULL),
        |r AS (
        |  SELECT p.t_id, p.s_id, p.path_dur, p.path_len,
        |    row_number() OVER (PARTITION BY p.t_id
        |      ORDER BY p.path_dur DESC, p.s_id ASC) AS rk
        |  FROM paths p JOIN leaves l ON p.t_id = l.t_id AND p.s_id = l.s_id)
        |SELECT t_id AS trace_id, s_id AS leaf_span, path_len, path_dur
        |FROM r WHERE rk = 1 ORDER BY trace_id""".stripMargin,

    "q_field_stats_top" ->
      """SELECT CAST(event_type AS VARCHAR) AS value, count(*) AS value_count
        |FROM events WHERE event_type IS NOT NULL
        |GROUP BY 1 ORDER BY value_count DESC, value ASC LIMIT 5""".stripMargin,

    "q_field_stats_dataset" ->
      """WITH pairs AS (
        |  SELECT 'lang' AS field_name, lang AS distinct_value
        |  FROM documents
        |  UNION ALL
        |  SELECT 'source', source FROM documents
        |), counts AS (
        |  SELECT field_name, distinct_value,
        |    CAST(COUNT(*) AS BIGINT) AS distinct_value_count
        |  FROM pairs WHERE distinct_value IS NOT NULL GROUP BY 1, 2
        |), ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY field_name
        |    ORDER BY distinct_value_count DESC, distinct_value ASC) AS rn
        |  FROM counts
        |), totals AS (
        |  SELECT field_name,
        |    CAST(COUNT(distinct_value) AS BIGINT) AS field_count,
        |    CAST(COUNT(DISTINCT distinct_value) AS BIGINT) AS distinct_count
        |  FROM pairs GROUP BY 1
        |)
        |SELECT r.field_name, t.field_count, t.distinct_count,
        |  r.distinct_value, r.distinct_value_count
        |FROM ranked r JOIN totals t USING (field_name)
        |WHERE r.rn > 1 AND r.rn <= 4
        |ORDER BY field_name ASC, distinct_value_count DESC,
        |  distinct_value ASC""".stripMargin,

    "q_text_quality" ->
      """WITH tk AS (
        |  SELECT doc_id, length(text) AS nc,
        |    list_filter(string_split_regex(text, ' +'), t -> t != '') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(nc AS BIGINT) AS n_chars,
        |    CAST(len(list_distinct(toks)) AS BIGINT) AS distinct_words,
        |    CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
        |      / len(toks) AS avg_word_len,
        |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio,
        |    CAST(len(list_filter(toks, t -> t IN
        |      ('the','a','of','and','to','in','is','it','that','for'))) AS DOUBLE)
        |      / len(toks) AS stopword_ratio
        |  FROM tk)
        |SELECT doc_id, n_words, n_chars, distinct_words, avg_word_len,
        |  distinct_ratio, stopword_ratio,
        |  ((CASE WHEN n_words BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.5 END)
        |   + least(distinct_ratio * 2.0, 1.0)
        |   + least(stopword_ratio * 5.0, 1.0)) / 3.0 AS quality_score
        |FROM m ORDER BY doc_id""".stripMargin,

    "q_text_entropy" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
        |    t -> t != '') AS tk
        |  FROM documents),
        |t1 AS (SELECT doc_id, tk FROM toks WHERE len(tk) > 0),
        |wc AS (
        |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(tk) AS w FROM t1) GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS distinct_words FROM wc GROUP BY 1),
        |terms AS (
        |  SELECT wc.doc_id,
        |    CAST(floor((CAST(c AS DOUBLE) / CAST(n.n AS DOUBLE)) *
        |      ln(CAST(c AS DOUBLE) / CAST(n.n AS DOUBLE)) * 1000000.0)
        |      AS BIGINT) AS t
        |  FROM wc JOIN n USING (doc_id))
        |SELECT n.doc_id, n.n AS n_tokens, n.distinct_words,
        |  CAST(-sum(t.t) AS BIGINT) AS entropy_micro
        |FROM n JOIN terms t USING (doc_id)
        |GROUP BY 1, 2, 3
        |ORDER BY doc_id""".stripMargin,

    "q_text_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, ' +'), t -> t != '') AS tk
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, 1 AS n, unnest(tk) AS gram FROM toks
        |  UNION ALL
        |  SELECT doc_id, 2 AS n,
        |    unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS gram
        |  FROM toks
        |  UNION ALL
        |  SELECT doc_id, 3 AS n,
        |    unnest(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gram
        |  FROM toks),
        |c AS (SELECT doc_id, n, gram, count(*) AS cnt FROM g GROUP BY 1, 2, 3),
        |a AS (SELECT doc_id, n,
        |    CAST(sum(cnt) AS BIGINT) AS total,
        |    CAST(max(cnt) AS BIGINT) AS top,
        |    CAST(coalesce(sum(cnt) FILTER (WHERE cnt > 1), 0) AS BIGINT) AS dup
        |  FROM c GROUP BY 1, 2)
        |SELECT doc_id,
        |  max(CASE WHEN n = 1 THEN total END) AS n_words,
        |  CAST(max(CASE WHEN n = 1 THEN top END) AS DOUBLE)
        |    / max(CASE WHEN n = 1 THEN total END) AS top_word_frac,
        |  CAST(max(CASE WHEN n = 2 THEN top END) AS DOUBLE)
        |    / max(CASE WHEN n = 2 THEN total END) AS top_bigram_frac,
        |  CAST(max(CASE WHEN n = 3 THEN dup END) AS DOUBLE)
        |    / max(CASE WHEN n = 3 THEN total END) AS dup_trigram_frac
        |FROM a GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_text_c4" ->
      """WITH toks AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(tk) AS BIGINT) AS n_words,
        |  len(tk) >= 5 AS min_words_ok,
        |  regexp_matches(trim(text), '[.!?]$') AS ends_with_punct,
        |  contains(text, '{') AS has_curly,
        |  CAST(len(list_filter(tk, t -> t IN ('spark', 'vector'))) AS BIGINT) AS block_hits,
        |  (len(tk) >= 5 AND len(list_filter(tk, t -> t IN ('spark', 'vector'))) = 0
        |    AND NOT contains(text, '{')) AS keep
        |FROM toks ORDER BY doc_id""".stripMargin,

    "q_text_gopher" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, ' +'), x -> x != '') AS tk,
        |    string_split(text, chr(10)) AS ln
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(tk) AS BIGINT) AS n_words,
        |    CAST(COALESCE(list_sum(list_transform(tk, x -> length(x))), 0)
        |      AS BIGINT) AS tok_chars,
        |    CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]')))
        |      AS BIGINT) AS alpha_words,
        |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
        |      AS hash_hits,
        |    CAST((length(text) - length(replace(text, '...', ''))) // 3
        |      + (length(text) - length(replace(text, '…', ''))) AS BIGINT)
        |      AS ellipsis_hits,
        |    CAST(len(ln) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(ln, x -> regexp_matches(x,
        |      '^\s*[•\-\*]'))) AS BIGINT) AS bullet_lines,
        |    CAST(len(list_filter(ln, x -> regexp_matches(x,
        |      '(\.\.\.|…)\s*$'))) AS BIGINT) AS ellipsis_lines,
        |    CAST(len(list_filter(list_distinct(tk), x -> x IN ('the', 'be',
        |      'to', 'of', 'and', 'that', 'have', 'with'))) AS BIGINT)
        |      AS stop_hits
        |  FROM t)
        |SELECT doc_id, n_words, tok_chars, alpha_words, hash_hits,
        |  ellipsis_hits, n_lines, bullet_lines, ellipsis_lines, stop_hits,
        |  n_words BETWEEN 50 AND 100000 AS word_count_ok,
        |  tok_chars BETWEEN 3 * n_words AND 10 * n_words AS word_len_ok,
        |  hash_hits * 10 <= n_words AS hash_ok,
        |  ellipsis_hits * 10 <= n_words AS ellipsis_ok,
        |  bullet_lines * 10 <= n_lines * 9 AS bullet_ok,
        |  ellipsis_lines * 10 <= n_lines * 3 AS ellipsis_line_ok,
        |  alpha_words * 5 >= n_words * 4 AS alpha_ok,
        |  stop_hits >= 2 AS stopword_ok,
        |  ((n_words BETWEEN 50 AND 100000)
        |    AND (tok_chars BETWEEN 3 * n_words AND 10 * n_words)
        |    AND hash_hits * 10 <= n_words
        |    AND ellipsis_hits * 10 <= n_words
        |    AND bullet_lines * 10 <= n_lines * 9
        |    AND ellipsis_lines * 10 <= n_lines * 3
        |    AND alpha_words * 5 >= n_words * 4
        |    AND stop_hits >= 2) AS keep
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, ' +'), t -> t != ''))
        |    AS BIGINT) AS n_words,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
        |    AS BIGINT) AS subword_count
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_fingerprint" ->
      """WITH n AS (
        |  SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm
        |  FROM documents)
        |SELECT doc_id, md5(norm) AS fp_md5,
        |  list_reduce(
        |    list_transform(string_split(substring(md5(norm), 1, 15), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |    (a, b) -> a * 16 + b) AS fp_num
        |FROM n ORDER BY doc_id""".stripMargin,

    "q_text_scrub" ->
      """WITH d AS (
        |  SELECT doc_id, text || ' contact u' || CAST(doc_id AS VARCHAR)
        |    || '@example.com or http://ex.com/p/' || CAST(doc_id AS VARCHAR)
        |    || ' ip 10.0.0.7 acct 1234567890' AS t
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      'https?://[^\s]+', '<URL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |      '\b\d{7,}\b', '<NUM>', 'g') AS scrubbed
        |  FROM d)
        |SELECT doc_id, scrubbed, CAST(
        |    (length(scrubbed) - length(replace(scrubbed, '<EMAIL>', ''))) / 7
        |  + (length(scrubbed) - length(replace(scrubbed, '<URL>', ''))) / 5
        |  + (length(scrubbed) - length(replace(scrubbed, '<IP>', ''))) / 4
        |  + (length(scrubbed) - length(replace(scrubbed, '<NUM>', ''))) / 5
        |  AS BIGINT) AS pii_n
        |FROM s ORDER BY doc_id""".stripMargin,

    "q_text_novelty" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, ' +'), t -> t != '') AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]))) AS bg
        |  FROM tk),
        |f AS (SELECT bg, count(DISTINCT doc_id) AS df FROM bg GROUP BY bg)
        |SELECT b.doc_id, count(*) AS n_bigrams,
        |  CAST(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unique,
        |  CAST(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) AS novelty
        |FROM bg b JOIN f USING (bg)
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,

    "q_text_langid" ->
      """WITH tk AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(text, ' +'), t -> t != '') AS toks
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(toks, t -> t IN
        |      ('der','die','das','und','ist','nicht','ein','zu','mit','auf'))) AS h_de,
        |    len(list_filter(toks, t -> t IN
        |      ('the','a','of','and','to','in','is','it','that','for'))) AS h_en,
        |    len(list_filter(toks, t -> t IN
        |      ('el','la','de','que','y','en','un','por','con','para'))) AS h_es,
        |    len(list_filter(toks, t -> t IN
        |      ('le','la','de','et','un','est','pour','que','dans','avec'))) AS h_fr
        |  FROM tk)
        |SELECT doc_id, lang,
        |  CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
        |       WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
        |       WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
        |       WHEN h_es >= h_fr THEN 'es' ELSE 'fr' END AS lang_pred
        |FROM h ORDER BY doc_id""".stripMargin,

    "q_counts_gapfill" ->
      """WITH c AS (
        |  SELECT make_timestamp((epoch_ms(ts) // 3600000) * 3600000 * 1000)
        |      AS bin_start,
        |    count(*) AS n
        |  FROM events WHERE event_type = 'error' AND value > 200
        |  GROUP BY 1),
        |bounds AS (SELECT min(bin_start) lo, max(bin_start) hi FROM c),
        |grid AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bin_start
        |  FROM bounds)
        |SELECT g.bin_start, CAST(COALESCE(c.n, 0) AS BIGINT) AS bin_count
        |FROM grid g LEFT JOIN c USING (bin_start)
        |ORDER BY g.bin_start""".stripMargin,

    "q_metric_rate" ->
      """WITH v AS (
        |  SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'view'),
        |r AS (
        |  SELECT event_id, user_id, value,
        |    lag(value) OVER w AS prev_v,
        |    (epoch_us(ts) - lag(epoch_us(ts)) OVER w) AS dt_us
        |  FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
        |SELECT event_id, user_id, value,
        |  CASE WHEN value < prev_v THEN value ELSE value - prev_v END AS delta,
        |  CASE WHEN CAST(dt_us AS DOUBLE) / 1000000.0 > 0.0 THEN
        |    (CASE WHEN value < prev_v THEN value ELSE value - prev_v END)
        |      / (CAST(dt_us AS DOUBLE) / 1000000.0) END AS rate_per_sec
        |FROM r ORDER BY user_id, event_id""".stripMargin,

    "q_anomaly_zscore" ->
      """WITH q AS (
        |  SELECT event_id, event_type, CAST(floor(value * 100) AS BIGINT) AS vq
        |  FROM events),
        |st AS (
        |  SELECT event_type, count(*) AS n, sum(vq) AS s, sum(vq * vq) AS ss
        |  FROM q GROUP BY 1)
        |SELECT event_id, event_type, vq,
        |  (CAST(vq AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) /
        |    sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) *
        |          (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) /
        |         CAST(n - 1 AS DOUBLE)) AS z
        |FROM q JOIN st USING (event_type)
        |WHERE abs((CAST(vq AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) /
        |    sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) *
        |          (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) /
        |         CAST(n - 1 AS DOUBLE))) > 2.5
        |ORDER BY event_id""".stripMargin,

    "q_text_tfidf" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, ' +'),
        |    t -> t != '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (
        |  SELECT doc_id, term, tf, df,
        |    CAST(floor(CAST(tf AS DOUBLE) *
        |      ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) * 1000000.0)
        |      AS BIGINT) AS score_micro
        |  FROM tf JOIN dfq USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tf, df, score_micro, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score_micro DESC, term ASC) AS rk FROM sc)
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    "q_text_bm25" ->
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
         |    t -> t != '') AS toks
         |  FROM documents),
         |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM tk),
         |consts AS (
         |  SELECT count(*) AS n_docs,
         |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM d),
         |tf AS (
         |  SELECT doc_id, dl, term, count(*) AS tf
         |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
         |  WHERE term IN ('stream', 'join', 'filter') GROUP BY 1, 2, 3),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |per AS (
         |  SELECT doc_id, term,
         |    ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
         |             (CAST(df AS DOUBLE) + 0.5)) *
         |    (CAST(tf AS DOUBLE) * ${1.2 + 1.0}) /
         |    (CAST(tf AS DOUBLE) + 1.2 *
         |      (${1.0 - 0.75} + 0.75 * (CAST(dl AS DOUBLE) / avgdl))) AS contrib
         |  FROM tf JOIN dfq USING (term) CROSS JOIN consts),
         |piv AS (
         |  SELECT doc_id,
         |    max(CASE WHEN term = 'stream' THEN contrib END) AS c1,
         |    max(CASE WHEN term = 'join' THEN contrib END) AS c2,
         |    max(CASE WHEN term = 'filter' THEN contrib END) AS c3
         |  FROM per GROUP BY 1)
         |SELECT doc_id, CAST(floor(
         |    (COALESCE(c1, 0.0) + COALESCE(c2, 0.0) + COALESCE(c3, 0.0))
         |    * 1000000.0) AS BIGINT) AS score_micro
         |FROM piv ORDER BY score_micro DESC, doc_id ASC LIMIT 20""".stripMargin,

    // Phrase search: adjacency-exact counts via consecutive-token check
    // over the tokenized text (the oracle re-derives what the index's
    // positional-postings intersection computes).
    "q_text_phrase" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
        |    t -> t != '') AS toks
        |  FROM documents)
        |SELECT doc_id, phrase_tf FROM (
        |  SELECT doc_id, CAST(len(list_filter(range(1, len(toks)),
        |    i -> toks[i] = 'table' AND toks[i+1] = 'scan')) AS BIGINT)
        |    AS phrase_tf
        |  FROM tk)
        |WHERE phrase_tf > 0 ORDER BY doc_id""".stripMargin,

    // Hybrid RRF: BM25 lexical ranks (top 20) + exact-cosine vector ranks
    // (query = embedding 0, top 20), fused as exact BIGINT micro-grid
    // reciprocal-rank contributions — same CTE chains as q_text_bm25 /
    // q_sim_knn, full outer join on the shared id space.
    "q_hybrid_rrf" ->
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
         |    t -> t != '') AS toks
         |  FROM documents),
         |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM tk),
         |consts AS (
         |  SELECT count(*) AS n_docs,
         |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM d),
         |tf AS (
         |  SELECT doc_id, dl, term, count(*) AS tf
         |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
         |  WHERE term IN ('stream', 'join', 'filter') GROUP BY 1, 2, 3),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |per AS (
         |  SELECT doc_id, term,
         |    ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
         |             (CAST(df AS DOUBLE) + 0.5)) *
         |    (CAST(tf AS DOUBLE) * ${1.2 + 1.0}) /
         |    (CAST(tf AS DOUBLE) + 1.2 *
         |      (${1.0 - 0.75} + 0.75 * (CAST(dl AS DOUBLE) / avgdl))) AS contrib
         |  FROM tf JOIN dfq USING (term) CROSS JOIN consts),
         |piv AS (
         |  SELECT doc_id,
         |    max(CASE WHEN term = 'stream' THEN contrib END) AS c1,
         |    max(CASE WHEN term = 'join' THEN contrib END) AS c2,
         |    max(CASE WHEN term = 'filter' THEN contrib END) AS c3
         |  FROM per GROUP BY 1),
         |sc AS (
         |  SELECT doc_id, CAST(floor(
         |      (COALESCE(c1, 0.0) + COALESCE(c2, 0.0) + COALESCE(c3, 0.0))
         |      * 1000000.0) AS BIGINT) AS score_micro
         |  FROM piv),
         |lex AS (
         |  SELECT doc_id, lex_rk FROM (
         |    SELECT doc_id, CAST(row_number() OVER (
         |      ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS lex_rk
         |    FROM sc)
         |  WHERE lex_rk <= 20),
         |v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |p AS (
         |  SELECT c.vec_id AS doc_id, ${dCosine("q.e", "c.e")} AS cosine
         |  FROM v q JOIN v c ON q.vec_id != c.vec_id
         |  WHERE q.vec_id = 0),
         |vec AS (
         |  SELECT doc_id, vec_rk FROM (
         |    SELECT doc_id, CAST(row_number() OVER (
         |      ORDER BY cosine DESC, doc_id ASC) AS BIGINT) AS vec_rk
         |    FROM p)
         |  WHERE vec_rk <= 20),
         |fused AS (
         |  SELECT COALESCE(l.doc_id, ve.doc_id) AS doc_id,
         |    COALESCE(CAST(floor(1000000.0 / (60.0 + CAST(l.lex_rk AS DOUBLE)))
         |      AS BIGINT), 0) +
         |    COALESCE(CAST(floor(1000000.0 / (60.0 + CAST(ve.vec_rk AS DOUBLE)))
         |      AS BIGINT), 0) AS rrf_micro,
         |    COALESCE(l.lex_rk, 0) AS lex_rk,
         |    COALESCE(ve.vec_rk, 0) AS vec_rk
         |  FROM lex l FULL OUTER JOIN vec ve ON l.doc_id = ve.doc_id)
         |SELECT doc_id, rrf_micro, lex_rk, vec_rk, CAST(row_number() OVER (
         |    ORDER BY rrf_micro DESC, doc_id ASC) AS BIGINT) AS rk
         |FROM fused ORDER BY rrf_micro DESC, doc_id ASC LIMIT 10""".stripMargin,

    "q_text_phrase_batch" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
        |    t -> t != '') AS toks
        |  FROM documents),
        |hits AS (
        |  SELECT CAST(0 AS BIGINT) AS p_id, doc_id,
        |    CAST(len(list_filter(range(1, len(toks)),
        |      i -> toks[i] = 'table' AND toks[i+1] = 'scan')) AS BIGINT)
        |      AS phrase_tf
        |  FROM tk
        |  UNION ALL
        |  SELECT CAST(1 AS BIGINT), doc_id,
        |    CAST(len(list_filter(range(1, len(toks)),
        |      i -> toks[i] = 'join' AND toks[i+1] = 'order')) AS BIGINT)
        |  FROM tk
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), doc_id,
        |    CAST(len(list_filter(range(1, len(toks)),
        |      i -> toks[i] = 'table' AND toks[i+1] = 'table')) AS BIGINT)
        |  FROM tk
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), doc_id,
        |    CAST(len(list_filter(range(1, len(toks) + 1),
        |      i -> toks[i] = 'scan')) AS BIGINT)
        |  FROM tk)
        |SELECT p_id, doc_id, phrase_tf FROM hits
        |WHERE phrase_tf > 0 ORDER BY p_id, doc_id""".stripMargin,

    "q_hybrid_prior" ->
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
         |    t -> t != '') AS toks
         |  FROM documents),
         |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM tk),
         |consts AS (
         |  SELECT count(*) AS n_docs,
         |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM d),
         |tf AS (
         |  SELECT doc_id, dl, term, count(*) AS tf
         |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
         |  WHERE term IN ('stream', 'join', 'filter') GROUP BY 1, 2, 3),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |per AS (
         |  SELECT doc_id, term,
         |    ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
         |             (CAST(df AS DOUBLE) + 0.5)) *
         |    (CAST(tf AS DOUBLE) * ${1.2 + 1.0}) /
         |    (CAST(tf AS DOUBLE) + 1.2 *
         |      (${1.0 - 0.75} + 0.75 * (CAST(dl AS DOUBLE) / avgdl))) AS contrib
         |  FROM tf JOIN dfq USING (term) CROSS JOIN consts),
         |piv AS (
         |  SELECT doc_id,
         |    max(CASE WHEN term = 'stream' THEN contrib END) AS c1,
         |    max(CASE WHEN term = 'join' THEN contrib END) AS c2,
         |    max(CASE WHEN term = 'filter' THEN contrib END) AS c3
         |  FROM per GROUP BY 1),
         |sc AS (
         |  SELECT doc_id, CAST(floor(
         |      (COALESCE(c1, 0.0) + COALESCE(c2, 0.0) + COALESCE(c3, 0.0))
         |      * 1000000.0) AS BIGINT) AS score_micro
         |  FROM piv),
         |lex AS (
         |  SELECT doc_id, lex_rk FROM (
         |    SELECT doc_id, CAST(row_number() OVER (
         |      ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS lex_rk
         |    FROM sc)
         |  WHERE lex_rk <= 20),
         |v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |p AS (
         |  SELECT c.vec_id AS doc_id, ${dCosine("q.e", "c.e")} AS cosine
         |  FROM v q JOIN v c ON q.vec_id != c.vec_id
         |  WHERE q.vec_id = 0),
         |vec AS (
         |  SELECT doc_id, vec_rk FROM (
         |    SELECT doc_id, CAST(row_number() OVER (
         |      ORDER BY cosine DESC, doc_id ASC) AS BIGINT) AS vec_rk
         |    FROM p)
         |  WHERE vec_rk <= 20),
         |pr AS (
         |  SELECT doc_id, p_rk FROM (
         |    SELECT doc_id, CAST(row_number() OVER (
         |      ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS p_rk
         |    FROM documents)
         |  WHERE p_rk <= 20),
         |legs AS (
         |  SELECT doc_id, 0 AS leg, lex_rk AS lrk,
         |    CAST(floor(1000000.0 / (60.0 + CAST(lex_rk AS DOUBLE)))
         |      AS BIGINT) AS c
         |  FROM lex
         |  UNION ALL
         |  SELECT doc_id, 1, vec_rk,
         |    CAST(floor(1000000.0 / (60.0 + CAST(vec_rk AS DOUBLE))) AS BIGINT)
         |  FROM vec
         |  UNION ALL
         |  SELECT doc_id, 2, p_rk,
         |    CAST(floor(500000.0 / (60.0 + CAST(p_rk AS DOUBLE))) AS BIGINT)
         |  FROM pr),
         |fused AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro,
         |    CAST(COALESCE(max(CASE WHEN leg = 0 THEN lrk END), 0)
         |      AS BIGINT) AS leg0_rk,
         |    CAST(COALESCE(max(CASE WHEN leg = 1 THEN lrk END), 0)
         |      AS BIGINT) AS leg1_rk,
         |    CAST(COALESCE(max(CASE WHEN leg = 2 THEN lrk END), 0)
         |      AS BIGINT) AS leg2_rk
         |  FROM legs GROUP BY 1)
         |SELECT doc_id, rrf_micro, leg0_rk, leg1_rk, leg2_rk,
         |  CAST(row_number() OVER (
         |    ORDER BY rrf_micro DESC, doc_id ASC) AS BIGINT) AS rk
         |FROM fused ORDER BY rrf_micro DESC, doc_id ASC LIMIT 10""".stripMargin,

    "q_hybrid_filtered" ->
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
         |    t -> t != '') AS toks
         |  FROM documents),
         |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM tk),
         |consts AS (
         |  SELECT count(*) AS n_docs,
         |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM d),
         |tf AS (
         |  SELECT doc_id, dl, term, count(*) AS tf
         |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
         |  WHERE term IN ('stream', 'join', 'filter') GROUP BY 1, 2, 3),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |per AS (
         |  SELECT doc_id, term,
         |    ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
         |             (CAST(df AS DOUBLE) + 0.5)) *
         |    (CAST(tf AS DOUBLE) * ${1.2 + 1.0}) /
         |    (CAST(tf AS DOUBLE) + 1.2 *
         |      (${1.0 - 0.75} + 0.75 * (CAST(dl AS DOUBLE) / avgdl))) AS contrib
         |  FROM tf JOIN dfq USING (term) CROSS JOIN consts),
         |piv AS (
         |  SELECT doc_id,
         |    max(CASE WHEN term = 'stream' THEN contrib END) AS c1,
         |    max(CASE WHEN term = 'join' THEN contrib END) AS c2,
         |    max(CASE WHEN term = 'filter' THEN contrib END) AS c3
         |  FROM per GROUP BY 1),
         |sc AS (
         |  SELECT doc_id, CAST(floor(
         |      (COALESCE(c1, 0.0) + COALESCE(c2, 0.0) + COALESCE(c3, 0.0))
         |      * 1000000.0) AS BIGINT) AS score_micro
         |  FROM piv
         |  WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')),
         |lex AS (
         |  SELECT doc_id, lex_rk FROM (
         |    SELECT doc_id, CAST(row_number() OVER (
         |      ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS lex_rk
         |    FROM sc)
         |  WHERE lex_rk <= 20),
         |v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |p AS (
         |  SELECT c.vec_id AS doc_id, ${dCosine("q.e", "c.e")} AS cosine
         |  FROM v q JOIN v c ON q.vec_id != c.vec_id
         |  JOIN documents dd ON c.vec_id = dd.doc_id AND dd.lang = 'en'
         |  WHERE q.vec_id = 0),
         |vec AS (
         |  SELECT doc_id, vec_rk FROM (
         |    SELECT doc_id, CAST(row_number() OVER (
         |      ORDER BY cosine DESC, doc_id ASC) AS BIGINT) AS vec_rk
         |    FROM p)
         |  WHERE vec_rk <= 20),
         |fused AS (
         |  SELECT COALESCE(l.doc_id, ve.doc_id) AS doc_id,
         |    COALESCE(CAST(floor(1000000.0 / (60.0 + CAST(l.lex_rk AS DOUBLE)))
         |      AS BIGINT), 0) +
         |    COALESCE(CAST(floor(1000000.0 / (60.0 + CAST(ve.vec_rk AS DOUBLE)))
         |      AS BIGINT), 0) AS rrf_micro,
         |    COALESCE(l.lex_rk, 0) AS lex_rk,
         |    COALESCE(ve.vec_rk, 0) AS vec_rk
         |  FROM lex l FULL OUTER JOIN vec ve ON l.doc_id = ve.doc_id)
         |SELECT doc_id, rrf_micro, lex_rk, vec_rk, CAST(row_number() OVER (
         |    ORDER BY rrf_micro DESC, doc_id ASC) AS BIGINT) AS rk
         |FROM fused ORDER BY rrf_micro DESC, doc_id ASC LIMIT 10""".stripMargin,

    "q_hybrid_batch" ->
      s"""WITH qt AS (
         |  SELECT CAST(q AS BIGINT) AS q_id, term
         |  FROM (VALUES (0, 'stream'), (0, 'join'), (0, 'filter'),
         |    (1, 'table'), (1, 'scan'), (2, 'parquet'), (2, 'filter'))
         |    x(q, term)),
         |tk AS (
         |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
         |    t -> t != '') AS toks
         |  FROM documents),
         |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM tk),
         |consts AS (
         |  SELECT count(*) AS n_docs,
         |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM d),
         |tf AS (
         |  SELECT doc_id, dl, term, count(*) AS tf
         |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
         |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2, 3),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |per AS (
         |  SELECT doc_id, term, CAST(floor(
         |    ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
         |             (CAST(df AS DOUBLE) + 0.5)) *
         |    (CAST(tf AS DOUBLE) * ${1.2 + 1.0}) /
         |    (CAST(tf AS DOUBLE) + 1.2 *
         |      (${1.0 - 0.75} + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
         |    * 1000000.0) AS BIGINT) AS c_micro
         |  FROM tf JOIN dfq USING (term) CROSS JOIN consts),
         |sc AS (
         |  SELECT qt.q_id, per.doc_id,
         |    CAST(sum(c_micro) AS BIGINT) AS score_micro
         |  FROM per JOIN qt USING (term) GROUP BY 1, 2),
         |lex AS (
         |  SELECT q_id, doc_id, lex_rk FROM (
         |    SELECT q_id, doc_id, CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS lex_rk
         |    FROM sc)
         |  WHERE lex_rk <= 20),
         |v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |p AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS doc_id,
         |    ${dCosine("q.e", "c.e")} AS cosine
         |  FROM v q JOIN v c ON q.vec_id != c.vec_id
         |  WHERE q.vec_id < 3),
         |vec AS (
         |  SELECT q_id, doc_id, vec_rk FROM (
         |    SELECT q_id, doc_id, CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cosine DESC, doc_id ASC) AS BIGINT) AS vec_rk
         |    FROM p)
         |  WHERE vec_rk <= 20),
         |fused AS (
         |  SELECT COALESCE(l.q_id, ve.q_id) AS q_id,
         |    COALESCE(l.doc_id, ve.doc_id) AS doc_id,
         |    COALESCE(CAST(floor(1000000.0 / (60.0 + CAST(l.lex_rk AS DOUBLE)))
         |      AS BIGINT), 0) +
         |    COALESCE(CAST(floor(1000000.0 / (60.0 + CAST(ve.vec_rk AS DOUBLE)))
         |      AS BIGINT), 0) AS rrf_micro,
         |    COALESCE(l.lex_rk, 0) AS lex_rk,
         |    COALESCE(ve.vec_rk, 0) AS vec_rk
         |  FROM lex l FULL OUTER JOIN vec ve
         |    ON l.q_id = ve.q_id AND l.doc_id = ve.doc_id)
         |SELECT q_id, doc_id, rrf_micro, lex_rk, vec_rk, rk FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY rrf_micro DESC, doc_id ASC) AS BIGINT) AS rk
         |  FROM fused)
         |WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin,

    // Facet panel: docs containing >= 1 query term, counted per lang.
    "q_text_facets" ->
      """WITH tk AS (
        |  SELECT doc_id, lang, list_filter(string_split_regex(text, ' +'),
        |    t -> t != '') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT DISTINCT doc_id, lang
        |  FROM (SELECT doc_id, lang, unnest(toks) AS term FROM tk)
        |  WHERE term IN ('stream', 'join', 'filter'))
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |FROM m GROUP BY 1 ORDER BY lang""".stripMargin,

    // Batched facet panels: per-query matching docs counted per source.
    "q_text_facets_batch" ->
      """WITH q AS (
        |  SELECT CAST(qi AS BIGINT) AS q_id, term
        |  FROM (VALUES (0, 'stream'), (0, 'join'), (1, 'filter'),
        |    (1, 'table'), (2, 'scan')) x(qi, term)),
        |tk AS (
        |  SELECT doc_id, source, list_filter(string_split_regex(text, ' +'),
        |    t -> t != '') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT DISTINCT q_id, doc_id, source
        |  FROM (SELECT doc_id, source, unnest(toks) AS term FROM tk) t
        |  JOIN q USING (term))
        |SELECT q_id, source, CAST(count(*) AS BIGINT) AS n_docs
        |FROM m GROUP BY 1, 2 ORDER BY q_id, source""".stripMargin,

    // Snippet windows: the oracle re-derives the best-window selection
    // (max distinct query terms in [p, p+8), tie to smallest p, anchors
    // at query-term occurrences) from the tokenized text.
    "q_text_snippet" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
        |    t -> t != '') AS toks
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, u.pos AS pos, u.term AS term FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
        |      i -> struct_pack(pos := i - 1, term := toks[i]))) AS u
        |    FROM tk)
        |  WHERE u.term IN ('stream', 'join', 'filter')),
        |cov AS (
        |  SELECT a.doc_id, a.pos AS win_start,
        |    count(DISTINCT b.term) AS n_terms
        |  FROM occ a JOIN occ b ON a.doc_id = b.doc_id
        |    AND b.pos >= a.pos AND b.pos < a.pos + 8
        |  GROUP BY 1, 2),
        |best AS (
        |  SELECT doc_id, n_terms, win_start, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY n_terms DESC, win_start ASC) AS rn
        |  FROM cov)
        |SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms,
        |  CAST(win_start AS BIGINT) AS win_start
        |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // Passages: the two greedy rounds unrolled — cov is scored ONCE
    // (static anchor scores, as in the engine); round 2 re-ranks the
    // anchors at least `width` away from round 1's pick.
    "q_text_passages" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
        |    t -> t != '') AS toks
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, u.pos AS pos, u.term AS term FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
        |      i -> struct_pack(pos := i - 1, term := toks[i]))) AS u
        |    FROM tk)
        |  WHERE u.term IN ('stream', 'join', 'filter')),
        |cov AS (
        |  SELECT a.doc_id, a.pos AS win_start,
        |    count(DISTINCT b.term) AS n_terms
        |  FROM occ a JOIN occ b ON a.doc_id = b.doc_id
        |    AND b.pos >= a.pos AND b.pos < a.pos + 8
        |  GROUP BY 1, 2),
        |p1 AS (
        |  SELECT doc_id, n_terms, win_start FROM (
        |    SELECT doc_id, n_terms, win_start, row_number() OVER (
        |      PARTITION BY doc_id ORDER BY n_terms DESC, win_start ASC) AS rn
        |    FROM cov)
        |  WHERE rn = 1),
        |p2 AS (
        |  SELECT doc_id, n_terms, win_start FROM (
        |    SELECT c.doc_id, c.n_terms, c.win_start, row_number() OVER (
        |      PARTITION BY c.doc_id
        |      ORDER BY c.n_terms DESC, c.win_start ASC) AS rn
        |    FROM cov c JOIN p1 ON c.doc_id = p1.doc_id
        |      AND abs(c.win_start - p1.win_start) >= 8)
        |  WHERE rn = 1)
        |SELECT doc_id, CAST(1 AS BIGINT) AS passage_rk,
        |  CAST(win_start AS BIGINT) AS win_start,
        |  CAST(n_terms AS BIGINT) AS n_terms
        |FROM p1
        |UNION ALL
        |SELECT doc_id, CAST(2 AS BIGINT), CAST(win_start AS BIGINT),
        |  CAST(n_terms AS BIGINT)
        |FROM p2
        |ORDER BY doc_id, passage_rk""".stripMargin,

    // Passage text: the two greedy rounds + top-k doc selection + the
    // token slice back out of the corpus
    "q_text_passages_text" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
        |    t -> t != '') AS toks
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, u.pos AS pos, u.term AS term FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
        |      i -> struct_pack(pos := i - 1, term := toks[i]))) AS u
        |    FROM tk)
        |  WHERE u.term IN ('stream', 'join', 'filter')),
        |cov AS (
        |  SELECT a.doc_id, a.pos AS win_start,
        |    count(DISTINCT b.term) AS n_terms
        |  FROM occ a JOIN occ b ON a.doc_id = b.doc_id
        |    AND b.pos >= a.pos AND b.pos < a.pos + 8
        |  GROUP BY 1, 2),
        |p1 AS (
        |  SELECT doc_id, n_terms, win_start FROM (
        |    SELECT doc_id, n_terms, win_start, row_number() OVER (
        |      PARTITION BY doc_id ORDER BY n_terms DESC, win_start ASC) AS rn
        |    FROM cov)
        |  WHERE rn = 1),
        |p2 AS (
        |  SELECT doc_id, n_terms, win_start FROM (
        |    SELECT c.doc_id, c.n_terms, c.win_start, row_number() OVER (
        |      PARTITION BY c.doc_id
        |      ORDER BY c.n_terms DESC, c.win_start ASC) AS rn
        |    FROM cov c JOIN p1 ON c.doc_id = p1.doc_id
        |      AND abs(c.win_start - p1.win_start) >= 8)
        |  WHERE rn = 1),
        |psg AS (
        |  SELECT doc_id, 1 AS passage_rk, win_start, n_terms FROM p1
        |  UNION ALL
        |  SELECT doc_id, 2, win_start, n_terms FROM p2),
        |sel AS (
        |  SELECT doc_id FROM p1
        |  ORDER BY n_terms DESC, doc_id ASC LIMIT 10)
        |SELECT g.doc_id, CAST(g.passage_rk AS BIGINT) AS passage_rk,
        |  CAST(g.win_start AS BIGINT) AS win_start,
        |  CAST(g.n_terms AS BIGINT) AS n_terms,
        |  array_to_string(
        |    tk.toks[CAST(g.win_start + 1 AS BIGINT):CAST(g.win_start + 8 AS BIGINT)],
        |    ' ') AS snippet
        |FROM psg g JOIN sel USING (doc_id) JOIN tk ON g.doc_id = tk.doc_id
        |ORDER BY g.doc_id, g.passage_rk""".stripMargin,

    // Fuzzy terms: brute-force edit-distance over the vocabulary — the
    // oracle scans what the deletion-neighborhood join prunes.
    "q_text_fuzzy" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
        |    t -> t != '') AS toks
        |  FROM documents),
        |vocab AS (
        |  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM (SELECT doc_id, unnest(toks) AS term FROM tk) GROUP BY 1)
        |SELECT term, df, CAST(levenshtein(term, 'strean') AS BIGINT) AS dist
        |FROM vocab WHERE levenshtein(term, 'strean') <= 1
        |ORDER BY term""".stripMargin,

    // Boolean search: clause logic over per-doc term presence, BM25 on
    // the per-term micro grid (floors before the sum — order-free).
    "q_text_bool" ->
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
         |    t -> t != '') AS toks
         |  FROM documents),
         |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM tk),
         |consts AS (
         |  SELECT count(*) AS n_docs,
         |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM d),
         |tf AS (
         |  SELECT doc_id, dl, term, count(*) AS tf
         |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
         |  WHERE term IN ('stream', 'join', 'filter', 'table')
         |  GROUP BY 1, 2, 3),
         |dfq AS (
         |  SELECT term, count(*) AS df FROM tf
         |  WHERE term IN ('stream', 'join', 'filter') GROUP BY 1),
         |per AS (
         |  SELECT tf.doc_id, tf.term,
         |    CASE WHEN dfq.df IS NOT NULL THEN CAST(floor(
         |      ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5) /
         |               (CAST(dfq.df AS DOUBLE) + 0.5)) *
         |      (CAST(tf.tf AS DOUBLE) * ${1.2 + 1.0}) /
         |      (CAST(tf.tf AS DOUBLE) + 1.2 *
         |        (${1.0 - 0.75} + 0.75 * (CAST(tf.dl AS DOUBLE) / avgdl)))
         |      * 1000000.0) AS BIGINT) ELSE 0 END AS c_micro
         |  FROM tf LEFT JOIN dfq ON tf.term = dfq.term CROSS JOIN consts),
         |agg AS (
         |  SELECT doc_id,
         |    count(DISTINCT CASE WHEN term = 'stream' THEN term END) AS n_must,
         |    CAST(count(DISTINCT CASE WHEN term IN ('join', 'filter')
         |      THEN term END) AS BIGINT) AS n_should,
         |    count(DISTINCT CASE WHEN term = 'table' THEN term END) AS n_not,
         |    CAST(sum(CASE WHEN term IN ('stream', 'join', 'filter')
         |      THEN c_micro ELSE 0 END) AS BIGINT) AS score_micro
         |  FROM per GROUP BY 1),
         |kept AS (
         |  SELECT doc_id, n_should, score_micro FROM agg
         |  WHERE n_must = 1 AND n_not = 0 AND n_should >= 1)
         |SELECT doc_id, n_should, score_micro, CAST(row_number() OVER (
         |    ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rk
         |FROM kept ORDER BY score_micro DESC, doc_id ASC LIMIT 15""".stripMargin,

    // Search-after: global ranks 11..20 of the single-query BM25 grid
    // (pivot-sum-then-floor, as q_text_bm25), re-ranked 1..10.
    "q_text_search_after" ->
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
         |    t -> t != '') AS toks
         |  FROM documents),
         |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM tk),
         |consts AS (
         |  SELECT count(*) AS n_docs,
         |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM d),
         |tf AS (
         |  SELECT doc_id, dl, term, count(*) AS tf
         |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
         |  WHERE term IN ('stream', 'join', 'filter') GROUP BY 1, 2, 3),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |per AS (
         |  SELECT doc_id, term,
         |    ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
         |             (CAST(df AS DOUBLE) + 0.5)) *
         |    (CAST(tf AS DOUBLE) * ${1.2 + 1.0}) /
         |    (CAST(tf AS DOUBLE) + 1.2 *
         |      (${1.0 - 0.75} + 0.75 * (CAST(dl AS DOUBLE) / avgdl))) AS contrib
         |  FROM tf JOIN dfq USING (term) CROSS JOIN consts),
         |piv AS (
         |  SELECT doc_id,
         |    max(CASE WHEN term = 'stream' THEN contrib END) AS c1,
         |    max(CASE WHEN term = 'join' THEN contrib END) AS c2,
         |    max(CASE WHEN term = 'filter' THEN contrib END) AS c3
         |  FROM per GROUP BY 1),
         |sc AS (
         |  SELECT doc_id, CAST(floor(
         |      (COALESCE(c1, 0.0) + COALESCE(c2, 0.0) + COALESCE(c3, 0.0))
         |      * 1000000.0) AS BIGINT) AS score_micro
         |  FROM piv),
         |page AS (
         |  SELECT doc_id, score_micro, row_number() OVER (
         |    ORDER BY score_micro DESC, doc_id ASC) AS grk
         |  FROM sc)
         |SELECT doc_id, score_micro, CAST(grk - 10 AS BIGINT) AS rk
         |FROM page WHERE grk > 10 AND grk <= 20 ORDER BY rk""".stripMargin,

    // Numeric range facet: 64-wide n_chars histogram of matching docs.
    "q_text_facet_hist" ->
      """WITH tk AS (
        |  SELECT doc_id, n_chars, list_filter(string_split_regex(text, ' +'),
        |    t -> t != '') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT DISTINCT doc_id, n_chars
        |  FROM (SELECT doc_id, n_chars, unnest(toks) AS term FROM tk)
        |  WHERE term IN ('stream', 'join', 'filter')),
        |b AS (
        |  SELECT CAST(floor(CAST(n_chars AS DOUBLE) / 64.0) AS BIGINT) AS bin
        |  FROM m)
        |SELECT bin, bin * 64 AS lo, CAST(count(*) AS BIGINT) AS n_docs
        |FROM b GROUP BY 1 ORDER BY bin""".stripMargin,

    // Per-query filtered batch BM25: df corpus-global, each query's
    // predicate as a CASE on the candidate rows, per-term micro floors
    // before the order-free sum.
    "q_text_bm25_batch_filtered" ->
      s"""WITH qt AS (
         |  SELECT CAST(q AS BIGINT) AS q_id, term
         |  FROM (VALUES (0, 'stream'), (0, 'join'), (1, 'filter'))
         |    x(q, term)),
         |tk AS (
         |  SELECT doc_id, lang, list_filter(string_split_regex(text, ' +'),
         |    t -> t != '') AS toks
         |  FROM documents),
         |d AS (
         |  SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS dl, toks
         |  FROM tk),
         |consts AS (
         |  SELECT count(*) AS n_docs,
         |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM d),
         |tf AS (
         |  SELECT doc_id, lang, dl, term, count(*) AS tf
         |  FROM (SELECT doc_id, lang, dl, unnest(toks) AS term FROM d)
         |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2, 3, 4),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |per AS (
         |  SELECT doc_id, lang, term, CAST(floor(
         |    ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
         |             (CAST(df AS DOUBLE) + 0.5)) *
         |    (CAST(tf AS DOUBLE) * ${1.2 + 1.0}) /
         |    (CAST(tf AS DOUBLE) + 1.2 *
         |      (${1.0 - 0.75} + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
         |    * 1000000.0) AS BIGINT) AS c_micro
         |  FROM tf JOIN dfq USING (term) CROSS JOIN consts),
         |sc AS (
         |  SELECT qt.q_id, per.doc_id,
         |    CAST(sum(c_micro) AS BIGINT) AS score_micro
         |  FROM per JOIN qt USING (term)
         |  WHERE CASE WHEN qt.q_id = 0 THEN per.lang = 'en' ELSE TRUE END
         |  GROUP BY 1, 2)
         |SELECT q_id, doc_id, score_micro, rk FROM (
         |  SELECT q_id, doc_id, score_micro, CAST(row_number() OVER (
         |    PARTITION BY q_id ORDER BY score_micro DESC, doc_id ASC)
         |    AS BIGINT) AS rk
         |  FROM sc)
         |WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin,

    // Multi-facet panels: the per-(q,doc) match set carries both attrs,
    // unpivots via UNION ALL, one aggregate.
    "q_text_facet_panels" ->
      """WITH q AS (
        |  SELECT CAST(qi AS BIGINT) AS q_id, term
        |  FROM (VALUES (0, 'stream'), (0, 'join'), (1, 'filter'))
        |    x(qi, term)),
        |tk AS (
        |  SELECT doc_id, lang, source,
        |    list_filter(string_split_regex(text, ' +'), t -> t != '') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT DISTINCT q_id, doc_id, lang, source
        |  FROM (SELECT doc_id, lang, source, unnest(toks) AS term FROM tk) t
        |  JOIN q USING (term)),
        |s AS (
        |  SELECT q_id, 'lang' AS facet_col, lang AS facet_val FROM m
        |  UNION ALL
        |  SELECT q_id, 'source', source FROM m)
        |SELECT q_id, facet_col, facet_val,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM s GROUP BY 1, 2, 3
        |ORDER BY q_id, facet_col, facet_val""".stripMargin,

    // Boolean + filter-context phrase: the bool candidates (must =
    // stream) semi-join the adjacency-exact phrase doc set; the phrase
    // never scores.
    "q_text_bool_phrase" ->
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
         |    t -> t != '') AS toks
         |  FROM documents),
         |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM tk),
         |consts AS (
         |  SELECT count(*) AS n_docs,
         |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM d),
         |ph AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, CAST(len(list_filter(range(1, len(toks)),
         |      i -> toks[i] = 'table' AND toks[i+1] = 'scan')) AS BIGINT)
         |      AS phrase_tf
         |    FROM tk)
         |  WHERE phrase_tf > 0),
         |tf AS (
         |  SELECT doc_id, dl, term, count(*) AS tf
         |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
         |  WHERE term = 'stream' GROUP BY 1, 2, 3),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |per AS (
         |  SELECT doc_id, CAST(floor(
         |    ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
         |             (CAST(df AS DOUBLE) + 0.5)) *
         |    (CAST(tf AS DOUBLE) * ${1.2 + 1.0}) /
         |    (CAST(tf AS DOUBLE) + 1.2 *
         |      (${1.0 - 0.75} + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
         |    * 1000000.0) AS BIGINT) AS c_micro
         |  FROM tf JOIN dfq USING (term) CROSS JOIN consts),
         |agg AS (
         |  SELECT doc_id, CAST(0 AS BIGINT) AS n_should,
         |    CAST(sum(c_micro) AS BIGINT) AS score_micro
         |  FROM per GROUP BY 1),
         |kept AS (
         |  SELECT a.doc_id, a.n_should, a.score_micro FROM agg a
         |  WHERE a.doc_id IN (SELECT doc_id FROM ph))
         |SELECT doc_id, n_should, score_micro, CAST(row_number() OVER (
         |    ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rk
         |FROM kept ORDER BY score_micro DESC, doc_id ASC LIMIT 15""".stripMargin,

    // Facet metrics: per-lang count + exact n_chars sum/min/max of
    // matching docs.
    "q_text_facet_metrics" ->
      """WITH tk AS (
        |  SELECT doc_id, lang, n_chars,
        |    list_filter(string_split_regex(text, ' +'), t -> t != '') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT DISTINCT doc_id, lang, n_chars
        |  FROM (SELECT doc_id, lang, n_chars, unnest(toks) AS term FROM tk)
        |  WHERE term IN ('stream', 'join', 'filter'))
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_v,
        |  CAST(min(n_chars) AS BIGINT) AS min_v,
        |  CAST(max(n_chars) AS BIGINT) AS max_v
        |FROM m GROUP BY 1 ORDER BY lang""".stripMargin,

    // Autocomplete: prefix completions by df, the oracle from the
    // tokenized corpus.
    "q_text_suggest" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
        |    t -> t != '') AS toks
        |  FROM documents),
        |vocab AS (
        |  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM (SELECT doc_id, unnest(toks) AS term FROM tk) GROUP BY 1)
        |SELECT term, df FROM vocab WHERE term LIKE 's%'
        |ORDER BY df DESC, term ASC LIMIT 5""".stripMargin,

    // Regex doc search: matching vocabulary terms, then per-doc distinct
    // matched terms and summed occurrences.
    "q_text_regex" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
        |    t -> t != '') AS toks
        |  FROM documents),
        |occ AS (SELECT doc_id, unnest(toks) AS term FROM tk),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM occ
        |  WHERE regexp_matches(term, '^s.*a') GROUP BY 1, 2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
        |  CAST(sum(tf) AS BIGINT) AS tf_sum
        |FROM tf GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "q_text_regex_opt" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
        |    t -> t != '') AS toks
        |  FROM documents),
        |occ AS (SELECT doc_id, unnest(toks) AS term FROM tk),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM occ
        |  WHERE regexp_matches(term, '^streams?$') GROUP BY 1, 2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
        |  CAST(sum(tf) AS BIGINT) AS tf_sum
        |FROM tf GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // Snippet text: the top-10 best windows (as q_text_snippet), window
    // tokens sliced back out of the tokenized text.
    "q_text_snippet_text" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
        |    t -> t != '') AS toks
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, u.pos AS pos, u.term AS term FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
        |      i -> struct_pack(pos := i - 1, term := toks[i]))) AS u
        |    FROM tk)
        |  WHERE u.term IN ('stream', 'join', 'filter')),
        |cov AS (
        |  SELECT a.doc_id, a.pos AS win_start,
        |    count(DISTINCT b.term) AS n_terms
        |  FROM occ a JOIN occ b ON a.doc_id = b.doc_id
        |    AND b.pos >= a.pos AND b.pos < a.pos + 8
        |  GROUP BY 1, 2),
        |best AS (
        |  SELECT doc_id, n_terms, win_start, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY n_terms DESC, win_start ASC) AS rn
        |  FROM cov),
        |sel AS (
        |  SELECT doc_id, n_terms, win_start FROM best WHERE rn = 1
        |  ORDER BY n_terms DESC, doc_id ASC LIMIT 10)
        |SELECT s.doc_id, CAST(s.n_terms AS BIGINT) AS n_terms,
        |  CAST(s.win_start AS BIGINT) AS win_start,
        |  array_to_string(
        |    tk.toks[CAST(s.win_start + 1 AS BIGINT):CAST(s.win_start + 8 AS BIGINT)],
        |    ' ') AS snippet
        |FROM sel s JOIN tk ON s.doc_id = tk.doc_id
        |ORDER BY s.doc_id""".stripMargin,

    // PRF: stage 1 = the 2-term pivot-grid ranking (top-5 feedback
    // docs); stage 2 = their tf·idf top-2 expansion terms (originals
    // excluded); stage 3 = the batch per-term-floor grid over the
    // expanded set.
    "q_text_prf" ->
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
         |    t -> t != '') AS toks
         |  FROM documents),
         |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM tk),
         |consts AS (
         |  SELECT count(*) AS n_docs,
         |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM d),
         |tf0 AS (
         |  SELECT doc_id, dl, term, count(*) AS tf
         |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
         |  WHERE term IN ('stream', 'join') GROUP BY 1, 2, 3),
         |dfq0 AS (SELECT term, count(*) AS df FROM tf0 GROUP BY 1),
         |per0 AS (
         |  SELECT doc_id, term,
         |    ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
         |             (CAST(df AS DOUBLE) + 0.5)) *
         |    (CAST(tf AS DOUBLE) * ${1.2 + 1.0}) /
         |    (CAST(tf AS DOUBLE) + 1.2 *
         |      (${1.0 - 0.75} + 0.75 * (CAST(dl AS DOUBLE) / avgdl))) AS contrib
         |  FROM tf0 JOIN dfq0 USING (term) CROSS JOIN consts),
         |piv0 AS (
         |  SELECT doc_id,
         |    max(CASE WHEN term = 'stream' THEN contrib END) AS c1,
         |    max(CASE WHEN term = 'join' THEN contrib END) AS c2
         |  FROM per0 GROUP BY 1),
         |sel AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, CAST(floor(
         |        (COALESCE(c1, 0.0) + COALESCE(c2, 0.0)) * 1000000.0)
         |      AS BIGINT) AS score_micro
         |    FROM piv0)
         |  ORDER BY score_micro DESC, doc_id ASC LIMIT 5),
         |fb AS (
         |  SELECT term, count(*) AS tf
         |  FROM (SELECT unnest(toks) AS term FROM tk
         |        WHERE doc_id IN (SELECT doc_id FROM sel))
         |  WHERE term NOT IN ('stream', 'join') GROUP BY 1),
         |fbdf AS (
         |  SELECT term, count(DISTINCT doc_id) AS df
         |  FROM (SELECT doc_id, unnest(toks) AS term FROM tk)
         |  WHERE term IN (SELECT term FROM fb) GROUP BY 1),
         |exp AS (
         |  SELECT term FROM (
         |    SELECT f.term, CAST(floor(CAST(f.tf AS DOUBLE) *
         |      ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(x.df AS DOUBLE) + 0.5) /
         |               (CAST(x.df AS DOUBLE) + 0.5)) * 1000000.0) AS BIGINT)
         |      AS tfidf_micro
         |    FROM fb f JOIN fbdf x USING (term) CROSS JOIN consts)
         |  ORDER BY tfidf_micro DESC, term ASC LIMIT 2),
         |qt AS (
         |  SELECT 'stream' AS term UNION ALL SELECT 'join'
         |  UNION ALL SELECT term FROM exp),
         |tf1 AS (
         |  SELECT doc_id, dl, term, count(*) AS tf
         |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
         |  WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
         |dfq1 AS (SELECT term, count(*) AS df FROM tf1 GROUP BY 1),
         |per1 AS (
         |  SELECT doc_id, term, CAST(floor(
         |    ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
         |             (CAST(df AS DOUBLE) + 0.5)) *
         |    (CAST(tf AS DOUBLE) * ${1.2 + 1.0}) /
         |    (CAST(tf AS DOUBLE) + 1.2 *
         |      (${1.0 - 0.75} + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
         |    * 1000000.0) AS BIGINT) AS c_micro
         |  FROM tf1 JOIN dfq1 USING (term) CROSS JOIN consts),
         |sc AS (
         |  SELECT doc_id, CAST(sum(c_micro) AS BIGINT) AS score_micro
         |  FROM per1 GROUP BY 1)
         |SELECT doc_id, score_micro, CAST(row_number() OVER (
         |    ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rk
         |FROM sc ORDER BY score_micro DESC, doc_id ASC LIMIT 10""".stripMargin,

    // Proximity: per doc the minimal window covering both terms (the
    // optimal window starts at an occurrence; span(p) = max over terms
    // of min{pos >= p} - p + 1), kept when <= slop.
    "q_text_proximity" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
        |    t -> t != '') AS toks
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, u.pos AS pos, u.term AS term FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
        |      i -> struct_pack(pos := i - 1, term := toks[i]))) AS u
        |    FROM tk)
        |  WHERE u.term IN ('stream', 'join')),
        |present AS (
        |  SELECT doc_id FROM occ GROUP BY 1
        |  HAVING count(DISTINCT term) = 2),
        |m AS (
        |  SELECT a.doc_id, a.pos AS start, b.term, min(b.pos) AS mp
        |  FROM occ a JOIN occ b
        |    ON a.doc_id = b.doc_id AND b.pos >= a.pos
        |  WHERE a.doc_id IN (SELECT doc_id FROM present)
        |  GROUP BY 1, 2, 3),
        |w AS (
        |  SELECT doc_id, start, max(mp) - start + 1 AS span
        |  FROM m GROUP BY doc_id, start HAVING count(*) = 2),
        |s AS (
        |  SELECT doc_id, CAST(min(span) AS BIGINT) AS min_span
        |  FROM w GROUP BY 1)
        |SELECT doc_id, min_span FROM s WHERE min_span <= 12
        |ORDER BY doc_id""".stripMargin,

    // Did-you-mean: per input term the best correction by
    // (dist asc, df desc, term asc); unmatched terms keep NULLs.
    "q_text_didyoumean" ->
      """WITH qt AS (
        |  SELECT q FROM (VALUES ('strean'), ('join'), ('filtr'), ('zzz'))
        |    x(q)),
        |tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
        |    t -> t != '') AS toks
        |  FROM documents),
        |vocab AS (
        |  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM (SELECT doc_id, unnest(toks) AS term FROM tk) GROUP BY 1),
        |cand AS (
        |  SELECT qt.q, v.term, v.df, levenshtein(qt.q, v.term) AS dist
        |  FROM qt JOIN vocab v ON levenshtein(qt.q, v.term) <= 1),
        |best AS (
        |  SELECT q, term, df, row_number() OVER (PARTITION BY q
        |    ORDER BY dist ASC, df DESC, term ASC) AS rn
        |  FROM cand)
        |SELECT qt.q AS query, b.term AS suggestion, b.df
        |FROM qt LEFT JOIN best b ON qt.q = b.q AND b.rn = 1
        |ORDER BY query""".stripMargin,

    // More-like-this: doc 42's top-3 tf·idf terms (idf on the corpus,
    // micro-grid, ties to the smaller term), then the per-term-floored
    // BM25 sum (order-free exact) over those terms, source doc excluded.
    "q_text_mlt" ->
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
         |    t -> t != '') AS toks
         |  FROM documents),
         |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM tk),
         |consts AS (
         |  SELECT count(*) AS n_docs,
         |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM d),
         |src AS (
         |  SELECT term, count(*) AS tf
         |  FROM (SELECT unnest(toks) AS term FROM tk WHERE doc_id = 42)
         |  GROUP BY 1),
         |srcdf AS (
         |  SELECT term, count(DISTINCT doc_id) AS df
         |  FROM (SELECT doc_id, unnest(toks) AS term FROM tk)
         |  WHERE term IN (SELECT term FROM src) GROUP BY 1),
         |qt AS (
         |  SELECT term FROM (
         |    SELECT s.term, CAST(floor(CAST(s.tf AS DOUBLE) *
         |      ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5) /
         |               (CAST(f.df AS DOUBLE) + 0.5)) * 1000000.0) AS BIGINT)
         |      AS tfidf_micro
         |    FROM src s JOIN srcdf f USING (term) CROSS JOIN consts)
         |  ORDER BY tfidf_micro DESC, term ASC LIMIT 3),
         |tf AS (
         |  SELECT doc_id, dl, term, count(*) AS tf
         |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
         |  WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |per AS (
         |  SELECT doc_id, term, CAST(floor(
         |    ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
         |             (CAST(df AS DOUBLE) + 0.5)) *
         |    (CAST(tf AS DOUBLE) * ${1.2 + 1.0}) /
         |    (CAST(tf AS DOUBLE) + 1.2 *
         |      (${1.0 - 0.75} + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
         |    * 1000000.0) AS BIGINT) AS c_micro
         |  FROM tf JOIN dfq USING (term) CROSS JOIN consts),
         |sc AS (
         |  SELECT doc_id, CAST(sum(c_micro) AS BIGINT) AS score_micro
         |  FROM per WHERE doc_id != 42 GROUP BY 1)
         |SELECT doc_id, score_micro, CAST(row_number() OVER (
         |    ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rk
         |FROM sc ORDER BY score_micro DESC, doc_id ASC LIMIT 10""".stripMargin,

    // Collocations: ordered within-2 pairs, PMI on the 10^-6 grid with
    // the exact multiplication order the Spark side uses.
    "q_text_collocations" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
        |    t -> t != '') AS toks
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, u.pos AS pos, u.term AS w FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
        |      i -> struct_pack(pos := i - 1, term := toks[i]))) AS u
        |    FROM tk)),
        |uni AS (SELECT w, count(*) AS c_w FROM occ GROUP BY 1),
        |ntok AS (SELECT count(*) AS n_tok FROM occ),
        |pairs AS (
        |  SELECT a.w AS w1, b.w AS w2
        |  FROM occ a JOIN occ b ON a.doc_id = b.doc_id
        |    AND b.pos > a.pos AND b.pos <= a.pos + 2),
        |pc AS (
        |  SELECT w1, w2, count(*) AS n_pair FROM pairs GROUP BY 1, 2
        |  HAVING count(*) >= 2),
        |np AS (SELECT count(*) AS n_pair_total FROM pairs)
        |SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
        |  CAST(floor(ln(
        |    (CAST(n_pair AS DOUBLE) * CAST(n_tok AS DOUBLE) *
        |     CAST(n_tok AS DOUBLE)) /
        |    (CAST(ua.c_w AS DOUBLE) * CAST(ub.c_w AS DOUBLE) *
        |     CAST(n_pair_total AS DOUBLE))) * 1000000.0) AS BIGINT)
        |    AS pmi_micro
        |FROM pc
        |JOIN uni ua ON pc.w1 = ua.w
        |JOIN uni ub ON pc.w2 = ub.w
        |CROSS JOIN np CROSS JOIN ntok
        |ORDER BY pmi_micro DESC, w1 ASC, w2 ASC LIMIT 20""".stripMargin,

    "q_pivot" ->
      """SELECT user_id % 10 AS cohort,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY cohort""".stripMargin,

    "q_unpivot" ->
      """WITH l AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |    l_discount
        |  FROM lineitem WHERE l_orderkey < 100)
        |SELECT * FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
        |    l_quantity AS val FROM l
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        |  FROM l
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM l)
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin,

    "q_window_ntile" ->
      """SELECT event_id, event_type,
        |  ntile(4) OVER (PARTITION BY event_type
        |                 ORDER BY value ASC, event_id ASC) AS quartile
        |FROM events ORDER BY event_id""".stripMargin,

    "q_decontaminate" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
        |    t -> t != '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(tk) - 2),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])))
        |    AS ngram
        |  FROM tk),
        |b AS (SELECT doc_id AS bench_id, ngram FROM sh WHERE doc_id % 20 = 0),
        |tr AS (SELECT doc_id AS train_id, ngram FROM sh WHERE doc_id % 20 != 0)
        |SELECT train_id, bench_id, count(*) AS shared_ngrams
        |FROM tr JOIN b USING (ngram)
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY train_id, bench_id""".stripMargin,

    "q_decontaminate_bloom" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
        |    t -> t != '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(tk) - 1),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])))
        |    AS ngram
        |  FROM tk),
        |b AS (SELECT doc_id AS bench_id, ngram FROM sh WHERE doc_id % 20 = 0),
        |tr AS (SELECT doc_id AS train_id, ngram FROM sh WHERE doc_id % 20 != 0)
        |SELECT train_id, bench_id, count(*) AS shared_ngrams
        |FROM tr JOIN b USING (ngram)
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY train_id, bench_id""".stripMargin,

    "q_decontaminate_overlap" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
        |    t -> t != '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(tk) - 2),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])))
        |    AS ngram
        |  FROM tk),
        |b AS (SELECT DISTINCT ngram FROM sh WHERE doc_id % 20 = 0),
        |tr AS (SELECT doc_id AS train_id, ngram FROM sh WHERE doc_id % 20 != 0)
        |SELECT train_id, CAST(count(*) AS BIGINT) AS total_ngrams,
        |  CAST(count(b.ngram) AS BIGINT) AS contaminated,
        |  CAST(count(b.ngram) AS DOUBLE) / count(*) AS overlap_frac
        |FROM tr LEFT JOIN b ON tr.ngram = b.ngram
        |GROUP BY train_id ORDER BY train_id""".stripMargin,

    "q_cluster_kmeans" ->
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |cent AS (
         |  SELECT vec_id AS centroid_id, e AS ce FROM v
         |  ORDER BY vec_id ASC LIMIT 8),
         |asg AS (
         |  SELECT v_id, v_e, centroid_id FROM (
         |    SELECT v.vec_id AS v_id, v.e AS v_e, c.centroid_id,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${dCosine("v.e", "c.ce")} DESC, c.centroid_id ASC) AS rk
         |    FROM v CROSS JOIN cent c)
         |  WHERE rk = 1),
         |sz AS (SELECT centroid_id, CAST(count(*) AS BIGINT) AS n
         |  FROM asg GROUP BY 1),
         |mn AS (
         |  SELECT centroid_id, t.i AS pos, CAST(avg(v_e[t.i + 1]) AS FLOAT) AS mf
         |  FROM asg, range(0, 64) t(i)
         |  GROUP BY 1, 2)
         |SELECT c.centroid_id, CAST(coalesce(s.n, 0) AS BIGINT) AS n,
         |  CAST(p.i AS INTEGER) AS pos,
         |  CAST(coalesce(mn.mf, CAST(c.ce[p.i + 1] AS FLOAT)) AS DOUBLE) AS m
         |FROM cent c
         |CROSS JOIN range(0, 64) p(i)
         |LEFT JOIN sz s ON s.centroid_id = c.centroid_id
         |LEFT JOIN mn ON mn.centroid_id = c.centroid_id AND mn.pos = p.i
         |ORDER BY c.centroid_id, pos""".stripMargin,

    "q_dedup_editdist" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    substr(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), 1, 80)
        |      AS nt
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.nt, b.nt) AS BIGINT) AS dist
        |FROM d a JOIN d b
        |  ON a.lang = b.lang AND substr(a.nt, 1, 8) = substr(b.nt, 1, 8)
        |  AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.nt, b.nt) <= 20
        |ORDER BY id_a, id_b""".stripMargin,

    "q_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t_1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, t_1, min(e.ts) AS t_2
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > t_1 GROUP BY 1, 2),
        |s3 AS (
        |  SELECT e.user_id, t_1, t_2, min(e.ts) AS t_3
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > t_2 GROUP BY 1, 2, 3)
        |SELECT user_id, t_1, t_2, t_3 FROM s3 ORDER BY user_id""".stripMargin,

    "q_funnel_counts" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t_1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, t_1, min(e.ts) AS t_2
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > t_1 GROUP BY 1, 2),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t_3
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > t_2 GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS step,
        |  (SELECT count(*) FROM s1) AS users
        |UNION ALL SELECT CAST(2 AS BIGINT), (SELECT count(*) FROM s2)
        |UNION ALL SELECT CAST(3 AS BIGINT), (SELECT count(*) FROM s3)
        |ORDER BY step""".stripMargin,

    // Z-order: min-max scaling to the 16-bit grid, then the Morton
    // interleave as explicit bit arithmetic (generated: dim d bit i →
    // position 2i+d) — byte-identical semantics in both engines.
    "q_zorder" -> {
      val interleave = (for {
        i <- 0 until 16
        (v, d) <- Seq(("v0", 0), ("v1", 1))
      } yield s"((($v >> $i) & 1) << ${i * 2 + d})").mkString(" + ")
      s"""WITH mm AS (
         |  SELECT CAST(min(l_partkey) AS BIGINT) AS mn0,
         |    CAST(max(l_partkey) AS BIGINT) AS mx0,
         |    CAST(min(l_suppkey) AS BIGINT) AS mn1,
         |    CAST(max(l_suppkey) AS BIGINT) AS mx1
         |  FROM lineitem),
         |v AS (
         |  SELECT l_orderkey, l_linenumber,
         |    CASE WHEN mx0 > mn0
         |      THEN ((l_partkey - mn0) * 65535) // (mx0 - mn0)
         |      ELSE 0 END AS v0,
         |    CASE WHEN mx1 > mn1
         |      THEN ((l_suppkey - mn1) * 65535) // (mx1 - mn1)
         |      ELSE 0 END AS v1
         |  FROM lineitem, mm)
         |SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
         |  CAST(l_linenumber AS BIGINT) AS l_linenumber,
         |  CAST($interleave AS BIGINT) AS z
         |FROM v ORDER BY z, l_orderkey, l_linenumber""".stripMargin
    },

    // Time-bounded funnel: the q_funnel cascade with the 24 h gap cap
    // on each transition (epoch-ms comparison, same truncation).
    "q_funnel_within" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t_1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, t_1, min(e.ts) AS t_2
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > t_1
        |    AND epoch_ms(e.ts) <= epoch_ms(t_1) + 86400000
        |  GROUP BY 1, 2),
        |s3 AS (
        |  SELECT e.user_id, t_1, t_2, min(e.ts) AS t_3
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > t_2
        |    AND epoch_ms(e.ts) <= epoch_ms(t_2) + 86400000
        |  GROUP BY 1, 2, 3)
        |SELECT user_id, t_1, t_2, t_3 FROM s3 ORDER BY user_id""".stripMargin,

    // Funnel timing: per-transition exact ms stats over the converted
    // cohort + bucketed p50 (the q_metric_hist_quantile selection).
    "q_funnel_timing" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t_1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, t_1, min(e.ts) AS t_2
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > t_1 GROUP BY 1, 2),
        |s3 AS (
        |  SELECT e.user_id, t_1, t_2, min(e.ts) AS t_3
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > t_2 GROUP BY 1, 2, 3),
        |d AS (
        |  SELECT CAST(2 AS BIGINT) AS step,
        |    epoch_ms(t_2) - epoch_ms(t_1) AS d_ms FROM s3
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), epoch_ms(t_3) - epoch_ms(t_2)
        |  FROM s3),
        |a AS (
        |  SELECT step, CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(min(d_ms) AS BIGINT) AS min_ms,
        |    CAST(max(d_ms) AS BIGINT) AS max_ms,
        |    CAST(sum(d_ms) AS BIGINT) AS sum_ms
        |  FROM d GROUP BY 1),
        |b AS (
        |  SELECT step, ((d_ms + 999) // 1000) * 1000 AS le,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM d GROUP BY 1, 2),
        |c AS (
        |  SELECT step, le, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY step ORDER BY le
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(COALESCE(lag(le) OVER (PARTITION BY step ORDER BY le),
        |      0) AS BIGINT) AS lower,
        |    CAST(sum(cnt) OVER (PARTITION BY step) AS BIGINT) AS total
        |  FROM b),
        |sel AS (
        |  SELECT step, le, cnt, cum, lower, total,
        |    row_number() OVER (PARTITION BY step ORDER BY le) AS pick
        |  FROM c
        |  WHERE cnt > 0 AND cum * 1000000 >= 500000 * total),
        |p AS (
        |  SELECT step,
        |    CAST(floor(CAST(lower AS DOUBLE) + CAST(le - lower AS DOUBLE)
        |      * ((500000.0 * CAST(total AS DOUBLE) -
        |          CAST(cum - cnt AS DOUBLE) * 1000000.0) /
        |         (CAST(cnt AS DOUBLE) * 1000000.0))) AS BIGINT)
        |      AS p50_ms_bucketed
        |  FROM sel WHERE pick = 1)
        |SELECT a.step, n_users, min_ms, max_ms, sum_ms,
        |  CAST(sum_ms // n_users AS BIGINT) AS avg_ms, p50_ms_bucketed
        |FROM a JOIN p USING (step) ORDER BY step""".stripMargin,

    "q_event_paths" ->
      """WITH e AS (
        |  SELECT event_type AS src,
        |    lead(event_type) OVER w AS dst,
        |    epoch_ms(lead(ts) OVER w) - epoch_ms(ts) AS gap_ms
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |agg AS (
        |  SELECT src, dst, count(*) AS n FROM e
        |  WHERE dst IS NOT NULL AND gap_ms <= 21600000 GROUP BY 1, 2)
        |SELECT src, dst, n,
        |  CAST(row_number() OVER (ORDER BY n DESC, src, dst) AS BIGINT)
        |    AS rk
        |FROM agg ORDER BY n DESC, src, dst LIMIT 15""".stripMargin,

    "q_retention_cohort" ->
      """WITH su AS (
        |  SELECT user_id, min(ts) AS t0 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |su2 AS (SELECT user_id, t0, date_trunc('week', t0) AS cohort_week
        |        FROM su)
        |SELECT cohort_week,
        |  CAST((epoch_ms(e.ts) - epoch_ms(cohort_week)) // 604800000 AS BIGINT)
        |    AS week_offset,
        |  count(DISTINCT e.user_id) AS active_users
        |FROM events e JOIN su2 USING (user_id)
        |WHERE e.ts >= t0
        |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin,

    "q_fill_forward" ->
      """SELECT event_id, user_id,
        |  last_value(CASE WHEN event_type = 'purchase' THEN value END
        |             IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "q_window_rolling" ->
      """SELECT event_id, user_id,
        |  count(*) OVER w AS w_count,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w AS BIGINT)
        |    AS w_sum
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
        |             RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    "q_join_interval" ->
      """WITH a AS (
        |  SELECT user_id, min(ts) AS s, max(ts) AS e
        |  FROM events WHERE user_id < 40
        |  GROUP BY user_id, date_trunc('day', ts)),
        |b AS (
        |  SELECT event_type, min(ts) AS i_s, max(ts) AS i_e
        |  FROM events
        |  GROUP BY event_type, date_trunc('day', ts))
        |SELECT user_id, s, e, event_type AS i_event_type, i_s, i_e
        |FROM a JOIN b ON s <= i_e AND i_s <= e
        |ORDER BY user_id, s, i_event_type, i_s""".stripMargin,

    "q_join_range" ->
      """WITH win AS (
        |  SELECT make_timestamp((1704110400 + i * 86400) * 1000000)
        |      AS win_start,
        |    make_timestamp((1704110400 + i * 86400 + 3599) * 1000000)
        |      AS win_end
        |  FROM range(0, 30) t(i))
        |SELECT win_start, count(*) AS n_events
        |FROM events e JOIN win
        |  ON e.ts >= win_start AND e.ts <= win_end
        |GROUP BY 1 ORDER BY win_start""".stripMargin,

    "q_dedup_containment" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, ' +'),
        |    t -> t != '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shh
        |  FROM tk WHERE len(tk) >= 3),
        |sz AS (SELECT doc_id, CAST(len(shh) AS BIGINT) AS sz FROM sh),
        |ex AS (SELECT doc_id, unnest(shh) AS s FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id != b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
        |  CAST(inter AS DOUBLE) / sa.sz AS containment
        |FROM pairs JOIN sz sa ON sa.doc_id = id_a
        |WHERE CAST(inter AS DOUBLE) / sa.sz >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    "q_agg_corr" ->
      """WITH q AS (
        |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS x,
        |    CAST(hour(ts) AS BIGINT) AS y
        |  FROM events),
        |m AS (
        |  SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        |  FROM q GROUP BY 1)
        |SELECT event_type,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |   CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |  (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |   sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
        |        CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_xy
        |FROM m ORDER BY event_type""".stripMargin,

    "q_percentile_binned" ->
      """WITH q AS (
        |  SELECT event_type,
        |    make_timestamp((epoch_ms(ts) // 86400000) * 86400000 * 1000)
        |      AS bin_start,
        |    CAST(floor(value * 100) AS BIGINT) AS vq, event_id
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY event_type, bin_start
        |                       ORDER BY vq ASC, event_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY event_type, bin_start) AS n
        |  FROM q)
        |SELECT event_type, bin_start,
        |  max(CASE WHEN rn - 1 = floor(0.5 * (n - 1)) THEN vq END) AS p50,
        |  max(CASE WHEN rn - 1 = floor(0.95 * (n - 1)) THEN vq END) AS p95,
        |  max(CASE WHEN rn - 1 = floor(0.99 * (n - 1)) THEN vq END) AS p99
        |FROM r GROUP BY 1, 2 ORDER BY event_type, bin_start""".stripMargin,

    "q_window_percentrank" ->
      """SELECT event_id, event_type,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value ASC, event_id ASC)
        |ORDER BY event_id""".stripMargin,

    "q_trace_depgraph" ->
      """WITH s AS (
        |  SELECT user_id AS t_id,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) - 1 AS BIGINT) AS s_id,
        |    event_type AS service,
        |    CAST(floor(value * 100) AS BIGINT) AS dur
        |  FROM events),
        |sp AS (
        |  SELECT t_id, s_id,
        |    CASE WHEN s_id = 0 THEN NULL ELSE (s_id - 1) // 2 END AS p_id,
        |    service, dur
        |  FROM s)
        |SELECT p.service AS parent_service, c.service AS child_service,
        |  CAST(count(*) AS BIGINT) AS calls,
        |  CAST(count(DISTINCT c.t_id) AS BIGINT) AS n_traces,
        |  CAST(sum(c.dur) AS BIGINT) AS sum_dur,
        |  CAST(max(c.dur) AS BIGINT) AS max_dur,
        |  CAST(sum(c.dur) AS DOUBLE) / count(*) AS avg_dur
        |FROM sp c JOIN sp p ON c.t_id = p.t_id AND c.p_id = p.s_id
        |GROUP BY 1, 2
        |ORDER BY parent_service, child_service""".stripMargin,

    "q_log_templates" ->
      """WITH l AS (
        |  SELECT user_id, ts, event_type || ' ' || props AS line
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts, line,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(line,
        |      '"[^"]*"', '"<*>"', 'g'),
        |      '\b[0-9a-f]{8,}\b', '<HEX>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |      '\d+', '<N>', 'g') AS template
        |  FROM l)
        |SELECT template,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  min(ts) AS first_ts, max(ts) AS last_ts,
        |  min(line) AS example
        |FROM m GROUP BY 1 ORDER BY template""".stripMargin,

    "q_sample_mixture" ->
      s"""WITH b AS (
         |  SELECT doc_id, source,
         |    ${dHash60("CAST(doc_id AS VARCHAR)")} % 1000000 AS bucket,
         |    CASE WHEN source = 'src1' THEN CAST(2.5 AS DOUBLE)
         |         WHEN source = 'src2' THEN CAST(0.25 AS DOUBLE)
         |         WHEN source = 'src3' THEN CAST(3.0 AS DOUBLE)
         |         ELSE CAST(1.0 AS DOUBLE) END AS w
         |  FROM documents),
         |n AS (
         |  SELECT doc_id, source,
         |    CAST(floor(w) AS BIGINT) +
         |      (CASE WHEN CAST(bucket AS DOUBLE) < (w - floor(w)) * 1000000.0
         |            THEN 1 ELSE 0 END) AS n
         |  FROM b)
         |SELECT doc_id, source,
         |  CAST(unnest(range(1, n + 1)) AS BIGINT) AS epoch
         |FROM n WHERE n > 0
         |ORDER BY doc_id, epoch""".stripMargin,

    // Threshold sweep: per-threshold confusion counts + micro-grid
    // precision/recall via BIGINT floor division.
    "q_eval_threshold_sweep" ->
      """WITH th AS (
        |  SELECT CAST(t AS BIGINT) AS threshold
        |  FROM (VALUES (100), (200), (400), (800)) x(t)),
        |d AS (SELECT n_chars AS score, (lang = 'en') AS y FROM documents),
        |agg AS (
        |  SELECT threshold,
        |    sum(CASE WHEN score >= threshold AND y THEN 1 ELSE 0 END) AS tp,
        |    sum(CASE WHEN score >= threshold AND NOT y THEN 1 ELSE 0 END)
        |      AS fp,
        |    sum(CASE WHEN score < threshold AND y THEN 1 ELSE 0 END) AS fn,
        |    sum(CASE WHEN score < threshold AND NOT y THEN 1 ELSE 0 END)
        |      AS tn
        |  FROM d CROSS JOIN th GROUP BY 1)
        |SELECT threshold, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        |  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
        |  CASE WHEN tp + fp > 0
        |       THEN CAST(tp * 1000000 // (tp + fp) AS BIGINT) END
        |    AS precision_micro,
        |  CASE WHEN tp + fn > 0
        |       THEN CAST(tp * 1000000 // (tp + fn) AS BIGINT) END
        |    AS recall_micro
        |FROM agg ORDER BY threshold""".stripMargin,

    // Exact AUC: 2U = sum over distinct scores of pos_s*(2*neg_below +
    // neg_s); auc_micro = floor(1e6*2U/(2*P*N)) in BIGINTs.
    "q_eval_auc" ->
      """WITH d AS (
        |  SELECT n_chars AS s, (lang = 'en') AS y FROM documents),
        |ps AS (
        |  SELECT s, sum(CASE WHEN y THEN 1 ELSE 0 END) AS pos_s,
        |    sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS neg_s
        |  FROM d GROUP BY 1),
        |c AS (
        |  SELECT s, pos_s, neg_s,
        |    COALESCE(sum(neg_s) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS neg_below
        |  FROM ps),
        |a AS (
        |  SELECT CAST(sum(pos_s) AS BIGINT) AS pos,
        |    CAST(sum(neg_s) AS BIGINT) AS neg,
        |    CAST(sum(pos_s * (2 * neg_below + neg_s)) AS BIGINT) AS two_u
        |  FROM c)
        |SELECT pos, neg,
        |  CASE WHEN pos > 0 AND neg > 0
        |       THEN CAST(two_u * 1000000 // (2 * pos * neg) AS BIGINT) END
        |    AS auc_micro
        |FROM a""".stripMargin,

    // Per-group AUC: the q_eval_auc CTEs partitioned by source.
    // AP: the rank walk in SQL — deterministic (s DESC, id ASC) order,
    // per-positive prec@k floored to the micro grid before the sum
    "q_eval_ap" ->
      """WITH d AS (
        |  SELECT doc_id AS i, n_chars AS s, (lang = 'en') AS y
        |  FROM documents),
        |r AS (
        |  SELECT y,
        |    row_number() OVER (ORDER BY s DESC, i ASC) AS rk,
        |    sum(CASE WHEN y THEN 1 ELSE 0 END) OVER (ORDER BY s DESC, i ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
        |  FROM d),
        |a AS (
        |  SELECT CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN y THEN cp * 1000000 // rk END) AS BIGINT)
        |      AS ap_sum
        |  FROM r)
        |SELECT pos, n,
        |  CASE WHEN pos > 0 THEN CAST(ap_sum // pos AS BIGINT) END
        |    AS ap_micro
        |FROM a""".stripMargin,

    "q_eval_retrieval" ->
      """WITH tk AS (
        |  SELECT doc_id, lang, list_filter(string_split_regex(text, ' +'),
        |    t -> t != '') AS toks
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, lang, term, count(*) AS tf
        |  FROM (SELECT doc_id, lang, unnest(toks) AS term FROM tk)
        |  WHERE term IN ('stream', 'join', 'filter') GROUP BY 1, 2, 3),
        |q AS (SELECT CAST(q_id AS BIGINT) AS q_id, qterm FROM (VALUES
        |  (0, 'stream'), (1, 'join'), (2, 'filter')) AS v(q_id, qterm)),
        |cand AS (
        |  SELECT q_id, doc_id, lang, tf FROM tf JOIN q ON term = qterm),
        |ranked AS (
        |  SELECT q_id, doc_id, rk FROM (
        |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
        |      ORDER BY tf DESC, doc_id ASC) AS rk
        |    FROM cand)
        |  WHERE rk <= 10),
        |rel AS (SELECT DISTINCT q_id, doc_id FROM cand WHERE lang = 'en'),
        |nr AS (SELECT q_id, count(*) AS n_rel FROM rel GROUP BY 1),
        |h AS (
        |  SELECT r.q_id, count(*) AS hits, min(rk) AS first_rank
        |  FROM ranked r JOIN rel USING (q_id, doc_id) GROUP BY 1)
        |SELECT nr.q_id, CAST(n_rel AS BIGINT) AS n_rel,
        |  CAST(COALESCE(hits, 0) AS BIGINT) AS hits,
        |  CAST(first_rank AS BIGINT) AS first_rank,
        |  CAST(COALESCE(1000000 // first_rank, 0) AS BIGINT) AS rr_micro,
        |  CAST(COALESCE(hits, 0) * 1000000 // n_rel AS BIGINT)
        |    AS recall_micro
        |FROM nr LEFT JOIN h ON nr.q_id = h.q_id ORDER BY nr.q_id""".stripMargin,

    "q_eval_pr_curve" ->
      """WITH d AS (
        |  SELECT doc_id AS i, n_chars AS s, (lang = 'en') AS y
        |  FROM documents),
        |r AS (
        |  SELECT y,
        |    row_number() OVER (ORDER BY s DESC, i ASC) AS rk,
        |    sum(CASE WHEN y THEN 1 ELSE 0 END) OVER (ORDER BY s DESC, i ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
        |  FROM d),
        |p AS (SELECT sum(CASE WHEN y THEN 1 ELSE 0 END) AS pos FROM d)
        |SELECT CAST(rk AS BIGINT) AS rk, CAST(cp AS BIGINT) AS cum_pos,
        |  CAST(cp * 1000000 // rk AS BIGINT) AS precision_micro,
        |  CAST(cp * 1000000 // pos AS BIGINT) AS recall_micro
        |FROM r, p WHERE y ORDER BY rk""".stripMargin,

    "q_eval_retrieval_summary" ->
      """WITH tk AS (
        |  SELECT doc_id, lang, list_filter(string_split_regex(text, ' +'),
        |    t -> t != '') AS toks
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, lang, term, count(*) AS tf
        |  FROM (SELECT doc_id, lang, unnest(toks) AS term FROM tk)
        |  WHERE term IN ('stream', 'join', 'filter') GROUP BY 1, 2, 3),
        |q AS (SELECT CAST(q_id AS BIGINT) AS q_id, qterm FROM (VALUES
        |  (0, 'stream'), (1, 'join'), (2, 'filter')) AS v(q_id, qterm)),
        |cand AS (
        |  SELECT q_id, doc_id, lang, tf FROM tf JOIN q ON term = qterm),
        |ranked AS (
        |  SELECT q_id, doc_id, rk FROM (
        |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
        |      ORDER BY tf DESC, doc_id ASC) AS rk
        |    FROM cand)
        |  WHERE rk <= 10),
        |rel AS (SELECT DISTINCT q_id, doc_id FROM cand WHERE lang = 'en'),
        |nr AS (SELECT q_id, count(*) AS n_rel FROM rel GROUP BY 1),
        |h AS (
        |  SELECT r.q_id, count(*) AS hits, min(rk) AS first_rank
        |  FROM ranked r JOIN rel USING (q_id, doc_id) GROUP BY 1),
        |m AS (
        |  SELECT nr.q_id,
        |    COALESCE(1000000 // first_rank, 0) AS rr_micro,
        |    COALESCE(hits, 0) * 1000000 // n_rel AS recall_micro,
        |    COALESCE(hits, 0) AS hits
        |  FROM nr LEFT JOIN h ON nr.q_id = h.q_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(sum(rr_micro) // count(*) AS BIGINT) AS mrr_micro,
        |  CAST(sum(recall_micro) // count(*) AS BIGINT)
        |    AS macro_recall_micro,
        |  CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS success_rate_micro
        |FROM m""".stripMargin,

    "q_eval_prec_at_k" ->
      """WITH tk AS (
        |  SELECT doc_id, lang, list_filter(string_split_regex(text, ' +'),
        |    t -> t != '') AS toks
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, lang, term, count(*) AS tf
        |  FROM (SELECT doc_id, lang, unnest(toks) AS term FROM tk)
        |  WHERE term IN ('stream', 'join', 'filter') GROUP BY 1, 2, 3),
        |q AS (SELECT CAST(q_id AS BIGINT) AS q_id, qterm FROM (VALUES
        |  (0, 'stream'), (1, 'join'), (2, 'filter')) AS v(q_id, qterm)),
        |cand AS (
        |  SELECT q_id, doc_id, lang, tf FROM tf JOIN q ON term = qterm),
        |ranked AS (
        |  SELECT q_id, doc_id, rk FROM (
        |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
        |      ORDER BY tf DESC, doc_id ASC) AS rk
        |    FROM cand)
        |  WHERE rk <= 10),
        |rel AS (SELECT DISTINCT q_id, doc_id FROM cand WHERE lang = 'en'),
        |nr AS (SELECT q_id, count(*) AS n_rel FROM rel GROUP BY 1),
        |h AS (
        |  SELECT r.q_id, count(*) AS hits_k
        |  FROM ranked r JOIN rel USING (q_id, doc_id)
        |  WHERE rk <= 5 GROUP BY 1)
        |SELECT nr.q_id, nr.n_rel,
        |  CAST(COALESCE(hits_k, 0) AS BIGINT) AS hits_k,
        |  CAST(COALESCE(hits_k, 0) * 1000000 // 5 AS BIGINT)
        |    AS p_at_k_micro,
        |  CAST(COALESCE(hits_k, 0) * 1000000 // n_rel AS BIGINT)
        |    AS recall_at_k_micro
        |FROM nr LEFT JOIN h ON nr.q_id = h.q_id ORDER BY nr.q_id""".stripMargin,

    "q_eval_topline" ->
      """WITH tk AS (
        |  SELECT doc_id, lang, list_filter(string_split_regex(text, ' +'),
        |    t -> t != '') AS toks
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, lang, term, count(*) AS tf
        |  FROM (SELECT doc_id, lang, unnest(toks) AS term FROM tk)
        |  WHERE term IN ('stream', 'join', 'filter') GROUP BY 1, 2, 3),
        |q AS (SELECT CAST(q_id AS BIGINT) AS q_id, qterm FROM (VALUES
        |  (0, 'stream'), (1, 'join'), (2, 'filter')) AS v(q_id, qterm)),
        |cand AS (
        |  SELECT q_id, doc_id, lang, tf FROM tf JOIN q ON term = qterm),
        |ranked AS (
        |  SELECT q_id, doc_id, rk FROM (
        |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
        |      ORDER BY tf DESC, doc_id ASC) AS rk
        |    FROM cand)
        |  WHERE rk <= 10),
        |rel AS (SELECT DISTINCT q_id, doc_id FROM cand WHERE lang = 'en'),
        |nr AS (SELECT q_id, count(*) AS n_rel FROM rel GROUP BY 1),
        |h AS (
        |  SELECT r.q_id, count(*) AS hits, min(rk) AS first_rank
        |  FROM ranked r JOIN rel USING (q_id, doc_id) GROUP BY 1),
        |m AS (
        |  SELECT nr.q_id,
        |    COALESCE(1000000 // first_rank, 0) AS rr_micro,
        |    COALESCE(hits, 0) * 1000000 // n_rel AS recall_micro,
        |    COALESCE(hits, 0) AS hits
        |  FROM nr LEFT JOIN h ON nr.q_id = h.q_id),
        |bin AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |    CAST(sum(rr_micro) // count(*) AS BIGINT) AS mrr_micro,
        |    CAST(sum(recall_micro) // count(*) AS BIGINT)
        |      AS macro_recall_micro,
        |    CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) * 1000000
        |      // count(*) AS BIGINT) AS success_rate_micro
        |  FROM m),
        |jud AS (
        |  SELECT q_id, doc_id,
        |    CASE WHEN lang = 'en' THEN 2 ELSE 1 END AS g
        |  FROM cand),
        |dcg AS (
        |  SELECT j.q_id, sum(CAST(floor(((1000000.0 * CAST(g AS DOUBLE))
        |      * 0.6931471805599453) / ln(CAST(rk AS DOUBLE) + 1.0))
        |    AS BIGINT)) AS dcg_micro
        |  FROM ranked r JOIN jud j USING (q_id, doc_id) GROUP BY 1),
        |ideal AS (
        |  SELECT q_id, g, row_number() OVER (PARTITION BY q_id
        |    ORDER BY g DESC, doc_id ASC) AS irk
        |  FROM jud WHERE g > 0),
        |idcg AS (
        |  SELECT q_id, sum(CAST(floor(((1000000.0 * CAST(g AS DOUBLE))
        |      * 0.6931471805599453) / ln(CAST(irk AS DOUBLE) + 1.0))
        |    AS BIGINT)) AS idcg_micro
        |  FROM ideal WHERE irk <= 10 GROUP BY 1),
        |nd AS (
        |  SELECT jq.q_id,
        |    CASE WHEN COALESCE(idcg_micro, 0) > 0 THEN
        |      CAST(COALESCE(dcg_micro, 0) * 1000000 // idcg_micro AS BIGINT)
        |    END AS ndcg_micro
        |  FROM (SELECT DISTINCT q_id FROM jud) jq
        |  LEFT JOIN dcg USING (q_id) LEFT JOIN idcg USING (q_id)),
        |gsum AS (
        |  SELECT
        |    CAST(sum(CASE WHEN ndcg_micro IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_scored,
        |    CAST(sum(ndcg_micro) // nullif(sum(CASE WHEN ndcg_micro IS NOT
        |      NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS macro_ndcg_micro
        |  FROM nd)
        |SELECT * FROM bin CROSS JOIN gsum""".stripMargin,

    // Ranking agreement: two row_number rankings over the same candidate
    // pool, top-10 Jaccard + Kendall τ over the common docs; the τ
    // division is sign-split (non-negative numerator on both engines —
    // DuckDB // floors, Spark div truncates).
    "q_eval_rank_agreement" ->
      """WITH tk AS (
        |  SELECT doc_id, n_chars, list_filter(string_split_regex(text,
        |    ' +'), t -> t != '') AS toks
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, n_chars, term, count(*) AS tf
        |  FROM (SELECT doc_id, n_chars, unnest(toks) AS term FROM tk)
        |  WHERE term IN ('stream', 'join', 'filter') GROUP BY 1, 2, 3),
        |q AS (SELECT CAST(q_id AS BIGINT) AS q_id, qterm FROM (VALUES
        |  (0, 'stream'), (1, 'join'), (2, 'filter')) AS v(q_id, qterm)),
        |cand AS (
        |  SELECT q_id, doc_id, n_chars, tf FROM tf JOIN q ON term = qterm),
        |ra AS (
        |  SELECT q_id, doc_id, rk FROM (
        |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
        |      ORDER BY tf DESC, doc_id ASC) AS rk FROM cand)
        |  WHERE rk <= 10),
        |rb AS (
        |  SELECT q_id, doc_id, rk FROM (
        |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
        |      ORDER BY n_chars DESC, doc_id ASC) AS rk FROM cand)
        |  WHERE rk <= 10),
        |na AS (SELECT q_id, count(*) AS n_a FROM ra GROUP BY 1),
        |nb AS (SELECT q_id, count(*) AS n_b FROM rb GROUP BY 1),
        |cm AS (
        |  SELECT ra.q_id, ra.doc_id, ra.rk AS a1, rb.rk AS b1
        |  FROM ra JOIN rb USING (q_id, doc_id)),
        |nc AS (SELECT q_id, count(*) AS n_common FROM cm GROUP BY 1),
        |p AS (
        |  SELECT l.q_id,
        |    sum(CASE WHEN (l.a1 - r.a1) * (l.b1 - r.b1) > 0 THEN 1
        |      ELSE 0 END) AS conc,
        |    sum(CASE WHEN (l.a1 - r.a1) * (l.b1 - r.b1) < 0 THEN 1
        |      ELSE 0 END) AS disc
        |  FROM cm l JOIN cm r ON l.q_id = r.q_id AND l.doc_id < r.doc_id
        |  GROUP BY 1)
        |SELECT na.q_id,
        |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(COALESCE(n_common, 0) AS BIGINT) AS n_common,
        |  CAST(COALESCE(n_common, 0) * 1000000 // nullif(n_a + n_b -
        |    COALESCE(n_common, 0), 0) AS BIGINT) AS jaccard_micro,
        |  CAST(CASE WHEN conc + disc > 0 THEN
        |    CASE WHEN conc >= disc
        |      THEN (conc - disc) * 1000000 // (conc + disc)
        |      ELSE -((disc - conc) * 1000000 // (conc + disc)) END
        |  END AS BIGINT) AS tau_micro
        |FROM na JOIN nb USING (q_id) LEFT JOIN nc USING (q_id)
        |LEFT JOIN p USING (q_id)
        |ORDER BY q_id""".stripMargin,

    // RBO@10: depth constants generated with the SAME repeated-
    // multiplication order as Eval.rboAtK and embedded as double
    // literals (round-trip-exact), per-depth floor before the sum.
    "q_eval_rbo" -> {
      val k = 10
      val p = 0.9
      val cs = new Array[Double](k + 1)
      var pPow = 1.0
      var d = 1
      while (d <= k) {
        cs(d) = 1000000.0 * (1.0 - p) * pPow / d.toDouble
        pPow = pPow * p
        d += 1
      }
      val caseW = (1 to k)
        .map(i => s"WHEN ${i} THEN ${cs(i)}").mkString(" ")
      s"""WITH tk AS (
         |  SELECT doc_id, n_chars, list_filter(string_split_regex(text,
         |    ' +'), t -> t != '') AS toks
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, n_chars, term, count(*) AS tf
         |  FROM (SELECT doc_id, n_chars, unnest(toks) AS term FROM tk)
         |  WHERE term IN ('stream', 'join', 'filter') GROUP BY 1, 2, 3),
         |q AS (SELECT CAST(q_id AS BIGINT) AS q_id, qterm FROM (VALUES
         |  (0, 'stream'), (1, 'join'), (2, 'filter')) AS v(q_id, qterm)),
         |cand AS (
         |  SELECT q_id, doc_id, n_chars, tf FROM tf JOIN q ON term = qterm),
         |ra AS (
         |  SELECT q_id, doc_id, rk FROM (
         |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY tf DESC, doc_id ASC) AS rk FROM cand)
         |  WHERE rk <= $k),
         |rb AS (
         |  SELECT q_id, doc_id, rk FROM (
         |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY n_chars DESC, doc_id ASC) AS rk FROM cand)
         |  WHERE rk <= $k),
         |qs AS (SELECT DISTINCT q_id FROM (
         |  SELECT q_id FROM ra UNION ALL SELECT q_id FROM rb)),
         |cm AS (
         |  SELECT ra.q_id, greatest(ra.rk, rb.rk) AS d_in
         |  FROM ra JOIN rb USING (q_id, doc_id)),
         |e AS (SELECT q_id, d_in, count(*) AS cnt FROM cm GROUP BY 1, 2),
         |g AS (
         |  SELECT q_id, CAST(d AS BIGINT) AS d
         |  FROM qs, (SELECT unnest(generate_series(1, $k)) AS d)),
         |o AS (
         |  SELECT g.q_id, g.d,
         |    CAST(sum(COALESCE(cnt, 0)) OVER (PARTITION BY g.q_id
         |      ORDER BY g.d ROWS BETWEEN UNBOUNDED PRECEDING AND
         |      CURRENT ROW) AS BIGINT) AS ov
         |  FROM g LEFT JOIN e ON g.q_id = e.q_id AND g.d = e.d_in),
         |t2 AS (
         |  SELECT q_id, d, ov,
         |    CAST(floor((CASE d $caseW END) * CAST(ov AS DOUBLE))
         |      AS BIGINT) AS term
         |  FROM o)
         |SELECT q_id,
         |  CAST(max(CASE WHEN d = $k THEN ov END) AS BIGINT) AS overlap_k,
         |  CAST(sum(term) AS BIGINT) AS rbo_micro
         |FROM t2 GROUP BY 1 ORDER BY q_id""".stripMargin
    },

    // RBO extrapolated: the truncated query plus the residual term —
    // the constant 10⁶·p^k/k comes from Eval.rboExtConstant (the SAME
    // multiplication order as the plan) as a round-trip-exact literal.
    "q_eval_rbo_ext" -> {
      val k = 10
      val p = 0.9
      val cs = new Array[Double](k + 1)
      var pPow = 1.0
      var d = 1
      while (d <= k) {
        cs(d) = 1000000.0 * (1.0 - p) * pPow / d.toDouble
        pPow = pPow * p
        d += 1
      }
      val extC = graft.ml.Eval.rboExtConstant(k, p)
      val caseW = (1 to k)
        .map(i => s"WHEN ${i} THEN ${cs(i)}").mkString(" ")
      s"""WITH tk AS (
         |  SELECT doc_id, n_chars, list_filter(string_split_regex(text,
         |    ' +'), t -> t != '') AS toks
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, n_chars, term, count(*) AS tf
         |  FROM (SELECT doc_id, n_chars, unnest(toks) AS term FROM tk)
         |  WHERE term IN ('stream', 'join', 'filter') GROUP BY 1, 2, 3),
         |q AS (SELECT CAST(q_id AS BIGINT) AS q_id, qterm FROM (VALUES
         |  (0, 'stream'), (1, 'join'), (2, 'filter')) AS v(q_id, qterm)),
         |cand AS (
         |  SELECT q_id, doc_id, n_chars, tf FROM tf JOIN q ON term = qterm),
         |ra AS (
         |  SELECT q_id, doc_id, rk FROM (
         |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY tf DESC, doc_id ASC) AS rk FROM cand)
         |  WHERE rk <= $k),
         |rb AS (
         |  SELECT q_id, doc_id, rk FROM (
         |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY n_chars DESC, doc_id ASC) AS rk FROM cand)
         |  WHERE rk <= $k),
         |qs AS (SELECT DISTINCT q_id FROM (
         |  SELECT q_id FROM ra UNION ALL SELECT q_id FROM rb)),
         |cm AS (
         |  SELECT ra.q_id, greatest(ra.rk, rb.rk) AS d_in
         |  FROM ra JOIN rb USING (q_id, doc_id)),
         |e AS (SELECT q_id, d_in, count(*) AS cnt FROM cm GROUP BY 1, 2),
         |g AS (
         |  SELECT q_id, CAST(d AS BIGINT) AS d
         |  FROM qs, (SELECT unnest(generate_series(1, $k)) AS d)),
         |o AS (
         |  SELECT g.q_id, g.d,
         |    CAST(sum(COALESCE(cnt, 0)) OVER (PARTITION BY g.q_id
         |      ORDER BY g.d ROWS BETWEEN UNBOUNDED PRECEDING AND
         |      CURRENT ROW) AS BIGINT) AS ov
         |  FROM g LEFT JOIN e ON g.q_id = e.q_id AND g.d = e.d_in),
         |t2 AS (
         |  SELECT q_id, d, ov,
         |    CAST(floor((CASE d $caseW END) * CAST(ov AS DOUBLE))
         |      AS BIGINT) AS term
         |  FROM o),
         |f AS (
         |  SELECT q_id,
         |    CAST(max(CASE WHEN d = $k THEN ov END) AS BIGINT)
         |      AS overlap_k,
         |    CAST(sum(term) AS BIGINT) AS rbo_micro
         |  FROM t2 GROUP BY 1)
         |SELECT q_id, overlap_k, rbo_micro,
         |  CAST(rbo_micro + floor($extC * CAST(overlap_k AS DOUBLE))
         |    AS BIGINT) AS rbo_ext_micro
         |FROM f ORDER BY q_id""".stripMargin
    },

    // Spearman's ρ: dense re-rank of the common docs (row_number by
    // each side's rank, doc_id tiebreak), exact Σd², one micro div.
    "q_eval_spearman" ->
      """WITH tk AS (
        |  SELECT doc_id, n_chars, list_filter(string_split_regex(text,
        |    ' +'), t -> t != '') AS toks
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, n_chars, term, count(*) AS tf
        |  FROM (SELECT doc_id, n_chars, unnest(toks) AS term FROM tk)
        |  WHERE term IN ('stream', 'join', 'filter') GROUP BY 1, 2, 3),
        |q AS (SELECT CAST(q_id AS BIGINT) AS q_id, qterm FROM (VALUES
        |  (0, 'stream'), (1, 'join'), (2, 'filter')) AS v(q_id, qterm)),
        |cand AS (
        |  SELECT q_id, doc_id, n_chars, tf FROM tf JOIN q ON term = qterm),
        |ra AS (
        |  SELECT q_id, doc_id, rk FROM (
        |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
        |      ORDER BY tf DESC, doc_id ASC) AS rk FROM cand)
        |  WHERE rk <= 10),
        |rb AS (
        |  SELECT q_id, doc_id, rk FROM (
        |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
        |      ORDER BY tf DESC, n_chars DESC, doc_id ASC) AS rk
        |    FROM cand)
        |  WHERE rk <= 10),
        |cm AS (
        |  SELECT ra.q_id, ra.doc_id, ra.rk AS rk_a, rb.rk AS rk_b
        |  FROM ra JOIN rb USING (q_id, doc_id)),
        |rr AS (
        |  SELECT q_id,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY rk_a ASC, doc_id ASC) AS BIGINT) AS r1,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY rk_b ASC, doc_id ASC) AS BIGINT) AS r2
        |  FROM cm)
        |SELECT q_id,
        |  CAST(count(*) AS BIGINT) AS n_common,
        |  CAST(sum((r1 - r2) * (r1 - r2)) AS BIGINT) AS sum_d2,
        |  CAST(CASE WHEN count(*) >= 2 THEN
        |    1000000 - 6 * sum((r1 - r2) * (r1 - r2)) * 1000000 //
        |      (count(*) * (count(*) * count(*) - 1))
        |  END AS BIGINT) AS rho_micro
        |FROM rr GROUP BY 1 ORDER BY q_id""".stripMargin,

    // Kendall τ-b: tie groups from rank() with no tiebreak; the score
    // is CAST(C−D AS DOUBLE)·10⁶ / sqrt((n0−n1)·(n0−n2)) floored — the
    // identical IEEE tree the plan evaluates (sqrt is IEEE-exact).
    "q_eval_tau_b" ->
      """WITH tk AS (
        |  SELECT doc_id, n_chars, list_filter(string_split_regex(text,
        |    ' +'), t -> t != '') AS toks
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, n_chars, term, count(*) AS tf
        |  FROM (SELECT doc_id, n_chars, unnest(toks) AS term FROM tk)
        |  WHERE term IN ('stream', 'join', 'filter') GROUP BY 1, 2, 3),
        |q AS (SELECT CAST(q_id AS BIGINT) AS q_id, qterm FROM (VALUES
        |  (0, 'stream'), (1, 'join'), (2, 'filter')) AS v(q_id, qterm)),
        |cand AS (
        |  SELECT q_id, doc_id, n_chars, tf FROM tf JOIN q ON term = qterm),
        |ra AS (
        |  SELECT q_id, doc_id, rk FROM (
        |    SELECT q_id, doc_id, rank() OVER (PARTITION BY q_id
        |      ORDER BY tf DESC) AS rk FROM cand)
        |  WHERE rk <= 10),
        |rb AS (
        |  SELECT q_id, doc_id, rk FROM (
        |    SELECT q_id, doc_id, rank() OVER (PARTITION BY q_id
        |      ORDER BY (tf // 2) DESC) AS rk FROM cand)
        |  WHERE rk <= 10),
        |cm AS (
        |  SELECT ra.q_id, ra.doc_id, ra.rk AS a1, rb.rk AS b1
        |  FROM ra JOIN rb USING (q_id, doc_id)),
        |nc AS (SELECT q_id, count(*) AS n_common FROM cm GROUP BY 1),
        |p AS (
        |  SELECT l.q_id, count(*) AS n0,
        |    sum(CASE WHEN (l.a1 - r.a1) * (l.b1 - r.b1) > 0 THEN 1
        |      ELSE 0 END) AS conc,
        |    sum(CASE WHEN (l.a1 - r.a1) * (l.b1 - r.b1) < 0 THEN 1
        |      ELSE 0 END) AS disc,
        |    sum(CASE WHEN l.a1 = r.a1 THEN 1 ELSE 0 END) AS tie_a,
        |    sum(CASE WHEN l.b1 = r.b1 THEN 1 ELSE 0 END) AS tie_b
        |  FROM cm l JOIN cm r ON l.q_id = r.q_id AND l.doc_id < r.doc_id
        |  GROUP BY 1)
        |SELECT nc.q_id,
        |  CAST(n_common AS BIGINT) AS n_common,
        |  CAST(COALESCE(conc, 0) AS BIGINT) AS conc,
        |  CAST(COALESCE(disc, 0) AS BIGINT) AS disc,
        |  CAST(COALESCE(tie_a, 0) AS BIGINT) AS tie_a,
        |  CAST(COALESCE(tie_b, 0) AS BIGINT) AS tie_b,
        |  CAST(CASE WHEN n0 - tie_a > 0 AND n0 - tie_b > 0 THEN
        |    floor(CAST(conc - disc AS DOUBLE) * 1000000.0 /
        |      sqrt(CAST(n0 - tie_a AS DOUBLE) *
        |        CAST(n0 - tie_b AS DOUBLE)))
        |  END AS BIGINT) AS taub_micro
        |FROM nc LEFT JOIN p USING (q_id)
        |ORDER BY q_id""".stripMargin,

    "q_eval_ndcg" ->
      """WITH tk AS (
        |  SELECT doc_id, lang, list_filter(string_split_regex(text, ' +'),
        |    t -> t != '') AS toks
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, lang, term, count(*) AS tf
        |  FROM (SELECT doc_id, lang, unnest(toks) AS term FROM tk)
        |  WHERE term IN ('stream', 'join', 'filter') GROUP BY 1, 2, 3),
        |q AS (SELECT CAST(q_id AS BIGINT) AS q_id, qterm FROM (VALUES
        |  (0, 'stream'), (1, 'join'), (2, 'filter')) AS v(q_id, qterm)),
        |cand AS (
        |  SELECT q_id, doc_id, lang, tf FROM tf JOIN q ON term = qterm),
        |ranked AS (
        |  SELECT q_id, doc_id, rk FROM (
        |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
        |      ORDER BY tf DESC, doc_id ASC) AS rk
        |    FROM cand)
        |  WHERE rk <= 10),
        |jud AS (
        |  SELECT q_id, doc_id,
        |    CASE WHEN lang = 'en' THEN 2 ELSE 1 END AS g
        |  FROM cand),
        |dcg AS (
        |  SELECT j.q_id, sum(CAST(floor(((1000000.0 * CAST(g AS DOUBLE))
        |      * 0.6931471805599453) / ln(CAST(rk AS DOUBLE) + 1.0))
        |    AS BIGINT)) AS dcg_micro
        |  FROM ranked r JOIN jud j USING (q_id, doc_id) GROUP BY 1),
        |ideal AS (
        |  SELECT q_id, g, row_number() OVER (PARTITION BY q_id
        |    ORDER BY g DESC, doc_id ASC) AS irk
        |  FROM jud WHERE g > 0),
        |idcg AS (
        |  SELECT q_id, sum(CAST(floor(((1000000.0 * CAST(g AS DOUBLE))
        |      * 0.6931471805599453) / ln(CAST(irk AS DOUBLE) + 1.0))
        |    AS BIGINT)) AS idcg_micro
        |  FROM ideal WHERE irk <= 10 GROUP BY 1)
        |SELECT jq.q_id,
        |  CAST(COALESCE(dcg_micro, 0) AS BIGINT) AS dcg_micro,
        |  CAST(COALESCE(idcg_micro, 0) AS BIGINT) AS idcg_micro,
        |  CASE WHEN COALESCE(idcg_micro, 0) > 0 THEN
        |    CAST(COALESCE(dcg_micro, 0) * 1000000 // idcg_micro AS BIGINT)
        |  END AS ndcg_micro
        |FROM (SELECT DISTINCT q_id FROM jud) jq
        |LEFT JOIN dcg USING (q_id) LEFT JOIN idcg USING (q_id)
        |ORDER BY jq.q_id""".stripMargin,

    "q_eval_ap_by_source" ->
      """WITH d AS (
        |  SELECT source, doc_id AS i, n_chars AS s, (lang = 'en') AS y
        |  FROM documents),
        |r AS (
        |  SELECT source, y,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY s DESC, i ASC) AS rk,
        |    sum(CASE WHEN y THEN 1 ELSE 0 END) OVER (PARTITION BY source
        |      ORDER BY s DESC, i ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
        |  FROM d),
        |a AS (
        |  SELECT source,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN y THEN cp * 1000000 // rk END) AS BIGINT)
        |      AS ap_sum
        |  FROM r GROUP BY 1)
        |SELECT source, pos, n,
        |  CASE WHEN pos > 0 THEN CAST(ap_sum // pos AS BIGINT) END
        |    AS ap_micro
        |FROM a ORDER BY source""".stripMargin,

    "q_eval_auc_by_source" ->
      """WITH d AS (
        |  SELECT source, n_chars AS s, (lang = 'en') AS y FROM documents),
        |ps AS (
        |  SELECT source, s, sum(CASE WHEN y THEN 1 ELSE 0 END) AS pos_s,
        |    sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS neg_s
        |  FROM d GROUP BY 1, 2),
        |c AS (
        |  SELECT source, pos_s, neg_s,
        |    COALESCE(sum(neg_s) OVER (PARTITION BY source ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS neg_below
        |  FROM ps),
        |a AS (
        |  SELECT source, CAST(sum(pos_s) AS BIGINT) AS pos,
        |    CAST(sum(neg_s) AS BIGINT) AS neg,
        |    CAST(sum(pos_s * (2 * neg_below + neg_s)) AS BIGINT) AS two_u
        |  FROM c GROUP BY 1)
        |SELECT source, pos, neg,
        |  CASE WHEN pos > 0 AND neg > 0
        |       THEN CAST(two_u * 1000000 // (2 * pos * neg) AS BIGINT) END
        |    AS auc_micro
        |FROM a ORDER BY source""".stripMargin,

    // Calibration bins: clamped equal-width bins, integer floor division
    // everywhere.
    "q_eval_calibration" ->
      """WITH d AS (
        |  SELECT least(greatest((n_chars * 8) // 1024, 0), 7) AS bin,
        |    (lang = 'en') AS y
        |  FROM documents),
        |g AS (
        |  SELECT bin, count(*) AS n,
        |    sum(CASE WHEN y THEN 1 ELSE 0 END) AS n_pos
        |  FROM d GROUP BY 1)
        |SELECT CAST(bin AS BIGINT) AS bin,
        |  CAST(bin * 1024 // 8 AS BIGINT) AS bin_lo,
        |  CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
        |  CAST(n_pos * 1000000 // n AS BIGINT) AS pos_rate_micro
        |FROM g ORDER BY bin""".stripMargin,

    // ECE/MCE: scores clamp to [0, 1024], per-bin accuracy vs mean
    // normalized score on the micro grid, mass-weighted mean and max.
    // All divisions have non-negative numerators (// == div there).
    "q_eval_ece" ->
      """WITH d AS (
        |  SELECT least(greatest(n_chars, 0), 1024) AS s,
        |    (lang = 'en') AS y
        |  FROM documents),
        |b AS (
        |  SELECT least(greatest(s * 8 // 1024, 0), 7) AS bin,
        |    count(*) AS n,
        |    sum(CASE WHEN y THEN 1 ELSE 0 END) AS n_pos,
        |    sum(s) AS s_sum
        |  FROM d GROUP BY 1),
        |g AS (
        |  SELECT n,
        |    n_pos * 1000000 // n AS acc,
        |    s_sum * 1000000 // (n * 1024) AS conf
        |  FROM b)
        |SELECT CAST(sum(n) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_bins,
        |  CAST(sum(n * abs(acc - conf)) // sum(n) AS BIGINT)
        |    AS ece_micro,
        |  CAST(max(abs(acc - conf)) AS BIGINT) AS mce_micro
        |FROM g""".stripMargin,

    // Temperature mixing: m_s = N*sq_s/(n_s*Z) from exact BIGINTs
    // (sq_s = floor(sqrt(n_s)*1e6), Z = sum sq_s) — the same epoch
    // replication mechanics as q_sample_mixture.
    "q_sample_temperature" ->
      s"""WITH docs2 AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 10 < 7 THEN 'crawl' ELSE source END AS src
         |  FROM documents),
         |c AS (SELECT src, count(*) AS n_s FROM docs2 GROUP BY 1),
         |sq AS (
         |  SELECT src, n_s, CAST(floor(sqrt(CAST(n_s AS DOUBLE))
         |    * 1000000.0) AS BIGINT) AS sq_micro
         |  FROM c),
         |tot AS (
         |  SELECT CAST(sum(sq_micro) AS BIGINT) AS z_micro,
         |    CAST(sum(n_s) AS BIGINT) AS n_total
         |  FROM sq),
         |b AS (
         |  SELECT doc_id, src,
         |    ${dHash60("CAST(doc_id AS VARCHAR)")} % 1000000 AS bucket,
         |    (CAST(n_total AS DOUBLE) * CAST(sq_micro AS DOUBLE)) /
         |    (CAST(n_s AS DOUBLE) * CAST(z_micro AS DOUBLE)) AS m
         |  FROM docs2 JOIN sq USING (src) CROSS JOIN tot),
         |n AS (
         |  SELECT doc_id, src,
         |    CAST(floor(m) AS BIGINT) +
         |      (CASE WHEN CAST(bucket AS DOUBLE) < (m - floor(m)) * 1000000.0
         |            THEN 1 ELSE 0 END) AS n
         |  FROM b)
         |SELECT doc_id, src,
         |  CAST(unnest(range(1, n + 1)) AS BIGINT) AS epoch
         |FROM n WHERE n > 0
         |ORDER BY doc_id, epoch""".stripMargin,

    // Seasonal z-score: q_anomaly_zscore's exact moments, keyed by
    // (event_type, hour-of-day); the sqrt != 0 guard mirrors the Spark
    // side's zero-variance null.
    "q_dim_shift_multi" ->
      """WITH m AS (
        |  SELECT 'event_type' AS dim, event_type AS value,
        |    (ts >= TIMESTAMP '2024-01-15 00:00:00' AND
        |     ts <  TIMESTAMP '2024-01-18 00:00:00') AS in_win
        |  FROM events
        |  UNION ALL
        |  SELECT 'user_bucket', CAST(user_id % 16 AS VARCHAR),
        |    (ts >= TIMESTAMP '2024-01-15 00:00:00' AND
        |     ts <  TIMESTAMP '2024-01-18 00:00:00')
        |  FROM events),
        |per AS (
        |  SELECT dim, value,
        |    sum(CASE WHEN in_win THEN 1 ELSE 0 END) AS n_win,
        |    sum(CASE WHEN NOT in_win THEN 1 ELSE 0 END) AS n_base
        |  FROM m GROUP BY 1, 2),
        |tot AS (
        |  SELECT dim, sum(n_win) AS t_win, sum(n_base) AS t_base
        |  FROM per GROUP BY 1),
        |sh AS (
        |  SELECT per.dim, value, n_win, n_base,
        |    CASE WHEN t_win > 0 THEN n_win * 1000000 // t_win
        |         ELSE 0 END AS share_win_micro,
        |    CASE WHEN t_base > 0 THEN n_base * 1000000 // t_base
        |         ELSE 0 END AS share_base_micro
        |  FROM per JOIN tot ON per.dim = tot.dim)
        |SELECT dim, value, CAST(n_win AS BIGINT) AS n_win,
        |  CAST(n_base AS BIGINT) AS n_base,
        |  CAST(share_win_micro AS BIGINT) AS share_win_micro,
        |  CAST(share_base_micro AS BIGINT) AS share_base_micro,
        |  CAST(share_win_micro - share_base_micro AS BIGINT)
        |    AS shift_micro,
        |  CASE WHEN share_base_micro > 0 THEN
        |    CAST(share_win_micro * 1000000 // share_base_micro AS BIGINT)
        |  END AS lift_micro
        |FROM sh ORDER BY dim, value""".stripMargin,

    "q_dim_shift_weighted" ->
      """WITH q AS (
        |  SELECT event_type,
        |    CAST(floor(value * 100) AS BIGINT) AS w,
        |    (ts >= TIMESTAMP '2024-01-15 00:00:00' AND
        |     ts <  TIMESTAMP '2024-01-18 00:00:00') AS in_win
        |  FROM events),
        |per AS (
        |  SELECT event_type,
        |    sum(CASE WHEN in_win THEN w ELSE 0 END) AS n_win,
        |    sum(CASE WHEN NOT in_win THEN w ELSE 0 END) AS n_base
        |  FROM q GROUP BY 1),
        |tot AS (
        |  SELECT sum(n_win) AS t_win, sum(n_base) AS t_base FROM per),
        |sh AS (
        |  SELECT event_type, n_win, n_base,
        |    CASE WHEN t_win > 0 THEN n_win * 1000000 // t_win
        |         ELSE 0 END AS share_win_micro,
        |    CASE WHEN t_base > 0 THEN n_base * 1000000 // t_base
        |         ELSE 0 END AS share_base_micro
        |  FROM per, tot)
        |SELECT event_type, CAST(n_win AS BIGINT) AS n_win,
        |  CAST(n_base AS BIGINT) AS n_base,
        |  CAST(share_win_micro AS BIGINT) AS share_win_micro,
        |  CAST(share_base_micro AS BIGINT) AS share_base_micro,
        |  CAST(share_win_micro - share_base_micro AS BIGINT)
        |    AS shift_micro,
        |  CASE WHEN share_base_micro > 0 THEN
        |    CAST(share_win_micro * 1000000 // share_base_micro AS BIGINT)
        |  END AS lift_micro
        |FROM sh ORDER BY event_type""".stripMargin,

    "q_dim_shift" ->
      """WITH q AS (
        |  SELECT event_type,
        |    (ts >= TIMESTAMP '2024-01-15 00:00:00' AND
        |     ts <  TIMESTAMP '2024-01-18 00:00:00') AS in_win
        |  FROM events),
        |per AS (
        |  SELECT event_type,
        |    sum(CASE WHEN in_win THEN 1 ELSE 0 END) AS n_win,
        |    sum(CASE WHEN NOT in_win THEN 1 ELSE 0 END) AS n_base
        |  FROM q GROUP BY 1),
        |tot AS (
        |  SELECT sum(n_win) AS t_win, sum(n_base) AS t_base FROM per),
        |sh AS (
        |  SELECT event_type, n_win, n_base,
        |    CASE WHEN t_win > 0 THEN n_win * 1000000 // t_win
        |         ELSE 0 END AS share_win_micro,
        |    CASE WHEN t_base > 0 THEN n_base * 1000000 // t_base
        |         ELSE 0 END AS share_base_micro
        |  FROM per, tot)
        |SELECT event_type, CAST(n_win AS BIGINT) AS n_win,
        |  CAST(n_base AS BIGINT) AS n_base,
        |  CAST(share_win_micro AS BIGINT) AS share_win_micro,
        |  CAST(share_base_micro AS BIGINT) AS share_base_micro,
        |  CAST(share_win_micro - share_base_micro AS BIGINT)
        |    AS shift_micro,
        |  CASE WHEN share_base_micro > 0 THEN
        |    CAST(share_win_micro * 1000000 // share_base_micro AS BIGINT)
        |  END AS lift_micro
        |FROM sh ORDER BY event_type""".stripMargin,

    // Template drift: the q_log_templates mask chain feeds the
    // q_dim_shift contribution pipeline.
    "q_template_drift" ->
      """WITH l AS (
        |  SELECT ts, event_type || ' ' || props AS line FROM events),
        |q AS (
        |  SELECT
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(line,
        |      '"[^"]*"', '"<*>"', 'g'),
        |      '\b[0-9a-f]{8,}\b', '<HEX>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |      '\d+', '<N>', 'g') AS template,
        |    (ts >= TIMESTAMP '2024-01-15 00:00:00' AND
        |     ts <  TIMESTAMP '2024-01-18 00:00:00') AS in_win
        |  FROM l),
        |q2 AS (
        |  SELECT template,
        |    sum(CASE WHEN in_win THEN 1 ELSE 0 END) AS n_win,
        |    sum(CASE WHEN NOT in_win THEN 1 ELSE 0 END) AS n_base
        |  FROM q GROUP BY 1),
        |tot AS (
        |  SELECT sum(n_win) AS t_win, sum(n_base) AS t_base FROM q2),
        |sh AS (
        |  SELECT template, n_win, n_base,
        |    CASE WHEN t_win > 0 THEN n_win * 1000000 // t_win
        |         ELSE 0 END AS share_win_micro,
        |    CASE WHEN t_base > 0 THEN n_base * 1000000 // t_base
        |         ELSE 0 END AS share_base_micro
        |  FROM q2, tot)
        |SELECT template, CAST(n_win AS BIGINT) AS n_win,
        |  CAST(n_base AS BIGINT) AS n_base,
        |  CAST(share_win_micro AS BIGINT) AS share_win_micro,
        |  CAST(share_base_micro AS BIGINT) AS share_base_micro,
        |  CAST(share_win_micro - share_base_micro AS BIGINT)
        |    AS shift_micro,
        |  CASE WHEN share_base_micro > 0 THEN
        |    CAST(share_win_micro * 1000000 // share_base_micro AS BIGINT)
        |  END AS lift_micro
        |FROM sh ORDER BY template""".stripMargin,

    "q_metric_robust_seasonal" ->
      """WITH q AS (
        |  SELECT event_id, event_type,
        |    CAST(date_part('hour', ts) AS BIGINT) AS season,
        |    CAST(floor(value * 100) AS BIGINT) AS vq
        |  FROM events),
        |st AS (
        |  SELECT event_type, season, median(vq) AS med, mad(vq) AS mad
        |  FROM q GROUP BY 1, 2)
        |SELECT event_id, event_type, season, vq,
        |  (CAST(vq AS DOUBLE) - med) / mad AS z
        |FROM q JOIN st USING (event_type, season)
        |WHERE mad != 0
        |  AND abs((CAST(vq AS DOUBLE) - med) / mad) > 3.5
        |ORDER BY event_id""".stripMargin,

    "q_metric_cusum" ->
      """WITH b AS (
        |  SELECT event_type,
        |    CAST(floor(epoch_ms(ts) / 3600000) AS BIGINT) * 3600000 AS bin,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, CAST(sum(x) // count(*) AS BIGINT) AS mu
        |  FROM b GROUP BY 1),
        |s AS (
        |  SELECT b.event_type, bin, x,
        |    CAST(sum(x - mu - 500) OVER (PARTITION BY b.event_type
        |      ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
        |      ROW) AS BIGINT) AS sp,
        |    CAST(sum(mu - x - 500) OVER (PARTITION BY b.event_type
        |      ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
        |      ROW) AS BIGINT) AS sn
        |  FROM b JOIN m USING (event_type)),
        |f AS (
        |  SELECT event_type, bin, x,
        |    sp - least(0, min(sp) OVER (PARTITION BY event_type
        |      ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
        |      ROW)) AS s_pos,
        |    sn - least(0, min(sn) OVER (PARTITION BY event_type
        |      ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
        |      ROW)) AS s_neg
        |  FROM s)
        |SELECT event_type, make_timestamp(bin * 1000) AS bin_start,
        |  CAST(x AS BIGINT) AS x, CAST(s_pos AS BIGINT) AS s_pos,
        |  CAST(s_neg AS BIGINT) AS s_neg,
        |  (s_pos > 20000 OR s_neg > 20000) AS is_shift
        |FROM f ORDER BY event_type, bin_start""".stripMargin,

    "q_metric_apdex" ->
      """WITH q AS (
        |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS vq
        |  FROM events),
        |a AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS total,
        |    CAST(sum(CASE WHEN vq <= 5000 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS satisfied,
        |    CAST(sum(CASE WHEN vq > 5000 AND vq <= 20000 THEN 1 ELSE 0
        |      END) AS BIGINT) AS tolerating
        |  FROM q GROUP BY 1)
        |SELECT event_type, total, satisfied, tolerating,
        |  CAST(total - satisfied - tolerating AS BIGINT) AS frustrated,
        |  CAST((2 * satisfied + tolerating) * 1000000 // (2 * total)
        |    AS BIGINT) AS apdex_micro
        |FROM a ORDER BY event_type""".stripMargin,

    "q_metric_hist_quantile" ->
      """WITH q AS (
        |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS vq
        |  FROM events),
        |b AS (
        |  SELECT event_type, ((vq + 1999) // 2000) * 2000 AS le,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM q GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, le, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY le
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(COALESCE(lag(le) OVER (PARTITION BY event_type
        |      ORDER BY le), 0) AS BIGINT) AS lower,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS total
        |  FROM b),
        |sel AS (
        |  SELECT event_type, le, cnt, cum, lower, total,
        |    row_number() OVER (PARTITION BY event_type ORDER BY le)
        |      AS pick
        |  FROM c
        |  WHERE cnt > 0 AND cum * 1000000 >= 950000 * total)
        |SELECT event_type, total,
        |  CAST(floor(CAST(lower AS DOUBLE) + CAST(le - lower AS DOUBLE) *
        |    ((950000.0 * CAST(total AS DOUBLE) -
        |      CAST(cum - cnt AS DOUBLE) * 1000000.0) /
        |     (CAST(cnt AS DOUBLE) * 1000000.0))) AS BIGINT) AS q_micro
        |FROM sel WHERE pick = 1 ORDER BY event_type""".stripMargin,

    // EWMA: the same driver-computed geometric weights embedded as
    // literals, the same left-associative lag-chain tree.
    "q_metric_ewma" -> {
      val k = 8
      val lambda = 0.25
      val weights = new Array[Double](k)
      var decay = 1.0
      var j = 0
      while (j < k) {
        weights(j) = lambda * decay
        decay = decay * (1.0 - lambda)
        j += 1
      }
      def lagSql(i: Int) =
        s"lag(x, ${i + 1}) OVER (PARTITION BY event_type ORDER BY bin)"
      val num = (0 until k).map(i =>
        s"(CASE WHEN ${lagSql(i)} IS NOT NULL THEN ${weights(i)} * " +
          s"CAST(${lagSql(i)} AS DOUBLE) ELSE 0.0 END)").mkString(" + ")
      val den = (0 until k).map(i =>
        s"(CASE WHEN ${lagSql(i)} IS NOT NULL THEN ${weights(i)} " +
          s"ELSE 0.0 END)").mkString(" + ")
      s"""WITH b AS (
         |  SELECT event_type,
         |    CAST(floor(epoch_ms(ts) / 3600000) AS BIGINT) * 3600000
         |      AS bin,
         |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS x
         |  FROM events GROUP BY 1, 2),
         |e AS (
         |  SELECT event_type, bin, x,
         |    ($num) AS num, ($den) AS den
         |  FROM b)
         |SELECT event_type, make_timestamp(bin * 1000) AS bin_start, x,
         |  CASE WHEN den > 0.0
         |    THEN CAST(floor(num / den * 1000000.0) AS BIGINT) END
         |    AS ewma_prev_micro,
         |  CASE WHEN den > 0.0
         |    THEN x * 1000000 * 1 >
         |      2 * CAST(floor(num / den * 1000000.0) AS BIGINT)
         |    ELSE false END AS is_spike
         |FROM e ORDER BY event_type, bin_start""".stripMargin
    },

    // increase(): hourly cumulative counters restarting every 12 h,
    // reset-aware delta sum (first sample counts in full).
    "q_metric_increase" ->
      """WITH b AS (
        |  SELECT event_type,
        |    CAST(floor(epoch_ms(ts) / 3600000) AS BIGINT) AS hr,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, hr,
        |    CAST(sum(c) OVER (PARTITION BY event_type, hr // 12
        |      ORDER BY hr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
        |      ROW) AS BIGINT) AS v
        |  FROM b),
        |d AS (
        |  SELECT event_type, hr, v,
        |    lag(v) OVER (PARTITION BY event_type ORDER BY hr) AS pv
        |  FROM s)
        |SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(min(hr) AS BIGINT) AS first_ts,
        |  CAST(max(hr) AS BIGINT) AS last_ts,
        |  CAST(sum(CASE WHEN pv IS NULL OR v < pv THEN v ELSE v - pv
        |    END) AS BIGINT) AS increase
        |FROM d GROUP BY 1 ORDER BY event_type""".stripMargin,

    // increase() -> histogram_quantile: reconstruct per-(event_type, le)
    // bucket counts from the reset-broken cumulative samples, then the
    // same p95 rank selection + interpolation as q_metric_hist_quantile.
    "q_metric_increase_quantile" ->
      """WITH q AS (
        |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS vq,
        |    CAST(floor(epoch_ms(ts) / 3600000) AS BIGINT) AS hr
        |  FROM events),
        |b AS (
        |  SELECT event_type, ((vq + 1999) // 2000) * 2000 AS le, hr,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM q GROUP BY 1, 2, 3),
        |s AS (
        |  SELECT event_type, le, hr,
        |    CAST(sum(c) OVER (PARTITION BY event_type, le, hr // 12
        |      ORDER BY hr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
        |      ROW) AS BIGINT) AS v
        |  FROM b),
        |d AS (
        |  SELECT event_type, le, hr, v,
        |    lag(v) OVER (PARTITION BY event_type, le ORDER BY hr) AS pv
        |  FROM s),
        |inc AS (
        |  SELECT event_type, le,
        |    CAST(sum(CASE WHEN pv IS NULL OR v < pv THEN v ELSE v - pv
        |      END) AS BIGINT) AS cnt
        |  FROM d GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, le, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY le
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(COALESCE(lag(le) OVER (PARTITION BY event_type
        |      ORDER BY le), 0) AS BIGINT) AS lower,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS total
        |  FROM inc),
        |sel AS (
        |  SELECT event_type, le, cnt, cum, lower, total,
        |    row_number() OVER (PARTITION BY event_type ORDER BY le)
        |      AS pick
        |  FROM c
        |  WHERE cnt > 0 AND cum * 1000000 >= 950000 * total)
        |SELECT event_type, total,
        |  CAST(floor(CAST(lower AS DOUBLE) + CAST(le - lower AS DOUBLE) *
        |    ((950000.0 * CAST(total AS DOUBLE) -
        |      CAST(cum - cnt AS DOUBLE) * 1000000.0) /
        |     (CAST(cnt AS DOUBLE) * 1000000.0))) AS BIGINT) AS q_micro
        |FROM sel WHERE pick = 1 ORDER BY event_type""".stripMargin,

    "q_metric_robust" ->
      """WITH q AS (
        |  SELECT event_id, event_type,
        |    CAST(floor(value * 100) AS BIGINT) AS vq
        |  FROM events),
        |st AS (
        |  SELECT event_type, median(vq) AS med, mad(vq) AS mad
        |  FROM q GROUP BY 1)
        |SELECT event_id, event_type, vq,
        |  (CAST(vq AS DOUBLE) - med) / mad AS z
        |FROM q JOIN st USING (event_type)
        |WHERE mad != 0
        |  AND abs((CAST(vq AS DOUBLE) - med) / mad) > 3.5
        |ORDER BY event_id""".stripMargin,

    "q_metric_seasonal" ->
      """WITH q AS (
        |  SELECT event_id, event_type,
        |    CAST(date_part('hour', ts) AS BIGINT) AS season,
        |    CAST(floor(value * 100) AS BIGINT) AS vq
        |  FROM events),
        |st AS (
        |  SELECT event_type, season, count(*) AS n, sum(vq) AS s,
        |    sum(vq * vq) AS ss
        |  FROM q GROUP BY 1, 2)
        |SELECT event_id, event_type, season, vq,
        |  (CAST(vq AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) /
        |    sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) *
        |          (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) /
        |         CAST(n - 1 AS DOUBLE)) AS z
        |FROM q JOIN st USING (event_type, season)
        |WHERE sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) *
        |          (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) /
        |         CAST(n - 1 AS DOUBLE)) != 0
        |  AND abs((CAST(vq AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) /
        |    sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) *
        |          (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) /
        |         CAST(n - 1 AS DOUBLE))) > 2.5
        |ORDER BY event_id""".stripMargin,

    "q_sim_quantized" ->
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |a AS (
         |  SELECT vec_id, e,
         |    list_max(list_transform(e, x -> abs(x))) AS amax
         |  FROM v),
         |qv AS (
         |  SELECT vec_id,
         |    CASE WHEN amax = 0 THEN list_transform(e, x -> CAST(0 AS DOUBLE))
         |         ELSE list_transform(e, x -> floor(x * 127.0 / amax + 0.5))
         |    END AS qe
         |  FROM a),
         |p AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |    ${dCosine("q.qe", "c.qe")} AS qcosine
         |  FROM qv q JOIN qv c ON q.vec_id != c.vec_id
         |  WHERE q.vec_id < 10),
         |r AS (
         |  SELECT q_id, n_id, qcosine,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY qcosine DESC, n_id ASC) AS INTEGER) AS rk
         |  FROM p)
         |SELECT q_id, n_id, qcosine, rk FROM r WHERE rk <= 5
         |ORDER BY q_id, rk""".stripMargin,

    "q_bpe_encode" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, ' +'), t -> t != '') AS tk
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(COALESCE(list_sum(list_transform(tk, t -> length(t))), 0)
        |    AS BIGINT) AS piece_chars
        |FROM toks ORDER BY doc_id""".stripMargin,

    // Quality funnel: each rule's verified oracle fragment
    // (q_text_langid / q_text_readability / q_text_c4) composed into
    // cumulative-AND stage counts.
    "q_quality_funnel" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, ' +'), x -> x != '')
        |      AS tk,
        |    list_filter(string_split_regex(lower(text), ' +'),
        |      x -> x != '') AS tkl
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    len(list_filter(tk, t -> t IN
        |      ('der','die','das','und','ist','nicht','ein','zu','mit','auf'))) AS h_de,
        |    len(list_filter(tk, t -> t IN
        |      ('the','a','of','and','to','in','is','it','that','for'))) AS h_en,
        |    len(list_filter(tk, t -> t IN
        |      ('el','la','de','que','y','en','un','por','con','para'))) AS h_es,
        |    len(list_filter(tk, t -> t IN
        |      ('le','la','de','et','un','est','pour','que','dans','avec'))) AS h_fr
        |  FROM base),
        |r AS (
        |  SELECT doc_id,
        |    CAST(len(tk) AS BIGINT) AS w,
        |    CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
        |      AS BIGINT) AS s,
        |    CAST(COALESCE(list_sum(list_transform(tk, t ->
        |      greatest(1, len(regexp_extract_all(lower(t),
        |        '[aeiouy]+'))))), 0) AS BIGINT) AS sy
        |  FROM base),
        |f AS (
        |  SELECT base.doc_id,
        |    ((CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
        |       WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
        |       WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
        |       WHEN h_es >= h_fr THEN 'es' ELSE 'fr' END) = 'en') AS f1,
        |    (w > 0 AND CAST(floor((206.835 -
        |      1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE)) -
        |      84.6 * (CAST(sy AS DOUBLE) / CAST(greatest(w, 1) AS DOUBLE)))
        |      * 1000000.0) AS BIGINT) >= 20000000) AS f2,
        |    (len(tkl) >= 5
        |      AND len(list_filter(tkl, t -> t IN ('spark', 'vector'))) = 0
        |      AND NOT contains(text, '{')) AS f3
        |  FROM base JOIN h USING (doc_id) JOIN r USING (doc_id)),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS s0,
        |    CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
        |    CAST(sum(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS s2,
        |    CAST(sum(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS s3
        |  FROM f)
        |SELECT CAST(0 AS BIGINT) AS stage, 'all' AS rule, s0 AS docs
        |  FROM agg
        |UNION ALL SELECT 1, 'lang_en', s1 FROM agg
        |UNION ALL SELECT 2, 'readability', s2 FROM agg
        |UNION ALL SELECT 3, 'c4', s3 FROM agg
        |ORDER BY stage""".stripMargin,

    // Readability: exact counts, the Flesch formula as the same IEEE
    // tree, floored to the micro grid.
    "q_text_readability" ->
      """WITH tk AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, ' +'), t -> t != '')
        |      AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
        |      AS BIGINT) AS n_sentences,
        |    CAST(list_sum(list_transform(toks, t ->
        |      greatest(1, len(regexp_extract_all(lower(t),
        |        '[aeiouy]+'))))) AS BIGINT) AS n_syllables
        |  FROM tk
        |  WHERE len(toks) > 0)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CAST(floor((206.835 -
        |    1.015 * (CAST(n_words AS DOUBLE) /
        |      CAST(n_sentences AS DOUBLE)) -
        |    84.6 * (CAST(n_syllables AS DOUBLE) /
        |      CAST(n_words AS DOUBLE))) * 1000000.0) AS BIGINT)
        |    AS flesch_micro,
        |  CAST(floor((0.39 * (CAST(n_words AS DOUBLE) /
        |      CAST(n_sentences AS DOUBLE)) +
        |    11.8 * (CAST(n_syllables AS DOUBLE) /
        |      CAST(n_words AS DOUBLE)) - 15.59) * 1000000.0) AS BIGINT)
        |    AS fkgl_micro
        |FROM c ORDER BY doc_id""".stripMargin,

    // Sampled unigram encode: every sampled draw still reconstructs —
    // same losslessness pin as q_unigram_encode.
    "q_unigram_sampled" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, ' +'), t -> t != '') AS tk
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(COALESCE(list_sum(list_transform(tk, t -> length(t))), 0)
        |    AS BIGINT) AS piece_chars
        |FROM toks ORDER BY doc_id""".stripMargin,

    // Tokenizer-augmentation epochs: the oracle pins the two
    // engine-independent invariants — the DUPLICATED seed's epochs
    // dedup to ONE distinct segmentation per doc (deterministic
    // sampling), and every epoch is lossless (piece chars total =
    // 3 × token chars). Which segmentation a distinct seed draws is
    // engine-specific (UnigramLmSpec pins it against the FFBS
    // reference).
    "q_unigram_augment" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, ' +'), t -> t != '') AS tk
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(3 AS BIGINT) AS n_epochs,
        |  CAST(1 AS BIGINT) AS same_seed_distinct,
        |  CAST(3 * COALESCE(list_sum(list_transform(tk, t -> length(t))),
        |    0) AS BIGINT) AS piece_chars_total
        |FROM toks ORDER BY doc_id""".stripMargin,

    // Unigram encode: same losslessness pin as q_bpe_encode — piece
    // characters == token characters (single-char coverage guarantees
    // no <unk> on the training corpus itself).
    "q_unigram_encode" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, ' +'), t -> t != '') AS tk
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(COALESCE(list_sum(list_transform(tk, t -> length(t))), 0)
        |    AS BIGINT) AS piece_chars
        |FROM toks ORDER BY doc_id""".stripMargin,

    "q_bpe_pairs" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(text, ' +'), t -> t != '') AS tk
        |  FROM documents),
        |w AS (SELECT unnest(tk) AS word FROM toks),
        |wf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
        |  FROM w GROUP BY word),
        |sy AS (SELECT word, freq,
        |  list_filter(string_split(word, ''), c -> c != '') AS syms
        |  FROM wf),
        |ix AS (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM sy),
        |p AS (SELECT syms[i] AS lhs, syms[i + 1] AS rhs, freq FROM ix)
        |SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS pair_freq
        |FROM p GROUP BY lhs, rhs
        |ORDER BY pair_freq DESC, lhs ASC, rhs ASC
        |LIMIT 30""".stripMargin,

    "q_text_lmscore" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, ' +'), t -> t != '') AS tk
        |  FROM documents),
        |t1 AS (SELECT doc_id, tk FROM toks WHERE len(tk) > 0),
        |uni AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS u_cnt
        |  FROM (SELECT unnest(tk) AS w FROM t1) GROUP BY 1),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS vsz FROM uni),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |    i -> tk[i] || ' ' || tk[i+1])) AS bg
        |  FROM t1 WHERE len(tk) >= 2),
        |bcnt AS (SELECT bg, CAST(count(*) AS BIGINT) AS b_cnt
        |  FROM bg GROUP BY 1),
        |terms AS (
        |  SELECT g.doc_id,
        |    CAST(floor(ln(CAST(b.b_cnt + 1 AS DOUBLE) /
        |      CAST(u.u_cnt + v.vsz AS DOUBLE)) * 1000000.0) AS BIGINT) AS t
        |  FROM bg g
        |  JOIN bcnt b USING (bg)
        |  JOIN uni u ON u.w = string_split(g.bg, ' ')[1]
        |  CROSS JOIN v)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(t) AS BIGINT) AS sum_micro,
        |  CAST(-sum(t) AS DOUBLE) / (count(*) * 1000000) AS avg_nll
        |FROM terms GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "q_sim_pq" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |anch AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id ASC) AS INTEGER) AS c,
        |    e
        |  FROM v ORDER BY vec_id ASC LIMIT 16),
        |d AS (
        |  SELECT v.vec_id, j.j, a.c,
        |    list_reduce(list_transform(
        |      list_zip(v.e[j.j*8+1 : j.j*8+8], a.e[j.j*8+1 : j.j*8+8]),
        |      z -> (z[1]-z[2])*(z[1]-z[2])), (x, y) -> x + y) AS dist
        |  FROM v, range(8) j(j), anch a),
        |best AS (
        |  SELECT vec_id, j, c,
        |    row_number() OVER (PARTITION BY vec_id, j
        |                       ORDER BY dist ASC, c ASC) AS rn
        |  FROM d),
        |recon AS (
        |  SELECT b.vec_id,
        |    flatten(list(a.e[b.j*8+1 : b.j*8+8] ORDER BY b.j)) AS re
        |  FROM best b JOIN anch a USING (c) WHERE b.rn = 1
        |  GROUP BY b.vec_id),
        |p AS (
        |  SELECT q.vec_id AS q_id, r.vec_id AS n_id,
        |    list_reduce(list_transform(list_zip(q.e, r.re),
        |      z -> (z[1]-z[2])*(z[1]-z[2])), (x, y) -> x + y) AS adc
        |  FROM v q JOIN recon r ON r.vec_id != q.vec_id
        |  WHERE q.vec_id < 10),
        |r AS (
        |  SELECT q_id, n_id, adc,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY adc ASC, n_id ASC) AS INTEGER) AS rk
        |  FROM p)
        |SELECT q_id, n_id, adc, rk FROM r WHERE rk <= 5
        |ORDER BY q_id, rk""".stripMargin,

    "q_sim_ivfpq" ->
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |cent AS (
         |  SELECT vec_id AS centroid_id, e AS ce FROM v
         |  ORDER BY vec_id ASC LIMIT 8),
         |assign AS (
         |  SELECT v_id, centroid_id FROM (
         |    SELECT v.vec_id AS v_id, c.centroid_id,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${dCosine("v.e", "c.ce")} DESC, c.centroid_id ASC) AS rk
         |    FROM v CROSS JOIN cent c)
         |  WHERE rk = 1),
         |anch AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id ASC) AS INTEGER) AS c,
         |    e
         |  FROM v ORDER BY vec_id ASC LIMIT 16),
         |d AS (
         |  SELECT v.vec_id, j.j, a.c,
         |    list_reduce(list_transform(
         |      list_zip(v.e[j.j*8+1 : j.j*8+8], a.e[j.j*8+1 : j.j*8+8]),
         |      z -> (z[1]-z[2])*(z[1]-z[2])), (x, y) -> x + y) AS dist
         |  FROM v, range(8) j(j), anch a),
         |best AS (
         |  SELECT vec_id, j, c,
         |    row_number() OVER (PARTITION BY vec_id, j
         |                       ORDER BY dist ASC, c ASC) AS rn
         |  FROM d),
         |recon AS (
         |  SELECT b.vec_id,
         |    flatten(list(a.e[b.j*8+1 : b.j*8+8] ORDER BY b.j)) AS re
         |  FROM best b JOIN anch a USING (c) WHERE b.rn = 1
         |  GROUP BY b.vec_id),
         |probes AS (
         |  SELECT q_id, q_e, centroid_id FROM (
         |    SELECT q.vec_id AS q_id, q.e AS q_e, c.centroid_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${dCosine("q.e", "c.ce")} DESC, c.centroid_id ASC) AS rk
         |    FROM v q CROSS JOIN cent c WHERE q.vec_id < 10)
         |  WHERE rk <= 2),
         |cand AS (
         |  SELECT p.q_id, a.v_id AS n_id,
         |    list_reduce(list_transform(list_zip(p.q_e, r.re),
         |      z -> (z[1]-z[2])*(z[1]-z[2])), (x, y) -> x + y) AS adc
         |  FROM probes p JOIN assign a USING (centroid_id)
         |  JOIN recon r ON r.vec_id = a.v_id
         |  WHERE p.q_id != a.v_id),
         |r AS (
         |  SELECT q_id, n_id, adc,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY adc ASC, n_id ASC) AS INTEGER) AS rk
         |  FROM cand)
         |SELECT q_id, n_id, adc, rk FROM r WHERE rk <= 5
         |ORDER BY q_id, rk""".stripMargin,

    // recall-vs-nProbe calibration curve: exact top-5 truth per sampled
    // query, each truth pair ranked by its neighbor's list position in
    // the query's centroid ordering, cumulative counts on the exact 10⁶
    // integer grid. Same seeded centroids / cosine ordering / tiebreaks
    // as the other IVF oracles.
    "q_sim_calibrate" ->
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |cent AS (
         |  SELECT vec_id AS centroid_id, e AS ce FROM v
         |  ORDER BY vec_id ASC LIMIT 8),
         |assign AS (
         |  SELECT v_id, centroid_id FROM (
         |    SELECT v.vec_id AS v_id, c.centroid_id,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${dCosine("v.e", "c.ce")} DESC, c.centroid_id ASC) AS rk
         |    FROM v CROSS JOIN cent c)
         |  WHERE rk = 1),
         |truth AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${dCosine("q.e", "n.e")} DESC, n.vec_id ASC) AS rk
         |    FROM v q JOIN v n ON n.vec_id != q.vec_id
         |    WHERE q.vec_id % 10 = 0 AND q.vec_id < 500)
         |  WHERE rk <= 5),
         |qr AS (
         |  SELECT q_id, centroid_id, c_rank FROM (
         |    SELECT q.vec_id AS q_id, c.centroid_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${dCosine("q.e", "c.ce")} DESC, c.centroid_id ASC)
         |        AS c_rank
         |    FROM v q CROSS JOIN cent c
         |    WHERE q.vec_id % 10 = 0 AND q.vec_id < 500)),
         |pr AS (
         |  SELECT qr.c_rank, count(*) AS pairs
         |  FROM truth t JOIN assign a ON a.v_id = t.n_id
         |  JOIN qr ON qr.q_id = t.q_id AND qr.centroid_id = a.centroid_id
         |  GROUP BY 1)
         |SELECT CAST(c_rank AS INTEGER) AS c_rank,
         |  CAST(pairs AS BIGINT) AS pairs,
         |  CAST(sum(pairs) OVER (ORDER BY c_rank ASC) AS BIGINT)
         |    AS cum_pairs,
         |  CAST(sum(pairs) OVER () AS BIGINT) AS total_pairs,
         |  CAST(CAST(sum(pairs) OVER (ORDER BY c_rank ASC) AS BIGINT)
         |    * 1000000 // CAST(sum(pairs) OVER () AS BIGINT) AS BIGINT)
         |    AS recall_micro
         |FROM pr ORDER BY c_rank""".stripMargin,

    // recall-vs-multiProbe LSH curve: exact top-3 truth per sampled
    // query, each pair classified by the smallest knnLsh probe level
    // reaching the neighbor's bucket (xor of the two 4-bit sign buckets:
    // 0 → level 0, single bit j → j+1, multi-bit → sentinel 5 =
    // unreachable), cumulative counts on the exact 10⁶ integer grid.
    // Same bucket bits / cosine ordering / tiebreaks as the LSH oracles.
    "q_sim_lsh_curve" ->
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         |    ${dSignBucket("embedding", 4)} AS bucket
         |  FROM embeddings),
         |truth AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${dCosine("q.e", "n.e")} DESC, n.vec_id ASC) AS rk
         |    FROM v q JOIN v n ON n.vec_id != q.vec_id
         |    WHERE q.vec_id % 10 = 0 AND q.vec_id < 500)
         |  WHERE rk <= 3),
         |lv AS (
         |  SELECT CASE xor(q.bucket, n.bucket)
         |      WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2
         |      WHEN 4 THEN 3 WHEN 8 THEN 4 ELSE 5 END AS probe_level
         |  FROM truth t
         |  JOIN v q ON q.vec_id = t.q_id
         |  JOIN v n ON n.vec_id = t.n_id),
         |pr AS (SELECT probe_level, count(*) AS pairs FROM lv GROUP BY 1)
         |SELECT CAST(probe_level AS INTEGER) AS probe_level,
         |  CAST(pairs AS BIGINT) AS pairs,
         |  CAST(sum(pairs) OVER (ORDER BY probe_level ASC) AS BIGINT)
         |    AS cum_pairs,
         |  CAST(sum(pairs) OVER () AS BIGINT) AS total_pairs,
         |  CAST(CAST(sum(pairs) OVER (ORDER BY probe_level ASC) AS BIGINT)
         |    * 1000000 // CAST(sum(pairs) OVER () AS BIGINT) AS BIGINT)
         |    AS recall_micro
         |FROM pr ORDER BY probe_level""".stripMargin,

    // L2 normalization pinned on the 10^-6 grid (norm = sequential dot
    // fold + sqrt; per-element divide — all exact-rounded IEEE).
    "q_sim_normalize" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings WHERE vec_id < 50),
        |n AS (
        |  SELECT vec_id, e,
        |    sqrt(list_reduce(list_transform(list_zip(e, e),
        |      z -> z[1] * z[2]), (x, y) -> x + y)) AS nr
        |  FROM v),
        |u AS (
        |  SELECT vec_id,
        |    CASE WHEN nr = 0 THEN e
        |         ELSE list_transform(e, x -> x / nr) END AS un,
        |    (nr = 0) AS is_degenerate
        |  FROM n)
        |SELECT vec_id,
        |  CAST(floor(sqrt(list_reduce(list_transform(list_zip(un, un),
        |    z -> z[1] * z[2]), (x, y) -> x + y)) * 1000000) AS BIGINT)
        |    AS unit_norm_micro,
        |  CAST(floor(un[1] * 1000000) AS BIGINT) AS first_elem_micro,
        |  is_degenerate
        |FROM u ORDER BY vec_id""".stripMargin,

    // PQ + exact re-rank: the q_sim_pq pipeline truncated at a 20-deep
    // ADC shortlist, finished by exact L2² between the raw double vectors
    // of the shortlisted pairs (same sequential fold both engines share).
    "q_sim_pq_rerank" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |anch AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id ASC) AS INTEGER) AS c,
        |    e
        |  FROM v ORDER BY vec_id ASC LIMIT 16),
        |d AS (
        |  SELECT v.vec_id, j.j, a.c,
        |    list_reduce(list_transform(
        |      list_zip(v.e[j.j*8+1 : j.j*8+8], a.e[j.j*8+1 : j.j*8+8]),
        |      z -> (z[1]-z[2])*(z[1]-z[2])), (x, y) -> x + y) AS dist
        |  FROM v, range(8) j(j), anch a),
        |best AS (
        |  SELECT vec_id, j, c,
        |    row_number() OVER (PARTITION BY vec_id, j
        |                       ORDER BY dist ASC, c ASC) AS rn
        |  FROM d),
        |recon AS (
        |  SELECT b.vec_id,
        |    flatten(list(a.e[b.j*8+1 : b.j*8+8] ORDER BY b.j)) AS re
        |  FROM best b JOIN anch a USING (c) WHERE b.rn = 1
        |  GROUP BY b.vec_id),
        |p AS (
        |  SELECT q.vec_id AS q_id, r.vec_id AS n_id,
        |    list_reduce(list_transform(list_zip(q.e, r.re),
        |      z -> (z[1]-z[2])*(z[1]-z[2])), (x, y) -> x + y) AS adc
        |  FROM v q JOIN recon r ON r.vec_id != q.vec_id
        |  WHERE q.vec_id < 10),
        |sl AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id,
        |      row_number() OVER (PARTITION BY q_id
        |        ORDER BY adc ASC, n_id ASC) AS rk
        |    FROM p)
        |  WHERE rk <= 20),
        |x AS (
        |  SELECT s.q_id, s.n_id,
        |    list_reduce(list_transform(list_zip(q.e, c.e),
        |      z -> (z[1]-z[2])*(z[1]-z[2])), (x, y) -> x + y) AS dist
        |  FROM sl s JOIN v q ON q.vec_id = s.q_id
        |  JOIN v c ON c.vec_id = s.n_id),
        |r AS (
        |  SELECT q_id, n_id, dist,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY dist ASC, n_id ASC) AS INTEGER) AS rk
        |  FROM x)
        |SELECT q_id, n_id, dist, rk FROM r WHERE rk <= 5
        |ORDER BY q_id, rk""".stripMargin,

    // residual IVF-PQ (IVFADC): same shape as q_sim_ivfpq, but the PQ
    // codebook is trained on and encodes residuals v − c(v); ADC ranks
    // q − c_probe against reconstructed residuals. All arithmetic is
    // exact-rounded IEEE subtraction + the sequential L2² fold both
    // engines share.
    "q_sim_ivfpq_residual" ->
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |cent AS (
         |  SELECT vec_id AS centroid_id, e AS ce FROM v
         |  ORDER BY vec_id ASC LIMIT 8),
         |assign AS (
         |  SELECT v_id, centroid_id FROM (
         |    SELECT v.vec_id AS v_id, c.centroid_id,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${dCosine("v.e", "c.ce")} DESC, c.centroid_id ASC) AS rk
         |    FROM v CROSS JOIN cent c)
         |  WHERE rk = 1),
         |resid AS (
         |  SELECT a.v_id, a.centroid_id,
         |    list_transform(list_zip(v.e, c.ce), z -> z[1] - z[2]) AS re
         |  FROM assign a JOIN v ON v.vec_id = a.v_id
         |  JOIN cent c ON c.centroid_id = a.centroid_id),
         |anch AS (
         |  SELECT CAST(row_number() OVER (ORDER BY v_id ASC) AS INTEGER) AS c,
         |    re AS e
         |  FROM resid ORDER BY v_id ASC LIMIT 16),
         |d AS (
         |  SELECT r2.v_id, j.j, a.c,
         |    list_reduce(list_transform(
         |      list_zip(r2.re[j.j*8+1 : j.j*8+8], a.e[j.j*8+1 : j.j*8+8]),
         |      z -> (z[1]-z[2])*(z[1]-z[2])), (x, y) -> x + y) AS dist
         |  FROM resid r2, range(8) j(j), anch a),
         |best AS (
         |  SELECT v_id, j, c,
         |    row_number() OVER (PARTITION BY v_id, j
         |                       ORDER BY dist ASC, c ASC) AS rn
         |  FROM d),
         |recon AS (
         |  SELECT b.v_id,
         |    flatten(list(a.e[b.j*8+1 : b.j*8+8] ORDER BY b.j)) AS rr
         |  FROM best b JOIN anch a USING (c) WHERE b.rn = 1
         |  GROUP BY b.v_id),
         |probes AS (
         |  SELECT q_id, q_e, centroid_id, ce FROM (
         |    SELECT q.vec_id AS q_id, q.e AS q_e, c.centroid_id, c.ce,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${dCosine("q.e", "c.ce")} DESC, c.centroid_id ASC) AS rk
         |    FROM v q CROSS JOIN cent c WHERE q.vec_id < 10)
         |  WHERE rk <= 2),
         |cand AS (
         |  SELECT p.q_id, a.v_id AS n_id,
         |    list_reduce(list_transform(
         |      list_zip(list_transform(list_zip(p.q_e, p.ce),
         |        z -> z[1] - z[2]), r.rr),
         |      z -> (z[1]-z[2])*(z[1]-z[2])), (x, y) -> x + y) AS adc
         |  FROM probes p JOIN assign a USING (centroid_id)
         |  JOIN recon r ON r.v_id = a.v_id
         |  WHERE p.q_id != a.v_id),
         |r AS (
         |  SELECT q_id, n_id, adc,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY adc ASC, n_id ASC) AS INTEGER) AS rk
         |  FROM cand)
         |SELECT q_id, n_id, adc, rk FROM r WHERE rk <= 5
         |ORDER BY q_id, rk""".stripMargin,

    "q_corpus_report" ->
      """WITH toks AS (
        |  SELECT source, lang, text,
        |    list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
        |  FROM documents),
        |r AS (
        |  SELECT source, lang,
        |    CAST(len(tk) AS BIGINT) AS nw,
        |    CAST(length(text) AS BIGINT) AS nc,
        |    CASE WHEN len(tk) >= 5
        |      AND len(list_filter(tk, t -> t IN ('lorem', 'javascript'))) = 0
        |      AND NOT contains(text, '{') THEN 1 ELSE 0 END AS kp
        |  FROM toks),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM r)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nw) AS BIGINT) AS total_words,
        |  CAST(sum(nc) AS BIGINT) AS total_chars,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(sum(kp) AS BIGINT) AS n_keep,
        |  CAST(sum(nw) AS DOUBLE) / count(*) AS avg_words,
        |  CAST(sum(kp) AS DOUBLE) / count(*) AS keep_rate,
        |  CAST(count(*) AS DOUBLE) / (SELECT total FROM t) AS mix_share
        |FROM r GROUP BY 1 ORDER BY source""".stripMargin,
  )
}
