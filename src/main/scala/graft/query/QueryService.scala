package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graft.ColumnBridge

import graft.plans.TimeFilterInjection

/** SQL entry point with automatic time-range injection.
  *
  * The reference rewrites every `TableScan` in the logical plan to add
  * `p_timestamp >= start AND p_timestamp < end` unless the query already
  * constrains the time column (parseable `src/query/mod.rs:829-911`). Here
  * a query is parsed once; each referenced stream is registered once, as
  * its one relation (the stats-catalog scan, or a plain read for a stream
  * without a committed catalog version, unioned with the live-tail rows
  * when the range is fresh); the SQL is analyzed once; and
  * [[graft.plans.TimeFilterInjection.inject]] wraps every relation
  * instance whose time column the query does not already compare in the
  * window `Filter`. Catalyst pushes that filter into the scan — catalog
  * file pruning, partition pruning and parquet row-group pruning.
  */
object QueryService {

  /** Stream registry entry: where the table lives, its time column, an
    * optional stats-catalog path for manifest-grade file pruning, and an
    * optional ingest root holding `.stream/stream.json` — when present,
    * scans read with the persisted union schema (old files null-fill newer
    * columns; no `mergeSchema` footer storm).
    */
  /** `tailKey` scopes the [[graft.streaming.LiveTail]] staging buffer:
    * multi-tenant callers register it tenant-scoped so a query can never
    * union another tenant's same-named staging rows ("" = the bare name).
    */
  final case class Stream(path: String, timeCol: String,
                          catalogPath: Option[String] = None,
                          metaRoot: Option[String] = None,
                          tailKey: String = "")

  /** `sql` parsed by Spark's own parser (reference: sqlparser with the
    * PostgreSqlDialect, `src/query/mod.rs:747-759`) — the one parse a
    * query gets; every check below reads this tree.
    */
  def parse(spark: SparkSession, sql: String): LogicalPlan =
    spark.sessionState.sqlParser.parsePlan(sql)

  /** Table names referenced by a parsed query. Names come back UNQUOTED
    * (`tableName` would backtick-quote non-identifier names like
    * `otel-demo-logs`, which then never match the stream registry).
    */
  def referencedTables(plan: LogicalPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    import org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith
    // CTE names shadow streams (SQL resolution order), but ONLY inside the
    // scope that binds them: a reference in a CTE's own body (before the
    // name is bound — unless WITH RECURSIVE), or outside the WITH's
    // subtree, is a REAL table reference. Scope-blind exclusion would let
    // a nested `WITH secrets AS …` subquery hide an outer real reference
    // to `secrets` from auth checks.
    def refs(plan: LogicalPlan, bound: Set[String]): Seq[String] = plan match {
      case w: UnresolvedWith =>
        // later CTEs see earlier ones; a recursive CTE sees itself
        val (defRefs, boundAll) =
          w.cteRelations.foldLeft((Seq.empty[String], bound)) {
            case ((acc, env), cte) =>
              val name = cte._1.toLowerCase
              val bodyEnv = if (w.allowRecursion) env + name else env
              (acc ++ refs(cte._2, bodyEnv), env + name)
          }
        defRefs ++ refs(w.child, boundAll)
      case r: UnresolvedRelation =>
        val n = r.multipartIdentifier.last
        if (r.multipartIdentifier.size == 1 && bound.contains(n.toLowerCase))
          Nil
        else Seq(n)
      case other =>
        other.children.flatMap(refs(_, bound)) ++
          other.expressions.flatMap(_.collect {
            case sq: SubqueryExpression => refs(sq.plan, bound)
          }.flatten)
    }
    refs(plan, Set.empty).distinct
  }

  def referencedTables(spark: SparkSession, sql: String): Seq[String] =
    referencedTables(parse(spark, sql))

  /** Every CTE name the query defines, in any scope (case preserved). */
  def cteNames(plan: LogicalPlan): Seq[String] =
    plan.collectWithSubqueries {
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        w.cteRelations.map(_._1)
    }.flatten.distinct

  def cteNames(spark: SparkSession, sql: String): Seq[String] =
    cteNames(parse(spark, sql))

  /** Temp-view name for a stream within a query. The scope — the tenant
    * plus a per-query id — always hashes into the name, so two tenants
    * sharing a stream name, or two concurrent queries over the same stream,
    * can never collide on (or leak through) a global view, and names
    * Spark's temp-view validator rejects (the reference allows e.g.
    * `otel-demo-logs`) register sanitized. The views are dropped after
    * analysis, so no stale view survives for a later query to resolve.
    */
  private def viewName(name: String, scope: String): String =
    "g_" + name.replaceAll("[^A-Za-z0-9_]", "_") + "_" +
      java.lang.Integer.toHexString((scope + "\u0000" + name).hashCode)

  /** `parsed` with single-part relations of `names` redirected to their
    * view names — wrapped back in a `SubqueryAlias` carrying the ORIGINAL
    * name, so qualified column references (`` `otel-demo-logs`.body ``)
    * keep resolving.
    */
  private def rewrittenPlan(parsed: LogicalPlan, names: Set[String],
                            scope: String): LogicalPlan = {
    import org.apache.spark.sql.catalyst.plans.logical.{SubqueryAlias, UnresolvedWith}
    // CTE definitions live in UnresolvedWith.cteRelations — a FIELD, not
    // children — so the plain tree transform never reaches a stream
    // reference inside a CTE body; recurse into them explicitly. (CTE
    // names colliding with stream names are rejected before this point,
    // so scope-blind redirection inside bodies is unambiguous.)
    def rewrite(plan: LogicalPlan): LogicalPlan =
      plan.transformUpWithSubqueries {
        case w: UnresolvedWith =>
          w.copy(cteRelations = w.cteRelations.map(t =>
            t.copy(_2 = rewrite(t._2).asInstanceOf[SubqueryAlias])))
        case r: UnresolvedRelation
            if r.multipartIdentifier.size == 1 &&
              names.contains(r.multipartIdentifier.head) =>
          SubqueryAlias(r.multipartIdentifier.head,
            UnresolvedRelation(
              Seq(viewName(r.multipartIdentifier.head, scope))))
      }
    rewrite(parsed)
  }

  /** A bare `SELECT COUNT(*) FROM t` (no filters, no grouping) — the shape
    * answerable from catalog metadata without scanning data files
    * (reference `src/query/mod.rs:427-462`): the table name and the output
    * column name the executed query would carry (`count(1)` unless
    * aliased), so a fast path can answer with the exact response shape.
    */
  def bareCountStar(plan: LogicalPlan): Option[(String, String)] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Project}
    def isCountStar(exprs: Seq[Expression]): Boolean =
      exprs.size == 1 && {
        // parsed (pre-analysis) trees print count(*) as 'count(*) / 'count(1)
        val text = exprs.head.toString.toLowerCase.replaceAll("[\\s']", "")
        text.contains("count(*)") || text.contains("count(1)")
      }
    def outName(e: Expression): String = e match {
      case a: Alias => a.name
      case _        => "count(1)"
    }
    plan match {
      // COUNT(*) with no grouping parses as a bare Project until analysis
      case Project(list, r: UnresolvedRelation) if isCountStar(list) =>
        Some((r.multipartIdentifier.last, outName(list.head)))
      case Aggregate(Nil, aggs, r: UnresolvedRelation, _) if isCountStar(aggs) =>
        Some((r.multipartIdentifier.last, outName(aggs.head)))
      case _ => None
    }
  }

  def bareCountStar(spark: SparkSession,
                    sql: String): Option[(String, String)] =
    bareCountStar(parse(spark, sql))

  /** Staging freshness window (reference: queries whose range touches the
    * last 5 minutes union in not-yet-synced staging data,
    * `src/query/stream_schema_provider.rs:936-958`).
    */
  val StagingWindowMillis: Long = 5 * 60 * 1000L

  /** Time-windowed single-stream read for the non-SQL paths (alert
    * evaluation, counts scans, log-context pages): the stream's one
    * relation ([[catalogRead]]) under the same window predicate [[query]]
    * injects ([[graft.plans.TimeFilterInjection.window]]). No staging
    * union — these paths answer from durable data.
    */
  def windowedRead(spark: SparkSession, name: String, s: Stream,
                   range: TimeRange): DataFrame = {
    val df = catalogRead(spark, name, s)
    df.filter(ColumnBridge.column(TimeFilterInjection.window(
      ColumnBridge.logicalPlan(df).output, s.timeCol,
      range.start.toEpochMilli, range.end.toEpochMilli)))
  }

  /** The stream's one relation: the stats-catalog `FileIndex` scan, with
    * the table's partition columns, when it has a committed catalog
    * version — every pushed predicate (the time window AND the user's own
    * filters) prunes files inside the scan itself — else a plain read of
    * the table. Both read with the stream's persisted union schema when it
    * has one (old files null-fill newer columns; no `mergeSchema` footer
    * storm).
    */
  private[graft] def catalogRead(spark: SparkSession, name: String,
                                 s: Stream): DataFrame = {
    val union = s.metaRoot.flatMap(graft.catalog.StreamMeta.unionSchema(_, name))
    s.catalogPath.flatMap(graft.catalog.TxnCatalog.snapshot(spark, _)) match {
      case Some(cat) => graft.plans.StatsFileIndex.read(spark, cat, union,
        tableRoot = Some(s.path))
      case None => union.foldLeft(spark.read)(_.schema(_)).parquet(s.path)
    }
  }

  /** [[query]] behind the RBAC gate (reference query flow step 5,
    * `user_auth_for_datasets`): every stream the SQL references must be
    * readable by `user`.
    */
  def authorizedQuery(
      spark: SparkSession,
      streams: Map[String, Stream],
      sql: String,
      range: TimeRange,
      user: String): Either[String, DataFrame] = {
    val plan = parse(spark, sql)
    Rbac.authorizeQuery(user, referencedTables(plan).filter(streams.contains))
      .map(_ => query(spark, streams, plan, range, scope = ""))
  }

  /** Execute a parsed query with the time window injected into every
    * relation instance of a referenced stream whose time column the query
    * does not already compare. Non-stream tables (dims) pass through
    * unfiltered. Queries whose range reaches into the staging window also
    * see the in-memory recent batches ([[graft.streaming.LiveTail]])
    * unioned under the stream's relation — the Spark shape of the
    * reference's staging ∪ parquet scan.
    *
    * One analysis: the SQL resolves against one view per stream, and the
    * window goes in on the analyzed plan. A query that cannot be analyzed
    * fails with its own analysis error.
    */
  def query(
      spark: SparkSession,
      streams: Map[String, Stream],
      plan: LogicalPlan,
      range: TimeRange,
      scope: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.View
    // a CTE named like a registered stream would make the single-part
    // rewrite ambiguous (the CTE-bound reference must NOT redirect to the
    // stream view) — refuse rather than silently mis-resolve
    val shadowing = cteNames(plan)
      .filter(n => streams.keys.exists(_.equalsIgnoreCase(n)))
    if (shadowing.nonEmpty)
      throw new IllegalArgumentException(
        s"CTE name(s) ${shadowing.mkString(", ")} shadow stream names; " +
          "rename the CTE")
    // per-execution unique scope: stream views register under names no
    // other query (any tenant, any concurrency) can observe or clobber,
    // and are dropped right after analysis — so a later query can never
    // resolve a stale view left by this one (cross-tenant data leak)
    val qscope = scope + "#q" + queryIds.incrementAndGet()
    val referenced = referencedTables(plan)
      .flatMap(n => streams.get(n).map(n -> _))
    val fresh = range.end.toEpochMilli >=
      System.currentTimeMillis() - StagingWindowMillis
    val timeColOf = referenced.map { case (name, s) =>
      viewName(name, qscope).toLowerCase -> s.timeCol }.toMap
    val analyzed =
      try {
        referenced.foreach { case (name, s) =>
          val base = catalogRead(spark, name, s)
          val recent = Option.when(fresh)(graft.streaming.LiveTail.recentFrame(
              spark, if (s.tailKey.nonEmpty) s.tailKey else name)).flatten
            .filter(_.columns.contains(s.timeCol))
          recent.fold(base)(base.unionByName(_, allowMissingColumns = true))
            .createOrReplaceTempView(viewName(name, qscope))
        }
        ColumnBridge.analyze(spark,
          rewrittenPlan(plan, referenced.map(_._1).toSet, qscope))
      } finally referenced.foreach { case (name, _) =>
        spark.catalog.dropTempView(viewName(name, qscope))
      }
    // instances are found by their per-query view, never by alias
    ColumnBridge.ofAnalyzed(spark, TimeFilterInjection.inject(analyzed,
        range.start.toEpochMilli, range.end.toEpochMilli) {
      case v: View if v.isTempView &&
          timeColOf.contains(v.desc.identifier.table.toLowerCase) =>
        timeColOf(v.desc.identifier.table.toLowerCase)
    })
  }

  def query(
      spark: SparkSession,
      streams: Map[String, Stream],
      sql: String,
      range: TimeRange,
      scope: String = ""): DataFrame =
    query(spark, streams, parse(spark, sql), range, scope)

  private val queryIds = new java.util.concurrent.atomic.AtomicLong(0)
}
