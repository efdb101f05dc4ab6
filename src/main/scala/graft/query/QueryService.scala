package graft.query

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.functions._

/** SQL entry point with automatic time-range injection.
  *
  * The reference rewrites every `TableScan` in the logical plan to add
  * `p_timestamp >= start AND p_timestamp < end` unless the query already
  * constrains the time column (parseable `src/query/mod.rs:829-911`). The
  * Spark-first equivalent: before executing user SQL, re-register each
  * referenced stream view as `SELECT * FROM t WHERE time >= .. AND time < ..`
  * — Catalyst folds the wrapper predicate into the scan (partition pruning +
  * parquet row-group pruning), so injection costs nothing at plan time and
  * prunes at both file and page level during execution.
  */
object QueryService {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

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

  /** Table names referenced by a SQL query, resolved with Spark's own parser
    * (reference uses sqlparser+PostgreSqlDialect, `src/query/mod.rs:747-759`).
    * Names come back UNQUOTED (`tableName` would backtick-quote
    * non-identifier names like `otel-demo-logs`, which then never match the
    * stream registry).
    */
  def referencedTables(spark: SparkSession, sql: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}
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
    refs(spark.sessionState.sqlParser.parsePlan(sql), Set.empty).distinct
  }

  /** Every CTE name the query defines, in any scope (case preserved). */
  def cteNames(spark: SparkSession, sql: String): Seq[String] =
    spark.sessionState.sqlParser.parsePlan(sql).collectWithSubqueries {
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        w.cteRelations.map(_._1)
    }.flatten.distinct

  /** Streams may carry names Spark's temp-view validator rejects (the
    * reference allows e.g. `otel-demo-logs`). Such names register under a
    * sanitized alias and the parsed plan is rewritten to reference it —
    * wrapped back in a `SubqueryAlias` carrying the ORIGINAL name, so
    * qualified column references (`` `otel-demo-logs`.body ``) and
    * per-relation time-filter attribution keep working.
    */
  private val SafeIdent = "^[A-Za-z_][A-Za-z0-9_]*$".r

  /** Temp-view name for a stream. With an empty scope, safe names register
    * as themselves (the historical shape). A non-empty scope — the tenant
    * plus a per-query id — ALWAYS hashes into the view name, so two tenants
    * sharing a stream name, or two concurrent queries over the same stream,
    * can never collide on (or leak through) a global view. Scoped views are
    * also dropped after analysis, so no stale view survives for a later
    * query's resolution to pick up.
    */
  private[query] def viewName(name: String, scope: String = ""): String =
    if (scope.isEmpty && SafeIdent.matches(name)) name
    else "g_" + name.replaceAll("[^A-Za-z0-9_]", "_") + "_" +
      java.lang.Integer.toHexString((scope + "\u0000" + name).hashCode)

  /** Parse `sql`, redirecting single-part relations of aliased streams to
    * their registered view names (identity when every name is safe and
    * unscoped). The redirect wraps back in a `SubqueryAlias` carrying the
    * ORIGINAL name, so qualified column references keep resolving.
    */
  private def rewrittenPlan(
      spark: SparkSession, sql: String, names: Set[String],
      scope: String = "")
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
    val parsed = spark.sessionState.sqlParser.parsePlan(sql)
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
              names.contains(r.multipartIdentifier.head) &&
              viewName(r.multipartIdentifier.head, scope) !=
                r.multipartIdentifier.head =>
          SubqueryAlias(r.multipartIdentifier.head,
            UnresolvedRelation(
              Seq(viewName(r.multipartIdentifier.head, scope))))
      }
    if (names.forall(n => viewName(n, scope) == n)) parsed
    else rewrite(parsed)
  }

  /** Whether the parsed query filters on `timeCol` ANYWHERE — the coarse
    * textual check (reference `src/query/mod.rs:890-911`
    * `table_contains_any_time_filters` is stricter: per TableScan). Kept as
    * the fallback for SQL that cannot be analyzed; [[constrainedStreams]]
    * is the per-relation version [[query]] actually uses.
    */
  def containsTimeFilter(spark: SparkSession, sql: String, timeCol: String): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, BinaryComparison}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val plan = spark.sessionState.sqlParser.parsePlan(sql)
    plan.collectWithSubqueries { case f: Filter => f.condition }.exists { cond =>
      cond.collect { case cmp: BinaryComparison => cmp }.exists(_.children.exists {
        case a: Attribute => a.name.equalsIgnoreCase(timeCol)
        case _            => false
      })
    }
  }

  /** Stream names whose time column the query ALREADY constrains, attributed
    * per relation — the reference checks the filters of each TableScan
    * (`src/query/mod.rs:890-911`), so `SELECT .. FROM a JOIN b WHERE
    * a.p_timestamp >= X` must still get the window injected into `b` even
    * though both streams share the time-column NAME.
    *
    * Resolution: the SQL is analyzed (not executed) against the registered
    * views; each stream's relation instances surface as `SubqueryAlias`
    * nodes whose output attributes carry unique `ExprId`s, so a comparison
    * is attributed to exactly the relation whose attribute it references.
    * Alias indirection (`SELECT ts AS t FROM s` ... `WHERE t > X`) is
    * resolved through a transitive closure over `Alias` edges. Self-joins
    * of one stream collapse to name granularity (injection here is
    * per-view): if ANY instance is constrained the stream is skipped.
    *
    * Registers each stream as a PLAIN (unwindowed) temp view for the
    * analysis — callers that need windowed views ([[query]]) re-register
    * them afterwards. If analysis fails (e.g. a non-stream table is
    * absent), falls back to the global [[containsTimeFilter]] check per
    * time column — conservative in the same direction as the old behavior.
    */
  def constrainedStreams(
      spark: SparkSession,
      streams: Map[String, Stream],
      sql: String,
      scope: String = ""): Set[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, BinaryComparison, ExprId}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, SubqueryAlias}
    streams.foreach { case (name, s) =>
      plainReader(spark, name, s).parquet(s.path)
        .createOrReplaceTempView(viewName(name, scope))
    }
    val analyzed =
      try org.apache.spark.sql.graft.ColumnBridge
        .ofRows(spark, rewrittenPlan(spark, sql, streams.keySet, scope))
        .queryExecution.analyzed
      catch {
        case e: Exception =>
          // fall back to query-global time-filter detection — conservative
          // (at worst injects a window the query already has), but a
          // swallowed analysis error can also hide a real bug, so say so
          log.warn(s"time-filter attribution fell back to query-global " +
            s"detection: analysis of [$sql] failed: ${e.getMessage}")
          return streams.filter { case (_, s) =>
            containsTimeFilter(spark, sql, s.timeCol)
          }.keySet
      }
    val aliasEdges: Map[ExprId, Set[ExprId]] =
      analyzed.collectWithSubqueries { case p =>
        p.expressions.flatMap(_.collect {
          case a: Alias => a.exprId -> a.child.references.map(_.exprId).toSet
        })
      }.flatten.toMap
    def close(ids: Set[ExprId]): Set[ExprId] = {
      var cur = ids
      var grown = true
      while (grown) {
        val next = cur ++ cur.flatMap(aliasEdges.getOrElse(_, Set.empty[ExprId]))
        grown = next.size != cur.size
        cur = next
      }
      cur
    }
    val compared: Set[ExprId] = close(
      analyzed.collectWithSubqueries { case f: LFilter =>
        f.condition.collect { case cmp: BinaryComparison =>
          cmp.children.collect { case a: Attribute => a.exprId }
        }.flatten
      }.flatten.toSet)
    streams.collect {
      case (name, s) if analyzed.collectWithSubqueries {
            case sa: SubqueryAlias if sa.alias.equalsIgnoreCase(name) =>
              sa.output.filter(_.name.equalsIgnoreCase(s.timeCol)).map(_.exprId)
          }.flatten.exists(compared) =>
        name
    }.toSet
  }

  /** Detect `SELECT COUNT(*) FROM t` (no filters, no grouping) — the shape
    * answerable from catalog metadata without scanning data files
    * (reference `src/query/mod.rs:427-462`). Returns the table name.
    */
  def detectBareCountStar(spark: SparkSession, sql: String): Option[String] =
    bareCountStar(spark, sql).map(_._1)

  /** As [[detectBareCountStar]], also yielding the output column name the
    * executed query would carry (`count(1)` unless aliased) — so a fast
    * path can answer with the exact response shape.
    */
  def bareCountStar(spark: SparkSession,
                    sql: String): Option[(String, String)] = {
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
    spark.sessionState.sqlParser.parsePlan(sql) match {
      // COUNT(*) with no grouping parses as a bare Project until analysis
      case Project(list, r: UnresolvedRelation) if isCountStar(list) =>
        Some((r.multipartIdentifier.last, outName(list.head)))
      case Aggregate(Nil, aggs, r: UnresolvedRelation, _) if isCountStar(aggs) =>
        Some((r.multipartIdentifier.last, outName(aggs.head)))
      case _ => None
    }
  }

  /** Answer a bare COUNT(*) from the stats catalog if the query has that
    * shape and a catalog exists for the stream; None → execute normally.
    */
  def countStarFastPath(spark: SparkSession, sql: String,
                        catalogPaths: Map[String, String]): Option[Long] =
    detectBareCountStar(spark, sql)
      .flatMap(catalogPaths.get)
      .map(graft.catalog.StatsCatalog.countStar(spark, _))

  /** Reader with the stream's data schema applied: its persisted union
    * schema, else the data schema its catalog's latest version holds (the
    * schema a catalog scan reads with). Old files null-fill newer columns;
    * no `mergeSchema` footer storm, no inference job.
    */
  private def plainReader(spark: SparkSession, name: String, s: Stream) =
    s.metaRoot
      .flatMap(graft.catalog.StreamMeta.unionSchema(_, name))
      .orElse(s.catalogPath
        .flatMap(graft.catalog.TxnCatalog.snapshot(spark, _))
        .flatMap(graft.catalog.TxnCatalog.residentOf)
        .flatMap(_.dataSchema(spark)))
      .foldLeft(spark.read)((r, schema) => r.schema(schema))

  /** Staging freshness window (reference: queries whose range touches the
    * last 5 minutes union in not-yet-synced staging data,
    * `src/query/stream_schema_provider.rs:936-958`).
    */
  val StagingWindowMillis: Long = 5 * 60 * 1000L

  /** Time-windowed single-stream read for the non-SQL paths (alert
    * evaluation, counts scans, log-context pages): the same scan shape
    * [[query]] builds for SQL — stats-catalog `FileIndex` when the stream
    * has one (pushed predicates prune FILES before any footer opens), the
    * coarse Hive date-partition predicate (directory pruning), and the
    * exact row-level window. No staging union — these paths answer from
    * durable data.
    */
  def windowedRead(spark: SparkSession, name: String, s: Stream,
                   range: TimeRange): DataFrame =
    inWindow(catalogRead(spark, name, s), s, range)

  /** The stream's scan: through the stats-catalog `FileIndex` when it has a
    * committed catalog version — every pushed predicate (the time window
    * AND the user's own filters) prunes files inside the scan itself —
    * else a plain read of the table.
    */
  private def catalogRead(spark: SparkSession, name: String,
                          s: Stream): DataFrame =
    s.catalogPath.flatMap(graft.catalog.TxnCatalog.snapshot(spark, _)) match {
      case Some(cat) => graft.plans.StatsFileIndex.read(spark, cat,
        s.metaRoot.flatMap(graft.catalog.StreamMeta.unionSchema(_, name)))
      case None => plainReader(spark, name, s).parquet(s.path)
    }

  /** `df` restricted to the range: the exact row-level window, plus — for
    * streams written by IngestPipeline, Hive-partitioned by date/hour
    * string dirs — a coarse date-range predicate on the partition column
    * that turns the window into directory pruning.
    */
  private def inWindow(df: DataFrame, s: Stream, range: TimeRange): DataFrame = {
    val timed = df.filter(
      col(s.timeCol) >= lit(Instant.ofEpochMilli(range.start.toEpochMilli)) &&
        col(s.timeCol) < lit(Instant.ofEpochMilli(range.end.toEpochMilli)))
    if (df.columns.contains("date")) {
      val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
        .withZone(java.time.ZoneOffset.UTC)
      timed.filter(col("date").between(
        fmt.format(range.start), fmt.format(range.end)))
    } else timed
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
    val referenced = referencedTables(spark, sql).filter(streams.contains)
    Rbac.authorizeQuery(user, referenced)
      .map(_ => query(spark, streams, sql, range))
  }

  /** Execute `sql` with the time window injected into every referenced
    * stream. Non-stream tables (dims) pass through unfiltered. Queries
    * whose range reaches into the staging window also see the in-memory
    * recent batches ([[graft.streaming.LiveTail]]) unioned under the table
    * view — the Spark shape of the reference's staging ∪ parquet scan.
    */
  def query(
      spark: SparkSession,
      streams: Map[String, Stream],
      sql: String,
      range: TimeRange,
      scope: String = ""): DataFrame = {
    // per-execution unique scope: stream views register under names no
    // other query (any tenant, any concurrency) can observe or clobber,
    // and are dropped right after analysis — so a later query can never
    // resolve a stale view left by this one (cross-tenant data leak)
    val qscope = scope + "#q" + queryIds.incrementAndGet()
    val freshCutoff = System.currentTimeMillis() - StagingWindowMillis
    // a CTE named like a registered stream would make the single-part
    // rewrite ambiguous (the CTE-bound reference must NOT redirect to the
    // stream view) — refuse rather than silently mis-resolve
    val shadowing = cteNames(spark, sql)
      .filter(n => streams.keys.exists(_.equalsIgnoreCase(n)))
    if (shadowing.nonEmpty)
      throw new IllegalArgumentException(
        s"CTE name(s) ${shadowing.mkString(", ")} shadow stream names; " +
          "rename the CTE")
    val referenced = referencedTables(spark, sql)
      .flatMap(n => streams.get(n).map(n -> _))
    // pass 1 (inside constrainedStreams): plain views, so the SQL can be
    // ANALYZED (no execution) and existing time filters attributed to
    // individual relations; pass 2 below re-registers the real views
    val constrained =
      constrainedStreams(spark, referenced.toMap, sql, qscope)
    referenced.foreach { case (name, s) =>
        // a stream whose SQL already constrains time reads plain, as is;
        // every other stream gets the window over its catalog-pruned scan
        val skipInject = constrained.contains(name)
        def windowed(df: DataFrame): DataFrame =
          if (skipInject) df else inWindow(df, s, range)
        val base =
          if (skipInject) plainReader(spark, name, s).parquet(s.path)
          else inWindow(catalogRead(spark, name, s), s, range)
        val df =
          if (range.end.toEpochMilli < freshCutoff) base
          else
            graft.streaming.LiveTail.recentFrame(spark,
                if (s.tailKey.nonEmpty) s.tailKey else name) match {
              case Some(recent) if recent.columns.contains(s.timeCol) =>
                base.unionByName(windowed(recent), allowMissingColumns = true)
              case _ => base
            }
        df.createOrReplaceTempView(viewName(name, qscope))
    }
    // ofRows analyzes eagerly — the returned DataFrame holds resolved
    // relations, so the views can (and must) be dropped before returning
    try org.apache.spark.sql.graft.ColumnBridge.ofRows(spark,
      rewrittenPlan(spark, sql, referenced.map(_._1).toSet, qscope))
    finally referenced.foreach { case (name, _) =>
      spark.catalog.dropTempView(viewName(name, qscope))
    }
  }

  private val queryIds = new java.util.concurrent.atomic.AtomicLong(0)
}
