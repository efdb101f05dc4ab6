package graft.plans

import java.time.{Instant, LocalDate, ZoneOffset}

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, BinaryComparison, Cast, ExprId, Expression, GreaterThanOrEqual, IsNull, LessThan, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DateType, StringType, TimestampNTZType, TimestampType}

/** Plan-level time-range injection — the reference's `final_logical_plan`
  * rewrite (parseable `src/query/mod.rs:387-424,829-911`: every TableScan
  * of a stream gains `time >= start AND time < end` unless the query
  * already constrains the time column) as one pure function over an
  * ANALYZED plan: [[inject]].
  *
  * Attribution is per relation instance and by `ExprId`, never by column
  * or alias NAME: `a JOIN b WHERE a.ts >= X` still windows `b` although
  * both expose a `ts`, and a user alias that happens to spell another
  * stream's name attributes nothing to that stream.
  */
object TimeFilterInjection {

  /** The window [startMs, endMs) over a relation with `output`: the exact
    * row-level bounds on `timeCol`, plus — for streams Hive-partitioned by
    * a `date` directory (the ingest layout) — a coarse day-range predicate
    * on it that turns the window into partition pruning. A null `date`
    * (a frame unioned in without the partition column) passes the coarse
    * predicate; the exact bounds still apply to it.
    *
    * A timestamp column compares against literals of its own type (so the
    * bounds push down to the scan as-is); any other type is cast to
    * TIMESTAMP first, as SQL coercion would.
    */
  def window(output: Seq[Attribute], timeCol: String,
             startMs: Long, endMs: Long): Expression = {
    val time = output.find(_.name.equalsIgnoreCase(timeCol)).getOrElse(
      throw new AnalysisException("UNRESOLVED_COLUMN.WITHOUT_SUGGESTION",
        Map("objectName" -> s"`$timeCol`")))
    val tz = Some(SQLConf.get.sessionLocalTimeZone)
    def at(ms: Long): Expression = Literal(ms * 1000L, TimestampType)
    val (t, bound): (Expression, Long => Expression) = time.dataType match {
      case TimestampType    => (time, at)
      case TimestampNTZType => (time, ms => Cast(at(ms), TimestampNTZType, tz))
      case _                => (Cast(time, TimestampType, tz), at)
    }
    val exact = And(GreaterThanOrEqual(t, bound(startMs)), LessThan(t, bound(endMs)))
    def day(ms: Long) = LocalDate.ofInstant(Instant.ofEpochMilli(ms), ZoneOffset.UTC)
    val days = output.find(_.name.equalsIgnoreCase("date")).collect {
      case d if d.dataType == DateType =>
        (d, Literal(day(startMs)), Literal(day(endMs)))
      case d if d.dataType == StringType =>
        (d, Literal(day(startMs).toString), Literal(day(endMs).toString))
    }
    days.fold(exact) { case (d, lo, hi) =>
      And(exact, Or(IsNull(d),
        And(GreaterThanOrEqual(d, lo), LessThanOrEqual(d, hi))))
    }
  }

  /** ExprIds a `Filter` anywhere in `plan` compares, closed over `Alias`
    * edges (`SELECT ts AS t … WHERE t > X` constrains `ts`).
    */
  private def constrained(plan: LogicalPlan): Set[ExprId] = {
    val aliasEdges: Map[ExprId, Set[ExprId]] =
      plan.collectWithSubqueries { case p =>
        p.expressions.flatMap(_.collect {
          case a: Alias => a.exprId -> a.child.references.map(_.exprId).toSet
        })
      }.flatten.toMap
    var cur: Set[ExprId] =
      plan.collectWithSubqueries { case f: Filter =>
        f.condition.collect { case cmp: BinaryComparison =>
          cmp.children.collect { case a: Attribute => a.exprId }
        }.flatten
      }.flatten.toSet
    var grown = true
    while (grown) {
      val next = cur ++ cur.flatMap(aliasEdges.getOrElse(_, Set.empty[ExprId]))
      grown = next.size != cur.size
      cur = next
    }
    cur
  }

  /** `analyzed` with each relation instance `timeColOf` recognizes wrapped
    * in its [[window]], unless the query already compares THAT instance's
    * time column ([[constrained]]) — the user's own filter wins. Each
    * unconstrained instance gains exactly one window filter.
    */
  def inject(analyzed: LogicalPlan, startMs: Long, endMs: Long)(
      timeColOf: PartialFunction[LogicalPlan, String]): LogicalPlan = {
    val compared = constrained(analyzed)
    // transformUp: the wrapped instance is not visited again
    analyzed.transformUpWithSubqueries {
      case r if timeColOf.isDefinedAt(r) && !r.output.exists(a =>
          a.name.equalsIgnoreCase(timeColOf(r)) && compared(a.exprId)) =>
        Filter(window(r.output, timeColOf(r), startMs, endMs), r)
    }
  }
}
