package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Threshold alerts: rolling-window scheduled queries whose grouped aggregate
  * is compared against a threshold.
  *
  * Re-expresses the reference's alert model (parseable
  * `src/alerts/alert_structs.rs`, `src/alerts/alerts_utils.rs`) with
  * `Column` expressions instead of SQL-string assembly:
  *   - condition AST (nested AND/OR groups) → [[Conditions.toColumn]]
  *     (reference `alerts_utils.rs:390-460` builds a WHERE string);
  *   - rich operators (`alert_enums.rs:171-231`) → [[Conditions.compare]];
  *   - aggregate + per-group threshold eval (`alert_types.rs:92-161`).
  */
object Alerts {

  sealed trait WhereOp
  case object Eq extends WhereOp
  case object NotEq extends WhereOp
  case object Lt extends WhereOp
  case object Gt extends WhereOp
  case object LtEq extends WhereOp
  case object GtEq extends WhereOp
  case object IsNull extends WhereOp
  case object IsNotNull extends WhereOp
  case object ILike extends WhereOp
  case object Contains extends WhereOp
  case object BeginsWith extends WhereOp
  case object EndsWith extends WhereOp
  case object DoesNotContain extends WhereOp
  case object DoesNotBeginWith extends WhereOp
  case object DoesNotEndWith extends WhereOp
  // list-column predicates (reference `array_has_all` conditions,
  // alerts_utils.rs:581-640): value is a quote-aware CSV of elements
  case object ArrayContains extends WhereOp
  case object ArrayHasAll extends WhereOp
  case object ArrayHasAny extends WhereOp

  sealed trait ConditionNode
  final case class Leaf(column: String, op: WhereOp, value: Option[String])
      extends ConditionNode
  final case class Group(and: Boolean, children: Seq[ConditionNode])
      extends ConditionNode

  object Conditions {
    def compare(c: Column, op: WhereOp, v: Option[String]): Column = op match {
      case Eq               => c === lit(v.get)
      case NotEq            => c =!= lit(v.get)
      case Lt               => c < lit(v.get)
      case Gt               => c > lit(v.get)
      case LtEq             => c <= lit(v.get)
      case GtEq             => c >= lit(v.get)
      case IsNull           => c.isNull
      case IsNotNull        => c.isNotNull
      case ILike            => c.ilike(v.get)
      case Contains         => c.contains(lit(v.get))
      case BeginsWith       => c.startsWith(lit(v.get))
      case EndsWith         => c.endsWith(lit(v.get))
      case DoesNotContain   => !c.contains(lit(v.get))
      case DoesNotBeginWith => !c.startsWith(lit(v.get))
      case DoesNotEndWith   => !c.endsWith(lit(v.get))
      case ArrayContains    => array_contains(c, v.get)
      case ArrayHasAll      =>
        // Spark has no array_has_all builtin: required ⊆ column ⇔ nothing
        // required is left over after removing the column's elements
        size(array_except(array(parseCsv(v.get).map(lit): _*), c)) === 0
      case ArrayHasAny      =>
        arrays_overlap(c, array(parseCsv(v.get).map(lit): _*))
    }

    /** Quote-aware CSV: `a,'b,c',d` → Seq(a, "b,c", d) (reference's
      * sanitizer semantics, alerts_utils.rs:462-579).
      */
    def parseCsv(s: String): Seq[String] = {
      val out = Seq.newBuilder[String]
      val cur = new StringBuilder
      var inQuote = false
      s.foreach {
        case '\'' => inQuote = !inQuote
        case ',' if !inQuote => out += cur.result().trim; cur.clear()
        case ch => cur += ch
      }
      val last = cur.result().trim
      if (last.nonEmpty || s.endsWith(",")) out += last
      out.result()
    }

    def toColumn(node: ConditionNode): Column = node match {
      case Leaf(name, op, v) => compare(col(name), op, v)
      case Group(and, children) =>
        children.map(toColumn).reduce((a, b) => if (and) a && b else a || b)
    }
  }

  sealed trait AggKind
  case object AggAvg extends AggKind
  case object AggCount extends AggKind
  case object AggCountDistinct extends AggKind
  case object AggMin extends AggKind
  case object AggMax extends AggKind
  case object AggSum extends AggKind

  def aggregate(kind: AggKind, c: String): Column = kind match {
    case AggAvg           => avg(col(c))
    case AggCount         => count(col(c))
    case AggCountDistinct => count_distinct(col(c))
    case AggMin           => min(col(c))
    case AggMax           => max(col(c))
    case AggSum           => sum(col(c))
  }

  sealed trait CmpOp
  case object Above extends CmpOp
  case object Below extends CmpOp
  case object EqualTo extends CmpOp

  final case class AlertConfig(
      agg: AggKind,
      aggColumn: String,
      where: Option[ConditionNode],
      groupBy: Seq[String],
      cmp: CmpOp,
      threshold: Double)

  final case class GroupResult(groupValues: Map[String, String], aggregate: Double)

  /** One evaluation: aggregate per group over the windowed stream, compare to
    * the threshold. The stream DataFrame is expected to already carry the
    * rolling window filter (injected by [[QueryService]]).
    */
  def evaluate(df: DataFrame, cfg: AlertConfig): Seq[GroupResult] = {
    val filtered = cfg.where.map(w => df.filter(Conditions.toColumn(w))).getOrElse(df)
    val aggCol = aggregate(cfg.agg, cfg.aggColumn).cast("double").as("__agg")
    val grouped =
      if (cfg.groupBy.isEmpty) filtered.agg(aggCol)
      else filtered.groupBy(cfg.groupBy.map(col): _*).agg(aggCol)
    grouped.collect().toSeq.map { row =>
      GroupResult(
        cfg.groupBy.map(g => g -> String.valueOf(row.getAs[Any](g))).toMap,
        row.getAs[Double]("__agg"))
    }
  }

  def triggered(r: GroupResult, cfg: AlertConfig): Boolean = cfg.cmp match {
    case Above   => r.aggregate > cfg.threshold
    case Below   => r.aggregate < cfg.threshold
    case EqualTo => r.aggregate == cfg.threshold
  }

  /** Anomaly alert: instead of a fixed threshold, flag rows whose
    * quantized measure deviates more than `zThreshold` standard deviations
    * from its group's mean ([[TimeSeries.zscore]] — exact integer moments,
    * so two evaluations of the same window agree bit-for-bit). Returns the
    * outlier rows; feed counts into the same [[StateMachine]] as threshold
    * alerts. The reference only supports fixed-threshold alerts — this is
    * the self-tuning variant operators actually want for "value looks
    * wrong" pages.
    */
  def anomalyFrame(df: DataFrame, cfg: AnomalyConfig): DataFrame = {
    val filtered = cfg.where.map(w => df.filter(Conditions.toColumn(w))).getOrElse(df)
    TimeSeries.zscore(filtered, cfg.groupBy,
        floor(col(cfg.column) * cfg.scale).cast("long"), cfg.zThreshold)
      .filter(col("is_anomaly"))
  }

  final case class AnomalyConfig(
      column: String,
      groupBy: String,
      where: Option[ConditionNode] = None,
      zThreshold: Double = 3.0,
      scale: Double = 100.0)

  /** Multi-window burn-rate alert (the SRE workbook's error-budget alert):
    * per time bin, the error rate over a SHORT trailing window and a LONG
    * trailing window; a bin fires only when BOTH exceed the threshold —
    * the short window gives fast detection, the long window keeps one
    * noisy bin from paging. The reference's fixed-threshold alerts
    * (`alerts_utils.rs`) can't express this two-horizon condition.
    *
    * Shape: the raw stream collapses to per-bin (errors, total) counters
    * first — the trailing windows then run over O(time-range/bin) rows,
    * independent of event volume, as RANGE frames on the bin epoch (exact
    * integer arithmetic; each rate is one exact division).
    */
  def burnRate(df: DataFrame, timeCol: String, errorCond: Column,
               binMillis: Long, shortBins: Int, longBins: Int,
               threshold: Double): DataFrame = {
    val binned = df
      .groupBy(Counts.dateBin(col(timeCol), binMillis).as("bin_start"))
      .agg(count(lit(1)).as("total"),
        sum(when(errorCond, 1L).otherwise(0L)).as("errors"))
    val ms = unix_millis(col("bin_start").cast("timestamp"))
    // Single-partition RANGE window — deliberate, and bounded by
    // construction: its input is the per-bin aggregate above, ONE row per
    // time bin regardless of event volume (a 30-day range at 1-minute
    // bins is ≈43k rows; single-partition is the correct plan at that
    // size, same argument as Packing's per-partition totals). The
    // trailing frames must see the whole timeline, so the partition key
    // is a CONSTANT — the optimizer-proof form
    // ([[graft.operators.TopK.constPartitionKey]]); never a real key.
    def trail(c: String, bins: Int) = sum(col(c)).over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(graft.operators.TopK.constPartitionKey(ms))
        .orderBy(ms)
        .rangeBetween(-(bins - 1L) * binMillis, 0))
    binned
      .withColumn("short_errors", trail("errors", shortBins))
      .withColumn("short_total", trail("total", shortBins))
      .withColumn("long_errors", trail("errors", longBins))
      .withColumn("long_total", trail("total", longBins))
      .withColumn("short_rate",
        col("short_errors").cast("double") / col("short_total"))
      .withColumn("long_rate",
        col("long_errors").cast("double") / col("long_total"))
      .filter(col("short_rate") >= threshold && col("long_rate") >= threshold)
      .select(col("bin_start"), col("short_errors"), col("short_total"),
        col("long_errors"), col("long_total"), col("short_rate"),
        col("long_rate"))
  }

  /** SLO error-budget report (the SRE workbook's availability table): per
    * group (service, tenant, …) over the full frame, request/error totals,
    * availability, and the fraction of the error budget consumed against
    * `sloTarget` (e.g. 0.999 → budget = 0.1% of requests). All counts are
    * exact integers; availability and budget burn are fixed single-
    * division/expression trees, so the report is engine-exact. One hash
    * aggregation — scan-bound at any scale.
    */
  def sloReport(df: DataFrame, groupCols: Seq[String], errorCond: Column,
                sloTarget: Double): DataFrame = {
    val avail = lit(1.0) -
      col("errors").cast("double") / col("requests")
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("requests"),
        sum(when(errorCond, 1L).otherwise(0L)).as("errors"))
      .withColumn("availability", avail)
      .withColumn("budget_consumed",
        (col("errors").cast("double") / col("requests")) /
          (1.0 - sloTarget))
      .withColumn("slo_met", col("availability") >= sloTarget)
  }

  // ----------------------------------------------------------- state machine

  sealed trait AlertState
  case object Triggered extends AlertState
  case object NotTriggered extends AlertState
  case object Disabled extends AlertState

  final case class Notification(
      alertId: String,
      state: AlertState,
      message: String)

  /** Per-alert state machine (reference `alerts_utils.rs:280-327`
    * `update_alert_state`, states `alert_enums.rs:339-345`):
    *   - any violating group → Triggered, notify with the violation message;
    *   - no violation while Triggered → NotTriggered, notify resolution;
    *   - no violation while NotTriggered → stay silent;
    *   - Disabled alerts never transition or notify.
    */
  final class StateMachine(notify: Notification => Unit) {
    private val states =
      new java.util.concurrent.ConcurrentHashMap[String, AlertState]()

    def state(alertId: String): AlertState =
      states.getOrDefault(alertId, NotTriggered)

    def disable(alertId: String): Unit = { states.put(alertId, Disabled); () }
    def enable(alertId: String): Unit = { states.put(alertId, NotTriggered); () }

    /** Feed one evaluation round's results; returns the new state. */
    def observe(alertId: String, cfg: AlertConfig,
                results: Seq[GroupResult]): AlertState = {
      val current = state(alertId)
      if (current == Disabled) return Disabled
      val violations = results.filter(r => triggered(r, cfg))
      val next =
        if (violations.nonEmpty) {
          val msg = violations.map { v =>
            val groups =
              if (v.groupValues.isEmpty) ""
              else v.groupValues.toSeq.sortBy(_._1)
                .map { case (k, vv) => s"$k=$vv" }.mkString("[", ",", "] ")
            s"$groups${cfg.agg}(${cfg.aggColumn})=${v.aggregate} ${cfg.cmp} ${cfg.threshold}"
          }.mkString("; ")
          notify(Notification(alertId, Triggered, msg))
          Triggered
        } else if (current == Triggered) {
          notify(Notification(alertId, NotTriggered, ""))
          NotTriggered
        } else NotTriggered
      states.put(alertId, next)
      next
    }
  }
}
