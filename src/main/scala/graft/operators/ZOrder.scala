package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-ORDER (Morton-curve) data layout — multi-dimensional clustering for
  * file skipping: interleave the bits of k rank-scaled dimensions so rows
  * close in EVERY dimension land in the same files, giving per-file
  * min/max stats ([[graft.catalog.StatsCatalog]]) pruning power on ALL the
  * clustered columns at once. A single-column sort localizes only its own
  * column — every file then spans the full range of the others and a
  * predicate on them prunes nothing; the Morton curve is the standard fix
  * (Delta OPTIMIZE ZORDER BY, Iceberg sort orders).
  *
  * The reference engine's layout is time-partitioned only (its manifest
  * prunes on event time plus whatever min/max falls out of arrival order);
  * this operator is the multi-dimensional upgrade a 100 TB deployment
  * needs for "tenant × time" or "service × status" box queries.
  *
  * Determinism: scaling is integer min-max to `[0, 2^bits)` via BIGINT
  * division with a division-form overflow guard (aucGuardOk precedent),
  * and the interleave is pure bit arithmetic — both reproduce exactly in
  * any engine, so [[zValue]] is oracle-gateable. The write path
  * ([[zOrderBy]]) is one range shuffle on the z-value + local sorts —
  * exactly the cost of a global sort, no extra passes.
  */
object ZOrder {

  /** Bit-interleaved Morton value of `dims`, each already gridded by the
    * caller to `[0, 2^bits)` (values clamp; dimension d's bit i lands at
    * position `i·k + d`; the clamp grids a null to 0). `k · bits`
    * must fit a positive BIGINT. The interleave is the fused
    * [[graft.functions.MortonInterleave]] kernel.
    */
  def zValue(dims: Seq[Column], bits: Int): Column = {
    val k = dims.size
    // bits ≤ 62 so `1L << bits` cannot touch the sign bit — bits = 63
    // would only yield the right cap via Long wraparound
    require(k >= 1 && bits >= 1 && bits <= 62 && k * bits <= 63,
      "need 1+ dims, bits in [1, 62], k*bits <= 63")
    val cap = (1L << bits) - 1
    val clamped = dims.map(d =>
      least(greatest(d.cast("long"), lit(0L)), lit(cap)))
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.MortonInterleave(
      clamped.map(ColumnBridge.expression), bits))
  }

  /** Adds a `z` column: each dimension min-max-scaled onto the
    * `[0, 2^bits)` grid (exact BIGINT `(x−min)·(2^bits−1) div (max−min)`;
    * constant dimensions map to 0), then [[zValue]]. The 1-row min/max
    * frame broadcasts into the projection — the corpus-constant
    * single-row pattern. A dimension whose RANGE would overflow the
    * scaling product raises loudly (rescale first), never wraps.
    */
  def withZValue(df: DataFrame, dims: Seq[String], bits: Int,
                 outCol: String = "z"): DataFrame = {
    require(dims.nonEmpty, "need at least one dimension")
    val cap = (1L << bits) - 1
    // backtick-quote every identifier reaching expr() SQL — a dimension
    // named `a b`, `a.b` or `a-b` must parse as ONE column reference,
    // never as an expression or the wrong nested field
    def bq(name: String): String = "`" + name.replace("`", "``") + "`"
    // col() parses dots as nested-field access — resolve via the
    // quoted form so `a.b` names the top-level column
    def c(name: String): Column = col(bq(name))
    val mm = df.agg(
      min(c(dims.head).cast("long")).as(s"__mn_${dims.head}"),
      (dims.tail.flatMap(d => Seq(
        min(c(d).cast("long")).as(s"__mn_$d"),
        max(c(d).cast("long")).as(s"__mx_$d"))) :+
        max(c(dims.head).cast("long")).as(s"__mx_${dims.head}")): _*)
    val scaled = dims.map { d =>
      val range = c(s"__mx_$d") - c(s"__mn_$d")
      when(range > 0,
        when(range <= lit(Long.MaxValue / cap),
          // `div`, not `/` — BIGINT division (Spark's / on longs is DOUBLE)
          expr(s"((cast(${bq(d)} as bigint) - ${bq(s"__mn_$d")}) * $cap) " +
            s"div (${bq(s"__mx_$d")} - ${bq(s"__mn_$d")})"))
          // escape for Spark's string lexer (backslash escapes are on by
          // default): double backslashes FIRST, then quote as \' — the
          // '' form would merely concatenate adjacent literals
          .otherwise(expr("raise_error('ZOrder: range of " +
            s"${d.replace("\\", "\\\\").replace("'", "\\'")} overflows " +
            s"the $bits-bit scaling grid — pre-quantize the column')")
            .cast("long")))
        .otherwise(lit(0L))
    }
    df.crossJoin(broadcast(mm))
      .withColumn(outCol, zValue(scaled, bits))
      .drop(mm.columns: _*)
  }

  /** Z-ordered layout: range-shuffle on the z-value, sort each output
    * partition by it, drop the helper column. Write the result with the
    * usual parquet sink and refresh the stats catalog — box predicates
    * on any clustered dimension then prune files instead of scanning.
    */
  def zOrderBy(df: DataFrame, dims: Seq[String], bits: Int = 16,
               numPartitions: Int = 0): DataFrame = {
    // collision-safe helper name: a payload column named `z` must survive
    // the layout pass untouched (the ingest path lays out user batches)
    val zc =
      if (!df.columns.contains("z")) "z"
      else Iterator.from(0).map(i => s"__z$i")
        .find(n => !df.columns.contains(n)).get
    val z = withZValue(df, dims, bits, zc)
    val parted =
      if (numPartitions > 0) z.repartitionByRange(numPartitions, col(zc))
      else z.repartitionByRange(col(zc))
    parted.sortWithinPartitions(col(zc)).drop(zc)
  }
}
