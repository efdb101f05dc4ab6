package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.catalog.StatsCatalog

/** [[ZOrder]] — Morton-curve layout: interleave vs a pure-Scala bit
  * reference and vs the composed shift/mask formula, per-dimension
  * monotonicity, and the payoff demo — a 2-D box predicate prunes far
  * fewer files under a single-column sort than under the z-order layout,
  * via the real [[StatsCatalog]] path.
  */
class ZOrderSpec extends SparkSuite {
  import spark.implicits._

  /** The interleave as a sum of builtin shift/mask terms — the reference
    * the fused [[graft.functions.MortonInterleave]] kernel must equal.
    */
  private def composedZ(dims: Seq[Column], bits: Int): Column = {
    val k = dims.size
    val terms = for {
      (c, d) <- dims.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * k + d)
    terms.reduce(_ + _)
  }

  test("zvalue interleaves bits (known Morton values)") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (3L, 5L))
      .toDF("x", "y")
    val out = df.select(ZOrder.zValue(Seq(col("x"), col("y")), bits = 4))
      .as[Long].collect().toSeq
    // x at even bits: (0,0)=0 (1,0)=1 (0,1)=2 (1,1)=3; x=3 (b0=1,b1=1),
    // y=5 (b0=1,b1=0,b2=1) -> z = 1·1 + 2·1 + 4·1 + 8·0 + 16·0 + 32·1 = 39
    assert(out == Seq(0L, 1L, 2L, 3L, 39L))
  }

  test("fused Morton expression equals the composed shift/mask formula") {
    val rnd = new scala.util.Random(13)
    // a, b, c on the 16-bit grid; d..h on the 12-bit grid
    val df = (1 to 500).map(_ => (rnd.nextInt(65536).toLong,
        rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong,
        rnd.nextInt(4096).toLong, rnd.nextInt(4096).toLong,
        rnd.nextInt(4096).toLong, rnd.nextInt(4096).toLong,
        rnd.nextInt(4096).toLong))
      .toDF("a", "b", "c", "d", "e", "f", "g", "h")
    // up to five dims: the kernel has no column cap beyond bits·k ≤ 63
    for ((cols, bits) <- Seq(Seq("a") -> 16, Seq("a", "b") -> 16,
        Seq("a", "b", "c") -> 16, Seq("d", "e", "f", "g", "h") -> 12)) {
      val cs = cols.map(col)
      val diff = df.select(
          ZOrder.zValue(cs, bits).as("fused"),
          composedZ(cs, bits).as("composed"))
        .filter(col("fused") =!= col("composed")).count()
      assert(diff == 0L, s"cols $cols")
    }
    // null propagation: the kernel nulls on any null input; zValue's
    // clamp grids a null dimension to 0 first (`greatest` skips nulls)
    graft.functions.GraftFunctions.register(spark)
    assert(spark.sql("SELECT graft_morton(4, 1L, CAST(NULL AS BIGINT))")
      .head.isNullAt(0))
    val withNull = Seq((Some(3L), None: Option[Long])).toDF("a", "b")
    val r = withNull.select(ZOrder.zValue(Seq(col("a"), col("b")), 4))
      .as[Long].head()
    assert(r == 5L) // a = 3 at even bits, b = 0
    // SQL surface
    assert(spark.sql("SELECT graft_morton(4, 3L, 5L)").head.getLong(0) == 39L)
  }

  test("z-order layout gives usable per-file bounds on BOTH dimensions") {
    val n = 4000
    val rnd = new scala.util.Random(7)
    val df = (0 until n).map(_ => (rnd.nextInt(1000), rnd.nextInt(1000)))
      .toDF("x", "y")

    def partitionStats(laid: DataFrame): Array[(Long, Long, Long, Long)] =
      laid.withColumn("pid", spark_partition_id())
        .groupBy("pid")
        .agg(min(col("x").cast("long")).as("x0"), max(col("x").cast("long")).as("x1"),
          min(col("y").cast("long")).as("y0"), max(col("y").cast("long")).as("y1"))
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))

    def hits(stats: Array[(Long, Long, Long, Long)],
             xr: Option[(Long, Long)], yr: Option[(Long, Long)]): Int =
      stats.count { case (x0, x1, y0, y1) =>
        xr.forall { case (a, b) => x1 >= a && x0 <= b } &&
        yr.forall { case (a, b) => y1 >= a && y0 <= b }
      }

    val zStats = partitionStats(
      ZOrder.zOrderBy(df, Seq("x", "y"), bits = 16, numPartitions = 16))
    val linStats = partitionStats(df.repartitionByRange(16, col("x")))
    assert(zStats.length == 16 && linStats.length == 16)

    // a y-only predicate: linear-on-x cannot prune at all, z-order can
    val yRange = Some((100L, 199L))
    assert(hits(linStats, None, yRange) == 16)
    assert(hits(zStats, None, yRange) < 16)
    // an x-only predicate still prunes under z-order (bounds stay usable)
    assert(hits(zStats, Some((100L, 199L)), None) < 16)
  }

  private def refZ(vals: Seq[Long], bits: Int): Long = {
    val cap = (1L << bits) - 1
    val k = vals.size
    vals.zipWithIndex.map { case (v0, d) =>
      val v = math.min(math.max(v0, 0L), cap)
      (0 until bits).map(i => ((v >> i) & 1L) << (i * k + d)).sum
    }.sum
  }

  test("zValue == the bit-twiddling reference; clamps out-of-range; " +
      "monotone in each dimension") {
    val rnd = new scala.util.Random(3)
    val rows = (1 to 300).map(_ =>
      (rnd.nextLong(100000L) - 1000L, rnd.nextLong(100000L) - 1000L))
    val got = rows.toDF("x", "y")
      .select(col("x"), col("y"),
        ZOrder.zValue(Seq(col("x"), col("y")), 16).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (x, y, z) =>
      assert(z == refZ(Seq(x, y), 16), s"($x, $y)")
    }
    // monotone per dimension (fixed other coordinate)
    val zs = (0L until 64L).map(x => refZ(Seq(x, 7L), 6))
    assert(zs == zs.sorted && zs.distinct.size == 64)
    // three dims route through the same interleave
    val z3 = Seq((1L, 2L, 3L)).toDF("a", "b", "c")
      .select(ZOrder.zValue(Seq(col("a"), col("b"), col("c")), 4).as("z"))
      .collect().head.getLong(0)
    assert(z3 == refZ(Seq(1L, 2L, 3L), 4))
    intercept[IllegalArgumentException] {
      ZOrder.zValue(Seq(col("a"), col("b")), 32) // 64 bits > 63
    }
  }

  test("withZValue: min-max scaling is exact BIGINT; constant dims map " +
      "to 0; full-range corners hit the grid ends") {
    val df = Seq((0L, 5L), (100L, 5L), (50L, 5L)).toDF("x", "c")
    val out = ZOrder.withZValue(df, Seq("x", "c"), bits = 4)
      .orderBy("x").collect()
      .map(r => (r.getLong(0), r.getLong(r.fieldIndex("z")))).toSeq
    // c is constant -> contributes 0 bits; x scales 0 -> 0, 50 -> 7,
    // 100 -> 15; with k=2 and x at dim 0, z spreads x's bits to even
    // positions
    assert(out == Seq(
      (0L, refZ(Seq(0L, 0L), 4)),
      (50L, refZ(Seq(7L, 0L), 4)),
      (100L, refZ(Seq(15L, 0L), 4))))
  }

  test("withZValue quotes dimension names (space / dot / hyphen all " +
      "resolve as one column); bits outside [1, 62] is rejected") {
    // names that break unquoted SQL: a space, a dot (nested-field
    // lookalike), a hyphen (parses as subtraction)
    val df = Seq((0L, 0L, 0L), (100L, 9L, 3L))
      .toDF("the col", "a.b", "x-y")
    val out = ZOrder.withZValue(df, Seq("the col", "a.b", "x-y"), bits = 4)
      .orderBy(col("`the col`")).collect()
      .map(r => r.getLong(r.fieldIndex("z"))).toSeq
    assert(out == Seq(refZ(Seq(0L, 0L, 0L), 4),
      refZ(Seq(15L, 15L, 15L), 4)))
    intercept[IllegalArgumentException] {
      ZOrder.zValue(Seq(col("a")), 63) // 1L<<63 only "works" by wrap
    }
    intercept[IllegalArgumentException] {
      ZOrder.zValue(Seq(col("a")), 0)
    }
  }

  test("range-overflow raise_error survives a dimension name with a " +
      "quote and a backslash — escaped for Spark's lexer, not doubled") {
    val name = "it's\\col"
    // bits=32 → cap ≈ 2^32: any range above Long.MaxValue/cap overflows
    val df = Seq(0L, 3_000_000_000L).toDF(name)
    val e = intercept[Exception] {
      ZOrder.withZValue(df, Seq(name), bits = 32).collect()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + msgs(t.getCause)
    val m = msgs(e)
    assert(m.contains("overflows the 32-bit scaling grid"), m)
    assert(m.contains(name), m) // the quote did NOT get eaten
  }

  test("file-skipping payoff: a 2-D box predicate keeps strictly fewer " +
      "files under zOrderBy than under a single-column sort (real " +
      "StatsCatalog prune)") {
    // 64x64 grid, one row per cell
    val grid = (0 until 4096).map(i => (i.toLong, i.toLong % 64L,
      i.toLong / 64L)).toDF("id", "x", "y")
    val baseDir = java.nio.file.Files.createTempDirectory("zo").toString
    // layout A: sorted by x only, 16 files
    grid.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
      .write.parquet(s"$baseDir/sorted")
    // layout B: z-ordered on (x, y), 16 files
    ZOrder.zOrderBy(grid, Seq("x", "y"), bits = 6, numPartitions = 16)
      .write.parquet(s"$baseDir/zorder")
    graft.catalog.TxnCatalog.reconcile(spark, s"$baseDir/sorted",
      s"$baseDir/cat_sorted", Seq("x", "y"))
    graft.catalog.TxnCatalog.reconcile(spark, s"$baseDir/zorder",
      s"$baseDir/cat_zorder", Seq("x", "y"))
    import StatsCatalog.{GtEq, LtEq, Pred}
    val box = Seq(Pred("x", GtEq, "0"), Pred("x", LtEq, "15"),
      Pred("y", GtEq, "0"), Pred("y", LtEq, "15"))
    val keptSorted =
      StatsCatalog.pruneFiles(spark, s"$baseDir/cat_sorted", box).size
    val keptZ =
      StatsCatalog.pruneFiles(spark, s"$baseDir/cat_zorder", box).size
    // sorted-by-x: the x slice survives but every file spans all of y —
    // y prunes nothing. z-order: the box is one Morton quadrant
    // (z < 256 of 4096), a sliver of the z-ranged files.
    assert(keptZ < keptSorted,
      s"z-order kept $keptZ files, x-sort kept $keptSorted")
    assert(keptZ <= 3 && keptSorted >= 4)
    // both layouts still return the SAME rows for the box
    def rows(dir: String) = spark.read.parquet(dir)
      .filter(col("x") <= 15 && col("y") <= 15)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(rows(s"$baseDir/sorted") == rows(s"$baseDir/zorder"))
    assert(rows(s"$baseDir/zorder").size == 256)
  }
}
