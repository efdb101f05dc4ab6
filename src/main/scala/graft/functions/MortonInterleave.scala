package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/** Native codegen'd Morton (Z-curve) bit interleave over `n` gridded long
  * columns (`bits·n ≤ 63`): bit `b` of child `i` lands at position
  * `b·n + i`. Backs [[graft.operators.ZOrder.zValue]].
  *
  * Semantically identical to the sum of `bits·n` builtin
  * `shiftleft(shiftright(c, b) & 1, b·n + i)` terms (the reference
  * `operators.ZOrderSpec` pins it against), but compiles to `n` tight
  * loops in whole-stage codegen instead of a ~4·bits·n-node expression
  * tree — smaller generated methods (the composed tree flirts with the
  * JIT's 8 KB inline limit inside wide projections) and one fresh
  * variable instead of dozens. This is the write-path hot loop for
  * Z-order layout: per-row cost × full table at every compaction.
  */
case class MortonInterleave(children: Seq[Expression], bits: Int)
    extends Expression {

  require(bits >= 1 && bits * children.size <= 63,
    s"bits*cols must fit a long, got $bits*${children.size}")

  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.isEmpty)
      TypeCheckResult.TypeCheckFailure("expects at least one argument")
    else if (children.forall(_.dataType == LongType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"arguments must be BIGINT, got " +
        children.map(_.dataType.catalogString).mkString(", "))

  override def eval(input: InternalRow): Any = {
    val n = children.size
    var z = 0L
    var i = 0
    while (i < n) {
      val v = children(i).eval(input)
      if (v == null) return null
      val x = v.asInstanceOf[Long]
      var b = 0
      while (b < bits) {
        z |= ((x >> b) & 1L) << (b * n + i)
        b += 1
      }
      i += 1
    }
    z
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val n = children.size
    val evals = children.map(_.genCode(ctx))
    val b = ctx.freshName("b")
    val loops = evals.zipWithIndex.map { case (e, i) =>
      s"""for (int $b = 0; $b < $bits; $b++) {
         |  ${ev.value} |= (((${e.value}) >> $b) & 1L) << ($b * $n + $i);
         |}""".stripMargin
    }.mkString("\n")
    val nullCheck =
      if (nullable) evals.map(_.isNull).mkString(" || ") else "false"
    ev.copy(code =
      code"""
        |${evals.map(_.code).reduce(_ + _)}
        |boolean ${ev.isNull} = $nullCheck;
        |long ${ev.value} = 0L;
        |if (!${ev.isNull}) {
        |$loops
        |}
        |""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MortonInterleave =
    copy(children = newChildren)

  override def prettyName: String = "graft_morton"
}
