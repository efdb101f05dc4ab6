package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd squared-L2 distance over two numeric arrays.
  *
  * Semantically identical to
  * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0d, (acc,v) => acc+v)`
  * — a sequential left-to-right double fold (bit-for-bit the oracle's
  * `list_reduce` result) — but compiled to a tight primitive loop inside
  * whole-stage codegen instead of per-element interpreted lambda dispatch.
  * The hot loop of product-quantization encode/ADC scoring
  * ([[graft.ml.Similarity.ivfPqSearch]]): per-row cost × corpus × queries.
  *
  * Null contract: null array → null; any null *element* → null; mismatched
  * array lengths → null (all three match the zip_with/aggregate pipeline —
  * zip_with pads the shorter side with nulls, and the DuckDB list_zip
  * oracle does the same, so a malformed vector surfaces as null rather
  * than a silently truncated sum).
  */
case class ArrayL2Sq(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _                                    => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"arguments must be array<float|double>, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val lt = elemType(left)
    val rt = elemType(right)
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = lt match {
        case FloatType => x.getFloat(i).toDouble
        case _         => x.getDouble(i)
      }
      val yv = rt match {
        case FloatType => y.getFloat(i).toDouble
        case _         => y.getDouble(i)
      }
      val d = xv - yv
      sum += d * d
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def getter(e: Expression, arr: String, i: String): String = elemType(e) match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case _         => s"$arr.getDouble($i)"
    }
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |double $sum = 0.0;
         |for (int $i = 0; !${ev.isNull} && $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double $d = ${getter(left, a, i)} - ${getter(right, b, i)};
         |  $sum += $d * $d;
         |}
         |if (!${ev.isNull}) { ${ev.value} = $sum; }
         |""".stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayL2Sq =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_l2sq"
}
