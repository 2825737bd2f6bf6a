package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native codegen'd int64 array dot product (`dot_i64(a, b)`).
  *
  * The sign-LSH / k-means family quantizes vectors to int64 precisely so
  * that every kernel is EXACT integer arithmetic; this expression makes
  * that kernel fast too. The higher-order-function formulation
  * (`aggregate(zip_with(a, b, _*_), 0L, _+_)`) evaluates interpreted —
  * lambda binding and boxing per element, outside whole-stage codegen —
  * measured 15-25× slower across this repo's LSH operators (see
  * BACKLOG.md "MEASURED PITFALL"). One fused loop, zero allocation,
  * bit-identical in interpreted and generated modes.
  */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_i64 expects two array<bigint> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "dot_i64"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0L
    var i = 0
    while (i < n) { dot += x.getLong(i) * y.getLong(i); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $dot = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
