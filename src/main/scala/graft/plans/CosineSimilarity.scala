package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for cosine similarity over two double arrays.
  *
  * The composable alternative (`aggregate(zip_with(a, b, _*_), 0d, _+_) /
  * (norm_a * norm_b)`) allocates an intermediate product array and walks
  * each input three times; this expression is one fused loop with zero
  * allocation, participates in whole-stage codegen via [[doGenCode]], and
  * is the hot-path primitive for the KNN/near-dup operators — exactly the
  * "custom Expression over UDF" preference the engine is built on. Interpreted
  * and generated paths use the identical accumulation order, so results are
  * bit-equal across execution modes.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0d; var nx = 0d; var ny = 0d
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $a.getDouble($i);
         |  double $yv = $b.getDouble($i);
         |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
