package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** [EXT] Custom codegen'd Catalyst Expression: single-pass cosine
  * similarity over two `array<float>` columns (SURVEY.md §2.10 L3x, §4.2).
  *
  * Why a native Expression instead of the HOF composition in
  * [[graft.functions.VectorFns]]: the HOF form (zip_with + three aggregate
  * folds) allocates an intermediate product array and walks the inputs three
  * times per row; this expression fuses dot product and both norms into ONE
  * loop with zero allocation, inside whole-stage codegen — the hot path for
  * brute-force similarity at scale. Semantics are bit-identical (same
  * left-to-right double accumulation).
  *
  * Preference-order note (spark_guide.md): built-ins first; this is tier
  * (b) — a scalar Expression — chosen only because the operation is in the
  * per-pair inner loop of similarity search.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_fast expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
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
        |  double $xv = (double) $a.getFloat($i);
        |  double $yv = (double) $b.getFloat($i);
        |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
        |}
        |${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
      """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
