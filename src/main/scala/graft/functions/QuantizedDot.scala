package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: the floor-quantized dot product —
  * `sum_i floor(x_i · y_i · 1e14) / 1e14` — that every similarity,
  * k-means and PQ operator builds its distances from
  * ([[graft.operators.Similarity.sparkDot]] documents the numerics; the
  * quantization exists so Spark and the DuckDB oracle agree bit-for-bit
  * with no decimal-halfway ambiguity).
  *
  * This replaces the `zip_with`+`aggregate` HOF formulation in the hot
  * path: higher-order functions don't participate in whole-stage
  * codegen and evaluate their lambda per element through the
  * interpreted path, where this compiles to a fused primitive loop.
  * Accepts float or double arrays on either side independently (points
  * are `array<float>`, fitted centroids `array<double>`); the
  * float→double widening is exact, so the result is identical to the
  * HOF's `CAST(p AS DOUBLE)` path. Null inputs or length-mismatched
  * arrays yield null (the HOF's zip_with pads with null, which
  * nullifies its sum the same way).
  */
case class QuantizedDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"quantized_dot expects float/double arrays, got ($l, $r)")
    }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "quantized_dot"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QuantizedDot =
    copy(left = newLeft, right = newRight)

  private def leftIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private def rightIsFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else QuantizedDot.dot(x, leftIsFloat, y, rightIsFloat)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val d = ctx.freshName("d")
      s"""if ($x.numElements() != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  java.lang.Double $d = graft.functions.QuantizedDot.dot($x, $leftIsFloat, $y, $rightIsFloat);
         |  ${ev.isNull} = $d == null;
         |  if ($d != null) ${ev.value} = $d;
         |}""".stripMargin
    })
}

object QuantizedDot {

  /** The one floor-quantized dot loop, run by the interpreted eval and
    * the generated code. `x` and `y` must have equal lengths; each is
    * read as float or double arrays by its flag.
    *
    * A null ELEMENT nullifies the whole result, matching the HOF twin
    * ([[graft.operators.Similarity.sparkDotHof]]): `floor(null * q)` is
    * a null zip element and `acc + null` poisons the aggregate — reading
    * ArrayData.getDouble past isNullAt would silently yield 0.0 instead. */
  def dot(x: ArrayData, xFloat: Boolean,
          y: ArrayData, yFloat: Boolean): java.lang.Double = {
    var d = 0L
    var i = 0
    val n = x.numElements()
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (xFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (yFloat) y.getFloat(i).toDouble else y.getDouble(i)
      d += math.floor(xv * yv * 1.0e14).toLong
      i += 1
    }
    d / 1.0e14
  }
}
