package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** Native Catalyst expression: the order-8 2-D Hilbert index (grid
  * 256×256) — the whole xy2d loop in one primitive loop, which the
  * generated code calls as one static method.
  *
  * Replaces the 8 chained CASE projections [[graft.operators.Layout
  * .hilbertStep]] builds in the hot path: the chain is correct and
  * dialect-neutral (the DuckDB oracle still runs it), but each layer
  * re-evaluates three CASE trees per row and the stacked projection was
  * the most expensive new sf10 entry (25 s for 60M rows). This is
  * the textbook bit loop — same rotations, same quadrant term — and
  * LayoutSpec pins native == chain on the full 65 536-cell grid, plus
  * the bijection/adjacency property both must satisfy.
  *
  * Inputs are the 8-bit-quantized coordinates (0..255, int or long);
  * values outside the grid are the caller's bug, same contract as the
  * chain. Null in → null out.
  */
object HilbertIndex {
  /** The one xy2d loop, run by the interpreted eval and the generated
    * code. */
  def xy2d(x0: Long, y0: Long): Long = {
    var x = x0; var y = y0; var d = 0L; var s = 128L
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = 255L - x; y = 255L - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}

case class HilbertIndex(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (IntegerType | LongType, IntegerType | LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"hilbert_d expects integral coordinates, got ($l, $r)")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "hilbert_d"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertIndex =
    copy(left = newLeft, right = newRight)

  private def asLong(e: Expression, v: Any): Long = e.dataType match {
    case IntegerType => v.asInstanceOf[Int].toLong
    case _           => v.asInstanceOf[Long]
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    HilbertIndex.xy2d(asLong(left, a), asLong(right, b))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.HilbertIndex.xy2d((long) $x, (long) $y);")
}
