package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: the fixed ±1 (Achlioptas) JL projection
  * 64 → `projDim` used by the random-projection recall curve
  * ([[graft.operators.Similarity]]). Signs derive from md5("rp:i:j") —
  * data-independent constants shared with the DuckDB oracle's
  * expression text, and lower-dim projections are PREFIXES of the
  * 32-dim matrix, so the curve isolates the dimension knob.
  *
  * This replaces the expanded `(0.0 ± e1 ± e2 …)` SQL chain: at 32
  * output dims that chain is a single 2048-term expression whose
  * generated Java exceeds janino's 64 KB method limit, silently
  * dropping the whole stage to interpreted execution. Here the same
  * arithmetic is one primitive loop that the generated code calls —
  * codegen-friendly at any width. Bit-identity with the chain (and the
  * oracle) holds because the loop accumulates coordinate j over i
  * ascending with `acc + (±1.0 · x_i)`, and IEEE negation is exact, so
  * `acc + (-1.0·x)` ≡ `acc - x` bit-for-bit.
  *
  * Null/shape contract mirrors the chain it replaces: an input shorter
  * than 64 elements or containing a null element yields null (the
  * chain's `element_at` would surface a null that poisons the sum).
  */
case class RpProject(child: Expression, projDim: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _)
        if projDim >= 1 && projDim <= RpProject.maxDim =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckFailure(
      s"rp_project dim must be in [1, ${RpProject.maxDim}], got $projDim")
    case t => TypeCheckResult.TypeCheckFailure(
      s"rp_project expects a float/double array, got $t")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "rp_project"

  override protected def withNewChildInternal(newChild: Expression): RpProject =
    copy(child = newChild)

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any): Any =
    RpProject.project(a.asInstanceOf[ArrayData], isFloat, projDim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"""${ev.value} = graft.functions.RpProject.project($x, $isFloat, $projDim);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
}

object RpProject {
  val inDim = 64
  val maxDim = 32

  /** ±1.0 sign matrix, md5("rp:i:j") parity — the shared constant both
    * engines' arithmetic derives from. Doubles (not ints) so the loop
    * multiplies without an int→double conversion per term. */
  lazy val signs: Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(inDim, maxDim) { (i, j) =>
      if ((md.digest(s"rp:$i:$j".getBytes("UTF-8"))(0) & 1) == 0) 1.0 else -1.0
    }
  }

  /** The one projection loop, run by the interpreted eval and the
    * generated code: `x` read as a float or double array by `xFloat`,
    * projected onto the first `projDim` sign columns. Null when `x` has
    * fewer than [[inDim]] elements or a null among them. */
  def project(x: ArrayData, xFloat: Boolean, projDim: Int): ArrayData = {
    if (x.numElements() < inDim) return null
    val out = new Array[Double](projDim)
    var i = 0
    while (i < inDim) {
      if (x.isNullAt(i)) return null
      val v = if (xFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val row = signs(i)
      var j = 0
      while (j < projDim) { out(j) += row(j) * v; j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }
}
