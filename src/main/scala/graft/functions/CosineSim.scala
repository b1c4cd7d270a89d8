package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: quantized cosine similarity between two
  * float vectors — the codegen'd fast path for the similarity operators
  * (SURVEY.md §4: "custom Expression with codegen only if profiling
  * demands"; the zip_with+aggregate HOF path allocates a lambda-variable
  * array per row, this compiles to a tight fused loop).
  *
  * Numerics are IDENTICAL to [[graft.operators.Similarity.sparkDot]]:
  * each double product is quantized with floor(p·1e14) into an exact
  * long sum (no decimal-halfway ambiguity), final cosine =
  * (dot/1e14) / (sqrt(na/1e14)·sqrt(nb/1e14)) — so the same DuckDB
  * oracle SQL checks both paths. Null or length-mismatched inputs yield
  * null.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects (array<float>, array<float>), got ($l, $r)")
    }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "cosine_sim"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null else CosineSim.cosine(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"""if ($x.numElements() != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.CosineSim.cosine($x, $y);
         |}""".stripMargin)
}

object CosineSim {

  /** The one quantized-cosine loop, run by the interpreted eval, the
    * generated code and [[NearestCell.bestCell]]. `x` and `y` must have
    * equal lengths. */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    var d = 0L; var na = 0L; var nb = 0L
    var i = 0
    val n = x.numElements()
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      d += math.floor(xv * yv * 1.0e14).toLong
      na += math.floor(xv * xv * 1.0e14).toLong
      nb += math.floor(yv * yv * 1.0e14).toLong
      i += 1
    }
    (d / 1.0e14) / (math.sqrt(na / 1.0e14) * math.sqrt(nb / 1.0e14))
  }
}

/** Session extensions registering graft's native functions and the
  * broadcast range join; install with
  * `SparkSession.builder.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`. They are
  * required: in a session without them a query that names one of these
  * functions fails at analysis, and a range join fails at planning. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (children: Seq[Expression]) => CosineSim(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (children: Seq[Expression]) => JaroWinkler(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("quantized_dot"),
      new ExpressionInfo(classOf[QuantizedDot].getName, "quantized_dot"),
      (children: Seq[Expression]) => QuantizedDot(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinHashSigs].getName, "minhash_sigs"),
      (children: Seq[Expression]) => MinHashSigs(children.head)))
    ext.injectFunction((
      FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "bloom_might_contain"),
      (children: Seq[Expression]) => BloomMightContain(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("nearest_cell"),
      new ExpressionInfo(classOf[NearestCell].getName, "nearest_cell"),
      (children: Seq[Expression]) => NearestCell(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("hilbert_d"),
      new ExpressionInfo(classOf[HilbertIndex].getName, "hilbert_d"),
      (children: Seq[Expression]) => HilbertIndex(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("rp_project"),
      new ExpressionInfo(classOf[RpProject].getName, "rp_project"),
      (children: Seq[Expression]) => RpProject(children.head,
        children(1).eval().asInstanceOf[Number].intValue())))
    // whole-operator extension: the broadcast range join's planner
    // strategy (custom LogicalPlan → custom SparkPlan; graft.plans)
    ext.injectPlannerStrategy(_ => graft.plans.BroadcastRangeJoinStrategy)
    // and its optimizer rule: single-sided filters pushed through the
    // custom node (Catalyst stops at operators it doesn't know)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinFilterPushdown)
  }
}
