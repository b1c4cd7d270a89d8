package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
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
    if (x.numElements() != y.numElements()) null
    else {
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |if ($x.numElements() != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $d = 0L; long $na = 0L; long $nb = 0L;
         |  int $n = $x.numElements();
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xv = (double) $x.getFloat($i);
         |    double $yv = (double) $y.getFloat($i);
         |    $d += (long) Math.floor($xv * $yv * 1.0E14);
         |    $na += (long) Math.floor($xv * $xv * 1.0E14);
         |    $nb += (long) Math.floor($yv * $yv * 1.0E14);
         |  }
         |  ${ev.value} = ($d / 1.0E14) / (Math.sqrt($na / 1.0E14) * Math.sqrt($nb / 1.0E14));
         |}
       """.stripMargin
    })
}

/** Session extensions registering graft's native functions; install with
  * `SparkSession.builder.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`. */
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

/** Degraded-mode registration: when a query runs in a session built
  * without [[GraftExtensions]] (e.g. a host harness's own session), fall
  * back to a Scala UDF with the same quantized semantics — slower (no
  * codegen, boxed Seq inputs) but identical results. */
object GraftFunctions {

  /** [[QuantizedDot]] fallback for extension-less sessions: same
    * floor-quantized sum over boxed doubles (Spark casts float arrays
    * to double arrays for the UDF — exact widening, identical result). */
  def ensureDot(spark: SparkSession): Unit = {
    if (!spark.catalog.functionExists("quantized_dot")) {
      spark.udf.register("quantized_dot", (x: Seq[Double], y: Seq[Double]) => {
        if (x == null || y == null || x.length != y.length) null
        else {
          var d = 0L
          var i = 0
          while (i < x.length) {
            d += math.floor(x(i) * y(i) * 1.0e14).toLong
            i += 1
          }
          java.lang.Double.valueOf(d / 1.0e14)
        }
      }: java.lang.Double)
    }
  }

  /** [[RpProject]] fallback for extension-less sessions: the same
    * sign-loop over a boxed Seq (Spark widens array<float> to
    * Seq[Double] for the UDF — exact, identical accumulation order). */
  def ensureRpProject(spark: SparkSession): Unit = {
    if (!spark.catalog.functionExists("rp_project")) {
      spark.udf.register("rp_project", (x: Seq[Double], projDim: Int) => {
        if (x == null || x.length < RpProject.inDim ||
            projDim < 1 || projDim > RpProject.maxDim) null
        else {
          val out = new Array[Double](projDim)
          var i = 0
          while (i < RpProject.inDim) {
            val row = RpProject.signs(i)
            var j = 0
            while (j < projDim) { out(j) += row(j) * x(i); j += 1 }
            i += 1
          }
          out.toSeq
        }
      }: Seq[Double])
    }
  }

  /** [[HilbertIndex]] fallback for extension-less sessions: the same
    * xy2d loop as a Scala UDF. */
  def ensureHilbert(spark: SparkSession): Unit = {
    if (!spark.catalog.functionExists("hilbert_d")) {
      spark.udf.register("hilbert_d",
        (x0: Long, y0: Long) => HilbertIndex.xy2d(x0, y0))
    }
  }

  /** [[MinHashSigs]] fallback for extension-less sessions: the same
    * fold over the boxed array, so a null element is skipped and an
    * all-null or empty array gives a null signature, as natively. */
  def ensureMinhashSigs(spark: SparkSession): Unit = {
    if (!spark.catalog.functionExists("minhash_sigs")) {
      spark.udf.register("minhash_sigs", (hs: Seq[java.lang.Long]) => {
        val sig = if (hs == null) null else MinHashSigs.signature(new GenericArrayData(hs))
        if (sig == null) null else sig.toLongArray().toSeq
      }: Seq[Long])
    }
  }

  /** [[BloomMightContain]] fallback for extension-less sessions: same
    * [[BloomHash]] probe over the boxed bitmap. The bit count comes
    * from the bitmap itself (like the native expression) — probing a
    * COUNT-sized bitmap modulo the fixed floor size would read the
    * wrong positions and could return false NEGATIVES. */
  def ensureBloomProbe(spark: SparkSession): Unit = {
    if (!spark.catalog.functionExists("bloom_might_contain")) {
      spark.udf.register("bloom_might_contain", (bits: Seq[Long], key: Long) => {
        if (bits == null) null
        else java.lang.Boolean.valueOf(BloomHash.mightContainBoxed(bits, key))
      }: java.lang.Boolean)
    }
  }

  /** [[NearestCell]] fallback for extension-less sessions: the same
    * argmax over a boxed centroid table (Row structs arrive in array
    * order — ids ascending by the caller's contract). */
  def ensureNearestCell(spark: SparkSession): Unit = {
    if (!spark.catalog.functionExists("nearest_cell")) {
      spark.udf.register("nearest_cell",
        (x: Seq[Float], cents: Seq[org.apache.spark.sql.Row]) => {
          if (x == null || cents == null) null
          else {
            var best = Double.NegativeInfinity
            var bestId = -1L
            cents.foreach { r =>
              val y = r.getSeq[Float](1)
              if (y.length == x.length) {
                var d = 0L; var na = 0L; var nb = 0L
                var i = 0
                while (i < x.length) {
                  val xv = x(i).toDouble; val yv = y(i).toDouble
                  d += math.floor(xv * yv * 1.0e14).toLong
                  na += math.floor(xv * xv * 1.0e14).toLong
                  nb += math.floor(yv * yv * 1.0e14).toLong
                  i += 1
                }
                val c = (d / 1.0e14) / (math.sqrt(na / 1.0e14) * math.sqrt(nb / 1.0e14))
                if (c > best) { best = c; bestId = r.getLong(0) }
              }
            }
            if (bestId < 0) null else java.lang.Long.valueOf(bestId)
          }
        }: java.lang.Long)
    }
  }

  def ensureCosine(spark: SparkSession): Unit = {
    if (!spark.catalog.functionExists("cosine_sim")) {
      spark.udf.register("cosine_sim", (x: Seq[Float], y: Seq[Float]) => {
        if (x == null || y == null || x.length != y.length) null
        else {
          var d = 0L; var na = 0L; var nb = 0L
          var i = 0
          while (i < x.length) {
            val xv = x(i).toDouble; val yv = y(i).toDouble
            d += math.floor(xv * yv * 1.0e14).toLong
            na += math.floor(xv * xv * 1.0e14).toLong
            nb += math.floor(yv * yv * 1.0e14).toLong
            i += 1
          }
          java.lang.Double.valueOf(
            (d / 1.0e14) / (math.sqrt(na / 1.0e14) * math.sqrt(nb / 1.0e14)))
        }
      }: java.lang.Double)
    }
  }
}
