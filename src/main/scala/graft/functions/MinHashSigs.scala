package graft.functions

import graft.operators.Dedup
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: the full 16-permutation MinHash
  * signature of a shingle-hash array in ONE fused pass — the HOF
  * formulation runs 16 separate `array_min(transform(...))` scans per
  * row, each an interpreted per-element lambda; this keeps all 16
  * running minima in one buffer and reads the array once.
  *
  * Permutation constants and modulus are the library's fixed MinHash
  * parameters ([[graft.operators.Dedup.MinhashPerms]]) — identical to
  * the HOF path and the DuckDB oracle, so signatures (and therefore
  * LSH bands and candidate sets) are bit-identical. Null or empty
  * input yields null (the HOF's array_min over an empty transform is
  * null per element; downstream band strings coincide either way —
  * NativeFunctionsSpec pins the live corpus equality).
  */
case class MinHashSigs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sigs expects array<bigint>, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "minhash_sigs"

  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    MinHashSigs.signature(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"""${ev.value} = graft.functions.MinHashSigs.signature($x);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
}

/** The one MinHash fold: the native expression (interpreted and
  * codegen) and the [[MinHashSignature]] aggregator both run these
  * loops. */
object MinHashSigs {
  private val as = Dedup.MinhashPerms.map(_._1).toArray
  private val bs = Dedup.MinhashPerms.map(_._2).toArray
  private val p = Dedup.MinhashP

  /** The empty running minimum: one `Long.MaxValue` per permutation. */
  def zero: Array[Long] = Array.fill(as.length)(Long.MaxValue)

  /** Folds shingle hash `s` into the running minima `mins`, in place. */
  def fold(mins: Array[Long], s: Long): Array[Long] = {
    var k = 0
    while (k < mins.length) {
      val h = (as(k) * s + bs(k)) % p
      if (h < mins(k)) mins(k) = h
      k += 1
    }
    mins
  }

  /** The signature of `x`'s non-null members, or null when it has none.
    * Null ELEMENTS are skipped, matching the HOF twin: `transform` maps a
    * null shingle hash to a null permuted hash and `array_min` skips null
    * elements — so the minimum ranges over the non-null members only, and
    * the signature is null exactly when no non-null member exists (the
    * all-null array_min). Reading getLong past isNullAt would instead
    * fold a phantom 0 hash into every permutation. */
  def signature(x: ArrayData): ArrayData = {
    val mins = zero
    var seen = false
    var i = 0
    while (i < x.numElements()) {
      if (!x.isNullAt(i)) { fold(mins, x.getLong(i)); seen = true }
      i += 1
    }
    if (seen) new GenericArrayData(mins) else null
  }
}
