package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType, StructType}

/** `nearest_cell(embedding, centroids)` — the coarse-quantizer argmax in
  * ONE expression: the winning centroid id by quantized cosine
  * (ties → smallest id), over a FOLDABLE array<struct<id, emb>> of
  * centroids.
  *
  * This replaces the join-shaped assignment (embedding × broadcast
  * centroids → N·C rows → per-vector sort + row_number = 1) for small
  * centroid sets: the join path materializes N·C wide rows and SORTS
  * them inside each partition before the partial window group-limit —
  * at sf10 that is 350M rows carrying 64-float embeddings through a
  * sort, the dominant cost of the shared cell assignment. The
  * expression path evaluates the identical quantized cosines
  * ([[NearestCell.bestCell]] calls [[CosineSim.cosine]], the loop
  * `cosine_sim` runs) in a tight per-row loop — zero extra rows, zero sort,
  * zero shuffle — and keeps the winner by strict `>` scanning ids in
  * ascending order, which is bit-for-bit `row_number() OVER (ORDER BY
  * c_cos DESC, cent_id) = 1`. Results are therefore identical to the
  * join path and to the DuckDB oracle twin; only the physical plan
  * changes. `Similarity.cellAssign` gates on centroid count: past
  * [[NearestCell.MaxCents]] (a ~256 MiB broadcast of centroid floats at
  * 1k dims) the join path takes over — the 100 TB posture, where the
  * centroid relation itself is data-sized.
  *
  * CodegenFallback is deliberate: the per-row work is `C × dim`
  * arithmetic inside one static JVM helper (JIT-compiled, the same
  * loop the codegen'd `cosine_sim` calls); the per-row interpreted-eval
  * overhead is noise against it.
  */
case class NearestCell(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(s: StructType, _))
          if s.length == 2 && s(0).dataType == LongType &&
            (s(1).dataType match {
              case ArrayType(FloatType, _) => true
              case _ => false
            }) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"nearest_cell expects (array<float>, array<struct<bigint, array<float>>>), got ($l, $r)")
    }

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def prettyName: String = "nearest_cell"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCell =
    copy(left = newLeft, right = newRight)

  /** The centroid table, decoded ONCE per task from the foldable right
    * child (a literal: `Similarity.cellAssign` builds it with typedlit
    * from a bounded driver collect). */
  @transient private lazy val cents: (Array[Long], Array[ArrayData]) = {
    val arr = right.eval(null).asInstanceOf[ArrayData]
    val n = arr.numElements()
    val ids = new Array[Long](n)
    val embs = new Array[ArrayData](n)
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 2)
      ids(i) = row.getLong(0)
      embs(i) = UnsafeArrayData.fromPrimitiveArray(row.getArray(1).toFloatArray())
      i += 1
    }
    (ids, embs)
  }

  override def nullSafeEval(x: Any, unused: Any): Any = {
    val (ids, embs) = cents
    val r = NearestCell.bestCell(x.asInstanceOf[ArrayData], ids, embs)
    if (r < 0) null else r
  }
}

object NearestCell {

  /** Centroid-count gate for the expression path: above this the
    * collected centroid table stops being "tiny model state" and the
    * join-shaped assignment (which never materializes the centroids on
    * the driver) is the right plan. */
  val MaxCents = 65536

  /** Winner by quantized cosine, ties to the smallest id (ids MUST be
    * sorted ascending — strict `>` then keeps the first). Each score is
    * [[CosineSim.cosine]], so the selected centroid is bit-identical to
    * ranking `cosine_sim` results. Returns -1 when no centroid matches
    * the embedding's length. */
  def bestCell(x: ArrayData, ids: Array[Long], embs: Array[ArrayData]): Long = {
    var best = Double.NegativeInfinity
    var bestId = -1L
    var j = 0
    while (j < embs.length) {
      if (embs(j).numElements() == x.numElements()) {
        val c = CosineSim.cosine(x, embs(j))
        if (c > best) { best = c; bestId = ids(j) }
      }
      j += 1
    }
    bestId
  }
}
