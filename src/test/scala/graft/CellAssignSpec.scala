package graft

import graft.operators.Similarity
import org.scalatest.funsuite.AnyFunSuite

/** The two cell-assignment regimes must be interchangeable: the
  * expression-shaped argmax (collected centroid literal, per-row loop)
  * and the join-shaped top-1 window are the SAME operator at different
  * centroid scales, so on the same inputs every vector must land in the
  * same cell — the tie-break (`c_cos DESC, cent_id ASC` vs ascending
  * scan with strict `>`) and the quantized cosine arithmetic are
  * replicated, not approximated.
  */
class CellAssignSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def assignments(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("expression regime and join regime assign every vector the same cell") {
    val e = Tables.embeddings(spark, sf)
    for (cells <- Seq(4, 7, 32)) {
      val viaExpr = assignments(Similarity.assignByExpression(spark, e, cells))
      val viaJoin = assignments(Similarity.assignByJoin(e, cells))
      assert(viaExpr === viaJoin, s"regimes diverged at cells=$cells")
      assert(viaExpr.nonEmpty)
    }
  }

  test("every assigned cell is a valid centroid id below the cell count") {
    val e = Tables.embeddings(spark, sf)
    val cells = 8
    val a = assignments(Similarity.assignByExpression(spark, e, cells))
    assert(a.values.forall(c => c >= 0 && c < cells))
    // centroid vectors assign to themselves (cosine 1 beats everything,
    // ties resolve to the centroid's own id only when it IS the argmax
    // — for the self pair the cosine is exactly 1)
    (0L until cells.toLong).foreach { id =>
      assert(a(id) === id, s"centroid $id must self-assign")
    }
  }

  test("assignment against a frozen centroid set is append-stable") {
    // q_semdedup_incremental's contract: the index state is derived
    // from the BASE slice, so appending a delta batch must not perturb
    // any base vector's cell — assignment is a pure per-row function
    // of (vector, centroid set), with no data-dependent re-fit. Pin it
    // by assigning the base-only relation and the full relation through
    // the same base-derived centroids and comparing the base rows.
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sf)
    val n = e.count()
    val cut = 9L * n / 10L
    val cells = Similarity.ivfCellsFor(cut)
    val full = assignments(Similarity.assignByExpression(spark, e, cells))
    val baseOnly = assignments(
      Similarity.assignByExpression(spark, e.filter(col("vec_id") < cut), cells))
    assert(baseOnly.nonEmpty && baseOnly.size < full.size)
    baseOnly.foreach { case (id, cell) =>
      assert(full(id) === cell, s"appending the delta moved base vector $id")
    }
  }

  test("filtered ANN pre-filters: candidates shrink and recall stays a valid fraction") {
    val f = operators.Similarity.filteredAnn(spark, sf).head()
    val u = operators.Similarity.ivfRecall(spark, sf, cells = 8).head()
    // the label predicate must prune the candidate set BEFORE scoring —
    // filtered candidates are a strict subset of the unfiltered cell
    // candidates (post-filtering would show equal counts)
    assert(f.getAs[Long]("n_cand") < u.getAs[Long]("n_cand"),
      s"filtered ${f.getAs[Long]("n_cand")} !< unfiltered ${u.getAs[Long]("n_cand")}")
    val recall = f.getAs[Double]("recall_at_k")
    assert(recall >= 0.0 && recall <= 1.0, s"recall $recall")
    assert(f.getAs[Long]("n_matched") <= f.getAs[Long]("n_brute"))
    // ground truth exists: every query with ≥1 same-label neighbor has
    // brute rows — with 100 queries over a handful of labels this must
    // be the full query set
    assert(f.getAs[Long]("n_queries") === 100L)
  }
}
