package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit-level checks for the iterative graph/ML operators — the oracle
  * gate pins their end-to-end results on real data; these pin the
  * algorithmic invariants on inputs chosen to exercise the mechanics
  * (multi-hop chains for label propagation, known ground-truth labels
  * for the k-means fit).
  */
class ClusteringSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("connected components: chains, triangles and isolates label to the component min") {
    import spark.implicits._
    // components: {1,2,3,4} (a 4-chain — needs multi-round propagation),
    // {10,11,12} (triangle), {20,21} (single edge)
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("a", "b")
    val got = operators.Clustering.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("k-NN graph: ranks are dense 1..m with m <= k, and mutual = exactly the reciprocated pairs") {
    val g = SparkEntry.queries("q_knn_graph")(spark, sf).collect()
    g.groupBy(_.getLong(0)).foreach { case (src, rows) =>
      val rnks = rows.map(_.getInt(1)).sorted
      assert(rnks.length <= 3 && rnks.sameElements(1 to rnks.length),
        s"node $src has ranks ${rnks.mkString(",")}")
    }
    val directed = g.map(r => (r.getLong(0), r.getLong(2))).toSet
    val mutual = SparkEntry.queries("q_knn_mutual")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // soundness: every mutual edge is reciprocated in the directed graph
    mutual.foreach { case (a, b) =>
      assert(a < b && directed((a, b)) && directed((b, a)), s"($a,$b)")
    }
    // completeness: every reciprocated directed pair made it to mutual
    val expected = directed.filter { case (a, b) => a < b && directed((b, a)) }
    assert(mutual === expected)
    assert(mutual.nonEmpty, "sf0.001 cells should reciprocate at least one pair")
  }

  test("connected components converge on a long path well inside the iteration cap") {
    import spark.implicits._
    // a 64-vertex path: naive propagation needs 63 rounds; pointer
    // jumping must close it in O(log n) — the cap (25) only holds at
    // scale if the doubling actually happens. singleTaskCap = 0 forces
    // the past-cap shuffle loop (the regime a 100 TB edge set takes);
    // the sub-cap union-find path is covered by the agreement test.
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    val labs = operators.Clustering
      .connectedComponents(edges, maxIter = 10, singleTaskCap = 0L)
      .collect().map(_.getLong(1)).toSet
    assert(labs === Set(0L), "all 64 path vertices must reach label 0 within 10 rounds")
  }

  test("both CC regimes produce the identical labeling") {
    import spark.implicits._
    // chains + triangle + isolates fixture, plus a merged fork — run
    // the sub-cap single-task union-find and the past-cap min-label
    // loop on the same edges and require bit-identical labelings
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L), (4L, 40L), (40L, 10L)).toDF("a", "b")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = asMap(operators.Clustering.connectedComponents(edges))
    val loop = asMap(operators.Clustering
      .connectedComponents(edges, singleTaskCap = 0L))
    assert(fast === loop)
    // the fork merge chains {1..4,40} into {10,11,12}: one component
    assert(fast(12L) === 1L && fast(40L) === 1L && fast(20L) === 20L)
  }

  test("k-means partitions every vector and Lloyd's never increases the objective") {
    import org.apache.spark.sql.functions._
    val out = operators.Clustering.kmeansAssign(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    // every vector assigned exactly once
    assert(out.count() === emb.count())
    assert(out.select("vec_id").distinct().count() === emb.count())

    // Lloyd's invariant: within-cluster SSE after the fit must not
    // exceed the SSE of assigning to the raw seed centroids. (The
    // embeddings carry no label geometry — verified: same-label and
    // cross-label mean cosine are both ~0 — so cluster-quality-vs-label
    // assertions would be vacuous; the monotone objective is the real
    // algorithmic property.)
    val pts = emb.select("vec_id", "embedding")
    def sse(assigned: org.apache.spark.sql.DataFrame): Double = assigned
      .selectExpr(
        s"${operators.Similarity.sparkDot("embedding", "embedding")} " +
          s"- 2 * ${operators.Similarity.sparkDot("embedding", "cent")} " +
          s"+ ${operators.Similarity.sparkDot("cent", "cent")} AS d2")
      .agg(sum(col("d2"))).head().getDouble(0)
    val seed = pts.filter(col("vec_id") < 4)
      .selectExpr("vec_id AS cid", "transform(embedding, v -> CAST(v AS DOUBLE)) AS cent")
    val initial = operators.Clustering.kmAssign(pts, seed)
      .join(seed, "cid").join(pts, "vec_id")
    val fitted = out.join(pts, "vec_id")
    val (s0, s1) = (sse(initial), sse(fitted))
    assert(s1 <= s0 + 1e-9, s"SSE rose: seed-assign $s0 -> fitted $s1")
    assert(s1 < s0, s"3 Lloyd rounds should strictly improve on random seeds ($s0 -> $s1)")
  }

  test("product quantization: total assignment, valid codes, and PQ beats whole-vector k-means SSE") {
    import org.apache.spark.sql.functions._
    val out = operators.Clustering.pqAssign(spark, sf)
    val n = Tables.embeddings(spark, sf).count()
    assert(out.count() === n)
    val agg = out.agg(
      min(least(col("c0"), col("c1"), col("c2"), col("c3"))),
      max(greatest(col("c0"), col("c1"), col("c2"), col("c3"))),
      min(col("sq_err")), sum(col("sq_err"))).head()
    assert(agg.getLong(0) >= 0L &&
      agg.getLong(1) < operators.Clustering.PqK.toLong, "codes outside [0, k)")
    assert(agg.getDouble(2) >= -1e-9, "negative reconstruction error")
    // 4 independent 16-dim codebooks give 4^4 effective centroids vs the
    // whole-vector fit's 4 — PQ must reconstruct strictly better in
    // total SSE (that's the entire point of the decomposition).
    val km = operators.Clustering.kmeansAssign(spark, sf)
      .join(Tables.embeddings(spark, sf).select("vec_id", "embedding"), "vec_id")
      .selectExpr(
        s"${operators.Similarity.sparkDot("embedding", "embedding")} " +
          s"- 2 * ${operators.Similarity.sparkDot("embedding", "cent")} " +
          s"+ ${operators.Similarity.sparkDot("cent", "cent")} AS d2")
      .agg(sum(col("d2"))).head().getDouble(0)
    assert(agg.getDouble(3) < km,
      s"PQ total SSE ${agg.getDouble(3)} !< whole-vector k-means SSE $km")
  }

  test("iterative graph, k-means and PQ entries keep every output row") {
    // (row count : order-independent row-hash sum) per entry, in the
    // tembench suite's fingerprint form; pinned so that a change to the
    // shared message-pass or Lloyd kernels that shifts any row of any
    // entry fails here, not only in oracle parity
    val expected = Map(
      "q_graph_pagerank" -> "20:-20586837792457448914",
      "q_graph_ppr" -> "20:-10972959355897735708",
      "q_graph_bfs" -> "3:17040131232312030376",
      "q_graph_sssp" -> "3:-9218873725055053976",
      "q_graph_kcore" -> "1:-71752941293896940",
      "q_graph_labelprop" -> "21:30144275866449266991",
      "q_graph_modularity" -> "1:-8057798433473874653",
      "q_graph_triangles" -> "1:7396463958141115855",
      "q_graph_clustercoef" -> "1:8788731208763023813",
      "q_kmeans" -> "4:-13606828129028440313",
      "q_kmeans_silhouette" -> "4:11766214945623350681",
      "q_pq_assign" -> "500:8710066988981646976",
      "q_pq_search" -> "12:-13831957808259922169",
      "q_ivfpq" -> "20:-538669539211246956",
      "q_pq_recall" -> "1:9100714886878829062")
    val got = expected.keys.map { name =>
      name -> TestSpark.fingerprint(SparkEntry.queries(name)(spark, sf))
    }.toMap
    assert(got === expected)
  }

  test("pagerank mass stays near |V| and ranks are in (0, |V|)") {
    val pr = SparkEntry.queries("q_graph_pagerank")(spark, sf)
    val rows = pr.collect()
    assert(rows.nonEmpty)
    // top-ranked vertices of a symmetric graph: pr bounded and positive
    rows.foreach { r =>
      val v = r.getDouble(2)
      assert(v > 0.15 - 1e-9 && v < rows.length.toDouble * 10,
        s"pagerank $v out of plausible range")
    }
  }

  test("label propagation partitions the pair-graph nodes and refines the components") {
    import org.apache.spark.sql.functions._
    val lp = operators.Clustering.labelProp(spark, sf)
    val pairs = operators.Dedup.minhashPairs(spark, sf).select("a", "b")
    val nodes = pairs.select(col("a").as("v")).unionAll(pairs.select(col("b").as("v")))
      .distinct()
    // total assignment: every pair-graph node gets exactly one label
    assert(lp.count() === nodes.count())
    assert(lp.select("v").distinct().count() === nodes.count())
    // refinement: a community never straddles two connected components
    // (LPA moves labels only along edges, so each community must sit
    // inside one component)
    val cc = operators.Clustering.connectedComponents(pairs)
      .select(col("v"), col("lab"))
    val straddlers = lp.join(cc, "v")
      .groupBy("lbl").agg(countDistinct("lab").as("n_comp"))
      .filter(col("n_comp") > 1).count()
    assert(straddlers === 0L, s"$straddlers communities straddle components")
    // and communities genuinely refine: at least as many communities as
    // components (strictly more on this fixture — LPA sees structure CC
    // fuses)
    val nComm = lp.select("lbl").distinct().count()
    val nComp = cc.select("lab").distinct().count()
    assert(nComm >= nComp, s"$nComm communities < $nComp components")
  }

  test("kmv sketch estimates land within the k=64 error envelope and obey set algebra") {
    val byName = SparkEntry.queries("q_kmv_sketch")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    byName.foreach { case (name, (exact, est)) =>
      assert(est > 0.0, s"$name estimate $est")
      // k=64 → σ ≈ 12.6%; 3σ envelope, deterministic data so no flake
      if (exact >= 64)
        assert(math.abs(est - exact) / exact < 0.38,
          s"$name: est $est vs exact $exact outside the KMV envelope")
      else // under-k regime is EXACT by construction
        assert(est === exact.toDouble, s"$name under-k must be exact")
    }
    // set algebra: union ≥ each side, intersection ≤ union
    assert(byName("click_or_view")._2 >= byName("click")._2 - 1e-9)
    assert(byName("click_and_view")._2 <= byName("click_or_view")._2 + 1e-9)
  }

  test("int8 quantization: codes fit one byte and mse obeys the quantization bound") {
    val rows = SparkEntry.queries("q_emb_int8")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getDouble(3), r.getInt(4), r.getDouble(5)))
    assert(rows.length === 64, "one row per embedding dimension")
    rows.foreach { case (pos, scale, maxCode, mse) =>
      assert(maxCode >= 0 && maxCode <= 255, s"dim $pos code $maxCode")
      assert(scale >= 0.0)
      // per-element error ≤ scale/2 (round-to-nearest), so
      // mse ≤ scale²/4 — the affine-quantizer guarantee
      assert(mse <= scale * scale / 4.0 + 1e-12,
        s"dim $pos mse $mse exceeds the ${scale * scale / 4.0} bound")
    }
  }

  test("k-center picks distinct points with non-increasing covering radius") {
    val picks = SparkEntry.queries("q_sample_kcenter")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(picks.length === 8)
    assert(picks.map(_._2).distinct.length === 8, "a center was picked twice")
    // farthest-point traversal: each pick's distance to the selected
    // set is ≤ the previous pick's (the radius shrinks monotonically;
    // the seed row's radius is 0 by definition, so it is excluded)
    picks.drop(1).sliding(2).foreach {
      case Array((_, _, r1), (_, _, r2)) =>
        assert(r2 <= r1 + 1e-9, s"radius rose: $r1 -> $r2")
      case _ => ()
    }
    assert(picks.drop(1).forall(_._3 > 0.0), "every later pick is a distinct point")
  }

  test("silhouette covers every point, stays in [-1,1], and b is never the own centroid") {
    val rows = SparkEntry.queries("q_kmeans_silhouette")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._2).sum === Tables.embeddings(spark, sf).count(),
      "every point must contribute to exactly one cluster's silhouette")
    rows.foreach { case (cid, n, s) =>
      assert(n > 0L)
      assert(s >= -1.0 && s <= 1.0, s"cluster $cid mean silhouette $s out of range")
    }
    // determinism (the oracle replays the whole fit — any instability
    // in the distance math would show up as a hash mismatch there, and
    // as a diff here)
    val rerun = SparkEntry.queries("q_kmeans_silhouette")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq === rerun.toSeq)
  }
}
