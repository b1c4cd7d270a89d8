package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Similarity.{duckDot, sparkDot}

/** Near-duplicate clustering: connected components over the verified
  * MinHash pair relation ([[Dedup.minhashPairs]]), turning pairwise
  * "A ≈ B" hits into dedup groups with one representative per group —
  * the step every production dedup pipeline runs between "find pairs"
  * and "drop copies" (pairs alone over-delete: A≈B, B≈C must keep ONE
  * of {A,B,C}, not one per pair). The reference has no graph ops; this
  * is extension surface over `documents`.
  *
  * Two execution regimes behind one COUNT-gated entry point — the same
  * executed-sizing-rule architecture as [[Similarity.ivfSizedAnn]]:
  *
  *  - edge sets at or below [[CcSingleTaskCap]] run a SINGLE-TASK
  *    union-find (`coalesce(1)` + `mapPartitions`, path-halving find,
  *    union-by-min-id): one executor task, one job, O(E α(E)) work over
  *    primitive arrays. The dedup/knn edge relations are ≤ k·N rows and
  *    heavily contracted by their upstream filters, so this is the path
  *    every benchmark scale takes — and what replaced a 13-round,
  *    ~0.9 s/round driver loop over 1.7k edges (the cost was per-round
  *    scheduling, not data).
  *  - larger edge sets run iterative min-label propagation with pointer
  *    jumping — the standard shuffle-based connected components (cf.
  *    the "large-star/small-star" family): every vertex starts labeled
  *    with itself; each round takes the min label over {self} ∪
  *    neighbors (one equi-join + combinable min-aggregate), then
  *    compresses paths by looking the new label up in the same label
  *    table (second equi-join). O(log(diameter)) rounds, each a bounded
  *    number of keyed shuffles over |V|+|E| rows — no stage ever holds
  *    a whole component, which is what survives 100 TB. Per round the
  *    loop runs ONE blocking job (the convergence count rides the
  *    checkpoint materialization as an accumulator) and the min-label
  *    aggregate is persisted so the pointer-jump self-join doesn't
  *    compute it twice.
  *
  * Both regimes produce the identical (v, min-reachable-id) labeling;
  * the DuckDB oracle computes the same fixpoint declaratively with a
  * recursive CTE — a third evaluation strategy arriving at the same
  * answer is exactly what the cross-engine gate is for.
  *
  * The iterative entries share two kernels. The graph rounds are folds
  * over one message pass, [[send]] (each edge of the memoized doubled
  * [[edgeFrame]] carries its source's row): PageRank and PPR sum the
  * quantized pr/deg contributions of [[rankSums]] and differ only in
  * their restart term, BFS and SSSP run one keyed-MIN [[relax]] with a
  * frontier predicate and a step, and label propagation counts the
  * sent labels as votes. k-means and every PQ subspace codebook are one
  * [[lloyd]] fit (first-k seeds, assign + update rounds, each round
  * re-based). Each kernel has one DuckDB twin generator (`duckEdges`,
  * `duckRankPass`, `duckRelax`, `duckLloyd`, `duckRounds`), so the
  * oracle text of every entry is assembled from the same pieces as its
  * Spark plan.
  */
object Clustering {

  /** Single-task union-find cap, in EDGES. 8M edges ≈ 128 MiB of packed
    * longs plus vertex/parent arrays — comfortably one executor task's
    * memory, and ≥ 5× the largest edge relation any sf10 entry builds
    * (mutual k-NN ≤ 3N ≈ 1.5M at sf10). Past the cap the shuffle loop
    * runs: at 100 TB a 3·10⁹-edge relation must never sit in one task. */
  val CcSingleTaskCap: Long = 8L * 1000 * 1000

  /** Connected components of an undirected edge list (`a`, `b`):
    * returns (v, cluster) with cluster = min vertex id reachable from v.
    * Only vertices appearing in some edge are labeled (isolated docs are
    * their own trivial cluster and never enter the graph).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
                          singleTaskCap: Long = CcSingleTaskCap): DataFrame = {
    val p = pairs.selectExpr("CAST(a AS LONG) AS a", "CAST(b AS LONG) AS b")
      .cache()
    // executed size gate — the regime choice is a measured property of
    // the data, not a configuration
    val n = p.count()
    val out = if (n <= singleTaskCap) ccSingleTask(p) else ccMinLabel(p, maxIter)
    p.unpersist()
    out
  }

  /** Sub-cap regime: the whole edge list in one union-find pass on one
    * executor task. Union-by-min-id (roots are always the smallest
    * vertex id seen, so the final label IS the component min — no
    * relabeling pass) with path-halving lookups; edge order cannot
    * change the result, so `coalesce(1)`'s nondeterministic order is
    * safe. The result is eagerly checkpointed: downstream consumers
    * (size joins, survivor picks) re-scan it without re-running UF. */
  private def ccSingleTask(p: DataFrame): DataFrame = {
    val s = p.sparkSession
    import s.implicits._
    val labeled = p.as[(Long, Long)].coalesce(1).mapPartitions { it =>
      // pack edges, index vertices, then int-indexed union-find —
      // primitive arrays only (a boxed map at the cap would be GBs)
      val buf = scala.collection.mutable.ArrayBuilder.make[Long]
      it.foreach { case (a, b) => buf += a; buf += b }
      val flat = buf.result()
      val verts = flat.distinct.sorted
      val idx = new java.util.HashMap[Long, Integer](verts.length * 2)
      var i = 0
      while (i < verts.length) { idx.put(verts(i), i); i += 1 }
      val parent = Array.tabulate(verts.length)(identity)
      def find(x0: Int): Int = {
        var x = x0
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      var e = 0
      while (e < flat.length) {
        val ra = find(idx.get(flat(e)).intValue())
        val rb = find(idx.get(flat(e + 1)).intValue())
        // verts is sorted ascending, so smaller index == smaller id:
        // attaching the larger root under the smaller keeps every root
        // the component's min vertex id by construction
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        e += 2
      }
      Iterator.tabulate(verts.length)(i => (verts(i), verts(find(i))))
    }.toDF("v", "lab")
    // one job, one task; lineage truncated for the downstream self-joins
    labeled.localCheckpoint(true)
  }

  /** Past-cap regime: shuffle-based min-label propagation with pointer
    * jumping; see the object doc for the per-round structure. */
  private def ccMinLabel(p: DataFrame, maxIter: Int): DataFrame = {
    // Symmetric edge relation: propagation must flow both directions.
    val edges = p.selectExpr("a AS src", "b AS dst")
      .union(p.selectExpr("b AS src", "a AS dst"))
      .cache()
    var labels = edges.select(col("src").as("v")).distinct()
      .withColumn("lab", col("v"))
      .cache()
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      // min over self + neighbor labels — a keyed join and a combinable
      // aggregate; nothing materializes a whole component anywhere. The
      // self rows carry the round's incoming label as `old` (unique per
      // v, so max() recovers it through the aggregate): the convergence
      // check then rides the checkpoint materialization below as an
      // accumulated lab≠old count instead of re-joining against the
      // previous labels — no extra action, no shuffle join.
      val self = labels.select(col("v"), col("lab"), col("lab").as("old"))
      val nbr = edges
        .join(labels.withColumnRenamed("v", "dst"), "dst")
        .select(col("src").as("v"), col("lab"), lit(null).cast("long").as("old"))
      // persisted: the pointer-jump self-join below scans this twice —
      // uncached, the join+aggregate subtree would execute twice per
      // round (block-level cache locking makes the two in-job scans
      // compute-once/read-once)
      val minLab = self.union(nbr).groupBy("v")
        .agg(min("lab").as("lab"), max("old").as("old"))
        .persist()
      // pointer jumping: lab(v) <- lab(lab(v)); halves tree height.
      // localCheckpoint (not cache): the self-join references minLab
      // twice, so the logical plan DOUBLES per round — without lineage
      // truncation the plan tree is 2^rounds nodes and the driver dies
      // on a 10-round graph before any task runs. Checkpointing each
      // round keeps the plan O(1) and the loop O(rounds).
      val jump = minLab.as("x")
        .join(minLab.select(col("v").as("lv"), col("lab").as("llab")).as("y"),
          col("x.lab") === col("y.lv"), "left")
        .select(col("x.v").as("v"), coalesce(col("y.llab"), col("x.lab")).as("lab"),
          col("x.old").as("old"))
      // ONE blocking job per round, not two: the convergence count rides
      // the checkpoint materialization as an accumulator instead of a
      // second count() action over the checkpointed blocks. The edge
      // relation is tiny (≤ k·N rows) — at cluster scale the per-round
      // cost is DRIVER round-trips × O(log d) rounds, so halving the job
      // count halves the loop's wall clock. Accumulator semantics are
      // safe here: a retried task can only overcount, and the value is
      // consumed as `> 0`.
      val acc = jump.sparkSession.sparkContext.longAccumulator("ccChanged")
      val ckRdd = jump.rdd.map { r =>
        if (r.isNullAt(2) || r.get(1) != r.get(2)) acc.add(1L)
        r
      }
      ckRdd.localCheckpoint()
      ckRdd.count() // materializes the checkpoint AND drives the accumulator
      minLab.unpersist()
      changed = acc.value
      // re-baseline with FRESH attribute ids ([[graft.FrameCache.rebase]]
      // says why): the next round unions this frame with itself
      val jumped = jump.sparkSession.createDataFrame(ckRdd, jump.schema)
      labels.unpersist()
      labels = jumped.drop("old")
      iter += 1
    }
    edges.unpersist()
    labels
  }

  /** Shared oracle text: recursive min-reachability labeling over the
    * verified pair CTEs. Ends in `cc(v, cluster)`. */
  private[operators] def duckCcCtes: String =
    s"""${duckEdges()},
       |reach(v, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT reach.v, edges.dst FROM reach JOIN edges ON edges.src = reach.r),
       |cc AS (SELECT v, MIN(r) AS cluster FROM reach GROUP BY v)""".stripMargin

  // ---- k-means (Lloyd's) over the embedding table --------------------
  //
  // The trainable half of the IVF index ([[Similarity]] uses fixed
  // centroids; this is how a real codebook gets fit). Deterministic by
  // construction so the DuckDB oracle can replay it: init is the first k
  // vectors by vec_id, every distance comparison uses the floor-quantized
  // dot ([[Similarity.sparkDot]] — no cross-engine double-sum drift), ties
  // break on centroid id, and centroid updates are exact integer per-dim
  // sums (floor(v·1e8) summed as BIGINT) divided back in a fixed order.
  //
  // Scale shape per iteration: centroids broadcast (k·d doubles),
  // assignment is stateless per-row argmin over k quantized dots (scan
  // work), the update is a map-side-combinable (cid, dim) sum — nothing
  // holds state beyond k·d per executor. Iteration count is fixed (the
  // driver loop carries no data), so the whole fit is `iters` scans.

  private val KmK = 4
  private val KmIters = 3
  private val KmDim = 64

  /** Argmin assignment: (vec_id, cid) for the current centroid frame.
    * The centroid self-dot is hoisted into the k-row broadcast side —
    * computing it inside the cross join would redo a 64-element fold per
    * (point, centroid) pair for a value that only depends on the
    * centroid. */
  private[graft] def kmAssign(pts: DataFrame, cents: DataFrame): DataFrame = {
    pts.crossJoin(broadcast(
        cents.selectExpr("cid", "cent", s"${sparkDot("cent", "cent")} AS cc")))
      .selectExpr("vec_id", "cid",
        s"cc - 2 * ${sparkDot("embedding", "cent")} AS d")
      .groupBy("vec_id")
      .agg(min(struct(col("d"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"))
  }

  /** Lloyd update: exact per-(cid, dim) quantized means, re-collected to
    * ordered centroid arrays. */
  private def kmUpdate(assigned: DataFrame, pts: DataFrame): DataFrame =
    assigned.join(pts, "vec_id")
      .selectExpr("cid", "posexplode(embedding) AS (pos, v)")
      .groupBy("cid", "pos")
      .agg((sum(expr("CAST(floor(CAST(v AS DOUBLE) * 100000000) AS BIGINT)")).cast("double")
        / 100000000.0 / count(lit(1))).as("coord"))
      .groupBy("cid")
      .agg(expr("transform(array_sort(collect_list(struct(pos, coord))), s -> s.coord)").as("cent"))

  /** The point set every iterative fit (k-means, PQ) re-reads each pass:
    * cached once per session ([[graft.FrameCache]] — release via
    * `FrameCache.release(session)`), so Lloyd's `iters` passes scan
    * memory, not parquet. */
  private[graft] def cachedPoints(s: SparkSession, d: String): DataFrame =
    graft.FrameCache.memo(s, s"embpts:$d")(
      Tables.embeddings(s, d).select("vec_id", "embedding"))

  /** Lloyd's fit shared by k-means and every PQ subspace: seeds are the
    * first `k` points by vec_id, then `iters` assign+update rounds over
    * `pts` (vec_id, embedding); returns the k-row centroid frame. Each
    * round materializes the centroids eagerly ([[graft.FrameCache.rebase]]):
    * the round is then ONE job over the cached points, and the next
    * round's plan starts from k in-memory rows instead of nesting the
    * whole previous fit — without this the final action re-ran every
    * assignment and update pass against the raw scan (7 parquet
    * re-reads for a 3-iteration fit). */
  private def lloyd(pts: DataFrame, k: Int, iters: Int): DataFrame =
    (1 to iters).foldLeft(pts.filter(col("vec_id") < k)
        .selectExpr("vec_id AS cid", "transform(embedding, v -> CAST(v AS DOUBLE)) AS cent")) {
      (cents, _) => graft.FrameCache.rebase(kmUpdate(kmAssign(pts, cents), pts))
    }

  /** `KmIters` rounds of Lloyd's from the deterministic seed; returns
    * the final assignment with its centroid, (cid, vec_id, cent). The
    * fitted centroids are memoized per (session, dir), as the PQ
    * codebooks are: q_kmeans and q_kmeans_silhouette consume the same
    * deterministic fit, so a session runs it once. */
  def kmeansAssign(s: SparkSession, d: String): DataFrame = {
    val pts = cachedPoints(s, d)
    val cents = graft.FrameCache.memo(s, s"kmfit:$d")(lloyd(pts, KmK, KmIters))
    kmAssign(pts, cents).join(cents, "cid")
  }

  /** DuckDB twin of [[lloyd]]'s rounds over `pts(vec_id, x)` from the
    * seeds `c${sfx}0`: per round i the argmin `s/a${sfx}i` and the
    * update `e/d/c${sfx}i`, ending at the centroids `c$sfx$iters` (and,
    * with `assignLast`, their assignment `a$sfx${iters + 1}`). */
  private def duckLloyd(sfx: String, pts: String, x: String, dim: Int, iters: Int,
                        assignLast: Boolean): String = {
    def assign(i: Int) =
      s"""s$sfx$i AS (SELECT p.vec_id, c.cid,
         |  ${duckDot("c.cent", "c.cent")} - 2 * ${duckDot(s"p.$x", "c.cent")} AS d
         |  FROM $pts p CROSS JOIN c$sfx${i - 1} c),
         |a$sfx$i AS (SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
         |  FROM s$sfx$i) WHERE rk = 1)""".stripMargin
    def update(i: Int) =
      s"""e$sfx$i AS (SELECT a.cid, g.i AS pos,
         |  CAST(floor(CAST(p.$x[g.i] AS DOUBLE) * 100000000) AS BIGINT) AS q
         |  FROM a$sfx$i a JOIN $pts p USING (vec_id) CROSS JOIN generate_series(1, $dim) AS g(i)),
         |d$sfx$i AS (SELECT cid, pos, CAST(SUM(q) AS DOUBLE) / 100000000 / COUNT(*) AS coord
         |  FROM e$sfx$i GROUP BY cid, pos),
         |c$sfx$i AS (SELECT cid, list(coord ORDER BY pos) AS cent FROM d$sfx$i GROUP BY cid)""".stripMargin
    ((1 to iters).map(i => s"${assign(i)},\n${update(i)}") ++
      (if (assignLast) Seq(assign(iters + 1)) else Nil)).mkString(",\n")
  }

  /** The k-means fit unrolled as a DuckDB CTE chain (c0 → a1/c1 → … →
    * final assignment `a${KmIters + 1}(vec_id, cid)`). */
  private def duckKmeansCtes: String =
    s"""pts AS (SELECT vec_id, embedding FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS cent
       |       FROM embeddings WHERE vec_id < $KmK),
       |${duckLloyd("", "pts", "embedding", KmDim, KmIters, assignLast = true)}""".stripMargin

  // ---- product quantization over the embedding table -----------------
  //
  // The compression step behind every large-scale ANN index (IVF-PQ):
  // split each vector into M subvectors, fit an independent k-means
  // codebook per subspace, and store M small codes instead of the
  // vector — memory drops from d floats to M bytes per vector while
  // distances remain approximable from code-to-centroid tables. Built
  // by composing the Lloyd machinery above per subspace; deterministic
  // for the same reasons (quantized dots, fixed seeds/tie-breaks), so
  // the DuckDB oracle replays the whole fit as unrolled CTEs.
  //
  // Scale shape: each subspace fit is the k-means loop (broadcast
  // centroids, stateless scans); the final code assignment is M
  // broadcast-argmin passes joined on vec_id — all map work over the
  // cached points, no shuffle beyond the tiny per-fit updates.

  private val PqM = 4      // subspaces
  private val PqSub = 16   // dims per subspace (4 × 16 = 64)
  private[graft] val PqK = 16 // codewords per subspace (16⁴ effective cells)
  private val PqIters = 2
  /** ADC queries of q_pq_search and q_pq_recall: vec_id < PqQueries. */
  private val PqQueries = 12
  /** q_ivfpq's probe: the coarse cell count and the query id range. */
  private val IvfPqCells = 8
  private val IvfPqQLo = 100
  private val IvfPqQHi = 119

  /** Subspace m's (vec_id, embedding) slice. */
  private def pqSub(all: DataFrame, m: Int): DataFrame =
    all.selectExpr("vec_id", s"slice(embedding, ${m * PqSub + 1}, $PqSub) AS embedding")

  /** Exact squared distance of every row in `frame` to every centroid:
    * (vec_id, cid, dist) with the centroid self-dot hoisted to the
    * broadcast side and all dots floor-quantized. */
  private def pqDist(frame: DataFrame, cents: DataFrame): DataFrame = {
    frame.crossJoin(broadcast(
        cents.selectExpr("cid", "cent", s"${sparkDot("cent", "cent")} AS cc")))
      .selectExpr("vec_id", "cid",
        s"${sparkDot("embedding", "embedding")} + cc - 2 * ${sparkDot("embedding", "cent")} AS dist")
  }

  /** Fit one deterministic codebook per subspace ([[lloyd]] over the
    * cached points); returns the M final centroid frames. The M fits
    * are independent, so they submit concurrently from driver threads
    * — their per-round checkpoint actions interleave in the scheduler
    * instead of serializing 2·M small jobs (each fit alone can't fill
    * the cluster; together they do). Determinism is untouched: each
    * fit's dataflow is self-contained and quantized. */
  private[graft] def pqFit(s: SparkSession, d: String): Seq[DataFrame] = {
    import scala.concurrent.duration.Duration
    import scala.concurrent.{Await, ExecutionContext, Future}
    implicit val ec: ExecutionContext = ExecutionContext.global
    val all = cachedPoints(s, d)
    // memoized per (session, dir, subspace): four PQ queries consume
    // the same deterministic fit — one fit per session, not per query
    val fits = (0 until PqM).map { m =>
      Future {
        graft.FrameCache.memo(s, s"pqfit:$d:$m")(lloyd(pqSub(all, m), PqK, PqIters))
      }
    }
    Await.result(Future.sequence(fits), Duration.Inf)
  }

  /** Per-subspace argmin codeword of every vector against the fitted
    * codebooks: (vec_id, c0..c3, d0..d3), c_m the code and d_m its
    * squared distance in subspace m. */
  private def pqArgmin(s: SparkSession, d: String, fitted: Seq[DataFrame]): DataFrame = {
    val all = cachedPoints(s, d)
    fitted.zipWithIndex.map { case (cents, m) =>
      pqDist(pqSub(all, m), cents)
        .groupBy("vec_id")
        .agg(min(struct(col("dist"), col("cid"))).as("m"))
        .selectExpr("vec_id", s"m.cid AS c$m", s"m.dist AS d$m")
    }.reduce(_.join(_, "vec_id"))
  }

  /** Codes + reconstruction error per vector: (vec_id, c0..c3, sq_err)
    * where c_m is the argmin codeword of subspace m and sq_err sums the
    * per-subspace squared distances in fixed order. */
  def pqAssign(s: SparkSession, d: String): DataFrame =
    pqArgmin(s, d, pqFit(s, d))
      .selectExpr("vec_id", "c0", "c1", "c2", "c3", "d0 + d1 + d2 + d3 AS sq_err")
      .orderBy("vec_id")

  /** Asymmetric-distance PQ search (the query side of an IVF-PQ index):
    * database vectors are represented ONLY by their M codes; each query
    * precomputes an M × k distance table against the codebooks (tiny —
    * broadcast), and a vector's approximate distance is the sum of M
    * table lookups keyed by its codes. Here the lookup is M broadcast
    * equi-joins on (q_id, code) — the N·|Q| scored frame IS the
    * exhaustive ADC scan (PQ's fast linear scan; composing with the IVF
    * cell filter of [[Similarity.ivfAnn]] bounds it to a cell at scale).
    * Fixed-order additions keep it deterministic. */
  private def pqCodes(s: SparkSession, d: String, fitted: Seq[DataFrame]): DataFrame =
    graft.FrameCache.memo(s, s"pqcodes:$d")(
      pqArgmin(s, d, fitted).select("vec_id", "c0", "c1", "c2", "c3"))

  /** Attach the M distance-table lookups for the query set selected by
    * `queryPred` to a frame that carries (vec_id, c0..cM) code columns
    * (and possibly more). If the input has no `q_id` column yet, the
    * first table's query id becomes it; every subsequent table joins on
    * (q_id, code). Yields the input columns + q_id + qd0..qdM. */
  private def pqAdcJoin(acc0: DataFrame, all: DataFrame, fitted: Seq[DataFrame],
                        queryPred: org.apache.spark.sql.Column): DataFrame = {
    val hasQId = acc0.columns.contains("q_id")
    var acc = acc0
    for ((cents, m) <- fitted.zipWithIndex) {
      val dtab = pqDist(pqSub(all, m).filter(queryPred), cents)
        .selectExpr(s"vec_id AS q_id_$m", s"cid AS qc$m", s"dist AS qd$m")
      val codeEq = col(s"c$m") === col(s"qc$m")
      if (m == 0 && !hasQId)
        acc = acc.join(broadcast(dtab), codeEq).withColumnRenamed("q_id_0", "q_id")
      else
        acc = acc.join(broadcast(dtab), col("q_id") === col(s"q_id_$m") && codeEq)
          .drop(s"q_id_$m")
    }
    acc
  }

  private def pqScores(s: SparkSession, d: String): DataFrame = {
    val all = cachedPoints(s, d)
    val fitted = pqFit(s, d)
    pqAdcJoin(pqCodes(s, d, fitted), all, fitted, col("vec_id") < PqQueries)
      .filter(col("q_id") =!= col("vec_id"))
      .selectExpr("q_id", "vec_id", "qd0 + qd1 + qd2 + qd3 AS adist")
  }

  /** The full IVF×PQ index shape: queries probe ONLY their coarse-
    * quantizer cell ([[Similarity.cellAssign]] — candidates bounded to
    * |cell| ≈ N/cells BEFORE any scoring) and rank the cell's members
    * by ADC over the PQ codes. This is the composition a production
    * vector index runs at 100 TB: broadcast cell assignment, equi-join
    * candidate generation, broadcast code-table lookups — no stage
    * touches more than the probed cells' rows, and the database side
    * needs only codes + cell ids, not vectors. */
  def ivfPqSearch(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = cachedPoints(s, d)
    val fitted = pqFit(s, d)
    val cellsF = Similarity.cellAssign(s, d, IvfPqCells).select("vec_id", "cell")
    val q = cellsF.filter(col("vec_id").between(IvfPqQLo, IvfPqQHi))
      .select(col("vec_id").as("q_id"), col("cell"))
    val cand = q.join(
        cellsF.select(col("vec_id"), col("cell").as("c_cell")),
        col("cell") === col("c_cell") && col("q_id") =!= col("vec_id"))
      .select("q_id", "cell", "vec_id")
    val scored = pqAdcJoin(cand.join(pqCodes(s, d, fitted), "vec_id"), all, fitted,
        col("vec_id").between(IvfPqQLo, IvfPqQHi))
      .selectExpr("q_id", "cell", "vec_id", "qd0 + qd1 + qd2 + qd3 AS adist")
    val w = Window.partitionBy("q_id").orderBy(col("adist"), col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .selectExpr("q_id", "cell", "vec_id AS nn_id", "adist")
      .orderBy("q_id")
  }

  /** The ADC nearest neighbor per query (rank-1 of [[pqScores]]). */
  def pqSearch(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("q_id").orderBy(col("adist"), col("vec_id"))
    pqScores(s, d).withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .selectExpr("q_id", "vec_id AS nn_id", "adist")
      .orderBy("q_id")
  }

  /** The PQ fit unrolled as DuckDB CTEs, one chain per subspace. */
  private def duckPqCtes: String = {
    def chain(m: Int): String = {
      val lo = m * PqSub + 1
      val hi = m * PqSub + PqSub
      s"""pts$m AS (SELECT vec_id, embedding[$lo:$hi] AS sub FROM embeddings),
         |c${m}_0 AS (SELECT vec_id AS cid,
         |  list_transform(embedding[$lo:$hi], v -> CAST(v AS DOUBLE)) AS cent
         |  FROM embeddings WHERE vec_id < $PqK),
         |${duckLloyd(s"${m}_", s"pts$m", "sub", PqSub, PqIters, assignLast = false)},
         |f$m AS (SELECT p.vec_id, c.cid,
         |  ${duckDot("p.sub", "p.sub")} + ${duckDot("c.cent", "c.cent")}
         |    - 2 * ${duckDot("p.sub", "c.cent")} AS dist
         |  FROM pts$m p CROSS JOIN c${m}_$PqIters c),
         |fa$m AS (SELECT vec_id, cid AS c$m, dist AS d$m FROM (
         |  SELECT vec_id, cid, dist,
         |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
         |  FROM f$m) WHERE rk = 1)""".stripMargin
    }
    (0 until PqM).map(chain).mkString(",\n")
  }

  /** `codes(vec_id, c0..c3)` over [[duckPqCtes]]'s assignments. */
  private def duckPqCodesCte: String =
    """codes AS (SELECT vec_id, c0, c1, c2, c3
      |  FROM fa0 JOIN fa1 USING (vec_id) JOIN fa2 USING (vec_id) JOIN fa3 USING (vec_id))""".stripMargin

  /** Per-query ADC distance tables dt0..dt3 for the query rows selected
    * by `queryPred` (a predicate over `p.vec_id`). */
  private def duckPqDtabCtes(queryPred: String): String =
    (0 until PqM).map { m =>
      s"""dt$m AS (SELECT p.vec_id AS q_id, c.cid AS qc$m,
         |  ${duckDot("p.sub", "p.sub")} + ${duckDot("c.cent", "c.cent")}
         |    - 2 * ${duckDot("p.sub", "c.cent")} AS qd$m
         |  FROM pts$m p CROSS JOIN c${m}_$PqIters c WHERE $queryPred)""".stripMargin
    }.mkString(",\n")

  /** ADC-search CTEs over [[duckPqCtes]]'s outputs: codes, per-query
    * distance tables, the code-lookup scoring join, and the ranked
    * `adc` frame (filter `rk = 1` for the nearest neighbor). */
  private def duckPqSearchCtes: String =
    s"""$duckPqCodesCte,
       |${duckPqDtabCtes(s"p.vec_id < $PqQueries")},
       |scored AS (
       |  SELECT dt0.q_id, codes.vec_id, qd0 + qd1 + qd2 + qd3 AS adist
       |  FROM codes
       |  JOIN dt0 ON c0 = qc0
       |  JOIN dt1 ON dt1.q_id = dt0.q_id AND c1 = qc1
       |  JOIN dt2 ON dt2.q_id = dt0.q_id AND c2 = qc2
       |  JOIN dt3 ON dt3.q_id = dt0.q_id AND c3 = qc3
       |  WHERE dt0.q_id <> codes.vec_id),
       |adc AS (
       |  SELECT q_id, vec_id, adist,
       |         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rk
       |  FROM scored)""".stripMargin

  /** Edge rows per partition of [[edgeFrame]] (4M rows ≈ 64 MB). */
  private val EdgeRowsPerPartition = 4000000L

  /** Undirected near-dup edge relation — BOTH directions of every
    * verified pair in ONE explode pass, memoized per session: the graph
    * entries all read the identical doubled edge list, built once per
    * session instead of once per query (guide §2.4). */
  private[graft] def edgeFrame(s: SparkSession, d: String): DataFrame =
    graft.FrameCache.memo(s, s"graphedges:$d") {
      // data-proportional partition count (guide §2.2 "fewer, larger
      // partitions": a ~10³-row edge list over 32 near-empty tasks
      // makes every round 32 tasks of scheduling). The pair relation
      // is already cached, so the count() here is the cache fill the
      // first graph query pays anyway; the edge list then coalesces
      // (narrow — no shuffle) to ceil(2·pairs / EdgeRowsPerPartition):
      // ONE partition at the test SFs, growing linearly with the
      // duplication mass at scale.
      val pairs = Dedup.minhashPairs(s, d)
      val nParts = math.max(1L,
        (2L * pairs.count() + EdgeRowsPerPartition - 1) / EdgeRowsPerPartition).toInt
      pairs
        .selectExpr("explode(array(named_struct('src', a, 'dst', b), " +
          "named_struct('src', b, 'dst', a))) AS e")
        .select("e.src", "e.dst")
        .coalesce(nParts)
    }

  /** Vertex degrees over [[edgeFrame]] (one keyed count), memoized:
    * pagerank/ppr read it every round, and linkpred, clustercoef,
    * modularity and assortativity share it. `src` is also the family's
    * distinct vertex set (every vertex of the pair graph has degree ≥ 1
    * in both directions). */
  private[graft] def degFrame(s: SparkSession, d: String): DataFrame =
    graft.FrameCache.memo(s, s"graphdeg:$d") {
      edgeFrame(s, d).groupBy("src").agg(count(lit(1)).as("deg"))
    }

  /** The message pass every graph round runs: each edge (src, dst)
    * carries its source's row of `frame` (keyed `v`) — one keyed join;
    * yields (src, dst, edge columns…, frame columns…). */
  private def send(edges: DataFrame, frame: DataFrame): DataFrame =
    edges.join(frame.withColumnRenamed("v", "src"), "src")

  /** One rank pass of PageRank/PPR: every vertex sends pr/deg along its
    * edges, floor-quantized to 1e-12 so partial-sum order cannot shift
    * a bit; returns the per-target BIGINT sum (v, q). */
  private def rankSums(edges: DataFrame, deg: DataFrame, pr: DataFrame): DataFrame =
    send(edges, pr).join(deg, "src")
      .selectExpr("dst AS v", "CAST(floor(pr / deg * 1000000000000) AS BIGINT) AS q")
      .groupBy("v").agg(sum(col("q")).as("q"))

  /** One min-relax round over the distance frame (v, dd): the rows
    * passing `frontier` send `step` along their edges, and each vertex
    * keeps MIN over dist ∪ sent — one keyed join + one keyed MIN. */
  private def relax(edges: DataFrame, dist: DataFrame, frontier: Column,
                    step: Column): DataFrame =
    dist.unionAll(send(edges, dist.filter(frontier)).select(col("dst").as("v"), step.as("dd")))
      .groupBy("v").agg(min(col("dd")).as("dd"))

  /** Triangles of the oriented pair list `e(a, b)`: each wedge
    * (x,y)(y,z) closed by an (x,z) edge counts once — two keyed
    * equi-joins, no per-vertex adjacency; one row `n_triangles`. */
  private def triangleCount(e: DataFrame): DataFrame =
    e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("x"), col("e2.b").as("z"))
      .join(e.as("e3"), col("x") === col("e3.a") && col("z") === col("e3.b"))
      .agg(count(lit(1)).as("n_triangles"))

  /** Synchronous label propagation over the near-dup pair graph:
    * [[GraphRounds]] fixed rounds, each node adopting the most frequent label
    * among neighbors + self, ties by MIN label — deterministic, so the
    * DuckDB oracle replays the identical trajectory. Returns the final
    * (v, lbl) assignment (q_graph_labelprop aggregates it;
    * LabelPropSpec joins it against the CC labeling).
    *
    * Each round is one [[send]] over the doubled [[edgeFrame]] (edge
    * (a,b) votes lbl(a)→b and lbl(b)→a exactly once) plus the self
    * vote; the winner pick is a map-side-combinable MAX of (n, −lbl) —
    * the (count DESC, lbl ASC) argmax without a per-group sort. The
    * final assignment is session-memoized: q_graph_labelprop and
    * q_graph_modularity share one run of the rounds. */
  private[graft] def labelProp(s: SparkSession, d: String): DataFrame =
    graft.FrameCache.memo(s, s"labelprop:$d") {
      val nodes = degFrame(s, d).select(col("src").as("v"))
      (1 to GraphRounds).foldLeft(nodes.withColumn("lbl", col("v"))) { (lbl, _) =>
        val votes = send(edgeFrame(s, d), lbl).select(col("dst").as("v"), col("lbl"))
          .unionAll(lbl)
        // named struct fields keep the argmax robust to field order;
        // labels are doc_ids (non-negative), so the negation cannot
        // overflow
        graft.FrameCache.rebase(votes.groupBy("v", "lbl").agg(count(lit(1)).as("n"))
          .groupBy("v")
          .agg(max(struct(col("n").as("n"), (-col("lbl")).as("neg_lbl"))).as("top"))
          .selectExpr("v", "-top.neg_lbl AS lbl"))
      }
    }

  // ---- DuckDB twins of the graph kernels ------------------------------

  /** The verified-pair CTEs plus `name(src, dst[, w])` holding both
    * directions of every pair ([[edgeFrame]]'s twin); `w` is an
    * optional per-edge expression over (a, b), symmetric in a and b. */
  private def duckEdges(name: String = "edges", src: String = "src", dst: String = "dst",
                        w: String = ""): String = {
    val (wa, wb) = if (w.isEmpty) ("", "") else (s", $w AS w", s", $w")
    s"""${Dedup.duckVerifiedPairsCtes},
       |$name AS (SELECT a AS $src, b AS $dst$wa FROM verified
       |  UNION ALL SELECT b, a$wb FROM verified)""".stripMargin
  }

  /** The verified-pair CTEs plus the oriented pair list `e(a, b)`. */
  private def duckPairs: String =
    s"${Dedup.duckVerifiedPairsCtes},\ne AS (SELECT a, b FROM verified)"

  /** [[degFrame]]'s and the vertex set's twins over `edges`. */
  private val duckDeg = "deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)"
  private val duckNodes = "nodes AS (SELECT DISTINCT src AS v FROM edges)"

  /** Rounds of label propagation, and of every graph entry's CTE chain. */
  private val GraphRounds = 3

  /** The [[GraphRounds]] rounds of a graph entry's CTE chain, round i
    * built by `round(i)`. */
  private def duckRounds(round: Int => String): String =
    (1 to GraphRounds).map(round).mkString(",\n")

  /** [[rankSums]]'s twin: `name(v, …)` over the `prev(v, pr)` ranks,
    * where `sel` places the quantized contribution sum `q` it is given. */
  private def duckRankPass(name: String, prev: String, sel: String => String): String =
    s"""$name AS (SELECT dst AS v,
       |  ${sel("SUM(CAST(floor(pr / deg * 1000000000000) AS BIGINT))")}
       |  FROM edges JOIN $prev ON $prev.v = edges.src
       |  JOIN deg ON deg.src = edges.src
       |  GROUP BY dst)""".stripMargin

  /** [[relax]]'s twin, round i over `d{i-1}(v, dd)`: the frontier is
    * the rows settled at dd = i−1 (or every row), the step `f.dd + step`. */
  private def duckRelax(step: String, frontier: Boolean)(i: Int): String = {
    val on = if (frontier) s" AND f.dd = ${i - 1}" else ""
    s"""d$i AS (SELECT v, MIN(dd) AS dd FROM (
       |  SELECT v, dd FROM d${i - 1}
       |  UNION ALL
       |  SELECT e.dst, f.dd + $step FROM edges e
       |  JOIN d${i - 1} f ON f.v = e.src$on) GROUP BY v)""".stripMargin
  }

  /** [[triangleCount]]'s twin over `e(a, b)`: the select list and FROM
    * clause of the wedge-closing count. */
  private val duckTriangles =
    """COUNT(*) AS n_triangles
      |  FROM e e1 JOIN e e2 ON e1.b = e2.a
      |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin

  /** DuckDB twin of [[labelProp]], ending in `l3(v, lbl)` over the
    * verified-pair edges `e(a, b)`: every node starts as its own label,
    * then three vote+argmax rounds. */
  private def duckLabelPropCtes: String = {
    def round(i: Int): String = {
      val prev = s"l${i - 1}"
      s"""v$i AS (SELECT v, lbl, COUNT(*) AS n FROM (
         |  SELECT e.a AS v, l.lbl FROM e JOIN $prev l ON l.v = e.b
         |  UNION ALL SELECT e.b, l.lbl FROM e JOIN $prev l ON l.v = e.a
         |  UNION ALL SELECT v, lbl FROM $prev) GROUP BY v, lbl),
         |l$i AS (SELECT v, lbl FROM (
         |  SELECT v, lbl, ROW_NUMBER() OVER (PARTITION BY v
         |    ORDER BY n DESC, lbl) AS rk FROM v$i) WHERE rk = 1)""".stripMargin
    }
    s"""$duckPairs,
       |n0 AS (SELECT DISTINCT v FROM (
       |  SELECT a AS v FROM e UNION ALL SELECT b FROM e)),
       |l0 AS (SELECT v, v AS lbl FROM n0),
       |${duckRounds(round)}""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // Product-quantization codebook fit + code assignment, pinned
    // per-vector: the 4 subspace codes and the summed reconstruction
    // error (fixed addition order — IEEE-deterministic both sides).
    QueryDef(
      "q_pq_assign",
      (s, d) => pqAssign(s, d),
      Some(s"""WITH $duckPqCtes
              |SELECT vec_id, c0, c1, c2, c3, d0 + d1 + d2 + d3 AS sq_err
              |FROM fa0 JOIN fa1 USING (vec_id) JOIN fa2 USING (vec_id) JOIN fa3 USING (vec_id)
              |ORDER BY vec_id""".stripMargin)),

    // ADC search over the PQ codes: per-query nearest neighbor where
    // the database side is ONLY codes + a broadcast distance table.
    QueryDef(
      "q_pq_search",
      (s, d) => pqSearch(s, d),
      Some(s"""WITH $duckPqCtes,
              |$duckPqSearchCtes
              |SELECT q_id, vec_id AS nn_id, adist FROM adc WHERE rk = 1 ORDER BY q_id""".stripMargin),
      headline = false),

    // The composed IVF×PQ index: probe only your coarse cell, rank its
    // members by ADC over the codes — bounded candidates AND compressed
    // storage, the production vector-index shape. It reuses the codebook
    // fit q_pq_assign memoizes, so a session pays that fit once.
    QueryDef(
      "q_ivfpq",
      (s, d) => ivfPqSearch(s, d),
      Some(s"""WITH $duckPqCtes,
              |$duckPqCodesCte,
              |${duckPqDtabCtes(s"p.vec_id BETWEEN $IvfPqQLo AND $IvfPqQHi")},
              |${Similarity.duckCellCtes(IvfPqCells)},
              |ipq_cand AS (
              |  SELECT q.vec_id AS q_id, q.cell AS cell, c.vec_id AS vec_id
              |  FROM cells q JOIN cells c ON q.cell = c.cell AND q.vec_id <> c.vec_id
              |  WHERE q.vec_id BETWEEN $IvfPqQLo AND $IvfPqQHi),
              |ipq_scored AS (
              |  SELECT cand.q_id, cand.cell, cand.vec_id, qd0 + qd1 + qd2 + qd3 AS adist
              |  FROM ipq_cand cand
              |  JOIN codes USING (vec_id)
              |  JOIN dt0 ON dt0.q_id = cand.q_id AND c0 = qc0
              |  JOIN dt1 ON dt1.q_id = cand.q_id AND c1 = qc1
              |  JOIN dt2 ON dt2.q_id = cand.q_id AND c2 = qc2
              |  JOIN dt3 ON dt3.q_id = cand.q_id AND c3 = qc3)
              |SELECT q_id, cell, vec_id AS nn_id, adist FROM (
              |  SELECT q_id, cell, vec_id, adist,
              |         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rk
              |  FROM ipq_scored) WHERE rk = 1 ORDER BY q_id""".stripMargin)),

    // What the code compression costs, measured the way PQ is used: as
    // a CANDIDATE GENERATOR whose ADC top-R a reranker then rescores
    // exactly. One summary row: the true (full-vector) nearest
    // neighbor's mean rank in each query's ADC ordering, and how many
    // queries keep it inside the top-10/top-50 candidate set. Random
    // ordering would put the mean near N/2 (~250 here); the codes pull
    // it to the top — that concentration, not recall@1 (hopeless for
    // 256-byte-ish codes over near-random vectors), is the operative
    // quality knob. Untimed: a verify-gated recall measurement.
    QueryDef(
      "q_pq_recall",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val all = cachedPoints(s, d)
        val q = all.filter(col("vec_id") < PqQueries)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val c = all.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
        val wb = Window.partitionBy("q_id").orderBy(col("dist"), col("c_id"))
        val brute = c.join(broadcast(q), col("q_id") =!= col("c_id"))
          .selectExpr("q_id", "c_id",
            s"${sparkDot("q_emb", "q_emb")} + ${sparkDot("c_emb", "c_emb")} " +
              s"- 2 * ${sparkDot("q_emb", "c_emb")} AS dist")
          .withColumn("rk", row_number().over(wb))
          .filter(col("rk") === 1)
          .select(col("q_id"), col("c_id").as("true_nn"))
        val wa = Window.partitionBy("q_id").orderBy(col("adist"), col("vec_id"))
        val ranked = pqScores(s, d)
          .withColumn("adc_rank", row_number().over(wa))
        brute.join(ranked,
            brute("q_id") === ranked("q_id") && col("true_nn") === col("vec_id"))
          .drop(ranked("q_id"))
          .agg(count(lit(1)).as("n_queries"),
            sum(col("adc_rank")).cast("bigint").as("rank_sum"),
            sum(when(col("adc_rank") <= 10, 1L).otherwise(0L)).cast("bigint").as("n_top10"),
            sum(when(col("adc_rank") <= 50, 1L).otherwise(0L)).cast("bigint").as("n_top50"))
          .selectExpr("n_queries",
            "CAST(rank_sum AS DOUBLE) / n_queries AS mean_true_rank",
            "n_top10", "n_top50",
            "CAST(n_top50 AS DOUBLE) / n_queries AS recall_at_50")
      },
      Some(s"""WITH $duckPqCtes,
              |$duckPqSearchCtes,
              |brute AS (SELECT q_id, c_id AS true_nn FROM (
              |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
              |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
              |      ${duckDot("q.embedding", "q.embedding")} + ${duckDot("c.embedding", "c.embedding")}
              |        - 2 * ${duckDot("q.embedding", "c.embedding")}, c.vec_id) AS rk
              |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              |  WHERE q.vec_id < $PqQueries) WHERE rk = 1)
              |SELECT COUNT(*) AS n_queries,
              |  CAST(CAST(SUM(adc.rk) AS BIGINT) AS DOUBLE) / COUNT(*) AS mean_true_rank,
              |  CAST(SUM(CASE WHEN adc.rk <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_top10,
              |  CAST(SUM(CASE WHEN adc.rk <= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_top50,
              |  CAST(SUM(CASE WHEN adc.rk <= 50 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS recall_at_50
              |FROM brute JOIN adc ON adc.q_id = brute.q_id AND adc.vec_id = brute.true_nn""".stripMargin),
      headline = false),

    // k-means fit + final assignment, pinned per cluster: exact member
    // set (count + checksum) and the fitted centroid's quantized norm.
    QueryDef(
      "q_kmeans",
      (s, d) => kmeansAssign(s, d)
        .groupBy("cid")
        .agg(
          count(lit(1)).as("n"),
          sum(col("vec_id")).cast("bigint").as("vec_checksum"),
          first(expr(s"sqrt(${sparkDot("cent", "cent")})")).as("c_norm"))
        .orderBy("cid"),
      Some(s"""WITH $duckKmeansCtes
              |SELECT a.cid, COUNT(*) AS n, CAST(SUM(a.vec_id) AS BIGINT) AS vec_checksum,
              |  sqrt(${duckDot("c.cent", "c.cent")}) AS c_norm
              |FROM a${KmIters + 1} a JOIN c$KmIters c USING (cid)
              |GROUP BY a.cid, c.cent ORDER BY a.cid""".stripMargin)),

    // Simplified (centroid-based) silhouette over the k-means fit — the
    // cluster-quality diagnostic run after every fit: a = distance to
    // the own centroid, b = distance to the nearest OTHER centroid,
    // s = (b−a)/max(a,b) ∈ [−1, 1]. Centroid-based (not pairwise) is
    // the 100 TB form: K broadcast distances per point instead of the
    // O(n²) pairwise definition. Distances reuse the quantized-dot
    // discipline; the mean is an exact integer sum of floor(s·1e9) so
    // both engines publish identical doubles (the sqrt outputs are
    // arbitrary doubles — the Parity decimal cast's halfway caveat
    // applies, so floor-quantization is the safe path here).
    QueryDef(
      "q_kmeans_silhouette",
      (s, d) => {
        val pts = cachedPoints(s, d)
          .selectExpr("vec_id", "embedding", s"${sparkDot("embedding", "embedding")} AS pp")
        val assigned = kmeansAssign(s, d)
        val cents = assigned.select("cid", "cent").distinct()
        val dists = pts
          .join(assigned.select(col("vec_id"), col("cid").as("own")), "vec_id")
          .crossJoin(broadcast(cents.selectExpr(
            "cid AS ocid", "cent", s"${sparkDot("cent", "cent")} AS cc")))
          .selectExpr("vec_id", "own", "ocid",
            s"sqrt(greatest(CAST(0 AS DOUBLE), cc - 2 * ${sparkDot("embedding", "cent")} + pp)) AS dist")
        dists.groupBy("vec_id", "own")
          .agg(max(when(col("own") === col("ocid"), col("dist"))).as("a"),
            min(when(col("own") =!= col("ocid"), col("dist"))).as("b"))
          .selectExpr("own AS cid",
            "CAST(floor((b - a) / greatest(a, b) * 1000000000) AS BIGINT) AS sq")
          .groupBy("cid")
          .agg(count(lit(1)).as("n"),
            (sum(col("sq")).cast("double") / 1000000000.0 / count(lit(1)))
              .as("mean_sil"))
          .orderBy("cid")
      },
      Some(s"""WITH $duckKmeansCtes,
              |pp AS (SELECT vec_id, embedding,
              |    ${duckDot("embedding", "embedding")} AS pp FROM pts),
              |dd AS (SELECT f.vec_id, f.cid AS own, c.cid AS ocid,
              |    sqrt(greatest(CAST(0 AS DOUBLE),
              |      ${duckDot("c.cent", "c.cent")}
              |      - 2 * ${duckDot("p.embedding", "c.cent")} + p.pp)) AS dist
              |  FROM a${KmIters + 1} f JOIN pp p USING (vec_id) CROSS JOIN c$KmIters c),
              |per AS (SELECT vec_id, own,
              |    MAX(CASE WHEN own = ocid THEN dist END) AS a,
              |    MIN(CASE WHEN own <> ocid THEN dist END) AS b
              |  FROM dd GROUP BY vec_id, own)
              |SELECT own AS cid, COUNT(*) AS n,
              |  CAST(SUM(CAST(floor((b - a) / greatest(a, b) * 1000000000) AS BIGINT)) AS DOUBLE)
              |    / 1000000000 / COUNT(*) AS mean_sil
              |FROM per GROUP BY own ORDER BY cid""".stripMargin)),

    // INT8 embedding quantization stats — the storage-path compression
    // every 100 TB vector corpus applies before PQ/ANN: per-dimension
    // affine int8 (scale = (max−min)/255, zero-point = min), plus the
    // reconstruction error that tells you whether 4× compression is
    // free at your data's dynamic range. One posexplode pass → one
    // per-dim agg (64 groups); codes and errors are recomputed in a
    // second stateless pass against the BROADCAST per-dim params.
    // Determinism: min/max of floats are exact; the code round() is
    // HALF-away-from-zero on non-negative arguments in both engines;
    // the MSE sum is floor-quantized to integers (sqrt-free — the
    // Parity halfway caveat never applies).
    QueryDef(
      "q_emb_int8",
      (s, d) => {
        val dims = Tables.embeddings(s, d)
          .selectExpr("vec_id", "posexplode(embedding) AS (pos, v)")
          .selectExpr("vec_id", "pos", "CAST(v AS DOUBLE) AS v")
        val params = dims.groupBy("pos")
          .agg(min("v").as("vmin"), max("v").as("vmax"), count(lit(1)).as("n"))
          .withColumn("scale", (col("vmax") - col("vmin")) / 255.0)
        dims.join(broadcast(params), "pos")
          .selectExpr("pos", "vmin", "vmax", "scale", "n",
            "CASE WHEN scale = 0 THEN 0 ELSE CAST(round((v - vmin) / scale) AS INT) END AS code",
            "v")
          .selectExpr("pos", "vmin", "vmax", "scale", "n", "code",
            "v - (vmin + code * scale) AS err")
          .groupBy("pos")
          .agg(first(col("vmin")).as("vmin"), first(col("vmax")).as("vmax"),
            first(col("scale")).as("scale"),
            max(col("code")).as("max_code"),
            (sum(expr("CAST(floor(err * err * 1e12) AS BIGINT)")).cast("double")
              / 1e12 / first(col("n"))).as("mse"))
          .orderBy("pos")
      },
      Some("""WITH dims AS (
             |  SELECT vec_id, g.i - 1 AS pos, CAST(embedding[g.i] AS DOUBLE) AS v
             |  FROM embeddings CROSS JOIN generate_series(1, 64) AS g(i)),
             |params AS (SELECT pos, MIN(v) AS vmin, MAX(v) AS vmax,
             |    COUNT(*) AS n, (MAX(v) - MIN(v)) / 255.0 AS scale
             |  FROM dims GROUP BY pos),
             |coded AS (SELECT d.pos, vmin, vmax, scale, n,
             |    CASE WHEN scale = 0 THEN 0
             |         ELSE CAST(round((v - vmin) / scale) AS INT) END AS code,
             |    v
             |  FROM dims d JOIN params USING (pos))
             |SELECT pos, vmin, vmax, scale, CAST(MAX(code) AS INT) AS max_code,
             |  CAST(SUM(CAST(floor((v - (vmin + code * scale))
             |      * (v - (vmin + code * scale)) * 1e12) AS BIGINT)) AS DOUBLE)
             |    / 1e12 / MAX(n) AS mse
             |FROM coded GROUP BY pos, vmin, vmax, scale ORDER BY pos""".stripMargin)),

    // (labelProp is defined below the defs list; the final (v, lbl)
    // frame is also what LabelPropSpec joins against the CC labeling
    // to pin that every community refines a connected component.)
    // Label-propagation communities over the near-dup graph — the
    // community structure WITHIN components that connected components
    // can't see (CC fuses everything reachable; LPA converges to dense
    // neighborhoods). Synchronous LPA, 3 fixed rounds, fully
    // deterministic: each node adopts the most frequent label among its
    // neighbors plus itself, majority ties broken by MIN label — so
    // both engines replay the identical trajectory (the DuckDB oracle
    // chains one vote+argmax CTE pair per round). Scale shape per
    // round: one edge⋈label join each direction (keyed on the node) +
    // one keyed count — the pregel-style message pass as plain
    // relational ops; the label frame is checkpointed each round so
    // round r+1's plan starts from materialized rows, not a 3-deep
    // nested join tree (the k-means discipline).
    QueryDef(
      "q_graph_labelprop",
      (s, d) => labelProp(s, d).groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("size"),
          sum(col("v") * 7).cast("bigint").as("member_checksum"))
        .orderBy("community"),
      Some(
        s"""WITH $duckLabelPropCtes
           |SELECT lbl AS community, COUNT(*) AS size,
           |  CAST(SUM(v * 7) AS BIGINT) AS member_checksum
           |FROM l3 GROUP BY lbl ORDER BY community""".stripMargin)),

    // Newman modularity of the label-propagation communities — the
    // number that says whether q_graph_labelprop's partition actually
    // FOUND structure (Q near 0 = no better than random wiring; the
    // optimizer family — Louvain/Leiden — exists to maximize exactly
    // this). Q = Σ_c [e_c/m − (d_c/2m)²] over communities c, with e_c
    // the intra-community edge count, d_c the community degree sum, m
    // the edge count. Exactness: the whole sum stays one BIGINT —
    // Q = Σ_c (4·m·e_c − d_c²) / (4m²), every term ≤ 4m² ≈ 4e12 at
    // sf10 (the 100 TB promotion is DECIMAL(38,0)); ONE division at
    // the end. Scale shape: two keyed label joins on the memoized pair
    // relation + two keyed aggs; the per-community frame (≤ |labels|
    // rows) is the only thing that reaches the final fold.
    QueryDef(
      "q_graph_modularity",
      (s, d) => {
        val lbl = labelProp(s, d) // (v, lbl)
        val e = Dedup.minhashPairs(s, d).select("a", "b")
        val mm = e.agg(count(lit(1)).as("m"))
        val withLbl = e
          .join(lbl.selectExpr("v AS a", "lbl AS la").hint("shuffle_hash"), "a")
          .join(lbl.selectExpr("v AS b", "lbl AS lb").hint("shuffle_hash"), "b")
        val intra = withLbl.filter(col("la") === col("lb"))
          .groupBy(col("la").as("c")).agg(count(lit(1)).as("ec"))
        val dsum = degFrame(s, d).withColumnRenamed("src", "v")
          .join(lbl, "v")
          .groupBy(col("lbl").as("c")).agg(sum(col("deg")).cast("bigint").as("dc"))
        dsum.join(intra, Seq("c"), "left")
          .withColumn("ec", coalesce(col("ec"), lit(0L)))
          .crossJoin(broadcast(mm))
          .agg(count(lit(1)).as("n_communities"),
            max(col("m")).as("n_edges"),
            sum(lit(4L) * col("m") * col("ec") - col("dc") * col("dc"))
              .cast("bigint").as("q_num"))
          .selectExpr("n_communities", "n_edges", "q_num",
            "CAST(q_num AS DOUBLE) / (4.0 * n_edges * n_edges) AS modularity")
      },
      Some(
        s"""WITH $duckLabelPropCtes,
           |mm AS (SELECT COUNT(*) AS m FROM e),
           |intra AS (SELECT la.lbl AS c, COUNT(*) AS ec
           |  FROM e JOIN l3 la ON la.v = e.a JOIN l3 lb ON lb.v = e.b
           |  WHERE la.lbl = lb.lbl GROUP BY 1),
           |deg AS (SELECT v, COUNT(*) AS deg FROM (
           |  SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
           |dsum AS (SELECT l3.lbl AS c, CAST(SUM(deg) AS BIGINT) AS dc
           |  FROM deg JOIN l3 ON l3.v = deg.v GROUP BY 1),
           |per AS (SELECT dsum.c, COALESCE(ec, 0) AS ec, dc
           |  FROM dsum LEFT JOIN intra ON intra.c = dsum.c),
           |agg AS (SELECT COUNT(*) AS n_communities,
           |    CAST(MAX(m) AS BIGINT) AS n_edges,
           |    CAST(SUM(4 * m * ec - dc * dc) AS BIGINT) AS q_num
           |  FROM per, mm)
           |SELECT n_communities, n_edges, q_num,
           |  CAST(q_num AS DOUBLE) / (4.0 * n_edges * n_edges) AS modularity
           |FROM agg""".stripMargin)),

    // Triangle count over the near-dup graph — the clustering-coefficient
    // numerator (how clique-like the duplication neighborhoods are; for
    // exact-copy groups the verified-pair graph is a clique, so the
    // count also sanity-checks pair completeness). Orienting every edge
    // a < b makes each triangle a < b < c appear exactly once as
    // (a,b)(b,c)(a,c): two keyed equi-joins on an edge list — no
    // per-vertex adjacency ever materializes, which is the 100 TB shape
    // (the standard join-based triangle enumeration).
    QueryDef(
      "q_graph_triangles",
      (s, d) => {
        val e = Dedup.minhashPairs(s, d).select("a", "b")
        triangleCount(e)
          .crossJoin(e.agg(count(lit(1)).as("n_edges")))
          .select("n_edges", "n_triangles")
      },
      Some(s"""WITH $duckPairs
              |SELECT (SELECT COUNT(*) FROM e) AS n_edges,
              |  $duckTriangles""".stripMargin),
      headline = false),

    // Global clustering coefficient (transitivity) — the triangle
    // count's denominator: C = 3·triangles / wedges, where the wedge
    // count needs only the DEGREE distribution (Σ deg·(deg−1)/2 over
    // the undirected graph — one keyed agg over the doubled edge list,
    // no path enumeration). Everything is exact integer arithmetic
    // until the single final division (deg·(deg−1) is even, so the
    // halving stays integer — both engines use integer division).
    QueryDef(
      "q_graph_clustercoef",
      (s, d) => {
        val wedges = degFrame(s, d).agg(
          sum(expr("deg * (deg - 1) DIV 2")).cast("bigint").as("n_wedges"),
          count(lit(1)).as("n_vertices"))
        wedges.crossJoin(triangleCount(Dedup.minhashPairs(s, d).select("a", "b")))
          .selectExpr("n_vertices", "n_wedges", "n_triangles",
            "CASE WHEN n_wedges = 0 THEN CAST(0.0 AS DOUBLE) " +
              "ELSE CAST(3.0 AS DOUBLE) * n_triangles / n_wedges END AS transitivity")
      },
      Some(s"""WITH $duckPairs,
              |deg AS (SELECT v, COUNT(*) AS deg FROM (
              |  SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY v),
              |w AS (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges,
              |             COUNT(*) AS n_vertices FROM deg),
              |t AS (SELECT $duckTriangles)
              |SELECT n_vertices, n_wedges, n_triangles,
              |  CASE WHEN n_wedges = 0 THEN CAST(0.0 AS DOUBLE)
              |       ELSE CAST(3.0 AS DOUBLE) * n_triangles / n_wedges END AS transitivity
              |FROM w CROSS JOIN t""".stripMargin),
      headline = false),

    // PageRank (3 unrolled damped iterations) over the near-dup graph —
    // "which documents sit at the center of a duplication cluster". Each
    // iteration is one [[rankSums]] pass (keyed join + combinable sum of
    // floor-quantized contributions, so partial-sum order can't shift a
    // bit). Top 20 by (rank, id) pins the head exactly.
    QueryDef(
      "q_graph_pagerank",
      (s, d) => {
        val edges = edgeFrame(s, d)
        val deg = degFrame(s, d)
        val pr = (1 to 3).foldLeft(deg.select(col("src").as("v"), lit(1.0).as("pr"))) { (pr, _) =>
          rankSums(edges, deg, pr).select(col("v"),
            (lit(0.15) + lit(0.85) * (col("q").cast("double") / 1000000000000.0)).as("pr"))
        }
        pr.join(deg.withColumnRenamed("src", "v"), "v")
          .orderBy(col("pr").desc, col("v"))
          .limit(20)
          .select("v", "deg", "pr")
      },
      Some(s"""WITH ${duckEdges()},
              |$duckDeg,
              |p0 AS (SELECT src AS v, CAST(1.0 AS DOUBLE) AS pr FROM deg),
              |${duckRounds(i => duckRankPass(s"p$i", s"p${i - 1}",
                  q => s"0.15 + 0.85 * (CAST($q AS DOUBLE) / 1000000000000) AS pr"))}
              |SELECT p3.v, deg.deg, p3.pr FROM p3 JOIN deg ON deg.src = p3.v
              |ORDER BY p3.pr DESC, p3.v LIMIT 20""".stripMargin),
      headline = false),

    // Personalized PageRank — random walk with restart to a SEED SET
    // (the 4 smallest graph nodes): "what is near MY documents" rather
    // than global centrality; the similarity-expansion primitive
    // recommendation and related-content passes run. Same quantized
    // [[rankSums]] pass as q_graph_pagerank, but the rank frame is
    // rebuilt over ALL nodes each round (left joins against the node
    // frame) so seeds keep their restart mass even with no in-edges and
    // the trajectory is total — both engines replay it CTE-for-CTE.
    QueryDef(
      "q_graph_ppr",
      (s, d) => {
        val edges = edgeFrame(s, d)
        val deg = degFrame(s, d)
        val nodes = deg.select(col("src").as("v"))
        val seeds = nodes.orderBy("v").limit(4)
          .select(col("v"), lit(0.25).as("r"))
        val restart = nodes.join(seeds, Seq("v"), "left_outer")
        val pr = (1 to 3).foldLeft(
            restart.selectExpr("v", "coalesce(r, CAST(0.0 AS DOUBLE)) AS pr")) { (pr, _) =>
          restart.join(rankSums(edges, deg, pr), Seq("v"), "left_outer")
            .selectExpr("v",
              "0.15 * coalesce(r, CAST(0.0 AS DOUBLE)) " +
                "+ 0.85 * (CAST(coalesce(q, CAST(0 AS BIGINT)) AS DOUBLE) / 1000000000000) AS pr")
        }
        pr.join(seeds.select(col("v"), lit(1).as("is_seed")), Seq("v"), "left_outer")
          .selectExpr("v", "coalesce(is_seed, 0) AS is_seed", "pr")
          .orderBy(col("pr").desc, col("v"))
          .limit(20)
      }, {
        def iter(i: Int): String =
          s"""${duckRankPass(s"t$i", s"p${i - 1}", q => s"CAST($q AS BIGINT) AS q")},
             |p$i AS (SELECT n.v,
             |    0.15 * COALESCE(s.r, 0.0)
             |    + 0.85 * (CAST(COALESCE(t$i.q, 0) AS DOUBLE) / 1000000000000) AS pr
             |  FROM nodes n LEFT JOIN seeds s ON s.v = n.v
             |  LEFT JOIN t$i ON t$i.v = n.v)""".stripMargin
        Some(s"""WITH ${duckEdges()},
                |$duckDeg,
                |nodes AS (SELECT src AS v FROM deg),
                |seeds AS (SELECT v, CAST(0.25 AS DOUBLE) AS r FROM
                |  (SELECT v FROM nodes ORDER BY v LIMIT 4)),
                |p0 AS (SELECT n.v, COALESCE(s.r, 0.0) AS pr
                |  FROM nodes n LEFT JOIN seeds s ON s.v = n.v),
                |${duckRounds(iter)}
                |SELECT p3.v, CAST(CASE WHEN s.v IS NULL THEN 0 ELSE 1 END AS INT) AS is_seed,
                |  p3.pr
                |FROM p3 LEFT JOIN seeds s ON s.v = p3.v
                |ORDER BY p3.pr DESC, p3.v LIMIT 20""".stripMargin)
      }),

    // Multi-source BFS: hop distance from a SEED SET (every 10th graph
    // node) within 3 hops over the near-dup pair graph — the
    // blast-radius primitive ("which documents sit within k hops of a
    // known-bad set"). BFS over unit edges settles level by level, so
    // round i only expands the frontier that settled at distance i−1:
    // each round is one [[relax]] (edges ⋈ frontier + keyed MIN) — the
    // pregel message pass as relational ops, distances are small exact
    // integers, and the trajectory replays CTE-for-CTE in the oracle.
    // Deliverable: the hop histogram with membership checksums; hops =
    // −1 is the unreachable remainder.
    QueryDef(
      "q_graph_bfs",
      (s, d) => {
        val edges = edgeFrame(s, d)
        val nodes = degFrame(s, d).select(col("src").as("v"))
        val dist = (1 to 3).foldLeft(
            nodes.filter(col("v") % 10 === 0).select(col("v"), lit(0L).as("dd"))) {
          (dist, i) => relax(edges, dist, col("dd") === (i - 1).toLong, lit(i.toLong))
        }
        nodes.join(dist, Seq("v"), "left_outer")
          .selectExpr("v", "CAST(coalesce(dd, -1) AS BIGINT) AS hops")
          .groupBy("hops")
          .agg(count(lit(1)).as("n_vertices"),
            sum(col("v") * 7).cast("bigint").as("member_checksum"))
          .orderBy("hops")
      },
      Some(s"""WITH ${duckEdges()},
              |$duckNodes,
              |d0 AS (SELECT v, CAST(0 AS BIGINT) AS dd FROM nodes WHERE v % 10 = 0),
              |${duckRounds(duckRelax("1", frontier = true))}
              |SELECT CAST(COALESCE(d3.dd, -1) AS BIGINT) AS hops,
              |  COUNT(*) AS n_vertices,
              |  CAST(SUM(nodes.v * 7) AS BIGINT) AS member_checksum
              |FROM nodes LEFT JOIN d3 ON d3.v = nodes.v
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Weighted single-source shortest paths (3 Bellman-Ford relaxation
    // rounds) from the smallest graph node, deterministic integer edge
    // weights w = (a+b) % 10 + 1. Unlike BFS, weighted distances can
    // IMPROVE after first discovery, so every round relaxes the FULL
    // settled set (dist ∪ dist+edge, keyed MIN) rather than a frontier
    // — the same [[relax]] with an always-true frontier, the standard
    // distributed Bellman-Ford step, exactly replayable as chained
    // CTEs. Top-20 nearest by (distance, node) pins the head.
    QueryDef(
      "q_graph_sssp",
      (s, d) => {
        // the weight is symmetric in (src, dst), so it derives from the
        // shared undirected relation directly
        val edges = edgeFrame(s, d)
          .selectExpr("src", "dst", "(src + dst) % 10 + 1 AS w")
        val nodes = degFrame(s, d).select(col("src").as("v"))
        (1 to 3).foldLeft(nodes.orderBy("v").limit(1).select(col("v"), lit(0L).as("dd"))) {
          (dist, _) => relax(edges, dist, lit(true), col("dd") + col("w"))
        }.orderBy(col("dd"), col("v")).limit(20)
      },
      Some(s"""WITH ${duckEdges(w = "(a + b) % 10 + 1")},
              |$duckNodes,
              |d0 AS (SELECT v, CAST(0 AS BIGINT) AS dd
              |       FROM (SELECT v FROM nodes ORDER BY v LIMIT 1)),
              |${duckRounds(duckRelax("e.w", frontier = false))}
              |SELECT v, CAST(dd AS BIGINT) AS dd FROM d3
              |ORDER BY dd, v LIMIT 20""".stripMargin)),

    // k-core decomposition (k = 3, 3 peeling rounds): iteratively strip
    // nodes with degree < 3 until (up to the round bound) only the
    // dense core survives — the standard "where is the graph actually
    // dense" reduction that bounds clique search and flags cohesive
    // duplication families beyond what the raw triangle count shows.
    // Each round is one keyed degree agg + two semi-style joins that
    // keep edges whose BOTH endpoints survive, re-based so round r+1
    // starts from materialized rows (the labelProp discipline).
    // Output: the surviving core's node/edge counts + node checksum.
    QueryDef(
      "q_graph_kcore",
      (s, d) => {
        val edges = (1 to 3).foldLeft(edgeFrame(s, d)) { (edges, _) =>
          val keep = edges.groupBy("src").agg(count(lit(1)).as("deg"))
            .filter(col("deg") >= 3).select("src")
          graft.FrameCache.rebase(edges
            .join(keep, "src")
            .join(keep.withColumnRenamed("src", "dst"), "dst")
            .select("src", "dst"))
        }
        val nodes = edges.select(col("src").as("v")).distinct()
        nodes.agg(count(lit(1)).as("n_core_nodes"),
            sum(col("v") * 7).cast("bigint").as("core_checksum"))
          .crossJoin(edges.agg(expr("CAST(count(1) DIV 2 AS BIGINT) AS n_core_edges")))
          .select("n_core_nodes", "n_core_edges", "core_checksum")
      }, {
        def round(i: Int): String =
          s"""keep$i AS (SELECT src FROM (
             |  SELECT src, COUNT(*) AS deg FROM e${i - 1} GROUP BY src)
             |  WHERE deg >= 3),
             |e$i AS (SELECT e.src, e.dst FROM e${i - 1} e
             |  JOIN keep$i ka ON ka.src = e.src
             |  JOIN keep$i kb ON kb.src = e.dst)""".stripMargin
        Some(s"""WITH ${duckEdges("e0")},
                |${duckRounds(round)},
                |n AS (SELECT DISTINCT src AS v FROM e3)
                |SELECT (SELECT COUNT(*) FROM n) AS n_core_nodes,
                |  (SELECT COUNT(*) // 2 FROM e3) AS n_core_edges,
                |  (SELECT CAST(SUM(v * 7) AS BIGINT) FROM n) AS core_checksum""".stripMargin)
      }),

    // Cluster assignment: every near-duplicated document with its
    // component representative (min doc_id) and the component size.
    QueryDef(
      "q_dedup_cc",
      (s, d) => {
        val cc = connectedComponents(Dedup.minhashPairs(s, d).select("a", "b"))
        val sizes = cc.groupBy("lab").agg(count(lit(1)).as("cluster_size"))
        cc.join(sizes, "lab")
          .selectExpr("v AS doc_id", "lab AS cluster", "cluster_size")
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $duckCcCtes,
              |sizes AS (SELECT cluster, COUNT(*) AS cluster_size FROM cc GROUP BY cluster)
              |SELECT cc.v AS doc_id, cc.cluster AS cluster, sizes.cluster_size
              |FROM cc JOIN sizes ON cc.cluster = sizes.cluster
              |ORDER BY doc_id""".stripMargin)),

    // Corpus-level dedup outcome: keep one representative per component
    // plus every unclustered document; report how much survives. The
    // kept-id checksum pins the exact survivor SET, not just its size.
    QueryDef(
      "q_dedup_survivors",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id")
        val cc = connectedComponents(Dedup.minhashPairs(s, d).select("a", "b"))
        val removed = cc.filter(col("v") =!= col("lab")).select(col("v").as("doc_id"))
        docs.join(removed, Seq("doc_id"), "left_anti")
          .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).cast("bigint").as("kept_checksum"))
          .crossJoin(docs.agg(count(lit(1)).as("n_total")))
          .selectExpr("n_total", "n_kept", "n_total - n_kept AS n_removed", "kept_checksum")
      },
      Some(s"""WITH RECURSIVE $duckCcCtes,
              |removed AS (SELECT v AS doc_id FROM cc WHERE v <> cluster),
              |kept AS (SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM removed))
              |SELECT (SELECT COUNT(*) FROM documents) AS n_total,
              |       COUNT(*) AS n_kept,
              |       (SELECT COUNT(*) FROM documents) - COUNT(*) AS n_removed,
              |       CAST(SUM(doc_id) AS BIGINT) AS kept_checksum
              |FROM kept""".stripMargin),
      headline = false),

    // Dedup impact report, per source — the accounting table a corpus
    // owner signs off on before a dedup pass ships: how many documents
    // and tokens each source loses, and its loss rate. One left join of
    // the doc frame against the removed set (both already computed by
    // the dedup family's memoized relations — no new expensive stage),
    // one keyed aggregate. The loss RATE is a single int/int division.
    QueryDef(
      "q_corpus_dedup_report",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .selectExpr("doc_id", "source", "size(split(text, ' ')) AS n_tok")
        val cc = connectedComponents(Dedup.minhashPairs(s, d).select("a", "b"))
        val removed = cc.filter(col("v") =!= col("lab"))
          .select(col("v").as("doc_id"), lit(1L).as("rm"))
        docs.join(removed, Seq("doc_id"), "left_outer")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(coalesce(col("rm"), lit(0L))).cast("bigint").as("n_removed"),
            sum(col("n_tok")).cast("bigint").as("n_toks"),
            sum(coalesce(col("rm"), lit(0L)) * col("n_tok")).cast("bigint").as("toks_removed"))
          .selectExpr("source", "n_docs", "n_removed", "n_toks", "toks_removed",
            "CAST(toks_removed AS DOUBLE) / n_toks AS tok_loss_rate")
          .orderBy("source")
      },
      Some(s"""WITH RECURSIVE $duckCcCtes,
              |removed AS (SELECT v AS doc_id FROM cc WHERE v <> cluster),
              |j AS (
              |  SELECT d.source, len(string_split(d.text, ' ')) AS n_tok,
              |    CASE WHEN r.doc_id IS NULL THEN 0 ELSE 1 END AS rm
              |  FROM documents d LEFT JOIN removed r ON r.doc_id = d.doc_id)
              |SELECT source, COUNT(*) AS n_docs,
              |  CAST(SUM(rm) AS BIGINT) AS n_removed,
              |  CAST(SUM(n_tok) AS BIGINT) AS n_toks,
              |  CAST(SUM(rm * n_tok) AS BIGINT) AS toks_removed,
              |  CAST(SUM(rm * n_tok) AS DOUBLE) / SUM(n_tok) AS tok_loss_rate
              |FROM j GROUP BY source ORDER BY source""".stripMargin)),

    // Link prediction over the near-dup graph: common-neighbors count
    // and Adamic-Adar score for every NON-adjacent pair that shares at
    // least one neighbor — "which documents will probably turn out to
    // be duplicates next" (and, on a social graph, the
    // people-you-may-know primitive). The 2-path enumeration joins the
    // neighbor relation with itself ON THE MIDDLE VERTEX, so the
    // quadratic term is per-vertex degree² — the standard distributed
    // shape whose 100 TB knob is degree-capping/salting the few hub
    // vertices (this graph's max degree is single-digit). Adamic-Adar
    // downweights hub witnesses by 1/ln(deg); each witness's weight is
    // quantized to integer micros BEFORE the sum (ln of an INTEGER
    // degree ≥ 2 — a common neighbor of a non-edge always has two
    // distinct neighbors), so the score sum is an exact BIGINT.
    QueryDef(
      "q_graph_linkpred",
      (s, d) => {
        val pairs = Dedup.minhashPairs(s, d).select("a", "b")
        val nbr = edgeFrame(s, d)
          .select(col("src").as("z"), col("dst").as("v"))
        // deg >= 2: a witness with one neighbor can never complete a
        // (pa < pb) pair, so the filter is output-identical — and it
        // keeps ln(deg)=0 (deg=1) out of the w_micro division, which
        // ANSI mode rejects when the plan evaluates the projection on
        // rows the pair join would later drop.
        val deg = degFrame(s, d).withColumnRenamed("src", "z")
          .filter(col("deg") >= 2)
        val wtd = nbr.join(deg, "z")
          .withColumn("w_micro",
            expr("CAST(round(1000000.0 / ln(CAST(deg AS DOUBLE))) AS BIGINT)"))
        val cand = wtd.select(col("z"), col("v").as("pa"), col("w_micro"))
          .join(wtd.select(col("z").as("z2"), col("v").as("pb")),
            col("z") === col("z2") && col("pa") < col("pb"))
          .groupBy("pa", "pb")
          .agg(count(lit(1)).as("common_nbrs"), sum(col("w_micro")).as("aa_micro"))
        // adjacent pairs stay in the output flagged is_edge=1 (in a
        // near-clique graph every 2-path may close — the non-adjacent
        // subset alone can be legitimately empty at small SF); the
        // PREDICTIONS are the is_edge=0 rows, ranked first.
        cand.join(pairs.selectExpr("least(a, b) AS pa", "greatest(a, b) AS pb")
              .withColumn("is_edge", lit(1)),
            Seq("pa", "pb"), "left")
          .withColumn("is_edge", coalesce(col("is_edge"), lit(0)))
          .orderBy(col("is_edge"), col("aa_micro").desc, col("pa"), col("pb"))
          .limit(20)
      },
      Some(s"""WITH ${duckEdges("nbr", "z", "v")},
              |deg AS (SELECT z, COUNT(*) AS deg FROM nbr GROUP BY 1),
              |wtd AS (
              |  SELECT nbr.z, nbr.v,
              |    CAST(round(1000000.0 / ln(CAST(deg AS DOUBLE))) AS BIGINT) AS w_micro
              |  FROM nbr JOIN deg ON deg.z = nbr.z),
              |cand AS (
              |  SELECT x.v AS pa, y.v AS pb, COUNT(*) AS common_nbrs,
              |    CAST(SUM(x.w_micro) AS BIGINT) AS aa_micro
              |  FROM wtd x JOIN wtd y ON x.z = y.z AND x.v < y.v
              |  GROUP BY 1, 2),
              |edges AS (SELECT LEAST(a, b) AS pa, GREATEST(a, b) AS pb FROM verified)
              |SELECT cand.pa, cand.pb, common_nbrs, aa_micro,
              |  CASE WHEN e.pa IS NULL THEN 0 ELSE 1 END AS is_edge
              |FROM cand LEFT JOIN edges e ON e.pa = cand.pa AND e.pb = cand.pb
              |ORDER BY is_edge, aa_micro DESC, cand.pa, cand.pb LIMIT 20""".stripMargin)),

    // Closed-form 2-D PCA per label over the first two embedding
    // coordinates: eigenvalues of the 2×2 scatter matrix and the
    // explained-variance ratio — the "is this cluster elongated or
    // round" read, and the 2-D core of the whitening transform. The
    // five moment sums are exact BIGINTs on the milli-quantized grid
    // (ONE distributed agg pass, map-side combinable); the scatter
    // entries A = n·Σaa − (Σa)² etc. and the quadratic-formula
    // eigenvalues then run in DOUBLE (A² would overflow BIGINT) —
    // the identical expression tree over identical integers, so
    // +,−,×,/ and sqrt stay bit-equal cross-engine. State per label
    // is six numbers: this runs at any scale the agg runs.
    QueryDef(
      "q_pca_2d",
      (s, d) => Tables.embeddings(s, d)
        .selectExpr("label",
          "CAST(floor(CAST(element_at(embedding, 1) AS DOUBLE) * 1000) AS BIGINT) AS a",
          "CAST(floor(CAST(element_at(embedding, 2) AS DOUBLE) * 1000) AS BIGINT) AS b")
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          sum(col("a")).as("sa"), sum(col("b")).as("sb"),
          sum(col("a") * col("a")).as("saa"),
          sum(col("b") * col("b")).as("sbb"),
          sum(col("a") * col("b")).as("sab"))
        .selectExpr("label", "n",
          "CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa AS va",
          "CAST(n AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb AS vb",
          "CAST(n AS DOUBLE) * sab - CAST(sa AS DOUBLE) * sb AS cab")
        .selectExpr("label", "n", "va", "vb", "cab",
          "sqrt((va - vb) * (va - vb) + CAST(4 AS DOUBLE) * cab * cab) AS disc")
        .selectExpr("label", "n",
          "(va + vb + disc) / CAST(2 AS DOUBLE) AS lam1",
          "(va + vb - disc) / CAST(2 AS DOUBLE) AS lam2",
          "(va + vb + disc) / (CAST(2 AS DOUBLE) * (va + vb)) AS var_ratio")
        .orderBy("label"),
      Some("""WITH q AS (
             |  SELECT label,
             |    CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT) AS a,
             |    CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000) AS BIGINT) AS b
             |  FROM embeddings),
             |mo AS (
             |  SELECT label, COUNT(*) AS n,
             |    CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
             |    CAST(SUM(a * a) AS BIGINT) AS saa, CAST(SUM(b * b) AS BIGINT) AS sbb,
             |    CAST(SUM(a * b) AS BIGINT) AS sab
             |  FROM q GROUP BY 1),
             |sc AS (
             |  SELECT label, n,
             |    CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa AS va,
             |    CAST(n AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb AS vb,
             |    CAST(n AS DOUBLE) * sab - CAST(sa AS DOUBLE) * sb AS cab
             |  FROM mo),
             |ds AS (
             |  SELECT label, n, va, vb, cab,
             |    sqrt((va - vb) * (va - vb) + CAST(4 AS DOUBLE) * cab * cab) AS disc
             |  FROM sc)
             |SELECT label, n,
             |  (va + vb + disc) / CAST(2 AS DOUBLE) AS lam1,
             |  (va + vb - disc) / CAST(2 AS DOUBLE) AS lam2,
             |  (va + vb + disc) / (CAST(2 AS DOUBLE) * (va + vb)) AS var_ratio
             |FROM ds ORDER BY label""".stripMargin)),

    // Degree assortativity: Pearson correlation of endpoint degrees
    // over the directed edge list — "do hubs link to hubs" (r > 0,
    // social-network-like) or to leaves (r < 0, star/hub-and-spoke),
    // which predicts how duplication cascades through transitive
    // closure. Degrees are integer counts joined onto each edge (two
    // keyed joins against the degree relation — at scale the degree
    // frame is vertex-sized, edges shuffle by endpoint, nothing is
    // quadratic); the five moments are exact BIGINTs and r is one
    // float expression over them.
    QueryDef(
      "q_graph_assortativity",
      (s, d) => {
        val edges = edgeFrame(s, d)
          .select(col("src").as("a"), col("dst").as("b"))
        val deg = degFrame(s, d).withColumnRenamed("src", "a")
        edges
          .join(deg.select(col("a"), col("deg").as("dx")), "a")
          .join(deg.select(col("a").as("b"), col("deg").as("dy")), "b")
          .agg(count(lit(1)).as("n_edges"),
            sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
            sum(col("dx") * col("dy")).as("sxy"),
            sum(col("dx") * col("dx")).as("sxx"),
            sum(col("dy") * col("dy")).as("syy"))
          .selectExpr("n_edges",
            """CASE WHEN n_edges * sxx - sx * sx > 0 AND n_edges * syy - sy * sy > 0
              |  THEN (CAST(n_edges AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
              |    / (sqrt(CAST(n_edges AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
              |       * sqrt(CAST(n_edges AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
              |END AS assortativity""".stripMargin)
      },
      Some(s"""WITH ${Dedup.duckVerifiedPairsCtes},
              |edges AS (SELECT a, b FROM verified
              |          UNION ALL SELECT b, a FROM verified),
              |deg AS (SELECT a, COUNT(*) AS deg FROM edges GROUP BY 1),
              |m AS (
              |  SELECT COUNT(*) AS n_edges,
              |    CAST(SUM(x.deg) AS BIGINT) AS sx, CAST(SUM(y.deg) AS BIGINT) AS sy,
              |    CAST(SUM(x.deg * y.deg) AS BIGINT) AS sxy,
              |    CAST(SUM(x.deg * x.deg) AS BIGINT) AS sxx,
              |    CAST(SUM(y.deg * y.deg) AS BIGINT) AS syy
              |  FROM edges e JOIN deg x ON x.a = e.a JOIN deg y ON y.a = e.b)
              |SELECT n_edges,
              |  CASE WHEN n_edges * sxx - sx * sx > 0 AND n_edges * syy - sy * sy > 0
              |    THEN (CAST(n_edges AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
              |      / (sqrt(CAST(n_edges AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
              |         * sqrt(CAST(n_edges AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
              |  END AS assortativity
              |FROM m""".stripMargin)),

    // Grid-accelerated DBSCAN (ε = 8, minPts = 4) over a deterministic
    // 2-D scatter (16 jittered cluster boxes derived from customer
    // keys): density clustering, the class k-means can't express
    // (k-means forces convex cells and a fixed k; DBSCAN finds the
    // component structure and labels sparse points NOISE). Fully
    // deterministic variant so DuckDB can replay it: core = ≥ minPts
    // points within ε INCLUDING self; clusters = connected components
    // of the core-core ε-graph labeled by min core id (the shared
    // [[connectedComponents]] two-regime machinery); border points
    // join the MIN label among their ε-reachable cores (plain DBSCAN
    // leaves border assignment scan-order-dependent — min-label is the
    // deterministic refinement); everything else is noise (cluster
    // −1). Scale shape: candidate pairs come from a 3×3 neighbor-cell
    // equi-join at cell size = ε (the q_join_spatial layout — each
    // qualifying pair is generated exactly once per direction, no
    // quadratic pass), and point count is COUNT-gated to ≤ 8k via a
    // data-derived modulus BOTH engines compute, so the pair relation
    // is bounded at any sf. The oracle's CC twin is a recursive CTE.
    QueryDef(
      "q_dbscan_grid",
      (s, d) => {
        val tot = Tables.customer(s, d).agg(count(lit(1)).as("n_tot"))
        val pts = Tables.customer(s, d)
          .crossJoin(broadcast(tot))
          .filter(expr("c_custkey % ((n_tot + 7999) DIV 8000) = 0"))
          .selectExpr("c_custkey AS id",
            // md5 jitter, one independent seed per axis — a linear-
            // congruential jitter correlates x with y (points collapse
            // onto a 1-D lattice inside each box and the class mix
            // degenerates); the hash scatter is genuinely 2-D
            s"CAST((c_custkey % 16) % 4 * 250 + 125 + (${graft.functions.TextAnalysis.tokHash("concat('dx:', CAST(c_custkey AS STRING))")} % 61) - 30 AS BIGINT) AS x",
            s"CAST((c_custkey % 16) DIV 4 * 250 + 125 + (${graft.functions.TextAnalysis.tokHash("concat('dy:', CAST(c_custkey AS STRING))")} % 61) - 30 AS BIGINT) AS y")
          .localCheckpoint(true)
        val probe = pts.selectExpr("id AS b_id", "x AS bx", "y AS by")
          .selectExpr("b_id", "bx", "by",
            """explode(flatten(transform(sequence(-1, 1), dx ->
              |  transform(sequence(-1, 1), dy ->
              |    ((bx DIV 8) + dx) * 1000 + ((by DIV 8) + dy))))) AS cell""".stripMargin)
        val nb = pts.withColumn("cell", expr("(x DIV 8) * 1000 + (y DIV 8)"))
          .join(probe.hint("shuffle_hash"), "cell")
          .filter(col("id") =!= col("b_id") &&
            expr("(x - bx) * (x - bx) + (y - by) * (y - by) <= 64"))
          .select(col("id").as("a"), col("b_id").as("b"))
          .localCheckpoint(true) // consumed by cores, edges, and border
        val cores = nb.groupBy("a").agg(count(lit(1)).as("nnb"))
          .filter(col("nnb") + 1 >= 4).select(col("a").as("id"))
          .localCheckpoint(true)
        val coreEdges = nb.filter(col("a") < col("b"))
          .join(cores.selectExpr("id AS a").hint("shuffle_hash"), "a")
          .join(cores.selectExpr("id AS b").hint("shuffle_hash"), "b")
          .select("a", "b")
        val cc = connectedComponents(coreEdges) // (v, lab)
        // isolated cores (no core neighbor) are singleton clusters
        val coreLabel = cores
          .join(cc.withColumnRenamed("v", "id"), Seq("id"), "left")
          .selectExpr("id", "coalesce(lab, id) AS cluster")
          .localCheckpoint(true)
        val border = nb
          .join(cores.selectExpr("id AS a"), Seq("a"), "left_anti")
          .join(coreLabel.selectExpr("id AS b", "cluster"), "b")
          .groupBy(col("a").as("id")).agg(min(col("cluster")).as("cluster"))
        val labeled = coreLabel.selectExpr("id", "cluster", "'core' AS role")
          .unionByName(border.selectExpr("id", "cluster", "'border' AS role"))
          .localCheckpoint(true)
        val noise = pts.select("id")
          .join(labeled.select("id"), Seq("id"), "left_anti")
        labeled.groupBy("cluster")
          .agg(count(lit(1)).as("n_points"),
            sum(when(col("role") === "core", 1L).otherwise(0L)).as("n_core"),
            sum(when(col("role") === "border", 1L).otherwise(0L)).as("n_border"),
            sum(col("id") * 7).as("member_checksum"))
          .unionByName(noise
            .select(lit(-1L).as("cluster"), col("id"))
            .groupBy("cluster")
            .agg(count(lit(1)).as("n_points"),
              sum(lit(0L)).as("n_core"), sum(lit(0L)).as("n_border"),
              sum(col("id") * 7).as("member_checksum")))
          .selectExpr("cluster", "n_points", "n_core", "n_border",
            "CAST(member_checksum AS BIGINT) AS member_checksum")
          .orderBy("cluster")
      },
      Some(s"""WITH RECURSIVE tot AS (SELECT COUNT(*) AS n_tot FROM customer),
             |pts AS (
             |  SELECT c_custkey AS id,
             |    CAST((c_custkey % 16) % 4 * 250 + 125 + (${graft.functions.TextAnalysis.duckTokHash("'dx:' || CAST(c_custkey AS VARCHAR)")} % 61) - 30 AS BIGINT) AS x,
             |    CAST((c_custkey % 16) // 4 * 250 + 125 + (${graft.functions.TextAnalysis.duckTokHash("'dy:' || CAST(c_custkey AS VARCHAR)")} % 61) - 30 AS BIGINT) AS y
             |  FROM customer, tot WHERE c_custkey % ((n_tot + 7999) // 8000) = 0),
             |nb AS (
             |  SELECT p.id AS a, q.id AS b
             |  FROM pts p JOIN pts q
             |    ON p.id <> q.id
             |   AND q.x BETWEEN p.x - 8 AND p.x + 8
             |   AND q.y BETWEEN p.y - 8 AND p.y + 8
             |  WHERE (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) <= 64),
             |cores AS (SELECT a AS id FROM nb GROUP BY a HAVING COUNT(*) + 1 >= 4),
             |ce AS (SELECT a, b FROM nb WHERE a < b
             |       AND a IN (SELECT id FROM cores) AND b IN (SELECT id FROM cores)),
             |ed AS (SELECT a AS src, b AS dst FROM ce UNION ALL SELECT b, a FROM ce),
             |reach(v, r) AS (
             |  SELECT src, src FROM ed
             |  UNION
             |  SELECT reach.v, ed.dst FROM reach JOIN ed ON ed.src = reach.r),
             |ccx AS (SELECT v, MIN(r) AS cluster FROM reach GROUP BY v),
             |cl AS (SELECT id, COALESCE(cluster, id) AS cluster
             |       FROM cores LEFT JOIN ccx ON ccx.v = cores.id),
             |bord AS (
             |  SELECT nb.a AS id, MIN(cl.cluster) AS cluster
             |  FROM nb JOIN cl ON cl.id = nb.b
             |  WHERE nb.a NOT IN (SELECT id FROM cores)
             |  GROUP BY nb.a),
             |lab AS (
             |  SELECT id, cluster, 'core' AS role FROM cl
             |  UNION ALL SELECT id, cluster, 'border' FROM bord),
             |agg AS (
             |  SELECT cluster, COUNT(*) AS n_points,
             |    CAST(SUM(CASE WHEN role = 'core' THEN 1 ELSE 0 END) AS BIGINT) AS n_core,
             |    CAST(SUM(CASE WHEN role = 'border' THEN 1 ELSE 0 END) AS BIGINT) AS n_border,
             |    CAST(SUM(id * 7) AS BIGINT) AS member_checksum
             |  FROM lab GROUP BY cluster
             |  UNION ALL
             |  SELECT CAST(-1 AS BIGINT), COUNT(*), CAST(0 AS BIGINT),
             |    CAST(0 AS BIGINT), CAST(SUM(id * 7) AS BIGINT)
             |  FROM pts WHERE id NOT IN (SELECT id FROM lab)
             |  HAVING COUNT(*) > 0)
             |SELECT cluster, n_points, n_core, n_border, member_checksum
             |FROM agg ORDER BY cluster""".stripMargin)),

    // Embedding-space drift/health monitor: per-label centroid
    // dispersion and nearest-neighbor centroid separation — the check a
    // training pipeline runs when a new encoder version (or a new data
    // slice) lands: did within-class spread blow up, did two classes
    // collapse into each other? Pure algebra on exact integer sums, no
    // per-pair row joins: E‖x−c‖² = Q/n − P/n² (Q = Σ‖x‖², P = Σ_d S_d²
    // with S the per-dim coordinate sum), and centroid separation
    // d²(a,b) = Σ_d (S_a·n_b − S_b·n_a)² / (n_a·n_b)² — numerators kept
    // in DECIMAL so both engines add EXACT integers in any order; the
    // only doubles are two final divisions, micro-quantized. Scale
    // shape: one explode (rows×dims, map-side combined into
    // |labels|×dims partial sums), then everything downstream operates
    // on |labels|×dims ≤ a few thousand rows.
    QueryDef(
      "q_emb_drift",
      (s, d) => {
        val q = "CAST(floor(CAST(v AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)"
        val dims = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"),
            posexplode(col("embedding")).as(Seq("pos", "v")))
          .selectExpr("vec_id", "label", "pos + 1 AS dim", s"$q AS qv")
        val cent = dims.groupBy("label", "dim")
          .agg(sum(col("qv")).as("sd"))
          .localCheckpoint(true)
        val per = dims.groupBy("label").agg(
          countDistinct(col("vec_id")).as("n"),
          // operands cast BEFORE the multiply: qv*qv in BIGINT would
          // wrap silently in Spark (non-ANSI) where DuckDB raises —
          // DECIMAL(19,0) holds any BIGINT, so overflow is impossible
          // rather than headroom-argued (r11 ADVICE)
          sum(expr("CAST(qv AS DECIMAL(19,0)) * CAST(qv AS DECIMAL(19,0))")).as("qq"))
        val stats = cent.groupBy("label")
          .agg(sum(expr("CAST(sd AS DECIMAL(19,0)) * CAST(sd AS DECIMAL(19,0))")).as("p"))
          .join(per, "label")
          .selectExpr("label", "n",
            "CAST(round((CAST(qq AS DOUBLE) / n - CAST(p AS DOUBLE) / n / n) " +
              "/ 1099511627776.0 * 1000000.0) AS BIGINT) AS within_micro")
        val nn = per.select(col("label"), col("n"))
        val pairs = cent.as("a")
          .join(cent.as("b"), col("a.dim") === col("b.dim")
            && col("a.label") =!= col("b.label"))
          .join(nn.select(col("label").as("la"), col("n").as("na")),
            col("a.label") === col("la"))
          .join(nn.select(col("label").as("lb"), col("n").as("nb")),
            col("b.label") === col("lb"))
          .selectExpr("la", "lb", "na", "nb",
            // same discipline: sd·n in BIGINT wraps at ~2²⁰ vectors per
            // label; DECIMAL operands make the cross-product exact
            "CAST(CAST(a.sd AS DECIMAL(19,0)) * nb - " +
              "CAST(b.sd AS DECIMAL(19,0)) * na AS DECIMAL(19,0)) AS diff")
          .groupBy("la", "lb", "na", "nb")
          .agg(sum(expr("diff * diff")).as("num"))
          .selectExpr("la AS label", "lb",
            "CAST(round(CAST(num AS DOUBLE) / (CAST(na AS DOUBLE) * nb * na * nb) " +
              "/ 1099511627776.0 * 1000000.0) AS BIGINT) AS between_micro")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("label").orderBy(col("between_micro"), col("lb"))
        val nearest = pairs.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("label"), col("lb").as("nearest_label"),
            col("between_micro").as("nearest_d2_micro"))
        stats.join(nearest, "label")
          .select("label", "n", "within_micro", "nearest_label", "nearest_d2_micro")
          .orderBy("label")
      },
      Some("""WITH dims AS (
             |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
             |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) AS qv
             |  FROM embeddings),
             |cent AS (
             |  SELECT label, dim, CAST(SUM(qv) AS BIGINT) AS sd
             |  FROM dims GROUP BY 1, 2),
             |per AS (
             |  SELECT label, CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n,
             |    SUM(CAST(qv AS DECIMAL(19,0)) * CAST(qv AS DECIMAL(19,0))) AS qq
             |  FROM dims GROUP BY 1),
             |stats AS (
             |  SELECT cent.label, n,
             |    CAST(round((CAST(qq AS DOUBLE) / n
             |      - CAST(SUM(CAST(sd AS DECIMAL(19,0)) * CAST(sd AS DECIMAL(19,0))) AS DOUBLE) / n / n)
             |      / 1099511627776.0 * 1000000.0) AS BIGINT) AS within_micro
             |  FROM cent JOIN per ON per.label = cent.label
             |  GROUP BY cent.label, n, qq),
             |pairs AS (
             |  SELECT a.label AS la, b.label AS lb, pa.n AS na, pb.n AS nb,
             |    SUM(CAST(CAST(a.sd AS DECIMAL(19,0)) * pb.n
             |          - CAST(b.sd AS DECIMAL(19,0)) * pa.n AS DECIMAL(19,0))
             |      * CAST(CAST(a.sd AS DECIMAL(19,0)) * pb.n
             |          - CAST(b.sd AS DECIMAL(19,0)) * pa.n AS DECIMAL(19,0))) AS num
             |  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label <> b.label
             |  JOIN per pa ON pa.label = a.label
             |  JOIN per pb ON pb.label = b.label
             |  GROUP BY 1, 2, 3, 4),
             |bet AS (
             |  SELECT la AS label, lb,
             |    CAST(round(CAST(num AS DOUBLE) / (CAST(na AS DOUBLE) * nb * na * nb)
             |      / 1099511627776.0 * 1000000.0) AS BIGINT) AS between_micro,
             |    ROW_NUMBER() OVER (PARTITION BY la
             |      ORDER BY CAST(round(CAST(num AS DOUBLE) / (CAST(na AS DOUBLE) * nb * na * nb)
             |        / 1099511627776.0 * 1000000.0) AS BIGINT), lb) AS rn
             |  FROM pairs)
             |SELECT stats.label, n, within_micro,
             |  lb AS nearest_label, between_micro AS nearest_d2_micro
             |FROM stats JOIN bet ON bet.label = stats.label AND bet.rn = 1
             |ORDER BY stats.label""".stripMargin))
  )
}
