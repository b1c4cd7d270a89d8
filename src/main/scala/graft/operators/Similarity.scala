package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`vec_id`,
  * `embedding: array<float>`, `label`) — extension surface per the
  * builder prompt; the reference has no vector ops (its schema is flat
  * sensor scalars, SURVEY.md §1.1).
  *
  * Numeric determinism: dot products fold per-element double products
  * into exact DECIMAL(28,14) sums — order-independent, so Spark and
  * DuckDB agree bit-for-bit; the final cosine is a couple of IEEE double
  * ops on identical inputs (float→double casts are exact, sqrt is
  * correctly rounded). No rounding tolerance needed anywhere.
  *
  * Scale design:
  *  - `q_sim_topk` broadcasts the (small) query set and streams once over
  *    the candidates; the only shuffle is the per-query top-k window,
  *    keyed by query id. The brute-force score stage is the baseline;
  *  - `q_sim_lsh` is the scale path: a sign-bit LSH bucket (hyperplanes =
  *    the first 8 coordinate axes — fixed, data-independent, so both
  *    engines and any two cluster runs agree) turns the quadratic probe
  *    into an equi-join on bucket id;
  *  - `q_dedup_embed` (cosine near-dup) is the all-pairs baseline kept at
  *    verify scale; at 100 TB you run the LSH variant and verify only
  *    within buckets.
  *
  * ANN kernel: every index family is judged by recall@k against an exact
  * brute-force top-k, and every recall entry (LSH bits×tables, IVF cells,
  * multi-probe nprobe, filtered IVF, random projection) runs the same
  * four steps, each owned by one helper:
  *  1. [[bruteTopK]] — broadcast queries, one pass over the candidates,
  *     session-memoized per (dir, k, predicate);
  *  2. [[scoreIds]] — exact cosine of an index's candidate ids;
  *  3. [[topK]] — the per-query `(cosine DESC, c_id)` window;
  *  4. [[recallFold]] — `n_queries / n_brute / n_cand / n_matched /
  *     recall_at_k` in one row.
  * A recall entry builds only its candidate ids (bucket join, cell join,
  * probe join) or, for projection, its scored pairs, and selects its own
  * setting columns. The DuckDB twins share the same text the same way
  * ([[duckTopK]], [[duckIdRecall]], [[duckRecallSelect]]); the probe
  * entries share [[cellProbe]] and the probe tails of their oracles.
  */
object Similarity {

  /** Quantized-exact dot product of two float/double-array columns
    * (Spark SQL).
    *
    * Each float×float product is exact in double (48-bit significand);
    * `floor(p * 1e14)` maps it to an integer deterministically — unlike a
    * double→DECIMAL *rounding* cast, floor has no halfway case, and
    * halfway cases are real: a product equal to odd/2^15 sits exactly
    * between two scale-14 decimals, where Spark rounds HALF_UP and DuckDB
    * half-even (observed on this very dataset, vec_id 499). The integer
    * sum is exact and order-independent; one final division returns to
    * double. Quantization error ≤ 64e-14 on a defined grid — the
    * operator computes this quantized dot *by definition*.
    *
    * Emits the native codegen expression [[graft.functions.QuantizedDot]]
    * (registered by GraftExtensions). The equivalent HOF
    * formulation it replaced — kept for reference and pinned equal in
    * NativeFunctionsSpec — is [[sparkDotHof]]: higher-order functions
    * stay outside whole-stage codegen, so the fused loop wins on every
    * scan. */
  def sparkDot(x: String, y: String): String =
    s"quantized_dot($x, $y)"

  /** The HOF formulation of [[sparkDot]] — identical numerics, no
    * native function dependency. */
  def sparkDotHof(x: String, y: String): String =
    s"(CAST(aggregate(zip_with($x, $y, (p, q) -> floor(CAST(p AS DOUBLE) * CAST(q AS DOUBLE) * 100000000000000)), " +
      s"CAST(0 AS BIGINT), (acc, v) -> acc + v) AS DOUBLE) / 100000000000000)"

  /** DuckDB twin of [[sparkDot]]. */
  def duckDot(x: String, y: String): String =
    s"(CAST(list_sum(list_transform(list_zip($x, $y), " +
      s"p -> CAST(floor(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) * 100000000000000) AS BIGINT))) AS DOUBLE) / 100000000000000)"

  /** BIGINT quantized dot — [[sparkDotHof]] WITHOUT the final return to
    * double: the exact integer-grid value, safe to add/subtract/compare
    * across engines with zero float involvement (the double round-trip
    * is lossy past 2⁵³, which 64 un-normalized coordinate products can
    * exceed). Used where dot products feed further arithmetic rather
    * than a final ranking column. */
  def sparkIntDot(x: String, y: String): String =
    s"aggregate(zip_with($x, $y, (p, q) -> floor(CAST(p AS DOUBLE) * CAST(q AS DOUBLE) * 100000000000000)), " +
      s"CAST(0 AS BIGINT), (acc, v) -> acc + v)"

  /** DuckDB twin of [[sparkIntDot]]. */
  def duckIntDot(x: String, y: String): String =
    s"CAST(list_sum(list_transform(list_zip($x, $y), " +
      s"p -> CAST(floor(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) * 100000000000000) AS BIGINT))) AS BIGINT)"

  /** Sign-bit LSH bucket from the first `bits` coordinates (both dialects
    * — the expression text is dialect-neutral except for element access).
    * The hyperplanes are the coordinate axes: fixed and data-independent,
    * so both engines and any two cluster runs agree. `bits` MUST scale
    * with log(N): the probe join costs ~N²/2^bits, so a fixed bucket
    * count stops working at 100× the rows — [[lshBitsFor]] is the
    * sizing rule, and the LSH/IVF queries run at two settings to pin
    * that the knob actually steers bucket population (ScaleSpec bounds
    * the max bucket). Capped at the embedding dimension (64 here). */
  private[graft] def bucketExpr(bits: Int, elem: Int => String, offset: Int = 0): String =
    (0 until bits).map(i => s"(CASE WHEN ${elem(offset + i + 1)} > 0 THEN ${1L << i} ELSE 0 END)")
      .mkString("(", " + ", ")")

  private[graft] def sparkBucket(bits: Int, offset: Int = 0) =
    bucketExpr(bits, i => s"element_at(embedding, $i)", offset)
  private[graft] def duckBucket(bits: Int, offset: Int = 0) =
    bucketExpr(bits, i => s"embedding[$i]", offset)

  /** Embedding dimension, the cap on the sized LSH bit count. */
  private val Dim = 64
  /** Expected bucket population the sized LSH bit count stays under. */
  private val TargetBucket = 32

  /** log₂(N) sizing for the LSH bit count — the smallest b in [4, Dim]
    * with 2^b ≥ ⌈N / TargetBucket⌉, keeping expected bucket population
    * ≤ TargetBucket as N grows (N=500 → 4 bits; N=10⁹ → 25 bits). Pure
    * integer arithmetic, deliberately no float log/ceil: the sized
    * oracle ([[duckLshSizedCte]]) recomputes the same b in SQL, and a
    * float log at an exact power-of-two boundary (`log(16)/log(2)` =
    * 3.999…96 in the JVM) rounds differently per engine. */
  def lshBitsFor(n: Long): Int = {
    val target = n / TargetBucket + (if (n % TargetBucket == 0) 0 else 1)
    var b = 4
    while (b < Dim && (1L << b) < target && b < 62) b += 1
    b
  }

  /** ⌊√N⌋ sizing for the IVF coarse-quantizer cell count: probe cost is
    * N/cells per query and assignment cost is N·cells, balanced at √N.
    * floor, not round: IEEE sqrt is correctly rounded (exact on perfect
    * squares), so both engines floor the same double; round's halfway
    * rule differs per engine. */
  def ivfCellsFor(n: Long): Int =
    math.max(4, math.sqrt(n.toDouble).toLong.toInt)

  /** SQL twin of [[lshBitsFor]] (DuckDB): a one-row CTE `sized(b)`
    * computing the same smallest-power-of-two bound in integer
    * arithmetic from the live row count. */
  private def duckLshSizedCte: String =
    s"""sized AS (
       |  SELECT COALESCE(MIN(b), $Dim) AS b
       |  FROM generate_series(4, LEAST($Dim, 62)) t(b)
       |  WHERE (CAST(1 AS BIGINT) << b) >=
       |    (SELECT COUNT(*) // $TargetBucket
       |            + CASE WHEN COUNT(*) % $TargetBucket = 0 THEN 0 ELSE 1 END
       |     FROM embeddings))""".stripMargin

  /** Sign-bucket over a RUNTIME bit count (column `b` from the sized
    * CTE, cross-joined in): all `Dim` terms emitted, masked by `i < b`
    * — the static-text way to express a data-dependent bucket width. */
  private def duckBucketSized: String =
    (0 until Dim).map(i =>
      s"(CASE WHEN $i < b AND embedding[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END)")
      .mkString("(", " + ", ")")

  /** vec_id, embedding, nrm (L2 norm as double) — Spark side. */
  private def withNorm(s: SparkSession, d: String) = {
    Tables.embeddings(s, d).selectExpr(
      "vec_id", "embedding", "label",
      s"sqrt(${sparkDot("embedding", "embedding")}) AS nrm")
  }

  private val duckNormCte =
    s"n AS (SELECT vec_id, embedding, label, sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings)"

  /** The query and candidate sides of exact-cosine scoring over `n`
    * ([[withNorm]]): (q_id, q_emb, q_nrm, q_label) and its `c_` twin. */
  private def sides(n: DataFrame): (DataFrame, DataFrame) = {
    def side(p: String) = n.select(col("vec_id").as(s"${p}_id"), col("embedding").as(s"${p}_emb"),
      col("nrm").as(s"${p}_nrm"), col("label").as(s"${p}_label"))
    (side("q"), side("c"))
  }

  /** Exact cosine of a scored (q, c) row of [[sides]]. */
  private val exactCosine = s"${sparkDot("q_emb", "c_emb")} / (q_nrm * c_nrm) AS cosine"

  /** The queries every ANN and recall entry scores: vec_id < QueryLimit. */
  private val QueryLimit = 100
  /** Neighbors per query a recall entry compares with the brute top-k. */
  private val RecallK = 5

  /** Per-query top-k of `scored` by (cosine DESC, c_id); rank in `rnk`. */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cosine").desc, col("c_id"))))
      .filter(col("rnk") <= k)

  /** Exact top-k (q_id, c_id) of the first [[QueryLimit]] vectors of `n`
    * ([[withNorm]] over `d`) against every other one satisfying `pred`:
    * the queries are broadcast and the candidates stream once. The ground
    * truth does not depend on the index setting, so it is
    * session-memoized per (dir, k, pred) and a recall curve pays the
    * brute force once. */
  private def bruteTopK(s: SparkSession, d: String, n: DataFrame, k: Int,
                        pred: String = "true"): DataFrame =
    graft.FrameCache.memo(s, s"ann-brute:$d:$k:$pred") {
      val (q, c) = sides(n)
      topK(c.join(broadcast(q.filter(col("q_id") < QueryLimit)), expr(s"q_id <> c_id AND $pred"))
        .selectExpr("q_id", "c_id", exactCosine), k).select("q_id", "c_id")
    }

  /** Exact cosine of an index's candidate ids (q_id, c_id) under `pred`,
    * scored over `n` ([[withNorm]]). */
  private def scoreIds(n: DataFrame, ids: DataFrame, pred: String = "true"): DataFrame = {
    val (q, c) = sides(n)
    ids.join(q, "q_id").join(c, "c_id").filter(pred).selectExpr("q_id", "c_id", exactCosine)
  }

  /** The recall@k fold: matched = |brute ∩ top-k of `cand`| per query,
    * summed to one row (n_queries, n_brute, [n_cand,] n_matched,
    * recall_at_k = matched / |brute|). `n_cand` is the scored-pair count,
    * the probe cost the recall was bought at. Both sides hold distinct
    * (q_id, c_id) pairs, so one left join of the brute counts all three
    * brute-side numbers in a single scan of it. All-integer counts and
    * one final division, so the row is deterministic. */
  private def recallFold(brute: DataFrame, cand: DataFrame, k: Int,
                         nCand: Boolean = true): DataFrame = {
    val hits = topK(cand, k).select(col("q_id"), col("c_id"), lit(1).as("hit"))
    val counts = brute.join(hits, Seq("q_id", "c_id"), "left")
      .agg(countDistinct(col("q_id")).as("n_queries"), count(lit(1)).as("n_brute"),
        count(col("hit")).as("n_matched"))
    (if (nCand) counts.crossJoin(cand.agg(count(lit(1)).as("n_cand"))) else counts)
      .withColumn("recall_at_k", expr("CAST(n_matched AS DOUBLE) / n_brute"))
  }

  /** DuckDB twin of [[topK]] reduced to (q_id, c_id): `name AS (…)` over
    * `src` (a CTE name or a parenthesized subquery with a `cosine`). */
  private def duckTopK(name: String, src: String, k: Int): String =
    s"""$name AS (SELECT q_id, c_id FROM (
       |  SELECT q_id, c_id,
       |         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnk
       |  FROM $src) WHERE rnk <= $k)""".stripMargin

  /** Every (query, other) pair of `tbl` scored by cosine — the source of
    * a brute top-k; `emb` and `nrm` name the vector and norm columns. */
  private def duckAllPairs(tbl: String, emb: String, nrm: String): String =
    s"""(SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |               ${duckDot(s"q.$emb", s"c.$emb")} / (q.$nrm * c.$nrm) AS cosine
       |        FROM $tbl q JOIN $tbl c ON q.vec_id <> c.vec_id
       |        WHERE q.vec_id < $QueryLimit)""".stripMargin

  /** DuckDB twin of [[recallFold]]: `setting` columns, then the counts
    * against `brute` and `approx`; `counts` are the (table, column) row
    * counts printed between n_queries and n_matched. */
  private def duckRecallSelect(setting: String, brute: String, approx: String,
                               counts: Seq[(String, String)]): String =
    (Seq(s"SELECT $setting,", s"  (SELECT COUNT(DISTINCT q_id) FROM $brute) AS n_queries,") ++
      counts.map { case (t, c) => s"  (SELECT COUNT(*) FROM $t) AS $c," } ++
      Seq("  COUNT(*) AS n_matched,",
        s"  CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM $brute) AS recall_at_k",
        s"FROM $brute JOIN $approx USING (q_id, c_id)")).mkString("\n")

  /** DuckDB twin of [[scoreIds]] + [[recallFold]] for one setting:
    * `idsCtes` ends in `ids$sfx(q_id, c_id)`; the statement supplies the
    * shared `n` and `brute` CTEs. Returns (CTEs, summary select). */
  private def duckIdRecall(sfx: String, setting: String, idsCtes: String,
                           k: Int): (String, String) = {
    val ctes =
      s"""$idsCtes,
         |cand$sfx AS (
         |  SELECT q_id, c_id,
         |         ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
         |  FROM ids$sfx JOIN n q ON q.vec_id = q_id JOIN n c ON c.vec_id = c_id),
         |${duckTopK(s"approx$sfx", s"cand$sfx", k)}""".stripMargin
    (ctes, duckRecallSelect(setting, "brute", s"approx$sfx", Seq(s"cand$sfx" -> "n_cand")))
  }

  /** Query ids under the same cell as another vector of `cells` — the
    * IVF candidate ids, as the CTE `name`. */
  private def duckCellIds(name: String, cells: String): String =
    s"""$name AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id
       |  FROM $cells q JOIN $cells c ON q.cell = c.cell AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < $QueryLimit)""".stripMargin

  /** LSH ANN at a given hyperplane count: bucket assignment is map work,
    * candidates come from an equi-join on the bucket id, top-1 per query
    * by a window keyed on q_id. The only shuffles are the bucket join
    * and the per-query window — both keyed, both skew-bounded because
    * 2^bits tracks N ([[lshBitsFor]]). */
  def lshAnn(s: SparkSession, d: String, bits: Int): DataFrame = {
    val b = withNorm(s, d).selectExpr("vec_id", "embedding", "nrm", s"${sparkBucket(bits)} AS bucket")
    val q = b.filter(col("vec_id") < QueryLimit).select(
      col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      col("nrm").as("q_nrm"), col("bucket").as("q_bucket"))
    val c = b.select(
      col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      col("nrm").as("c_nrm"), col("bucket").as("c_bucket"))
    val scored = q.join(c, col("q_bucket") === col("c_bucket") && col("q_id") =!= col("c_id"))
      .selectExpr("q_id", "q_bucket", "c_id", s"${sparkDot("q_emb", "c_emb")} / (q_nrm * c_nrm) AS cosine")
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("c_id"))
    scored
      .withColumn("rnk", row_number().over(w))
      .withColumn("n_cand", count(lit(1)).over(Window.partitionBy("q_id")))
      .filter(col("rnk") === 1)
      .select(col("q_id"), col("q_bucket").as("bucket"), col("c_id").as("nn_id"),
        col("cosine"), col("n_cand"))
      .orderBy("q_id")
  }

  /** Every vector's nearest coarse-quantizer cell (centroids = the
    * first `cells` vectors — deterministic, no trained state; one
    * broadcast + stateless per-row argmax). Shared by the IVF probe,
    * the IVF×PQ composition, semantic dedup, and the k-NN graph —
    * session-memoized per (dir, cells) like the shingle frame: an
    * index assignment is a fit-once artifact every consumer reuses,
    * and the first consumer pays the fill. */
  private[graft] def cellAssign(s: SparkSession, d: String, cells: Int): DataFrame =
    graft.FrameCache.memo(s, s"ivf_cells:$d:$cells") {
      val e = Tables.embeddings(s, d)
      if (cells <= graft.functions.NearestCell.MaxCents)
        assignByExpression(s, e, cells)
      else
        assignByJoin(e, cells)
    }

  /** Expression-shaped argmax (round 10, the small-centroid-set
    * regime): collect the bounded centroid table (the k-means-model
    * pattern — model state on the driver, bounded by `cells`), embed it
    * as one reference literal, and pick each vector's cell in a tight
    * per-row loop — the same quantized cosines as the join path with
    * zero extra rows, zero sort, zero shuffle. [[graft.functions.NearestCell]]
    * scans ids ascending with strict `>`, bit-identical to
    * `row_number() OVER (ORDER BY c_cos DESC, cent_id) = 1`, so both
    * regimes and the DuckDB twin agree exactly (CellAssignSpec pins
    * regime equality). */
  private[graft] def assignByExpression(s: SparkSession, e: DataFrame,
                                        cells: Int): DataFrame = {
    import s.implicits._
    val cent: Seq[(Long, Seq[Float])] = e.filter(col("vec_id") < cells)
      .select(col("vec_id"), col("embedding")).orderBy("vec_id")
      .as[(Long, Seq[Float])].collect().toSeq
    e.select(col("vec_id"), col("embedding"),
      call_function("nearest_cell", col("embedding"), typedlit(cent)).as("cell"))
  }

  /** Join-shaped assignment — the 100 TB regime where the centroid
    * relation is itself data-sized and must never land on the driver:
    * broadcast join + per-vector top-1 window. This path materializes
    * N·cells rows carrying the full embedding through a per-partition
    * SORT before the partial window group-limit — at sf10 that was 350M
    * wide rows sorted for a top-1, the dominant cost of the shared cell
    * assignment, which is why the expression regime exists. */
  private[graft] def assignByJoin(e: DataFrame, cells: Int): DataFrame = {
    val cent = e.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("c_cos").desc, col("cent_id"))
    e.join(broadcast(cent))
      .selectExpr("vec_id", "embedding", "cent_id", "cosine_sim(embedding, cent_emb) AS c_cos")
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cent_id").as("cell"))
  }

  /** DuckDB twin of [[cellAssign]], ending in `cells$sfx(vec_id,
    * embedding, cell)`; `sfx` disambiguates CTE names when several cell
    * settings share one statement. */
  private[graft] def duckCellCtes(cells: Int, sfx: String = ""): String =
    duckCellCtesExpr(cells.toString, sfx)

  /** [[duckCellCtes]] over an arbitrary cell-count SQL expression (a
    * scalar subquery for the sized variant). */
  private[graft] def duckCellCtesExpr(cells: String, sfx: String = ""): String =
    s"""cent$sfx AS (SELECT vec_id AS cent_id, embedding AS cent_emb
       |             FROM embeddings WHERE vec_id < $cells),
       |assign$sfx AS (
       |  SELECT vec_id, embedding, cent_id,
       |    ${duckDot("embedding", "cent_emb")}
       |      / (sqrt(${duckDot("embedding", "embedding")})
       |         * sqrt(${duckDot("cent_emb", "cent_emb")})) AS c_cos
       |  FROM embeddings CROSS JOIN cent$sfx),
       |cells$sfx AS (
       |  SELECT vec_id, embedding, cent_id AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |              ORDER BY c_cos DESC, cent_id) AS rn FROM assign$sfx)
       |  WHERE rn = 1)""".stripMargin

  /** IVF ANN at a given coarse-quantizer size: centroids are the first
    * `cells` vectors (deterministic, no trained state), broadcast to
    * assign every vector its nearest cell; probes equi-join on the cell.
    * Complements sign-LSH (hash-bucketed vs centroid-bucketed recall). */
  def ivfAnn(s: SparkSession, d: String, cells: Int): DataFrame =
    cellProbe(cellAssign(s, d, cells))

  /** The IVF probe over any cell assignment (vec_id, embedding, cell):
    * queries 100..119 equi-join their own cell and keep the top-1 by
    * cosine. */
  private def cellProbe(cellFrame: DataFrame): DataFrame = {
    val q = cellFrame.filter(col("vec_id").between(100, 119))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("cell"))
    val c = cellFrame.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      col("cell").as("c_cell"))
    topK(q.join(c, col("cell") === col("c_cell") && col("q_id") =!= col("c_id"))
        .selectExpr("q_id", "cell", "c_id", "cosine_sim(q_emb, c_emb) AS cosine"), 1)
      .select("q_id", "cell", "c_id", "cosine")
      .orderBy("q_id")
  }

  /** DuckDB twin of [[cellProbe]] over the CTE `cells`, with `cosine`
    * the scoring text of a (q, c) pair. */
  private def duckCellProbe(cells: String, cosine: String): String =
    s"""probe AS (
       |  SELECT q.vec_id AS q_id, q.cell AS cell, c.vec_id AS c_id,
       |    $cosine AS cosine
       |  FROM $cells q JOIN $cells c ON q.cell = c.cell AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id BETWEEN 100 AND 119)
       |SELECT q_id, cell, c_id, cosine FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |            ORDER BY cosine DESC, c_id) AS rn FROM probe)
       |WHERE rn = 1 ORDER BY q_id""".stripMargin

  /** The flat probe: [[duckCellProbe]] over `cells` with the three-dot
    * cosine. */
  private val duckFlatProbe = duckCellProbe("cells",
    s"""${duckDot("q.embedding", "c.embedding")}
       |      / (sqrt(${duckDot("q.embedding", "q.embedding")})
       |         * sqrt(${duckDot("c.embedding", "c.embedding")}))""".stripMargin)

  /** DuckDB twin of [[ivfAnn]], generated from the same parameters. */
  def ivfOracle(cells: Int): String =
    s"""WITH ${duckCellCtes(cells)},
       |$duckFlatProbe""".stripMargin

  /** ⌊√cells⌋ ≈ N^¼ sizing for the two-level quantizer's super-cell
    * count — see [[hierCellAssign]]. Same deterministic floor(sqrt) as
    * [[ivfCellsFor]]; the oracle recomputes both from COUNT(*). */
  def ivfSuperCellsFor(cells: Int): Int =
    math.max(2, math.sqrt(cells.toDouble).toLong.toInt)

  /** Two-level coarse quantizer — the build-cost fix for the flat IVF's
    * N·√N assignment (at 10⁹ vectors that is 3×10¹³ dot products; the
    * honest number the flat sized variant's √N balance buys its probe
    * cost with). Level 1: S = [[ivfSuperCellsFor]] ≈ N^¼ super-centroids
    * (the first S vectors) assign every vector by broadcast argmax —
    * N·S dots. Level 2: the sub-centroids (the first ⌊√N⌋ vectors,
    * carrying their own level-1 assignment) are equi-joined on the
    * super-cell, so each vector scores only its super-cell's ~N^¼
    * sub-centroids — N·(S + cells/S) ≈ 2·N^1.25 total vs N^1.5 flat
    * (84× fewer dots at N=10⁹). Every super-cell g is non-empty by
    * construction: sub-centroid g < S assigns to itself (cosine 1 is
    * the argmax). The assignment can differ from flat IVF's — a
    * vector's globally-nearest sub-centroid may live in another
    * super-cell — which is the standard two-level trade (same shape as
    * FAISS's IVF-on-IVF coarse quantizers); recall is measured, not
    * assumed, and the oracle replays the exact same two argmax levels. */
  private[graft] def hierCellAssign(s: SparkSession, d: String): DataFrame = {
    // NOT FrameCache-memoized, deliberately: q_ivf_hier's benchmark
    // meaning is the N^1.25 BUILD cost (BASELINE.md's headline fix for
    // the flat N·√N assignment) — a memoized build would let whichever
    // gated entry runs first absorb it and turn the other into a
    // probe-only number. The flat cellAssign memo is the reuse story.
    val e = Tables.embeddings(s, d)
    val cells = ivfCellsFor(e.count()) // footer-metadata count; table stats at 100 TB
    val supers = ivfSuperCellsFor(cells)
    val scent = e.filter(col("vec_id") < supers)
      .select(col("vec_id").as("s_id"), col("embedding").as("s_emb"))
    val wSup = Window.partitionBy("vec_id").orderBy(col("sc").desc, col("s_id"))
    val pts = e.join(broadcast(scent))
      .selectExpr("vec_id", "embedding", "s_id", "cosine_sim(embedding, s_emb) AS sc")
      .withColumn("rn", row_number().over(wSup))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("s_id").as("sup"))
    val subc = pts.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"), col("sup"))
    val wCell = Window.partitionBy("vec_id").orderBy(col("c_cos").desc, col("cent_id"))
    pts.join(broadcast(subc), "sup")
      .selectExpr("vec_id", "embedding", "cent_id", "cosine_sim(embedding, cent_emb) AS c_cos")
      .withColumn("rn", row_number().over(wCell))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cent_id").as("cell"))
  }

  /** [[ivfAnn]]'s probe over the two-level assignment. */
  def ivfHierAnn(s: SparkSession, d: String): DataFrame =
    cellProbe(hierCellAssign(s, d))

  /** DuckDB twin of [[ivfHierAnn]]: sizes from COUNT(*), replays both
    * argmax levels, probes the final cell. */
  def ivfHierOracle: String = {
    def cos(x: String, y: String) =
      s"${duckDot(x, y)} / (sqrt(${duckDot(x, x)}) * sqrt(${duckDot(y, y)}))"
    s"""WITH sz AS (
       |  SELECT cells, GREATEST(2, CAST(floor(sqrt(CAST(cells AS DOUBLE))) AS BIGINT)) AS supers
       |  FROM (SELECT GREATEST(4, CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)) AS cells
       |        FROM embeddings)),
       |scent AS (SELECT vec_id AS s_id, embedding AS s_emb FROM embeddings
       |          WHERE vec_id < (SELECT supers FROM sz)),
       |pts AS (
       |  SELECT vec_id, embedding, s_id AS sup FROM (
       |    SELECT e.vec_id, e.embedding, s.s_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cos("e.embedding", "s.s_emb")} DESC, s.s_id) AS rn
       |    FROM embeddings e CROSS JOIN scent s) WHERE rn = 1),
       |subc AS (SELECT vec_id AS cent_id, embedding AS cent_emb, sup FROM pts
       |         WHERE vec_id < (SELECT cells FROM sz)),
       |hcells AS (
       |  SELECT vec_id, embedding, cent_id AS cell FROM (
       |    SELECT p.vec_id, p.embedding, c.cent_id,
       |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |        ORDER BY ${cos("p.embedding", "c.cent_emb")} DESC, c.cent_id) AS rn
       |    FROM pts p JOIN subc c ON c.sup = p.sup) WHERE rn = 1),
       |${duckCellProbe("hcells", cos("q.embedding", "c.embedding"))}""".stripMargin
  }

  /** Recall@k of a sign-LSH index against the brute-force baseline —
    * the number an ANN operator actually tunes at 100 TB. Two knobs,
    * two directions: more hyperplane `bits` → smaller buckets, cheaper
    * probes, lower recall; more hash `tables` (disjoint coordinate
    * blocks as the hyperplane sets, candidates = union of per-table
    * bucket matches) → more scored pairs, higher recall. The brute
    * top-k is the ground truth (broadcast queries, one candidate pass);
    * the LSH top-k ranks the distinct union of per-table bucket-join
    * candidates; matched = |brute ∩ lsh| per query, folded to one
    * summary row: recall = matched / |brute top-k|, plus the distinct
    * candidate-pair count the index actually scored (the probe cost
    * the recall was bought at). All-integer counts + one final
    * division — deterministic. Requires bits·tables ≤ dim (64).
    */
  def annRecall(s: SparkSession, d: String, bits: Int, tables: Int = 1): DataFrame = {
    // beyond dim, element_at returns NULL and the high bits silently
    // zero on BOTH engines — degenerate buckets with no error anywhere
    require(bits * tables <= 64,
      s"bits*tables = ${bits * tables} exceeds the embedding dim (64)")
    val n = withNorm(s, d)
    val tblStructs = (0 until tables).map(t =>
      s"struct($t AS tbl, ${sparkBucket(bits, t * bits)} AS bucket)")
    val bkt = n.selectExpr("vec_id", s"explode(array(${tblStructs.mkString(", ")})) AS bk")
      .select(col("vec_id"), col("bk.tbl").as("tbl"), col("bk.bucket").as("bucket"))
    val candIds = bkt.as("x").join(bkt.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket")
          && col("x.vec_id") =!= col("y.vec_id"))
      .filter(col("x.vec_id") < QueryLimit)
      .select(col("x.vec_id").as("q_id"), col("y.vec_id").as("c_id"))
      .distinct()
    recallFold(bruteTopK(s, d, n, RecallK), scoreIds(n, candIds), RecallK)
      .selectExpr(s"$bits AS bits", s"$tables AS tables", "n_queries", "n_cand", "n_matched",
        "recall_at_k")
  }

  /** DuckDB twin of [[annRecall]]: per-setting CTEs (names suffixed
    * `_<bits>_<tables>`) + one shared brute CTE the caller emits once. */
  def recallOracleBruteCte: String =
    duckTopK("brute", duckAllPairs("n", "embedding", "nrm"), RecallK)

  def recallOracleCtes(bits: Int, tables: Int = 1): (String, String) = {
    val sfx = s"_${bits}_$tables"
    val tableSelects = (0 until tables).map(t =>
      s"SELECT vec_id, $t AS tbl, ${duckBucket(bits, t * bits)} AS bucket FROM n")
    duckIdRecall(sfx, s"$bits AS bits, $tables AS tables",
      s"""bkt$sfx AS (${tableSelects.mkString("\n  UNION ALL ")}),
         |ids$sfx AS (SELECT DISTINCT x.vec_id AS q_id, y.vec_id AS c_id
         |  FROM bkt$sfx x JOIN bkt$sfx y
         |  ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id <> y.vec_id
         |  WHERE x.vec_id < $QueryLimit)""".stripMargin, RecallK)
  }

  // ---- random projection (Johnson–Lindenstrauss) ------------------------

  /** Fixed ±1 projection matrix (64 → [[rpProjDim]]), signs derived from
    * md5("rp:i:j") — data-independent constants, generated once at class
    * load and embedded as literal expression text in BOTH engines, so
    * the projection costs zero hashing at runtime and any two cluster
    * runs agree. A ±1 (Achlioptas) matrix satisfies the JL guarantee
    * like a Gaussian one, and keeps every arithmetic op exact-sign
    * double addition — no transcendental anywhere. */
  private val rpMaxDim = graft.functions.RpProject.maxDim
  // single-sourced from the native expression so the oracle's chain
  // text and the Spark-side loop can never drift
  private def rpSigns: Array[Array[Double]] = graft.functions.RpProject.signs

  /** The projected vector as engine-neutral expression text: each output
    * coordinate is a left-associative chain `(0.0 ± e1 ± e2 …)` — same
    * op order in both engines, so the projected doubles agree
    * bit-for-bit (float→double casts are exact, addition is IEEE).
    * Lower-dim projections are PREFIXES of the 32-dim one (same signs),
    * so the recall curve isolates the dimension knob, not matrix luck. */
  private def rpProjTerms(projDim: Int, elem: Int => String): Seq[String] =
    (0 until projDim).map { j =>
      val terms = (0 until 64).map { i =>
        val sgn = if (rpSigns(i)(j) > 0) "+" else "-"
        s"$sgn CAST(${elem(i + 1)} AS DOUBLE)"
      }.mkString(" ")
      s"(0.0 $terms)"
    }

  /** Recall@k of brute-force top-k in the PROJECTED space vs the exact
    * space — the dimensionality-reduction axis of the recall surface
    * (LSH: bits×tables; IVF: cells/nprobe; PQ: ADC; this: the dot-cost
    * knob). The candidate set is identical (all pairs); what the
    * projection buys is a 64→16 per-dot cost cut for any downstream
    * consumer (the knn edge build, the ANN join), and what it costs is
    * exactly the recall printed here. At 100 TB the projection is a
    * map-only pass fused into the scan (16 sign-sum expressions, no
    * shuffle, no model to broadcast), so reduced-space vectors are
    * ~4× cheaper to score AND to shuffle. */
  def rpRecall(s: SparkSession, d: String, projDim: Int): DataFrame = {
    require(projDim <= rpMaxDim, s"projDim $projDim exceeds the sign matrix ($rpMaxDim)")
    val n = withNorm(s, d)
    // cache the projected vectors — computed by the NATIVE rp_project
    // expression ([[graft.functions.RpProject]]): the expanded
    // 2048-term array() chain this replaces blew janino's 64 KB method
    // limit at projDim=32, silently dropping the stage to interpreted
    // execution; the native loop is bit-identical to the oracle's
    // chain text and codegen-compact at any width
    val proj = graft.FrameCache.memo(s, s"rp-proj:$d:$projDim") {
      n.selectExpr("vec_id", s"rp_project(embedding, $projDim) AS p")
        .selectExpr("vec_id", "p", s"sqrt(${sparkDot("p", "p")}) AS pnrm")
    }
    val qp = proj.filter(col("vec_id") < QueryLimit).select(
      col("vec_id").as("q_id"), col("p").as("q_p"), col("pnrm").as("q_pnrm"))
    val cp = proj.select(
      col("vec_id").as("c_id"), col("p").as("c_p"), col("pnrm").as("c_pnrm"))
    val projected = cp.join(broadcast(qp), col("q_id") =!= col("c_id"))
      .selectExpr("q_id", "c_id", s"${sparkDot("q_p", "c_p")} / (q_pnrm * c_pnrm) AS cosine")
    recallFold(bruteTopK(s, d, n, RecallK), projected, RecallK, nCand = false)
      .selectExpr(s"$projDim AS proj_dim", "n_queries", "n_matched", "recall_at_k")
  }

  /** DuckDB twin of one [[rpRecall]] setting (CTEs suffixed `_<dim>`). */
  private def rpRecallOracleCtes(projDim: Int): (String, String) = {
    val sfx = s"_$projDim"
    val pList = rpProjTerms(projDim, i => s"embedding[$i]").mkString(", ")
    val ctes =
      s"""proj$sfx AS (
         |  SELECT vec_id, p, sqrt(${duckDot("p", "p")}) AS pnrm
         |  FROM (SELECT vec_id, [$pList] AS p FROM embeddings)),
         |${duckTopK(s"approx$sfx", duckAllPairs(s"proj$sfx", "p", "pnrm"), RecallK)}""".stripMargin
    (ctes, duckRecallSelect(s"$projDim AS proj_dim", "brute", s"approx$sfx", Nil))
  }

  /** Recall@k of the IVF index against the brute-force baseline — the
    * cells-axis twin of [[annRecall]] (every index family ships its
    * recall measurement: LSH has bits×tables, PQ has the ADC rank
    * retention, this is the coarse-quantizer knob). Candidates are the
    * query's own cell members; more cells → fewer candidates per
    * probe → lower recall. */
  def ivfRecall(s: SparkSession, d: String, cells: Int): DataFrame = {
    val n = withNorm(s, d)
    recallFold(bruteTopK(s, d, n, RecallK), scoreIds(n, cellIds(s, d, cells)), RecallK)
      .selectExpr(s"$cells AS cells", "n_queries", "n_cand", "n_matched", "recall_at_k")
  }

  /** IVF candidate ids: each query paired with the other members of its
    * own cell. */
  private def cellIds(s: SparkSession, d: String, cells: Int): DataFrame = {
    val cellsF = cellAssign(s, d, cells).select("vec_id", "cell")
    cellsF.select(col("vec_id").as("q_id"), col("cell"))
      .filter(col("q_id") < QueryLimit)
      .join(cellsF.select(col("vec_id").as("c_id"), col("cell").as("c_cell")),
        col("cell") === col("c_cell") && col("q_id") =!= col("c_id"))
      .select("q_id", "c_id")
  }

  /** The filtered-ANN setting: coarse cells and recall@k. */
  private val FilteredCells = 8
  private val FilteredK = 3

  /** FILTERED ANN — vector search under a metadata predicate (here:
    * same-label neighbors only), the production "filtered vector
    * search" problem. The predicate is applied to the CANDIDATE SET
    * before any top-k cut — candidates are (same cell ∩ same label) —
    * never as a post-filter over an unfiltered top-k, which is the
    * classic recall bug (a k-cut taken before the predicate can starve
    * or empty the filtered result). Ground truth is the brute filtered
    * top-k (broadcast of [[QueryLimit]] queries — O(Q·N), linear in the
    * corpus); published output is the checked recall + candidate
    * counts, the same surface as [[ivfRecall]], at [[FilteredCells]]
    * cells and recall@[[FilteredK]]. */
  def filteredAnn(s: SparkSession, d: String): DataFrame = {
    val n = withNorm(s, d)
    val sameLabel = "q_label = c_label"
    recallFold(bruteTopK(s, d, n, FilteredK, sameLabel),
        scoreIds(n, cellIds(s, d, FilteredCells), sameLabel), FilteredK)
      .selectExpr(s"$FilteredCells AS cells", "n_queries", "n_brute", "n_cand", "n_matched",
        "recall_at_k")
  }

  /** DuckDB twin of [[filteredAnn]]. */
  def filteredAnnOracle: String = {
    val sfx = s"_f$FilteredCells"
    s"""WITH $duckNormCte,
       |fbrute AS (SELECT q_id, c_id FROM (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |         ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |           ORDER BY ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
       |                    c.vec_id) AS rnk
       |  FROM n q JOIN n c ON q.vec_id <> c.vec_id AND q.label = c.label
       |  WHERE q.vec_id < $QueryLimit) WHERE rnk <= $FilteredK),
       |${duckCellCtes(FilteredCells, sfx)},
       |${duckCellIds("fids", s"cells$sfx")},
       |fcand AS (SELECT q_id, c_id,
       |    ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
       |  FROM fids JOIN n q ON q.vec_id = q_id JOIN n c ON c.vec_id = c_id
       |  WHERE q.label = c.label),
       |${duckTopK("fapprox", "fcand", FilteredK)}
       |${duckRecallSelect(s"$FilteredCells AS cells", "fbrute", "fapprox",
          Seq("fbrute" -> "n_brute", "fcand" -> "n_cand"))}""".stripMargin
  }

  /** Recall@k of MULTI-PROBE IVF: queries probe their `nprobe` nearest
    * cells instead of one — the standard recall lever of a production
    * IVF index (FAISS's nprobe). Members still live in exactly one
    * cell, so candidates grow ∝ nprobe while the index build is
    * unchanged; recall climbs toward brute force as nprobe → cells.
    * One broadcast argmax pass RANKS the cells per vector; rank 1 is
    * the member assignment, ranks ≤ nprobe are the query's probe set —
    * the same scored frame serves both, no second pass. */
  def ivfProbeRecall(s: SparkSession, d: String, cells: Int, nprobe: Int): DataFrame = {
    // one table load serves the cell ranking and the exact scoring
    val n = withNorm(s, d)
    val cent = n.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("c_cos").desc, col("cent_id"))
    val ranked = n.join(broadcast(cent))
      .selectExpr("vec_id", "cent_id", "cosine_sim(embedding, cent_emb) AS c_cos")
      .withColumn("rn", row_number().over(wAssign))
    val members = ranked.filter(col("rn") === 1)
      .select(col("vec_id").as("c_id"), col("cent_id").as("c_cell"))
    val probes = ranked.filter(col("vec_id") < QueryLimit && col("rn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("cent_id").as("cell"))
    // unique by construction: one member cell per c_id, nprobe distinct
    // probe cells per q_id — no distinct needed on the candidate join
    val candIds = probes.join(members,
        col("cell") === col("c_cell") && col("q_id") =!= col("c_id"))
      .select("q_id", "c_id")
    recallFold(bruteTopK(s, d, n, RecallK), scoreIds(n, candIds), RecallK)
      .selectExpr(s"$cells AS cells", s"$nprobe AS nprobe", "n_queries", "n_cand", "n_matched",
        "recall_at_k")
  }

  /** DuckDB twin of [[ivfProbeRecall]] (expects the shared `n` and
    * `brute` CTEs); suffixed by nprobe so settings union. */
  def ivfProbeRecallOracleCtes(cells: Int, nprobe: Int): (String, String) = {
    val sfx = s"_p$nprobe"
    val cos = s"${duckDot("e.embedding", "c.cent_emb")} / " +
      s"(sqrt(${duckDot("e.embedding", "e.embedding")}) * sqrt(${duckDot("c.cent_emb", "c.cent_emb")}))"
    duckIdRecall(sfx, s"$cells AS cells, $nprobe AS nprobe",
      s"""ranked$sfx AS (
         |  SELECT vec_id, cent_id,
         |         ROW_NUMBER() OVER (PARTITION BY vec_id
         |           ORDER BY c_cos DESC, cent_id) AS rn
         |  FROM (SELECT e.vec_id, c.cent_id, $cos AS c_cos
         |        FROM embeddings e CROSS JOIN
         |          (SELECT vec_id AS cent_id, embedding AS cent_emb
         |           FROM embeddings WHERE vec_id < $cells) c)),
         |ids$sfx AS (
         |  SELECT q.vec_id AS q_id, m.vec_id AS c_id
         |  FROM ranked$sfx q JOIN ranked$sfx m
         |    ON q.cent_id = m.cent_id AND m.rn = 1 AND q.vec_id <> m.vec_id
         |  WHERE q.vec_id < $QueryLimit AND q.rn <= $nprobe)""".stripMargin, RecallK)
  }

  /** DuckDB twin of [[ivfRecall]]; cell CTEs suffixed by the cell count
    * so two settings union in one statement (expects the shared `n` and
    * `brute` CTEs of [[recallOracleBruteCte]]). */
  def ivfRecallOracleCtes(cells: Int): (String, String) = {
    val sfx = s"_c$cells"
    duckIdRecall(sfx, s"$cells AS cells",
      s"""${duckCellCtes(cells, sfx)},
         |${duckCellIds(s"ids$sfx", s"cells$sfx")}""".stripMargin, RecallK)
  }

  /** DuckDB twin of the SIZED [[lshAnn]]: the bit count comes from the
    * live COUNT(*) through the same integer rule as [[lshBitsFor]], so
    * the oracle follows the knob wherever the data scale puts it. */
  def lshOracleSized: String =
    s"""WITH $duckNormCte,
       |$duckLshSizedCte,
       |b AS (SELECT vec_id, embedding, nrm, $duckBucketSized AS bucket
       |      FROM n CROSS JOIN sized),
       |$duckLshProbe""".stripMargin

  /** The probe tail of both LSH twins over `b(vec_id, embedding, nrm,
    * bucket)`: in-bucket top-1 per query with its candidate count. */
  private def duckLshProbe: String =
    s"""scored AS (
       |  SELECT q.vec_id AS q_id, q.bucket AS bucket, c.vec_id AS c_id,
       |         ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
       |  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < $QueryLimit),
       |ranked AS (
       |  SELECT q_id, bucket, c_id, cosine,
       |         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnk,
       |         COUNT(*) OVER (PARTITION BY q_id) AS n_cand
       |  FROM scored)
       |SELECT q_id, bucket, c_id AS nn_id, cosine, n_cand FROM ranked WHERE rnk = 1
       |ORDER BY q_id""".stripMargin

  /** DuckDB twin of the SIZED [[ivfAnn]]: cell count = ⌊√COUNT(*)⌋
    * ([[ivfCellsFor]]) computed in the statement itself. */
  def ivfOracleSized(): String =
    s"""WITH sizedc AS (
       |  SELECT GREATEST(4, CAST(floor(sqrt(COUNT(*))) AS INT)) AS c FROM embeddings),
       |${duckCellCtesExpr("(SELECT c FROM sizedc)")},
       |$duckFlatProbe""".stripMargin

  /** Cell count past which [[ivfSizedAnn]] assigns two-level. */
  private val FlatCellCap = 64

  /** COUNT-driven IVF — the production sized entry. The cell count
    * executes [[ivfCellsFor]]; the ASSIGNMENT strategy gates on it:
    * flat broadcast argmax while cells ≤ `flatCellCap` (N·cells dots —
    * fine at small N, where a second quantizer level is pure overhead),
    * two-level [[hierCellAssign]] past it (≈2·N^1.25 dots — the fix for
    * flat's N^1.5 build, 84× fewer dots at 10⁹ vectors). Cap 64
    * ⟺ N ≈ 4096: by then the flat assignment does ≥64 dots/vector
    * while hier does ~8+8, so the crossover is safely behind it. The
    * oracle twin recomputes cells AND the gate from COUNT(*) at
    * [[FlatCellCap]]; `flatCellCap` is injectable so specs can pin both
    * branches without scale fixtures. */
  def ivfSizedAnn(s: SparkSession, d: String, flatCellCap: Int = FlatCellCap): DataFrame = {
    val cells = ivfCellsFor(Tables.embeddings(s, d).count())
    if (cells > flatCellCap) ivfHierAnn(s, d) else ivfAnn(s, d, cells)
  }

  /** Oracle twin of [[ivfSizedAnn]]: both regime statements as
    * subqueries, gated by mutually exclusive predicates on the same
    * ⌊√COUNT(*)⌋ the Spark side executes — exactly one contributes
    * rows. */
  def ivfOracleGated: String = {
    val gate = "SELECT GREATEST(4, CAST(floor(sqrt(COUNT(*))) AS INT)) FROM embeddings"
    s"""SELECT * FROM (${ivfOracleSized()}) WHERE ($gate) <= $FlatCellCap
       |UNION ALL
       |SELECT * FROM ($ivfHierOracle) WHERE ($gate) > $FlatCellCap
       |ORDER BY q_id""".stripMargin
  }

  /** DuckDB twin of [[lshAnn]], generated from the same parameters. */
  def lshOracle(bits: Int): String =
    s"""WITH $duckNormCte,
       |b AS (SELECT vec_id, embedding, nrm, ${duckBucket(bits)} AS bucket FROM n),
       |$duckLshProbe""".stripMargin

  /** Directed k-NN edges within the sized coarse-quantizer cells:
    * every vector's top-`k` neighbors by quantized cosine, ties by
    * dst id. The all-nodes companion of the probe-only IVF entries —
    * an index serves 20 queries, a GRAPH ranks neighbors for every
    * node. Cell-bounded like q_semdedup (~N^1.5 pair work, never N²),
    * but the output is per-node RANKED edges, not a thresholded pair
    * set: a threshold yields an unboundedly-sized pair list, top-k
    * yields ≤ k·N edges — the fixed-size artifact downstream graph
    * jobs (quality propagation, cluster pruning, graph dedup) join
    * against. */
  /** Largest k any [[knnEdges]] consumer asks for. The ranked edge
    * relation is memoized ONCE at this cap and smaller-k callers filter
    * `rnk <= k` — `row_number` over the same (cosine DESC, dst) window
    * makes the k=3 slice of the k=4 frame bit-identical to a fresh k=3
    * ranking, so one within-cell scoring pass (the ~N^1.5 part) serves
    * q_knn_graph, q_knn_mutual, q_knn_cluster AND q_semdedup. */
  private[graft] val KnnEdgeCap = 4

  private[graft] def knnEdges(s: SparkSession, d: String, k: Int): DataFrame = {
    require(k <= KnnEdgeCap, s"knnEdges k=$k exceeds memoized cap $KnnEdgeCap")
    // Session-memoized like the shingle frame and the cell assignment:
    // the within-cell join + cosine scoring + per-src ranking ran once
    // per CALLER before — four knn-family queries paid it four times.
    //
    // Measured dead end (round 10, sf10, interleaved medians): scoring
    // each unordered pair once (join on src < dst, then explode into
    // both directed rows) is NOT faster — 21.5 vs 21.1 s. The quantized
    // 64-float cosine is a minor share of the build; join-row
    // materialization and the per-src top-k (whose input row count the
    // explode restores to exactly today's) dominate, and the generate
    // overhead cancels the halved scoring. Keep the direct two-sided
    // join.
    val ranked = graft.FrameCache.memo(s, s"knnedges:$d:$KnnEdgeCap") {
      val cellFrame = cellAssign(s, d, ivfCellsFor(Tables.embeddings(s, d).count()))
      val x = cellFrame.select(col("vec_id").as("src"), col("embedding").as("ea"),
        col("cell"))
      val y = cellFrame.select(col("vec_id").as("dst"), col("embedding").as("eb"),
        col("cell").as("cellb"))
      val w = Window.partitionBy("src").orderBy(col("cosine").desc, col("dst"))
      x.join(y, col("cell") === col("cellb") && col("src") =!= col("dst"))
        .selectExpr("src", "cell", "dst", "cosine_sim(ea, eb) AS cosine")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= KnnEdgeCap)
    }
    if (k == KnnEdgeCap) ranked else ranked.filter(col("rnk") <= k)
  }

  /** DuckDB CTE chain ending in `knn(src, cell, dst, cosine, rnk)` —
    * the twin of [[knnEdges]] over the same sized cell assignment. */
  private def duckKnnCtes(k: Int): String =
    s"""sizedc AS (
       |  SELECT GREATEST(4, CAST(floor(sqrt(COUNT(*))) AS INT)) AS c FROM embeddings),
       |${duckCellCtesExpr("(SELECT c FROM sizedc)")},
       |knn AS (
       |  SELECT src, cell, dst, cosine,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY src
       |              ORDER BY cosine DESC, dst) AS INT) AS rnk FROM (
       |    SELECT x.vec_id AS src, x.cell AS cell, y.vec_id AS dst,
       |      ${duckDot("x.embedding", "y.embedding")}
       |        / (sqrt(${duckDot("x.embedding", "x.embedding")})
       |           * sqrt(${duckDot("y.embedding", "y.embedding")})) AS cosine
       |    FROM cells x JOIN cells y ON x.cell = y.cell AND x.vec_id <> y.vec_id)
       |  QUALIFY rnk <= $k)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Brute-force cosine top-k: broadcast 8 query vectors, one pass over
    // candidates, per-query top-5.
    QueryDef(
      "q_sim_topk",
      (s, d) => {
        val (q, c) = sides(withNorm(s, d))
        topK(c.join(broadcast(q.filter(col("q_id") < 8)), col("q_id") =!= col("c_id"))
            .selectExpr("q_id", "c_id", exactCosine), 5)
          .select("q_id", "rnk", "c_id", "cosine")
          .orderBy("q_id", "rnk")
      },
      Some(s"""WITH $duckNormCte,
              |scored AS (
              |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
              |         ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
              |  FROM n q JOIN n c ON q.vec_id < 8 AND q.vec_id <> c.vec_id),
              |ranked AS (
              |  SELECT q_id, c_id, cosine,
              |         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS INT) AS rnk
              |  FROM scored)
              |SELECT q_id, rnk, c_id, cosine FROM ranked WHERE rnk <= 5
              |ORDER BY q_id, rnk""".stripMargin),
      headline = false),

    // Hard-negative mining for contrastive training: per query vector,
    // the top-3 most-similar candidates with a DIFFERENT label — the
    // negatives that actually move a contrastive loss (random negatives
    // are trivially separable; same-label neighbors are false
    // negatives). Same broadcast-query / per-query-window shape as
    // q_sim_topk with the label disequality fused into the join
    // predicate, so rejected candidates never materialize; at 100 TB
    // the candidate stream rides the LSH/IVF buckets like every other
    // ANN entry and the label filter stays in the probe.
    QueryDef(
      "q_hard_negatives",
      (s, d) => {
        val (q, c) = sides(withNorm(s, d))
        topK(c.join(broadcast(q.filter(col("q_id") < 8)), col("q_label") =!= col("c_label"))
            .selectExpr("q_id", "c_id", exactCosine), 3)
          .select("q_id", "rnk", "c_id", "cosine")
          .orderBy("q_id", "rnk")
      },
      Some(s"""WITH $duckNormCte,
              |scored AS (
              |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
              |         ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
              |  FROM n q JOIN n c ON q.vec_id < 8 AND q.label <> c.label),
              |ranked AS (
              |  SELECT q_id, c_id, cosine,
              |         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS INT) AS rnk
              |  FROM scored)
              |SELECT q_id, rnk, c_id, cosine FROM ranked WHERE rnk <= 3
              |ORDER BY q_id, rnk""".stripMargin),
      headline = false),

    // MMR diverse re-ranking (maximal marginal relevance, λ = 1/2): from
    // the top-16 candidates by relevance to a query vector, greedily
    // pick k = 5, each round taking argmax of rel(c) − max_{s∈S} sim(c,s)
    // — the standard retrieval re-rank that stops a result page being
    // five near-copies of the same hit. λ = 1/2 keeps the whole
    // trajectory on the BIGINT quantized-dot grid (argmax of ½rel −
    // ½maxsim ≡ argmax of rel − maxsim), so both engines replay the
    // greedy choices exactly; ties break by vec_id. Scale shape:
    // candidate generation is a broadcast-query scan + distributed
    // TakeOrdered (never a global window); the greedy loop is k − 1
    // bounded rounds over the 16-row candidate frame (locally
    // checkpointed, the labelProp discipline), each a ≤16×k cross
    // product — driver-bounded by the CONSTANT k, independent of N.
    QueryDef(
      "q_rank_mmr",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val q = broadcast(e.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_emb")))
        val cand0 = e.filter(col("vec_id") =!= 0)
          .crossJoin(q)
          .selectExpr("vec_id", "embedding",
            s"${sparkIntDot("q_emb", "embedding")} AS rel")
          .orderBy(col("rel").desc, col("vec_id"))
          .limit(16)
        val cand = graft.FrameCache.rebase(cand0)
        var sel = cand.orderBy(col("rel").desc, col("vec_id")).limit(1)
          .select(lit(1).as("pick"), col("vec_id"), col("rel"), col("rel").as("score"))
        for (t <- 2 to 5) {
          val selIds = sel.select("vec_id")
          val selEmb = cand.join(selIds, "vec_id")
            .select(col("embedding").as("s_emb"))
          val pick = cand.join(selIds, Seq("vec_id"), "left_anti")
            .crossJoin(selEmb)
            .selectExpr("vec_id", "rel",
              s"${sparkIntDot("embedding", "s_emb")} AS sim")
            .groupBy("vec_id", "rel").agg(max(col("sim")).as("mx"))
            .selectExpr(s"$t AS pick", "vec_id", "rel", "rel - mx AS score")
            .orderBy(col("score").desc, col("vec_id")).limit(1)
          sel = graft.FrameCache.rebase(sel.unionByName(pick))
        }
        sel.selectExpr("pick", "vec_id",
            "CAST(rel AS DOUBLE) / 100000000000000 AS rel",
            "CAST(score AS DOUBLE) / 100000000000000 AS score")
          .orderBy("pick")
      }, {
        def round(t: Int): String =
          s"""s$t AS (
             |  SELECT $t AS pick, vec_id, rel, rel - mx AS score FROM (
             |    SELECT c.vec_id, c.rel,
             |      MAX(${duckIntDot("c.embedding", "sc.embedding")}) AS mx
             |    FROM cand c CROSS JOIN cand sc
             |    WHERE sc.vec_id IN (SELECT vec_id FROM sel${t - 1})
             |      AND c.vec_id NOT IN (SELECT vec_id FROM sel${t - 1})
             |    GROUP BY c.vec_id, c.rel)
             |  ORDER BY score DESC, vec_id LIMIT 1),
             |sel$t AS (SELECT vec_id FROM sel${t - 1} UNION ALL SELECT vec_id FROM s$t)""".stripMargin
        Some(s"""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
                |cand AS (
                |  SELECT vec_id, embedding, ${duckIntDot("embedding", "q_emb")} AS rel
                |  FROM embeddings CROSS JOIN q WHERE vec_id <> 0
                |  ORDER BY rel DESC, vec_id LIMIT 16),
                |s1 AS (SELECT 1 AS pick, vec_id, rel, rel AS score
                |       FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
                |sel1 AS (SELECT vec_id FROM s1),
                |${(2 to 5).map(round).mkString(",\n")}
                |SELECT pick, vec_id,
                |  CAST(rel AS DOUBLE) / 100000000000000 AS rel,
                |  CAST(score AS DOUBLE) / 100000000000000 AS score
                |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL
                |      SELECT * FROM s3 UNION ALL SELECT * FROM s4
                |      UNION ALL SELECT * FROM s5)
                |ORDER BY pick""".stripMargin)
      }),

    // LSH-bucketed approximate nearest neighbor: equi-join on the sign
    // bucket, top-1 within bucket (queries whose bucket holds no other
    // vector drop out — approximate by construction). Two variants are
    // oracle-checked: a fixed 8-bit setting, and the SIZED one whose
    // bit count comes from [[lshBitsFor]] over the live row count — the
    // sizing rule is executed, not just documented, and the oracle
    // recomputes the same count-driven b in SQL, so the knob tracks N
    // wherever the verify scale puts it (ScaleSpec pins the growth).
    QueryDef("q_sim_lsh", (s, d) => lshAnn(s, d, bits = 8), Some(lshOracle(bits = 8))),
    QueryDef(
      "q_sim_lsh_scaled",
      (s, d) => lshAnn(s, d, bits = lshBitsFor(Tables.embeddings(s, d).count())),
      Some(lshOracleSized)),

    // Native-expression path: the same quantized cosine as a custom
    // Catalyst Expression with codegen ([[graft.functions.CosineSim]])
    // — a fused loop instead of the HOF's per-row lambda array.
    // Identical numerics → same oracle machinery.
    QueryDef(
      "q_sim_cosine",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val x = e.filter(col("vec_id") < 50)
          .select(col("vec_id").as("a"), col("embedding").as("ea"))
        val y = e.select(col("vec_id").as("b"), col("embedding").as("eb"))
        x.join(y, col("a") < col("b"))
          .selectExpr("a", "b", "cosine_sim(ea, eb) AS cosine")
          .filter(col("cosine") >= 0.3)
          .orderBy("a", "b")
      },
      Some(s"""SELECT a, b, cosine FROM (
              |  SELECT x.vec_id AS a, y.vec_id AS b,
              |         ${duckDot("x.embedding", "y.embedding")}
              |           / (sqrt(${duckDot("x.embedding", "x.embedding")})
              |              * sqrt(${duckDot("y.embedding", "y.embedding")})) AS cosine
              |  FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
              |  WHERE x.vec_id < 50)
              |WHERE cosine >= 0.3 ORDER BY a, b""".stripMargin)),

    // IVF-style ANN: a fixed coarse quantizer (centroids = the first
    // `cells` vectors — deterministic, no trained state) assigns every
    // vector to its nearest cell; queries probe ONLY their own cell. The
    // inverted structure is the point: at 100 TB the cell assignment is
    // one broadcast-join map pass, and each probe touches |cell| ≈
    // N/cells candidates instead of N. `cells` must track √N — the
    // SIZED variant executes [[ivfCellsFor]] over the live count (and
    // its oracle recomputes ⌊√COUNT(*)⌋ in SQL), so growing the table
    // grows the quantizer without touching the query — and past 64
    // cells the ASSIGNMENT goes two-level ([[ivfSizedAnn]]): the flat
    // N·√N build was the sized entry's scale ceiling (8.1× wall at
    // 100× rows vs hier's 2.1×, BASELINE.md).
    QueryDef("q_sim_ivf", (s, d) => ivfAnn(s, d, cells = 8), Some(ivfOracle(cells = 8))),
    QueryDef(
      "q_sim_ivf_scaled",
      (s, d) => ivfSizedAnn(s, d),
      Some(ivfOracleGated)),

    // Two-level coarse quantizer: N^¼ super-cells bound the INDEX BUILD
    // to ~2·N^1.25 dots (flat √N assignment is N^1.5 — 3×10¹³ at 10⁹
    // vectors); probes equi-join on the final sub-cell as before. See
    // [[hierCellAssign]] for the construction and the trade.
    QueryDef("q_ivf_hier", (s, d) => ivfHierAnn(s, d), Some(ivfHierOracle)),

    // Recall@5 across three index settings — the recall/cost surface
    // the bucketing specs only imply: 8→10 bits must show fewer scored
    // candidates and no higher recall; 1→4 tables must show more
    // candidates and higher recall. Single-probe single-table sign-LSH
    // recalls poorly by construction (the honest number is the point);
    // tables are the production lever that buys it back. Untimed, like
    // every recall entry: a verify-gated measurement whose ground
    // truth is brute-force top-k.
    QueryDef(
      "q_sim_recall",
      (s, d) => annRecall(s, d, bits = 8, tables = 1)
        .unionAll(annRecall(s, d, bits = 10, tables = 1))
        .unionAll(annRecall(s, d, bits = 8, tables = 4))
        .orderBy("bits", "tables"), {
        val settings = Seq((8, 1), (10, 1), (8, 4))
        val parts = settings.map { case (b, t) => recallOracleCtes(b, t) }
        Some(s"""WITH $duckNormCte,
                |$recallOracleBruteCte,
                |${parts.map(_._1).mkString(",\n")}
                |${parts.map(_._2).mkString("\nUNION ALL\n")}
                |ORDER BY bits, tables""".stripMargin)
      },
      headline = false),

    // IVF recall at both oracle-checked cell settings — completes the
    // recall surface (LSH: bits×tables; PQ: ADC rank retention; this:
    // the coarse-quantizer knob). More cells cuts candidates ~∝ 1/cells
    // (6206 → 2209 here); recall is NOT monotone in cells — the finer
    // quantizer also assigns more faithfully (0.296 → 0.318 at this N),
    // which is exactly why the knob needs measuring, not assuming.
    // Centroid-bucketed probing recalls an order of magnitude better
    // than single-table sign-LSH at comparable candidate budgets.
    // Untimed: a verify-gated recall measurement.
    QueryDef(
      "q_ivf_recall",
      (s, d) => ivfRecall(s, d, cells = 8)
        .unionAll(ivfRecall(s, d, cells = 22))
        .orderBy("cells"), {
        val parts = Seq(8, 22).map(c => ivfRecallOracleCtes(c))
        Some(s"""WITH $duckNormCte,
                |$recallOracleBruteCte,
                |${parts.map(_._1).mkString(",\n")}
                |${parts.map(_._2).mkString("\nUNION ALL\n")}
                |ORDER BY cells""".stripMargin)
      },
      headline = false),

    // Filtered vector search: the metadata predicate (same label)
    // intersects the candidate set BEFORE the top-k cut — pre-filter,
    // never post-filter (the recall bug every production vector store
    // documents). Rides the memoized cell assignment.
    QueryDef(
      "q_ann_filtered",
      (s, d) => filteredAnn(s, d),
      Some(filteredAnnOracle)),

    // Multi-probe recall curve at a fixed quantizer: nprobe = 1, 2, 4
    // over 22 cells. Probing more cells buys recall linearly in
    // candidates WITHOUT rebuilding the index — the knob a production
    // IVF serves queries with (cells sets the build, nprobe the
    // per-query recall/latency point). ScaleSpec pins monotonicity.
    // Untimed: a verify-gated recall measurement.
    QueryDef(
      "q_ivf_probe_recall",
      (s, d) => ivfProbeRecall(s, d, cells = 22, nprobe = 1)
        .unionAll(ivfProbeRecall(s, d, cells = 22, nprobe = 2))
        .unionAll(ivfProbeRecall(s, d, cells = 22, nprobe = 4))
        .orderBy("nprobe"), {
        val parts = Seq(1, 2, 4).map(p => ivfProbeRecallOracleCtes(22, p))
        Some(s"""WITH $duckNormCte,
                |$recallOracleBruteCte,
                |${parts.map(_._1).mkString(",\n")}
                |${parts.map(_._2).mkString("\nUNION ALL\n")}
                |ORDER BY nprobe""".stripMargin)
      },
      headline = false),

    // Random-projection (JL) recall curve: top-k in the ±1-projected
    // 8/16/32-dim spaces vs exact 64-dim top-k — measures what each
    // dot-cost cut (8×/4×/2×) costs in recall ([[rpRecall]]). The
    // lower dims are prefixes of the same sign matrix, so the curve
    // isolates the dimension knob. Untimed: a verify-gated recall
    // measurement.
    QueryDef(
      "q_rp_recall",
      (s, d) => rpRecall(s, d, projDim = 8)
        .unionAll(rpRecall(s, d, projDim = 16))
        .unionAll(rpRecall(s, d, projDim = 32))
        .orderBy("proj_dim"), {
        val parts = Seq(8, 16, 32).map(rpRecallOracleCtes)
        Some(s"""WITH $duckNormCte,
                |$recallOracleBruteCte,
                |${parts.map(_._1).mkString(",\n")}
                |${parts.map(_._2).mkString("\nUNION ALL\n")}
                |ORDER BY proj_dim""".stripMargin)
      },
      headline = false),

    // Embedding-cosine near-dup pairs, brute force (verify-scale
    // baseline; the LSH bucket join above is the 100 TB shape).
    QueryDef(
      "q_dedup_embed",
      (s, d) => {
        val n = withNorm(s, d)
        val x = n.select(col("vec_id").as("a"), col("embedding").as("ea"), col("nrm").as("na"))
        val y = n.select(col("vec_id").as("b"), col("embedding").as("eb"), col("nrm").as("nb"))
        x.join(y, col("a") < col("b"))
          .selectExpr("a", "b", s"${sparkDot("ea", "eb")} / (na * nb) AS cosine")
          .filter(col("cosine") >= 0.4)
          .orderBy("a", "b")
      },
      Some(s"""WITH $duckNormCte
              |SELECT a, b, cosine FROM (
              |  SELECT x.vec_id AS a, y.vec_id AS b,
              |         ${duckDot("x.embedding", "y.embedding")} / (x.nrm * y.nrm) AS cosine
              |  FROM n x JOIN n y ON x.vec_id < y.vec_id)
              |WHERE cosine >= 0.4 ORDER BY a, b""".stripMargin),
      headline = false),

    // Semantic dedup (the SemDeDup shape, Abbas et al. 2023): assign
    // every embedding to its nearest of ⌊√N⌋ coarse-quantizer cells
    // (the memoized sized-IVF assignment), then take near-dup pairs
    // from each vector's WITHIN-CELL TOP-k CANDIDATES — the paper's
    // per-cluster pruning, realized over the k-NN edge relation
    // ([[knnEdges]]) instead of thresholded all-pairs. The threshold
    // is a FILTER on the bounded edge set: the scoring work is the
    // same ~N^1.5 within-cell ranking either way, but the surviving
    // relation is ≤ k·N rows by construction — the all-pairs variant's
    // output (and its sort/exchange) grew with the pair count, which
    // is what made it the one family scaling super-linearly at 100×
    // rows. Cross-cell near-dups and in-cell dups past rank k are the
    // measured recall trade, same as any clustered dedup. Both edge
    // directions collapse to (min, max): the elementwise dot and the
    // commuted norm product are bit-identical under IEEE, so DISTINCT
    // is exact. Dropping max(a, b) per pair is the dedup decision.
    QueryDef(
      "q_semdedup",
      (s, d) => knnEdges(s, d, k = 4)
        .selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b",
          "cell", "cosine")
        .filter(col("cosine") >= 0.4)
        .distinct()
        .orderBy("a", "b"),
      Some(s"""WITH ${duckKnnCtes(4)}
              |SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
              |       cell, cosine
              |FROM knn WHERE cosine >= 0.4
              |ORDER BY a, b""".stripMargin)),

    // Embedding-space decontamination: flag corpus vectors semantically
    // close (cosine ≥ 0.35) to ANY vector of an evaluation set — the
    // companion to q_decontaminate's shingle overlap, catching the
    // paraphrased leaks n-grams miss. The eval slice (vec_id % 97 = 0,
    // same stand-in convention as q_decontaminate, ADDITIONALLY capped
    // to the base id range: an eval benchmark is an external FIXED-SIZE
    // artifact — a slice that grew with the corpus would quietly turn
    // the scan into an N×(N/97) product at scale) is BROADCAST and the
    // corpus is scanned ONCE with per-row work bounded by the fixed
    // |eval|: a broadcast nested-loop with zero corpus shuffle, which
    // beats any index build below ~10⁵ eval vectors. (Past that, route
    // the eval set through the q_sim_lsh_scaled buckets instead.)
    // Output = per-flagged-vector hit count + max cosine, the audit
    // columns a contamination report needs.
    QueryDef(
      "q_decontaminate_semantic",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val ev = e.filter(col("vec_id") % 97 === 0 && col("vec_id") < 2000)
          .select(col("vec_id").as("b"), col("embedding").as("eb"))
        e.filter(col("vec_id") % 97 =!= 0 || col("vec_id") >= 2000)
          .select(col("vec_id"), col("embedding").as("ea"))
          .crossJoin(broadcast(ev))
          .selectExpr("vec_id", "cosine_sim(ea, eb) AS c")
          .filter(col("c") >= 0.35)
          .groupBy("vec_id")
          .agg(count(lit(1)).as("n_hits"), max(col("c")).as("max_cos"))
          .orderBy("vec_id")
      },
      Some(s"""SELECT vec_id, COUNT(*) AS n_hits, MAX(c) AS max_cos FROM (
              |  SELECT x.vec_id AS vec_id,
              |    ${duckDot("x.embedding", "y.embedding")}
              |      / (sqrt(${duckDot("x.embedding", "x.embedding")})
              |         * sqrt(${duckDot("y.embedding", "y.embedding")})) AS c
              |  FROM embeddings x JOIN embeddings y
              |    ON (x.vec_id % 97 <> 0 OR x.vec_id >= 2000)
              |    AND y.vec_id % 97 = 0 AND y.vec_id < 2000)
              |WHERE c >= 0.35 GROUP BY vec_id ORDER BY vec_id""".stripMargin)),

    // k-NN graph build: every vector's top-3 within-cell neighbors —
    // see [[knnEdges]] for why the graph (all nodes, ranked, ≤ 3N
    // edges) is a different artifact from the probe entries (20
    // queries) and the thresholded pair sets (unbounded size). At
    // 100 TB this is the standard pre-pass for graph-based corpus
    // curation: build once, then every downstream filter (quality
    // propagation, cluster pruning) is an equi-join on src/dst.
    QueryDef(
      "q_knn_graph",
      (s, d) => knnEdges(s, d, k = 3)
        .select("src", "rnk", "dst", "cosine")
        .orderBy("src", "rnk"),
      Some(s"""WITH ${duckKnnCtes(3)}
              |SELECT src, rnk, dst, cosine FROM knn
              |ORDER BY src, rnk""".stripMargin)),

    // Mutual k-NN edges: keep (a, b) only when a ranks b in its top-3
    // AND b ranks a in its own — the reciprocity filter that turns the
    // directed graph into the cluster-grade edge set (one-way edges
    // are hub artifacts: a boilerplate-adjacent vector appears in
    // thousands of top-k lists without reciprocating). Self-join of
    // the k-NN relation on the reversed key — ≤ 3N × 3N on (src,dst),
    // an equi-join, never a pair re-score.
    QueryDef(
      "q_knn_mutual",
      (s, d) => {
        val e = knnEdges(s, d, k = 3)
        val fwd = e.select(col("src").as("a"), col("dst").as("b"), col("cosine"))
        val rev = e.select(col("src").as("rb"), col("dst").as("ra"))
        fwd.join(rev, col("a") === col("ra") && col("b") === col("rb"))
          .filter(col("a") < col("b"))
          .select("a", "b", "cosine")
          .orderBy("a", "b")
      },
      Some(s"""WITH ${duckKnnCtes(3)}
              |SELECT f.src AS a, f.dst AS b, f.cosine AS cosine
              |FROM knn f JOIN knn r ON f.src = r.dst AND f.dst = r.src
              |WHERE f.src < f.dst
              |ORDER BY a, b""".stripMargin)),

    // Semantic clusters from the mutual k-NN graph — the graph twin of
    // q_dedup_cc: connected components over the reciprocated edge set
    // (min-label + pointer jumping, O(log d) keyed shuffles — the same
    // [[graft.operators.Clustering.connectedComponents]] the MinHash
    // dedup uses), a component size per member, and a DETERMINISTIC
    // survivor pick (keep = 1 on the min-id member, which IS the
    // component label). Mutual edges only: one-way edges are hub
    // artifacts (a boilerplate-adjacent vector appears in thousands of
    // top-k lists without reciprocating), so clustering the directed
    // graph would chain unrelated docs through hubs. Input is ≤ k·N
    // edges by construction; nothing downstream of the edge build
    // touches an embedding again.
    QueryDef(
      "q_knn_cluster",
      (s, d) => {
        val e = knnEdges(s, d, k = 3)
        val fwd = e.select(col("src").as("a"), col("dst").as("b"))
        val rev = e.select(col("src").as("rb"), col("dst").as("ra"))
        val mutual = fwd.join(rev, col("a") === col("ra") && col("b") === col("rb"))
          .filter(col("a") < col("b"))
          .select("a", "b")
        val cc = graft.operators.Clustering.connectedComponents(mutual)
        val sizes = cc.groupBy("lab").agg(count(lit(1)).as("cluster_size"))
        cc.join(sizes, "lab")
          .selectExpr("v AS vec_id", "lab AS cluster", "cluster_size",
            "CAST(v = lab AS INT) AS keep")
          .orderBy("vec_id")
      },
      Some(s"""WITH RECURSIVE ${duckKnnCtes(3)},
              |mutual AS (
              |  SELECT f.src AS a, f.dst AS b
              |  FROM knn f JOIN knn r ON f.src = r.dst AND f.dst = r.src
              |  WHERE f.src < f.dst),
              |edges AS (SELECT a AS src, b AS dst FROM mutual
              |          UNION ALL SELECT b, a FROM mutual),
              |reach(v, r) AS (
              |  SELECT src, src FROM edges
              |  UNION
              |  SELECT reach.v, edges.dst FROM reach JOIN edges ON edges.src = reach.r),
              |cc AS (SELECT v, MIN(r) AS cluster FROM reach GROUP BY v),
              |sizes AS (SELECT cluster, COUNT(*) AS cluster_size FROM cc GROUP BY cluster)
              |SELECT cc.v AS vec_id, cc.cluster AS cluster, sizes.cluster_size,
              |       CAST(cc.v = cc.cluster AS INT) AS keep
              |FROM cc JOIN sizes ON cc.cluster = sizes.cluster
              |ORDER BY vec_id""".stripMargin)),

    // ANN JOIN — both sides LARGE. The probe entries (q_sim_ivf*,
    // q_sim_lsh*) broadcast a fixed 20-query set; the production
    // retrieval shape is a join between two data-sized relations
    // (candidate passages × training queries, corpus × corpus for
    // cross-dataset linking) where neither side fits a broadcast. The
    // cell index is the join strategy: both sides route through the
    // SAME sized coarse quantizer (the memoized [[cellAssign]] the knn
    // family fills — this entry adds zero build work when it runs after
    // them), the join is a plain equi-join ON CELL (one hash shuffle of
    // each side, keyed by ~√N cells), and each left row ranks only its
    // cell's ~√N right-side candidates — N·√N dots total, never N².
    // Left = odd vec_ids, right = even (a deterministic 50/50 split
    // standing in for two tables; at 100 TB the two sides are separate
    // relations assigned through the same frozen centroid set). Output
    // is per-left-row top-1 with the candidate count it was ranked
    // from — left rows whose cell holds no right-side row drop (an
    // inner retrieval join; the asof/left variants are a filter away).
    QueryDef(
      "q_ann_join",
      (s, d) => {
        val cellFrame = cellAssign(s, d, ivfCellsFor(Tables.embeddings(s, d).count()))
        val q = cellFrame.filter(col("vec_id") % 2 === 1)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("cell"))
        val c = cellFrame.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
            col("cell").as("c_cell"))
        val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("c_id"))
        q.join(c, col("cell") === col("c_cell"))
          .selectExpr("q_id", "cell", "c_id", "cosine_sim(q_emb, c_emb) AS cosine")
          .withColumn("n_cand", count(lit(1)).over(Window.partitionBy("q_id")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("q_id", "cell", "c_id", "cosine", "n_cand")
          .orderBy("q_id")
      },
      Some(s"""WITH sizedc AS (
              |  SELECT GREATEST(4, CAST(floor(sqrt(COUNT(*))) AS INT)) AS c FROM embeddings),
              |${duckCellCtesExpr("(SELECT c FROM sizedc)")},
              |probe AS (
              |  SELECT q.vec_id AS q_id, q.cell AS cell, c.vec_id AS c_id,
              |    ${duckDot("q.embedding", "c.embedding")}
              |      / (sqrt(${duckDot("q.embedding", "q.embedding")})
              |         * sqrt(${duckDot("c.embedding", "c.embedding")})) AS cosine
              |  FROM cells q JOIN cells c ON q.cell = c.cell
              |  WHERE q.vec_id % 2 = 1 AND c.vec_id % 2 = 0)
              |SELECT q_id, cell, c_id, cosine, n_cand FROM (
              |  SELECT *, COUNT(*) OVER (PARTITION BY q_id) AS n_cand,
              |         ROW_NUMBER() OVER (PARTITION BY q_id
              |                  ORDER BY cosine DESC, c_id) AS rn FROM probe)
              |WHERE rn = 1 ORDER BY q_id""".stripMargin)),

    // Incremental semantic dedup — the embedding-space twin of
    // q_dedup_incremental: a frozen index absorbs a delta batch WITHOUT
    // a rebuild. The centroid set is derived from the BASE slice only
    // (first ⌊9N/10⌋ ids — the already-curated corpus; the centroids
    // are its first ⌊√N_base⌋ vectors, so the index state predates the
    // delta by construction), the delta assigns against those frozen
    // centroids in one broadcast-argmax map pass, and each delta vector
    // ranks only its cell's base members — ~Δ·√N dots, vs the Δ·N a
    // brute delta-vs-base scan pays and the (N+Δ)^1.5 a full re-index
    // pays. Both sides reuse the memoized [[cellAssign]] at the
    // base-derived cell count (assignment to a FIXED centroid set is
    // order-independent: new rows never perturb old cells — the same
    // append-stability q_shard_assign pins for hash sharding). Output
    // = per-delta-vector nearest base member + the dedup verdict at
    // the q_dedup_embed near-dup threshold (0.3); delta vectors landing in a base-empty
    // cell drop (no candidate ⇒ trivially novel — at 100 TB those
    // route to the survivor set without scoring).
    QueryDef(
      "q_semdedup_incremental",
      (s, d) => {
        val n = Tables.embeddings(s, d).count()
        val cut = 9L * n / 10L
        val asg = cellAssign(s, d, ivfCellsFor(cut))
        val base = asg.filter(col("vec_id") < cut)
          .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
            col("cell").as("c_cell"))
        val delta = asg.filter(col("vec_id") >= cut)
          .select(col("vec_id").as("delta_id"), col("embedding").as("q_emb"), col("cell"))
        val w = Window.partitionBy("delta_id").orderBy(col("cosine").desc, col("c_id"))
        delta.join(base, col("cell") === col("c_cell"))
          .selectExpr("delta_id", "cell", "c_id", "cosine_sim(q_emb, c_emb) AS cosine")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .selectExpr("delta_id", "cell", "c_id AS nn_id", "cosine",
            "CAST(cosine >= 0.3 AS INT) AS is_dup")
          .orderBy("delta_id")
      },
      Some(s"""WITH cutoff AS (SELECT 9 * COUNT(*) // 10 AS cut FROM embeddings),
              |sizedc AS (
              |  SELECT GREATEST(4, CAST(floor(sqrt(cut)) AS INT)) AS c FROM cutoff),
              |${duckCellCtesExpr("(SELECT c FROM sizedc)")},
              |probe AS (
              |  SELECT q.vec_id AS delta_id, q.cell AS cell, c.vec_id AS c_id,
              |    ${duckDot("q.embedding", "c.embedding")}
              |      / (sqrt(${duckDot("q.embedding", "q.embedding")})
              |         * sqrt(${duckDot("c.embedding", "c.embedding")})) AS cosine
              |  FROM cells q JOIN cells c ON q.cell = c.cell
              |  WHERE q.vec_id >= (SELECT cut FROM cutoff)
              |    AND c.vec_id < (SELECT cut FROM cutoff))
              |SELECT delta_id, cell, nn_id, cosine, is_dup FROM (
              |  SELECT delta_id, cell, c_id AS nn_id, cosine,
              |         CAST(cosine >= 0.3 AS INT) AS is_dup,
              |         ROW_NUMBER() OVER (PARTITION BY delta_id
              |                  ORDER BY cosine DESC, c_id) AS rn FROM probe)
              |WHERE rn = 1 ORDER BY delta_id""".stripMargin)),

    // Maximum-inner-product search (MIPS) — the retrieval objective of
    // recommendation/two-tower models, where un-normalized magnitude
    // IS signal (cosine top-k is the wrong answer). Brute-force dot
    // top-5 per broadcast query, PLUS the norm-augmentation reduction
    // executed alongside: after appending √(M²−|x|²) to every
    // candidate (M = max candidate norm) all candidates share norm M,
    // so cosine in the augmented space orders exactly like the raw
    // dot — the published `order_matches` column pins that rank
    // equivalence inside the result, which is precisely the property
    // that lets MIPS ride the engine's existing cosine-ANN (LSH/IVF)
    // machinery at 100 TB instead of needing its own index.
    QueryDef(
      "q_sim_mips",
      (s, d) => {
        val n = withNorm(s, d)
        val m = n.filter(col("vec_id") >= 8).agg(max(col("nrm")).as("mnorm"))
        val q = n.filter(col("vec_id") < 8)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            col("nrm").as("q_nrm"))
        val c = n.filter(col("vec_id") >= 8)
          .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
        val scored = c.crossJoin(broadcast(q)).crossJoin(broadcast(m))
          .selectExpr("q_id", "c_id",
            s"${sparkDot("q_emb", "c_emb")} AS dot", "q_nrm", "mnorm")
          .selectExpr("q_id", "c_id", "dot",
            "dot / (q_nrm * mnorm) AS cos_aug")
        val wDot = Window.partitionBy("q_id").orderBy(col("dot").desc, col("c_id"))
        val wAug = Window.partitionBy("q_id").orderBy(col("cos_aug").desc, col("c_id"))
        scored.withColumn("rnk", row_number().over(wDot))
          .withColumn("rnk_aug", row_number().over(wAug))
          .filter(col("rnk") <= 5)
          .selectExpr("q_id", "rnk", "c_id", "dot", "cos_aug",
            "CAST(rnk = rnk_aug AS INT) AS order_matches")
          .orderBy("q_id", "rnk")
      },
      Some(s"""WITH $duckNormCte,
              |m AS (SELECT MAX(nrm) AS mnorm FROM n WHERE vec_id >= 8),
              |scored AS (
              |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
              |    ${duckDot("q.embedding", "c.embedding")} AS dot,
              |    ${duckDot("q.embedding", "c.embedding")} / (q.nrm * mnorm) AS cos_aug
              |  FROM n q JOIN n c ON q.vec_id < 8 AND c.vec_id >= 8
              |  CROSS JOIN m),
              |ranked AS (
              |  SELECT q_id, c_id, dot, cos_aug,
              |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
              |      ORDER BY dot DESC, c_id) AS INT) AS rnk,
              |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
              |      ORDER BY cos_aug DESC, c_id) AS INT) AS rnk_aug
              |  FROM scored)
              |SELECT q_id, rnk, c_id, dot, cos_aug,
              |  CAST(rnk = rnk_aug AS INT) AS order_matches
              |FROM ranked WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin)),

    // Label-noise screen (confident-learning lite): flag vectors whose
    // k=3 nearest neighbors strictly out-vote their own label — the
    // cheap first pass before re-annotating a labeled training set.
    // Rides the SAME memoized knn edge frame as the knn family (zero
    // additional scoring passes — the fifth consumer of one build);
    // the majority vote is a per-src count + rank window keyed by src,
    // ties broken toward the smaller label id in both engines.
    QueryDef(
      "q_knn_label_noise",
      (s, d) => {
        val lbl = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
        val votes = knnEdges(s, d, 3).select("src", "dst")
          .join(lbl.select(col("vec_id").as("dst"), col("label").as("dlbl")), "dst")
          .groupBy("src", "dlbl").agg(count(lit(1)).as("c"))
        val wMaj = Window.partitionBy("src").orderBy(col("c").desc, col("dlbl"))
        votes.withColumn("rn", row_number().over(wMaj))
          .filter(col("rn") === 1)
          .join(lbl.select(col("vec_id").as("src"), col("label").as("slbl")), "src")
          .withColumn("flag",
            (col("dlbl") =!= col("slbl") && col("c") >= 2).cast("long"))
          .groupBy(col("slbl").as("label"))
          .agg(count(lit(1)).as("n"), sum(col("flag")).as("n_flagged"))
          .selectExpr("label", "n", "n_flagged",
            "CAST(n_flagged AS DOUBLE) / n AS flag_rate")
          .orderBy("label")
      },
      Some(s"""WITH ${duckKnnCtes(3)},
              |votes AS (
              |  SELECT knn.src, e.label AS dlbl, COUNT(*) AS c
              |  FROM knn JOIN embeddings e ON e.vec_id = knn.dst
              |  GROUP BY 1, 2),
              |maj AS (
              |  SELECT src, dlbl, c,
              |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY c DESC, dlbl) AS rn
              |  FROM votes)
              |SELECT s.label, COUNT(*) AS n,
              |  CAST(SUM(CASE WHEN maj.dlbl <> s.label AND maj.c >= 2
              |    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
              |  CAST(SUM(CASE WHEN maj.dlbl <> s.label AND maj.c >= 2
              |    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS flag_rate
              |FROM maj JOIN embeddings s ON s.vec_id = maj.src
              |WHERE rn = 1
              |GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
