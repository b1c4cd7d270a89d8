package graft.operators

import graft.functions.TextAnalysis.{duckTokHash, tokHash}
import graft.{Parity, QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Deterministic sampling — the reproducibility-critical piece of a
  * training-data pipeline (train/val splits, stratified downsampling,
  * per-group exemplar picks must give the SAME rows on every run, on any
  * cluster size, or every downstream artifact changes under you). The
  * reference has no sampling anywhere (its replay loop ships whole
  * files, `temDataRead.py:61-72`); this is engine extension surface.
  *
  * No RNG: membership is a pure function of the row key via md5
  * ([[graft.functions.TextAnalysis.tokHash]]) — the same idiom as
  * q_split_holdout, which also makes every sample oracle-checkable in
  * DuckDB (seeded `TABLESAMPLE` reproduces across engines never;
  * hash-threshold membership reproduces always).
  *
  * Scale design: Bernoulli/stratified sampling is a stateless per-row
  * predicate — it fuses into the scan filter, no shuffle at all. The
  * "reservoir" pick is per-group top-k by hash order: rank ≤ k over a
  * hash-ordered window plans as WindowGroupLimit (per-partition k-heap
  * before the shuffle), so executor state is O(k·groups), never O(rows)
  * — the distributed equivalent of reservoir sampling without its
  * sequential state.
  */
object Sampling {

  /** Poisson(1) inverse-CDF thresholds scaled to 2³⁰ for
    * q_sample_bootstrap: T_k = floor(CDF(k)·2³⁰) for k = 0..7 (the
    * truncated tail past 8 events carries ~1.1e-6 of the mass —
    * truncated identically in both engines by construction). A 30-bit
    * uniform u draws weight w = #{T_k ≤ u}. 30 bits (not the r11 60)
    * so each md5 digest yields FOUR uniforms — the r12 digest-halving:
    * an 8-hex-char slice is 32 uniform bits and 2³² is divisible by
    * 2³⁰, so `% 2³⁰` is exactly unbiased, no rejection step needed. */
  private[graft] val bootstrapThresholds: Seq[Long] = {
    val pow = math.pow(2, 30)
    val pmf = (1 to 7).scanLeft(math.exp(-1.0)) { case (p, k) => p / k }
    pmf.scanLeft(0.0)(_ + _).tail.map(c => math.min(pow - 1, math.floor(c * pow)).toLong)
  }

  /** 0..99 hash percentile of a row key — the sampling coin. */
  private def pct(keyExpr: String): String = s"${tokHash(keyExpr)} % 100"
  private def duckPct(keyExpr: String): String = s"${duckTokHash(keyExpr)} % 100"

  private val rowKey = "concat(l_orderkey, '#', l_linenumber)"

  val defs: Seq[QueryDef] = Seq(

    // 10% Bernoulli sample of lineitem: a pushed-down per-row predicate.
    // Output pins the exact membership set (count + key checksum), not
    // just its size.
    QueryDef(
      "q_sample_bernoulli",
      (s, d) => Tables.lineitem(s, d)
        .filter(expr(s"${pct(rowKey)} < 10"))
        .agg(
          count(lit(1)).as("n"),
          sum(expr("l_orderkey * 7 + l_linenumber")).cast("bigint").as("key_checksum"),
          Parity.dsum(col("l_extendedprice"), 2).as("sum_price")),
      Some(s"""SELECT COUNT(*) AS n,
              |  CAST(SUM(l_orderkey * 7 + l_linenumber) AS BIGINT) AS key_checksum,
              |  ${Parity.sqlDsum("l_extendedprice", 2)} AS sum_price
              |FROM lineitem WHERE ${duckPct(rowKey)} < 10""".stripMargin),
      headline = false),

    // Stratified sample: a different rate per stratum (downsample the
    // dominant classes, keep the rare one) — still one stateless scan,
    // the per-stratum rate is just data in the predicate.
    QueryDef(
      "q_sample_stratified",
      (s, d) => Tables.lineitem(s, d)
        .withColumn("rate",
          expr("CASE l_returnflag WHEN 'N' THEN 5 WHEN 'A' THEN 20 ELSE 50 END"))
        .filter(expr(s"${pct(rowKey)} < rate"))
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_sampled"),
          sum(expr("l_orderkey * 7 + l_linenumber")).cast("bigint").as("key_checksum"),
          Parity.davg(col("l_quantity"), 2).as("avg_qty"))
        .orderBy("l_returnflag"),
      Some(s"""SELECT l_returnflag, COUNT(*) AS n_sampled,
              |  CAST(SUM(l_orderkey * 7 + l_linenumber) AS BIGINT) AS key_checksum,
              |  ${Parity.sqlDavg("l_quantity", 2)} AS avg_qty
              |FROM lineitem
              |WHERE ${duckPct(rowKey)} <
              |  CASE l_returnflag WHEN 'N' THEN 5 WHEN 'A' THEN 20 ELSE 50 END
              |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      headline = false),

    // Per-group exemplars: k=5 uniform-without-replacement picks per
    // order priority, via top-k in hash order (rank pushdown /
    // WindowGroupLimit — PlanSpec asserts the limit reaches the map
    // side). Hash ties are broken by the key itself so the pick is total.
    QueryDef(
      "q_sample_reservoir",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val coin = expr(s"${tokHash("CAST(o_orderkey AS STRING)")}")
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(coin.asc, col("o_orderkey").asc)
        Tables.orders(s, d)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5)
          .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
          .orderBy("o_orderpriority", "rk")
      },
      Some(s"""SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
              |  SELECT o_orderpriority, o_orderkey, o_totalprice,
              |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
              |      ORDER BY ${duckTokHash("CAST(o_orderkey AS VARCHAR)")}, o_orderkey) AS rk
              |  FROM orders)
              |WHERE rk <= 5 ORDER BY o_orderpriority, rk""".stripMargin)),

    // Weighted sampling without replacement (A-ES / exponential race):
    // each row draws u from its hash, races with key -ln(u)/w, and the
    // k smallest keys per stratum win — heavier rows (weight =
    // l_quantity) win proportionally more often, yet the draw is a
    // pure row function: same winners on any cluster, any partition
    // count, any run. The race key is micro-quantized before ranking
    // (ln is the only cross-engine ulp risk), tie-broken by row id; the
    // same WindowGroupLimit top-k shape as q_sample_reservoir.
    QueryDef(
      "q_sample_weighted",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val race =
          s"CAST(round(-ln((${tokHash(rowKey)} % 1000000 + 1) / 1e6) * 1e6" +
            " / l_quantity, 0) AS BIGINT)"
        val w = Window.partitionBy("l_returnflag")
          .orderBy(col("race_key").asc, col("l_orderkey").asc, col("l_linenumber").asc)
        Tables.lineitem(s, d)
          .selectExpr("l_returnflag", "l_orderkey", "l_linenumber",
            "l_quantity", s"$race AS race_key")
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 8)
          .select("l_returnflag", "rk", "l_orderkey", "l_linenumber", "l_quantity")
          .orderBy("l_returnflag", "rk")
      },
      Some(s"""SELECT l_returnflag, rk, l_orderkey, l_linenumber, l_quantity FROM (
              |  SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
              |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
              |      ORDER BY CAST(round(-ln((${duckTokHash(rowKey)} % 1000000 + 1) / 1e6) * 1e6
              |                / l_quantity) AS BIGINT), l_orderkey, l_linenumber) AS rk
              |  FROM lineitem)
              |WHERE rk <= 8 ORDER BY l_returnflag, rk""".stripMargin),
      headline = false),

    // Corpus rebalancing: downsample every language to (approximately)
    // the rarest language's share — the mixture-control pass of a
    // multilingual pre-training corpus. Membership is a pure row
    // function (keep doc iff hash(doc_id) ≤ (m·2³² − 1) div n_lang — a
    // per-lang hash threshold at rate m/n_lang, integer-exact in both
    // engines and algebraically identical to hash·n_lang < m·2³² for
    // non-negative hashes: hash ≤ ⌊(M−1)/n⌋ ⟺ hash·n ≤ M−1), so the
    // kept set is reproducible on any cluster and the scan stays
    // stateless — no per-lang sort or row_number over the corpus, just
    // one tiny per-lang count broadcast back. The exact-m alternative
    // (rank ≤ m per lang) needs a per-lang global sort; the hash
    // threshold trades ±√m count jitter for a shuffle-free scan — at
    // 100 TB that is the whole game. The division form exists because
    // the product form silently inverts at scale: hash·n_lang wraps
    // BIGINT negative past 2³¹ docs per language and keeps EVERY doc;
    // the only product left, m·2³², wraps only past 2³¹ docs in the
    // RAREST language — i.e. never before the corpus itself is
    // > 2³¹·|langs| docs, and then it fails loudly (threshold goes
    // negative → keeps nothing) rather than silently disabling the
    // balance.
    QueryDef(
      "q_corpus_balance",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_before"))
        val target = counts.agg(min(col("n_before")).as("m"))
        docs.join(broadcast(counts), "lang")
          .crossJoin(broadcast(target))
          .filter(expr(s"${tokHash("CAST(doc_id AS STRING)")} <= (m * 4294967296 - 1) div n_before"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_kept"),
            sum(col("doc_id") * 7).cast("bigint").as("key_checksum"))
          .join(counts, "lang")
          .select("lang", "n_before", "n_kept", "key_checksum")
          .orderBy("lang")
      },
      Some(s"""WITH counts AS (SELECT lang, COUNT(*) AS n_before FROM documents GROUP BY lang),
              |target AS (SELECT MIN(n_before) AS m FROM counts)
              |SELECT lang, n_before, COUNT(*) AS n_kept,
              |  CAST(SUM(doc_id * 7) AS BIGINT) AS key_checksum
              |FROM documents JOIN counts USING (lang) CROSS JOIN target
              |WHERE ${duckTokHash("CAST(doc_id AS VARCHAR)")} <= (m * 4294967296 - 1) // n_before
              |GROUP BY lang, n_before ORDER BY lang""".stripMargin)),

    // Per-source document cap (the web-corpus "domain cap": no single
    // site may contribute more than K documents, picked deterministically
    // by hash order so every run keeps the same K). Same WindowGroupLimit
    // shape as q_sample_reservoir — rank ≤ K over a hash-ordered window
    // keeps executor state at O(K·sources), never O(rows); the output
    // aggregates to per-source admission stats so the membership set is
    // pinned by checksum, not by listing rows.
    QueryDef(
      "q_source_cap",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val coin = expr(tokHash("CAST(doc_id AS STRING)"))
        val w = Window.partitionBy("source").orderBy(coin.asc, col("doc_id").asc)
        Tables.documents(s, d)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= graft.functions.Vocab.SourceCap)
          .groupBy("source")
          .agg(count(lit(1)).as("n_kept"),
            sum(col("doc_id") * 7).cast("bigint").as("key_checksum"))
          .orderBy("source")
      },
      Some(s"""SELECT source, COUNT(*) AS n_kept,
              |  CAST(SUM(doc_id * 7) AS BIGINT) AS key_checksum FROM (
              |  SELECT source, doc_id,
              |    ROW_NUMBER() OVER (PARTITION BY source
              |      ORDER BY ${duckTokHash("CAST(doc_id AS VARCHAR)")}, doc_id) AS rk
              |  FROM documents)
              |WHERE rk <= ${graft.functions.Vocab.SourceCap} GROUP BY source ORDER BY source""".stripMargin)),

    // Temperature-scaled mixture resampling (the T5/multilingual-corpus
    // recipe): language s is kept at rate ∝ n_s^α / Σ n_t^α with α = ½,
    // so rare languages are upweighted relative to their share without
    // ever being oversampled past rate 1. Like q_corpus_balance this is
    // a STATELESS hash-threshold scan (the whole selection is one pushed
    // predicate, no shuffle of the corpus) — the difference is the
    // target: balance clamps every language to the minimum, temperature
    // interpolates between the natural mixture (α=1) and uniform (α=0).
    // Determinism across engines: each √n is floor-quantized to an
    // integer at 10⁻⁹ resolution BEFORE the Σ (a double Σ would be
    // partial-sum-order dependent), and the final rate is a fixed
    // parenthesized chain of IEEE ops on values derived only from
    // exact counts.
    QueryDef(
      "q_mix_temperature",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_before"))
          .withColumn("sw",
            expr("CAST(floor(sqrt(CAST(n_before AS DOUBLE)) * 1e9) AS BIGINT)"))
        val tot = counts.agg(sum(col("sw")).as("sumw"), sum(col("n_before")).as("n_total"))
          .selectExpr("sumw", "n_total div 2 AS t_target")
        docs.join(broadcast(counts), "lang")
          .crossJoin(broadcast(tot))
          .filter(expr(s"${tokHash("CAST(doc_id AS STRING)")} < CAST(floor(LEAST(1.0, " +
            "((CAST(t_target AS DOUBLE) * CAST(sw AS DOUBLE)) / CAST(sumw AS DOUBLE)) " +
            "/ CAST(n_before AS DOUBLE)) * 4294967296.0) AS BIGINT)"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_kept"),
            sum(col("doc_id") * 7).cast("bigint").as("key_checksum"))
          .join(counts.select("lang", "n_before"), "lang")
          .select("lang", "n_before", "n_kept", "key_checksum")
          .orderBy("lang")
      },
      Some(s"""WITH counts AS (SELECT lang, COUNT(*) AS n_before,
              |    CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1e9) AS BIGINT) AS sw
              |  FROM documents GROUP BY lang),
              |tot AS (SELECT CAST(SUM(sw) AS BIGINT) AS sumw,
              |    CAST(SUM(n_before) AS BIGINT) // 2 AS t_target FROM counts)
              |SELECT lang, n_before, COUNT(*) AS n_kept,
              |  CAST(SUM(doc_id * 7) AS BIGINT) AS key_checksum
              |FROM documents JOIN counts USING (lang) CROSS JOIN tot
              |WHERE ${duckTokHash("CAST(doc_id AS VARCHAR)")} < CAST(floor(LEAST(1.0,
              |  ((CAST(t_target AS DOUBLE) * CAST(sw AS DOUBLE)) / CAST(sumw AS DOUBLE))
              |  / CAST(n_before AS DOUBLE)) * 4294967296.0) AS BIGINT)
              |GROUP BY lang, n_before ORDER BY lang""".stripMargin)),

    // Greedy k-center coreset selection (farthest-point traversal) —
    // the diverse-subset pass a training pipeline runs to pick
    // representative seed examples: start from vec 0, then k−1 rounds
    // of "add the point farthest from everything selected". 2-approx
    // of the optimal k-center cover, and the incremental form costs
    // ONE dot per point per round (min-dist folds against only the
    // newest center), O(n·k) total — never n² — with the min-dist
    // frame checkpointed per round (the k-means/LPA discipline). Fully
    // deterministic: quantized-dot distances, argmax ties to the MIN
    // vec_id, so the DuckDB oracle replays the identical trajectory in
    // chained CTEs. Output = the selection order with each pick's
    // distance (the shrinking covering radius).
    QueryDef(
      "q_sample_kcenter",
      (s, d) => {
        import graft.operators.Similarity.sparkDot
        val k = 8
        val pts = Tables.embeddings(s, d).select("vec_id", "embedding")
        def d2(centEmb: Seq[Float]): String = {
          val lit = centEmb.map(v => s"CAST($v AS FLOAT)").mkString("array(", ", ", ")")
          s"${sparkDot("embedding", "embedding")} + ${sparkDot(lit, lit)} " +
            s"- 2 * ${sparkDot("embedding", lit)}"
        }
        val c0 = pts.filter(col("vec_id") === 0)
          .head().getSeq[Float](1)
        var md = pts.selectExpr("vec_id", "embedding", s"${d2(c0)} AS md")
        var picks = Seq((0L, 0L, 0.0))
        for (r <- 1 until k) {
          val top = md.filter(col("vec_id") =!= 0)
            .orderBy(col("md").desc, col("vec_id")).limit(1)
            .select("vec_id", "md").head()
          val (cid, radius) = (top.getLong(0), top.getDouble(1))
          picks = picks :+ ((r.toLong, cid, radius))
          val cEmb = pts.filter(col("vec_id") === cid).head().getSeq[Float](1)
          md = graft.FrameCache.rebase(md.selectExpr("vec_id", "embedding",
            s"least(md, ${d2(cEmb)}) AS md"))
        }
        import s.implicits._
        picks.toDF("round", "center_id", "radius").orderBy("round")
      },
      Some {
        import graft.operators.Similarity.duckDot
        val k = 8
        def d2(c: String) =
          s"${duckDot("p.embedding", "p.embedding")} + ${duckDot(s"$c.embedding", s"$c.embedding")} " +
            s"- 2 * ${duckDot("p.embedding", s"$c.embedding")}"
        val rounds = (1 until k).map { r =>
          val prev = s"m${r - 1}"
          s"""s$r AS (SELECT vec_id AS cid, md FROM $prev
             |  WHERE vec_id <> 0 ORDER BY md DESC, vec_id LIMIT 1),
             |m$r AS (SELECT p.vec_id, p.embedding,
             |    LEAST(p.md, ${d2("c")}) AS md
             |  FROM (SELECT m.vec_id, e.embedding, m.md FROM $prev m
             |        JOIN embeddings e USING (vec_id)) p,
             |       (SELECT e.embedding FROM s$r JOIN embeddings e
             |        ON e.vec_id = s$r.cid) c)""".stripMargin
        }.mkString(",\n")
        s"""WITH m0 AS (SELECT p.vec_id, p.embedding, ${d2("c")} AS md
           |  FROM embeddings p, (SELECT embedding FROM embeddings WHERE vec_id = 0) c),
           |$rounds
           |SELECT * FROM (
           |  SELECT CAST(0 AS BIGINT) AS round, CAST(0 AS BIGINT) AS center_id,
           |         CAST(0.0 AS DOUBLE) AS radius
           |  ${(1 until k).map(r =>
               s"UNION ALL SELECT CAST($r AS BIGINT), CAST(cid AS BIGINT), md FROM s$r")
              .mkString("\n  ")})
           |ORDER BY round""".stripMargin
      }),

    // Neyman-optimal stratified allocation: split a fixed sample budget
    // (k = 200) across strata ∝ N_h·σ_h — the variance-minimizing
    // allocation for estimating a population mean, and the pass a
    // data-profiling sampler runs instead of proportional allocation
    // when strata variances differ (high-variance strata need more
    // rows). Three combinable passes at 100 TB: (1) per-stratum
    // count/Σ/Σ² (one map-side-combined agg — σ_h comes from the
    // closed form, the q_agg_stddev discipline), (2) the allocation
    // arithmetic on the STRATA frame (rows = #strata, bounded; the
    // only unpartitioned window ever runs over it), (3) the actual
    // draw: hash-ordered row_number per stratum against the joined
    // allocation — WindowGroupLimit-shaped, O(k) rows survive.
    // Integer-exact everywhere it matters: N_h·σ_h is µ-quantized to
    // BIGINT before the Σ weights, the floor allocation and its
    // largest-remainder top-up are pure integer arithmetic (remainder
    // ties broken by stratum name, allocations CAPPED at the
    // stratum's row count with a one-round remainder-ranked
    // redistribution of any capped surplus), so Σ n_alloc = k EXACTLY
    // whenever one round can place the surplus, and both
    // engines agree bit-for-bit; the sample membership is pinned by a
    // key checksum, not just counts.
    QueryDef(
      "q_sample_neyman",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val k = 200
        val stats = Tables.lineitem(s, d).groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(28, 2)))
              .cast("double").as("sx"),
            sum((col("l_quantity") * col("l_quantity"))
              .cast(org.apache.spark.sql.types.DecimalType(28, 4)))
              .cast("double").as("sxx"))
          // a singleton stratum has no sample stddev (n-1 = 0 would put
          // NaN → null into sigma_q and silently distort the weights);
          // σ = 0 is the deterministic degenerate value in BOTH engines
          .selectExpr("l_returnflag", "n_rows",
            "CASE WHEN n_rows > 1 THEN CAST(round(sqrt((n_rows * sxx - sx * sx) / (n_rows * (n_rows - 1.0))) * 1e6) AS BIGINT) ELSE 0 END AS sigma_q")
          .withColumn("wq", expr("n_rows * sigma_q"))
        val tot = stats.agg(sum(col("wq")).as("sumw"))
        val wRem = Window.orderBy(col("rem").desc, col("l_returnflag"))
        val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        // first round: floor + largest-remainder top-up, CAPPED at the
        // stratum's own row count (a small high-variance stratum cannot
        // be allocated more rows than it has); the capped surplus then
        // redistributes ONE round by the same remainder rank among
        // strata with capacity left — exact budget whenever one round
        // can place it (the spec pins Σ = k on the fixture); a residual
        // past that would need the iterative waterfill
        val wRem2 = Window.orderBy(
          (col("alloc1") < col("n_rows")).desc, col("rem").desc, col("l_returnflag"))
        val alloc = stats.crossJoin(broadcast(tot))
          .selectExpr("l_returnflag", "n_rows", "sigma_q",
            s"$k * wq DIV sumw AS base", s"$k * wq % sumw AS rem")
          .withColumn("leftover", lit(k) - sum(col("base")).over(wAll))
          .withColumn("rk", row_number().over(wRem))
          .withColumn("alloc1", expr(
            "least(base + (CASE WHEN rk <= leftover THEN 1 ELSE 0 END), n_rows)"))
          .withColumn("residual", lit(k) - sum(col("alloc1")).over(wAll))
          .withColumn("rk2", row_number().over(wRem2))
          .selectExpr("l_returnflag", "n_rows", "sigma_q",
            "least(alloc1 + (CASE WHEN alloc1 < n_rows AND rk2 <= residual " +
              "THEN 1 ELSE 0 END), n_rows) AS n_alloc")
        // the allocation frame is #strata rows — collect it (bounded
        // driver state, the BPE-argmax discipline) and make the budget
        // invariant LOUD: data where the one-round redistribution can't
        // place the capped surplus must fail here as a query error (the
        // q_compact convention), never ship an undershot "k-row" sample
        val allocRows = alloc.collect()
        val spent = allocRows.map(_.getAs[Long]("n_alloc")).sum
        require(spent == k.toLong,
          s"neyman allocation spent $spent of $k — capped surplus exceeds " +
            "one redistribution round; use an iterative waterfill for this data")
        // re-plan the collected allocation as a literal frame: the two
        // downstream joins then read a LocalRelation instead of
        // re-running the stats aggregate per reference
        import s.implicits._
        val allocLit = allocRows.toSeq
          .map(r => (r.getString(0), r.getAs[Long]("n_rows"),
            r.getAs[Long]("sigma_q"), r.getAs[Long]("n_alloc")))
          .toDF("l_returnflag", "n_rows", "sigma_q", "n_alloc")
        val wDraw = Window.partitionBy("l_returnflag")
          .orderBy(expr(tokHash(rowKey)).asc, col("l_orderkey").asc, col("l_linenumber").asc)
        Tables.lineitem(s, d)
          .withColumn("rn", row_number().over(wDraw))
          .join(broadcast(allocLit), "l_returnflag")
          .filter(col("rn") <= col("n_alloc"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_drawn"),
            sum(col("l_orderkey") * 7 + col("l_linenumber")).cast("bigint").as("key_checksum"))
          .join(allocLit, "l_returnflag")
          .select("l_returnflag", "n_rows", "sigma_q", "n_alloc", "n_drawn", "key_checksum")
          .orderBy("l_returnflag")
      },
      Some(s"""WITH stats AS (
              |  SELECT l_returnflag, COUNT(*) AS n_rows,
              |    CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sx,
              |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sxx
              |  FROM lineitem GROUP BY l_returnflag),
              |sq AS (SELECT l_returnflag, n_rows,
              |    CASE WHEN n_rows > 1 THEN CAST(round(sqrt((n_rows * sxx - sx * sx) / (n_rows * (n_rows - 1.0))) * 1e6) AS BIGINT) ELSE 0 END AS sigma_q
              |  FROM stats),
              |wq AS (SELECT *, n_rows * sigma_q AS wq FROM sq),
              |tot AS (SELECT CAST(SUM(wq) AS BIGINT) AS sumw FROM wq),
              |alloc0 AS (SELECT l_returnflag, n_rows, sigma_q,
              |    200 * wq // sumw AS base, 200 * wq % sumw AS rem
              |  FROM wq CROSS JOIN tot),
              |a1 AS (SELECT l_returnflag, n_rows, sigma_q, rem,
              |    LEAST(base + (CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, l_returnflag)
              |      <= 200 - (SELECT CAST(SUM(base) AS BIGINT) FROM alloc0) THEN 1 ELSE 0 END),
              |      n_rows) AS alloc1
              |  FROM alloc0),
              |alloc AS (SELECT l_returnflag, n_rows, sigma_q,
              |    LEAST(alloc1 + (CASE WHEN alloc1 < n_rows AND
              |        ROW_NUMBER() OVER (ORDER BY (alloc1 < n_rows) DESC, rem DESC, l_returnflag)
              |          <= 200 - (SELECT CAST(SUM(alloc1) AS BIGINT) FROM a1)
              |      THEN 1 ELSE 0 END), n_rows) AS n_alloc
              |  FROM a1),
              |drawn AS (
              |  SELECT l_returnflag, COUNT(*) AS n_drawn,
              |    CAST(SUM(l_orderkey * 7 + l_linenumber) AS BIGINT) AS key_checksum
              |  FROM (SELECT l.l_returnflag, l_orderkey, l_linenumber,
              |          ROW_NUMBER() OVER (PARTITION BY l.l_returnflag
              |            ORDER BY ${duckTokHash(rowKey)}, l_orderkey, l_linenumber) AS rn,
              |          a.n_alloc
              |        FROM lineitem l JOIN alloc a ON a.l_returnflag = l.l_returnflag)
              |  WHERE rn <= n_alloc GROUP BY l_returnflag)
              |SELECT l_returnflag, n_rows, sigma_q, n_alloc, n_drawn, key_checksum
              |FROM alloc JOIN drawn USING (l_returnflag)
              |ORDER BY l_returnflag""".stripMargin),
      headline = false),

    // Distributed Poisson bootstrap: 16 resampled means of the order
    // value, the spread a CI comes from — the ONLY bootstrap that
    // works at 100 TB, because each row draws its own iid Poisson(1)
    // replicate weights and never materializes a resampled table
    // (Σw ≈ n per replicate, one pass total). Randomness follows the
    // q_dp_counts discipline: the Poisson(1) inverse CDF is
    // precomputed ONCE into 2⁶⁰-scaled integer thresholds embedded in
    // BOTH engines' SQL, the per-(row, replicate) uniform is a 60-bit
    // md5 slice, and the draw is a threshold count — a randomized
    // resampler that is still bit-identical cross-engine. Weighted
    // moment sums are exact BIGINT cents; each replicate mean is one
    // float division.
    //
    // Cost shape (r11 fix: one pass, no explosion; r12 fix: digest
    // halving): ONE md5 per replicate QUAD — each digest's four
    // 8-hex-char slices are four independent 32-bit uniforms, reduced
    // mod 2³⁰ (exact, since 2³² | 2³⁰ evenly divides) to match the
    // 2³⁰-scaled thresholds — so 4 digests/row, not the r11 8 or the
    // original 16. The threshold count is a codegen CASE chain over
    // the ascending thresholds (not an interpreted array-HOF), and
    // there is NO row explosion: all 16 (Σw·x, Σw) pairs accumulate as
    // 32 columns of one global aggregate (partial map-side combine →
    // 32 longs per partition), and the single result row is stack()ed
    // into the 16 replicate rows at the very end.
    QueryDef(
      "q_sample_bootstrap",
      (s, d) => {
        val hashes = (0 until 4).map(g =>
          s"md5(concat('bs:', '$g', ':', CAST(o_orderkey AS STRING))) AS h$g")
        val uniforms = (0 until 16).map { r =>
          val pos = 1 + 8 * (r % 4)
          s"CAST(conv(substr(h${r / 4}, $pos, 8), 16, 10) AS BIGINT) % 1073741824 AS u$r"
        }
        val weights = (0 until 16).map { r =>
          val chain = bootstrapThresholds.zipWithIndex
            .map { case (t, k) => s"WHEN u$r < ${t}L THEN $k" }.mkString(" ")
          s"CAST(CASE $chain ELSE ${bootstrapThresholds.size} END AS BIGINT) AS w$r"
        }
        val sums = (0 until 16).flatMap(r => Seq(
          sum(col(s"w$r") * col("cents")).as(s"swx$r"),
          sum(col(s"w$r")).as(s"sw$r")))
        Tables.orders(s, d)
          // the sf0.1 orders parquet is a single scan split — without
          // this the 8 digests/row all run on one core (same knob as
          // Dedup.shingleFrame; a no-op at 100 TB where the scan
          // itself yields enough partitions)
          .repartition(s.sparkContext.defaultParallelism)
          .selectExpr(Seq("o_orderkey",
            "CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT) AS cents") ++
            hashes: _*)
          .selectExpr(Seq("cents") ++ uniforms: _*)
          .selectExpr(Seq("cents") ++ weights: _*)
          .agg(sums.head, sums.tail: _*)
          .selectExpr("stack(16, " +
            (0 until 16).map(r => s"$r, swx$r, sw$r").mkString(", ") +
            ") AS (replicate, swx, sw)")
          .selectExpr("replicate", "sw AS n_eff",
            "CAST(swx AS DOUBLE) / (CAST(sw AS DOUBLE) * 100) AS boot_mean")
          .orderBy("replicate")
      },
      Some {
        val chain = bootstrapThresholds.zipWithIndex
          .map { case (t, k) => s"WHEN u < $t THEN $k" }.mkString(" ")
        s"""WITH ex AS (
           |  SELECT o_orderkey,
           |    CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT) AS cents,
           |    UNNEST(range(0, 16)) AS r
           |  FROM orders),
           |uni AS (
           |  SELECT r, cents,
           |    CAST(('0x' || substr(md5('bs:' || CAST(r // 4 AS VARCHAR) || ':' ||
           |      CAST(o_orderkey AS VARCHAR)), CAST(1 + 8 * (r % 4) AS INT), 8))
           |      AS BIGINT) % 1073741824 AS u
           |  FROM ex),
           |wt AS (SELECT r, cents, CAST(CASE $chain ELSE 8 END AS BIGINT) AS w
           |  FROM uni)
           |SELECT CAST(r AS INT) AS replicate, CAST(SUM(w) AS BIGINT) AS n_eff,
           |  CAST(SUM(w * cents) AS DOUBLE) / (CAST(SUM(w) AS DOUBLE) * 100)
           |    AS boot_mean
           |FROM wt GROUP BY 1 ORDER BY 1""".stripMargin
      })
  )

}
