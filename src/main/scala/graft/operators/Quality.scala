package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Data-quality audit — the gate a 100 TB corpus passes through before
  * anything trains on it: declared-constraint violations, referential
  * orphans, key-uniqueness accounting, and categorical entropy /
  * concentration. The reference ingests blindly (`temDataRead.py`
  * replays whatever the CSV holds, duplicated ids and all); extension
  * surface.
  *
  * Scale design: every audit is conditional aggregation over a single
  * scan of each audited table (violation rules per table are fused into
  * ONE pass, not one scan per rule); orphan checks aggregate the child
  * side to distinct keys BEFORE the anti-join so the shuffle carries
  * keys, not rows; uniqueness is a two-level aggregate (key → count,
  * then count histogram). Violations are pinned by key checksum, not
  * just counted — a wrong-rows-right-count bug cannot hide.
  *
  * Determinism: entropy needs `ln`, which is not correctly rounded and
  * disagrees in the last ulp across engines. Each ln value is quantized
  * to integer micros (`CAST(round(ln(c)*1e6) AS BIGINT)`) BEFORE any
  * aggregation, so the sum is exact integer arithmetic in both engines
  * and the final division is a deterministic double over integers.
  */
object Quality {

  /** Discrete-Laplace inverse-CDF thresholds for q_dp_counts, scale
    * 2^60: C_j = round(CDF(j)·2^60) for j = −K..K−1 with
    * P(k) ∝ α^|k|, α = e^(−1/b), b = 2 (ε = 0.5). Computed ONCE here
    * and embedded as the same integer literals in BOTH engines'
    * expressions, so noise sampling is pure integer comparison — no
    * transcendental ever evaluates at query time, which is what makes
    * a "random" mechanism bit-identical cross-engine. Tail truncated
    * at K = 40 (residual mass ~α^41/(1−α)·norm < 4e-9, identical by
    * construction in both engines). */
  private val DpK = 40
  private[graft] val dpThresholds: Seq[Long] = {
    val alpha = math.exp(-0.5)
    val norm = (1 - alpha) / (1 + alpha)
    def p(k: Int): Double = norm * math.pow(alpha, math.abs(k))
    (-DpK until DpK).scanLeft(0.0)((acc, k) => acc + p(k)).drop(1)
      .map(c => math.min(math.round(c * math.pow(2, 60)), (1L << 60) - 1))
  }

  val defs: Seq[QueryDef] = Seq(

    // Differentially-private count release (ε = 0.5, sensitivity 1) —
    // the mechanism a corpus publisher runs before sharing per-slice
    // statistics: per-lang doc counts + discrete-Laplace noise. The
    // noise is sampled by inverse CDF over a 60-bit md5-derived
    // uniform against the PRE-COMPUTED integer threshold table
    // (dpThresholds — shared literals, both engines count thresholds
    // ≤ u with one HOF filter). true_n rides along because the oracle
    // must pin the mechanism, not hide it; a real release drops it.
    // Stateless scan + one tiny keyed agg — nothing at 100 TB scale
    // but the count pass itself.
    QueryDef(
      "q_dp_counts",
      (s, d) => {
        val t = dpThresholds.mkString("array(", ", ", ")")
        val u = "CAST(conv(substr(md5(concat('dp:', lang)), 1, 15), 16, 10) AS BIGINT)"
        Tables.documents(s, d)
          .groupBy("lang").agg(count(lit(1)).as("true_n"))
          .selectExpr("lang", "true_n",
            s"size(filter($t, t -> t <= $u)) - $DpK AS noise")
          .selectExpr("lang", "true_n", "noise",
            "true_n + noise AS noisy_n", "CAST(0.5 AS DOUBLE) AS epsilon")
          .orderBy("lang")
      },
      Some {
        val t = dpThresholds.mkString("[", ", ", "]")
        val u = "CAST(('0x' || substr(md5('dp:' || lang), 1, 15)) AS BIGINT)"
        s"""WITH c AS (SELECT lang, COUNT(*) AS true_n FROM documents GROUP BY lang),
           |n AS (SELECT lang, true_n,
           |    len(list_filter($t, t -> t <= $u)) - $DpK AS noise
           |  FROM c)
           |SELECT lang, true_n, CAST(noise AS INT) AS noise,
           |  true_n + noise AS noisy_n, CAST(0.5 AS DOUBLE) AS epsilon
           |FROM n ORDER BY lang""".stripMargin
      }),

    // Declared-constraint audit: one row per rule, one scan per table.
    // customer_acctbal_nonneg and lineitem_discount_cap genuinely fire
    // on the generator data; events_value_positive passing with zero
    // violations is part of the contract (a rule that can never fire is
    // untested, a rule that fires everywhere is a schema error).
    QueryDef(
      "q_dq_audit",
      (s, d) => {
        val cust = Tables.customer(s, d).agg(
          count(lit(1)).as("n_checked"),
          sum(when(col("c_acctbal") < 0, 1L).otherwise(0L)).cast("bigint").as("n_viol"),
          sum(when(col("c_acctbal") < 0, col("c_custkey")).otherwise(0L))
            .cast("bigint").as("viol_checksum"))
          .select(lit("customer_acctbal_nonneg").as("rule"), col("*"))
        val li = Tables.lineitem(s, d).agg(
          count(lit(1)).as("n_checked"),
          sum(when(col("l_discount") > 0.08, 1L).otherwise(0L)).cast("bigint").as("n_viol"),
          sum(when(col("l_discount") > 0.08, col("l_orderkey")).otherwise(0L))
            .cast("bigint").as("viol_checksum"))
          .select(lit("lineitem_discount_cap").as("rule"), col("*"))
        val ev = Tables.events(s, d).agg(
          count(lit(1)).as("n_checked"),
          sum(when(col("value") <= 0, 1L).otherwise(0L)).cast("bigint").as("n_viol"),
          sum(when(col("value") <= 0, col("event_id")).otherwise(0L))
            .cast("bigint").as("viol_checksum"))
          .select(lit("events_value_positive").as("rule"), col("*"))
        cust.unionByName(li).unionByName(ev).orderBy("rule")
      },
      Some("""SELECT 'customer_acctbal_nonneg' AS rule, COUNT(*) AS n_checked,
             |  CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_viol,
             |  CAST(SUM(CASE WHEN c_acctbal < 0 THEN c_custkey ELSE 0 END) AS BIGINT) AS viol_checksum
             |FROM customer
             |UNION ALL
             |SELECT 'lineitem_discount_cap', COUNT(*),
             |  CAST(SUM(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END) AS BIGINT),
             |  CAST(SUM(CASE WHEN l_discount > 0.08 THEN l_orderkey ELSE 0 END) AS BIGINT)
             |FROM lineitem
             |UNION ALL
             |SELECT 'events_value_positive', COUNT(*),
             |  CAST(SUM(CASE WHEN value <= 0 THEN 1 ELSE 0 END) AS BIGINT),
             |  CAST(SUM(CASE WHEN value <= 0 THEN event_id ELSE 0 END) AS BIGINT)
             |FROM events
             |ORDER BY rule""".stripMargin)),

    // Referential-orphan audit, both directions. The child side is
    // aggregated to DISTINCT keys before the anti-join so the shuffle
    // carries |keys| not |rows| — at 100 TB the lineitem→orders check
    // joins ~N/4 distinct keys, not N lines. orders_without_lineitem
    // fires (the generator leaves ~1.7% of orders childless).
    QueryDef(
      "q_dq_orphans",
      (s, d) => {
        val liKeys = Tables.lineitem(s, d).select("l_orderkey").distinct()
        val o = Tables.orders(s, d)
        val childless = o.join(liKeys, col("o_orderkey") === col("l_orderkey"), "left_anti")
          .agg(count(lit(1)).as("n_orphans"),
            coalesce(sum(col("o_orderkey")), lit(0L)).cast("bigint").as("orphan_checksum"))
          .select(lit("orders_without_lineitem").as("check"), col("*"))
        val liOrphan = Tables.lineitem(s, d)
          .join(o.select("o_orderkey"), col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("n_orphans"),
            coalesce(sum(col("l_orderkey")), lit(0L)).cast("bigint").as("orphan_checksum"))
          .select(lit("lineitem_orphan_order").as("check"), col("*"))
        val custOrphan = o
          .join(Tables.customer(s, d).select("c_custkey"),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("n_orphans"),
            coalesce(sum(col("o_orderkey")), lit(0L)).cast("bigint").as("orphan_checksum"))
          .select(lit("orders_orphan_customer").as("check"), col("*"))
        childless.unionByName(liOrphan).unionByName(custOrphan).orderBy("check")
      },
      Some("""SELECT 'orders_without_lineitem' AS "check", COUNT(*) AS n_orphans,
             |  CAST(COALESCE(SUM(o_orderkey), 0) AS BIGINT) AS orphan_checksum
             |FROM orders o
             |WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
             |UNION ALL
             |SELECT 'lineitem_orphan_order', COUNT(*),
             |  CAST(COALESCE(SUM(l_orderkey), 0) AS BIGINT)
             |FROM lineitem l
             |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
             |UNION ALL
             |SELECT 'orders_orphan_customer', COUNT(*),
             |  CAST(COALESCE(SUM(o_orderkey), 0) AS BIGINT)
             |FROM orders o
             |WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
             |ORDER BY "check"""".stripMargin),
      headline = false),

    // Key-uniqueness accounting over the declared primary keys: total
    // rows, distinct keys, duplicated keys, and worst multiplicity.
    // Two-level aggregate: key→count (the only per-key state), then a
    // four-number fold — no key list ever reaches the driver. The
    // composite lineitem key exercises multi-column grouping.
    QueryDef(
      "q_dq_unique",
      (s, d) => {
        def audit(df: org.apache.spark.sql.DataFrame, name: String, keys: String*) = {
          df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
            .agg(sum(col("c")).cast("bigint").as("n_rows"),
              count(lit(1)).as("n_keys"),
              sum(when(col("c") > 1, 1L).otherwise(0L)).cast("bigint").as("n_dup_keys"),
              max(col("c")).as("max_mult"))
            .select(lit(name).as("key_constraint"), col("*"))
        }
        audit(Tables.orders(s, d), "orders_pk", "o_orderkey")
          .unionByName(audit(Tables.lineitem(s, d), "lineitem_pk", "l_orderkey", "l_linenumber"))
          .unionByName(audit(Tables.events(s, d), "events_pk", "event_id"))
          .unionByName(audit(Tables.documents(s, d), "documents_pk", "doc_id"))
          .orderBy("key_constraint")
      },
      Some("""WITH a AS (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey),
             |b AS (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber),
             |e AS (SELECT COUNT(*) AS c FROM events GROUP BY event_id),
             |f AS (SELECT COUNT(*) AS c FROM documents GROUP BY doc_id)
             |SELECT 'orders_pk' AS key_constraint, CAST(SUM(c) AS BIGINT) AS n_rows,
             |  COUNT(*) AS n_keys,
             |  CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_keys,
             |  MAX(c) AS max_mult FROM a
             |UNION ALL
             |SELECT 'lineitem_pk', CAST(SUM(c) AS BIGINT), COUNT(*),
             |  CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT), MAX(c) FROM b
             |UNION ALL
             |SELECT 'events_pk', CAST(SUM(c) AS BIGINT), COUNT(*),
             |  CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT), MAX(c) FROM e
             |UNION ALL
             |SELECT 'documents_pk', CAST(SUM(c) AS BIGINT), COUNT(*),
             |  CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT), MAX(c) FROM f
             |ORDER BY key_constraint""".stripMargin),
      headline = false),

    // Categorical-column entropy and concentration: Shannon entropy
    // H = ln(N) - Σ c·ln(c) / N over the value counts, plus the top
    // value's share. Each ln is quantized to integer micros before the
    // Σ so the aggregation is exact BIGINT arithmetic (see object doc);
    // the c·lnq products stay far below 2^63 (c ≤ 1e12, lnq ≤ 3e7).
    QueryDef(
      "q_dq_entropy",
      (s, d) => {
        def ent(df: org.apache.spark.sql.DataFrame, cname: String, c: String) =
          df.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
            .agg(sum(col("cnt")).cast("bigint").as("n"),
              count(lit(1)).as("n_distinct"),
              max(col("cnt")).as("top_cnt"),
              sum(col("cnt") * expr("CAST(round(ln(cnt) * 1e6, 0) AS BIGINT)"))
                .cast("bigint").as("s_micro"))
            .select(lit(cname).as("col_name"), col("n_distinct"),
              round(expr("CAST(round(ln(n) * 1e6, 0) AS BIGINT) / 1e6 - s_micro / (n * 1e6)"), 6)
                .as("entropy"),
              round(col("top_cnt") / col("n"), 6).as("top_share"))
        ent(Tables.lineitem(s, d), "l_returnflag", "l_returnflag")
          .unionByName(ent(Tables.orders(s, d), "o_orderpriority", "o_orderpriority"))
          .unionByName(ent(Tables.events(s, d), "event_type", "event_type"))
          .unionByName(ent(Tables.customer(s, d), "c_mktsegment", "c_mktsegment"))
          .orderBy("col_name")
      },
      Some("""WITH li AS (SELECT COUNT(*) AS cnt FROM lineitem GROUP BY l_returnflag),
             |o AS (SELECT COUNT(*) AS cnt FROM orders GROUP BY o_orderpriority),
             |e AS (SELECT COUNT(*) AS cnt FROM events GROUP BY event_type),
             |c AS (SELECT COUNT(*) AS cnt FROM customer GROUP BY c_mktsegment),
             |u AS (
             |  SELECT 'l_returnflag' AS col_name, CAST(SUM(cnt) AS BIGINT) AS n,
             |    COUNT(*) AS n_distinct, MAX(cnt) AS top_cnt,
             |    CAST(SUM(cnt * CAST(round(ln(cnt) * 1e6) AS BIGINT)) AS BIGINT) AS s_micro
             |  FROM li
             |  UNION ALL
             |  SELECT 'o_orderpriority', CAST(SUM(cnt) AS BIGINT), COUNT(*), MAX(cnt),
             |    CAST(SUM(cnt * CAST(round(ln(cnt) * 1e6) AS BIGINT)) AS BIGINT) FROM o
             |  UNION ALL
             |  SELECT 'event_type', CAST(SUM(cnt) AS BIGINT), COUNT(*), MAX(cnt),
             |    CAST(SUM(cnt * CAST(round(ln(cnt) * 1e6) AS BIGINT)) AS BIGINT) FROM e
             |  UNION ALL
             |  SELECT 'c_mktsegment', CAST(SUM(cnt) AS BIGINT), COUNT(*), MAX(cnt),
             |    CAST(SUM(cnt * CAST(round(ln(cnt) * 1e6) AS BIGINT)) AS BIGINT) FROM c)
             |SELECT col_name, n_distinct,
             |  round(CAST(round(ln(n) * 1e6) AS BIGINT) / 1e6 - s_micro / (n * 1e6), 6) AS entropy,
             |  round(top_cnt / CAST(n AS DOUBLE), 6) AS top_share
             |FROM u ORDER BY col_name""".stripMargin)),

    // k-anonymity audit (k = 5) over customer quasi-identifiers at a
    // 3-level generalization ladder: L0 = (mktsegment, nationkey,
    // acctbal-millibucket), L1 drops the balance bucket, L2 keeps only
    // the segment. Per level: equivalence-class count, classes below
    // k, re-identifiable rows (those in small classes), and the
    // suppression rate a k-anonymizer would pay — the release-vs-
    // suppress trade-off curve privacy review reads before data leaves
    // the boundary. Scale shape: three two-level aggregates (rows →
    // class sizes → one summary row each); the widest exchange carries
    // one row per CLASS, never per customer. All integers except the
    // final rate division; the balance bucket floors a positive
    // divided double (no halfway case).
    QueryDef(
      "q_kanon",
      (s, d) => {
        val k = 5
        def level(name: String, cols: Seq[org.apache.spark.sql.Column]) =
          Tables.customer(s, d)
            .groupBy(cols: _*).agg(count(lit(1)).as("sz"))
            .agg(count(lit(1)).as("n_classes"),
              sum(col("sz")).cast("bigint").as("n_rows"),
              sum(when(col("sz") < k, 1L).otherwise(0L)).as("n_small_classes"),
              sum(when(col("sz") < k, col("sz")).otherwise(lit(0L)))
                .cast("bigint").as("n_rows_at_risk"))
            .select(lit(name).as("level"), col("n_classes"), col("n_small_classes"),
              col("n_rows_at_risk"),
              (col("n_rows_at_risk").cast("double") / col("n_rows")).as("suppression_rate"))
        val bal = expr("CAST(floor(c_acctbal / 1000.0) AS BIGINT)").as("bal_k")
        level("L0_seg_nation_bal", Seq(col("c_mktsegment"), col("c_nationkey"), bal))
          .unionByName(level("L1_seg_nation", Seq(col("c_mktsegment"), col("c_nationkey"))))
          .unionByName(level("L2_seg", Seq(col("c_mktsegment"))))
          .orderBy("level")
      },
      Some("""WITH l0 AS (SELECT COUNT(*) AS sz FROM customer
             |  GROUP BY c_mktsegment, c_nationkey, CAST(floor(c_acctbal / 1000.0) AS BIGINT)),
             |l1 AS (SELECT COUNT(*) AS sz FROM customer GROUP BY c_mktsegment, c_nationkey),
             |l2 AS (SELECT COUNT(*) AS sz FROM customer GROUP BY c_mktsegment),
             |u AS (
             |  SELECT 'L0_seg_nation_bal' AS level, COUNT(*) AS n_classes,
             |    CAST(SUM(sz) AS BIGINT) AS n_rows,
             |    CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_classes,
             |    CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS n_rows_at_risk
             |  FROM l0
             |  UNION ALL
             |  SELECT 'L1_seg_nation', COUNT(*), CAST(SUM(sz) AS BIGINT),
             |    CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT),
             |    CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) FROM l1
             |  UNION ALL
             |  SELECT 'L2_seg', COUNT(*), CAST(SUM(sz) AS BIGINT),
             |    CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT),
             |    CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) FROM l2)
             |SELECT level, n_classes, n_small_classes, n_rows_at_risk,
             |  CAST(n_rows_at_risk AS DOUBLE) / n_rows AS suppression_rate
             |FROM u ORDER BY level""".stripMargin)),

    // Distinct l-diversity audit — the attack k-anonymity misses: a
    // class can hold k rows yet leak the SENSITIVE attribute if all k
    // share one value (homogeneity attack). Quasi-identifiers =
    // (nation, balance millibucket) — q_kanon's L0 minus the segment,
    // which here becomes the sensitive column; per class l = distinct
    // sensitive values, rolled up to the per-l histogram privacy
    // review reads (classes at l = 1 are fully leaked regardless of
    // size). Two-level integer agg — rows → classes → ≤ |segments|
    // histogram rows; the widest exchange carries one row per class.
    QueryDef(
      "q_ldiversity",
      (s, d) => {
        val cls = Tables.customer(s, d)
          .groupBy(col("c_nationkey"),
            expr("CAST(floor(c_acctbal / 1000.0) AS BIGINT)").as("bal_k"))
          .agg(countDistinct(col("c_mktsegment")).as("l"),
            count(lit(1)).as("sz"))
          .localCheckpoint(true)
        val tot = cls.agg(sum(col("sz")).as("n_rows_total"))
        cls.groupBy("l")
          .agg(count(lit(1)).as("n_classes"), sum(col("sz")).as("n_rows"))
          .crossJoin(broadcast(tot))
          .selectExpr("l", "n_classes", "n_rows",
            "CAST(n_rows AS DOUBLE) / n_rows_total AS row_share")
          .orderBy("l")
      },
      Some("""WITH cls AS (
             |  SELECT c_nationkey, CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_k,
             |    CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l,
             |    COUNT(*) AS sz
             |  FROM customer GROUP BY 1, 2),
             |tot AS (SELECT CAST(SUM(sz) AS BIGINT) AS n_rows_total FROM cls)
             |SELECT l, COUNT(*) AS n_classes, CAST(SUM(sz) AS BIGINT) AS n_rows,
             |  CAST(SUM(sz) AS DOUBLE) / MAX(n_rows_total) AS row_share
             |FROM cls, tot GROUP BY l ORDER BY l""".stripMargin)),

    // t-closeness audit — the leak l-diversity misses for ORDERED
    // sensitive attributes: a class can hold many distinct balance
    // buckets yet still reveal "everyone here is rich" if its
    // distribution sits far from the table's. Per quasi-identifier
    // class (market segment), t = the Earth Mover's Distance between
    // the class's balance-bucket distribution and the global one under
    // the ordered-value ground metric: t = Σᵢ |F_class(i) − F_global(i)|
    // / (m−1) over the m-bucket spine (Li et al.'s ordered-EMD form).
    // Exactness: both CDFs stay integer — the summand is
    // |cumc·tg − cumg·tc| in BIGINT (class-total × global-total units;
    // ≤ n² ≈ 2e12 at sf10 — the 100 TB promotion is DECIMAL(38,0),
    // same as q_mannwhitney) and the single division to double happens
    // once per class. Scale shape: one rows→(class, bucket) count is
    // the only full-data exchange; the dense spine cross-join, both
    // cumulative windows, and the EMD fold all run over ≤ |classes|·m
    // rows (the per-class window is bounded by the m-bucket spine, not
    // by data volume).
    QueryDef(
      "q_tcloseness",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val cnt = Tables.customer(s, d)
          .groupBy(col("c_mktsegment").as("seg"),
            expr("CAST(floor(c_acctbal / 1000.0) AS BIGINT)").as("b"))
          .agg(count(lit(1)).as("cnt"))
          .localCheckpoint(true)
        val spine = cnt.groupBy("b").agg(sum(col("cnt")).cast("bigint").as("gcnt"))
        val segs = cnt.groupBy("seg").agg(sum(col("cnt")).cast("bigint").as("tc"))
        val tot = spine.agg(sum(col("gcnt")).cast("bigint").as("tg"),
          count(lit(1)).as("m"))
        // global CDF over the m-row spine: bounded by construction
        val g = spine.withColumn("cumg",
          sum(col("gcnt")).over(Window.orderBy("b")
            .rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"))
        val wc = Window.partitionBy("seg").orderBy("b")
          .rowsBetween(Window.unboundedPreceding, 0)
        segs.crossJoin(spine.select("b"))
          .join(cnt, Seq("seg", "b"), "left")
          .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
          .withColumn("cumc", sum(col("cnt")).over(wc).cast("bigint"))
          .join(broadcast(g.select("b", "cumg")), "b")
          .crossJoin(broadcast(tot))
          .groupBy(col("seg"), col("tc"), col("tg"), col("m"))
          .agg(sum(abs(col("cumc") * col("tg") - col("cumg") * col("tc")))
            .cast("bigint").as("s_abs"))
          .selectExpr("seg", "tc AS n_rows", "CAST(m AS BIGINT) AS m",
            "CAST(s_abs AS DOUBLE) / (CAST(tc AS DOUBLE) * tg * (m - 1)) AS t",
            "CAST(s_abs AS DOUBLE) / (CAST(tc AS DOUBLE) * tg * (m - 1)) > 0.15 AS breach")
          .orderBy("seg")
      },
      Some("""WITH cnt AS (
             |  SELECT c_mktsegment AS seg,
             |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS b, COUNT(*) AS cnt
             |  FROM customer GROUP BY 1, 2),
             |spine AS (SELECT b, CAST(SUM(cnt) AS BIGINT) AS gcnt FROM cnt GROUP BY 1),
             |segs AS (SELECT seg, CAST(SUM(cnt) AS BIGINT) AS tc FROM cnt GROUP BY 1),
             |tot AS (SELECT CAST(SUM(gcnt) AS BIGINT) AS tg,
             |    CAST(COUNT(*) AS BIGINT) AS m FROM spine),
             |g AS (SELECT b, CAST(SUM(gcnt) OVER (ORDER BY b) AS BIGINT) AS cumg
             |  FROM spine),
             |dense AS (SELECT s.seg, s.tc, p.b, COALESCE(c.cnt, 0) AS cnt
             |  FROM segs s CROSS JOIN spine p
             |  LEFT JOIN cnt c ON c.seg = s.seg AND c.b = p.b),
             |cum AS (SELECT seg, tc, b,
             |    CAST(SUM(cnt) OVER (PARTITION BY seg ORDER BY b) AS BIGINT) AS cumc
             |  FROM dense),
             |sc AS (SELECT seg, tc,
             |    CAST(SUM(ABS(cumc * tg - cumg * tc)) AS BIGINT) AS s_abs
             |  FROM cum JOIN g ON cum.b = g.b CROSS JOIN tot
             |  GROUP BY seg, tc)
             |SELECT seg, tc AS n_rows, m,
             |  CAST(s_abs AS DOUBLE) / (CAST(tc AS DOUBLE) * tg * (m - 1)) AS t,
             |  CAST(s_abs AS DOUBLE) / (CAST(tc AS DOUBLE) * tg * (m - 1)) > 0.15 AS breach
             |FROM sc, tot ORDER BY seg""".stripMargin)),

    // Freshness/staleness audit over the event stream: per event type,
    // the newest record's lag behind the stream head (integer seconds
    // — epoch arithmetic, no engine-divergent date maths), plus volume
    // in the trailing 24 h and 7 d windows before the head, and a
    // staleness flag at 1 h. The "is anything silently stopped?"
    // monitor every ingest pipeline runs. One scan → keyed agg; the
    // stream head is a scalar aggregate broadcast back (no second
    // scan of events per type).
    QueryDef(
      "q_dq_freshness",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type"), unix_timestamp(col("ts")).as("es"))
        val head = ev.agg(max(col("es")).as("head_es"))
        ev.crossJoin(broadcast(head))
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n_total"),
            (first(col("head_es")) - max(col("es"))).as("lag_s"),
            sum(when(col("es") >= col("head_es") - 86400L, 1L).otherwise(0L)).as("n_24h"),
            sum(when(col("es") >= col("head_es") - 604800L, 1L).otherwise(0L)).as("n_7d"))
          .withColumn("stale_1h", (col("lag_s") > 3600L).cast("int"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (SELECT event_type,
             |    epoch_us(ts) // 1000000 AS es FROM events),
             |head AS (SELECT MAX(es) AS head_es FROM ev)
             |SELECT event_type, COUNT(*) AS n_total,
             |  CAST(MAX(head_es) - MAX(es) AS BIGINT) AS lag_s,
             |  CAST(SUM(CASE WHEN es >= head_es - 86400 THEN 1 ELSE 0 END) AS BIGINT) AS n_24h,
             |  CAST(SUM(CASE WHEN es >= head_es - 604800 THEN 1 ELSE 0 END) AS BIGINT) AS n_7d,
             |  CAST(MAX(head_es) - MAX(es) > 3600 AS INT) AS stale_1h
             |FROM ev, head
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Benford's-law audit over order totals: observed first-significant-
    // digit distribution vs the log expectation P(d) = log₁₀(1 + 1/d) —
    // the classic fabricated-amounts screen. The first digit is read
    // from the INTEGER-TO-STRING image of exact cents (decimal cast →
    // BIGINT → VARCHAR is locale-free and identical per engine; no
    // float log10 of the amount ever happens). The expected share is
    // the one place a transcendental enters, so it lands on the 1e-6
    // grid via the q_dq_entropy round-then-BIGINT discipline; the
    // deviation column stays in exact micro units. One stateless scan →
    // 9-group agg; the share denominator is a window over the 9-row
    // aggregate, not a second pass.
    QueryDef(
      "q_benford",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val digits = Tables.orders(s, d)
          .selectExpr("CAST(substring(CAST(CAST(CAST(o_totalprice AS DECIMAL(28,2)) " +
            "* 100 AS BIGINT) AS STRING), 1, 1) AS INT) AS digit")
          .groupBy("digit").agg(count(lit(1)).as("n"))
        val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        digits
          .withColumn("total", sum(col("n")).over(wAll))
          .selectExpr("digit", "n",
            "CAST(n AS DOUBLE) / total AS obs_share",
            "CAST(round(ln(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / digit) " +
              "/ ln(CAST(10 AS DOUBLE)) * 1000000) AS BIGINT) AS exp_micro")
          .withColumn("dev_micro",
            expr("CAST(round(obs_share * 1000000) AS BIGINT) - exp_micro"))
          .orderBy("digit")
      },
      Some("""WITH d AS (
             |  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(28,2))
             |      * 100 AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
             |    COUNT(*) AS n
             |  FROM orders GROUP BY 1),
             |s AS (
             |  SELECT digit, n,
             |    CAST(n AS DOUBLE) / SUM(n) OVER () AS obs_share,
             |    CAST(round(ln(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / digit)
             |      / ln(CAST(10 AS DOUBLE)) * 1000000) AS BIGINT) AS exp_micro
             |  FROM d)
             |SELECT digit, n, obs_share, exp_micro,
             |  CAST(round(obs_share * 1000000) AS BIGINT) - exp_micro AS dev_micro
             |FROM s ORDER BY digit""".stripMargin)),

    // Local differential privacy: randomized response over event_type
    // (each event reports its true type w.p. 3/4, else a uniformly
    // drawn type) plus the unbiased frequency estimator that inverts
    // the mechanism. Like q_dp_counts, the randomness is a
    // deterministic md5 uniform compared against integer literals —
    // keep/flip is u < 3·2⁵⁸ on a 60-bit uniform (exactly p = 3/4),
    // the replacement draw is a second independent hash mod k joined
    // against the rank-indexed type spine — so both engines replay the
    // identical coin flips bit-for-bit. The estimator
    // n̂ = (20·obs − N)/15 keeps its numerator an exact BIGINT; one
    // float division publishes it. Two stateless scans + keyed aggs;
    // the 5-row spine broadcasts.
    QueryDef(
      "q_ldp_freq",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val idx = Tables.events(s, d).select("event_type").distinct()
          .withColumn("tidx",
            (row_number().over(Window.orderBy("event_type")) - 1).cast("long"))
        val ev = Tables.events(s, d).selectExpr("event_type",
          "CAST(conv(substr(md5(concat('rr:', CAST(event_id AS STRING))), 1, 15), 16, 10) AS BIGINT) AS u1",
          "CAST(conv(substr(md5(concat('pick:', CAST(event_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 5 AS pick")
        val reported = ev
          .join(broadcast(idx.selectExpr("event_type AS alt", "tidx")),
            col("pick") === col("tidx"))
          .selectExpr(
            "CASE WHEN u1 < 864691128455135232 THEN event_type ELSE alt END AS rep")
          .groupBy(col("rep").as("event_type"))
          .agg(count(lit(1)).as("obs_n"))
        val truth = Tables.events(s, d).groupBy("event_type")
          .agg(count(lit(1)).as("true_n"))
        val total = Tables.events(s, d).agg(count(lit(1)).as("n_total"))
        truth.join(reported, Seq("event_type"), "left")
          .withColumn("obs_n", coalesce(col("obs_n"), lit(0L)))
          .crossJoin(broadcast(total))
          .selectExpr("event_type", "true_n", "obs_n",
            "CAST(20 * obs_n - n_total AS DOUBLE) / 15 AS est_n")
          .orderBy("event_type")
      },
      Some("""WITH idx AS (
             |  SELECT event_type AS alt,
             |    ROW_NUMBER() OVER (ORDER BY event_type) - 1 AS tidx
             |  FROM (SELECT DISTINCT event_type FROM events)),
             |ev AS (
             |  SELECT event_type,
             |    CAST(('0x' || substr(md5('rr:' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS u1,
             |    CAST(('0x' || substr(md5('pick:' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) % 5 AS pick
             |  FROM events),
             |reported AS (
             |  SELECT CASE WHEN u1 < 864691128455135232
             |    THEN event_type ELSE alt END AS event_type, COUNT(*) AS obs_n
             |  FROM ev JOIN idx ON tidx = pick
             |  GROUP BY 1),
             |truth AS (SELECT event_type, COUNT(*) AS true_n FROM events GROUP BY 1),
             |tot AS (SELECT COUNT(*) AS n_total FROM events)
             |SELECT t.event_type, true_n, COALESCE(obs_n, 0) AS obs_n,
             |  CAST(20 * COALESCE(obs_n, 0) - n_total AS DOUBLE) / 15 AS est_n
             |FROM truth t LEFT JOIN reported r ON r.event_type = t.event_type
             |CROSS JOIN tot
             |ORDER BY t.event_type""".stripMargin))
  )
}
