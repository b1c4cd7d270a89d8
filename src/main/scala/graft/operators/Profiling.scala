package graft.operators

import graft.{Parity, QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Data profiling and quantile-derived transforms — the "look at the
  * data before training on it" passes: per-column summary statistics,
  * quantile binning (feature discretization), and IQR outlier screening.
  * Nothing in the reference profiles anything (it prints `df.show()` at
  * most, `temDataRead.py:84`); extension surface.
  *
  * Scale design: the profile is ONE wide aggregate over the scan (plus
  * Spark's Expand for the exact distinct counts — the documented cost of
  * exactness; swap in approx_count_distinct when ±2% is fine). Binning
  * and outlier screens compute per-group boundaries with the
  * histogram-bisected exact percentile ([[Aggregates.sortPercentiles]] —
  * combinable scans, no raw-data range shuffle), broadcast the tiny
  * boundary frame back, and bucket with a stateless per-row CASE: the
  * whole pipeline is scan-shaped, no operator holds group state
  * proportional to rows.
  */
object Profiling {

  private val profCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  val defs: Seq[QueryDef] = Seq(

    // Per-group closed-form OLS — the quick "is this linear, and how
    // steep" regression a profiler answers per slice (here: document
    // length in chars vs token count per language, where the fit is
    // real because chars/token is bounded). ONE map-side-combined pass
    // collects the five moment sums as EXACT BIGINTs (x, y are
    // integers; at true 100 TB row counts the sums go DECIMAL(38), the
    // q_agg_stddev note); slope/intercept/r² are then closed-form
    // doubles over those exactly-agreed integers — deterministic both
    // engines, no iterative fitting anywhere.
    QueryDef(
      "q_ols_group",
      (s, d) => Tables.documents(s, d)
        .selectExpr("lang", "CAST(size(split(text, ' ')) AS BIGINT) AS x",
          "n_chars AS y")
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"),
          sum(expr("y * y")).as("syy"))
        .selectExpr("lang", "n",
          "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) " +
            "/ (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS slope",
          "(CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) " +
            "/ (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)) * sx) / n AS intercept",
          "((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) " +
            "* (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)) " +
            "/ ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) " +
            "* (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) AS r2")
        .orderBy("lang"),
      Some("""WITH m AS (
             |  SELECT lang, COUNT(*) AS n,
             |    SUM(x) AS sx, SUM(y) AS sy,
             |    SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
             |  FROM (SELECT lang,
             |          CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
             |          n_chars AS y FROM documents)
             |  GROUP BY lang)
             |SELECT lang, n,
             |  (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             |    / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS slope,
             |  (CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             |    / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)) * sx) / n AS intercept,
             |  ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             |    * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy))
             |    / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
             |    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) AS r2
             |FROM m ORDER BY lang""".stripMargin)),

    // Per-column summary: one pass, stacked to one row per column.
    // Untimed: the approximate-distinct twin q_profile_approx below is
    // the timed profile.
    QueryDef(
      "q_profile_table",
      (s, d) => {
        val aggs = profCols.flatMap { c =>
          Seq(count(col(c)).as(s"__n_$c"),
            countDistinct(col(c)).as(s"__d_$c"),
            min(col(c)).as(s"__min_$c"),
            max(col(c)).as(s"__max_$c"),
            Parity.davg(col(c), 2).as(s"__avg_$c"))
        }
        val stacked = profCols.map { c =>
          s"struct('$c' AS col_name, __n_$c AS n_nonnull, __d_$c AS n_distinct, " +
            s"__min_$c AS min_v, __max_$c AS max_v, __avg_$c AS mean_v)"
        }.mkString(", ")
        Tables.lineitem(s, d)
          .agg(aggs.head, aggs.tail: _*)
          .selectExpr(s"explode(array($stacked)) AS p")
          .select("p.*")
          .orderBy("col_name")
      },
      Some(profCols.map { c =>
        s"""SELECT '$c' AS col_name, COUNT($c) AS n_nonnull,
           |  COUNT(DISTINCT $c) AS n_distinct, MIN($c) AS min_v, MAX($c) AS max_v,
           |  ${Parity.sqlDavg(c, 2)} AS mean_v FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")),
      headline = false),

    // The headline profile: same single-pass shape with
    // approx_count_distinct (HLL++) replacing the exact distincts — the
    // 4 exact COUNT(DISTINCT) above force a 5× Expand of the scan, the
    // documented price of exactness that a routine profile doesn't need
    // (±2% on cardinality is diagnostic noise). Oracle-checked through
    // the HLL *contract* (the q_agg_hll pattern): the sketch estimate
    // itself is engine-specific, so each engine checks its own estimate
    // against its own exact count and the BOOLEAN is the compared
    // output. The exact reference avoids the Expand too — and (round-9
    // verdict, item 4) scans lineitem ONCE for all four columns instead
    // of once per column: the scan stacks each row into 4 narrow
    // (col_name, value) pairs via explode, then a two-level aggregation
    // (groupBy(col_name, v) partial-deduplicates map-side, so only the
    // distinct pairs — bounded by Σ per-column cardinality, not rows —
    // cross the exchange; a second groupBy(col_name) counts them).
    // That is the scalable exact-cardinality shape: one scan, one
    // narrow shuffle, no Expand multiplication of the wide row.
    // ProfilingSpec additionally pins the estimates within 5% at two
    // SFs.
    QueryDef(
      "q_profile_approx",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val stackedPairs = profCols.map { c =>
          s"struct('$c' AS col_name, CAST($c AS double) AS v)"
        }.mkString(", ")
        val exacts = li
          .selectExpr(s"explode(array($stackedPairs)) AS p")
          .select("p.*")
          .filter(col("v").isNotNull)
          .groupBy("col_name", "v").agg(count(lit(1)))
          .groupBy("col_name").agg(count(lit(1)).as("n_distinct"))
        val aggs = profCols.flatMap { c =>
          Seq(count(col(c)).as(s"__n_$c"),
            approx_count_distinct(col(c), 0.02).as(s"__d_$c"),
            min(col(c)).as(s"__min_$c"),
            max(col(c)).as(s"__max_$c"),
            Parity.davg(col(c), 2).as(s"__avg_$c"))
        }
        val stacked = profCols.map { c =>
          s"struct('$c' AS col_name, __n_$c AS n_nonnull, __d_$c AS approx_distinct, " +
            s"__min_$c AS min_v, __max_$c AS max_v, __avg_$c AS mean_v)"
        }.mkString(", ")
        li.agg(aggs.head, aggs.tail: _*)
          .selectExpr(s"explode(array($stacked)) AS p")
          .select("p.*")
          .join(broadcast(exacts), "col_name")
          .select(col("col_name"), col("n_nonnull"), col("n_distinct"),
            col("min_v"), col("max_v"), col("mean_v"),
            (abs(col("approx_distinct") - col("n_distinct"))
              <= col("n_distinct") * 0.05).as("approx_ok"))
          .orderBy("col_name")
      },
      Some(profCols.map { c =>
        s"""SELECT '$c' AS col_name, COUNT($c) AS n_nonnull,
           |  COUNT(DISTINCT $c) AS n_distinct,
           |  approx_count_distinct($c) AS approx_distinct,
           |  MIN($c) AS min_v, MAX($c) AS max_v,
           |  ${Parity.sqlDavg(c, 2)} AS mean_v FROM lineitem""".stripMargin
      }.mkString(
        "SELECT col_name, n_nonnull, n_distinct, min_v, max_v, mean_v,\n" +
          "  ABS(approx_distinct - n_distinct) <= n_distinct * 0.05 AS approx_ok\nFROM (\n",
        "\nUNION ALL\n",
        ")\nORDER BY col_name"))),

    // Quantile binning: per-group quartile boundaries → per-row bucket
    // assignment → bucket histogram. The boundary values are the exact
    // interpolated percentiles both engines agree on bit-for-bit
    // (q_agg_percentile pins that), so the <= cuts agree too.
    QueryDef(
      "q_bin_quantile",
      (s, d) => {
        val bounds = Aggregates.sortPercentiles(
          Tables.lineitem(s, d), "l_returnflag",
          Seq("l_extendedprice" -> Seq(0.25 -> "q25", 0.5 -> "q50", 0.75 -> "q75")))
        Tables.lineitem(s, d)
          .join(broadcast(bounds), "l_returnflag")
          .withColumn("bucket",
            expr("CASE WHEN l_extendedprice <= q25 THEN 1 WHEN l_extendedprice <= q50 THEN 2 " +
              "WHEN l_extendedprice <= q75 THEN 3 ELSE 4 END"))
          .groupBy("l_returnflag", "bucket")
          .agg(count(lit(1)).as("n"), Parity.davg(col("l_extendedprice"), 2).as("avg_price"))
          .orderBy("l_returnflag", "bucket")
      },
      Some(s"""WITH b AS (
              |  SELECT l_returnflag,
              |    quantile_cont(l_extendedprice, 0.25) AS q25,
              |    quantile_cont(l_extendedprice, 0.50) AS q50,
              |    quantile_cont(l_extendedprice, 0.75) AS q75
              |  FROM lineitem GROUP BY l_returnflag)
              |SELECT l.l_returnflag,
              |  CASE WHEN l_extendedprice <= q25 THEN 1 WHEN l_extendedprice <= q50 THEN 2
              |       WHEN l_extendedprice <= q75 THEN 3 ELSE 4 END AS bucket,
              |  COUNT(*) AS n, ${Parity.sqlDavg("l_extendedprice", 2)} AS avg_price
              |FROM lineitem l JOIN b USING (l_returnflag)
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      headline = false),

    // Median absolute deviation — the robust scale estimate (stddev
    // blows up on the same outliers it's meant to flag). A two-pass
    // composition over the exact-percentile machinery: median per
    // group, broadcast back, then the median OF the absolute
    // deviations — the second pass runs on a derived column, the shape
    // that proves percentiles compose (boundary values bit-agree
    // across engines, so the derived |x - med| values do too).
    QueryDef(
      "q_agg_mad",
      (s, d) => {
        val med = Aggregates.sortPercentiles(
          Tables.orders(s, d), "o_orderpriority",
          Seq("o_totalprice" -> Seq(0.5 -> "med")))
        val dev = Tables.orders(s, d)
          .join(broadcast(med), "o_orderpriority")
          .withColumn("adev", abs(col("o_totalprice") - col("med")))
        Aggregates.sortPercentiles(dev, "o_orderpriority",
            Seq("adev" -> Seq(0.5 -> "mad")))
          .join(med, "o_orderpriority")
          .select("o_orderpriority", "med", "mad")
          .orderBy("o_orderpriority")
      },
      Some("""WITH m AS (
             |  SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS med
             |  FROM orders GROUP BY o_orderpriority),
             |dev AS (
             |  SELECT o.o_orderpriority, m.med, abs(o_totalprice - med) AS adev
             |  FROM orders o JOIN m USING (o_orderpriority))
             |SELECT o_orderpriority, ANY_VALUE(med) AS med,
             |  quantile_cont(adev, 0.5) AS mad
             |FROM dev GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      headline = false),

    // IQR outlier screen: Tukey fences per group; pins the outlier SET
    // via key checksum, not just its size. Fence arithmetic is per-row
    // IEEE double over bit-agreed boundaries — deterministic.
    QueryDef(
      "q_outlier_iqr",
      (s, d) => {
        val bounds = Aggregates.sortPercentiles(
          Tables.orders(s, d), "o_orderpriority",
          Seq("o_totalprice" -> Seq(0.25 -> "q1", 0.75 -> "q3")))
        Tables.orders(s, d)
          .join(broadcast(bounds), "o_orderpriority")
          .withColumn("lo", expr("q1 - 1.5 * (q3 - q1)"))
          .withColumn("hi", expr("q3 + 1.5 * (q3 - q1)"))
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n"),
            sum(when(col("o_totalprice") < col("lo") || col("o_totalprice") > col("hi"), 1L)
              .otherwise(0L)).cast("bigint").as("n_outliers"),
            sum(when(col("o_totalprice") < col("lo") || col("o_totalprice") > col("hi"),
              col("o_orderkey")).otherwise(0L)).cast("bigint").as("outlier_checksum"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH b AS (
             |  SELECT o_orderpriority,
             |    quantile_cont(o_totalprice, 0.25) AS q1,
             |    quantile_cont(o_totalprice, 0.75) AS q3
             |  FROM orders GROUP BY o_orderpriority)
             |SELECT o.o_orderpriority, COUNT(*) AS n,
             |  CAST(SUM(CASE WHEN o_totalprice < q1 - 1.5 * (q3 - q1)
             |                  OR o_totalprice > q3 + 1.5 * (q3 - q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
             |  CAST(SUM(CASE WHEN o_totalprice < q1 - 1.5 * (q3 - q1)
             |                  OR o_totalprice > q3 + 1.5 * (q3 - q1) THEN o_orderkey ELSE 0 END) AS BIGINT) AS outlier_checksum
             |FROM orders o JOIN b USING (o_orderpriority)
             |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin),
      headline = false),

    // Feature scaling: per-group z-score and min-max normalization of
    // l_extendedprice — the standardization pass before any numeric
    // feature meets a model. Group stats come from exact decimal power
    // sums (one combinable aggregate, broadcast back); the per-row
    // scaled values are IEEE doubles over those exact stats, checked on
    // a hash-pinned row sample so the output stays bounded while the
    // scaling is verified end-to-end.
    QueryDef(
      "q_feature_scale",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val stats = Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).cast("double").as("n"),
            sum(col("l_extendedprice").cast(DecimalType(28, 2))).cast("double").as("sx"),
            sum((col("l_extendedprice") * col("l_extendedprice")).cast(DecimalType(28, 4)))
              .cast("double").as("sxx"),
            min(col("l_extendedprice")).as("mn"),
            max(col("l_extendedprice")).as("mx"))
        Tables.lineitem(s, d)
          .join(broadcast(stats), "l_returnflag")
          .filter(expr(s"${graft.functions.TextAnalysis.tokHash(
            "concat(l_orderkey, '#', l_linenumber)")} % 100 < 2"))
          .selectExpr("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice",
            "round((l_extendedprice - sx / n) " +
              "/ sqrt((n * sxx - sx * sx) / (n * (n - 1.0))), 6) AS zscore",
            "round((l_extendedprice - mn) / (mx - mn), 6) AS minmax")
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some(s"""WITH stats AS (
              |  SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
              |    ${Parity.sqlDsum("l_extendedprice", 2)} AS sx,
              |    ${Parity.sqlDsum("l_extendedprice * l_extendedprice", 4)} AS sxx,
              |    MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx
              |  FROM lineitem GROUP BY l_returnflag)
              |SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
              |  round((l_extendedprice - sx / n)
              |    / sqrt((n * sxx - sx * sx) / (n * (n - 1.0))), 6) AS zscore,
              |  round((l_extendedprice - mn) / (mx - mn), 6) AS minmax
              |FROM lineitem JOIN stats USING (l_returnflag)
              |WHERE ${graft.functions.TextAnalysis.duckTokHash(
                 "concat(l_orderkey, '#', l_linenumber)")} % 100 < 2
              |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      headline = false),

    // Winsorization: clip each group's values to its exact [p05, p95]
    // — the robust alternative to dropping outliers (IQR screens flag,
    // winsorizing keeps the row with a bounded value). Boundaries come
    // from the bounded-state exact percentile ([[Aggregates
    // .sortPercentiles]]), broadcast back; the clip is a stateless
    // per-row CASE, summarized per group so the contract output stays
    // small while pinning the clipped-row counts and the exact decimal
    // mean of the winsorized column.
    QueryDef(
      "q_winsorize",
      (s, d) => {
        val bounds = Aggregates.sortPercentiles(
          Tables.orders(s, d), "o_orderpriority",
          Seq("o_totalprice" -> Seq(0.05 -> "p05", 0.95 -> "p95")))
        Tables.orders(s, d)
          .join(broadcast(bounds), "o_orderpriority")
          .withColumn("w", expr(
            "CASE WHEN o_totalprice < p05 THEN p05 " +
              "WHEN o_totalprice > p95 THEN p95 " +
              "ELSE CAST(o_totalprice AS DOUBLE) END"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(expr("IF(o_totalprice < p05, 1L, 0L)")).as("n_clipped_lo"),
            sum(expr("IF(o_totalprice > p95, 1L, 0L)")).as("n_clipped_hi"),
            Parity.davg(col("w"), 4).as("avg_winsorized"))
          .orderBy("o_orderpriority")
      },
      Some(s"""WITH b AS (
              |  SELECT o_orderpriority,
              |    quantile_cont(o_totalprice, 0.05) AS p05,
              |    quantile_cont(o_totalprice, 0.95) AS p95
              |  FROM orders GROUP BY o_orderpriority)
              |SELECT o_orderpriority, COUNT(*) AS n,
              |  CAST(SUM(CASE WHEN o_totalprice < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
              |  CAST(SUM(CASE WHEN o_totalprice > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
              |  ${Parity.sqlDavg(
                   "CASE WHEN o_totalprice < p05 THEN p05 WHEN o_totalprice > p95 THEN p95 ELSE CAST(o_totalprice AS DOUBLE) END",
                   4)} AS avg_winsorized
              |FROM orders JOIN b USING (o_orderpriority)
              |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Leave-one-out target encoding of the customer market segment by
    // order value — the high-cardinality-categorical encoder whose LOO
    // form prevents the row's own target from leaking into its
    // feature. Each row's code is (S_seg − own)/(n_seg − 1) from the
    // segment's EXACT cents sum (one keyed agg, broadcast back — no
    // per-row window, no shuffle beyond the one agg). Per-row codes
    // are floats, so the rollup publishes only order-independent
    // reductions of them: min, max, and the count above the global
    // mean (every comparison evaluates the identical float expression
    // on exact integers in both engines — no float SUM ever happens).
    QueryDef(
      "q_feature_target_enc",
      (s, d) => {
        val o = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d).select("c_custkey", "c_mktsegment")),
            col("o_custkey") === col("c_custkey"))
          .selectExpr("c_mktsegment AS seg",
            "CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT) AS cents")
        val st = o.groupBy("seg")
          .agg(count(lit(1)).as("n_seg"), sum(col("cents")).as("s_seg"))
        val glob = o.agg(count(lit(1)).as("n_tot"), sum(col("cents")).as("s_tot"))
        o.join(broadcast(st), "seg")
          .crossJoin(broadcast(glob))
          .selectExpr("seg", "n_seg", "s_seg",
            "CAST(s_seg - cents AS DOUBLE) / (n_seg - 1) AS enc",
            "CAST(s_tot AS DOUBLE) / n_tot AS gmean")
          .groupBy("seg")
          .agg(max(col("n_seg")).as("n_orders"),
            max(col("s_seg")).as("sum_cents"),
            min(col("enc")).as("enc_min"),
            max(col("enc")).as("enc_max"),
            sum(when(col("enc") > col("gmean"), 1L).otherwise(0L)).as("n_above_gmean"))
          .orderBy("seg")
      },
      Some("""WITH o AS (
             |  SELECT c_mktsegment AS seg,
             |    CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT) AS cents
             |  FROM orders JOIN customer ON o_custkey = c_custkey),
             |st AS (
             |  SELECT seg, COUNT(*) AS n_seg, CAST(SUM(cents) AS BIGINT) AS s_seg
             |  FROM o GROUP BY 1),
             |gstats AS (
             |  SELECT COUNT(*) AS n_tot, CAST(SUM(cents) AS BIGINT) AS s_tot FROM o),
             |enc AS (
             |  SELECT o.seg, n_seg, s_seg,
             |    CAST(s_seg - cents AS DOUBLE) / (n_seg - 1) AS enc,
             |    CAST(s_tot AS DOUBLE) / n_tot AS gmean
             |  FROM o JOIN st ON st.seg = o.seg CROSS JOIN gstats)
             |SELECT seg, MAX(n_seg) AS n_orders,
             |  CAST(MAX(s_seg) AS BIGINT) AS sum_cents,
             |  MIN(enc) AS enc_min, MAX(enc) AS enc_max,
             |  CAST(SUM(CASE WHEN enc > gmean THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_above_gmean
             |FROM enc GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Weight-of-evidence encoding + information value of the document
    // language against the long-form label (the q_quality_classifier
    // target) — the scorecard-modeling companion to the LOO target
    // encoder above: WOE_i = ln(P(lang_i | pos) / P(lang_i | neg))
    // says which way a category shifts the odds; IV_i = (P(lang_i|pos)
    // − P(lang_i|neg))·WOE_i rolls up its predictive power (Σ IV < 0.02
    // means "drop the feature"). Determinism: counts are exact; the
    // Laplace +0.5 smoothing (the standard zero-cell guard — a lang
    // with no negatives would send WOE to ∞) makes both ln arguments
    // strictly positive; the single ln lands on the 1e-6 grid via the
    // q_dq_entropy round-then-BIGINT discipline, and the IV factors
    // reuse the published micro values so both engines multiply
    // identical doubles. One scan → |langs|-group agg; the totals row
    // broadcasts back.
    QueryDef(
      "q_feature_woe",
      (s, d) => {
        val cls = Tables.documents(s, d)
          .selectExpr("lang", "CASE WHEN n_chars >= 300 THEN 1L ELSE 0L END AS y")
          .groupBy("lang")
          .agg(sum(col("y")).as("pos"),
            sum(lit(1L) - col("y")).as("neg"))
          .localCheckpoint(true)
        val tot = cls.agg(sum(col("pos")).cast("bigint").as("pt"),
          sum(col("neg")).cast("bigint").as("nt"))
        cls.crossJoin(broadcast(tot))
          .selectExpr("lang", "pos", "neg",
            "CAST(round(ln(((CAST(pos AS DOUBLE) + 0.5) / pt) / ((CAST(neg AS DOUBLE) + 0.5) / nt)) * 1000000.0) AS BIGINT) AS woe_micro",
            "CAST(pos AS DOUBLE) / pt - CAST(neg AS DOUBLE) / nt AS dshare")
          .selectExpr("lang", "pos", "neg", "woe_micro",
            "dshare * (CAST(woe_micro AS BIGINT) / 1000000.0) AS iv")
          .orderBy("lang")
      },
      Some("""WITH cls AS (
             |  SELECT lang,
             |    CAST(SUM(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
             |    CAST(SUM(CASE WHEN n_chars >= 300 THEN 0 ELSE 1 END) AS BIGINT) AS neg
             |  FROM documents GROUP BY 1),
             |tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS pt,
             |    CAST(SUM(neg) AS BIGINT) AS nt FROM cls),
             |w AS (SELECT lang, pos, neg,
             |    CAST(round(ln(((CAST(pos AS DOUBLE) + 0.5) / pt) / ((CAST(neg AS DOUBLE) + 0.5) / nt)) * 1000000.0) AS BIGINT) AS woe_micro,
             |    CAST(pos AS DOUBLE) / pt - CAST(neg AS DOUBLE) / nt AS dshare
             |  FROM cls, tot)
             |SELECT lang, pos, neg, woe_micro,
             |  dshare * (CAST(woe_micro AS BIGINT) / 1000000.0) AS iv
             |FROM w ORDER BY lang""".stripMargin)),

    // Population Stability Index — the drift monitor run between a
    // reference window and a current one before trusting any model
    // trained on the former: PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) over
    // value buckets b (PSI < 0.1 stable, 0.1–0.25 shifting, > 0.25
    // retrain). Slices: orders ≤ 1995 (reference) vs > 1995 (current),
    // bucketed by fixed 25k price bands — fixed bands, not quantiles,
    // so the bucket map is a stateless per-row expression in both
    // engines. Laplace +0.5 per (bucket, slice) keeps empty cells
    // finite (the WOE discipline); the ln lands on the 1e-6 grid, the
    // share difference is a double from exact integer counts, and each
    // bucket's PSI term multiplies the two published values — both
    // engines multiply identical doubles. One scan → |buckets|×2 agg;
    // the totals broadcast back.
    QueryDef(
      "q_profile_psi",
      (s, d) => {
        val cells = Tables.orders(s, d)
          .selectExpr(
            "CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS b",
            "CASE WHEN year(o_orderdate) <= 1995 THEN 1L ELSE 0L END AS ref")
          .groupBy("b")
          .agg(sum(col("ref")).as("n_ref"),
            sum(lit(1L) - col("ref")).as("n_cur"))
          .localCheckpoint(true)
        val tot = cells.agg(sum(col("n_ref")).cast("bigint").as("t_ref"),
          sum(col("n_cur")).cast("bigint").as("t_cur"))
        cells.crossJoin(broadcast(tot))
          .selectExpr("b", "n_ref", "n_cur",
            "CAST(round(ln(((CAST(n_ref AS DOUBLE) + 0.5) / t_ref) / ((CAST(n_cur AS DOUBLE) + 0.5) / t_cur)) * 1000000.0) AS BIGINT) AS lr_micro",
            "CAST(n_ref AS DOUBLE) / t_ref - CAST(n_cur AS DOUBLE) / t_cur AS dshare")
          .selectExpr("b", "n_ref", "n_cur", "lr_micro",
            "dshare * (CAST(lr_micro AS BIGINT) / 1000000.0) AS psi_term")
          .orderBy("b")
      },
      Some("""WITH cells AS (
             |  SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS b,
             |    CAST(SUM(CASE WHEN year(o_orderdate) <= 1995 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
             |    CAST(SUM(CASE WHEN year(o_orderdate) <= 1995 THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
             |  FROM orders GROUP BY 1),
             |tot AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref,
             |    CAST(SUM(n_cur) AS BIGINT) AS t_cur FROM cells),
             |w AS (SELECT b, n_ref, n_cur,
             |    CAST(round(ln(((CAST(n_ref AS DOUBLE) + 0.5) / t_ref) / ((CAST(n_cur AS DOUBLE) + 0.5) / t_cur)) * 1000000.0) AS BIGINT) AS lr_micro,
             |    CAST(n_ref AS DOUBLE) / t_ref - CAST(n_cur AS DOUBLE) / t_cur AS dshare
             |  FROM cells, tot)
             |SELECT b, n_ref, n_cur, lr_micro,
             |  dshare * (CAST(lr_micro AS BIGINT) / 1000000.0) AS psi_term
             |FROM w ORDER BY b""".stripMargin)),

    // Multivariate outlier screen: squared Mahalanobis distance of each
    // (l_quantity, l_extendedprice) row from the table's own 2-D
    // distribution — the correlation-aware upgrade of q_outlier_iqr (a
    // row can be unremarkable on each axis yet far off the joint
    // ellipse). One exact moment pass (n, Σx, Σy, Σx², Σy², Σxy as
    // DECIMAL — both columns are cents/integer-valued so scale-4
    // products are exact and order-independent), the 2×2 covariance
    // inverted in closed form, then a stateless scan computes each
    // row's d² from broadcast scalars — identical double expressions on
    // identical decimal-derived operands in both engines, micro-
    // quantized before the rank so the top-20 cut is tie-stable.
    // 100 TB shape: two scans (one agg + one top-k via TakeOrdered),
    // no shuffle wider than 20 rows, moments are map-side-combined.
    QueryDef(
      "q_stat_mahalanobis",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("decimal(18,2)").as("x"),
          col("l_extendedprice").cast("decimal(18,2)").as("y"))
        val m = li.agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum(expr("CAST(x * x AS DECIMAL(38,4))")).cast("double").as("sxx"),
          sum(expr("CAST(y * y AS DECIMAL(38,4))")).cast("double").as("syy"),
          sum(expr("CAST(x * y AS DECIMAL(38,4))")).cast("double").as("sxy"))
        li.crossJoin(broadcast(m))
          .selectExpr("l_orderkey", "l_linenumber",
            "CAST(x AS DOUBLE) - sx / n AS dx",
            "CAST(y AS DOUBLE) - sy / n AS dy",
            "(sxx - sx * sx / n) / (n - 1.0) AS vx",
            "(syy - sy * sy / n) / (n - 1.0) AS vy",
            "(sxy - sx * sy / n) / (n - 1.0) AS vxy")
          .selectExpr("l_orderkey", "l_linenumber",
            "CAST(round((dy * dy * vx + dx * dx * vy - 2.0 * dx * dy * vxy) " +
              "/ (vx * vy - vxy * vxy) * 1000000.0) AS BIGINT) AS d2_micro")
          .orderBy(col("d2_micro").desc, col("l_orderkey"), col("l_linenumber"))
          .limit(20)
      },
      Some("""WITH li AS (
             |  SELECT l_orderkey, l_linenumber,
             |    CAST(l_quantity AS DECIMAL(18,2)) AS x,
             |    CAST(l_extendedprice AS DECIMAL(18,2)) AS y
             |  FROM lineitem),
             |m AS (
             |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(x * x AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
             |    CAST(SUM(CAST(y * y AS DECIMAL(38,4))) AS DOUBLE) AS syy,
             |    CAST(SUM(CAST(x * y AS DECIMAL(38,4))) AS DOUBLE) AS sxy
             |  FROM li),
             |dev AS (
             |  SELECT l_orderkey, l_linenumber,
             |    CAST(x AS DOUBLE) - sx / n AS dx,
             |    CAST(y AS DOUBLE) - sy / n AS dy,
             |    (sxx - sx * sx / n) / (n - 1.0) AS vx,
             |    (syy - sy * sy / n) / (n - 1.0) AS vy,
             |    (sxy - sx * sy / n) / (n - 1.0) AS vxy
             |  FROM li, m)
             |SELECT l_orderkey, l_linenumber,
             |  CAST(round((dy * dy * vx + dx * dx * vy - 2.0 * dx * dy * vxy)
             |    / (vx * vy - vxy * vxy) * 1000000.0) AS BIGINT) AS d2_micro
             |FROM dev
             |ORDER BY d2_micro DESC, l_orderkey, l_linenumber
             |LIMIT 20""".stripMargin))
  )
}
