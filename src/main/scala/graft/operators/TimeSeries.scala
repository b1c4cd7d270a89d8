package graft.operators

import graft.{Parity, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series regularization: resample to a fixed grid with gap fill —
  * the step between raw event logs and anything windowed/learned on
  * them (a rolling feature over a series with silent gaps is wrong;
  * the gaps must become explicit zero/carried rows first). The
  * reference replays streams but never regularizes them
  * (`temDataRead.py:61-72` ships rows as they come); extension surface
  * over `events`.
  *
  * Scale design: bucketing is a stateless per-row truncation
  * (epoch-aligned `window()`, same grid as the streaming twins); the
  * gap rows are generated per entity from its own observed buckets
  * (`sequence()` explode in [[gapFill]] — rows ∝ buckets actually
  * needed, never |entities| × global-span); every window partitions by
  * entity — no global anything.
  *
  * The explode-after-coalesce trap: a small pre-explode frame lets AQE
  * coalesce its exchange to ~1 partition, and `sequence()` then
  * multiplies rows ∝ span AFTER the coalesce; when nothing downstream
  * re-shuffles, every later pass runs serially in that one partition.
  * It shows as an inverted scale curve (15.1 s at sf1 vs 5.9 s at sf3,
  * stable medians): sf3 escapes only because its aggregate outgrows
  * the broadcast threshold, which forces a shuffle whose exchange
  * re-parallelizes the frame. [[spreadByEntity]] pins an explicit
  * fixed-count repartition under the window — it satisfies the window's
  * required distribution (so it REPLACES its implicit exchange, not
  * adds one) and a user-specified partition count is exempt from AQE
  * coalescing.
  */
object TimeSeries {

  /** Explicit entity-keyed exchange sized to the session's shuffle
    * parallelism; the windows' ClusteredDistribution(user_id) is
    * satisfied by it, so this is the window exchange, pinned. */
  private def spreadByEntity(df: DataFrame): DataFrame = {
    val np = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    df.repartition(scala.util.Try(np.toInt).getOrElse(32), col("user_id"))
  }

  /** Gaps-and-islands 6-hour grid per user. The per-(user, bucket)
    * aggregate (n, sum_value) gets ONE `lead()` window for each of
    * `bucket` and `leads`, as `next_<c>`; then `posexplode(sequence(
    * bucket, next_bucket − 6h))` emits the observed row (pos = 0) and
    * its trailing empty buckets (`col`), each carrying its island's
    * columns inline. So the only window runs over the observed buckets,
    * never the exploded frame, and no spine ⋈ agg join is needed. An
    * observed bucket's sum is non-null (a SUM over a non-null measure
    * with n ≥ 1), which is what lets the island's own row stand for the
    * carried value. */
  private def gapFill(s: SparkSession, d: String, leads: String*): DataFrame = {
    val agg = Tables.events(s, d)
      .groupBy(col("user_id"), window(col("ts"), "6 hours").getField("start").as("bucket"))
      .agg(count(lit(1)).as("n"), Parity.dsum(col("value"), 2).as("sum_value"))
    val w = Window.partitionBy("user_id").orderBy("bucket")
    ("bucket" +: leads).foldLeft(spreadByEntity(agg)) { (df, c) =>
        df.withColumn(s"next_$c", lead(col(c), 1).over(w))
      }
      .select(col("*"), posexplode(expr(
        "sequence(bucket, coalesce(next_bucket - INTERVAL 6 HOURS, bucket), INTERVAL 6 HOURS)")))
  }

  /** DuckDB side of the 6-hour grid: the CTEs `agg` (the observed
    * buckets) and `spine` (every bucket of each user's [min, max]
    * span), joined by the callers. */
  private lazy val duckGapSpine: String =
    s"""agg AS (
       |  SELECT user_id, time_bucket(INTERVAL 6 HOUR, ts) AS bucket,
       |    COUNT(*) AS n, ${Parity.sqlDsum("value", 2)} AS sum_value
       |  FROM events GROUP BY 1, 2),
       |spine AS (
       |  SELECT user_id, UNNEST(generate_series(b0, b1, INTERVAL 6 HOUR)) AS bucket
       |  FROM (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1
       |        FROM agg GROUP BY user_id))""".stripMargin

  /** Daily event counts per type: (event_type, dday, x). The only pass
    * over raw events of the daily-series entries; everything after it
    * runs on ≤ types × days rows. */
  private def dailyCounts(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("dday"))
      .agg(count(lit(1)).as("x"))

  /** DuckDB twin of [[dailyCounts]]: the CTE `daily`. */
  private lazy val duckDaily: String =
    """daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS dday, COUNT(*) AS x
      |  FROM events GROUP BY 1, 2)""".stripMargin

  /** A sequential fold over each type's day-ordered count series, run
    * as one `aggregate()` over the sorted array `cs`: the state starts
    * at `init` and each later day's count `v` maps it through `step`
    * (lambda `(st, v)`). Columns: event_type, n_days, `extra`…, st. */
  private def dailyFold(s: SparkSession, d: String, init: String, step: String,
                        extra: String*): DataFrame =
    dailyCounts(s, d)
      .groupBy("event_type")
      .agg(collect_list(struct(col("dday"), col("x"))).as("ds"))
      .selectExpr("event_type", "transform(array_sort(ds), e -> e.x) AS cs")
      .selectExpr(Seq("event_type", "CAST(size(cs) AS BIGINT) AS n_days") ++ extra :+
        s"aggregate(slice(cs, 2, size(cs) - 1), $init, (st, v) -> $step) AS st": _*)

  /** DuckDB twin of [[dailyFold]]: a recursive CTE `r` stepping the day
    * index `i`, with one column per `(name, init, step)` of `state`
    * (`init` reads the first day's `x`; `step` reads the previous row as
    * `r` and the day as `idx`). The final row of each type joins `tot`
    * (n_days, total_cnt) and selects `event_type, n_days, out`. */
  private def duckDailyFold(state: Seq[(String, String, String)], out: String): String =
    s"""WITH RECURSIVE $duckDaily,
       |idx AS (
       |  SELECT event_type, CAST(x AS BIGINT) AS x,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dday) AS i
       |  FROM daily),
       |r AS (
       |  SELECT event_type, i, ${state.map { case (name, init, _) => s"$init AS $name" }.mkString(", ")}
       |  FROM idx WHERE i = 1
       |  UNION ALL
       |  SELECT idx.event_type, idx.i, ${state.map(_._3).mkString(",\n    ")}
       |  FROM r JOIN idx ON idx.event_type = r.event_type AND idx.i = r.i + 1),
       |tot AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
       |    CAST(SUM(x) AS BIGINT) AS total_cnt
       |  FROM daily GROUP BY 1)
       |SELECT r.event_type, tot.n_days, $out
       |FROM r JOIN tot ON tot.event_type = r.event_type AND r.i = tot.n_days
       |ORDER BY r.event_type""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // 6-hour resample per user: zero-filled counts and forward-carried
    // last observed bucket sum over each user's active span, from the
    // gaps-and-islands rows of [[gapFill]] (the carried value is the
    // island's own sum).
    QueryDef(
      "q_ts_resample",
      (s, d) => gapFill(s, d)
        .selectExpr("user_id", "col AS bucket",
          "IF(pos = 0, n, CAST(0 AS BIGINT)) AS n",
          "sum_value AS ffill_value")
        .orderBy("user_id", "bucket"),
      Some(s"""WITH $duckGapSpine
              |SELECT spine.user_id, spine.bucket, COALESCE(agg.n, 0) AS n,
              |  last_value(agg.sum_value IGNORE NULLS) OVER (
              |    PARTITION BY spine.user_id ORDER BY spine.bucket
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_value
              |FROM spine LEFT JOIN agg
              |  ON agg.user_id = spine.user_id AND agg.bucket = spine.bucket
              |ORDER BY spine.user_id, spine.bucket""".stripMargin)),

    // Linear gap interpolation — the other standard resample fill
    // (q_ts_resample forward-fills; telemetry/finance pipelines lerp):
    // each empty 6-hour bucket gets prev + (next − prev) · frac, frac
    // from integer epoch seconds. Arithmetic is IEEE per-row over
    // Parity-deterministic bucket sums — no transcendental, no
    // quantization needed. The lerp endpoints (island start and next
    // observed bucket) ride the same [[gapFill]] row the gap rows were
    // exploded from, so no carry window ever runs over the exploded
    // frame.
    QueryDef(
      "q_ts_interpolate",
      (s, d) => gapFill(s, d, "sum_value")
        .selectExpr("user_id", "col AS bucket",
          "IF(pos = 0, n, CAST(0 AS BIGINT)) AS n",
          """CASE WHEN pos = 0 THEN sum_value
            |     ELSE sum_value + (next_sum_value - sum_value)
            |          * (CAST(unix_timestamp(col) - unix_timestamp(bucket) AS DOUBLE)
            |             / (unix_timestamp(next_bucket) - unix_timestamp(bucket)))
            |END AS interp_value""".stripMargin)
        .orderBy("user_id", "bucket"),
      Some(s"""WITH $duckGapSpine,
              |j AS (SELECT spine.user_id, spine.bucket,
              |    COALESCE(agg.n, 0) AS n, agg.sum_value,
              |    last_value(agg.sum_value IGNORE NULLS) OVER wp AS pv,
              |    last_value(CASE WHEN agg.sum_value IS NOT NULL
              |               THEN spine.bucket END IGNORE NULLS) OVER wp AS pb,
              |    first_value(agg.sum_value IGNORE NULLS) OVER wn AS nv,
              |    first_value(CASE WHEN agg.sum_value IS NOT NULL
              |                THEN spine.bucket END IGNORE NULLS) OVER wn AS nb
              |  FROM spine LEFT JOIN agg
              |    ON agg.user_id = spine.user_id AND agg.bucket = spine.bucket
              |  WINDOW wp AS (PARTITION BY spine.user_id ORDER BY spine.bucket
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
              |  wn AS (PARTITION BY spine.user_id ORDER BY spine.bucket
              |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
              |SELECT user_id, bucket, n,
              |  CASE WHEN sum_value IS NOT NULL THEN sum_value
              |       ELSE pv + (nv - pv)
              |            * (CAST(epoch(bucket) - epoch(pb) AS DOUBLE)
              |               / (epoch(nb) - epoch(pb)))
              |  END AS interp_value
              |FROM j ORDER BY user_id, bucket""".stripMargin)),

    // Interval-overlap maximum (sweep line): peak number of concurrent
    // in-transit shipments per supplier. Each interval emits a +1/-1
    // boundary event; a per-supplier running sum over (date, delta)
    // order is the live count, and its max is the answer. The (-1
    // before +1) tie order closes a transit before opening a same-day
    // one; the group max is invariant to ordering WITHIN a (date,
    // delta) tie, so no unique key is needed for determinism. All work
    // partitions by supplier — the 100 TB shape (a global sweep would
    // be the q_text_pack mistake).
    QueryDef(
      "q_interval_overlap",
      (s, d) => {
        val w = Window.partitionBy("l_suppkey").orderBy(col("d"), col("delta"))
          .rowsBetween(Window.unboundedPreceding, 0)
        Tables.lineitem(s, d)
          .selectExpr("l_suppkey", "CAST(l_shipdate AS DATE) AS st",
            "date_add(CAST(l_shipdate AS DATE), CAST(l_quantity AS INT) % 7 + 1) AS en")
          .selectExpr("l_suppkey",
            "explode(array(struct(st AS d, 1 AS delta), struct(en AS d, -1 AS delta))) AS e")
          .select(col("l_suppkey"), col("e.d").as("d"), col("e.delta").as("delta"))
          .withColumn("live", sum(col("delta")).over(w))
          .groupBy("l_suppkey")
          .agg(max(col("live")).as("max_concurrent"),
            (count(lit(1)) / 2).cast("bigint").as("n_intervals"))
          .orderBy("l_suppkey")
      },
      Some("""WITH iv AS (
             |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS st,
             |    CAST(l_shipdate AS DATE) + (CAST(l_quantity AS INT) % 7 + 1) AS en
             |  FROM lineitem),
             |ev AS (
             |  SELECT l_suppkey, st AS d, 1 AS delta FROM iv
             |  UNION ALL
             |  SELECT l_suppkey, en, -1 FROM iv),
             |run AS (
             |  SELECT l_suppkey,
             |    SUM(delta) OVER (PARTITION BY l_suppkey ORDER BY d, delta
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS live
             |  FROM ev)
             |SELECT l_suppkey, CAST(MAX(live) AS BIGINT) AS max_concurrent,
             |  CAST(COUNT(*) / 2 AS BIGINT) AS n_intervals
             |FROM run GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin),
      headline = false),

    // Rolling z-score anomaly screen: each event against the trailing
    // 5-event window of its own user's series. The window sums run over
    // MILLI-QUANTIZED values (exact integer frame sums — a rolling
    // sum of raw doubles is order-dependent and would never cross-check),
    // the z denominator is the integer Cauchy-Schwarz form n·Σv²−(Σv)²
    // (non-negative by construction, no catastrophic cancellation), and
    // only full 5-row frames score. Per-user anomaly counts with the
    // flagged-event checksum pin the exact flag set.
    QueryDef(
      "q_ts_anomaly",
      (s, d) => {
        val ord = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val frame = ord.rowsBetween(-4, 0)
        Tables.events(s, d)
          .withColumn("vq", expr("CAST(floor(value * 1000) AS BIGINT)"))
          .withColumn("rn", row_number().over(ord))
          .withColumn("sx", sum(col("vq")).over(frame))
          .withColumn("sxx", sum(col("vq") * col("vq")).over(frame))
          .filter(col("rn") >= 5)
          .withColumn("z", expr(
            "CASE WHEN 5 * sxx - sx * sx = 0 THEN 0.0 " +
              "ELSE (5 * vq - sx) / sqrt((5 * sxx - sx * sx) * 5.0 / 4.0) END"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_scored"),
            sum(when(abs(col("z")) > 2, 1L).otherwise(0L)).cast("bigint").as("n_anomalies"),
            sum(when(abs(col("z")) > 2, col("event_id")).otherwise(0L))
              .cast("bigint").as("flag_checksum"))
          .orderBy("user_id")
      },
      Some("""WITH q AS (
             |  SELECT user_id, event_id,
             |    CAST(floor(value * 1000) AS BIGINT) AS vq,
             |    ROW_NUMBER() OVER w AS rn,
             |    CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) OVER (w ROWS
             |      BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS sx,
             |    CAST(SUM(CAST(floor(value * 1000) AS BIGINT)
             |           * CAST(floor(value * 1000) AS BIGINT)) OVER (w ROWS
             |      BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS sxx
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |z AS (
             |  SELECT user_id, event_id,
             |    CASE WHEN 5 * sxx - sx * sx = 0 THEN 0.0
             |         ELSE (5 * vq - sx) / sqrt((5 * sxx - sx * sx) * 5.0 / 4.0) END AS z
             |  FROM q WHERE rn >= 5)
             |SELECT user_id, COUNT(*) AS n_scored,
             |  CAST(SUM(CASE WHEN abs(z) > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
             |  CAST(SUM(CASE WHEN abs(z) > 2 THEN event_id ELSE 0 END) AS BIGINT) AS flag_checksum
             |FROM z GROUP BY user_id ORDER BY user_id""".stripMargin),
      headline = false),

    // Exponentially-decayed trending score per event type — the
    // "what's hot NOW" ranking every event-analytics surface serves
    // (half-life = 1 day: today's event counts in full, yesterday's
    // half, a month ago ≈ nothing). The decay term is INTEGER-EXACT by
    // construction: with whole-day ages, 0.5^age · 2³⁰ = 2³⁰ >> age —
    // a BIGINT shift, no pow(), no float sum, no quantization step at
    // all (ages past 30 days contribute exactly 0, which IS the decay
    // semantics). One map-side-combined aggregate after a broadcast
    // "now" row; both plain and decayed counts are published so the
    // re-ranking decay causes is visible in the output, not asserted.
    QueryDef(
      "q_ts_trending",
      (s, d) => {
        val now = Tables.events(s, d).agg(max(col("ts")).as("now_ts"))
        Tables.events(s, d)
          .crossJoin(broadcast(now))
          .selectExpr("event_type",
            "datediff(CAST(now_ts AS DATE), CAST(ts AS DATE)) AS dd")
          .selectExpr("event_type",
            "CASE WHEN dd <= 30 THEN shiftright(CAST(1073741824 AS BIGINT), " +
              "CAST(dd AS INT)) ELSE CAST(0 AS BIGINT) END AS term")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"), sum(col("term")).as("decayed_u"))
          .orderBy(col("decayed_u").desc, col("event_type"))
      },
      Some("""WITH now_t AS (SELECT MAX(ts) AS now_ts FROM events)
             |SELECT event_type, COUNT(*) AS n_events,
             |  CAST(SUM(CASE WHEN dd <= 30 THEN CAST(1073741824 AS BIGINT) >> dd
             |           ELSE 0 END) AS BIGINT) AS decayed_u
             |FROM (SELECT event_type,
             |        datediff('day', CAST(ts AS DATE), CAST(now_ts AS DATE)) AS dd
             |      FROM events CROSS JOIN now_t)
             |GROUP BY event_type ORDER BY decayed_u DESC, event_type""".stripMargin),
      headline = false),

    // Integer-exact EWMA (α = 1/2, floor at each step) over each event
    // type's daily count series: ewma₁ = x₁, ewmaₜ = ⌊(ewmaₜ₋₁ + xₜ)/2⌋
    // — the smoothed trend line monitoring dashboards draw, kept on the
    // integer grid because the recurrence is inherently SEQUENTIAL and
    // a float EWMA would drift in the last ulp between engines after
    // enough steps. Scale shape: the recurrence runs over the
    // per-(type, day) AGGREGATE (≤ span rows per key), never raw events
    // — one keyed shuffle to daily counts, one to the per-type fold;
    // the fold itself is an aggregate() HOF over the ordered day array
    // with ONE BIGINT of state. The oracle replays the identical fold
    // as a recursive CTE stepping the day index.
    QueryDef(
      "q_ts_ewma",
      (s, d) => dailyFold(s, d, "element_at(cs, 1)", "(st + v) div 2",
          "aggregate(cs, CAST(0 AS BIGINT), (acc, v) -> acc + v) AS total_cnt")
        .selectExpr("event_type", "n_days", "total_cnt", "st AS ewma")
        .orderBy("event_type"),
      Some(duckDailyFold(Seq(("ewma", "x", "(r.ewma + idx.x) // 2")),
        "tot.total_cnt, r.ewma"))),

    // Period-over-period growth: weekly event volume per type with the
    // previous week's count and the percent change — the WoW report
    // behind every growth dashboard. ISO-Monday week truncation agrees
    // between engines; one keyed agg to weekly counts, one lag window
    // partitioned by type over ≤ span/7 rows per key; the percent
    // change is a single division of exact integers (NULL on the first
    // week in both dialects).
    QueryDef(
      "q_ts_pop",
      (s, d) => {
        val weekly = Tables.events(s, d)
          .groupBy(col("event_type"),
            date_trunc("week", col("ts")).cast("date").as("week"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("event_type").orderBy("week")
        weekly.withColumn("prev_n", lag(col("n"), 1).over(w))
          .withColumn("pct_change",
            when(col("prev_n").isNotNull,
              (col("n") - col("prev_n")).cast("double") / col("prev_n")))
          .orderBy("event_type", "week")
      },
      Some("""WITH weekly AS (
             |  SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS week,
             |    COUNT(*) AS n
             |  FROM events GROUP BY 1, 2)
             |SELECT event_type, week, n,
             |  LAG(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n,
             |  CASE WHEN LAG(n) OVER (PARTITION BY event_type ORDER BY week) IS NOT NULL
             |    THEN CAST(n - LAG(n) OVER (PARTITION BY event_type ORDER BY week) AS DOUBLE)
             |         / LAG(n) OVER (PARTITION BY event_type ORDER BY week)
             |  END AS pct_change
             |FROM weekly ORDER BY event_type, week""".stripMargin)),

    // Time-weighted average (TWAP) per user: each observation holds
    // until its successor, so it weighs in proportion to that gap (the
    // last observation closes the series with weight 0) — the standard
    // correction when sampling is irregular and a plain mean
    // over-counts burst periods. Weights are integer seconds, values
    // are the milli-quantized grid (the q_ts_anomaly discipline), so
    // both moment sums are exact BIGINTs and the single division is
    // bit-equal. One lead window + one keyed agg, both on user_id;
    // top-10 via distributed TakeOrdered.
    QueryDef(
      "q_ts_twap",
      (s, d) => {
        val ord = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .withColumn("vq", expr("CAST(floor(value * 1000) AS BIGINT)"))
          .withColumn("es", unix_timestamp(col("ts")))
          .withColumn("dur", coalesce(lead(col("es"), 1).over(ord) - col("es"), lit(0L)))
          .groupBy("user_id")
          .agg(sum(col("vq") * col("dur")).as("swv"), sum(col("dur")).as("sw"))
          .filter(col("sw") > 0)
          .selectExpr("user_id",
            "CAST(swv AS DOUBLE) / (CAST(sw AS DOUBLE) * CAST(1000 AS DOUBLE)) AS twap")
          .orderBy(col("twap").desc, col("user_id")).limit(10)
      },
      Some("""WITH ev AS (
             |  SELECT user_id, CAST(floor(value * 1000) AS BIGINT) AS vq,
             |    epoch_us(ts) // 1000000 AS es,
             |    LEAD(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS nes
             |  FROM events),
             |t AS (
             |  SELECT user_id,
             |    CAST(SUM(vq * COALESCE(nes - es, 0)) AS BIGINT) AS swv,
             |    CAST(SUM(COALESCE(nes - es, 0)) AS BIGINT) AS sw
             |  FROM ev GROUP BY user_id)
             |SELECT user_id,
             |  CAST(swv AS DOUBLE) / (CAST(sw AS DOUBLE) * CAST(1000 AS DOUBLE)) AS twap
             |FROM t WHERE sw > 0
             |ORDER BY twap DESC, user_id LIMIT 10""".stripMargin)),

    // Seasonally-adjusted volume anomaly: each (type, day) count
    // against its own day-of-week baseline — Mondays compare to
    // Mondays, so weekly seasonality stops masquerading as anomaly
    // (the q_ts_anomaly rolling-z screen is level-based and blind to
    // it). The ±30% thresholds are cross-multiplied in exact BIGINTs
    // (n·ndays·10 vs 13·Σ / 7·Σ — no division, no float), so the flag
    // set is bit-identical; flagged days pin through an epoch-day
    // checksum. The day-of-week keys never leave their engine, so the
    // Sunday=1 vs Sunday=0 convention difference is immaterial. Two
    // keyed aggs + one keyed join, all on (type, dow) — state ∝ 7·types.
    QueryDef(
      "q_ts_seasonal",
      (s, d) => {
        val daily = dailyCounts(s, d).withColumn("dow", dayofweek(col("dday")))
        val base = daily.groupBy("event_type", "dow")
          .agg(sum(col("x")).as("sum_dow"), count(lit(1)).as("nd_dow"))
        daily.join(base, Seq("event_type", "dow"))
          .withColumn("hi", (col("x") * col("nd_dow") * 10 > col("sum_dow") * 13).cast("long"))
          .withColumn("lo", (col("x") * col("nd_dow") * 10 < col("sum_dow") * 7).cast("long"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_days"),
            sum(col("hi")).cast("bigint").as("n_high"),
            sum(col("lo")).cast("bigint").as("n_low"),
            sum(when(col("hi") === 1 || col("lo") === 1,
              datediff(col("dday"), lit("1970-01-01").cast("date")).cast("long"))
              .otherwise(0L)).cast("bigint").as("flag_checksum"))
          .orderBy("event_type")
      },
      Some(s"""WITH $duckDaily,
              |base AS (
              |  SELECT event_type, dayofweek(dday) AS dow, SUM(x) AS sum_dow, COUNT(*) AS nd_dow
              |  FROM daily GROUP BY 1, 2),
              |f AS (
              |  SELECT d.event_type, d.dday,
              |    CASE WHEN d.x * b.nd_dow * 10 > b.sum_dow * 13 THEN 1 ELSE 0 END AS hi,
              |    CASE WHEN d.x * b.nd_dow * 10 < b.sum_dow * 7 THEN 1 ELSE 0 END AS lo
              |  FROM daily d JOIN base b
              |    ON b.event_type = d.event_type AND b.dow = dayofweek(d.dday))
              |SELECT event_type, COUNT(*) AS n_days,
              |  CAST(SUM(hi) AS BIGINT) AS n_high,
              |  CAST(SUM(lo) AS BIGINT) AS n_low,
              |  CAST(SUM(CASE WHEN hi = 1 OR lo = 1
              |    THEN date_diff('day', DATE '1970-01-01', dday) ELSE 0 END) AS BIGINT)
              |    AS flag_checksum
              |FROM f GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Autocorrelation function: Pearson r of each type's daily-count
    // series against itself at lags 1..7 — the periodicity probe run
    // before choosing a seasonal model (a weekly cycle shows as an
    // ACF spike at lag 7). Day positions are dense ranks so gaps in
    // the calendar can't misalign the lag; the lagged pairing is a
    // self-join on (type, i+k) fanned over a 7-row lag spine. Every
    // moment (Σx, Σy, Σxy, Σx², Σy², n over the n−k overlapping days)
    // is an exact BIGINT from integer daily counts; r is one float
    // expression over those six integers — sqrt/divide are IEEE
    // correctly-rounded, so it is bit-equal with no quantization.
    // The raw-event agg is the only heavy pass; everything after runs
    // on ≤ types·days rows.
    QueryDef(
      "q_ts_acf",
      (s, d) => {
        val daily = dailyCounts(s, d)
          .withColumn("i",
            row_number().over(Window.partitionBy("event_type").orderBy("dday")).cast("long"))
        val lags = daily.sparkSession.range(1, 8).select(col("id").as("k"))
        daily.crossJoin(broadcast(lags))
          .select(col("event_type"), col("k"), (col("i") + col("k")).as("j"), col("x").as("xa"))
          .join(daily.select(col("event_type"), col("i").as("j"), col("x").as("xb")),
            Seq("event_type", "j"))
          .groupBy("event_type", "k")
          .agg(count(lit(1)).as("n"),
            sum(col("xa")).as("sx"), sum(col("xb")).as("sy"),
            sum(col("xa") * col("xb")).as("sxy"),
            sum(col("xa") * col("xa")).as("sxx"),
            sum(col("xb") * col("xb")).as("syy"))
          .selectExpr("event_type", "CAST(k AS BIGINT) AS lag", "n",
            """CAST(n * sxy - sx * sy AS DOUBLE)
              | / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
              |    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS acf""".stripMargin)
          .orderBy("event_type", "lag")
      },
      Some(s"""WITH $duckDaily,
             |di AS (
             |  SELECT event_type, x,
             |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dday) AS i
             |  FROM daily),
             |m AS (
             |  SELECT a.event_type, k.k, COUNT(*) AS n,
             |    CAST(SUM(a.x) AS BIGINT) AS sx, CAST(SUM(b.x) AS BIGINT) AS sy,
             |    CAST(SUM(a.x * b.x) AS BIGINT) AS sxy,
             |    CAST(SUM(a.x * a.x) AS BIGINT) AS sxx,
             |    CAST(SUM(b.x * b.x) AS BIGINT) AS syy
             |  FROM di a
             |  CROSS JOIN (SELECT UNNEST(range(1, 8)) AS k) k
             |  JOIN di b ON b.event_type = a.event_type AND b.i = a.i + k.k
             |  GROUP BY 1, 2)
             |SELECT event_type, CAST(k AS BIGINT) AS lag, n,
             |  CAST(n * sxy - sx * sy AS DOUBLE)
             |  / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
             |     * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS acf
             |FROM m ORDER BY event_type, lag""".stripMargin)),

    // CUSUM changepoint: the day where each type's cumulative
    // deviation from its own mean peaks — the classic level-shift
    // locator (a regime change shows as the max |Σ(xᵢ − µ)|). The
    // textbook statistic divides by n; multiplying through by n
    // instead (S'ᵗ = n·Σ₍ᵢ≤ᵗ₎xᵢ − t·Σx) keeps every term an exact
    // BIGINT — no float ever enters, so argmax and value are
    // bit-identical. One keyed agg over raw events, one per-type
    // cumulative window over ≤ days rows, one per-type rank to pin
    // the argmax (ties → earliest day).
    QueryDef(
      "q_ts_cusum",
      (s, d) => {
        val daily = dailyCounts(s, d)
        val tot = daily.groupBy("event_type")
          .agg(count(lit(1)).as("nd"), sum(col("x")).as("sx"))
        val wc = Window.partitionBy("event_type").orderBy("dday")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wr = Window.partitionBy("event_type")
        val s1 = daily.join(broadcast(tot), "event_type")
          .withColumn("t", count(lit(1)).over(wc))
          .withColumn("cum", sum(col("x")).over(wc))
          .withColumn("s_scaled", col("nd") * col("cum") - col("t") * col("sx"))
          .withColumn("rn", row_number().over(
            wr.orderBy(abs(col("s_scaled")).desc, col("dday"))))
        s1.filter(col("rn") === 1)
          .select(col("event_type"), col("dday").as("change_day"),
            col("s_scaled"), col("nd").as("n_days"))
          .orderBy("event_type")
      },
      Some(s"""WITH $duckDaily,
             |tot AS (
             |  SELECT event_type, COUNT(*) AS nd, SUM(x) AS sx FROM daily GROUP BY 1),
             |c AS (
             |  SELECT d.event_type, d.dday, t.nd,
             |    CAST(t.nd * SUM(d.x) OVER w - (ROW_NUMBER() OVER w) * t.sx AS BIGINT)
             |      AS s_scaled
             |  FROM daily d JOIN tot t ON t.event_type = d.event_type
             |  WINDOW w AS (PARTITION BY d.event_type ORDER BY d.dday)),
             |r AS (
             |  SELECT event_type, dday, s_scaled, nd,
             |    ROW_NUMBER() OVER (PARTITION BY event_type
             |      ORDER BY abs(s_scaled) DESC, dday) AS rn
             |  FROM c)
             |SELECT event_type, dday AS change_day, s_scaled,
             |  CAST(nd AS BIGINT) AS n_days
             |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin)),

    // Seasonal-naive forecast backtest: predict each of the last 14
    // days' per-type volume as "same weekday last week" (x̂ₜ = xₜ₋₇)
    // and score the holdout MAE — the baseline every real forecaster
    // must beat, and the cheapest useful capacity forecast. Day
    // positions are dense ranks (calendar gaps can't misalign the
    // lag); the absolute-error sum is an exact BIGINT of integer
    // daily counts, MAE its single float division. One keyed agg over
    // raw events + one per-type lag window over ≤ days rows.
    QueryDef(
      "q_ts_forecast",
      (s, d) => {
        val daily = dailyCounts(s, d)
        val w = Window.partitionBy("event_type").orderBy("dday")
        daily
          .withColumn("i", row_number().over(w).cast("long"))
          .withColumn("nd", count(lit(1)).over(Window.partitionBy("event_type")))
          .withColumn("pred", lag(col("x"), 7).over(w))
          .filter(col("pred").isNotNull && col("i") > col("nd") - 14)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_eval"),
            sum(abs(col("x") - col("pred"))).as("sae"),
            sum(col("x")).as("actual_sum"),
            sum(col("pred")).as("pred_sum"))
          .selectExpr("event_type", "n_eval", "sae", "actual_sum", "pred_sum",
            "CAST(sae AS DOUBLE) / n_eval AS mae")
          .orderBy("event_type")
      },
      Some(s"""WITH $duckDaily,
             |r AS (
             |  SELECT event_type, x,
             |    ROW_NUMBER() OVER w AS i,
             |    COUNT(*) OVER (PARTITION BY event_type) AS nd,
             |    LAG(x, 7) OVER w AS pred
             |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY dday))
             |SELECT event_type, COUNT(*) AS n_eval,
             |  CAST(SUM(abs(x - pred)) AS BIGINT) AS sae,
             |  CAST(SUM(x) AS BIGINT) AS actual_sum,
             |  CAST(SUM(pred) AS BIGINT) AS pred_sum,
             |  CAST(SUM(abs(x - pred)) AS DOUBLE) / COUNT(*) AS mae
             |FROM r WHERE pred IS NOT NULL AND i > nd - 14
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Outage gaps: longest silent stretch per type at the hour grain —
    // the missing-data/uptime read (a pipeline that stops emitting
    // 'error' events for six hours IS the incident). Raw events first
    // collapse to distinct present hours (one keyed agg, bounded by
    // types × span-hours regardless of row count); the per-type lag
    // window then runs over that DOMAIN-bOUNDED frame only — never
    // over raw events. Gaps are exact integer seconds between
    // consecutive present hours.
    QueryDef(
      "q_ts_gaps",
      (s, d) => {
        val hours = Tables.events(s, d)
          .select(col("event_type"),
            (unix_timestamp(date_trunc("hour", col("ts")))).as("hes"))
          .distinct()
        val w = Window.partitionBy("event_type").orderBy("hes")
        hours.withColumn("gap", col("hes") - lag(col("hes"), 1).over(w))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_present_hours"),
            sum(when(col("gap") > 3600, 1L).otherwise(0L)).as("n_gaps"),
            coalesce(max(when(col("gap") > 3600, col("gap"))), lit(0L)).as("max_gap_s"))
          .orderBy("event_type")
      },
      Some("""WITH hours AS (
             |  SELECT DISTINCT event_type,
             |    epoch_us(date_trunc('hour', ts)) // 1000000 AS hes
             |  FROM events),
             |g AS (
             |  SELECT event_type,
             |    hes - LAG(hes) OVER (PARTITION BY event_type ORDER BY hes) AS gap
             |  FROM hours)
             |SELECT event_type, COUNT(*) AS n_present_hours,
             |  CAST(SUM(CASE WHEN gap > 3600 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
             |  CAST(COALESCE(MAX(CASE WHEN gap > 3600 THEN gap END), 0) AS BIGINT)
             |    AS max_gap_s
             |FROM g GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Rolling MEDIAN over the trailing 5 observations per user — the
    // robust twin of q_win_rolling's moving mean: one wild sensor
    // reading drags a mean for 5 windows but moves the median not at
    // all (the standard robust-smoothing pre-pass before anomaly
    // scoring). Median = LOWER median (element (n−1) DIV 2, 0-based,
    // of the sorted frame) so even-sized head-of-series frames pick an
    // ACTUAL observation identically in both engines — no averaging of
    // middles, no float. Values are cents-quantized once
    // (round(value·100), bit-identical per engine). Scale shape: the
    // window is partitioned by user and the frame is 5 rows, so the
    // per-row sort cost is constant and state never exceeds the frame
    // — the same bounded-frame contract as q_win_rolling.
    QueryDef(
      "q_ts_rolling_median",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(-4, 0)
        Tables.events(s, d)
          .selectExpr("event_id", "user_id", "ts",
            "CAST(round(value * 100) AS BIGINT) AS cents")
          .withColumn("lst", collect_list(col("cents")).over(w))
          .selectExpr("event_id",
            "element_at(array_sort(lst), CAST((size(lst) - 1) DIV 2 AS INT) + 1) AS med_cents")
          .orderBy("event_id")
      },
      Some("""SELECT event_id, l[(len(l) - 1) // 2 + 1] AS med_cents FROM (
             |  SELECT event_id,
             |    list_sort(list(CAST(round(value * 100) AS BIGINT))
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id
             |            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS l
             |  FROM events)
             |ORDER BY event_id""".stripMargin)),

    // Holt double-exponential smoothing (level + trend) over the daily
    // per-type volume — the forecasting step up from q_ts_ewma (which
    // tracks level only and lags any trending series by construction).
    // α = β = 1/2 in pure BIGINT: l_t = (c_t + l + b) div 2,
    // b_t = (b + (l_t - l)) div 2, seeded l_1 = c_1, b_1 = 0 — integer
    // division is the cross-engine-exact quantization (the q_ts_ewma
    // discipline), replayed by the oracle as a recursive CTE carrying
    // the same two-field state. Scale shape: one keyed daily aggregate
    // (shuffle ∝ type×days), then a per-key fold over the sorted
    // bounded series (≤ span days, a few KB per key) inside a single
    // aggregate HOF — state is 2 BIGINTs per key, nothing iterative
    // ever touches the driver, and keys fold in parallel.
    QueryDef(
      "q_ts_holt",
      (s, d) => dailyFold(s, d,
          "named_struct('l', element_at(cs, 1), 'b', CAST(0 AS BIGINT))",
          "named_struct(" +
            "'l', (v + st.l + st.b) div 2, " +
            "'b', (st.b + ((v + st.l + st.b) div 2 - st.l)) div 2)")
        .selectExpr("event_type", "n_days",
          "st.l AS level", "st.b AS trend", "st.l + st.b AS forecast_next")
        .orderBy("event_type"),
      Some(duckDailyFold(Seq(
          ("l", "x", "(idx.x + r.l + r.b) // 2"),
          ("b", "CAST(0 AS BIGINT)", "(r.b + ((idx.x + r.l + r.b) // 2 - r.l)) // 2")),
        "r.l AS level, r.b AS trend, r.l + r.b AS forecast_next")))
  )
}
