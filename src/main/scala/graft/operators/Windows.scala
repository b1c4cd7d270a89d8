package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Window-function surface (SURVEY.md §2.2 "Window functions" — the
  * reference imports `pyspark.sql.window.Window` in two scripts
  * (`temDataRead.py:6`, `temReadFromTopic.py:12`) but never uses it; this
  * module is the completion of that intent).
  *
  * Every ORDER BY inside a window spec ends with a unique key so ranks and
  * frames are total orders — identical across engines. Window execution
  * shuffles once on the partition key and sorts within partitions; at
  * 100 TB the partition key (custkey / user_id) must be high-cardinality,
  * which these are.
  */
object Windows {

  private def dwin(c: org.apache.spark.sql.Column) = c.cast(DecimalType(28, 2))

  val defs: Seq[QueryDef] = Seq(

    // First order per customer (row_number = 1).
    QueryDef(
      "q_win_rownum",
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
        Tables.orders(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("o_custkey", "o_orderkey", "o_orderdate")
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
             |            ORDER BY o_orderdate, o_orderkey) AS rn
             |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin)),

    // Consecutive-event delta per user — lag/lead; per-row double
    // subtraction is IEEE-deterministic, no rounding needed.
    QueryDef(
      "q_win_lag_lead",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"),
            (col("value") - lag(col("value"), 1).over(w)).as("delta_prev"),
            (lead(col("value"), 1).over(w) - col("value")).as("delta_next"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |  value - LAG(value, 1) OVER w AS delta_prev,
             |  LEAD(value, 1) OVER w - value AS delta_next
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |ORDER BY event_id""".stripMargin)),

    // Rolling mean over the last 5 events per user; exact decimal sum over
    // the frame / frame count, so segment-tree vs naive frame evaluation
    // can't diverge.
    QueryDef(
      "q_win_rolling",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(-4, 0)
        Tables.events(s, d)
          .select(col("event_id"),
            (sum(dwin(col("value"))).over(w).cast("double")
              / count(col("value")).over(w)).as("mov_avg"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
             |  CAST(SUM(CAST(value AS DECIMAL(28,2))) OVER w AS DOUBLE)
             |    / COUNT(value) OVER w AS mov_avg
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
             |ORDER BY event_id""".stripMargin)),

    // Top-3 orders by price within each priority class; RANK is a pure
    // function of the value ordering, so ties resolve identically.
    QueryDef(
      "q_win_rank_topk",
      (s, d) => {
        val w = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice").desc)
        Tables.orders(s, d)
          .withColumn("rk", rank().over(w))
          .filter(col("rk") <= 3)
          .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
          .orderBy(col("o_orderpriority"), col("rk"), col("o_orderkey"))
      },
      Some("""SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
             |  SELECT *, RANK() OVER (PARTITION BY o_orderpriority
             |            ORDER BY o_totalprice DESC) AS rk
             |  FROM orders) WHERE rk <= 3
             |ORDER BY o_orderpriority, rk, o_orderkey""".stripMargin),
      headline = false),

    // Running (cumulative) revenue per user over time — exact decimal sum.
    QueryDef(
      "q_win_running",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, 0)
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"),
            sum(dwin(col("value"))).over(w).cast("double").as("running_value"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |  CAST(SUM(CAST(value AS DECIMAL(28,2))) OVER w AS DOUBLE) AS running_value
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |ORDER BY event_id""".stripMargin),
      headline = false),

    // Distribution functions: percent_rank, cume_dist, dense_rank over a
    // unique ordering (identical rank→ratio definitions both engines).
    QueryDef(
      "q_win_distribution",
      (s, d) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        Tables.orders(s, d)
          .filter(col("o_orderkey") % 20 === 0)
          .select(col("o_orderkey"), col("o_orderpriority"),
            percent_rank().over(w).as("pct_rank"),
            cume_dist().over(w).as("cume"),
            dense_rank().over(w).as("drank"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderpriority,
             |  PERCENT_RANK() OVER w AS pct_rank,
             |  CUME_DIST() OVER w AS cume,
             |  CAST(DENSE_RANK() OVER w AS INT) AS drank
             |FROM orders WHERE o_orderkey % 20 = 0
             |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
             |ORDER BY o_orderkey""".stripMargin),
      headline = false),

    // RANGE frame: count of same-user events within the trailing hour of
    // each event — a value-based frame (rangeBetween), not a row count.
    QueryDef(
      "q_win_range_frame",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").cast("long"))
          .rangeBetween(-3600L, 0L)
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"),
            count(lit(1)).over(w).as("n_last_hour"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |  COUNT(*) OVER (PARTITION BY user_id ORDER BY CAST(epoch(ts) AS BIGINT)
             |                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_last_hour
             |FROM events ORDER BY event_id""".stripMargin),
      headline = false),

    // first/last/nth over explicit full-partition frames (last_value
    // needs the unbounded-following frame or it degenerates to the
    // running last — a classic window pitfall, pinned here).
    QueryDef(
      "q_win_first_last",
      (s, d) => {
        val order = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val full = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"),
            first(col("value")).over(full).as("first_v"),
            last(col("value")).over(full).as("last_v"),
            nth_value(col("value"), 2).over(full).as("second_v"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |  FIRST_VALUE(value) OVER w AS first_v,
             |  LAST_VALUE(value) OVER w AS last_v,
             |  NTH_VALUE(value, 2) OVER w AS second_v
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             |ORDER BY event_id""".stripMargin),
      headline = false),

    // ntile over a unique ordering (deterministic bucket assignment),
    // summarized per bucket. ntile is semantically global, but the
    // built-in `ntile().over(Window.orderBy(...))` funnels every row
    // through ONE task — [[distributedNtile]] is the range-partitioned
    // equivalent (exact same buckets, no single-task stage).
    QueryDef(
      "q_win_ntile",
      (s, d) => distributedNtile(s, d, k = 4, partitions = 8),
      Some("""SELECT quartile, COUNT(*) AS n, MIN(o_orderkey) AS min_key,
             |       MAX(o_orderkey) AS max_key
             |FROM (SELECT o_orderkey, NTILE(4) OVER (ORDER BY o_orderkey) AS quartile
             |      FROM orders)
             |GROUP BY quartile ORDER BY quartile""".stripMargin),
      headline = false)
  )

  /** Exact NTILE(k) without a global single-task window, over ANY frame
    * and (unique) ordering: range-partition on the ordering columns
    * (partition order == key order), per-partition row_number, then
    * per-partition row counts (numPartitions rows) give exclusive
    * prefix offsets and the grand total; broadcast back, add, and apply
    * SQL-standard NTILE arithmetic — the first (N mod k) buckets get
    * ceil(N/k) rows, the rest floor(N/k). Bit-for-bit equal to the
    * built-in `NTILE(k) OVER (ORDER BY orderCols)`, but the only global
    * window runs over one row per partition. The ordering MUST be made
    * unique by the caller (append a key column as the tie-break) or
    * bucket assignment at range boundaries is nondeterministic; the
    * input frame must not already carry pid/local_rn/rn/qsize/rem. */
  private[graft] def ntileBucket(df: org.apache.spark.sql.DataFrame,
                                 k: Int, partitions: Int,
                                 orderCols: Seq[String], bucketName: String)
      : org.apache.spark.sql.DataFrame = {
    // localCheckpoint pins one physical layout for both branches (local
    // row_numbers, per-partition counts): repartitionByRange samples its
    // boundaries, so two recomputes could stamp different pids — see the
    // same pinning in TextAnalysis.distributedCumsumPack.
    val base = df
      .repartitionByRange(partitions, orderCols.map(col): _*)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(true)
    val wLocal = Window.partitionBy("pid").orderBy(orderCols.map(col): _*)
    val local = base.withColumn("local_rn", row_number().over(wLocal).cast("long"))
    // offsets derive from `base` (pre-window), not `local`: the join
    // reuses the shuffle but would re-execute a window-bearing branch
    val wPrefix = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = base.groupBy("pid").agg(count(lit(1)).as("cnt"))
      .withColumn("offset", coalesce(sum(col("cnt")).over(wPrefix), lit(0L)))
      .withColumn("total", sum(col("cnt")).over(wAll))
      .select("pid", "offset", "total")
    local.join(broadcast(offsets), "pid")
      .selectExpr(df.columns.toIndexedSeq ++ Seq("local_rn + offset AS rn",
        s"total DIV $k AS qsize", s"total % $k AS rem"): _*)
      .selectExpr(df.columns.toIndexedSeq :+
        // SQL-standard ntile: rows 1..rem*(qsize+1) fall in the first rem
        // (larger) buckets; the remainder spreads over qsize-row buckets.
        s"""CAST(CASE WHEN qsize = 0 THEN rn
           |  WHEN rn <= rem * (qsize + 1) THEN (rn - 1) DIV (qsize + 1) + 1
           |  ELSE rem + (rn - rem * (qsize + 1) - 1) DIV qsize + 1
           |END AS INT) AS $bucketName""".stripMargin: _*)
  }

  private[graft] def distributedNtile(
      s: org.apache.spark.sql.SparkSession, d: String, k: Int, partitions: Int)
      : org.apache.spark.sql.DataFrame =
    ntileBucket(Tables.orders(s, d).select("o_orderkey"), k, partitions,
        Seq("o_orderkey"), "quartile")
      .groupBy("quartile")
      .agg(count(lit(1)).as("n"), min("o_orderkey").as("min_key"),
        max("o_orderkey").as("max_key"))
      .orderBy("quartile")
}
