package graft.operators

import graft.{Parity, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Change-data-capture shapes over the event log: snapshot merge
  * (upsert), slowly-changing-dimension type-2 history, and batch
  * sessionization. The reference replays an append-only stream and
  * never reconciles state (`temDataRead.py` ships rows as they come);
  * these are the operators that turn such a log into queryable state —
  * the lakehouse MERGE INTO / dimension-history workload, expressed
  * Spark-first (latest-row selection via rank windows, the merge via
  * one full-outer join; Spark has no MERGE over raw parquet).
  *
  * Scale design: everything partitions by the entity key. Latest-row
  * selection is a rank window per user (combinable after the shuffle
  * on user_id); the merge joins two already-deduplicated one-row-per-
  * key frames; SCD2/sessionization are single ordered windows per
  * user — no global sort, no driver state. Ordering keys always end in
  * event_id: (ts) alone is not unique in a real log, and a tie there
  * silently flips survivor rows between runs.
  */
object Cdc {

  val defs: Seq[QueryDef] = Seq(

    // MERGE INTO semantics over the orders log, keyed by customer:
    // target = each customer's latest (status, totalprice) from orders
    // before 1996; source = the 1996 change batch. Full-outer reconcile
    // classifies every key as inserted (first order lands in the batch
    // year), updated (state on both sides), or carried (no change in
    // the batch) — the order-date spread makes all three classes fire,
    // and each is pinned by key checksum plus the exact-decimal sum of
    // post-merge values.
    QueryDef(
      "q_merge_upsert",
      (s, d) => {
        def latest(pred: org.apache.spark.sql.Column) = {
          val w = Window.partitionBy("o_custkey")
            .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
          Tables.orders(s, d).filter(pred)
            .withColumn("rk", row_number().over(w))
            .filter(col("rk") === 1)
            .select("o_custkey", "o_orderstatus", "o_totalprice")
        }
        val target = latest(expr("o_orderdate < DATE '1996-01-01'"))
          .withColumnRenamed("o_orderstatus", "t_status")
          .withColumnRenamed("o_totalprice", "t_price")
        val source = latest(expr(
          "o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'"))
          .withColumnRenamed("o_orderstatus", "s_status")
          .withColumnRenamed("o_totalprice", "s_price")
        target.join(source, Seq("o_custkey"), "full_outer")
          .withColumn("action", expr(
            """CASE WHEN t_status IS NULL THEN 'inserted'
              |     WHEN s_status IS NULL THEN 'carried'
              |     WHEN s_status = t_status AND s_price = t_price THEN 'unchanged'
              |     ELSE 'updated' END""".stripMargin))
          .withColumn("final_price", coalesce(col("s_price"), col("t_price")))
          .groupBy("action")
          .agg(count(lit(1)).as("n_keys"),
            sum(col("o_custkey")).cast("bigint").as("key_checksum"),
            Parity.dsum(col("final_price"), 2).as("sum_final_price"))
          .orderBy("action")
      },
      Some(s"""WITH t AS (
              |  SELECT o_custkey, o_orderstatus AS t_status, o_totalprice AS t_price FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
              |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rk
              |    FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1996-01-01') WHERE rk = 1),
              |src AS (
              |  SELECT o_custkey, o_orderstatus AS s_status, o_totalprice AS s_price FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
              |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rk
              |    FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
              |      AND CAST(o_orderdate AS DATE) < DATE '1997-01-01') WHERE rk = 1),
              |m AS (
              |  SELECT COALESCE(t.o_custkey, src.o_custkey) AS o_custkey,
              |    CASE WHEN t_status IS NULL THEN 'inserted'
              |         WHEN s_status IS NULL THEN 'carried'
              |         WHEN s_status = t_status AND s_price = t_price THEN 'unchanged'
              |         ELSE 'updated' END AS action,
              |    COALESCE(s_price, t_price) AS final_price
              |  FROM t FULL OUTER JOIN src ON t.o_custkey = src.o_custkey)
              |SELECT action, COUNT(*) AS n_keys,
              |  CAST(SUM(o_custkey) AS BIGINT) AS key_checksum,
              |  ${Parity.sqlDsum("final_price", 2)} AS sum_final_price
              |FROM m GROUP BY action ORDER BY action""".stripMargin)),

    // SCD2 history: collapse each user's event stream into versioned
    // event_type segments with [valid_from, valid_to) ranges; the open
    // segment's valid_to is NULL. Change detection and range stitching
    // are two ordered windows over the same user partition.
    QueryDef(
      "q_scd2",
      (s, d) => scd2Segments(s, d).orderBy("user_id", "version"),
      Some(s"""WITH $duckScd2Segments
              |SELECT * FROM seg ORDER BY user_id, version""".stripMargin)),

    // Batch sessionization (gaps-and-islands, 30-minute timeout):
    // session index = running count of gap-opens per user, then a
    // session-length histogram — the compact corpus-level answer (the
    // per-session frame is the intermediate, the distribution is the
    // deliverable). Durations subtract truncated epoch seconds, which
    // DuckDB's boundary-crossing date_diff reproduces exactly.
    QueryDef(
      "q_sessionize",
      (s, d) => sessionHistogram(Tables.events(s, d)
        .withColumn("gap_open", gapOpen(lag(col("ts"), 1).over(byUserTime)))
        .withColumn("session_idx", sum(col("gap_open"))
          .over(byUserTime.rowsBetween(Window.unboundedPreceding, 0)))),
      Some(duckSessionize)),

    // Snapshot diff: classify every key across two table versions as
    // added / removed / changed / unchanged — the table-history audit
    // every lakehouse maintenance job runs (and the input to an
    // incremental downstream refresh: 'changed ∪ added' is the delta to
    // reprocess). Versions derive deterministically from the documents
    // table (base drops doc_id%10=7; next drops %10=4 and rewrites the
    // text of %10=3), so all four classes are non-empty and the oracle
    // rebuilds them exactly. The diff itself is ONE full-outer hash
    // join on the key with digest comparison — both sides shuffle once
    // on doc_id; at 100 TB the digests are precomputed manifest
    // columns, so the join moves (key, 32B) pairs, never documents.
    QueryDef(
      "q_snapshot_diff",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val base = docs.filter(col("doc_id") % 10 =!= 7)
          .select(col("doc_id"), sha2(col("text"), 256).as("dg_base"))
        val next = docs.filter(col("doc_id") % 10 =!= 4)
          .selectExpr("doc_id",
            "CASE WHEN doc_id % 10 = 3 THEN sha2(concat(text, '!'), 256) " +
              "ELSE sha2(text, 256) END AS dg_next")
        base.join(next, Seq("doc_id"), "full_outer")
          .selectExpr("doc_id",
            """CASE WHEN dg_base IS NULL THEN 'added'
              |     WHEN dg_next IS NULL THEN 'removed'
              |     WHEN dg_base <> dg_next THEN 'changed'
              |     ELSE 'unchanged' END AS status""".stripMargin)
          .groupBy("status")
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id") * 7).cast("bigint").as("key_checksum"))
          .orderBy("status")
      },
      Some("""WITH base AS (
             |  SELECT doc_id, sha256(text) AS dg_base FROM documents WHERE doc_id % 10 <> 7),
             |next AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 10 = 3 THEN sha256(text || '!') ELSE sha256(text) END AS dg_next
             |  FROM documents WHERE doc_id % 10 <> 4)
             |SELECT status, COUNT(*) AS n, CAST(SUM(doc_id * 7) AS BIGINT) AS key_checksum
             |FROM (
             |  SELECT COALESCE(base.doc_id, next.doc_id) AS doc_id,
             |    CASE WHEN dg_base IS NULL THEN 'added'
             |         WHEN dg_next IS NULL THEN 'removed'
             |         WHEN dg_base <> dg_next THEN 'changed'
             |         ELSE 'unchanged' END AS status
             |  FROM base FULL OUTER JOIN next ON base.doc_id = next.doc_id)
             |GROUP BY status ORDER BY status""".stripMargin),
      headline = false),

    // Ordered changelog apply with tombstones: the event log AS a CDC
    // stream — 'error' rows are DELETEs of the user key, everything
    // else an UPSERT carrying an integer payload; ops apply strictly in
    // (ts, event_id) order. Final state classifies every key: 'live'
    // (never tombstoned), 'resurrected' (tombstoned, then re-upserted —
    // the class a naive delete-wins merge gets wrong), 'tombstoned'
    // (delete is the last word). ONE window pass over the key partition
    // yields both the last op (rank) and the tombstone history (a
    // whole-partition conditional sum on the same exchange) — no
    // self-join, no second shuffle; the payload sum covers surviving
    // keys only. All-integer arithmetic.
    QueryDef(
      "q_cdc_apply",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        val part = Window.partitionBy("user_id")
        Tables.events(s, d)
          .withColumn("op", when(col("event_type") === "error", "D").otherwise("U"))
          .withColumn("payload", col("event_id") % 1000)
          .withColumn("rk", row_number().over(w))
          .withColumn("n_deletes",
            sum(when(col("op") === "D", 1L).otherwise(0L)).over(part))
          .filter(col("rk") === 1)
          .withColumn("status", expr(
            """CASE WHEN op = 'D' THEN 'tombstoned'
              |     WHEN n_deletes > 0 THEN 'resurrected'
              |     ELSE 'live' END""".stripMargin))
          .groupBy("status")
          .agg(count(lit(1)).as("n_keys"),
            sum(col("user_id") * 7).cast("bigint").as("key_checksum"),
            sum(when(col("op") === "U", col("payload")).otherwise(lit(0L)))
              .cast("bigint").as("live_payload_sum"))
          .orderBy("status")
      },
      Some("""WITH fin AS (
             |  SELECT user_id,
             |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             |    event_id % 1000 AS payload,
             |    ROW_NUMBER() OVER (PARTITION BY user_id
             |      ORDER BY ts DESC, event_id DESC) AS rk,
             |    SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY user_id) AS n_deletes
             |  FROM events)
             |SELECT CASE WHEN op = 'D' THEN 'tombstoned'
             |            WHEN n_deletes > 0 THEN 'resurrected'
             |            ELSE 'live' END AS status,
             |  COUNT(*) AS n_keys,
             |  CAST(SUM(user_id * 7) AS BIGINT) AS key_checksum,
             |  CAST(SUM(CASE WHEN op = 'U' THEN payload ELSE 0 END) AS BIGINT)
             |    AS live_payload_sum
             |FROM fin WHERE rk = 1
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Point-in-time read over the SCD2 dimension q_scd2 builds — the
    // consumption side of slowly-changing-dimension history: "what was
    // every user's state at time T?" answered by one predicate
    // (valid_from <= T < valid_to, open segment = NULL valid_to), no
    // window re-computation. At 100 TB the dimension is stored sorted
    // by (key, valid_from) and the filter prunes to ≤1 row per key;
    // here the segments are rebuilt by the same kernel as q_scd2
    // ([[scd2Segments]]) and then filtered — the read itself is
    // stateless.
    QueryDef(
      "q_scd2_asof",
      (s, d) => {
        val t = "TIMESTAMP'2024-01-16 00:00:00'"
        scd2Segments(s, d)
          .filter(expr(s"valid_from <= $t AND (valid_to IS NULL OR valid_to > $t)"))
          .select("user_id", "version", "event_type", "valid_from")
          .orderBy("user_id")
      },
      Some(s"""WITH $duckScd2Segments
              |SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
              |  valid_from
              |FROM seg
              |WHERE valid_from <= TIMESTAMP '2024-01-16 00:00:00'
              |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-16 00:00:00')
              |ORDER BY user_id""".stripMargin)),

    // Incremental sessionization — the 100 TB form of q_sessionize:
    // history is NEVER re-scanned. The closed batch contributes (a) its
    // finished session rows and (b) a per-user carry state {last_ts,
    // sessions_opened}; the new batch sessionizes alone EXCEPT that each
    // user's first event takes its gap test against the carried last_ts
    // and its session index offsets by the carried count — a session
    // bridging the boundary merges exactly. The oracle is the ONE-SHOT
    // q_sessionize SQL over all events: the hash compare IS the
    // incremental-equals-full invariant. Scale shape: the carry state is
    // one row per user (the only thing a daily job persists); both
    // windows stay user-partitioned; the batch split adds one keyed
    // left join of the new batch against the state.
    QueryDef(
      "q_sessionize_incremental",
      (s, d) => {
        val cutoff = "TIMESTAMP'2024-01-16 00:00:00'"
        val w = byUserTime
        val cum = w.rowsBetween(Window.unboundedPreceding, 0)
        def flagged(df: DataFrame) = df
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        val ev = Tables.events(s, d).select("user_id", "ts", "event_id")
        val b1 = flagged(ev.filter(expr(s"ts < $cutoff")))
          .withColumn("gap_open", gapOpen(col("prev_ts")))
          .withColumn("session_idx", sum(col("gap_open")).over(cum))
        // the persisted carry state: one row per user seen in batch 1
        val state = b1.groupBy("user_id")
          .agg(max(col("ts")).as("last_ts"),
            max(col("session_idx")).as("n_sessions"))
          .localCheckpoint(true)
        val b2 = flagged(ev.filter(expr(s"ts >= $cutoff")))
          .join(state, Seq("user_id"), "left_outer")
          .withColumn("eff_prev", coalesce(col("prev_ts"), col("last_ts")))
          .withColumn("gap_open", gapOpen(col("eff_prev")))
          .withColumn("session_idx",
            sum(col("gap_open")).over(cum) + coalesce(col("n_sessions"), lit(0L)))
        sessionHistogram(b1.select("user_id", "session_idx", "ts")
          .unionAll(b2.select("user_id", "session_idx", "ts")))
      },
      Some(duckSessionize))
  )

  /** Each user's events in (ts, event_id) order — a total order, since
    * ts alone ties in a real log. */
  private def byUserTime: WindowSpec =
    Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))

  /** The session rule: an event opens a session when it is the user's
    * first (`prev` is null) or follows `prev` by more than 30 minutes. */
  private def gapOpen(prev: Column): Column =
    when(prev.isNull || col("ts").cast("long") - prev.cast("long") > 1800, 1L)
      .otherwise(0L)

  /** Session-length histogram over (user_id, session_idx, ts) rows: one
    * row per session with its event count and duration, then per
    * session length the number of sessions and their total duration. */
  private def sessionHistogram(sessions: DataFrame): DataFrame =
    sessions.groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("session_len"),
        (max(col("ts").cast("long")) - min(col("ts").cast("long"))).as("dur_s"))
      .groupBy("session_len")
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("dur_s")).cast("bigint").as("total_dur_s"))
      .orderBy("session_len")

  /** DuckDB twin of q_sessionize over all events in one pass; it is
    * also q_sessionize_incremental's oracle, which makes that entry's
    * hash check the incremental-equals-full invariant. */
  private lazy val duckSessionize: String =
    """WITH g AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN prev_ts IS NULL
      |           OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END AS gap_open
      |  FROM (SELECT *, LAG(ts) OVER (PARTITION BY user_id
      |          ORDER BY ts, event_id) AS prev_ts FROM events)),
      |sess AS (
      |  SELECT user_id,
      |    SUM(gap_open) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx,
      |    ts FROM g),
      |per AS (
      |  SELECT user_id, session_idx, COUNT(*) AS session_len,
      |    date_diff('second', MIN(ts), MAX(ts)) AS dur_s
      |  FROM sess GROUP BY user_id, session_idx)
      |SELECT session_len, COUNT(*) AS n_sessions,
      |  CAST(SUM(dur_s) AS BIGINT) AS total_dur_s
      |FROM per GROUP BY session_len ORDER BY session_len""".stripMargin

  /** SCD2 segments of each user's event_type: change detection keeps
    * the events whose type differs from the previous one, then a second
    * window over the same user partition stitches the kept rows into
    * versioned [valid_from, valid_to) ranges (the open segment's
    * valid_to is null). Columns: user_id, version, event_type,
    * valid_from, valid_to. */
  private def scd2Segments(s: SparkSession, d: String): DataFrame = {
    val seg = Window.partitionBy("user_id").orderBy(col("valid_from"), col("event_id"))
    Tables.events(s, d)
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUserTime))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("valid_from", col("ts"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(seg))
      .withColumn("version", row_number().over(seg))
      .select("user_id", "version", "event_type", "valid_from", "valid_to")
  }

  /** DuckDB twin of [[scd2Segments]]: the CTEs `chg` (change rows) and
    * `seg` (the segments, same columns). */
  private lazy val duckScd2Segments: String =
    """chg AS (
      |  SELECT user_id, event_type, ts AS valid_from, event_id FROM (
      |    SELECT *, LAG(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev_type
      |    FROM events)
      |  WHERE prev_type IS NULL OR prev_type <> event_type),
      |seg AS (
      |  SELECT user_id,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY valid_from, event_id) AS version,
      |    event_type, valid_from,
      |    LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to
      |  FROM chg)""".stripMargin
}
