package graft.streaming

import graft.{Parity, QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch twins of the streaming surface (SURVEY.md §2.2 "Streaming").
  *
  * The reference's stream is stateless — processing-time trigger, append
  * mode, no watermark, event time left as a string
  * (`03_temStreamEveryMin.py:94-102`; SURVEY.md §2.2). Our engine
  * declares real event-time ops; each one here is the batch-mode twin of
  * a streaming query, which is what DuckDB can oracle-check. The window
  * twins call the streaming transform itself ([[EventStreams]]): on a
  * batch frame the analyzer drops its watermark, so batch and stream run
  * one declared query.
  * Streaming-specific behavior (append emission, watermark late-drop,
  * state cleanup) is exercised in the ScalaTest harness via
  * `MemoryStream` ([[EventStreams]]), where the assertion is that the
  * streamed result equals these batch twins.
  *
  * Scale notes: event-time windowed aggregation shuffles on (window,
  * key) with map-side partials; `session_window` shuffles on user and
  * sorts within; both are the layouts Structured Streaming itself uses
  * for its state stores, so the batch twin measures the same data
  * movement the stream would.
  */
object StreamingTwins {

  val defs: Seq[QueryDef] = Seq(

    // Tumbling 1-hour event-time windows: count + exact sum per window.
    QueryDef(
      "q_stream_tumble",
      (s, d) => EventStreams.tumblingAgg(Tables.events(s, d)).orderBy("wstart"),
      Some(s"""SELECT time_bucket(INTERVAL 1 HOUR, ts) AS wstart, COUNT(*) AS n,
              |  ${Parity.sqlDsum("value", 2)} AS sum_value
              |FROM events GROUP BY 1 ORDER BY wstart""".stripMargin)),

    // Sliding windows (1 hour, sliding 30 min): every event lands in two
    // windows; the oracle unrolls the two candidate starts per event.
    QueryDef(
      "q_stream_slide",
      (s, d) => EventStreams.slidingAgg(Tables.events(s, d)).orderBy("wstart"),
      Some(s"""SELECT wstart, COUNT(*) AS n, ${Parity.sqlDsum("value", 2)} AS sum_value
              |FROM (
              |  SELECT UNNEST([time_bucket(INTERVAL 30 MINUTE, ts),
              |                 time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS wstart,
              |         ts, value
              |  FROM events)
              |WHERE ts >= wstart AND ts < wstart + INTERVAL 60 MINUTE
              |GROUP BY wstart ORDER BY wstart""".stripMargin),
      headline = false),

    // Session windows per user, 2-hour gap. Spark's session end is
    // last-event + gap; the oracle's gaps-and-islands twin reproduces it.
    QueryDef(
      "q_stream_session",
      (s, d) => EventStreams.sessionAgg(Tables.events(s, d)).orderBy("user_id", "s_start"),
      Some(s"""WITH flagged AS (
              |  SELECT user_id, ts, value,
              |    CASE WHEN LAG(ts) OVER w IS NULL
              |           OR ts - LAG(ts) OVER w > INTERVAL 2 HOUR THEN 1 ELSE 0 END AS new_s
              |  FROM events
              |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
              |sess AS (
              |  SELECT user_id, ts, value,
              |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
              |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              |  FROM flagged)
              |SELECT user_id, MIN(ts) AS s_start, MAX(ts) + INTERVAL 2 HOUR AS s_end,
              |  COUNT(*) AS n, ${Parity.sqlDsum("value", 2)} AS sum_value
              |FROM sess GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin)),

    // Streaming dedup twin: first event per (user, event_type) in event
    // time — what `withWatermark().dropDuplicates()` retains on a stream.
    QueryDef(
      "q_stream_dedup",
      (s, d) => {
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_type"),
            col("event_id").as("first_event_id"), col("ts").as("first_ts"))
          .orderBy("user_id", "event_type")
      },
      Some("""SELECT user_id, event_type, event_id AS first_event_id, ts AS first_ts
             |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
             |                ORDER BY ts, event_id) AS rn FROM events)
             |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin),
      headline = false),

    // Streaming corpus admission twin: a delta batch (doc_id % 10 = 7,
    // the arriving crawl — same convention as q_dedup_incremental)
    // admits a document iff (a) it is the FIRST occurrence of its
    // digest within the delta (first-wins in doc_id order — what
    // `dropDuplicates` retains on the stream) and (b) the digest is
    // absent from the static base corpus (stream-static anti join).
    // On the stream this is `withColumn(dg) → dropDuplicates(dg) →
    // left_anti(base digests)` ([[EventStreams.admitDocs]]); at 100 TB
    // the base digest set is a precomputed index column and the anti
    // join's state is the production bloom-filter/state-store slot —
    // the batch twin shuffles delta rows on the 32-byte digest only.
    QueryDef(
      "q_stream_admit",
      (s, d) => {
        val docs = Tables.documents(s, d).withColumn("dg", sha2(col("text"), 256))
        val base = docs.filter(col("doc_id") % 10 =!= 7)
        val delta = docs.filter(col("doc_id") % 10 === 7)
        val w = Window.partitionBy("dg").orderBy("doc_id")
        delta.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .join(base.select("dg").distinct(), Seq("dg"), "left_anti")
          .select("doc_id", "lang", "source")
          .orderBy("doc_id")
      },
      Some("""WITH dg AS (
             |  SELECT doc_id, lang, source, sha256(text) AS dg FROM documents),
             |first_d AS (
             |  SELECT * FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY dg ORDER BY doc_id) AS rn
             |    FROM dg WHERE doc_id % 10 = 7)
             |  WHERE rn = 1)
             |SELECT doc_id, lang, source FROM first_d
             |WHERE dg NOT IN (SELECT dg FROM dg WHERE doc_id % 10 <> 7)
             |ORDER BY doc_id""".stripMargin),
      headline = false),

    // Stream-static enrichment twin: the events fact joined with the
    // customer dimension snapshot through the SAME code path the
    // streaming spec drives ([[EventStreams.enrichWithDim]] — broadcast
    // hash join per micro-batch, no join state), folded to per-segment×
    // type counts so the deliverable is stable. StreamingSpec pins
    // row-level stream==batch parity; this makes the join's SEMANTICS
    // (inner on user_id=c_custkey, dimension attributes attached) a
    // DuckDB obligation too. At 100 TB the dimension broadcasts —
    // the fact side never shuffles for the join, only for the fold.
    QueryDef(
      "q_stream_enrich",
      (s, d) => EventStreams
        .enrichWithDim(Tables.events(s, d), Tables.customer(s, d))
        .groupBy("segment", "event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("segment", "event_type"),
      Some("""SELECT c_mktsegment AS segment, event_type,
             |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
             |FROM events JOIN customer ON user_id = c_custkey
             |GROUP BY 1, 2 ORDER BY segment, event_type""".stripMargin),
      headline = false),

    // Late-data accounting twin — what a 10-minute watermark WOULD have
    // dropped: replaying the stream in ARRIVAL order, the high-water
    // mark before each event is the running max event time over
    // everything that arrived strictly earlier, and the event is
    // late-dropped iff its own time is more than 600 s behind that
    // mark (the `withWatermark("ts", "10 minutes")` rule, evaluated
    // per-row instead of per-batch — the deterministic twin DuckDB can
    // replay; the real stream's batch-boundary watermark drops a
    // SUBSET of these, so this is the audit's upper bound). The
    // fixture's event_id sequence is exactly ts-sorted (measured: zero
    // disorder — an in-order stream drops nothing and proves nothing),
    // so arrival = ts + a deterministic md5 delay < 30 min per event —
    // the bounded out-of-order delivery model, replayed identically by
    // both engines; ~3% of events arrive behind a >10-min-newer mark.
    // Per tumbling 10-min EVENT-time window: total, late, on-time.
    // Scale shape: the running max is the [[graft.operators
    // .PrefixSums]] two-pass trick with max in place of sum — range-
    // partition on arrival order, per-partition running max, ONE
    // ≤32-row offset frame broadcast back; no unpartitioned window
    // ever sees the full stream.
    QueryDef(
      "q_stream_late",
      (s, d) => {
        val jit = graft.functions.TextAnalysis
          .tokHash("concat('arr:', CAST(event_id AS STRING))")
        val ev = Tables.events(s, d)
          .select(col("event_id"), unix_timestamp(col("ts")).as("es"))
          .selectExpr("event_id", "es", s"es + $jit % 1800 AS arr")
        val g = ev.repartitionByRange(32, col("arr"), col("event_id"))
          .withColumn("pid", spark_partition_id())
          .localCheckpoint(true)
        val wLocal = Window.partitionBy("pid").orderBy("arr", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        // per-partition max frame: <= 32 rows, window bounded by construction
        val wPrefix = Window.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = g.groupBy("pid").agg(max(col("es")).as("pmax"))
          .withColumn("omax", max(col("pmax")).over(wPrefix))
          .select("pid", "omax")
        g.withColumn("lmax", max(col("es")).over(wLocal))
          .join(broadcast(offs), "pid")
          .withColumn("hwm", greatest(col("lmax"), col("omax")))
          .withColumn("late",
            when(col("hwm").isNull, 0L)
              .otherwise((col("es") < col("hwm") - 600L).cast("long")))
          .selectExpr("es DIV 600 * 600 AS ws", "late")
          .groupBy("ws")
          .agg(count(lit(1)).as("n"), sum(col("late")).as("n_late"),
            (count(lit(1)) - sum(col("late"))).as("n_ontime"))
          .orderBy("ws")
      },
      Some(s"""WITH ev AS (
             |  SELECT event_id, epoch_us(ts) // 1000000 AS es,
             |    epoch_us(ts) // 1000000 + ${graft.functions.TextAnalysis
                    .duckTokHash("'arr:' || CAST(event_id AS VARCHAR)")} % 1800 AS arr
             |  FROM events),
             |m AS (SELECT es,
             |    MAX(es) OVER (ORDER BY arr, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
             |  FROM ev),
             |l AS (SELECT es,
             |    CASE WHEN hwm IS NULL THEN 0
             |         WHEN es < hwm - 600 THEN 1 ELSE 0 END AS late
             |  FROM m)
             |SELECT es // 600 * 600 AS ws, COUNT(*) AS n,
             |  CAST(SUM(late) AS BIGINT) AS n_late,
             |  CAST(COUNT(*) - SUM(late) AS BIGINT) AS n_ontime
             |FROM l GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
