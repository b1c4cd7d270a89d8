package graft.operators

import graft.{QueryDef, Tables, Parity}
import org.apache.spark.sql.functions._

/** Join surface (SURVEY.md §2.2 "Joins" — absent in the reference; no
  * `.join` exists in any of its four scripts).
  *
  * Scale notes baked into the shapes below:
  *  - dimension tables (region/nation/part/supplier at TPC-H ratios) get an
  *    explicit `broadcast()` hint — at 100 TB those stay MB-sized, so the
  *    big side never shuffles;
  *  - fact⋈fact joins (lineitem⋈orders) are left to sort-merge/shuffled-hash
  *    on the join key with AQE skew-splitting; both sides shuffle once on
  *    the key and nothing else;
  *  - the as-of join is the union+window trick: one shuffle on the key,
  *    O(n log n) per partition — no O(n·m) correlated probe.
  */
object Joins {
  import Parity._

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q_join_inner",
      (s, d) => Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"), "inner")
        .groupBy("o_orderpriority")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority"),
      Some(s"""SELECT o_orderpriority,
              |  ${sqlDsum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
              |  COUNT(*) AS n
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Left join with the extra predicate in the ON clause (non-matching
    // left rows preserved — the semantics a WHERE would destroy).
    QueryDef(
      "q_join_left",
      (s, d) => {
        val o = Tables.orders(s, d)
        val l = Tables.lineitem(s, d)
        o.join(l, o("o_orderkey") === l("l_orderkey") && l("l_quantity") > 49, "left")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_rows"), count(l("l_orderkey")).as("n_matched"),
            dsum(coalesce(l("l_extendedprice"), lit(0.0)), 2).as("sum_price"))
          .orderBy("o_orderstatus")
      },
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n_rows, COUNT(l_orderkey) AS n_matched,
              |  ${sqlDsum("COALESCE(l_extendedprice, 0.0)", 2)} AS sum_price
              |FROM orders LEFT JOIN lineitem
              |  ON o_orderkey = l_orderkey AND l_quantity > 49
              |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    QueryDef(
      "q_join_semi",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
             |ORDER BY c_custkey""".stripMargin)),

    QueryDef(
      "q_join_anti",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_mktsegment FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
             |ORDER BY c_custkey""".stripMargin),
      headline = false),

    // region ⋈ nation ⋈ customer with broadcast hints on both dims: the
    // customer (fact) side never shuffles; plan must show BroadcastHashJoin.
    QueryDef(
      "q_join_broadcast",
      (s, d) => Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_cust"), davg(col("c_acctbal"), 2).as("avg_bal"))
        .orderBy("r_name"),
      Some(s"""SELECT r_name, COUNT(*) AS n_cust, ${sqlDavg("c_acctbal", 2)} AS avg_bal
              |FROM customer
              |JOIN nation ON c_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    QueryDef(
      "q_join_cross",
      (s, d) => Tables.region(s, d)
        .crossJoin(Tables.orders(s, d).select("o_orderstatus").distinct())
        .select("r_regionkey", "r_name", "o_orderstatus")
        .orderBy("r_regionkey", "o_orderstatus"),
      Some("""SELECT r_regionkey, r_name, o_orderstatus
             |FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
             |ORDER BY r_regionkey, o_orderstatus""".stripMargin),
      headline = false),

    QueryDef(
      "q_join_full",
      (s, d) => {
        val c = Tables.customer(s, d).filter(col("c_acctbal") > 9990)
          .select(col("c_nationkey").as("nk")).distinct()
        val sp = Tables.supplier(s, d).filter(col("s_acctbal") > 5000)
          .select(col("s_nationkey").as("snk")).distinct()
        c.join(sp, col("nk") === col("snk"), "full_outer")
          .select(coalesce(col("nk"), col("snk")).as("nationkey"),
            col("nk").isNotNull.as("has_cust"), col("snk").isNotNull.as("has_supp"))
          .orderBy("nationkey")
      },
      Some("""SELECT COALESCE(nk, snk) AS nationkey,
             |       nk IS NOT NULL AS has_cust, snk IS NOT NULL AS has_supp
             |FROM (SELECT DISTINCT c_nationkey AS nk FROM customer WHERE c_acctbal > 9990) c
             |FULL JOIN (SELECT DISTINCT s_nationkey AS snk FROM supplier WHERE s_acctbal > 5000) s
             |  ON nk = snk
             |ORDER BY nationkey""".stripMargin),
      headline = false),

    // Equi key + range residual: still a hash/sort-merge join on the key,
    // with the date-range predicate evaluated as a post-join filter.
    QueryDef(
      "q_join_range",
      (s, d) => Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey")
            && col("l_shipdate") >= col("o_orderdate")
            && col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice"), 2).as("sum_price")),
      Some(s"""SELECT COUNT(*) AS n, ${sqlDsum("l_extendedprice", 2)} AS sum_price
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |  AND l_shipdate >= o_orderdate
              |  AND l_shipdate <= o_orderdate + INTERVAL 30 DAY""".stripMargin),
      headline = false),

    // Pure range join through the CUSTOM PLANNED OPERATOR
    // ([[graft.plans.BroadcastRangeJoin]] — logical node → strategy →
    // exec, the engine-extension rung of the preference ladder):
    // lineitem shipdates probed against ~24 month-start blackout
    // windows. Stock Spark plans this no-equi-key join as
    // BroadcastNestedLoopJoin (every probe row × every window); the
    // custom exec binary-searches a lo-sorted broadcast index —
    // O(log m + k) per probe row, probe never moves. RangeJoinSpec
    // pins the plan node, BNLJ-equality, and edge semantics; the
    // DuckDB oracle runs the declarative range join.
    QueryDef(
      "q_join_range_bcast",
      (s, d) => {
        val win = Tables.orders(s, d)
          .selectExpr("date_trunc('month', o_orderdate) AS lo").distinct()
          .selectExpr("lo", "lo + INTERVAL 3 DAYS AS hi")
        val probe = Tables.lineitem(s, d).select("l_shipdate", "l_extendedprice")
        graft.plans.RangeJoins
          .broadcastRangeJoin(probe, win, "l_shipdate", "lo", "hi")
          .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice"), 2).as("sum_price"))
      },
      Some(s"""WITH win AS (
              |  SELECT DISTINCT date_trunc('month', o_orderdate) AS lo FROM orders),
              |w2 AS (SELECT lo, lo + INTERVAL 3 DAY AS hi FROM win)
              |SELECT COUNT(*) AS n, ${sqlDsum("l_extendedprice", 2)} AS sum_price
              |FROM lineitem JOIN w2 ON l_shipdate >= lo AND l_shipdate <= hi""".stripMargin)),

    // As-of enrichment through the SAME custom exec in asof mode: each
    // lineitem row picks the latest quarter-start version at-or-before
    // its shipdate — one binary search per probe row against the
    // broadcast version index, probe never moves (the union-trick /
    // window formulations q_join_asof uses pay a shuffle of the fact).
    // The oracle is DuckDB's NATIVE `ASOF JOIN` — the custom operator
    // must reproduce the reference engine's dedicated operator
    // semantics exactly, including dropping pre-first-version rows.
    QueryDef(
      "q_join_asof_bcast",
      (s, d) => {
        val versions = Tables.orders(s, d)
          .selectExpr("date_trunc('quarter', o_orderdate) AS vt").distinct()
        val probe = Tables.lineitem(s, d).select("l_shipdate", "l_extendedprice")
        graft.plans.RangeJoins
          .broadcastAsofJoin(probe, versions, "l_shipdate", "vt")
          .groupBy("vt")
          .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice"), 2).as("sum_price"))
          .orderBy("vt")
      },
      Some(s"""WITH v AS (
              |  SELECT DISTINCT CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP) AS vt
              |  FROM orders)
              |SELECT vt, COUNT(*) AS n, ${sqlDsum("l_extendedprice", 2)} AS sum_price
              |FROM lineitem l ASOF JOIN v ON l.l_shipdate >= v.vt
              |GROUP BY vt ORDER BY vt""".stripMargin)),

    // Pure theta (non-equi) join on a small dimension — BroadcastNestedLoop
    // territory; kept dimension-sized on purpose (a 100 TB BNLJ is a bug,
    // not an operator).
    QueryDef(
      "q_join_theta",
      (s, d) => {
        val n1 = Tables.nation(s, d).select(col("n_nationkey").as("k1"), col("n_regionkey").as("r1"))
        val n2 = Tables.nation(s, d).select(col("n_nationkey").as("k2"), col("n_regionkey").as("r2"))
        n1.join(n2, col("k1") < col("k2") && col("r1") === col("r2"))
          .select("k1", "k2", "r1")
          .orderBy("k1", "k2")
      },
      Some("""SELECT a.n_nationkey AS k1, b.n_nationkey AS k2, a.n_regionkey AS r1
             |FROM nation a JOIN nation b
             |  ON a.n_nationkey < b.n_nationkey AND a.n_regionkey = b.n_regionkey
             |ORDER BY k1, k2""".stripMargin),
      headline = false),

    // As-of join (SURVEY.md §2.2): for every purchase event, the most
    // recent signup at-or-before it by the same user. Implemented with the
    // union+window trick: tag both sides, sort within user, carry the last
    // signup timestamp forward — one shuffle, no correlated subquery.
    QueryDef(
      "q_join_asof",
      (s, d) => {
        val ev = Tables.events(s, d)
        val signups = ev.filter(col("event_type") === "signup")
          .select(col("user_id"), col("ts"), col("event_id"),
            lit(0).as("kind"), col("ts").as("signup_ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"),
            lit(1).as("kind"), lit(null).cast("timestamp").as("signup_ts"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(col("ts"), col("kind"), col("event_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        signups.unionAll(purchases)
          .withColumn("last_signup_ts", last(col("signup_ts"), ignoreNulls = true).over(w))
          .filter(col("kind") === 1)
          .select(col("event_id"), col("user_id"), col("ts"), col("last_signup_ts"))
          .orderBy("event_id")
      },
      Some("""SELECT p.event_id, p.user_id, p.ts,
             |  (SELECT MAX(s.ts) FROM events s
             |   WHERE s.user_id = p.user_id AND s.event_type = 'signup' AND s.ts <= p.ts)
             |  AS last_signup_ts
             |FROM events p WHERE p.event_type = 'purchase'
             |ORDER BY p.event_id""".stripMargin)),

    // Point-in-time MULTI-feature enrichment — the feature-store read
    // path: each probe row (purchase) takes the latest value of SEVERAL
    // versioned attributes as of its own timestamp, with zero future
    // leakage. The naive form is one as-of join per feature (k fact
    // shuffles); this is q_join_asof's union-window generalized to k
    // features in ONE pass — union the probe with every feature stream,
    // one user-keyed window, one `last(ignoreNulls)` column per
    // feature. k grows the column list, never the shuffle count. The
    // oracle is the k-correlated-subqueries form.
    QueryDef(
      "q_join_pit",
      (s, d) => {
        val ev = Tables.events(s, d)
        val probes = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"), lit(1).as("kind"),
            lit(null).cast("timestamp").as("f_signup_ts"),
            lit(null).cast("long").as("f_click_cents"))
        val fSignup = ev.filter(col("event_type") === "signup")
          .select(col("user_id"), col("ts"), col("event_id"), lit(0).as("kind"),
            col("ts").as("f_signup_ts"),
            lit(null).cast("long").as("f_click_cents"))
        val fClick = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"), lit(0).as("kind"),
            lit(null).cast("timestamp").as("f_signup_ts"),
            expr("CAST(round(value * 100) AS BIGINT)").as("f_click_cents"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(col("ts"), col("kind"), col("event_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        probes.unionAll(fSignup).unionAll(fClick)
          .withColumn("last_signup_ts", last(col("f_signup_ts"), ignoreNulls = true).over(w))
          .withColumn("last_click_cents", last(col("f_click_cents"), ignoreNulls = true).over(w))
          .filter(col("kind") === 1)
          .select(col("event_id"), col("user_id"), col("ts"),
            col("last_signup_ts"), col("last_click_cents"))
          .orderBy("event_id")
      },
      Some("""SELECT p.event_id, p.user_id, p.ts,
             |  (SELECT MAX(s.ts) FROM events s
             |   WHERE s.user_id = p.user_id AND s.event_type = 'signup' AND s.ts <= p.ts)
             |    AS last_signup_ts,
             |  (SELECT CAST(round(c.value * 100) AS BIGINT) FROM events c
             |   WHERE c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
             |   ORDER BY c.ts DESC, c.event_id DESC LIMIT 1)
             |    AS last_click_cents
             |FROM events p WHERE p.event_type = 'purchase'
             |ORDER BY p.event_id""".stripMargin)),

    // Fuzzy join (record linkage): same-entity detection across dirty
    // name columns. The scalable shape is blocking → equi-join →
    // verify: candidates come from an equi-join on a cheap blocking key
    // (here the name's noun token), so only plausibly-linkable rows
    // ever meet, and the quadratic edit-distance check runs inside
    // blocks only — the relational cousin of the MinHash band join.
    // Output aggregates per block so the result stays bounded while the
    // checksum still pins the exact matched pair set.
    QueryDef(
      "q_join_fuzzy",
      (s, d) => {
        val parts = Tables.part(s, d)
          .selectExpr("p_partkey", "p_name",
            "element_at(split(p_name, ' '), -1) AS block")
        parts.as("x").join(parts.as("y"),
            col("x.block") === col("y.block")
              && col("x.p_partkey") < col("y.p_partkey"))
          .filter(expr("levenshtein(x.p_name, y.p_name) <= 3"))
          .groupBy(col("x.block").as("block"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(expr("x.p_partkey * 31 + y.p_partkey")).cast("bigint").as("pair_checksum"))
          .orderBy("block")
      },
      Some("""WITH p AS (
             |  SELECT p_partkey, p_name, string_split(p_name, ' ')[-1] AS block
             |  FROM part)
             |SELECT x.block AS block, COUNT(*) AS n_pairs,
             |  CAST(SUM(x.p_partkey * 31 + y.p_partkey) AS BIGINT) AS pair_checksum
             |FROM p x JOIN p y
             |  ON x.block = y.block AND x.p_partkey < y.p_partkey
             |WHERE levenshtein(x.p_name, y.p_name) <= 3
             |GROUP BY x.block ORDER BY block""".stripMargin),
      headline = false),

    // Interval join with NO equi key — the shape Spark can only plan as
    // a nested loop (every probe row × every interval), which is a bug
    // at 100 TB, not an operator. The scale rewrite is temporal
    // binning: each interval explodes to the (≤ 2, because bin width ≥
    // interval width) time bins it covers, each probe row computes its
    // single bin, and the bin equi-join + residual range filter meets
    // each qualifying pair exactly once (the probe's bin is unique, so
    // no dedup pass). Same candidates-by-equi-join idea as the LSH band
    // join, applied to time. The oracle runs the plain range join
    // (DuckDB's IEJoin handles it natively) — same answer, different
    // strategy, which is exactly what the gate pins.
    QueryDef(
      "q_join_interval",
      (s, d) => {
        val iv = Tables.orders(s, d)
          .selectExpr("o_totalprice", "CAST(o_orderdate AS DATE) AS lo",
            "date_add(CAST(o_orderdate AS DATE), 3) AS hi")
          .selectExpr("o_totalprice", "lo", "hi",
            "datediff(lo, DATE'1970-01-01') AS lod",
            "datediff(hi, DATE'1970-01-01') AS hid")
          .selectExpr("o_totalprice", "lo", "hi",
            "explode(sequence(lod DIV 4, hid DIV 4)) AS bin")
        val pr = Tables.lineitem(s, d)
          .selectExpr("l_extendedprice", "CAST(l_shipdate AS DATE) AS sd")
          .selectExpr("l_extendedprice", "sd",
            "datediff(sd, DATE'1970-01-01') DIV 4 AS bin")
        pr.join(iv, "bin")
          .filter(col("sd") >= col("lo") && col("sd") <= col("hi"))
          .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice"), 2).as("sum_price"))
      },
      Some(s"""SELECT COUNT(*) AS n, ${sqlDsum("l_extendedprice", 2)} AS sum_price
              |FROM lineitem JOIN orders
              |  ON CAST(l_shipdate AS DATE) >= CAST(o_orderdate AS DATE)
              | AND CAST(l_shipdate AS DATE) <= CAST(o_orderdate AS DATE) + 3""".stripMargin),
      headline = false),

    // Grid-bucketed spatial radius join: customer and supplier sites
    // (deterministic key-derived integer coordinates on a 1000×1000
    // grid) paired when within Euclidean radius 8 — the standard
    // distributed spatial-join shape: bucket space into radius-sized
    // cells, EXPLODE one side to its 3×3 neighbor cells (a bounded
    // ×9 fan-out of the smaller relation), equi-join on the cell id,
    // then the exact integer d² filter. No cross join ever forms, the
    // candidate set is density-bounded per cell, and the join key is
    // a plain BIGINT — at 100 TB this hashes/partitions like any
    // equi-join (skew = a dense city cell → the salting playbook).
    // Each (dx,dy) neighbor cell is distinct, so no pair dedup pass
    // is needed.
    QueryDef(
      "q_join_spatial",
      (s, d) => {
        val cust = Tables.customer(s, d).selectExpr("c_custkey",
            "CAST(c_custkey * 37 % 1000 AS BIGINT) AS cx",
            "CAST(c_custkey * 73 % 1000 AS BIGINT) AS cy")
          .withColumn("cell", expr("(cx DIV 8) * 1000 + (cy DIV 8)"))
        val suppCells = Tables.supplier(s, d).selectExpr("s_suppkey",
            "CAST(s_suppkey * 41 % 1000 AS BIGINT) AS sx",
            "CAST(s_suppkey * 59 % 1000 AS BIGINT) AS sy")
          .selectExpr("s_suppkey", "sx", "sy",
            """explode(flatten(transform(sequence(-1, 1), dx ->
              |  transform(sequence(-1, 1), dy ->
              |    ((sx DIV 8) + dx) * 1000 + ((sy DIV 8) + dy))))) AS cell""".stripMargin)
        cust.join(suppCells, "cell")
          .withColumn("d2",
            expr("(cx - sx) * (cx - sx) + (cy - sy) * (cy - sy)"))
          .filter(col("d2") <= 64)
          .select("c_custkey", "s_suppkey", "cx", "cy", "sx", "sy", "d2")
          .orderBy("d2", "c_custkey", "s_suppkey")
          .limit(20)
      },
      Some("""WITH cust AS (
             |  SELECT c_custkey, CAST(c_custkey * 37 % 1000 AS BIGINT) AS cx,
             |    CAST(c_custkey * 73 % 1000 AS BIGINT) AS cy
             |  FROM customer),
             |sc AS (
             |  SELECT s_suppkey, sx, sy,
             |    ((sx // 8) + dx.d) * 1000 + ((sy // 8) + dy.d) AS cell
             |  FROM (SELECT s_suppkey, CAST(s_suppkey * 41 % 1000 AS BIGINT) AS sx,
             |          CAST(s_suppkey * 59 % 1000 AS BIGINT) AS sy FROM supplier),
             |    (SELECT UNNEST([-1, 0, 1]) AS d) dx,
             |    (SELECT UNNEST([-1, 0, 1]) AS d) dy)
             |SELECT c_custkey, s_suppkey, cx, cy, sx, sy,
             |  (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) AS d2
             |FROM cust JOIN sc ON (cx // 8) * 1000 + (cy // 8) = sc.cell
             |WHERE (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) <= 64
             |ORDER BY d2, c_custkey, s_suppkey LIMIT 20""".stripMargin)),

    // Dynamic partition pruning — the runtime complement to the static
    // pruning q_scan_partitioned pins: the fact side is a DISK-
    // partitioned table (written here, partitioned by order year) and
    // the dim side's filter is only known at plan time as a subquery,
    // so Catalyst injects a `dynamicpruningexpression` into the fact
    // scan's PartitionFilters — the fact files for odd years are never
    // opened, which at 100 TB is the difference between scanning the
    // whole table and scanning half of it. PlanSpec pins the pruning
    // subquery's presence; this oracle pins the answer. Money stays in
    // exact DECIMAL cents.
    QueryDef(
      "q_join_dpp",
      (s, d) => {
        val dir = graft.TmpSlices.dir("graft_dpp", graft.TmpSlices.key(d))
        Tables.orders(s, d)
          .selectExpr("o_orderkey",
            "CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT) AS cents",
            "year(o_orderdate) AS o_year")
          .write.partitionBy("o_year").mode("overwrite").parquet(dir)
        val fact = s.read.parquet(dir)
        val dim = fact.selectExpr("o_year AS d_year").distinct()
          .filter(col("d_year") % 2 === 0)
        fact.join(broadcast(dim), col("o_year") === col("d_year"))
          .groupBy("o_year")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
          .selectExpr("CAST(o_year AS INT) AS o_year", "n", "cents")
          .orderBy("o_year")
      },
      Some("""WITH f AS (
             |  SELECT year(o_orderdate) AS o_year,
             |    CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT) AS cents
             |  FROM orders),
             |dim AS (SELECT DISTINCT o_year AS d_year FROM f WHERE o_year % 2 = 0)
             |SELECT CAST(o_year AS INT) AS o_year, COUNT(*) AS n,
             |  CAST(SUM(cents) AS BIGINT) AS cents
             |FROM f JOIN dim ON o_year = d_year
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Null-aware anti join — the plan shape behind SQL's NOT IN
    // (subquery) when the subquery column is NULLABLE: three-valued
    // logic means one NULL in the build side annihilates the whole
    // result, so a plain LeftAnti hash join is WRONG and Spark must
    // plan the null-aware variant (BroadcastHashJoin LeftAnti with the
    // NAAJ flag — it checks the build side for nulls at runtime). The
    // q_join_anti entry covers the provably-non-null NOT EXISTS shape;
    // this one pins that a nullable-typed key (the CASE below is
    // always-true on the data, but the optimizer cannot prove it)
    // still plans as ONE broadcast hash join, not the O(n·m)
    // BroadcastNestedLoopJoin fallback — at 100 TB that is the
    // difference between a scan and a quadratic disaster. PlanSpec
    // pins the NAAJ flag and the absence of a nested-loop node.
    QueryDef(
      "q_join_null_aware",
      (s, d) => {
        val id = java.util.UUID.randomUUID().toString.replace("-", "")
        Tables.orders(s, d).createOrReplaceTempView(s"orders_$id")
        Tables.customer(s, d).createOrReplaceTempView(s"customer_$id")
        s.sql(s"""
          |SELECT o_orderpriority, COUNT(*) AS n,
          |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
          |FROM orders_$id
          |WHERE o_custkey NOT IN (
          |  SELECT CASE WHEN c_acctbal > -999999 THEN c_custkey END
          |  FROM customer_$id WHERE c_mktsegment = 'BUILDING')
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n,
             |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
             |FROM orders
             |WHERE o_custkey NOT IN (
             |  SELECT CASE WHEN c_acctbal > -999999 THEN c_custkey END
             |  FROM customer WHERE c_mktsegment = 'BUILDING')
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Existence join — the third subquery plan shape after semi
    // (q_join_semi) and null-aware anti (above): an IN-subquery that
    // CANNOT become a semi join because it sits under an OR (a semi
    // join drops the non-matching rows, but here they may still
    // qualify via the other disjunct). Spark materializes the
    // membership test as a boolean `exists` column (ExistenceJoin) and
    // filters on the disjunction afterwards — still ONE hash join
    // probe per row, never a per-row subquery re-execution or a
    // nested loop. PlanSpec pins the ExistenceJoin node.
    QueryDef(
      "q_join_existence",
      (s, d) => {
        val id = java.util.UUID.randomUUID().toString.replace("-", "")
        Tables.orders(s, d).createOrReplaceTempView(s"orders_$id")
        Tables.customer(s, d).createOrReplaceTempView(s"customer_$id")
        s.sql(s"""
          |SELECT o_orderpriority, COUNT(*) AS n,
          |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
          |FROM orders_$id
          |WHERE o_custkey IN (
          |    SELECT c_custkey FROM customer_$id WHERE c_mktsegment = 'BUILDING')
          |  OR o_totalprice > 400000.0
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n,
             |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
             |FROM orders
             |WHERE o_custkey IN (
             |    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
             |  OR o_totalprice > 400000.0
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))
  )
}
