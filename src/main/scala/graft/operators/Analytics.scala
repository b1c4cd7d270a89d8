package graft.operators

import graft.{Parity, QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Composed multi-join analytics in classic TPC-H shapes (Q3/Q5/Q6
  * adapted to the synthetic star schema) — the "whole queries a user
  * actually runs" layer over the per-operator surface, and the shapes
  * that exercise Catalyst's join ordering, semi-join reduction and
  * scan pruning together.
  *
  * Scale notes: Q3/Q5 join fact←dim chains — dims broadcast, the two
  * fact tables shuffle once on the join key each; Q6 is the pure
  * scan-predicate-aggregate shape whose entire cost is the pruned
  * parquet scan (PushedFilters + 4-column ReadSchema).
  */
object Analytics {
  import Parity._

  val defs: Seq[QueryDef] = Seq(

    // Q3: shipping-priority revenue — segment-filtered customers' orders
    // not yet shipped at the cutoff, top-10 by revenue.
    QueryDef(
      "q_tpch_q3",
      (s, d) => Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, d),
          col("c_custkey") === col("o_custkey")
            && col("o_orderdate") < lit("1996-06-01").cast("timestamp"))
        .join(Tables.lineitem(s, d),
          col("o_orderkey") === col("l_orderkey")
            && col("l_shipdate") > lit("1996-06-01").cast("timestamp"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10),
      Some(s"""SELECT l_orderkey, o_orderdate,
              |  ${sqlDsum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
              |FROM customer
              |JOIN orders ON c_custkey = o_custkey AND o_orderdate < TIMESTAMP '1996-06-01'
              |JOIN lineitem ON o_orderkey = l_orderkey AND l_shipdate > TIMESTAMP '1996-06-01'
              |WHERE c_mktsegment = 'BUILDING'
              |GROUP BY l_orderkey, o_orderdate
              |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    // Q5: local-supplier revenue by nation within one region and year —
    // the 6-table chain with the customer-nation = supplier-nation
    // equality that prunes cross-nation pairs.
    QueryDef(
      "q_tpch_q5",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d),
          col("c_custkey") === col("o_custkey")
            && col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey")
            && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey") && col("r_name") === "ASIA")
        .groupBy("n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name")),
      Some(s"""SELECT n_name,
              |  ${sqlDsum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
              |FROM customer
              |JOIN orders ON c_custkey = o_custkey
              |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
              |JOIN lineitem ON o_orderkey = l_orderkey
              |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              |JOIN nation ON s_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |WHERE r_name = 'ASIA'
              |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)),

    // Q6: forecasting revenue change — the pure pruned-scan aggregate.
    QueryDef(
      "q_tpch_q6",
      (s, d) => Tables.lineitem(s, d)
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
            && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
            && col("l_discount").between(0.05, 0.07)
            && col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount"), 4).as("revenue"),
          count(lit(1)).as("n")),
      Some(s"""SELECT ${sqlDsum("l_extendedprice * l_discount", 4)} AS revenue, COUNT(*) AS n
              |FROM lineitem
              |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
              |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)),

    // Q17: small-quantity-order revenue — the CORRELATED-subquery
    // shape (per-part threshold 0.2·avg(l_quantity)), decorrelated the
    // way Catalyst/every MPP engine does it: the inner aggregate
    // becomes a grouped frame joined back on the correlation key. Plan
    // discipline at 100 TB: the brand filter prunes part FIRST and the
    // surviving keys broadcast into both fact passes (threshold agg +
    // probe), so the FACT ROWS NEVER SHUFFLE — the only exchange
    // anywhere is the map-side-combined per-part avg (~parts-per-brand
    // rows), which broadcasts back as the threshold. Two pruned scans
    // beat one windowed pass here: a window over l_partkey would push
    // every branded fact row through a shuffle to attach its
    // threshold. No per-row subquery re-execution anywhere.
    // Decimal-exact avg (Parity) keeps the threshold bit-equal to
    // DuckDB's correlated evaluation.
    QueryDef(
      "q_tpch_q17",
      (s, d) => {
        val branded = Tables.part(s, d)
          .filter(col("p_brand") === "Brand#12").select("p_partkey")
        val li = Tables.lineitem(s, d)
          .join(broadcast(branded), col("l_partkey") === col("p_partkey"))
        val thr = li.groupBy("l_partkey")
          .agg((lit(0.2) * davg(col("l_quantity"), 2)).as("q_thr"))
          .withColumnRenamed("l_partkey", "t_partkey")
        li.join(broadcast(thr), col("l_partkey") === col("t_partkey"))
          .filter(col("l_quantity") < col("q_thr"))
          .agg((dsum(col("l_extendedprice"), 2) / 7.0).as("avg_yearly"))
      },
      Some(s"""SELECT ${sqlDsum("l_extendedprice", 2)} / 7.0 AS avg_yearly
              |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
              |WHERE p.p_brand = 'Brand#12'
              |  AND l.l_quantity < (
              |    SELECT 0.2 * ${sqlDavg("l2.l_quantity", 2)}
              |    FROM lineitem l2 JOIN part p2 ON p2.p_partkey = l2.l_partkey
              |    WHERE l2.l_partkey = p.p_partkey AND p2.p_brand = 'Brand#12')""".stripMargin)),

    // Q18: large-volume customers — the group-HAVING-semi-join
    // composition (orders whose lineitems sum past a quantity
    // threshold, joined back to customer detail). Plan discipline: the
    // HAVING aggregate runs FIRST and produces a qualifying-key frame
    // (map-side-combined sum over l_orderkey, then the filter) that
    // joins back into the detail chain — the fact table is aggregated
    // once and never re-scanned for the detail rows' quantities (the
    // per-order sum rides the qualifying frame). No broadcast hint:
    // the threshold decides the qualifying cardinality, so AQE picks
    // broadcast only when the runtime size actually fits.
    QueryDef(
      "q_tpch_q18",
      (s, d) => {
        val qualifying = Tables.lineitem(s, d)
          .groupBy("l_orderkey")
          .agg(dsum(col("l_quantity"), 2).as("total_qty"))
          .filter(col("total_qty") > 150)
        Tables.orders(s, d)
          .join(qualifying, col("o_orderkey") === col("l_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate"), col("o_totalprice"), col("total_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(100)
      },
      Some(s"""WITH q AS (
              |  SELECT l_orderkey, ${sqlDsum("l_quantity", 2)} AS total_qty
              |  FROM lineitem GROUP BY l_orderkey HAVING total_qty > 150)
              |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
              |FROM orders JOIN q ON o_orderkey = q.l_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),

    // Q4: order-priority checking — the EXISTS-semi-join shape. The
    // synthetic schema has no commit/receipt dates, so "late" is
    // adapted to l_shipdate > o_orderdate + 60 days (same correlated
    // mixed-side predicate class). Decorrelation: one LEFT SEMI join
    // on the order key with the late condition fused into it — the
    // fact is never aggregated or deduplicated first, the semi join
    // short-circuits per order. Both sides shuffle once on orderkey;
    // the quarter filter prunes the orders scan (PushedFilters).
    QueryDef(
      "q_tpch_q4",
      (s, d) => Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp")
          && col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
        .join(Tables.lineitem(s, d),
          col("l_orderkey") === col("o_orderkey")
            && col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
             |  AND o_orderdate < TIMESTAMP '1996-10-01'
             |  AND EXISTS (SELECT 1 FROM lineitem
             |    WHERE l_orderkey = o_orderkey
             |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Q7: volume shipping between two nations by year. Plan
    // discipline: the nation-name filters land on the TINY dimension
    // paths (supplier⋈nation, customer⋈nation — both broadcast), so
    // supplier and customer are pruned to two nations each BEFORE any
    // fact join; lineitem then shuffles once on orderkey against the
    // similarly-pruned orders. The OR of the two direction pairs is
    // evaluated on the two attached nation names — a residual filter
    // over an already-minimal join, not a cross-nation explosion.
    QueryDef(
      "q_tpch_q7",
      (s, d) => {
        val n1 = broadcast(Tables.nation(s, d)
          .filter(col("n_name").isin("NATION_1", "NATION_2"))
          .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation")))
        val n2 = broadcast(Tables.nation(s, d)
          .filter(col("n_name").isin("NATION_1", "NATION_2"))
          .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation")))
        val supp = Tables.supplier(s, d).join(n1, col("s_nationkey") === col("sk"))
        val cust = Tables.customer(s, d).join(n2, col("c_nationkey") === col("ck"))
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
            && col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
          .join(broadcast(supp.select("s_suppkey", "supp_nation")),
            col("l_suppkey") === col("s_suppkey"))
          .join(Tables.orders(s, d), col("o_orderkey") === col("l_orderkey"))
          .join(broadcast(cust.select("c_custkey", "cust_nation")),
            col("o_custkey") === col("c_custkey"))
          .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2")
            || (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
          .withColumn("l_year", year(col("l_shipdate")))
          .groupBy("supp_nation", "cust_nation", "l_year")
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some(s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
              |  CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
              |  ${sqlDsum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
              |FROM supplier
              |JOIN lineitem ON s_suppkey = l_suppkey
              |JOIN orders ON o_orderkey = l_orderkey
              |JOIN customer ON c_custkey = o_custkey
              |JOIN nation n1 ON s_nationkey = n1.n_nationkey
              |JOIN nation n2 ON c_nationkey = n2.n_nationkey
              |WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
              |  AND l_shipdate >= TIMESTAMP '1996-01-01'
              |  AND l_shipdate < TIMESTAMP '1998-01-01'
              |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // Q8: market share — NATION_3 suppliers' fraction of ASIA
    // customers' PROMO-part revenue by year. The share is a ratio of
    // two exact decimal sums over the SAME joined frame (one pass,
    // conditional numerator), so the division is the only double op.
    // part is pruned to PROMO and broadcast into the fact scan; the
    // supplier→nation attach rides a broadcast too — the fact shuffles
    // once (orders join).
    QueryDef(
      "q_tpch_q8",
      (s, d) => {
        val promo = broadcast(Tables.part(s, d)
          .filter(col("p_type") === "PROMO").select("p_partkey"))
        val suppNat = broadcast(Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("supp_nation")))
        val asiaCust = broadcast(Tables.customer(s, d)
          .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)),
            col("n_regionkey") === col("r_regionkey") && col("r_name") === "ASIA")
          .select("c_custkey"))
        Tables.lineitem(s, d)
          .join(promo, col("l_partkey") === col("p_partkey"))
          .join(suppNat, col("l_suppkey") === col("s_suppkey"))
          .join(Tables.orders(s, d), col("o_orderkey") === col("l_orderkey"))
          .join(asiaCust, col("o_custkey") === col("c_custkey"))
          .withColumn("o_year", year(col("o_orderdate")))
          .withColumn("volume", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .groupBy("o_year")
          .agg((dsum(when(col("supp_nation") === "NATION_3", col("volume"))
            .otherwise(0.0), 4) / dsum(col("volume"), 4)).as("mkt_share"))
          .orderBy("o_year")
      },
      Some(s"""SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
              |  ${sqlDsum("CASE WHEN n1.n_name = 'NATION_3' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END", 4)}
              |  / ${sqlDsum("l_extendedprice * (1.0 - l_discount)", 4)} AS mkt_share
              |FROM lineitem
              |JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
              |JOIN supplier ON l_suppkey = s_suppkey
              |JOIN nation n1 ON s_nationkey = n1.n_nationkey
              |JOIN orders ON o_orderkey = l_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation n2 ON c_nationkey = n2.n_nationkey
              |JOIN region ON n2.n_regionkey = r_regionkey AND r_name = 'ASIA'
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q10: returned-item reporting — top 20 customers by revenue lost
    // to returns in a quarter. The returnflag filter prunes the fact
    // scan; orders prunes to the quarter; nation attaches by
    // broadcast. One orderkey shuffle + one custkey-grouped agg, then
    // TakeOrdered(20).
    QueryDef(
      "q_tpch_q10",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d),
          col("c_custkey") === col("o_custkey")
            && col("o_orderdate") >= lit("1996-10-01").cast("timestamp")
            && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .join(Tables.lineitem(s, d),
          col("l_orderkey") === col("o_orderkey") && col("l_returnflag") === "R")
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20),
      Some(s"""SELECT c_custkey, c_name, c_acctbal, n_name,
              |  ${sqlDsum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
              |FROM customer
              |JOIN orders ON c_custkey = o_custkey
              |  AND o_orderdate >= TIMESTAMP '1996-10-01'
              |  AND o_orderdate < TIMESTAMP '1997-01-01'
              |JOIN lineitem ON l_orderkey = o_orderkey AND l_returnflag = 'R'
              |JOIN nation ON c_nationkey = n_nationkey
              |GROUP BY 1, 2, 3, 4
              |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    // Q13: customer order-count distribution — the filtered LEFT
    // OUTER + double aggregate. count(o_orderkey) (non-null only)
    // keeps zero-order customers as c_count = 0; the second aggregate
    // runs over the ≤|customer| frame. The priority exclusion adapts
    // the spec's comment NOT LIKE filter to the available columns —
    // the point is that the filter sits INSIDE the join condition (a
    // WHERE would turn the outer join inner and drop the zero bucket).
    QueryDef(
      "q_tpch_q13",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d)
          .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc),
      Some("""WITH c_orders AS (
             |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
             |  FROM customer LEFT OUTER JOIN orders
             |    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
             |  GROUP BY c_custkey)
             |SELECT c_count, COUNT(*) AS custdist
             |FROM c_orders GROUP BY c_count
             |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // Q14: promo-revenue share in one month — conditional-numerator
    // ratio over a single broadcast-joined pass (part broadcasts into
    // the month-pruned fact scan; zero fact shuffles, the global agg
    // is map-side combined).
    QueryDef(
      "q_tpch_q14",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp")
          && col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) * dsum(when(col("p_type") === "PROMO",
          col("l_extendedprice") * (lit(1.0) - col("l_discount"))).otherwise(0.0), 4)
          / dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4))
          .as("promo_revenue")),
      Some(s"""SELECT 100.0 * ${sqlDsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END", 4)}
              |  / ${sqlDsum("l_extendedprice * (1.0 - l_discount)", 4)} AS promo_revenue
              |FROM lineitem JOIN part ON l_partkey = p_partkey
              |WHERE l_shipdate >= TIMESTAMP '1996-09-01'
              |  AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin)),

    // Q15: top supplier by quarter revenue — the aggregate-then-
    // scalar-max selection. ONE fact pass builds the per-supplier
    // revenue frame; the max attaches via a global window OVER THAT
    // AGGREGATE (≤|supplier| rows — the PlanSpec "global windows only
    // on aggregates" rule), so lineitem is scanned exactly once and
    // nothing re-runs for the scalar subquery.
    QueryDef(
      "q_tpch_q15",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val rev = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
            && col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
          .groupBy(col("l_suppkey").as("supplier_no"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("total_revenue"))
        rev.withColumn("mx", max(col("total_revenue")).over(wAll))
          .filter(col("total_revenue") === col("mx"))
          .join(broadcast(Tables.supplier(s, d)), col("supplier_no") === col("s_suppkey"))
          .select("s_suppkey", "s_name", "total_revenue")
          .orderBy("s_suppkey")
      },
      Some(s"""WITH revenue AS (
              |  SELECT l_suppkey AS supplier_no,
              |    ${sqlDsum("l_extendedprice * (1.0 - l_discount)", 4)} AS total_revenue
              |  FROM lineitem
              |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              |    AND l_shipdate < TIMESTAMP '1996-04-01'
              |  GROUP BY l_suppkey)
              |SELECT s_suppkey, s_name, total_revenue
              |FROM supplier JOIN revenue ON s_suppkey = supplier_no
              |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
              |ORDER BY s_suppkey""".stripMargin)),

    // Q19: disjunctive-predicate join — three OR'd brand/size/quantity
    // branches sharing one equi-key. Catalyst keeps l_partkey =
    // p_partkey as the join key and evaluates the OR as a residual;
    // the scans are pre-pruned to the UNION of the branches (brands
    // IN (...), quantity in the covering range) so the pushed filters
    // carry the disjunction's common envelope even though the OR
    // itself can't push. part is broadcast.
    QueryDef(
      "q_tpch_q19",
      (s, d) => {
        val p = broadcast(Tables.part(s, d)
          .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#34"))
          .select("p_partkey", "p_brand", "p_size"))
        Tables.lineitem(s, d)
          .filter(col("l_quantity") >= 1 && col("l_quantity") <= 30)
          .join(p, col("l_partkey") === col("p_partkey"))
          .filter(
            (col("p_brand") === "Brand#12" && col("p_size").between(1, 15)
              && col("l_quantity").between(1, 11))
              || (col("p_brand") === "Brand#23" && col("p_size").between(1, 25)
                && col("l_quantity").between(10, 20))
              || (col("p_brand") === "Brand#34" && col("p_size").between(1, 35)
                && col("l_quantity").between(20, 30)))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("revenue"), count(lit(1)).as("n"))
      },
      Some(s"""SELECT ${sqlDsum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
              |  COUNT(*) AS n
              |FROM lineitem JOIN part ON l_partkey = p_partkey
              |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
              |       AND l_quantity BETWEEN 1 AND 11)
              |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
              |       AND l_quantity BETWEEN 10 AND 20)
              |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
              |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // Q21: suppliers who kept orders waiting — the double-correlated
    // EXISTS / NOT EXISTS shape ("another supplier shipped in this
    // order, but no OTHER supplier shipped late"), adapted to
    // late = l_shipdate > o_orderdate + 90 days. Decorrelated the
    // scalable way: instead of two correlated self-joins of the fact,
    // ONE orderkey-shuffled frame feeds two STACKED keyed aggregates —
    // per-(order, supplier) late flags, then per-order rollups — and
    // both reuse the join's orderkey exchange (each groups a superset
    // key of the partitioning). r14: the r13 shape memoized the
    // per-(order, supplier) frame and re-joined it against its own
    // per-order rollup; the StageProf profile at sf10 showed the cache
    // materialization costing as much as the fact shuffle itself
    // (6.8 s vs 6.8 s) plus an InMemoryTableScan re-read per consumer.
    // The re-join is unnecessary: when a qualifying order has EXACTLY
    // one late supplier, that supplier is recoverable inside the
    // per-order aggregate as max(CASE WHEN sup_late=1 THEN suppkey END)
    // — so the whole query collapses to one pass (join → agg → agg →
    // filter → broadcast dim join → agg), no cache, no re-join, fact
    // scanned AND shuffled exactly once (guide §2.4).
    QueryDef(
      "q_tpch_q21",
      (s, d) => {
        val perSupp = Tables.lineitem(s, d)
          .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
            .select("o_orderkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey"), col("l_suppkey"),
            (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
              .cast("int").as("late"))
          .groupBy("l_orderkey", "l_suppkey")
          .agg(max(col("late")).as("sup_late"))
        val natSupp = broadcast(Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey") && col("n_name") === "NATION_5")
          .select("s_suppkey", "s_name"))
        perSupp.groupBy("l_orderkey")
          .agg(count(lit(1)).as("n_supp"), sum(col("sup_late")).as("n_late"),
            max(when(col("sup_late") === 1, col("l_suppkey"))).as("late_supp"))
          .filter(col("n_supp") > 1 && col("n_late") === 1)
          .join(natSupp, col("late_supp") === col("s_suppkey"))
          .groupBy("s_name")
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
      },
      Some("""SELECT s_name, COUNT(DISTINCT l1.l_orderkey) AS numwait
             |FROM supplier
             |JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_5'
             |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
             |JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
             |WHERE l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
             |  AND EXISTS (SELECT 1 FROM lineitem l2
             |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
             |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
             |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
             |      AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
             |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin)),

    // Q22: global sales opportunity — positive-balance average as a
    // scalar subquery, then an ANTI join against orders (customers who
    // never placed an URGENT order — every synthetic customer has SOME
    // order, so the spec's "never bought" would select nothing; the
    // priority filter keeps the anti join selective AND exercised).
    // The average is ONE map-side-combined decimal agg broadcast back
    // as a literal-sized frame; the anti join shuffles customer once
    // against orders' pruned custkey projection.
    QueryDef(
      "q_tpch_q22",
      (s, d) => {
        val cust = Tables.customer(s, d)
          .filter(col("c_nationkey").between(0, 6))
        val avgBal = cust.filter(col("c_acctbal") > 0.0)
          .agg(davg(col("c_acctbal"), 2).as("avg_bal"))
        cust.crossJoin(broadcast(avgBal))
          .filter(col("c_acctbal") > col("avg_bal"))
          .join(Tables.orders(s, d)
            .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_nationkey").as("cntrycode"))
          .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal"), 2).as("totacctbal"))
          .orderBy("cntrycode")
      },
      Some(s"""SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
              |  ${sqlDsum("c_acctbal", 2)} AS totacctbal
              |FROM customer
              |WHERE c_nationkey BETWEEN 0 AND 6
              |  AND c_acctbal > (
              |    SELECT ${sqlDavg("c_acctbal", 2)} FROM customer
              |    WHERE c_acctbal > 0.0 AND c_nationkey BETWEEN 0 AND 6)
              |  AND NOT EXISTS (SELECT 1 FROM orders
              |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q12: shipping-priority severity split. The synthetic schema has
    // no l_shipmode/l_commitdate/l_receiptdate, so the classification
    // column is l_linestatus and "late" is Q4's adaptation
    // (l_shipdate > o_orderdate + 60 days — the same mixed-side
    // predicate class). Conditional aggregation in ONE pass over the
    // joined frame: both severity counts come from CASE sums, so the
    // fact joins orders exactly once (one orderkey shuffle each side);
    // the ship-year range prunes the lineitem scan (PushedFilters).
    QueryDef(
      "q_tpch_q12",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy("l_linestatus")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy("l_linestatus"),
      Some("""SELECT l_linestatus,
             |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |       THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |       THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             |  AND l_shipdate < TIMESTAMP '1997-01-01'
             |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q9: product-type profit by supplier nation and year. No partsupp
    // table in the synthetic schema, so supply cost is adapted to
    // 0.6 · p_retailprice · l_quantity (same arithmetic shape: a
    // part-attribute × quantity term subtracted from discounted
    // revenue). Profit is a DERIVED PRODUCT, so the decimal-cast
    // parity path is off-limits (halfway-point caveat, Tables.scala
    // scaladoc) — the sum is floor-quantized to 1e4 BIGINT units in
    // both engines (floor has no halfway case; |profit| < 1e9/row
    // keeps the sum under 2^63 through ~1e9 rows/group). Plan: the
    // 'red'-part prune broadcasts into the fact scan, supplier→nation
    // rides broadcasts, the fact shuffles once for the orders year
    // attach.
    QueryDef(
      "q_tpch_q9",
      (s, d) => {
        val redParts = broadcast(Tables.part(s, d)
          .filter(col("p_name").contains("red"))
          .select("p_partkey", "p_retailprice"))
        val suppNat = broadcast(Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("nation")))
        Tables.lineitem(s, d)
          .join(redParts, col("l_partkey") === col("p_partkey"))
          .join(suppNat, col("l_suppkey") === col("s_suppkey"))
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .withColumn("o_year", year(col("o_orderdate")))
          .groupBy("nation", "o_year")
          .agg((sum(floor((col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            - lit(0.6) * col("p_retailprice") * col("l_quantity")) * lit(10000.0))
            .cast("long")).cast("double") / 10000.0).as("sum_profit"))
          .orderBy("nation", "o_year")
      },
      Some("""SELECT nation, o_year,
             |  CAST(SUM(CAST(FLOOR((l_extendedprice * (1.0 - l_discount)
             |      - 0.6 * p_retailprice * l_quantity) * 10000.0) AS BIGINT))
             |    AS DOUBLE) / 10000.0 AS sum_profit
             |FROM (
             |  SELECT n_name AS nation,
             |    CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
             |    l_extendedprice, l_discount, p_retailprice, l_quantity
             |  FROM lineitem
             |  JOIN part ON p_partkey = l_partkey
             |  JOIN supplier ON s_suppkey = l_suppkey
             |  JOIN nation ON n_nationkey = s_nationkey
             |  JOIN orders ON o_orderkey = l_orderkey
             |  WHERE p_name LIKE '%red%') profit
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Q2: minimum-cost supplier. The synthetic schema has no partsupp
    // table, so (here and in Q11/Q16/Q20) it is reconstructed as the
    // DISTINCT (l_partkey, l_suppkey) pairs observed in lineitem, with
    // supply cost a deterministic hash of the pair — integer cents, so
    // the whole correlated-min machinery stays in exact BIGINTs. The
    // correlated "cost = MIN(cost) over this part" subquery becomes a
    // per-part rank window (partitioned BY PART, never global; ties
    // broken by suppkey so both engines pick the same supplier). Plan:
    // the pair-distinct is the only fact shuffle (map-side combine);
    // the size/type-pruned part and the 3-table supplier→nation→region
    // chain both broadcast into it.
    QueryDef(
      "q_tpch_q2",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ps = Tables.lineitem(s, d).select("l_partkey", "l_suppkey").distinct()
          .withColumn("cost_cents",
            expr("(l_partkey * 31 + l_suppkey * 17) % 10000 + 1").cast("long"))
        val parts = broadcast(Tables.part(s, d)
          .filter(col("p_type") === "ECONOMY" && col("p_size") <= 15)
          .select("p_partkey", "p_size"))
        val suppEu = broadcast(Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)),
            col("n_regionkey") === col("r_regionkey") && col("r_name") === "EUROPE")
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
            col("n_name").as("nation")))
        val wMin = Window.partitionBy("l_partkey")
          .orderBy(col("cost_cents"), col("l_suppkey"))
        ps.join(parts, col("l_partkey") === col("p_partkey"))
          .join(suppEu, col("l_suppkey") === col("s_suppkey"))
          .withColumn("rn", row_number().over(wMin))
          .filter(col("rn") === 1)
          .select("s_acctbal", "s_name", "nation", "p_partkey", "p_size", "cost_cents")
          .orderBy(col("s_acctbal").desc, col("s_name"), col("p_partkey"))
          .limit(20)
      },
      Some("""WITH ps AS (
             |  SELECT l_partkey, l_suppkey,
             |    CAST((l_partkey * 31 + l_suppkey * 17) % 10000 + 1 AS BIGINT) AS cost_cents
             |  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)),
             |r AS (
             |  SELECT s_acctbal, s_name, n_name AS nation, p_partkey, p_size, cost_cents,
             |    ROW_NUMBER() OVER (PARTITION BY l_partkey
             |      ORDER BY cost_cents, l_suppkey) AS rn
             |  FROM ps
             |  JOIN part ON p_partkey = l_partkey AND p_type = 'ECONOMY' AND p_size <= 15
             |  JOIN supplier ON s_suppkey = l_suppkey
             |  JOIN nation ON n_nationkey = s_nationkey
             |  JOIN region ON r_regionkey = n_regionkey AND r_name = 'EUROPE')
             |SELECT s_acctbal, s_name, nation, p_partkey, p_size, cost_cents
             |FROM r WHERE rn = 1
             |ORDER BY s_acctbal DESC, s_name, p_partkey LIMIT 20""".stripMargin)),

    // Q11: important stock. Reconstructed-partsupp value per part
    // (cost · availqty, both hash-deterministic integers) for one
    // nation's suppliers, keeping parts whose value exceeds 1/1000 of
    // the national total. The scalar-subquery threshold comparison is
    // CROSS-MULTIPLIED (value · 1000 > total) so no float division
    // ever happens — the qualifying set is bit-identical by integer
    // arithmetic alone. Plan: pair-distinct fact shuffle, 4-supplier
    // broadcast semi, one keyed agg, the 1-row total broadcast back.
    QueryDef(
      "q_tpch_q11",
      (s, d) => {
        val suppNat = broadcast(Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey") && col("n_name") === "NATION_7")
          .select("s_suppkey"))
        val value = Tables.lineitem(s, d).select("l_partkey", "l_suppkey").distinct()
          .join(suppNat, col("l_suppkey") === col("s_suppkey"))
          .withColumn("v",
            expr("""CAST((l_partkey * 31 + l_suppkey * 17) % 10000 + 1 AS BIGINT)
                   | * CAST((l_partkey * 7 + l_suppkey * 13) % 100 + 1 AS BIGINT)""".stripMargin))
          .groupBy("l_partkey").agg(sum(col("v")).as("value_cents"))
        val total = value.agg(sum(col("value_cents")).as("total_cents"))
        value.crossJoin(broadcast(total))
          .filter(col("value_cents") * 1000 > col("total_cents"))
          .select(col("l_partkey").as("p_partkey"), col("value_cents"))
          .orderBy(col("value_cents").desc, col("p_partkey"))
          .limit(50)
      },
      Some("""WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
             |sn AS (SELECT s_suppkey FROM supplier
             |       JOIN nation ON n_nationkey = s_nationkey AND n_name = 'NATION_7'),
             |v AS (
             |  SELECT l_partkey,
             |    CAST(SUM(CAST((l_partkey * 31 + l_suppkey * 17) % 10000 + 1 AS BIGINT)
             |      * CAST((l_partkey * 7 + l_suppkey * 13) % 100 + 1 AS BIGINT)) AS BIGINT)
             |      AS value_cents
             |  FROM ps JOIN sn ON sn.s_suppkey = ps.l_suppkey
             |  GROUP BY 1)
             |SELECT l_partkey AS p_partkey, value_cents
             |FROM v CROSS JOIN (SELECT CAST(SUM(value_cents) AS BIGINT) AS total_cents FROM v) t
             |WHERE value_cents * 1000 > total_cents
             |ORDER BY value_cents DESC, p_partkey LIMIT 50""".stripMargin)),

    // Q16: supplier diversity per part segment — distinct suppliers
    // able to supply each (brand, type, size) bucket, excluding one
    // brand, one type, an off-list size, and the "complaint" suppliers
    // (adapted to s_acctbal < 0 — the only supplier-quality signal in
    // the reduced schema; the NOT-IN becomes a broadcast ANTI join of
    // the ~6-row exclusion frame). COUNT(DISTINCT suppkey) rides the
    // pair-distinct relation, so the expensive distinct is already
    // done when the group-by runs.
    QueryDef(
      "q_tpch_q16",
      (s, d) => {
        val badSupp = broadcast(Tables.supplier(s, d)
          .filter(col("s_acctbal") < 0.0).select("s_suppkey"))
        val parts = broadcast(Tables.part(s, d)
          .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "ECONOMY"
            && col("p_size").isin(5, 11, 17, 23, 29, 35, 41, 47))
          .select("p_partkey", "p_brand", "p_type", "p_size"))
        Tables.lineitem(s, d).select("l_partkey", "l_suppkey").distinct()
          .join(badSupp, col("l_suppkey") === col("s_suppkey"), "left_anti")
          .join(parts, col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand", "p_type", "p_size")
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
          .limit(20)
      },
      Some("""WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
             |SELECT p_brand, p_type, p_size,
             |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
             |FROM ps
             |JOIN part ON p_partkey = l_partkey
             |WHERE p_brand <> 'Brand#1' AND p_type <> 'ECONOMY'
             |  AND p_size IN (5, 11, 17, 23, 29, 35, 41, 47)
             |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
             |GROUP BY 1, 2, 3
             |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 20""".stripMargin)),

    // Q20: excess-stock suppliers — one nation's suppliers holding more
    // than half a year's shipped quantity of some 'red' part
    // (availqty · 2 > Σ qty_1996, cross-multiplied exact integers; the
    // original's correlated scalar subquery is the keyed join of the
    // per-(part, supplier) 1996 shipment rollup, whose inner-join
    // absence reproduces the NULL-comparison drop). The EXISTS over
    // qualifying pairs is a distinct-suppkey semi join against the
    // 4-supplier broadcast nation frame.
    QueryDef(
      "q_tpch_q20",
      (s, d) => {
        val redParts = broadcast(Tables.part(s, d)
          .filter(col("p_name").startsWith("red")).select("p_partkey"))
        val shipped = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
            && col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
          .groupBy(col("l_partkey").as("sp"), col("l_suppkey").as("ss"))
          .agg(sum(col("l_quantity").cast("long")).as("qty96"))
        val okSupp = Tables.lineitem(s, d).select("l_partkey", "l_suppkey").distinct()
          .join(redParts, col("l_partkey") === col("p_partkey"))
          .join(shipped, col("l_partkey") === col("sp") && col("l_suppkey") === col("ss"))
          .filter(expr("CAST((l_partkey * 7 + l_suppkey * 13) % 100 + 1 AS BIGINT) * 2") > col("qty96"))
          .select("l_suppkey").distinct()
        Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey") && col("n_name") === "NATION_3")
          .join(okSupp, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select("s_name", "s_acctbal")
          .orderBy("s_name")
      },
      Some("""WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
             |sh AS (
             |  SELECT l_partkey AS sp, l_suppkey AS ss,
             |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty96
             |  FROM lineitem
             |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             |    AND l_shipdate < TIMESTAMP '1997-01-01'
             |  GROUP BY 1, 2),
             |ok AS (
             |  SELECT DISTINCT l_suppkey FROM ps
             |  JOIN part ON p_partkey = l_partkey AND p_name LIKE 'red%'
             |  JOIN sh ON sp = l_partkey AND ss = l_suppkey
             |  WHERE CAST((l_partkey * 7 + l_suppkey * 13) % 100 + 1 AS BIGINT) * 2 > qty96)
             |SELECT s_name, s_acctbal FROM supplier
             |JOIN nation ON n_nationkey = s_nationkey AND n_name = 'NATION_3'
             |WHERE s_suppkey IN (SELECT l_suppkey FROM ok)
             |ORDER BY s_name""".stripMargin)),

    // Audience overlap: |users(A) ∩ users(B)| for every unordered pair
    // of event types — the segment-intersection matrix a growth team
    // reads before targeting (do purchasers also view? do errors hit
    // signups?). The distinct (user, type) relation self-joins on
    // user_id with ta < tb, so the quadratic term is per-USER (≤ 5
    // types → ≤ 10 pairs per user), keyed by user — never cross-user.
    // Sizes ride along; jaccard = inter / (na + nb − inter) is one
    // exact integer division published as double.
    QueryDef(
      "q_audience_overlap",
      (s, d) => {
        val ut = Tables.events(s, d).select("user_id", "event_type").distinct()
        val sizes = ut.groupBy("event_type").agg(count(lit(1)).as("n"))
        val pairs = ut.as("a")
          .join(ut.as("b"),
            col("a.user_id") === col("b.user_id")
              && col("a.event_type") < col("b.event_type"))
          .groupBy(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
          .agg(count(lit(1)).as("inter"))
        pairs
          .join(broadcast(sizes.select(col("event_type").as("ta"), col("n").as("na"))), "ta")
          .join(broadcast(sizes.select(col("event_type").as("tb"), col("n").as("nb"))), "tb")
          .selectExpr("ta", "tb", "na", "nb", "inter",
            "CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard")
          .orderBy("ta", "tb")
      },
      Some("""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
             |sizes AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY 1),
             |pairs AS (
             |  SELECT a.event_type AS ta, b.event_type AS tb, COUNT(*) AS inter
             |  FROM ut a JOIN ut b
             |    ON a.user_id = b.user_id AND a.event_type < b.event_type
             |  GROUP BY 1, 2)
             |SELECT ta, tb, sa.n AS na, sb.n AS nb, inter,
             |  CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
             |FROM pairs JOIN sizes sa ON sa.event_type = ta
             |           JOIN sizes sb ON sb.event_type = tb
             |ORDER BY ta, tb""".stripMargin),
      headline = false),

    // -- behavioral / growth analytics over the event log ----------------
    // The query family every event pipeline runs at scale; all three
    // reduce the raw log with a per-user aggregate FIRST (one keyed
    // shuffle over users, not events), then operate on the ≪-sized
    // user/day/cohort frames. Global windows only ever sit on
    // aggregates (the PlanSpec rule).

    // Event-transition matrix (first-order Markov): for every ordered
    // pair of event types, how often does B directly follow A within a
    // user's stream, and what fraction of A's outgoing transitions is
    // that — the navigation/flow model behind "what happens after
    // signup". One per-user window (keyed shuffle on user_id, the
    // events family's standard exchange), then a small keyed agg; the
    // row-probability window runs over the ≤|types|² aggregate. Ties
    // in ts are broken by event_id so the sequence is total.
    QueryDef(
      "q_event_transitions",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        transitionCounts(s, d)
          .withColumn("p", col("n").cast("double") / sum(col("n")).over(Window.partitionBy("from_type")))
          .orderBy("from_type", "to_type")
      },
      Some(s"""WITH $duckTransitionCtes
              |SELECT from_type, to_type, n,
              |  CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type) AS p
              |FROM c ORDER BY from_type, to_type""".stripMargin)),

    // Event-sequence pattern matching (the MATCH_RECOGNIZE class,
    // regex form): each user's event stream is reduced to an ordered
    // initial-letter string (c/e/p/s/v), and behavioural patterns are
    // counted as regex matches over it — "viewed then clicked then
    // purchased, in order", "purchased without an intervening error",
    // "clicked twice in a row". Scale shape: ONE keyed shuffle
    // compresses events to a ≤O(events/user) string per user
    // (collect_list + array_sort on (ts, event_id) — a total order, so
    // the string is deterministic); every regex then runs over the
    // users frame, events never move again. Patterns stay in the
    // RE2∩Java subset (literals, classes, +/*) so both engines agree
    // (the q_pii_redact discipline).
    QueryDef(
      "q_seq_match",
      (s, d) => {
        val seqs = Tables.events(s, d)
          .groupBy("user_id")
          .agg(collect_list(struct(col("ts"), col("event_id"), col("event_type"))).as("evs"))
          .selectExpr("user_id",
            "array_join(transform(array_sort(evs), x -> substring(x.event_type, 1, 1)), '') AS seq")
        seqs.agg(
          count(lit(1)).as("n_users"),
          sum(when(expr("seq RLIKE 'v[^p]*c[^p]*p'"), 1L).otherwise(0L)).as("n_funnel_vcp"),
          sum(when(expr("seq RLIKE 'p' AND NOT seq RLIKE 'e'"), 1L).otherwise(0L)).as("n_clean_purchase"),
          sum(when(expr("seq RLIKE 'cc'"), 1L).otherwise(0L)).as("n_double_click"),
          sum(when(expr("seq RLIKE '^s'"), 1L).otherwise(0L)).as("n_signup_first"))
      },
      Some("""WITH seqs AS (
             |  SELECT user_id,
             |    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
             |  FROM events GROUP BY user_id)
             |SELECT COUNT(*) AS n_users,
             |  CAST(SUM(CASE WHEN regexp_matches(seq, 'v[^p]*c[^p]*p') THEN 1 ELSE 0 END) AS BIGINT) AS n_funnel_vcp,
             |  CAST(SUM(CASE WHEN regexp_matches(seq, 'p') AND NOT regexp_matches(seq, 'e') THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_purchase,
             |  CAST(SUM(CASE WHEN regexp_matches(seq, 'cc') THEN 1 ELSE 0 END) AS BIGINT) AS n_double_click,
             |  CAST(SUM(CASE WHEN regexp_matches(seq, '^s') THEN 1 ELSE 0 END) AS BIGINT) AS n_signup_first
             |FROM seqs""".stripMargin)),

    // New users per day + cumulative growth curve.
    QueryDef(
      "q_first_seen_daily",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
        Tables.events(s, d)
          .groupBy("user_id").agg(min(col("ts")).as("first_ts"))
          .select(to_date(col("first_ts")).as("d"))
          .groupBy("d").agg(count(lit(1)).as("n_new"))
          .withColumn("cum_users", sum(col("n_new")).over(w))
          .orderBy("d")
      },
      Some("""WITH firsts AS (
             |  SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id),
             |daily AS (
             |  SELECT CAST(first_ts AS DATE) AS d, COUNT(*) AS n_new
             |  FROM firsts GROUP BY 1)
             |SELECT d, n_new,
             |  CAST(SUM(n_new) OVER (ORDER BY d
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
             |FROM daily ORDER BY d""".stripMargin),
      headline = false),

    // Weekly cohort retention: users bucketed by first-seen week; how
    // many of each cohort are active k weeks later.
    QueryDef(
      "q_cohort_retention",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("week"))
        val firsts = ev.groupBy("user_id").agg(min(col("week")).as("cohort"))
        ev.join(firsts, "user_id")
          .withColumn("k", (datediff(col("week"), col("cohort")) / 7).cast("int"))
          .groupBy("cohort", "k")
          .agg(countDistinct(col("user_id")).as("n_active"))
          .orderBy("cohort", "k")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week FROM events),
             |firsts AS (SELECT user_id, MIN(week) AS cohort FROM ev GROUP BY user_id)
             |SELECT cohort, CAST(date_diff('day', cohort, week) / 7 AS INT) AS k,
             |  COUNT(DISTINCT ev.user_id) AS n_active
             |FROM ev JOIN firsts USING (user_id)
             |GROUP BY 1, 2 ORDER BY cohort, k""".stripMargin),
      headline = false),

    // Ordered conversion funnel view → click → purchase: one conditional
    // per-user aggregate pass, then a strict time-order predicate per
    // stage (a user converts at stage n only through the ordered chain).
    QueryDef(
      "q_funnel",
      (s, d) => Tables.events(s, d)
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("tv"),
          min(when(col("event_type") === "click", col("ts"))).as("tc"),
          min(when(col("event_type") === "purchase", col("ts"))).as("tp"))
        .agg(
          count(lit(1)).as("n_users"),
          sum(when(col("tv").isNotNull, 1L).otherwise(0L)).cast("bigint").as("n_view"),
          sum(when(col("tv").isNotNull && col("tc") > col("tv"), 1L).otherwise(0L))
            .cast("bigint").as("n_view_click"),
          sum(when(col("tv").isNotNull && col("tc") > col("tv") && col("tp") > col("tc"), 1L)
            .otherwise(0L)).cast("bigint").as("n_full_funnel")),
      Some("""WITH u AS (
             |  SELECT user_id,
             |    MIN(CASE WHEN event_type = 'view' THEN ts END) AS tv,
             |    MIN(CASE WHEN event_type = 'click' THEN ts END) AS tc,
             |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
             |  FROM events GROUP BY user_id)
             |SELECT COUNT(*) AS n_users,
             |  CAST(SUM(CASE WHEN tv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
             |  CAST(SUM(CASE WHEN tv IS NOT NULL AND tc > tv THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
             |  CAST(SUM(CASE WHEN tv IS NOT NULL AND tc > tv AND tp > tc THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
             |FROM u""".stripMargin),
      headline = false),

    // Last-touch attribution — the oracle-checked batch twin of the
    // watermarked stream-stream join ([[graft.streaming.EventStreams
    // .purchaseAttribution]], same 24-hour window): each purchase is
    // attributed to the user's LATEST signup in (p_ts - 24h, p_ts],
    // chosen deterministically (max (s_ts, signup_id) struct — ids
    // break timestamp ties). The band join is an equi-join on user_id
    // with a range residual, so it shuffles each side once on the user
    // key — per-user event counts bound the pair fan-out, never N².
    // Latencies subtract truncated epoch seconds (DuckDB's
    // boundary-crossing date_diff, same equivalence q_sessionize pins).
    QueryDef(
      "q_attrib_last_touch",
      (s, d) => {
        val ev = Tables.events(s, d)
        val signups = ev.filter(col("event_type") === "signup")
          .select(col("user_id").as("s_user"), col("ts").as("s_ts"),
            col("event_id").as("signup_id"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("event_id").as("purchase_id"), col("value"))
        val last = purchases.join(signups,
            col("p_user") === col("s_user")
              && col("s_ts") <= col("p_ts")
              && col("s_ts") >= col("p_ts") - expr("INTERVAL 24 HOURS"))
          .groupBy("purchase_id")
          .agg(max(struct(col("s_ts"), col("signup_id"))).as("m"))
          .select(col("purchase_id"), col("m.signup_id").as("signup_id"),
            col("m.s_ts").as("s_ts"))
        purchases.join(last, Seq("purchase_id"), "left")
          .groupBy(to_date(col("p_ts")).as("day"))
          .agg(count(lit(1)).as("n_purchases"),
            count(col("signup_id")).as("n_attributed"),
            sum(col("signup_id")).cast("bigint").as("signup_checksum"),
            sum(col("p_ts").cast("long") - col("s_ts").cast("long"))
              .cast("bigint").as("total_latency_s"),
            dsum(col("value")).as("sum_value"))
          .orderBy("day")
      },
      Some(s"""WITH s AS (SELECT user_id AS s_user, ts AS s_ts, event_id AS signup_id
              |          FROM events WHERE event_type = 'signup'),
              |p AS (SELECT user_id AS p_user, ts AS p_ts, event_id AS purchase_id, value
              |      FROM events WHERE event_type = 'purchase'),
              |last AS (
              |  SELECT purchase_id, signup_id, s_ts FROM (
              |    SELECT purchase_id, signup_id, s_ts,
              |      ROW_NUMBER() OVER (PARTITION BY purchase_id
              |        ORDER BY s_ts DESC, signup_id DESC) AS rn
              |    FROM p JOIN s ON p_user = s_user
              |      AND s_ts <= p_ts AND s_ts >= p_ts - INTERVAL 24 HOURS)
              |  WHERE rn = 1)
              |SELECT CAST(p_ts AS DATE) AS day, COUNT(*) AS n_purchases,
              |  COUNT(signup_id) AS n_attributed,
              |  CAST(SUM(signup_id) AS BIGINT) AS signup_checksum,
              |  CAST(SUM(date_diff('second', s_ts, p_ts)) AS BIGINT) AS total_latency_s,
              |  ${sqlDsum("value")} AS sum_value
              |FROM p LEFT JOIN last USING (purchase_id)
              |GROUP BY CAST(p_ts AS DATE) ORDER BY day""".stripMargin)),

    // Market-basket co-occurrence: the top-20 part pairs bought in the
    // same order — the support-counting core of frequent-itemset
    // mining. The self-join keys on l_orderkey, so BOTH sides shuffle
    // on the same key (one exchange, reused) and the quadratic term is
    // per-BASKET, not per-table: an order with B distinct parts emits
    // B(B-1)/2 pairs (~6 here; a production run caps pathological
    // baskets first, the q_dedup_substring frequency-cap move). The
    // pair counts aggregate map-side; TakeOrdered keeps 20.
    QueryDef(
      "q_basket_pairs",
      (s, d) => {
        // Shared with q_assoc_rules — same memoized distinct relation,
        // stored partitioned by l_orderkey (r14; see the assoc_rules
        // build for the rationale) so the self-join below rides the
        // cached layout instead of re-exchanging both sides.
        val items = graft.FrameCache.memo(s, s"basket-items:$d") {
          Tables.lineitem(s, d)
            .select(col("l_orderkey"), col("l_partkey"))
            .repartition(col("l_orderkey")).distinct()
        }
        val x = items.select(col("l_orderkey"), col("l_partkey").as("pa"))
        val y = items.select(col("l_orderkey").as("ok2"), col("l_partkey").as("pb"))
        x.join(y, col("l_orderkey") === col("ok2") && col("pa") < col("pb"))
          .groupBy("pa", "pb")
          .agg(count(lit(1)).as("support"))
          .orderBy(col("support").desc, col("pa"), col("pb"))
          .limit(20)
      },
      Some("""WITH items AS (
             |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
             |SELECT x.l_partkey AS pa, y.l_partkey AS pb, COUNT(*) AS support
             |FROM items x JOIN items y
             |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
             |GROUP BY 1, 2
             |ORDER BY support DESC, pa, pb LIMIT 20""".stripMargin),
      headline = false),

    // RFM segmentation: each customer's recency (days since last
    // order), frequency (order count), and monetary (exact-decimal
    // spend), quartile-scored and rolled into the 4×4×4 segment grid —
    // the lifecycle-marketing workhorse. The scoring is semantically a
    // global NTILE per metric; a naive window funnels every customer
    // through ONE task, so each score rides
    // [[Windows.ntileBucket]] — the range-partitioned exact NTILE whose
    // only global window is one row per partition (tie-broken by
    // custkey, so bucket edges are deterministic). The RFM base frame
    // is computed once (locally checkpointed) and fans into the three
    // scorings; the segment rollup carries one row per customer into a
    // 64-group agg.
    QueryDef(
      "q_rfm",
      (s, d) => {
        val now = Tables.orders(s, d)
          .agg(max(expr("CAST(o_orderdate AS DATE)")).as("now_d"))
        val rfm0 = Tables.orders(s, d).crossJoin(broadcast(now))
          .groupBy("o_custkey")
          .agg(
            min(expr("datediff(now_d, CAST(o_orderdate AS DATE))")).as("recency"),
            count(lit(1)).as("freq"),
            Parity.dsum(col("o_totalprice"), 2).as("monetary"))
        val rfm = graft.FrameCache.rebase(rfm0)
        def score(metric: String, name: String) =
          Windows.ntileBucket(rfm.select("o_custkey", metric), 4, 8,
            Seq(metric, "o_custkey"), name).select("o_custkey", name)
        rfm.select("o_custkey", "monetary")
          .join(score("recency", "r_score"), "o_custkey")
          .join(score("freq", "f_score"), "o_custkey")
          .join(score("monetary", "m_score"), "o_custkey")
          .groupBy("r_score", "f_score", "m_score")
          .agg(count(lit(1)).as("n_customers"),
            sum(col("o_custkey")).cast("bigint").as("key_checksum"),
            Parity.dsum(col("monetary"), 2).as("sum_monetary"))
          .orderBy("r_score", "f_score", "m_score")
      },
      Some(s"""WITH now_t AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS now_d FROM orders),
              |rfm AS (
              |  SELECT o_custkey,
              |    MIN(date_diff('day', CAST(o_orderdate AS DATE), now_d)) AS recency,
              |    COUNT(*) AS freq,
              |    ${Parity.sqlDsum("o_totalprice", 2)} AS monetary
              |  FROM orders CROSS JOIN now_t GROUP BY o_custkey),
              |sc AS (
              |  SELECT o_custkey, monetary,
              |    CAST(NTILE(4) OVER (ORDER BY recency, o_custkey) AS INT) AS r_score,
              |    CAST(NTILE(4) OVER (ORDER BY freq, o_custkey) AS INT) AS f_score,
              |    CAST(NTILE(4) OVER (ORDER BY monetary, o_custkey) AS INT) AS m_score
              |  FROM rfm)
              |SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
              |  CAST(SUM(o_custkey) AS BIGINT) AS key_checksum,
              |  ${Parity.sqlDsum("monetary", 2)} AS sum_monetary
              |FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // Two-proportion A/B z-test: users hash-split into variants
    // (user_id % 2 — the assignment an experimentation system does),
    // metric = "power buyer" (≥ 15 purchase events), pooled-variance z
    // statistic and the 95% significance verdict. Everything flows
    // from four BIGINT counts produced by one keyed agg + one global
    // agg; the float tail (two divisions, one sqrt) is the IDENTICAL
    // expression tree in both engines over identical integer inputs,
    // so the statistic is bit-equal with no quantization step. The
    // degenerate pooled rates (p̂ = 0 or 1, where the denominator
    // vanishes) return NULL through the same guard in both dialects.
    QueryDef(
      "q_ab_test",
      (s, d) => {
        val users = Tables.events(s, d)
          .groupBy("user_id")
          .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
          .selectExpr("user_id % 2 AS variant",
            "CASE WHEN np >= 15 THEN 1L ELSE 0L END AS converted")
        users.agg(
            sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
            sum(when(col("variant") === 0, col("converted")).otherwise(0L)).as("c0"),
            sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
            sum(when(col("variant") === 1, col("converted")).otherwise(0L)).as("c1"))
          .selectExpr("n0", "c0", "n1", "c1",
            "CAST(c0 AS DOUBLE) / n0 AS p0",
            "CAST(c1 AS DOUBLE) / n1 AS p1",
            "CAST(c0 + c1 AS DOUBLE) / (n0 + n1) AS pp")
          .selectExpr("n0", "c0", "p0", "n1", "c1", "p1",
            """CASE WHEN pp > CAST(0 AS DOUBLE) AND pp < CAST(1 AS DOUBLE)
              |  THEN (p1 - p0) / sqrt(pp * (CAST(1 AS DOUBLE) - pp)
              |       * (CAST(1 AS DOUBLE) / n0 + CAST(1 AS DOUBLE) / n1))
              |END AS z""".stripMargin)
          .withColumn("significant_95",
            (abs(col("z")) > 1.96).cast("int"))
      },
      Some("""WITH u AS (
             |  SELECT user_id % 2 AS variant,
             |    CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 15
             |         THEN 1 ELSE 0 END AS converted
             |  FROM events GROUP BY user_id),
             |a AS (
             |  SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             |    CAST(SUM(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT) AS c0,
             |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             |    CAST(SUM(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT) AS c1
             |  FROM u),
             |b AS (
             |  SELECT n0, c0, n1, c1,
             |    CAST(c0 AS DOUBLE) / n0 AS p0,
             |    CAST(c1 AS DOUBLE) / n1 AS p1,
             |    CAST(c0 + c1 AS DOUBLE) / (n0 + n1) AS pp
             |  FROM a),
             |zt AS (
             |  SELECT n0, c0, p0, n1, c1, p1,
             |    CASE WHEN pp > CAST(0 AS DOUBLE) AND pp < CAST(1 AS DOUBLE)
             |      THEN (p1 - p0) / sqrt(pp * (CAST(1 AS DOUBLE) - pp)
             |           * (CAST(1 AS DOUBLE) / n0 + CAST(1 AS DOUBLE) / n1))
             |    END AS z
             |  FROM b)
             |SELECT n0, c0, p0, n1, c1, p1, z,
             |  CAST(abs(z) > 1.96 AS INT) AS significant_95
             |FROM zt""".stripMargin)),

    // Association rules from the co-purchase pairs: directional a→b
    // rules with confidence (supp_ab / supp_a) and lift
    // (supp_ab · N / (supp_a · supp_b)), min support 2, top-20 by lift
    // — what q_basket_pairs' raw support counts become when a
    // recommender actually consumes them. Scale shape: the pair
    // enumeration is the same per-order self-join (rows ∝ Σ basket²,
    // bounded by basket size, not N); the rule derivation adds two
    // keyed joins against the item-support frame and one broadcast
    // scalar (order count). Ratios are single divisions of exact
    // BIGINT counts — bit-equal by construction.
    QueryDef(
      "q_assoc_rules",
      (s, d) => {
        // Referenced four times (support build + both pair sides) — the
        // distinct is one fact shuffle, paid once via FrameCache.
        // r14: the distinct's exchange is keyed on l_orderkey ALONE
        // (hash(ok) clusters (ok, pk) just as well — the dedup still
        // runs map-side partial + post-shuffle final), so the CACHED
        // relation is already co-partitioned for the per-order pair
        // self-join. The r13 shape exchanged by (ok, pk) and the
        // StageProf profile at sf10 showed both self-join sides
        // re-exchanging the 60M-row cache by ok (2 × 612 MB, ~8 s of
        // the query's 29 s) — guide §2.4: two operations keyed the
        // same way share one exchange, here by making the stored
        // layout the join's layout.
        val items = graft.FrameCache.memo(s, s"basket-items:$d") {
          Tables.lineitem(s, d)
            .select(col("l_orderkey"), col("l_partkey"))
            .repartition(col("l_orderkey")).distinct()
        }
        val nOrders = Tables.orders(s, d).agg(count(lit(1)).as("n_orders"))
        // memoized: supp_a and supp_b both consume it, and un-memoized
        // its scan+agg chain executed once per consumer (profiled 2×)
        val itemSupp = graft.FrameCache.memo(s, s"basket-supp:$d") {
          items.groupBy("l_partkey").agg(count(lit(1)).as("supp"))
        }
        // Pair enumeration stays the ordered self-join: the array
        // (collect_list + halved pairs + mirror) formulation was tried
        // twice — r12 at sf10 (22.5-26.7 s vs 20.0, `b36c70d`) and
        // again this round at sf0.1 (5.18 vs 4.40 median) — and loses
        // both times: collect_list forces a non-codegen
        // ObjectHashAggregate that costs more than the second
        // order-keyed exchange it saves.
        // (r14: a SHUFFLE_HASH hint was tried here — with both sides
        // co-partitioned it would skip SMJ's two in-partition sorts —
        // and REVERTED: the per-partition hash build of the 60M-row
        // relation dies with "Can't acquire ... to build hash relation"
        // at sf10/local[32] — exactly guide §3.1's documented SHJ risk.
        // SMJ spills gracefully; it stays.)
        val x = items.select(col("l_orderkey"), col("l_partkey").as("a"))
        val y = items.select(col("l_orderkey").as("ok2"), col("l_partkey").as("b"))
        x.join(y, col("l_orderkey") === col("ok2") && col("a") =!= col("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("supp_ab"))
          .filter(col("supp_ab") >= 2)
          .join(itemSupp.select(col("l_partkey").as("a"), col("supp").as("supp_a")), "a")
          .join(itemSupp.select(col("l_partkey").as("b"), col("supp").as("supp_b")), "b")
          .crossJoin(broadcast(nOrders))
          .selectExpr("a", "b", "supp_ab",
            "CAST(supp_ab AS DOUBLE) / supp_a AS confidence",
            "CAST(supp_ab AS DOUBLE) * n_orders / (supp_a * CAST(supp_b AS DOUBLE)) AS lift")
          .orderBy(col("lift").desc, col("confidence").desc, col("a"), col("b"))
          .limit(20)
      },
      Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |n_t AS (SELECT COUNT(*) AS n_orders FROM orders),
             |isupp AS (SELECT l_partkey, COUNT(*) AS supp FROM items GROUP BY 1),
             |pairs AS (
             |  SELECT x.l_partkey AS a, y.l_partkey AS b, COUNT(*) AS supp_ab
             |  FROM items x JOIN items y
             |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey
             |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
             |SELECT a, b, supp_ab,
             |  CAST(supp_ab AS DOUBLE) / sa.supp AS confidence,
             |  CAST(supp_ab AS DOUBLE) * n_orders / (sa.supp * CAST(sb.supp AS DOUBLE)) AS lift
             |FROM pairs JOIN isupp sa ON sa.l_partkey = a
             |           JOIN isupp sb ON sb.l_partkey = b
             |CROSS JOIN n_t
             |ORDER BY lift DESC, confidence DESC, a, b LIMIT 20""".stripMargin)),

    // Per-market revenue concentration: the Gini coefficient of
    // customer spend within each nation (sorted-rank closed form,
    // G = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ)) — "is this market five
    // whales or a long tail", the concentration read behind account
    // planning. Spend is exact integer cents; the rank window
    // partitions BY NATION (never global), the moment sums are exact
    // BIGINTs (i·x ≲ 1e17 at the tested scales; the 100 TB variant
    // promotes the moment column to DECIMAL(38,0)), and the single
    // float division at the end is the identical expression over
    // identical integers in both engines.
    QueryDef(
      "q_gini_nation",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val spend = Tables.orders(s, d)
          .groupBy("o_custkey")
          .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT)"))
            .as("cents"))
        val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
        val wr = Window.partitionBy("c_nationkey")
          .orderBy(col("cents"), col("o_custkey"))
        spend.join(cust, col("o_custkey") === col("c_custkey"))
          .withColumn("i", row_number().over(wr).cast("long"))
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n"),
            sum(col("cents")).as("sx"),
            sum(col("i") * col("cents")).as("six"))
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .selectExpr("n_name AS nation", "n AS n_customers",
            """(CAST(2 AS DOUBLE) * CAST(six AS DOUBLE)
              | - (CAST(n AS DOUBLE) + CAST(1 AS DOUBLE)) * CAST(sx AS DOUBLE))
              | / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) AS gini""".stripMargin,
            "CAST(sx AS DOUBLE) / 100 AS total_spend")
          .orderBy("nation")
      },
      Some("""WITH spend AS (
             |  SELECT o_custkey,
             |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
             |  FROM orders GROUP BY 1),
             |r AS (
             |  SELECT c_nationkey, cents, o_custkey,
             |    ROW_NUMBER() OVER (PARTITION BY c_nationkey
             |      ORDER BY cents, o_custkey) AS i
             |  FROM spend JOIN customer ON o_custkey = c_custkey),
             |g AS (
             |  SELECT c_nationkey, COUNT(*) AS n,
             |    CAST(SUM(cents) AS BIGINT) AS sx,
             |    CAST(SUM(i * cents) AS BIGINT) AS six
             |  FROM r GROUP BY 1)
             |SELECT n_name AS nation, CAST(n AS BIGINT) AS n_customers,
             |  (CAST(2 AS DOUBLE) * CAST(six AS DOUBLE)
             |   - (CAST(n AS DOUBLE) + CAST(1 AS DOUBLE)) * CAST(sx AS DOUBLE))
             |   / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) AS gini,
             |  CAST(sx AS DOUBLE) / 100 AS total_spend
             |FROM g JOIN nation ON n_nationkey = c_nationkey
             |ORDER BY nation""".stripMargin)),

    // Frequent action trigrams: the top-20 length-3 behavioural motifs
    // across all user streams — the sequence-mining complement to
    // q_event_transitions' first-order Markov matrix (a bigram model
    // cannot see "view→click→purchase" as one unit). Two lags on ONE
    // user-keyed window pass build the trigram inline — the per-user
    // sequence never materializes — then a ≤|types|³-group agg and a
    // distributed TakeOrdered pin the head by (count, lexicographic).
    QueryDef(
      "q_seq_trigrams",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ord = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .withColumn("t1", lag(col("event_type"), 2).over(ord))
          .withColumn("t2", lag(col("event_type"), 1).over(ord))
          .withColumn("t3", col("event_type"))
          .filter(col("t1").isNotNull)
          .groupBy("t1", "t2", "t3")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
          .limit(20)
      },
      Some("""WITH g AS (
             |  SELECT LAG(event_type, 2) OVER w AS t1,
             |         LAG(event_type, 1) OVER w AS t2,
             |         event_type AS t3
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
             |SELECT t1, t2, t3, COUNT(*) AS n FROM g WHERE t1 IS NOT NULL
             |GROUP BY 1, 2, 3 ORDER BY n DESC, t1, t2, t3 LIMIT 20""".stripMargin)),

    // User churn classification: every user's silence against the
    // stream head — active (< 1 day), at-risk (1–7 days), churned
    // (> 7 days silent) — the per-USER lifecycle complement to
    // q_dq_freshness' per-TYPE pipeline staleness. Integer epoch
    // arithmetic throughout; one keyed agg over a broadcast head, then
    // a 3-group rollup with membership checksums.
    QueryDef(
      "q_churn",
      (s, d) => {
        withStreamHead(s, d)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            (first(col("head_es")) - max(col("es"))).as("silent_s"))
          .withColumn("status", expr(
            """CASE WHEN silent_s > 604800 THEN 'churned'
              |     WHEN silent_s > 86400 THEN 'at_risk'
              |     ELSE 'active' END""".stripMargin))
          .groupBy("status")
          .agg(count(lit(1)).as("n_users"),
            sum(col("user_id") * 7).cast("bigint").as("user_checksum"),
            sum(col("n_events")).cast("bigint").as("n_events"))
          .orderBy("status")
      },
      Some(s"""WITH $duckStreamHead,
             |u AS (
             |  SELECT user_id, COUNT(*) AS n_events,
             |    MAX(head_es) - MAX(es) AS silent_s
             |  FROM ev, head GROUP BY user_id)
             |SELECT CASE WHEN silent_s > 604800 THEN 'churned'
             |            WHEN silent_s > 86400 THEN 'at_risk'
             |            ELSE 'active' END AS status,
             |  COUNT(*) AS n_users,
             |  CAST(SUM(user_id * 7) AS BIGINT) AS user_checksum,
             |  CAST(SUM(n_events) AS BIGINT) AS n_events
             |FROM u GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Item-item collaborative filtering: cosine similarity over the
    // binary customer×part interaction matrix — the memory-based
    // recommender that turns "customers who bought X" into a ranked
    // "also bought Y" list. Differs from q_assoc_rules in grain
    // (customer lifetime, not single basket) and statistic (cosine,
    // not confidence/lift). The quadratic pair term is PER CUSTOMER
    // and explicitly bounded: each customer contributes at most their
    // 64 smallest part keys (one user-keyed rank window — the
    // interaction-capping knob a production recommender turns, and
    // what makes the shape survive power users at 100 TB; heavy-key
    // salting is never needed because the join key IS the bounded
    // customer). Cosine = co / √(na·nb) is one float expression over
    // three exact BIGINT counts — sqrt and division are IEEE
    // correctly-rounded, so it is bit-equal cross-engine.
    QueryDef(
      "q_rec_itemcf",
      (s, d) => {
        // r13: the window-capped interaction relation feeds THREE
        // consumers (both pair-join sides + the support counts), and
        // un-memoized the heavy distinct→window chain planned once PER
        // CONSUMER (4× in the formatted plan; AQE stage reuse
        // recovered only half — the profile showed the lineitem scan
        // and distinct partial/final stages each running twice).
        // Memoizing the small capped relation (≤64 rows/customer, two
        // int columns) runs the chain once; the pair enumeration stays
        // the codegen'd self-join — the collect_list-array variant was
        // tried and REGRESSED in-sweep (7.5 → 12.2 s median at sf0.1:
        // ObjectHashAggregate costs more than the exchange it saves,
        // the same negative the assoc-rules pair-halving experiment
        // recorded in r12, `b36c70d`).
        import org.apache.spark.sql.expressions.Window
        val ui = graft.FrameCache.memo(s, s"itemcf-ui:$d") {
          val wCap = Window.partitionBy("o_custkey").orderBy("l_partkey")
          Tables.orders(s, d).select("o_orderkey", "o_custkey")
            .join(Tables.lineitem(s, d).select("l_orderkey", "l_partkey"),
              col("o_orderkey") === col("l_orderkey"))
            .select("o_custkey", "l_partkey").distinct()
            .withColumn("rn", row_number().over(wCap))
            .filter(col("rn") <= 64).drop("rn")
        }
        // na feeds BOTH support joins; un-memoized its agg chain
        // executed once per consumer (profiled: two identical stages)
        val na = graft.FrameCache.memo(s, s"itemcf-na:$d") {
          ui.groupBy("l_partkey").agg(count(lit(1)).as("n"))
        }
        ui.select(col("o_custkey"), col("l_partkey").as("a"))
          .join(ui.select(col("o_custkey").as("ck2"), col("l_partkey").as("b"))
            .hint("shuffle_hash"),
            col("o_custkey") === col("ck2") && col("a") < col("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("co"))
          .join(na.select(col("l_partkey").as("a"), col("n").as("na")), "a")
          .join(na.select(col("l_partkey").as("b"), col("n").as("nb")), "b")
          .selectExpr("a", "b", "co", "na", "nb",
            "CAST(co AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS cosine")
          .orderBy(col("cosine").desc, col("a"), col("b"))
          .limit(20)
      },
      Some("""WITH ui0 AS (
             |  SELECT DISTINCT o_custkey, l_partkey
             |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             |ui AS (
             |  SELECT o_custkey, l_partkey FROM (
             |    SELECT o_custkey, l_partkey,
             |      ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY l_partkey) AS rn
             |    FROM ui0) WHERE rn <= 64),
             |na AS (SELECT l_partkey, COUNT(*) AS n FROM ui GROUP BY 1),
             |co AS (
             |  SELECT x.l_partkey AS a, y.l_partkey AS b, COUNT(*) AS co
             |  FROM ui x JOIN ui y
             |    ON x.o_custkey = y.o_custkey AND x.l_partkey < y.l_partkey
             |  GROUP BY 1, 2)
             |SELECT a, b, co, sa.n AS na, sb.n AS nb,
             |  CAST(co AS DOUBLE) / sqrt(CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE)) AS cosine
             |FROM co JOIN na sa ON sa.l_partkey = a
             |        JOIN na sb ON sb.l_partkey = b
             |ORDER BY cosine DESC, a, b LIMIT 20""".stripMargin)),

    // Weekly stickiness: Σ(DAU)/(days·WAU) per ISO week — the
    // DAU/MAU engagement ratio at the week grain this 30-day fixture
    // supports (1.0 = every weekly user shows up every day). The only
    // heavy pass is the (day, user) distinct — one fact shuffle; the
    // weekly re-distinct reuses the same keyed layout (week is a
    // function of day), and the final ratio divides two exact BIGINTs
    // per ≤ 5 output rows.
    QueryDef(
      "q_stickiness",
      (s, d) => {
        val du = Tables.events(s, d)
          .select(to_date(col("ts")).as("dday"), col("user_id")).distinct()
        val dau = du.groupBy("dday").agg(count(lit(1)).as("dau"))
          .withColumn("week", date_trunc("week", col("dday")).cast("date"))
          .groupBy("week")
          .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("dau_sum"))
        val wau = du
          .select(date_trunc("week", col("dday")).cast("date").as("week"), col("user_id"))
          .distinct()
          .groupBy("week").agg(count(lit(1)).as("wau"))
        dau.join(wau, "week")
          .selectExpr("week", "n_days", "dau_sum", "wau",
            "CAST(dau_sum AS DOUBLE) / (n_days * wau) AS stickiness")
          .orderBy("week")
      },
      Some("""WITH du AS (
             |  SELECT DISTINCT CAST(ts AS DATE) AS dday, user_id FROM events),
             |dau AS (
             |  SELECT week, COUNT(*) AS n_days, CAST(SUM(dau) AS BIGINT) AS dau_sum
             |  FROM (
             |    SELECT dday, CAST(date_trunc('week', dday) AS DATE) AS week,
             |      COUNT(*) AS dau
             |    FROM du GROUP BY 1, 2)
             |  GROUP BY 1),
             |wau AS (
             |  SELECT week, COUNT(*) AS wau FROM (
             |    SELECT DISTINCT CAST(date_trunc('week', dday) AS DATE) AS week, user_id
             |    FROM du)
             |  GROUP BY 1)
             |SELECT dau.week, n_days, dau_sum, wau,
             |  CAST(dau_sum AS DOUBLE) / (n_days * wau) AS stickiness
             |FROM dau JOIN wau ON wau.week = dau.week
             |ORDER BY dau.week""".stripMargin)),

    // Conversion latency: signup → first purchase-after-signup per
    // user, rolled into the one-row report a growth team reads —
    // converted count, mean latency, and the <1h / <24h / slower
    // threshold buckets. Thresholds replace a global median because
    // they need NO global sort/window at any scale: everything is two
    // keyed aggs (per-user min signup, per-user min qualifying
    // purchase) + one global integer rollup. Latencies are exact
    // integer seconds; the mean is one float division.
    QueryDef(
      "q_funnel_time",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_type"), unix_timestamp(col("ts")).as("es"))
        val signup = ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min(col("es")).as("s_es"))
        ev.filter(col("event_type") === "purchase")
          .join(signup, "user_id")
          .filter(col("es") >= col("s_es"))
          .groupBy("user_id", "s_es").agg(min(col("es")).as("p_es"))
          .withColumn("delta", col("p_es") - col("s_es"))
          .agg(count(lit(1)).as("n_converted"),
            sum(col("delta")).as("sum_s"),
            max(col("delta")).as("max_s"),
            sum(when(col("delta") < 3600, 1L).otherwise(0L)).as("n_1h"),
            sum(when(col("delta") >= 3600 && col("delta") < 86400, 1L).otherwise(0L)).as("n_1d"),
            sum(when(col("delta") >= 86400, 1L).otherwise(0L)).as("n_slow"))
          .selectExpr("n_converted", "sum_s", "max_s", "n_1h", "n_1d", "n_slow",
            "CAST(sum_s AS DOUBLE) / n_converted AS avg_s")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_type, epoch_us(ts) // 1000000 AS es FROM events),
             |signup AS (
             |  SELECT user_id, MIN(es) AS s_es FROM ev
             |  WHERE event_type = 'signup' GROUP BY 1),
             |conv AS (
             |  SELECT p.user_id, MIN(p.es) - ANY_VALUE(s_es) AS delta
             |  FROM ev p JOIN signup s ON s.user_id = p.user_id
             |  WHERE p.event_type = 'purchase' AND p.es >= s_es
             |  GROUP BY p.user_id)
             |SELECT COUNT(*) AS n_converted,
             |  CAST(SUM(delta) AS BIGINT) AS sum_s,
             |  CAST(MAX(delta) AS BIGINT) AS max_s,
             |  CAST(SUM(CASE WHEN delta < 3600 THEN 1 ELSE 0 END) AS BIGINT) AS n_1h,
             |  CAST(SUM(CASE WHEN delta >= 3600 AND delta < 86400 THEN 1 ELSE 0 END) AS BIGINT) AS n_1d,
             |  CAST(SUM(CASE WHEN delta >= 86400 THEN 1 ELSE 0 END) AS BIGINT) AS n_slow,
             |  CAST(SUM(delta) AS DOUBLE) / COUNT(*) AS avg_s
             |FROM conv""".stripMargin)),

    // Welch two-sample t-test on a CONTINUOUS metric (mean order value,
    // BUILDING vs MACHINERY customers) — the unequal-variance
    // complement of q_ab_test's proportion z-test, i.e. the readout
    // for revenue-type experiment metrics. Prices are floor-quantized
    // to whole dollars so both moment sums stay exact BIGINTs (Σx² of
    // cents would overflow; dollars keep Σx² < 2⁶³ through ~10¹¹
    // rows); t and the Welch–Satterthwaite df are one shared float
    // expression tree over six exact integers. Two broadcast-dim fact
    // aggs — the scan dominates at any scale.
    QueryDef(
      "q_welch_ttest",
      (s, d) => {
        segOrders(s, d).groupBy("seg")
          .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
            sum(col("x") * col("x")).as("s2"))
          .agg(
            max(when(col("seg") === "BUILDING", col("n"))).as("n1"),
            max(when(col("seg") === "BUILDING", col("s1"))).as("a1"),
            max(when(col("seg") === "BUILDING", col("s2"))).as("q1"),
            max(when(col("seg") === "MACHINERY", col("n"))).as("n2"),
            max(when(col("seg") === "MACHINERY", col("s1"))).as("a2"),
            max(when(col("seg") === "MACHINERY", col("s2"))).as("q2"))
          .selectExpr("n1", "n2",
            "CAST(a1 AS DOUBLE) / n1 AS mean1", "CAST(a2 AS DOUBLE) / n2 AS mean2",
            """(CAST(n1 AS DOUBLE) * q1 - CAST(a1 AS DOUBLE) * a1)
              | / (CAST(n1 AS DOUBLE) * (n1 - 1)) AS v1""".stripMargin,
            """(CAST(n2 AS DOUBLE) * q2 - CAST(a2 AS DOUBLE) * a2)
              | / (CAST(n2 AS DOUBLE) * (n2 - 1)) AS v2""".stripMargin)
          .selectExpr("n1", "n2", "mean1", "mean2",
            "(mean1 - mean2) / sqrt(v1 / n1 + v2 / n2) AS t_stat",
            """(v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
              | / ((v1 / n1) * (v1 / n1) / (n1 - 1)
              |    + (v2 / n2) * (v2 / n2) / (n2 - 1)) AS df""".stripMargin)
      },
      Some(s"""WITH $duckSegOrders,
             |g AS (
             |  SELECT seg, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s1,
             |    CAST(SUM(x * x) AS BIGINT) AS s2
             |  FROM o GROUP BY 1),
             |w AS (
             |  SELECT
             |    MAX(CASE WHEN seg = 'BUILDING' THEN n END) AS n1,
             |    MAX(CASE WHEN seg = 'BUILDING' THEN s1 END) AS a1,
             |    MAX(CASE WHEN seg = 'BUILDING' THEN s2 END) AS q1,
             |    MAX(CASE WHEN seg = 'MACHINERY' THEN n END) AS n2,
             |    MAX(CASE WHEN seg = 'MACHINERY' THEN s1 END) AS a2,
             |    MAX(CASE WHEN seg = 'MACHINERY' THEN s2 END) AS q2
             |  FROM g),
             |v AS (
             |  SELECT n1, n2,
             |    CAST(a1 AS DOUBLE) / n1 AS mean1, CAST(a2 AS DOUBLE) / n2 AS mean2,
             |    (CAST(n1 AS DOUBLE) * q1 - CAST(a1 AS DOUBLE) * a1)
             |      / (CAST(n1 AS DOUBLE) * (n1 - 1)) AS v1,
             |    (CAST(n2 AS DOUBLE) * q2 - CAST(a2 AS DOUBLE) * a2)
             |      / (CAST(n2 AS DOUBLE) * (n2 - 1)) AS v2
             |  FROM w)
             |SELECT n1, n2, mean1, mean2,
             |  (mean1 - mean2) / sqrt(v1 / n1 + v2 / n2) AS t_stat,
             |  (v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
             |  / ((v1 / n1) * (v1 / n1) / (n1 - 1)
             |     + (v2 / n2) * (v2 / n2) / (n2 - 1)) AS df
             |FROM v""".stripMargin)),

    // Two-sample Kolmogorov–Smirnov: D = max |F₁(x) − F₂(x)| between
    // the BUILDING and MACHINERY order-value distributions (the
    // nonparametric "did the distribution shift" test Welch's t can't
    // answer — it sees shape, not just mean). Exactness: D's argmax is
    // found on the INTEGER surface |C₁·n₂ − C₂·n₁| (cross-multiplied
    // CDF gap — no float enters the comparison), with a min-x
    // tie-break; the single division happens once on the winning row.
    // Scale shape: the CDF is the memoized two-pass distributed prefix
    // sum ([[segValueCdf]] — range-partitioned local windows + a
    // per-partition offset frame, never a global single-task window),
    // and the argmax plans as TakeOrdered(1).
    QueryDef(
      "q_ks_test",
      (s, d) => {
        val cdf = segValueCdf(s, d)
        val tot = cdf.agg(max("cum1").as("n1"), max("cum2").as("n2"))
        cdf.crossJoin(broadcast(tot))
          .selectExpr("x", "n1", "n2",
            "abs(cum1 * n2 - cum2 * n1) AS d_numerator")
          .orderBy(col("d_numerator").desc, col("x"))
          .limit(1)
          .selectExpr("n1", "n2", "d_numerator",
            "CAST(d_numerator AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2) AS ks_d",
            "x AS at_x")
      },
      Some(s"""$duckSegCdf,
              |t AS (SELECT MAX(cum1) AS n1, MAX(cum2) AS n2 FROM c)
              |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
              |  CAST(abs(cum1 * n2 - cum2 * n1) AS BIGINT) AS d_numerator,
              |  CAST(abs(cum1 * n2 - cum2 * n1) AS DOUBLE)
              |    / (CAST(n1 AS DOUBLE) * n2) AS ks_d,
              |  x AS at_x
              |FROM c, t
              |ORDER BY abs(cum1 * n2 - cum2 * n1) DESC, x LIMIT 1""".stripMargin)),

    // Mann–Whitney U (rank-sum) on the same two samples: ranks never
    // materialize per row — with values grouped, sample 1's doubled
    // rank sum is 2R₁ = Σ c₁·(2·C_prev + t + 1) (avg tied rank
    // C_prev + (t+1)/2, doubled to stay integral), so the whole test
    // reduces to exact BIGINT sums over the SAME memoized CDF relation
    // as q_ks_test plus the tie-correction Σ(t³−t). U₁, µ_U and the
    // tie-corrected σ combine into z as one shared float expression
    // over seven exact integers (the 100 TB variant promotes the
    // moment columns to DECIMAL(38,0), as q_gini_nation documents).
    QueryDef(
      "q_mannwhitney",
      (s, d) => segValueCdf(s, d)
        .agg(max("cum1").as("n1"), max("cum2").as("n2"),
          sum(expr("c1 * (2 * (cum1 + cum2 - c1 - c2) + (c1 + c2) + 1)")).as("r1x2"),
          sum(expr("(c1 + c2) * (c1 + c2) * (c1 + c2) - (c1 + c2)")).as("tie_t"))
        .selectExpr("n1", "n2", "tie_t",
          "r1x2 - n1 * (n1 + 1) AS u1x2")
        .selectExpr("n1", "n2", "CAST(u1x2 AS DOUBLE) / 2 AS u1",
          mwZ),
      Some(s"""$duckSegCdf,
              |m AS (
              |  SELECT CAST(MAX(cum1) AS BIGINT) AS n1, CAST(MAX(cum2) AS BIGINT) AS n2,
              |    CAST(SUM(c1 * (2 * (cum1 + cum2 - c1 - c2) + (c1 + c2) + 1)) AS BIGINT) AS r1x2,
              |    CAST(SUM((c1 + c2) * (c1 + c2) * (c1 + c2) - (c1 + c2)) AS BIGINT) AS tie_t
              |  FROM c),
              |u AS (SELECT n1, n2, tie_t, r1x2 - n1 * (n1 + 1) AS u1x2 FROM m)
              |SELECT n1, n2, CAST(u1x2 AS DOUBLE) / 2 AS u1,
              |  $mwZ
              |FROM u""".stripMargin)),

    // Right-censored survival analysis (Nelson–Aalen cumulative hazard)
    // over user lifetimes: duration = days between a user's first and
    // last event; the "death" is observed churn (> 7 days silent vs the
    // stream head — the q_churn threshold), otherwise the lifetime is
    // CENSORED (still active at observation end) and leaves the risk
    // set without contributing a hazard step — the distinction naive
    // "avg lifetime" metrics get wrong. Life table per distinct
    // duration t: at-risk n(t) (everyone with duration >= t), events
    // d(t), censored c(t), hazard d/n, and H(t) = Σ_{s<=t} d(s)/n(s).
    // Float discipline: each hazard step is ONE exact division rounded
    // to nano-units (BIGINT); the cumulative sum then runs over exact
    // integers, so window-aggregation order (DuckDB's segment tree vs
    // Spark's serial frame) cannot perturb a bit. Scale shape: one
    // user-keyed agg (events never move twice), then the life table is
    // bounded by the DAY domain of the stream span — the windows run
    // over that bounded relation, never per-user data.
    QueryDef(
      "q_survival",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val life = withStreamHead(s, d)
          .groupBy("user_id")
          .agg(min(col("es")).as("first_es"), max(col("es")).as("last_es"),
            first(col("head_es")).as("head_es"))
          .selectExpr("CAST((last_es - first_es) DIV 86400 AS BIGINT) AS t_days",
            "CASE WHEN head_es - last_es > 604800 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS ev")
        // day-domain life table, materialized once so the scalar total
        // does not re-run the user-keyed agg
        val byT = life.groupBy("t_days")
          .agg(sum(col("ev")).as("d_events"),
            sum(lit(1L) - col("ev")).as("c_censored"))
          .localCheckpoint(true)
        val tot = byT.agg(sum(col("d_events") + col("c_censored")).as("n_total"))
        val wPrev = Window.orderBy("t_days")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wCum = Window.orderBy("t_days")
          .rowsBetween(Window.unboundedPreceding, 0)
        byT.crossJoin(broadcast(tot))
          .withColumn("n_risk", col("n_total") - coalesce(
            sum(col("d_events") + col("c_censored")).over(wPrev), lit(0L)))
          .withColumn("step_nano", expr(
            "CAST(round(CAST(d_events AS DOUBLE) * 1e9 / n_risk) AS BIGINT)"))
          .withColumn("cum_nano", sum(col("step_nano")).over(wCum))
          .selectExpr("t_days", "n_risk", "d_events", "c_censored",
            "CAST(d_events AS DOUBLE) / n_risk AS hazard",
            "CAST(cum_nano AS DOUBLE) / 1e9 AS cum_hazard")
          .orderBy("t_days")
      },
      Some(s"""WITH $duckStreamHead,
             |life AS (
             |  SELECT (MAX(es) - MIN(es)) // 86400 AS t_days,
             |    CASE WHEN MAX(head_es) - MAX(es) > 604800 THEN 1 ELSE 0 END AS ev
             |  FROM ev, head GROUP BY user_id),
             |byt AS (
             |  SELECT t_days, CAST(SUM(ev) AS BIGINT) AS d_events,
             |    CAST(SUM(1 - ev) AS BIGINT) AS c_censored
             |  FROM life GROUP BY 1),
             |tot AS (SELECT CAST(SUM(d_events + c_censored) AS BIGINT) AS n_total FROM byt),
             |risk AS (
             |  SELECT t_days, d_events, c_censored,
             |    n_total - COALESCE(SUM(d_events + c_censored) OVER (ORDER BY t_days
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
             |  FROM byt, tot),
             |haz AS (
             |  SELECT t_days, n_risk, d_events, c_censored,
             |    CAST(round(CAST(d_events AS DOUBLE) * 1e9 / n_risk) AS BIGINT) AS step_nano
             |  FROM risk)
             |SELECT t_days, CAST(n_risk AS BIGINT) AS n_risk, d_events, c_censored,
             |  CAST(d_events AS DOUBLE) / n_risk AS hazard,
             |  CAST(CAST(SUM(step_nano) OVER (ORDER BY t_days
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS DOUBLE)
             |    / 1e9 AS cum_hazard
             |FROM haz ORDER BY t_days""".stripMargin)),

    // First-order Markov next-event prediction, trained and scored in
    // one relational pass: the predictor for each from-state is the
    // argmax transition (max count, lexicographic to-state tie-break —
    // deterministic), and its in-sample hit rate is Σ n(from, argmax)
    // / Σ n(from, ·) — the "how predictable is the event stream"
    // ceiling a sequence model must beat. The per-from ranking window
    // runs over the ≤ |types|² transition-count relation (bounded by
    // the type vocabulary, not the stream), so the only full-data pass
    // is the lead() pair extraction q_event_transitions also pays.
    QueryDef(
      "q_markov_acc",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val pairs = transitionCounts(s, d)
        val wP = Window.partitionBy("from_type")
          .orderBy(col("n").desc, col("to_type"))
        val pred = pairs.withColumn("rn", row_number().over(wP))
          .filter(col("rn") === 1)
          .select(col("from_type"), col("to_type").as("pred_type"),
            col("n").as("n_hit"))
        pairs.groupBy("from_type").agg(sum(col("n")).as("n_total"))
          .join(pred, "from_type")
          .selectExpr("from_type", "pred_type", "n_hit", "n_total",
            "CAST(n_hit AS DOUBLE) / n_total AS hit_rate")
          .orderBy("from_type")
      },
      Some(s"""WITH $duckTransitionCtes,
              |p AS (
              |  SELECT from_type, to_type AS pred_type, n AS n_hit,
              |    ROW_NUMBER() OVER (PARTITION BY from_type
              |      ORDER BY n DESC, to_type) AS rn
              |  FROM c),
              |t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_total
              |  FROM c GROUP BY 1)
              |SELECT from_type, pred_type, CAST(n_hit AS BIGINT) AS n_hit,
              |  n_total, CAST(n_hit AS DOUBLE) / n_total AS hit_rate
              |FROM p JOIN t USING (from_type) WHERE rn = 1
              |ORDER BY from_type""".stripMargin)),

    // Mix-shift decomposition — "did the average move because segments
    // changed, or because the customer mix changed?" The Oaxaca-style
    // split every metrics review reaches for when a topline shifts:
    // Δavg = Σ_g share_cur·(rate_cur − rate_ref)   (rate effect)
    //      + Σ_g (share_cur − share_ref)·rate_ref  (mix effect).
    // Rates and shares are micro-quantized BIGINTs (exact decimal sums
    // → one round() each), so every effect term is an EXACT integer
    // product (≤1e6·1e12 < 2⁶³) both engines reproduce bit-for-bit —
    // no double accumulation anywhere. Scale shape: one broadcast dim
    // join + one (segment, period) aggregate; the pivot-to-effects step
    // runs over |segments| rows.
    QueryDef(
      "q_mix_decompose",
      (s, d) => {
        val o = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"))
          .selectExpr("c_mktsegment AS seg",
            "CASE WHEN year(o_orderdate) <= 1995 THEN 1 ELSE 0 END AS ref",
            "CAST(o_totalprice AS DECIMAL(18,2)) AS v")
        val g = o.groupBy("seg")
          .agg(sum(col("ref")).cast("bigint").as("n_ref"),
            sum(lit(1) - col("ref")).cast("bigint").as("n_cur"),
            sum(when(col("ref") === 1, col("v"))).cast("double").as("s_ref"),
            sum(when(col("ref") === 0, col("v"))).cast("double").as("s_cur"))
        val tot = g.agg(sum(col("n_ref")).cast("bigint").as("t_ref"),
          sum(col("n_cur")).cast("bigint").as("t_cur"))
        g.crossJoin(broadcast(tot))
          .selectExpr("seg", "n_ref", "n_cur",
            "CAST(round(s_ref / n_ref * 1000000.0) AS BIGINT) AS rate_ref_micro",
            "CAST(round(s_cur / n_cur * 1000000.0) AS BIGINT) AS rate_cur_micro",
            "CAST(round(CAST(n_ref AS DOUBLE) / t_ref * 1000000.0) AS BIGINT) AS share_ref_micro",
            "CAST(round(CAST(n_cur AS DOUBLE) / t_cur * 1000000.0) AS BIGINT) AS share_cur_micro")
          .selectExpr("seg", "n_ref", "n_cur",
            "rate_ref_micro", "rate_cur_micro",
            "share_ref_micro", "share_cur_micro",
            "share_cur_micro * (rate_cur_micro - rate_ref_micro) AS rate_effect_p",
            "(share_cur_micro - share_ref_micro) * rate_ref_micro AS mix_effect_p")
          .orderBy("seg")
      },
      Some("""WITH o AS (
             |  SELECT c_mktsegment AS seg,
             |    CASE WHEN year(o_orderdate) <= 1995 THEN 1 ELSE 0 END AS ref,
             |    CAST(o_totalprice AS DECIMAL(18,2)) AS v
             |  FROM orders JOIN customer ON o_custkey = c_custkey),
             |g AS (
             |  SELECT seg, CAST(SUM(ref) AS BIGINT) AS n_ref,
             |    CAST(SUM(1 - ref) AS BIGINT) AS n_cur,
             |    CAST(SUM(CASE WHEN ref = 1 THEN v END) AS DOUBLE) AS s_ref,
             |    CAST(SUM(CASE WHEN ref = 0 THEN v END) AS DOUBLE) AS s_cur
             |  FROM o GROUP BY 1),
             |tot AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref,
             |    CAST(SUM(n_cur) AS BIGINT) AS t_cur FROM g),
             |q AS (
             |  SELECT seg, n_ref, n_cur,
             |    CAST(round(s_ref / n_ref * 1000000.0) AS BIGINT) AS rate_ref_micro,
             |    CAST(round(s_cur / n_cur * 1000000.0) AS BIGINT) AS rate_cur_micro,
             |    CAST(round(CAST(n_ref AS DOUBLE) / t_ref * 1000000.0) AS BIGINT) AS share_ref_micro,
             |    CAST(round(CAST(n_cur AS DOUBLE) / t_cur * 1000000.0) AS BIGINT) AS share_cur_micro
             |  FROM g, tot)
             |SELECT seg, n_ref, n_cur, rate_ref_micro, rate_cur_micro,
             |  share_ref_micro, share_cur_micro,
             |  share_cur_micro * (rate_cur_micro - rate_ref_micro) AS rate_effect_p,
             |  (share_cur_micro - share_ref_micro) * rate_ref_micro AS mix_effect_p
             |FROM q ORDER BY seg""".stripMargin))
  )

  /** z for q_mannwhitney — ONE expression string shared verbatim by
    * both engines so the float combination of the exact integers is
    * bit-identical. NULL on the degenerate no-spread case. */
  private lazy val mwZ: String =
    """CASE WHEN n1 > 0 AND n2 > 0 AND
      |  ((CAST(n1 AS DOUBLE) + n2 + 1) - CAST(tie_t AS DOUBLE)
      |    / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))) > CAST(0 AS DOUBLE)
      |THEN (CAST(u1x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * n2)
      |  / (2 * sqrt((CAST(n1 AS DOUBLE) * n2 / 12)
      |     * ((CAST(n1 AS DOUBLE) + n2 + 1) - CAST(tie_t AS DOUBLE)
      |        / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))))
      |END AS z_stat""".stripMargin

  /** Value-grouped two-sample CDF over BUILDING vs MACHINERY order
    * totals (integer dollars): one row per distinct value x with
    * per-sample counts (c1, c2) and inclusive cumulative counts
    * (cum1, cum2). The global cumulative sum is the two-pass
    * distributed shape ([[PrefixSums.cumulate]]), so no window ever
    * runs unpartitioned over the value domain. Memoized: q_ks_test and
    * q_mannwhitney both consume it. */
  private def segValueCdf(s: org.apache.spark.sql.SparkSession,
                          d: String): org.apache.spark.sql.DataFrame =
    graft.FrameCache.memo(s, s"segcdf:$d") {
      val g = segOrders(s, d)
        .selectExpr("x",
          "CASE WHEN seg = 'BUILDING' THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS is1")
        .groupBy("x")
        .agg(sum(col("is1")).as("c1"),
          sum(lit(1L) - col("is1")).as("c2"))
      PrefixSums.cumulate(g, "x", Seq("c1", "c2"))
        .selectExpr("x", "c1", "c2", "cum_c1 AS cum1", "cum_c2 AS cum2")
    }

  /** DuckDB CTE prefix shared by q_ks_test / q_mannwhitney: the same
    * value-grouped two-sample CDF (plain window cumsum — the oracle
    * runs at sf0.01 where a serial window is fine). */
  private lazy val duckSegCdf: String =
    s"""WITH $duckSegOrders,
      |g AS (
      |  SELECT x, CAST(SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(SUM(CASE WHEN seg = 'BUILDING' THEN 0 ELSE 1 END) AS BIGINT) AS c2
      |  FROM o GROUP BY 1),
      |c AS (
      |  SELECT x, c1, c2,
      |    CAST(SUM(c1) OVER (ORDER BY x) AS BIGINT) AS cum1,
      |    CAST(SUM(c2) OVER (ORDER BY x) AS BIGINT) AS cum2
      |  FROM g)""".stripMargin

  /** BUILDING and MACHINERY customers' orders as (seg, x), x the order
    * total floored to whole dollars: the two samples of q_welch_ttest,
    * q_ks_test and q_mannwhitney. The customer side is filtered to the
    * two segments and broadcast. */
  private def segOrders(s: org.apache.spark.sql.SparkSession,
                        d: String): org.apache.spark.sql.DataFrame =
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .selectExpr("c_mktsegment AS seg", "CAST(floor(o_totalprice) AS BIGINT) AS x")

  /** DuckDB twin of [[segOrders]]: the CTE `o`. */
  private lazy val duckSegOrders: String =
    """o AS (
      |  SELECT c_mktsegment AS seg, CAST(floor(o_totalprice) AS BIGINT) AS x
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY'))""".stripMargin

  /** First-order transition counts of each user's event stream
    * (ordered by ts, ties broken by event_id so the sequence is total):
    * (from_type, to_type, n). One per-user `lead()` window, then a
    * keyed aggregate bounded by |types|². */
  private def transitionCounts(s: org.apache.spark.sql.SparkSession,
                               d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** DuckDB twin of [[transitionCounts]]: the CTEs `seq` and `c`. */
  private lazy val duckTransitionCtes: String =
    """seq AS (
      |  SELECT event_type,
      |    LEAD(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |c AS (SELECT event_type AS from_type, next_type AS to_type,
      |    COUNT(*) AS n
      |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)""".stripMargin

  /** Every event as (user_id, es) in epoch seconds, with the stream
    * head `head_es` (the latest es) attached from a broadcast one-row
    * aggregate: the frame q_churn and q_survival measure silence
    * against. */
  private def withStreamHead(s: org.apache.spark.sql.SparkSession,
                             d: String): org.apache.spark.sql.DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"))
    ev.crossJoin(broadcast(ev.agg(max(col("es")).as("head_es"))))
  }

  /** DuckDB twin of [[withStreamHead]]: the CTEs `ev` and `head`. */
  private lazy val duckStreamHead: String =
    """ev AS (SELECT user_id, epoch_us(ts) // 1000000 AS es FROM events),
      |head AS (SELECT MAX(es) AS head_es FROM ev)""".stripMargin
}
