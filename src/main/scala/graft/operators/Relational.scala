package graft.operators

import graft.{QueryDef, Tables, Parity}
import org.apache.spark.sql.functions._

/** Scans, filters, projections, sorts/limits and set operations.
  *
  * The reference has projections only (SURVEY.md §2.1 P1–P5, e.g.
  * `pyspark_scripts/temReadFromTopic.py:81-83`) and no filter/sort/set op
  * anywhere; this module declares the engine surface for those categories
  * (SURVEY.md §2.2). Everything is plain `Dataset` API so Catalyst pushes
  * predicates/projections into the parquet scan — at 100 TB the filters
  * below become `PushedFilters` + `ReadSchema` pruning on the scan node,
  * no custom work needed.
  */
object Relational {

  val defs: Seq[QueryDef] = Seq(

    // -- scans ------------------------------------------------------------
    QueryDef(
      "q_scan_parquet",
      (s, d) => Tables.lineitem(s, d).agg(count(lit(1)).as("n")),
      Some("SELECT COUNT(*) AS n FROM lineitem")),

    // Multi-table scan sanity: one row per table with its cardinality.
    QueryDef(
      "q_scan_tables",
      (s, d) => {
        val counts = Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events")
          .map(t => Tables.table(s, d, t).agg(lit(t).as("tbl"), count(lit(1)).as("n")))
        counts.reduce(_ unionAll _).orderBy("tbl")
      },
      Some("""SELECT tbl, n FROM (
             |  SELECT 'region' AS tbl, COUNT(*) AS n FROM region UNION ALL
             |  SELECT 'nation', COUNT(*) FROM nation UNION ALL
             |  SELECT 'customer', COUNT(*) FROM customer UNION ALL
             |  SELECT 'supplier', COUNT(*) FROM supplier UNION ALL
             |  SELECT 'part', COUNT(*) FROM part UNION ALL
             |  SELECT 'orders', COUNT(*) FROM orders UNION ALL
             |  SELECT 'lineitem', COUNT(*) FROM lineitem UNION ALL
             |  SELECT 'events', COUNT(*) FROM events
             |) ORDER BY tbl""".stripMargin),
      headline = false),

    // -- filters ----------------------------------------------------------
    QueryDef(
      "q_filter_basic",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_quantity").between(30, 40) && col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
             |FROM lineitem
             |WHERE l_quantity BETWEEN 30 AND 40 AND l_returnflag = 'R'
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    QueryDef(
      "q_filter_between",
      (s, d) => Tables.orders(s, d)
        .filter(col("o_orderdate").between(lit("1996-01-01").cast("timestamp"),
          lit("1996-12-31").cast("timestamp")))
        .agg(count(lit(1)).as("n"), Parity.dsum(col("o_totalprice"), 2).as("sum_price")),
      Some(s"""SELECT COUNT(*) AS n, ${Parity.sqlDsum("o_totalprice", 2)} AS sum_price
              |FROM orders
              |WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'""".stripMargin),
      headline = false),

    QueryDef(
      "q_filter_in_like",
      (s, d) => Tables.part(s, d)
        .filter(col("p_brand").isin("Brand#1", "Brand#2") || col("p_name").like("%widget%"))
        .select("p_partkey", "p_name", "p_brand", "p_type")
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, p_name, p_brand, p_type FROM part
             |WHERE p_brand IN ('Brand#1','Brand#2') OR p_name LIKE '%widget%'
             |ORDER BY p_partkey""".stripMargin),
      headline = false),

    QueryDef(
      "q_filter_null",
      (s, d) => Tables.lineitem(s, d)
        .select(when(col("l_linestatus") === "F", lit(null).cast("string"))
          .otherwise(col("l_linestatus")).as("st"))
        .agg(count(lit(1)).as("n_total"), count(col("st")).as("n_nonnull"),
          sum(when(col("st").isNull, 1L).otherwise(0L)).as("n_null")),
      Some("""SELECT COUNT(*) AS n_total, COUNT(st) AS n_nonnull,
             |       CAST(SUM(CASE WHEN st IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
             |FROM (SELECT NULLIF(l_linestatus, 'F') AS st FROM lineitem)""".stripMargin),
      headline = false),

    // -- projections --------------------------------------------------------
    QueryDef(
      "q_project_expr",
      (s, d) => Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("disc_price"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax"))).as("charge"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |       l_extendedprice * (1.0 - l_discount) AS disc_price,
             |       l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charge
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    QueryDef(
      "q_project_case",
      (s, d) => Tables.lineitem(s, d)
        .select(when(col("l_quantity") < 10, "low")
          .when(col("l_quantity") < 30, "mid")
          .otherwise("high").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket"),
      Some("""SELECT CASE WHEN l_quantity < 10 THEN 'low'
             |            WHEN l_quantity < 30 THEN 'mid'
             |            ELSE 'high' END AS bucket, COUNT(*) AS n
             |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin),
      headline = false),

    // -- sorts / limits / top-k -------------------------------------------
    // Catalyst plans orderBy+limit as TakeOrderedAndProject: per-partition
    // top-k then a k-row merge on the driver — O(k) network at any scale.
    QueryDef(
      "q_sort_limit",
      (s, d) => Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
        .limit(100),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
             |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin)),

    QueryDef(
      "q_topk",
      (s, d) => Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10),
      Some("""SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // -- subqueries (Catalyst decorrelates both into joins) ----------------
    QueryDef(
      "q_subquery_scalar",
      (s, d) => {
        // per-call unique view names: fixed names race when queries run
        // concurrently in one session
        val id = java.util.UUID.randomUUID().toString.replace("-", "")
        Tables.orders(s, d).createOrReplaceTempView(s"orders_$id")
        Tables.lineitem(s, d).createOrReplaceTempView(s"lineitem_$id")
        s.sql(s"""
          |SELECT o_orderkey,
          |  (SELECT COUNT(*) FROM lineitem_$id WHERE l_orderkey = o_orderkey) AS n_items
          |FROM orders_$id
          |WHERE o_totalprice > 450000
          |ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey,
             |  (SELECT COUNT(*) FROM lineitem WHERE l_orderkey = o_orderkey) AS n_items
             |FROM orders WHERE o_totalprice > 450000
             |ORDER BY o_orderkey""".stripMargin),
      headline = false),

    QueryDef(
      "q_subquery_in",
      (s, d) => {
        val id = java.util.UUID.randomUUID().toString.replace("-", "")
        Tables.orders(s, d).createOrReplaceTempView(s"orders_$id")
        Tables.lineitem(s, d).createOrReplaceTempView(s"lineitem_$id")
        s.sql(s"""
          |SELECT o_orderkey, o_totalprice FROM orders_$id
          |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem_$id WHERE l_quantity = 50)
          |  AND o_orderpriority = '1-URGENT'
          |ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity = 50)
             |  AND o_orderpriority = '1-URGENT'
             |ORDER BY o_orderkey""".stripMargin),
      headline = false),

    // -- set operations ----------------------------------------------------
    // Spark `union` is SQL UNION ALL (positional); output is aggregated so
    // the multiset compare is order-free.
    QueryDef(
      "q_union_all",
      (s, d) => Tables.customer(s, d).filter(col("c_acctbal") > 9500)
        .select(col("c_nationkey").as("nk"))
        .unionAll(Tables.supplier(s, d).select(col("s_nationkey").as("nk")))
        .groupBy("nk").agg(count(lit(1)).as("n"))
        .orderBy("nk"),
      Some("""SELECT nk, COUNT(*) AS n FROM (
             |  SELECT c_nationkey AS nk FROM customer WHERE c_acctbal > 9500
             |  UNION ALL
             |  SELECT s_nationkey FROM supplier
             |) GROUP BY nk ORDER BY nk""".stripMargin)),

    QueryDef(
      "q_union_distinct",
      (s, d) => Tables.customer(s, d).filter(col("c_acctbal") > 9500)
        .select(col("c_nationkey").as("nk"))
        .union(Tables.supplier(s, d).filter(col("s_acctbal") > 5000)
          .select(col("s_nationkey").as("nk")))
        .distinct()
        .orderBy("nk"),
      Some("""SELECT c_nationkey AS nk FROM customer WHERE c_acctbal > 9500
             |UNION
             |SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000
             |ORDER BY nk""".stripMargin),
      headline = false),

    QueryDef(
      "q_intersect",
      (s, d) => Tables.customer(s, d).filter(col("c_acctbal") > 9000)
        .select(col("c_nationkey").as("nk"))
        .intersect(Tables.supplier(s, d).filter(col("s_acctbal") > 0)
          .select(col("s_nationkey").as("nk")))
        .orderBy("nk"),
      Some("""SELECT c_nationkey AS nk FROM customer WHERE c_acctbal > 9000
             |INTERSECT
             |SELECT s_nationkey FROM supplier WHERE s_acctbal > 0
             |ORDER BY nk""".stripMargin),
      headline = false),

    QueryDef(
      "q_except",
      (s, d) => Tables.nation(s, d).select(col("n_nationkey").as("nk"))
        .except(Tables.supplier(s, d).filter(col("s_acctbal") > 5000)
          .select(col("s_nationkey").as("nk")))
        .orderBy("nk"),
      Some("""SELECT n_nationkey AS nk FROM nation
             |EXCEPT
             |SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000
             |ORDER BY nk""".stripMargin),
      headline = false),

    // -- reshaping --------------------------------------------------------
    // Wide → long (unpivot/melt): the layout step feeding per-measure
    // pipelines. Spark's native unpivot is a stateless per-row expansion
    // (an Expand node — no shuffle); the oracle spells the same relation
    // as a UNION ALL.
    QueryDef(
      "q_unpivot",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 200)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
          "measure", "val")
        .orderBy("l_orderkey", "l_linenumber", "measure"),
      Some("""SELECT l_orderkey, l_linenumber, m AS measure, v AS val FROM (
             |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS m, l_quantity AS v
             |  FROM lineitem WHERE l_orderkey < 200
             |  UNION ALL
             |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
             |  FROM lineitem WHERE l_orderkey < 200
             |  UNION ALL
             |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
             |  FROM lineitem WHERE l_orderkey < 200
             |  UNION ALL
             |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
             |  FROM lineitem WHERE l_orderkey < 200)
             |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin),
      headline = false),

    // -- preference queries -----------------------------------------------
    // 2-D skyline (Pareto frontier): parts no other part dominates
    // (cheaper-or-equal price AND larger-or-equal size, strict in at
    // least one). The textbook operator is an O(n²) dominance anti-join
    // — the oracle below spells exactly that — but in 2-D the frontier
    // has a sort-based O(n log n) form: a part is on the frontier iff
    // its size equals its price-group max AND strictly exceeds the
    // running max size over all strictly-cheaper groups. The running
    // max uses the same two-pass trick as the q_text_pack cumsum
    // (range-partition → per-partition window → bounded per-partition
    // prefix, broadcast back), so no window ever runs unpartitioned
    // over the full relation: at 100 TB the only global window covers
    // one row per range partition, bounded by cluster size.
    //
    // CONTRACT: this sort/prefix-max formulation is 2-D-SPECIFIC — with
    // a third criterion, "dominated by the running best so far in sort
    // order" no longer coincides with "dominated by anything" (the
    // prefix max collapses the remaining dims to one scalar). The d ≥ 3
    // case is q_skyline_3d below, which uses the general cell-grid
    // prune instead (round-9 verdict, item 6).
    QueryDef(
      "q_skyline",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val p = Tables.part(s, d).select("p_partkey", "p_retailprice", "p_size")
        // Same-price strict-size domination collapses to the group max;
        // this also shrinks the frontier scan to |distinct prices|.
        // localCheckpoint pins one physical layout for the same reason
        // distributedCumsumPack does: repartitionByRange SAMPLES its
        // boundaries, and both downstream branches must agree on pid.
        val g = p.groupBy("p_retailprice").agg(max("p_size").as("gmax"))
          .repartitionByRange(8, col("p_retailprice"))
          .withColumn("pid", spark_partition_id())
          .localCheckpoint(true)
        val wLocal = Window.partitionBy("pid").orderBy("p_retailprice")
          .rowsBetween(Window.unboundedPreceding, -1)
        val local = g.withColumn("local_prev", max(col("gmax")).over(wLocal))
        // Exclusive prefix max over per-partition maxes: `pid` rows.
        val wPrefix = Window.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = g.groupBy("pid").agg(max("gmax").as("pmax"))
          .withColumn("poffset", max(col("pmax")).over(wPrefix))
          .select("pid", "poffset")
        // greatest() skips nulls, so prevmax is null only for the very
        // first price group — which is on the frontier by definition.
        val front = local.join(broadcast(offsets), "pid")
          .withColumn("prevmax", greatest(col("local_prev"), col("poffset")))
          .select("p_retailprice", "gmax", "prevmax")
        p.join(front, Seq("p_retailprice"))
          .filter(col("p_size") === col("gmax")
            && (col("prevmax").isNull || col("prevmax") < col("p_size")))
          .select("p_partkey", "p_retailprice", "p_size")
          .orderBy("p_retailprice", "p_partkey")
      },
      Some("""SELECT p_partkey, p_retailprice, p_size FROM part p
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM part q
             |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
             |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
             |ORDER BY p_retailprice, p_partkey""".stripMargin)),

    // d-dimensional skyline (d = 3 here: minimize price, maximize size,
    // maximize name length) via the standard distributed CELL-GRID
    // prune — the 2-D prefix-max trick above does not generalize, and a
    // naive dominance test is an O(n²) cross join. Shape:
    //  1. orient every criterion as MINIMIZE (negate the max dims) and
    //     bin each into g fixed-width cells from the global min/max
    //     (one tiny extrema agg, broadcast back — a stateless per-row
    //     bin assignment, no shuffle);
    //  2. cell-level prune on the ≤ g^d non-empty cells: a cell all of
    //     whose bins are STRICTLY worse than some other non-empty
    //     cell's is dead — every point of the better cell dominates
    //     every point of it. Because strict cell-dominance is a strict
    //     partial order, dominance chains terminate in a live cell, so
    //     restricting BOTH candidate and dominator sides to live cells
    //     loses no dominator (transitivity);
    //  3. exact dominance anti-join over the surviving sliver only,
    //     banded by the cell coordinates (a dominator's bins are ≤ the
    //     candidate's in every dim — monotone binning), so each
    //     candidate compares against a corner of the grid, not the
    //     relation.
    // At 100 TB steps 1–2 are one scan + one ≤ g^d-row broadcast; the
    // anti-join touches only frontier-adjacent cells (skylines are
    // vanishingly small in practice — g grows with n to keep the
    // sliver bounded). Oracle = the O(n²) NOT EXISTS dominance twin.
    QueryDef(
      "q_skyline_3d",
      (s, d) => {
        val pts = Tables.part(s, d).select(
          col("p_partkey"), col("p_retailprice"), col("p_size"),
          length(col("p_name")).as("name_len"),
          col("p_retailprice").as("d1"),
          (-col("p_size")).cast("double").as("d2"),
          (-length(col("p_name"))).cast("double").as("d3"))
        cellGridSkyline3d(pts, g = 8)
          .select("p_partkey", "p_retailprice", "p_size", "name_len")
          .orderBy("p_partkey")
      },
      Some("""SELECT p_partkey, p_retailprice, p_size,
             |       LENGTH(p_name) AS name_len
             |FROM part p
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM part q
             |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
             |    AND LENGTH(q.p_name) >= LENGTH(p.p_name)
             |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size
             |         OR LENGTH(q.p_name) > LENGTH(p.p_name)))
             |ORDER BY p_partkey""".stripMargin))
  )

  /** Cell-grid 3-D skyline over a frame carrying minimize-oriented
    * criterion columns `d1, d2, d3` (negate a maximize criterion before
    * calling) plus any payload columns, which pass through unchanged
    * for skyline rows. `g` is the per-dimension grid granularity — the
    * RESULT is g-invariant (the grid only prunes, the final anti-join
    * is exact; SkylineSpec pins this), only the pruned sliver's size
    * varies. See q_skyline_3d's header comment for the full shape and
    * the live-cell transitivity argument.
    */
  def cellGridSkyline3d(pts: org.apache.spark.sql.DataFrame, g: Int): org.apache.spark.sql.DataFrame = {
    val ext = pts.agg(
      min("d1").as("lo1"), max("d1").as("hi1"),
      min("d2").as("lo2"), max("d2").as("hi2"),
      min("d3").as("lo3"), max("d3").as("hi3"))
    def bin(v: String, lo: String, hi: String) =
      least(lit(g - 1),
        floor((col(v) - col(lo)) / (col(hi) - col(lo) + lit(1e-9)) * g))
        .cast("int")
    val binned = pts.crossJoin(broadcast(ext))
      .withColumn("c1", bin("d1", "lo1", "hi1"))
      .withColumn("c2", bin("d2", "lo2", "hi2"))
      .withColumn("c3", bin("d3", "lo3", "hi3"))
      .drop("lo1", "hi1", "lo2", "hi2", "lo3", "hi3")
    val occ = binned.groupBy("c1", "c2", "c3").agg(count(lit(1)).as("n"))
    val dominators = occ.select(
      col("c1").as("o1"), col("c2").as("o2"), col("c3").as("o3"))
    val alive = occ.join(broadcast(dominators),
        col("o1") < col("c1") && col("o2") < col("c2") && col("o3") < col("c3"),
        "left_anti")
      .select("c1", "c2", "c3")
    val cand = binned.join(broadcast(alive), Seq("c1", "c2", "c3"))
    val dom = cand.select(
      col("d1").as("q1"), col("d2").as("q2"), col("d3").as("q3"),
      col("c1").as("b1"), col("c2").as("b2"), col("c3").as("b3"))
    cand.join(broadcast(dom),
        col("b1") <= col("c1") && col("b2") <= col("c2") && col("b3") <= col("c3") &&
          col("q1") <= col("d1") && col("q2") <= col("d2") && col("q3") <= col("d3") &&
          (col("q1") < col("d1") || col("q2") < col("d2") || col("q3") < col("d3")),
        "left_anti")
      .drop("c1", "c2", "c3")
  }
}
