package graft.operators

import graft.{QueryDef, Tables, Parity}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Vertical aggregation surface (SURVEY.md §2.2 "Aggregations").
  *
  * The reference has no groupBy anywhere — its only "aggregate" is the
  * horizontal per-row mean `Tem(Avg)` (`temReadFromTopic.py:78-79`) and a
  * `count()` action (`04_temincrementaltem.py:80`). This module declares
  * the engine's vertical-aggregation operators. All of them compile to
  * `HashAggregateExec` with map-side partial aggregation, so the shuffle
  * moves one row per (partition × group), not per input row — the layout
  * that survives 100 TB (group cardinalities here are tiny and fixed).
  */
object Aggregates {
  import Parity._

  /** q_cm_sketch probe keys: frequent corpus words, two rarer ones, and
    * one guaranteed-absent key (exercises the empty-cell/0-estimate
    * path). Static literals — both engines hash the same strings. */
  private val cmProbes = Seq("join", "hash", "row", "the", "a", "zzz_absent")

  /** Exact interpolated percentiles (quantile_cont semantics) with
    * bounded executor state at ANY input size.
    *
    * The built-in `percentile` aggregate buffers every distinct value
    * per group in an OpenHashMap — O(distinct) executor state that dies
    * when a group holds billions of near-unique doubles. Three pieces
    * replace it, each doing the one job it is cheap at:
    *
    *  1. SKETCH NARROWING (pass 1, one combinable scan): per-group
    *     count/min/max plus a FIXED-accuracy GK sketch
    *     (approx_percentile, a = 800) queried at p ± 3/a. GK's
    *     deterministic rank guarantee (error ≤ n/a) makes [lo, hi] a
    *     certain bracket of the target order statistics, holding at
    *     most ~6n/a values. The accuracy stays fixed because it no
    *     longer bounds memory — the bisection below does; a √n-sized
    *     accuracy was measured 2.4× slower at sf10 (GK compress cost
    *     grows with a), and a fixed one without bisection grows
    *     candidate state linearly in n. Fixed-and-cheap is right once
    *     something else owns the state bound.
    *  2. HISTOGRAM BISECTION (only while a bracket may exceed
    *     candLimit — n > ~26M rows/group; zero rounds through sf10,
    *     one at 10¹¹): bin the in-bracket values into B=1024
    *     equal-width bins — a (group, spec, bin) count/min/max
    *     aggregate, map-side combinable, O(B) state — and re-bracket
    *     to exactly the bins holding target ranks rf..rc, shrinking
    *     the bracket ~B× per scan. Values below the bracket land in a
    *     sentinel bin −1, so running counts ARE global ranks. Per-bin
    *     exact min/max make the next bracket a closed VALUE interval
    *     [minv(bin_f), maxv(bin_c)]: the float bin map only needs to
    *     be MONOTONE (floor of a monotone rescale is), never
    *     bit-reproduced — all rank bookkeeping rides on exact integer
    *     counts.
    *  3. EXACT SELECTION (final fused scan): sorted in-bracket
    *     candidates + below-bracket count per spec in one combinable
    *     aggregate; then candidate[rf − below] to candidate[rc −
    *     below], interpolated by frac, is pure expression math.
    *
    * At 100 TB: every pass is a combinable aggregate at scan speed —
    * 2 scans through ~26M rows/group, 3 at 10¹⁰, 4 at 10¹³; executor
    * state is O(a) sketch + O(B) bins + ≤ max(candLimit, 6n/a values
    * when no round fires) collect buffer per (group, spec). A bracket
    * that degenerates to a single value (lo = hi — massive ties)
    * terminates immediately with that value, so ties never inflate the
    * collect. The sketch's partial-merge order may move the BRACKET
    * between runs, never the selected ranks — the result is exact and
    * run-deterministic at any (a, B, candLimit), so the DuckDB oracle
    * stays plain quantile_cont, and groups whose value column is
    * all-NULL surface with NULL percentiles, matching it.
    */
  /** Bisection rounds executed by the most recent [[sortPercentiles]]
    * call in this JVM — a test/bench observation hook ONLY (proves the
    * n ≳ 26M trigger actually fired in anger; ScaleSpec asserts it on
    * a 30M-row group). Not part of any result. Process-global: a
    * concurrent sortPercentiles call between a caller's invocation and
    * its read clobbers the count — ScalaTest suites run sequentially
    * here (no parallelExecution), which is what keeps ScaleSpec's
    * assertion reliable; keep it that way or thread an observer. */
  private[graft] val lastBisectRounds = new java.util.concurrent.atomic.AtomicInteger(0)

  private[graft] def sortPercentiles(
      df: org.apache.spark.sql.DataFrame, group: String,
      specs: Seq[(String, Seq[(Double, String)])],
      candLimit: Int = 262144): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val acc = 800
    val eps = 3.0 / acc
    val flat = specs.flatMap { case (c, ps) => ps.map { case (p, name) => (c, p, name) } }

    // Pass 1: count/min/max + ONE GK sketch per value column (queried
    // at every bracket bound at once), fanned out to one bracket-state
    // struct per spec. `below` starts unknown (the final scan computes
    // it if no bisection round runs); `m` starts as the GK bound
    // 8n/a + 16 — a safe overestimate used only to decide activity.
    // One row per group; collecting it (below) pins one consistent
    // layout that the loop re-reads and every broadcast sees.
    val aggs1 = specs.flatMap { case (c, ps) =>
      val qs = ps.flatMap { case (p, _) =>
        Seq(math.max(0.0, p - eps), math.min(1.0, p + eps))
      }.mkString(", ")
      Seq(count(col(c)).as(s"__n_$c"),
        expr(s"approx_percentile(CAST($c AS DOUBLE), array($qs), $acc)").as(s"__q_$c"))
    }
    // CAST($p AS DOUBLE): a bare 0.95 literal is DECIMAL in Spark SQL,
    // making frac decimal-exact (0.05) where quantile_cont engines
    // interpolate in doubles (0.0499…95) — the p95 interpolation then
    // lands one ulp off the oracle. Rank arithmetic must follow the
    // same IEEE path as the oracle's, not a more exact one.
    val specCols = specs.flatMap { case (c, ps) =>
      ps.zipWithIndex.map { case ((p, name), j) =>
        expr(s"""struct(
                |  CAST(floor(CAST($p AS DOUBLE) * (__n_$c - 1)) AS BIGINT) + 1 AS rf,
                |  CAST(ceil(CAST($p AS DOUBLE) * (__n_$c - 1)) AS BIGINT) + 1 AS rc,
                |  CAST($p AS DOUBLE) * (__n_$c - 1) - floor(CAST($p AS DOUBLE) * (__n_$c - 1)) AS frac,
                |  __q_$c[${2 * j}] AS lo, __q_$c[${2 * j + 1}] AS hi,
                |  CAST(NULL AS BIGINT) AS below,
                |  least(__n_$c, 8 * __n_$c DIV $acc + 16) AS m)""".stripMargin)
          .as(s"__st_$name")
      }
    }
    // The state frame is one row per group — the same bound that lets
    // every downstream use broadcast(st). So it is COLLECTED once per
    // scan and re-planned as a LocalRelation: the activity predicate
    // evaluates driver-side for free and broadcasting a LocalRelation
    // submits no job. The earlier orchestration (eager localCheckpoint
    // per round + a filter().limit(1).count() activity action) paid 3+
    // driver-blocking job submissions per call even when zero bisection
    // rounds fire — each a stall point under scheduler contention.
    // Declared nullability is relaxed recursively: LocalRelation rows
    // must never be nullable-narrower than the frames the loop derives
    // from them.
    import org.apache.spark.sql.types.{ArrayType, DataType, StructType}
    def nullify(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullify(f.dataType), nullable = true)))
      case a: ArrayType =>
        a.copy(elementType = nullify(a.elementType), containsNull = true)
      case other => other
    }
    val st0 = df.groupBy(group).agg(aggs1.head, aggs1.tail: _*)
      .select(col(group) +: specCols: _*)
    val stSchema = nullify(st0.schema).asInstanceOf[StructType]
    var stRows: Array[org.apache.spark.sql.Row] = st0.collect()
    def localSt = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(stRows: _*), stSchema)
    var st = localSt

    def activeSql(name: String) =
      s"(__st_$name.m > $candLimit AND __st_$name.lo < __st_$name.hi)"
    // activeSql still gates each spec's arm inside the round scan; the
    // LOOP decision is its driver-side twin over a collected state row:
    // fields are (rf, rc, frac, lo, hi, below, m) = indices 0..6.
    val stIdx = flat.map { case (_, _, n) => stSchema.fieldIndex(s"__st_$n") }
    def rowActive(r: org.apache.spark.sql.Row): Boolean = stIdx.exists { i =>
      !r.isNullAt(i) && {
        val s = r.getStruct(i)
        !s.isNullAt(6) && s.getLong(6) > candLimit &&
          !s.isNullAt(3) && !s.isNullAt(4) && s.getDouble(3) < s.getDouble(4)
      }
    }

    // Bisection rounds. 12 is unreachable by count (1024¹² ≫ any n);
    // it backstops the one non-counting stall — > candLimit DISTINCT
    // doubles packed too densely for a 1024-way split to separate —
    // after which the final collect proceeds (bigger buffer, still
    // exact).
    val bins = 1024
    var rounds = 0
    while (rounds < 12 && stRows.exists(rowActive)) {
      rounds += 1
      // (group, sid, bin) → exact count + value min/max; active specs
      // stacked through one explode so the round is ONE scan of df.
      // Bin −1 catches values BELOW the bracket: with it, a bin's
      // running count is the global rank of its last member, so no
      // separate below-count pass is ever needed.
      val arms = flat.zipWithIndex.map { case ((c, _, name), i) =>
        val v = s"CAST($c AS DOUBLE)"
        val lo = s"__st_$name.lo"
        val hi = s"__st_$name.hi"
        s"""CASE WHEN NOT ${activeSql(name)} THEN NULL
           |     WHEN $v < $lo THEN struct($i AS sid, -1 AS bin, $v AS v)
           |     WHEN $v <= $hi THEN struct($i AS sid,
           |       CAST(least(${bins - 1}, greatest(0,
           |         floor(($v - $lo) * $bins / ($hi - $lo)))) AS INT) AS bin,
           |       $v AS v)
           |END""".stripMargin
      }
      val binCounts = df.join(broadcast(st), Seq(group))
        .selectExpr(group, s"explode(array(${arms.mkString(", ")})) AS e")
        .filter(col("e").isNotNull)
        .groupBy(col(group), col("e.sid").as("sid"), col("e.bin").as("bin"))
        .agg(count(lit(1)).as("cnt"), min(col("e.v")).as("mnv"), max(col("e.v")).as("mxv"))
      val wCum = Window.partitionBy(group, "sid").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
      val stLong = st
        .select(col(group), posexplode(array(
          flat.map { case (_, _, n) => col(s"__st_$n") }: _*)))
        .withColumnRenamed("pos", "sid").withColumnRenamed("col", "s")
      val cum = binCounts
        .withColumn("cumBefore", coalesce(sum(col("cnt")).over(wCum), lit(0L)))
        .withColumn("cumThrough", col("cumBefore") + col("cnt"))
        .join(stLong, Seq(group, "sid"))
      // first real bin whose running (= global) count reaches rank rf
      // (resp. rc); min(struct) is the lowest qualifying bin (bin
      // leads the struct). Bin −1 can never qualify — fewer than rf
      // values sit below the bracket by the GK/bisection invariant —
      // but is excluded anyway so a violated invariant fails loudly
      // (NULL output) instead of silently selecting below-bracket
      // values.
      val bf = cum.filter(col("bin") >= 0 && col("cumThrough") >= col("s.rf"))
        .groupBy(group, "sid")
        .agg(min(struct(col("bin"), col("mnv"), col("cumBefore"))).as("__bf"))
      val bc = cum.filter(col("bin") >= 0 && col("cumThrough") >= col("s.rc"))
        .groupBy(group, "sid")
        .agg(min(struct(col("bin"), col("mxv"), col("cumThrough"))).as("__bc"))
      val upd = stLong
        .join(bf, Seq(group, "sid"), "left")
        .join(bc, Seq(group, "sid"), "left")
        .selectExpr(group, "sid",
          """CASE WHEN __bf IS NULL THEN s ELSE named_struct(
            |  'rf', s.rf, 'rc', s.rc, 'frac', s.frac,
            |  'lo', __bf.mnv, 'hi', __bc.mxv,
            |  'below', __bf.cumBefore,
            |  'm', __bc.cumThrough - __bf.cumBefore) END AS s""".stripMargin)
      val wideCols = flat.zipWithIndex.map { case ((_, _, name), i) =>
        max(when(col("sid") === i, col("s"))).as(s"__st_$name")
      }
      stRows = upd.groupBy(group).agg(wideCols.head, wideCols.tail: _*)
        .select(stSchema.fieldNames.toIndexedSeq.map(col): _*)
        .collect()
      st = localSt
    }
    lastBisectRounds.set(rounds)

    // Final fused scan: sorted in-bracket candidates + below-bracket
    // count per spec (the latter only consulted when no bisection
    // round resolved `below`). Nothing is collected for degenerate
    // lo = hi brackets — their value IS lo.
    val aggsF = flat.flatMap { case (c, _, name) =>
      val v = s"CAST($c AS DOUBLE)"
      val stn = s"__st_$name"
      Seq(
        sort_array(collect_list(expr(
          s"IF($stn.lo < $stn.hi AND $v BETWEEN $stn.lo AND $stn.hi, $v, NULL)")))
          .as(s"__cand_$name"),
        sum(expr(s"IF($v < $stn.lo, 1L, 0L)")).as(s"__blw_$name"))
    }
    val outCols = flat.map { case (_, _, name) =>
      val stn = s"__st_$name"
      val below = s"coalesce($stn.below, __blw_$name)"
      def pick(rank: String) =
        s"""CASE WHEN $stn.lo >= $stn.hi THEN $stn.lo
           |     ELSE element_at(__cand_$name, CAST($stn.$rank - $below AS INT)) END"""
          .stripMargin
      expr(s"""CASE WHEN $stn.rf >= 1 AND $stn.m > 0
              |  THEN ${pick("rf")} + $stn.frac * (${pick("rc")} - ${pick("rf")})
              |END""".stripMargin).as(name)
    }
    val picked = df.join(broadcast(st), Seq(group))
      .groupBy(group).agg(aggsF.head, aggsF.tail: _*)
      .join(broadcast(st), Seq(group))
      .select(col(group) +: outCols: _*)
    // Left-join back to the pass-1 group list: a group whose value
    // column is all-NULL still surfaces (with NULL percentiles),
    // matching quantile_cont semantics and the DuckDB oracle.
    st.select(col(group)).join(picked, Seq(group), "left")
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q_agg_global",
      (s, d) => Tables.lineitem(s, d).agg(
        count(lit(1)).as("n"),
        dsum(col("l_extendedprice"), 2).as("sum_price"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        davg(col("l_discount"), 4).as("avg_disc")),
      Some(s"""SELECT COUNT(*) AS n,
              |  ${sqlDsum("l_extendedprice", 2)} AS sum_price,
              |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
              |  ${sqlDavg("l_discount", 4)} AS avg_disc
              |FROM lineitem""".stripMargin)),

    // TPC-H Q1 shape — the canonical grouped-aggregate benchmark query.
    QueryDef(
      "q_agg_group",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity"), 2).as("sum_qty"),
          dsum(col("l_extendedprice"), 2).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
          davg(col("l_quantity"), 2).as("avg_qty"),
          davg(col("l_extendedprice"), 2).as("avg_price"),
          davg(col("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  ${sqlDsum("l_quantity", 2)} AS sum_qty,
              |  ${sqlDsum("l_extendedprice", 2)} AS sum_base_price,
              |  ${sqlDsum("l_extendedprice * (1.0 - l_discount)", 4)} AS sum_disc_price,
              |  ${sqlDsum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", 6)} AS sum_charge,
              |  ${sqlDavg("l_quantity", 2)} AS avg_qty,
              |  ${sqlDavg("l_extendedprice", 2)} AS avg_price,
              |  ${sqlDavg("l_discount", 4)} AS avg_disc,
              |  COUNT(*) AS count_order
              |FROM lineitem
              |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
              |GROUP BY l_returnflag, l_linestatus
              |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    QueryDef(
      "q_agg_distinct",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
             |       COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // HLL sketches differ across engines, so the oracle-checkable claim is
    // the HLL *contract*: the approximate count is within 10% of exact.
    // Both engines evaluate their own sketch against their own exact count.
    QueryDef(
      "q_agg_hll",
      (s, d) => Tables.lineitem(s, d)
        .agg(approx_count_distinct(col("l_partkey")).as("approx"),
          countDistinct(col("l_partkey")).as("exact"))
        .select(col("exact"),
          (abs(col("approx") - col("exact")) <= col("exact") * 0.1).as("within_10pct")),
      Some("""SELECT exact, ABS(approx - exact) <= exact * 0.1 AS within_10pct
             |FROM (SELECT approx_count_distinct(l_partkey) AS approx,
             |             COUNT(DISTINCT l_partkey) AS exact FROM lineitem)""".stripMargin),
      headline = false),

    // approx_percentile, same contract style as q_agg_hll: sketches (and
    // their partial-merge orders) differ across engines, so the checkable
    // claim is the accuracy bound — each engine's approximate median lands
    // within 5% of its own exact range. The approx value itself is never
    // output (a GK/t-digest summary is not hash-stable); the boolean is.
    QueryDef(
      "q_agg_approxpct",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx"),
          expr("percentile(l_extendedprice, 0.5)").as("exact"),
          max(col("l_extendedprice")).as("mx"), min(col("l_extendedprice")).as("mn"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("n"),
          (abs(col("approx") - col("exact")) <= (col("mx") - col("mn")) * 0.05).as("within_eps"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, n, ABS(approx - exact) <= (mx - mn) * 0.05 AS within_eps
             |FROM (SELECT l_returnflag,
             |        approx_quantile(l_extendedprice, 0.5) AS approx,
             |        quantile_cont(l_extendedprice, 0.5) AS exact,
             |        MAX(l_extendedprice) AS mx, MIN(l_extendedprice) AS mn,
             |        COUNT(*) AS n
             |      FROM lineitem GROUP BY l_returnflag)
             |ORDER BY l_returnflag""".stripMargin),
      headline = false),

    // ROLLUP / CUBE: group cols coalesced to a sentinel so the compare
    // avoids engine-specific NULL ordering (data itself is null-free).
    QueryDef(
      "q_agg_rollup",
      (s, d) => Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), 2).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy("rf", "ls"),
      Some(s"""SELECT COALESCE(l_returnflag,'ALL') AS rf, COALESCE(l_linestatus,'ALL') AS ls,
              |  COUNT(*) AS n, ${sqlDsum("l_quantity", 2)} AS sum_qty
              |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
              |ORDER BY rf, ls""".stripMargin)),

    QueryDef(
      "q_agg_cube",
      (s, d) => Tables.orders(s, d)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 2).as("sum_price"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
          col("n"), col("sum_price"))
        .orderBy("st", "pri"),
      Some(s"""SELECT COALESCE(o_orderstatus,'ALL') AS st, COALESCE(o_orderpriority,'ALL') AS pri,
              |  COUNT(*) AS n, ${sqlDsum("o_totalprice", 2)} AS sum_price
              |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
              |ORDER BY st, pri""".stripMargin),
      headline = false),

    // Fixed-width histogram: bucket index is pure integer math on the
    // value, counts by bucket — the distributed histogram idiom (no
    // per-engine binning heuristics).
    QueryDef(
      "q_agg_histogram",
      (s, d) => Tables.lineitem(s, d)
        .selectExpr("CAST(floor(l_extendedprice / 10000.0) AS BIGINT) AS bucket")
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket"),
      Some("""SELECT CAST(floor(l_extendedprice / 10000.0) AS BIGINT) AS bucket,
             |       COUNT(*) AS n
             |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin),
      headline = false),

    // collect_set / collect_list surfaced deterministically: sets are
    // sorted before output (collection order is partition-dependent,
    // the sorted array is not). The array is serialized to CSV for the
    // output contract — the driver's pandas comparator cannot sort raw
    // array columns, so the oracle-facing schema is scalar-only.
    QueryDef(
      "q_agg_collect",
      (s, d) => Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(
          array_join(array_sort(collect_set(col("o_orderstatus"))), ",").as("statuses_csv"),
          size(collect_set(col("o_orderstatus"))).as("n_distinct"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority,
             |  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses_csv,
             |  CAST(len(list(DISTINCT o_orderstatus)) AS INT) AS n_distinct,
             |  COUNT(*) AS n
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      headline = false),

    // Modal value per group — two chained hash aggregates (value counts,
    // then a rank-1 cut with a total tie order: count desc, value asc).
    // Deliberately NOT the built-in mode(): its tie-breaking is
    // engine-dependent; this spelling pins one winner everywhere and
    // keeps both stages map-side combinable.
    QueryDef(
      "q_agg_mode",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("l_returnflag")
          .orderBy(col("n").desc, col("l_quantity").asc)
        Tables.lineitem(s, d)
          .groupBy("l_returnflag", "l_quantity").agg(count(lit(1)).as("n"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("l_returnflag"), col("l_quantity").as("mode_qty"), col("n").as("n_mode"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, mode_qty, n_mode FROM (
             |  SELECT l_returnflag, l_quantity AS mode_qty, COUNT(*) AS n_mode,
             |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
             |      ORDER BY COUNT(*) DESC, l_quantity ASC) AS rk
             |  FROM lineitem GROUP BY l_returnflag, l_quantity)
             |WHERE rk = 1 ORDER BY l_returnflag""".stripMargin),
      headline = false),

    // min_by / max_by with a unique ordering key (ties on the ordering
    // value would make the picked row engine-dependent).
    QueryDef(
      "q_agg_minmax_by",
      (s, d) => Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(
          expr("max_by(o_totalprice, o_orderkey)").as("price_of_max_key"),
          expr("min_by(o_totalprice, o_orderkey)").as("price_of_min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus,
             |  max_by(o_totalprice, o_orderkey) AS price_of_max_key,
             |  min_by(o_totalprice, o_orderkey) AS price_of_min_key,
             |  MAX(o_orderkey) AS max_key
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
      headline = false),

    // Pearson correlation and covariance from exact decimal moments
    // Skewness / excess kurtosis from exact power sums — the 3rd/4th
    // moments of the same closed-form discipline. l_quantity is
    // integer-valued, so x², x³, x⁴ are exact in double and the decimal
    // power sums are exact; every downstream step is the IDENTICAL
    // double expression tree on both engines (left-associative, same
    // parenthesization), which is what makes the high-order cancellation
    // bit-stable. Built-in skewness()/kurtosis() merge partials in
    // engine-specific order — unusable for a hash gate.
    QueryDef(
      "q_agg_moments",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_linestatus")
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("l_quantity").cast(DecimalType(28, 2))).cast("double").as("s1"),
          sum((col("l_quantity") * col("l_quantity")).cast(DecimalType(28, 4)))
            .cast("double").as("s2"),
          sum((col("l_quantity") * col("l_quantity") * col("l_quantity"))
            .cast(DecimalType(28, 4))).cast("double").as("s3"),
          sum((col("l_quantity") * col("l_quantity") * col("l_quantity") * col("l_quantity"))
            .cast(DecimalType(28, 4))).cast("double").as("s4"))
        .selectExpr("l_linestatus", "n", "s1", "s2", "s3", "s4", "s1 / n AS mu")
        .selectExpr("l_linestatus", "n", "mu",
          "s2 / n - mu * mu AS m2",
          "s3 / n - 3 * mu * (s2 / n) + 2 * mu * mu * mu AS m3",
          "s4 / n - 4 * mu * (s3 / n) + 6 * mu * mu * (s2 / n) - 3 * mu * mu * mu * mu AS m4")
        .selectExpr("l_linestatus",
          "m3 / (m2 * sqrt(m2)) AS skewness",
          "m4 / (m2 * m2) - 3 AS kurtosis_excess")
        .orderBy("l_linestatus"),
      Some("""WITH sums AS (
             |  SELECT l_linestatus, CAST(COUNT(*) AS DOUBLE) AS n,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS s1,
             |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS s2,
             |    CAST(SUM(CAST(l_quantity * l_quantity * l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS s3,
             |    CAST(SUM(CAST(l_quantity * l_quantity * l_quantity * l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS s4
             |  FROM lineitem GROUP BY l_linestatus),
             |wmu AS (SELECT l_linestatus, n, s1, s2, s3, s4, s1 / n AS mu FROM sums),
             |cm AS (SELECT l_linestatus,
             |    s2 / n - mu * mu AS m2,
             |    s3 / n - 3 * mu * (s2 / n) + 2 * mu * mu * mu AS m3,
             |    s4 / n - 4 * mu * (s3 / n) + 6 * mu * mu * (s2 / n) - 3 * mu * mu * mu * mu AS m4
             |  FROM wmu)
             |SELECT l_linestatus,
             |  m3 / (m2 * sqrt(m2)) AS skewness,
             |  m4 / (m2 * m2) - 3 AS kurtosis_excess
             |FROM cm ORDER BY l_linestatus""".stripMargin),
      headline = false),

    // (same closed-form discipline as q_agg_stddev — the built-ins'
    // merge order differs per engine, the moments don't).
    QueryDef(
      "q_agg_corr",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_linestatus")
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("l_quantity").cast(DecimalType(28, 2))).cast("double").as("sx"),
          sum(col("l_extendedprice").cast(DecimalType(28, 2))).cast("double").as("sy"),
          sum((col("l_quantity") * col("l_quantity")).cast(DecimalType(28, 4)))
            .cast("double").as("sxx"),
          sum((col("l_extendedprice") * col("l_extendedprice")).cast(DecimalType(28, 4)))
            .cast("double").as("syy"),
          sum((col("l_quantity") * col("l_extendedprice")).cast(DecimalType(28, 4)))
            .cast("double").as("sxy"))
        .select(col("l_linestatus"),
          ((col("n") * col("sxy") - col("sx") * col("sy"))
            / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
              * sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("corr_qty_price"),
          ((col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * (col("n") - 1.0))).as("covar_samp"))
        .orderBy("l_linestatus"),
      Some(s"""SELECT l_linestatus,
              |  (n * sxy - sx * sy)
              |    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_price,
              |  (n * sxy - sx * sy) / (n * (n - 1.0)) AS covar_samp
              |FROM (SELECT l_linestatus,
              |        CAST(COUNT(*) AS DOUBLE) AS n,
              |        ${sqlDsum("l_quantity", 2)} AS sx,
              |        ${sqlDsum("l_extendedprice", 2)} AS sy,
              |        ${sqlDsum("l_quantity * l_quantity", 4)} AS sxx,
              |        ${sqlDsum("l_extendedprice * l_extendedprice", 4)} AS syy,
              |        ${sqlDsum("l_quantity * l_extendedprice", 4)} AS sxy
              |      FROM lineitem GROUP BY l_linestatus)
              |ORDER BY l_linestatus""".stripMargin),
      headline = false),

    // Count-min sketch: the mergeable frequency sketch for vocabularies
    // that don't fit anywhere — a FIXED d×w counter matrix (4×16 here;
    // w deliberately SMALLER than the 31-word vocabulary so collisions
    // are guaranteed and the overcount bound is exercised, not
    // vacuously zero) regardless of corpus size. TWO-LEVEL build: the
    // token stream first collapses to per-DISTINCT-token counts (one
    // map-side-combined agg — each partition ships ≤ vocab rows), then
    // hashing touches only the VOCABULARY: one 128-bit md5 per distinct
    // token, sliced into the d=4 row hashes (32 hex bits each) — the
    // d-explode and the digest cost scale with |vocab|, never with the
    // corpus (the v1 draft hashed per TOKEN OCCURRENCE ×d: 6.5 s at
    // sf1 vs ~token-count-agg cost now). Point queries cost d slices
    // of one digest against the broadcast matrix: est(key) = min_j
    // cell(j, h_j(key)) — an OVERCOUNT by construction (collisions
    // only add), which is the published guarantee. All integer
    // arithmetic end-to-end; the output carries est, exact, and the
    // overcount so est ≥ exact is a checked VALUE, not a comment. A
    // probe key absent from some row's cell (or from the corpus)
    // estimates 0 via the 4-cells-matched gate / left-join coalesce.
    // KMV (k-minimum-values) distinct sketch + SET OPERATIONS — the
    // mergeable distinct-count family theta sketches generalize:
    // keep the k smallest hash values; est = (k−1)·2³²/h_k. Union
    // sketches merge by re-taking the k smallest of the combined set
    // (associative, order-free — the 100 TB merge property), and the
    // intersection estimate is Jaccard-over-the-union-sketch scaled by
    // the union estimate (the theta-sketch intersection rule). All
    // hashes are md5-derived so BOTH engines compute the identical
    // sketch, estimate, and error — est vs exact ships as checked
    // VALUES. Scale shape: per-key k-smallest is a keyed window over
    // distinct hashes; the union sketch extraction is TakeOrdered
    // (map-side k-cut, O(k) driver merge), never a global sort.
    QueryDef(
      "q_kmv_sketch",
      (s, d) => {
        val k = 64
        val h = graft.functions.TextAnalysis.tokHash("CAST(user_id AS STRING)")
        val ev = Tables.events(s, d)
        val hs = ev.selectExpr("event_type", s"$h AS h").distinct()
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("h")
        val kth = hs.withColumn("rk", row_number().over(w))
          .filter(col("rk") === k).select(col("event_type"), col("h").as("kth"))
        val nh = hs.groupBy("event_type").agg(count(lit(1)).as("n_h"))
        val exact = ev.groupBy("event_type").agg(countDistinct("user_id").as("n_exact"))
        val perType = exact.join(nh, "event_type")
          .join(kth, Seq("event_type"), "left_outer")
          .selectExpr("event_type AS name", "n_exact",
            s"CASE WHEN n_h >= $k THEN ($k - 1) * 4294967296.0 / kth " +
              "ELSE CAST(n_h AS DOUBLE) END AS n_est")
        val hu = hs.filter(col("event_type").isin("click", "view"))
          .select("h").distinct()
        val mem = hu.orderBy("h").limit(k)
        val uk = mem.agg(max("h").as("kth"), count(lit(1)).as("n_m"))
        val un = hu.agg(count(lit(1)).as("n_h"))
        val uex = ev.filter(col("event_type").isin("click", "view"))
          .agg(countDistinct("user_id").as("n_exact"))
        val uRow = uex.crossJoin(un).crossJoin(uk)
          .selectExpr("'click_or_view' AS name", "n_exact",
            s"CASE WHEN n_h >= $k THEN ($k - 1) * 4294967296.0 / kth " +
              "ELSE CAST(n_h AS DOUBLE) END AS n_est")
        val m = mem
          .join(hs.filter(col("event_type") === "click").select("h"), Seq("h"), "left_semi")
          .join(hs.filter(col("event_type") === "view").select("h"), Seq("h"), "left_semi")
          .agg(count(lit(1)).as("m"))
        val iex = ev.filter(col("event_type").isin("click", "view"))
          .select("user_id", "event_type").distinct()
          .groupBy("user_id").agg(countDistinct("event_type").as("nt"))
          .filter(col("nt") === 2)
          .agg(count(lit(1)).as("n_exact"))
        val iRow = iex.crossJoin(m).crossJoin(uk)
          .crossJoin(uRow.select(col("n_est").as("u_est")))
          .selectExpr("'click_and_view' AS name", "n_exact",
            "(CAST(m AS DOUBLE) / n_m) * u_est AS n_est")
        perType.unionAll(uRow).unionAll(iRow).orderBy("name")
      },
      Some {
        val k = 64
        val h = graft.functions.TextAnalysis.duckTokHash("CAST(user_id AS VARCHAR)")
        s"""WITH hs AS (SELECT DISTINCT event_type, $h AS h FROM events),
           |kth AS (SELECT event_type, h AS kth FROM (
           |  SELECT event_type, h, ROW_NUMBER() OVER (PARTITION BY event_type
           |    ORDER BY h) AS rk FROM hs) WHERE rk = $k),
           |nh AS (SELECT event_type, COUNT(*) AS n_h FROM hs GROUP BY 1),
           |ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
           |  FROM events GROUP BY 1),
           |per AS (SELECT ex.event_type AS name, n_exact,
           |    CASE WHEN n_h >= $k THEN ($k - 1) * 4294967296.0 / kth
           |         ELSE CAST(n_h AS DOUBLE) END AS n_est
           |  FROM ex JOIN nh USING (event_type) LEFT JOIN kth USING (event_type)),
           |hu AS (SELECT DISTINCT h FROM hs WHERE event_type IN ('click', 'view')),
           |mem AS (SELECT h FROM hu ORDER BY h LIMIT $k),
           |uk AS (SELECT MAX(h) AS kth, COUNT(*) AS n_m FROM mem),
           |un AS (SELECT COUNT(*) AS n_h FROM hu),
           |uex AS (SELECT COUNT(DISTINCT user_id) AS n_exact FROM events
           |  WHERE event_type IN ('click', 'view')),
           |urow AS (SELECT 'click_or_view' AS name, uex.n_exact,
           |    CASE WHEN un.n_h >= $k THEN ($k - 1) * 4294967296.0 / uk.kth
           |         ELSE CAST(un.n_h AS DOUBLE) END AS n_est
           |  FROM uex, un, uk),
           |mc AS (SELECT COUNT(*) AS m FROM mem
           |  WHERE h IN (SELECT h FROM hs WHERE event_type = 'click')
           |    AND h IN (SELECT h FROM hs WHERE event_type = 'view')),
           |iex AS (SELECT COUNT(*) AS n_exact FROM (
           |  SELECT user_id FROM (SELECT DISTINCT user_id, event_type FROM events
           |    WHERE event_type IN ('click', 'view'))
           |  GROUP BY user_id HAVING COUNT(DISTINCT event_type) = 2)),
           |irow AS (SELECT 'click_and_view' AS name, iex.n_exact,
           |    (CAST(m AS DOUBLE) / uk.n_m) * urow.n_est AS n_est
           |  FROM iex, mc, uk, urow)
           |SELECT name, CAST(n_exact AS BIGINT) AS n_exact, n_est FROM (
           |  SELECT * FROM per UNION ALL SELECT * FROM urow
           |  UNION ALL SELECT * FROM irow)
           |ORDER BY name""".stripMargin
      }),

    QueryDef(
      "q_cm_sketch",
      (s, d) => {
        import s.implicits._
        val counts = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c"))
        val cells = counts
          .selectExpr("c", "md5(concat('cm:', w)) AS dg")
          .selectExpr("c", "dg", "explode(array(0, 1, 2, 3)) AS j")
          .selectExpr("j",
            "CAST(conv(substr(dg, 1 + 8 * j, 8), 16, 10) AS BIGINT) % 16 AS bucket", "c")
          .groupBy("j", "bucket").agg(sum(col("c")).as("cnt"))
        val probes = cmProbes.toDF("word")
        val est = broadcast(probes).crossJoin(cells)
          .filter(expr(
            "bucket = CAST(conv(substr(md5(concat('cm:', word)), 1 + 8 * j, 8), 16, 10) AS BIGINT) % 16"))
          .groupBy("word")
          .agg(when(count(lit(1)) === 4, min(col("cnt"))).otherwise(0L).as("est"))
        val exact = counts.select(col("w").as("word"), col("c").as("exact"))
        probes
          .join(est, Seq("word"), "left")
          .join(exact, Seq("word"), "left")
          .selectExpr("word",
            "COALESCE(est, 0) AS est",
            "COALESCE(exact, 0) AS exact",
            "COALESCE(est, 0) - COALESCE(exact, 0) AS overcount")
          .orderBy("word")
      },
      Some {
        val probeList = cmProbes.map(w => s"'$w'").mkString(", ")
        s"""WITH counts AS (
           |  SELECT w, COUNT(*) AS c FROM (
           |    SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
           |  GROUP BY w),
           |dgs AS (SELECT c, md5('cm:' || w) AS dg FROM counts),
           |cells AS (
           |  SELECT j,
           |    CAST(('0x' || substr(dg, 1 + 8 * j, 8)) AS BIGINT) % 16 AS bucket,
           |    CAST(SUM(c) AS BIGINT) AS cnt
           |  FROM dgs CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS j)
           |  GROUP BY 1, 2),
           |probes AS (SELECT UNNEST([$probeList]) AS word),
           |est AS (
           |  SELECT word,
           |    CASE WHEN COUNT(*) = 4 THEN MIN(cnt) ELSE 0 END AS est
           |  FROM probes p JOIN cells c
           |    ON c.bucket = CAST(('0x' || substr(md5('cm:' || p.word), 1 + 8 * c.j, 8)) AS BIGINT) % 16
           |  GROUP BY word),
           |exact AS (SELECT w AS word, c AS exact FROM counts)
           |SELECT p.word AS word, COALESCE(est, 0) AS est, COALESCE(exact, 0) AS exact,
           |  COALESCE(est, 0) - COALESCE(exact, 0) AS overcount
           |FROM probes p LEFT JOIN est USING (word) LEFT JOIN exact USING (word)
           |ORDER BY word""".stripMargin
      }),

    // Sketch-based JOIN CARDINALITY estimation — the CBO primitive:
    // |A ⋈_k B| = Σ_k c_A(k)·c_B(k), estimated as min over sketch rows
    // of the row-wise dot of A's and B's count-min rows. Same digest
    // trick as q_cm_sketch (ONE md5 per distinct key sliced into all 4
    // row hashes, so sketch cost ∝ distinct keys, never rows). Run at
    // TWO widths so the sizing rule is a measured fact, not prose:
    // w=16 ≪ 150 keys overestimates ~(‖c_A‖₁‖c_B‖₁−J)/w (10× here);
    // w=256 > keys is near-exact. The estimator NEVER undercounts
    // (each row dot = J + collision excess ≥ J exactly) — est ≥ exact
    // ships as a checked value, the planner's safe-overestimate
    // contract. A ⋈ B: click events ⋈ view events on user_id.
    QueryDef(
      "q_join_card_est",
      (s, d) => {
        def side(t: String) = Tables.events(s, d)
          .filter(col("event_type") === t)
          .groupBy("user_id").agg(count(lit(1)).as("c"))
        val (a, b) = (side("click"), side("view"))
        def sketch(cnts: org.apache.spark.sql.DataFrame, w: Int) = cnts
          .selectExpr("c", "md5(concat('jc:', CAST(user_id AS STRING))) AS dg")
          .selectExpr("c", "dg", "explode(array(0, 1, 2, 3)) AS j")
          .selectExpr("j",
            s"CAST(conv(substr(dg, 1 + 8 * j, 8), 16, 10) AS BIGINT) % $w AS bucket", "c")
          .groupBy("j", "bucket").agg(sum(col("c")).as("cnt"))
        def estAt(w: Int) = sketch(a, w)
          .join(sketch(b, w).withColumnRenamed("cnt", "cntb"), Seq("j", "bucket"))
          .groupBy("j").agg(sum(col("cnt") * col("cntb")).as("row_dot"))
          .agg(min(col("row_dot")).cast("bigint").as("est"))
          .selectExpr(s"$w AS width", "est")
        val exact = a.join(b.withColumnRenamed("c", "cb")
            .withColumnRenamed("user_id", "ub"), col("user_id") === col("ub"))
          .agg(sum(col("c") * col("cb")).cast("bigint").as("exact"))
        estAt(16).unionAll(estAt(256)).crossJoin(broadcast(exact))
          .selectExpr("width", "est", "exact", "est - exact AS overcount",
            "est >= exact AS never_under")
          .orderBy("width")
      },
      Some {
        def sk(src: String, w: Int, name: String) =
          s"""$name AS (SELECT j,
             |    CAST(('0x' || substr(dg, 1 + 8 * j, 8)) AS BIGINT) % $w AS bucket,
             |    CAST(SUM(c) AS BIGINT) AS cnt
             |  FROM (SELECT c, md5('jc:' || CAST(user_id AS VARCHAR)) AS dg FROM $src)
             |  CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS j) GROUP BY 1, 2)""".stripMargin
        def es(w: Int, name: String) =
          s"""$name AS (SELECT $w AS width, CAST(MIN(row_dot) AS BIGINT) AS est FROM (
             |  SELECT x.j, SUM(x.cnt * y.cnt) AS row_dot
             |  FROM sa$w x JOIN sb$w y ON x.j = y.j AND x.bucket = y.bucket
             |  GROUP BY x.j))""".stripMargin
        s"""WITH a AS (SELECT user_id, COUNT(*) AS c FROM events
           |  WHERE event_type = 'click' GROUP BY user_id),
           |b AS (SELECT user_id, COUNT(*) AS c FROM events
           |  WHERE event_type = 'view' GROUP BY user_id),
           |${sk("a", 16, "sa16")}, ${sk("b", 16, "sb16")},
           |${sk("a", 256, "sa256")}, ${sk("b", 256, "sb256")},
           |ex AS (SELECT CAST(SUM(a.c * b.c) AS BIGINT) AS exact
           |  FROM a JOIN b USING (user_id)),
           |${es(16, "e16")}, ${es(256, "e256")}
           |SELECT width, est, exact, est - exact AS overcount,
           |  est >= exact AS never_under
           |FROM (SELECT * FROM e16 UNION ALL SELECT * FROM e256), ex
           |ORDER BY width""".stripMargin
      }),

    // Per-user burstiness — the inter-arrival regularity diagnostic
    // (B = (σ−µ)/(σ+µ): −1 periodic, 0 Poisson, →1 bursty) every
    // event-stream capacity model starts from. One lag window per user
    // for integer-second gaps, then exact BIGINT moment sums; σ is the
    // one sqrt over exactly-agreed integers (the q_sample_neyman
    // pattern), so both engines publish identical doubles.
    QueryDef(
      "q_ts_burstiness",
      (s, d) => {
        // floor-seconds on both sides: Spark unix_timestamp floors the
        // micros; DuckDB epoch_us // 1e6 floors identically (epoch()
        // would return fractional seconds and break integer sums)
        Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"))
          .withColumn("gap",
            expr("unix_timestamp(ts) - unix_timestamp(lag(ts, 1) OVER " +
              "(PARTITION BY user_id ORDER BY ts, event_id))"))
          .filter(col("gap").isNotNull)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_gaps"), sum("gap").as("sg"),
            sum(expr("gap * gap")).as("sgg"))
          .filter(col("n_gaps") > 1)
          .selectExpr("user_id", "n_gaps",
            "CAST(sg AS DOUBLE) / n_gaps AS mean_gap",
            "sqrt((n_gaps * CAST(sgg AS DOUBLE) - CAST(sg AS DOUBLE) * sg) " +
              "/ (n_gaps * (n_gaps - 1.0))) AS sd_gap")
          .selectExpr("user_id", "n_gaps", "mean_gap",
            "(sd_gap - mean_gap) / (sd_gap + mean_gap) AS burstiness")
          .orderBy("user_id")
      },
      Some("""WITH g AS (SELECT user_id,
             |    epoch_us(ts) // 1000000
             |      - epoch_us(LAG(ts, 1) OVER (PARTITION BY user_id
             |          ORDER BY ts, event_id)) // 1000000 AS gap
             |  FROM events),
             |m AS (SELECT user_id, COUNT(*) AS n_gaps,
             |    CAST(SUM(gap) AS BIGINT) AS sg, CAST(SUM(gap * gap) AS BIGINT) AS sgg
             |  FROM g WHERE gap IS NOT NULL GROUP BY user_id),
             |sd AS (SELECT user_id, n_gaps,
             |    CAST(sg AS DOUBLE) / n_gaps AS mean_gap,
             |    sqrt((n_gaps * CAST(sgg AS DOUBLE) - CAST(sg AS DOUBLE) * sg)
             |      / (n_gaps * (n_gaps - 1.0))) AS sd_gap
             |  FROM m WHERE n_gaps > 1)
             |SELECT user_id, n_gaps, mean_gap,
             |  (sd_gap - mean_gap) / (sd_gap + mean_gap) AS burstiness
             |FROM sd ORDER BY user_id""".stripMargin)),

    // SpaceSaving sketch driven through its SQL surface, in the exact
    // regime: capacity (32) exceeds the vocabulary (31 words), where the
    // sketch provably equals the true counts — so the oracle can check
    // the sketch output itself; the approximate regime is spec-checked
    // (SpaceSavingSpec) via the containment guarantee.
    QueryDef(
      "q_agg_topk_sketch",
      (s, d) => {
        graft.functions.SpaceSavingTopK.ensureRegistered(s)
        Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("w"))
          .agg(expr("topk_sketch(w)").as("top"))
          .selectExpr("inline(top)")
          .toDF("word", "cnt", "err")
          .select("word", "cnt")
          .orderBy(col("cnt").desc, col("word"))
      },
      Some("""SELECT word, COUNT(*) AS cnt
             |FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
             |GROUP BY word
             |ORDER BY cnt DESC, word""".stripMargin),
      headline = false),

    // Pivot — groupBy().pivot() with explicit value list (never let the
    // engine scan for distinct pivot values at scale); the oracle is the
    // CASE-filtered aggregation pivot desugars to.
    QueryDef(
      "q_agg_pivot",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), 2).as("qty"))
        .select(col("l_returnflag"),
          coalesce(col("F_n"), lit(0L)).as("f_n"), coalesce(col("F_qty"), lit(0.0)).as("f_qty"),
          coalesce(col("O_n"), lit(0L)).as("o_n"), coalesce(col("O_qty"), lit(0.0)).as("o_qty"))
        .orderBy("l_returnflag"),
      Some(s"""SELECT l_returnflag,
              |  COUNT(*) FILTER (WHERE l_linestatus = 'F') AS f_n,
              |  COALESCE(CAST(SUM(CAST(l_quantity AS DECIMAL(28,2)))
              |    FILTER (WHERE l_linestatus = 'F') AS DOUBLE), 0.0) AS f_qty,
              |  COUNT(*) FILTER (WHERE l_linestatus = 'O') AS o_n,
              |  COALESCE(CAST(SUM(CAST(l_quantity AS DECIMAL(28,2)))
              |    FILTER (WHERE l_linestatus = 'O') AS DOUBLE), 0.0) AS o_qty
              |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Exact interpolated percentiles — Spark and DuckDB quantile_cont
    // share the (1-g)*lo + g*hi definition over the sorted values, so
    // results match bit-for-bit on identical input doubles. Computed by
    // GK-bracketed exact selection ([[sortPercentiles]]): a sketch pass
    // brackets each target order statistic, exact counting pins its
    // global rank, and only the ~6n/accuracy in-bracket rows ever see
    // per-row machinery — no O(distinct) executor state, no raw-row
    // sort, three combinable scans.
    QueryDef(
      "q_agg_percentile",
      (s, d) => sortPercentiles(Tables.lineitem(s, d), "l_returnflag",
          Seq(
            "l_extendedprice" -> Seq(0.5 -> "p50", 0.95 -> "p95"),
            "l_quantity" -> Seq(0.25 -> "q25")))
        .select("l_returnflag", "p50", "p95", "q25")
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  quantile_cont(l_extendedprice, 0.5) AS p50,
             |  quantile_cont(l_extendedprice, 0.95) AS p95,
             |  quantile_cont(l_quantity, 0.25) AS q25
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // The GLOBAL (one-group) exact percentiles — the entry that drives
    // the bisection path into its activity region at bench scale: the
    // trigger is m = 8n/800 + 16 > 262144 ⟺ n ≳ 26M rows per GROUP,
    // which per-returnflag groups never reach through sf10 (60M rows /
    // 3 flags ÷ ... split again by the sweep's fixed cores) but ONE
    // group over sf10's 60M lineitem rows does — so the sweep
    // exercises a real bisection round (ScaleSpec separately pins the
    // round count and exactness on a synthetic 30M-row group).
    QueryDef(
      "q_agg_percentile_global",
      (s, d) => sortPercentiles(
          Tables.lineitem(s, d).withColumn("g", lit("ALL")), "g",
          Seq(
            "l_extendedprice" -> Seq(0.5 -> "p50", 0.95 -> "p95"),
            "l_quantity" -> Seq(0.25 -> "q25")))
        .select("g", "p50", "p95", "q25"),
      Some("""SELECT 'ALL' AS g,
             |  quantile_cont(l_extendedprice, 0.5) AS p50,
             |  quantile_cont(l_extendedprice, 0.95) AS p95,
             |  quantile_cont(l_quantity, 0.25) AS q25
             |FROM lineitem""".stripMargin)),

    // GROUPING SETS through the SQL entry point (spark.sql over a temp
    // view — the surface a SQL-first user drives), sentinel-coalesced
    // like rollup/cube above.
    QueryDef(
      "q_agg_groupingsets",
      (s, d) => {
        val id = java.util.UUID.randomUUID().toString.replace("-", "")
        Tables.lineitem(s, d).createOrReplaceTempView(s"lineitem_$id")
        s.sql(s"""
          |SELECT COALESCE(l_returnflag, 'ALL') AS rf,
          |       COALESCE(l_linestatus, 'ALL') AS ls,
          |       COUNT(*) AS n,
          |       CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem_$id
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY rf, ls""".stripMargin)
      },
      Some(s"""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
              |       COALESCE(l_linestatus, 'ALL') AS ls,
              |       COUNT(*) AS n, ${sqlDsum("l_quantity", 2)} AS sum_qty
              |FROM lineitem
              |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
              |ORDER BY rf, ls""".stripMargin),
      headline = false),

    // stddev via exact decimal moments: sqrt((n*Σx² - (Σx)²) / (n(n-1))).
    // The built-in stddev_samp is exercised too, asserted within 1e-9 of
    // the closed form (its partial-merge order differs per engine).
    QueryDef(
      "q_agg_stddev",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("l_quantity").cast(DecimalType(28, 2))).cast("double").as("sx"),
          sum((col("l_quantity") * col("l_quantity")).cast(DecimalType(28, 4)))
            .cast("double").as("sxx"),
          stddev_samp(col("l_quantity")).as("sd_builtin"))
        .select(col("l_returnflag"),
          sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
            / (col("n") * (col("n") - 1.0))).as("stddev_qty"),
          (abs(col("sd_builtin")
            - sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              / (col("n") * (col("n") - 1.0)))) < 1e-9).as("builtin_ok"))
        .orderBy("l_returnflag"),
      Some(s"""SELECT l_returnflag,
              |  SQRT((n * sxx - sx * sx) / (n * (n - 1.0))) AS stddev_qty,
              |  ABS(sd_builtin - SQRT((n * sxx - sx * sx) / (n * (n - 1.0)))) < 1e-9 AS builtin_ok
              |FROM (SELECT l_returnflag,
              |        CAST(COUNT(*) AS DOUBLE) AS n,
              |        ${sqlDsum("l_quantity", 2)} AS sx,
              |        ${sqlDsum("l_quantity * l_quantity", 4)} AS sxx,
              |        stddev_samp(l_quantity) AS sd_builtin
              |      FROM lineitem GROUP BY l_returnflag)
              |ORDER BY l_returnflag""".stripMargin),
      headline = false),

    // Bitmap-index exact distinct: users bucketed into 64-bit words
    // (word = id/63, bit = id%63 — 63-bit words keep the shift off the
    // sign bit, which DuckDB's checked << rejects), OR-folded per (type, word), then
    // popcounted — the roaring-bitmap COUNT(DISTINCT) pattern. The
    // raw ids shuffle ONCE keyed by (type, word) with a map-side
    // bit_or partial, so the exchange carries at most one word per
    // 63 ids — for dense id spaces that is a ~64× shuffle reduction
    // over hash-distinct, and the per-group state is one BIGINT
    // (vs HLL's approximation: this is exact). The exact hash
    // countDistinct rides along and the published `matches` column
    // pins bitmap == exact inside the result itself.
    QueryDef(
      "q_agg_bitmap",
      (s, d) => {
        val bm = Tables.events(s, d)
          .selectExpr("event_type", "user_id DIV 63 AS word_idx",
            "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT)) AS bit")
          .groupBy("event_type", "word_idx")
          .agg(expr("bit_or(bit)").as("word"))
          .groupBy("event_type")
          .agg(sum(expr("bit_count(word)")).cast("bigint").as("n_distinct_bitmap"),
            count(lit(1)).as("n_words"))
        val exact = Tables.events(s, d).groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("n_distinct_exact"))
        bm.join(exact, "event_type")
          .withColumn("matches",
            (col("n_distinct_bitmap") === col("n_distinct_exact")).cast("int"))
          .select("event_type", "n_distinct_bitmap", "n_distinct_exact",
            "n_words", "matches")
          .orderBy("event_type")
      },
      Some("""WITH bm AS (
             |  SELECT event_type,
             |    CAST(SUM(bit_count(word)) AS BIGINT) AS n_distinct_bitmap,
             |    COUNT(*) AS n_words
             |  FROM (
             |    SELECT event_type, user_id // 63 AS word_idx,
             |      BIT_OR(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INT)) AS word
             |    FROM events GROUP BY 1, 2)
             |  GROUP BY 1),
             |ex AS (
             |  SELECT event_type,
             |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_exact
             |  FROM events GROUP BY 1)
             |SELECT bm.event_type, n_distinct_bitmap, n_distinct_exact, n_words,
             |  CAST(n_distinct_bitmap = n_distinct_exact AS INT) AS matches
             |FROM bm JOIN ex ON ex.event_type = bm.event_type
             |ORDER BY bm.event_type""".stripMargin)),

    // MERGEABLE distinct sketches — the incremental form of
    // q_agg_hll. At 100 TB nobody re-scans history for a distinct
    // count: each day materializes its own HLL sketch (datasketches
    // `hll_sketch_agg`, a few KB), and any rollup — month, year, ad-hoc
    // slice — is a `hll_union_agg` over the STORED sketches, never a
    // re-aggregation of the raw rows. The checkable cross-engine claims
    // follow the q_agg_hll/q_agg_approxpct contract (sketch internals
    // are not hash-stable): per-slice exact counts from DuckDB, plus
    // booleans pinning (a) each sketch's 5% accuracy and (b) the merge
    // invariance — the union of the daily sketches estimating within
    // 2% of the one-shot global sketch (datasketches unions through a
    // common coupon space, so the two agree tightly; exact equality is
    // not contractual across target-type promotions). A wrong sketch,
    // a wrong union, or a broken estimate flips a boolean and fails
    // the driver hash.
    QueryDef(
      "q_agg_hll_merge",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(to_date(col("ts")).as("day"), col("user_id"))
        val daily = ev.groupBy("day")
          .agg(expr("hll_sketch_agg(user_id)").as("sk"),
            countDistinct(col("user_id")).as("n_exact"))
          .localCheckpoint(true)
        val dayRows = daily.selectExpr(
          "CAST(day AS STRING) AS slice", "n_exact",
          "abs(hll_sketch_estimate(sk) - n_exact) <= CAST(n_exact AS DOUBLE) * 0.05 AS est_within_5pct",
          "TRUE AS merge_matches_global")
        val merged = daily
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("m"))
        val global = ev
          .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("g"),
            countDistinct(col("user_id")).as("n_exact"))
        val allRow = global.crossJoin(broadcast(merged)).selectExpr(
          "'ALL' AS slice", "n_exact",
          "abs(m - n_exact) <= CAST(n_exact AS DOUBLE) * 0.05 AS est_within_5pct",
          "abs(m - g) <= greatest(CAST(g AS DOUBLE) * 0.02, 1.0) AS merge_matches_global")
        dayRows.unionAll(allRow).orderBy("slice")
      },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS day,
             |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n FROM events GROUP BY 1)
             |SELECT CAST(day AS VARCHAR) AS slice, n AS n_exact,
             |  TRUE AS est_within_5pct, TRUE AS merge_matches_global FROM daily
             |UNION ALL
             |SELECT 'ALL', CAST(COUNT(DISTINCT user_id) AS BIGINT), TRUE, TRUE FROM events
             |ORDER BY slice""".stripMargin)),

    // Rolling 7-day active users from STORED daily sketches — the
    // query q_agg_hll_merge's materialization exists to serve. The
    // naive form re-scans 7 days of raw events per output day (7× read
    // amplification, growing with the window); the sketch form unions
    // 7 already-built few-KB sketches per day — the scan cost is paid
    // once at build, every window after that is metadata-sized. The
    // oracle pins the exact trailing-window distincts (computed from
    // the raw rows) and the 5%-accuracy boolean of each windowed union
    // estimate, same contract as q_agg_hll_merge.
    QueryDef(
      "q_agg_hll_rolling",
      (s, d) => {
        val pairs = Tables.events(s, d)
          .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
        val daily = pairs.groupBy("day")
          .agg(expr("hll_sketch_agg(user_id)").as("sk"))
          .localCheckpoint(true)
        val win = daily.as("a").join(daily.as("b"),
            datediff(col("a.day"), col("b.day")).between(0, 6))
          .groupBy(col("a.day").as("day"))
          .agg(expr("hll_sketch_estimate(hll_union_agg(b.sk))").as("est"),
            count(lit(1)).as("window_days"))
        val exact = pairs.as("p").join(
            daily.select(col("day").as("wday")).as("w"),
            datediff(col("wday"), col("p.day")).between(0, 6))
          .groupBy(col("wday").as("day"))
          .agg(countDistinct(col("user_id")).as("n_exact"))
        exact.join(win, "day")
          .selectExpr("CAST(day AS STRING) AS day", "n_exact", "window_days",
            "abs(est - n_exact) <= CAST(n_exact AS DOUBLE) * 0.05 AS est_within_5pct")
          .orderBy("day")
      },
      Some("""WITH pairs AS (
             |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
             |days AS (SELECT DISTINCT day FROM pairs),
             |ex AS (
             |  SELECT w.day,
             |    CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS n_exact,
             |    (SELECT CAST(COUNT(*) AS BIGINT) FROM days d2
             |     WHERE date_diff('day', d2.day, w.day) BETWEEN 0 AND 6) AS window_days
             |  FROM days w JOIN pairs p
             |    ON date_diff('day', p.day, w.day) BETWEEN 0 AND 6
             |  GROUP BY w.day)
             |SELECT CAST(day AS VARCHAR) AS day, n_exact, window_days,
             |  TRUE AS est_within_5pct
             |FROM ex ORDER BY day""".stripMargin)),

    // Mergeable HISTOGRAM sketches — the quantile analog of
    // q_agg_hll_merge: each day materializes a fixed 64-bin count
    // histogram of `value` (a few hundred bytes), and any rollup
    // percentile is answered from the SUMMED bins, never a re-scan or
    // a re-sort of raw rows. Unlike a t-digest the state is fully
    // deterministic (bin = value div 8, integer counts), so the oracle
    // replays the sketch EXACTLY — per-day p95 bins, the merged-bin
    // p95, and the one-bin-accuracy boolean against each engine's own
    // exact interpolated percentile. Error is bounded by the bin width
    // by construction; the boolean makes it a checked value.
    QueryDef(
      "q_agg_hist_merge",
      (s, d) => {
        val binned = Tables.events(s, d)
          .selectExpr("CAST(ts AS DATE) AS day",
            "CAST(least(63.0, floor(value / 8.0)) AS INT) AS bin", "value")
        val daily = binned.groupBy("day", "bin")
          .agg(count(lit(1)).as("c"))
          .localCheckpoint(true)
        def p95bin(df: org.apache.spark.sql.DataFrame, keys: Seq[String]) = {
          import org.apache.spark.sql.expressions.Window
          val part = if (keys.isEmpty) Window.partitionBy(lit(1))
                     else Window.partitionBy(keys.map(col): _*)
          val w = part.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
          df.withColumn("cum", sum(col("c")).over(w))
            .withColumn("tot", sum(col("c")).over(part))
            .filter(col("cum") * 20 >= col("tot") * 19)
            .groupBy(keys.map(col): _*)
            .agg(min(col("bin")).as("p95_bin"), max(col("tot")).as("n"))
        }
        val dayRows = p95bin(daily, Seq("day"))
          .selectExpr("CAST(day AS STRING) AS slice", "n", "p95_bin")
        val merged = p95bin(
          daily.groupBy("bin").agg(sum(col("c")).as("c")), Seq.empty)
        val exact = Tables.events(s, d)
          .agg(expr("percentile(value, 0.95)").as("p95_exact"))
        val allRow = merged.crossJoin(exact)
          .selectExpr("'ALL' AS slice", "n", "p95_bin",
            "p95_exact >= p95_bin * 8.0 - 1e-9 AND p95_exact < (p95_bin + 1) * 8.0 + 1e-9 AS within_bin")
        dayRows.withColumn("within_bin", lit(true))
          .select("slice", "n", "p95_bin", "within_bin")
          .unionAll(allRow.select("slice", "n", "p95_bin", "within_bin"))
          .orderBy("slice")
      },
      Some("""WITH b AS (
             |  SELECT CAST(ts AS DATE) AS day,
             |    CAST(least(63.0, floor(value / 8.0)) AS INT) AS bin, value
             |  FROM events),
             |daily AS (SELECT day, bin, COUNT(*) AS c FROM b GROUP BY 1, 2),
             |dd AS (
             |  SELECT day, bin, c,
             |    SUM(c) OVER (PARTITION BY day ORDER BY bin
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |    SUM(c) OVER (PARTITION BY day) AS tot
             |  FROM daily),
             |dayrows AS (
             |  SELECT CAST(day AS VARCHAR) AS slice, CAST(MAX(tot) AS BIGINT) AS n,
             |    CAST(MIN(bin) AS INT) AS p95_bin, TRUE AS within_bin
             |  FROM dd WHERE cum * 20 >= tot * 19 GROUP BY day),
             |m AS (SELECT bin, SUM(c) AS c FROM daily GROUP BY 1),
             |mm AS (
             |  SELECT bin, SUM(c) OVER (ORDER BY bin
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |    SUM(c) OVER () AS tot
             |  FROM m),
             |mr AS (SELECT CAST(MIN(bin) AS INT) AS p95_bin,
             |    CAST(MAX(tot) AS BIGINT) AS n
             |  FROM mm WHERE cum * 20 >= tot * 19),
             |ex AS (SELECT quantile_cont(value, 0.95) AS p95_exact FROM events)
             |SELECT slice, n, p95_bin, within_bin FROM dayrows
             |UNION ALL
             |SELECT 'ALL', n, p95_bin,
             |  p95_exact >= p95_bin * 8.0 - 1e-9 AND p95_exact < (p95_bin + 1) * 8.0 + 1e-9
             |FROM mr, ex
             |ORDER BY slice""".stripMargin)),

    // Weighted percentile (weighted median of price, weight = quantity)
    // per group — the inventory-weighted "typical price" plain median
    // misstates. Exact and distributed: collapse to per-(group, value)
    // weight sums (map-side combined — the heavy reduction), cumulative
    // weight over the collapsed value domain (a per-group sort of
    // DISTINCT values, not rows), pick the first value whose cumulative
    // weight covers half the total. Everything is integer (cents ×
    // integer quantity), so the ½-total comparison is exact in both
    // engines. Same family as q_agg_percentile_global's bisection; the
    // window form is right while |distinct values| per group stays
    // sort-able — the bisection is the escape hatch past that.
    QueryDef(
      "q_agg_wpercentile",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val vw = Tables.lineitem(s, d)
          .selectExpr("l_returnflag AS flag",
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents",
            "CAST(l_quantity AS BIGINT) AS wt")
          .groupBy("flag", "cents")
          .agg(sum(col("wt")).as("w"))
        val cum = Window.partitionBy("flag").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, 0)
        val tot = Window.partitionBy("flag")
        vw.withColumn("cw", sum(col("w")).over(cum))
          .withColumn("tw", sum(col("w")).over(tot))
          .filter(col("cw") * 2 >= col("tw"))
          .groupBy("flag")
          .agg(min(col("cents")).as("wmedian_cents"),
            max(col("tw")).as("total_weight"))
          .orderBy("flag")
      },
      Some("""WITH vw AS (
             |  SELECT l_returnflag AS flag,
             |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
             |  FROM lineitem GROUP BY 1, 2),
             |c AS (
             |  SELECT flag, cents, w,
             |    CAST(SUM(w) OVER (PARTITION BY flag ORDER BY cents
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
             |    CAST(SUM(w) OVER (PARTITION BY flag) AS BIGINT) AS tw
             |  FROM vw)
             |SELECT flag, CAST(MIN(cents) AS BIGINT) AS wmedian_cents,
             |  CAST(MAX(tw) AS BIGINT) AS total_weight
             |FROM c WHERE cw * 2 >= tw
             |GROUP BY flag ORDER BY flag""".stripMargin)),

    // PERSISTED mergeable sketches across sessions — the piece of the
    // "incremental distinct at 100 TB" claim q_agg_hll_merge's single
    // plan can't witness: the union must work from the STORED sketch
    // BYTES alone, in a session that never saw the raw rows or the
    // in-memory frames. Session A builds the per-day HLL sketches and
    // writes them as a parquet store (binary sketch column + day);
    // a FRESH isolated session (own SQLConf, catalog, temp views —
    // `newSession()`; local[*] has one JVM/SparkContext by
    // construction, so this is the strongest in-process isolation)
    // re-reads the store cold and answers the global rollup from the
    // bytes. Oracle contract follows q_agg_hll_merge: exact day and
    // user counts from DuckDB, plus the 5%-accuracy boolean of the
    // from-store union estimate. A sketch that doesn't round-trip
    // through parquet serialization flips the boolean and fails the
    // driver hash. IncrementalSpec additionally appends a second
    // session's days to the store and pins union(all stored) ==
    // within-tolerance-of one-shot global.
    QueryDef(
      "q_agg_hll_persist",
      (s, d) => {
        val dir = graft.TmpSlices.dir("graft_hll_store", graft.TmpSlices.key(d))
        Tables.events(s, d)
          .select(to_date(col("ts")).as("day"), col("user_id"))
          .groupBy("day")
          .agg(expr("hll_sketch_agg(user_id)").as("sk"))
          .write.mode("overwrite").parquet(dir)
        val b = s.newSession()
        val fromStore = b.read.parquet(dir)
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"),
            count(lit(1)).as("n_days"))
        val exact = Tables.events(b, d)
          .agg(countDistinct(col("user_id")).as("n_exact"),
            countDistinct(to_date(col("ts"))).as("n_days_exact"))
        exact.crossJoin(broadcast(fromStore))
          .selectExpr("n_days", "n_days_exact", "n_exact",
            "n_days = n_days_exact AS store_complete",
            "abs(est - n_exact) <= CAST(n_exact AS DOUBLE) * 0.05 AS est_within_5pct")
      },
      Some("""SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
             |  CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days_exact,
             |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
             |  TRUE AS store_complete, TRUE AS est_within_5pct
             |FROM events""".stripMargin))
  )
}
