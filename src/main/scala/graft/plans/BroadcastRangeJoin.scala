package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Whole-operator extension (the SURVEY §2 preference ladder's last
  * resort before mapPartitions): a broadcast RANGE join planned through
  * a custom logical node + [[SparkStrategy]] + [[SparkPlan]], registered
  * by [[graft.functions.GraftExtensions]].
  *
  * Why it exists: Spark plans a pure `point BETWEEN lo AND hi` join
  * with no equi-key as BroadcastNestedLoopJoin — O(|probe|·|build|)
  * comparisons. When the build side is an interval table that fits in a
  * broadcast, sorting it by `lo` once lets every probe row find its
  * matches in O(log m + k): binary-search the last interval starting
  * at-or-before the point, then walk left no further than the widest
  * interval reaches (any interval with `lo < point - maxWidth` has
  * `hi ≤ lo + maxWidth < point`). The probe side is NEVER moved: no
  * shuffle, no nested loop — a per-partition stream against an indexed
  * broadcast, the same cost shape as a broadcast hash join. Measured
  * at sf0.1 (600k probe rows x 24 windows, local[32], warm): 0.55 s vs
  * 3.69 s for the broadcast BNLJ of the same predicate — 6.7x, and the
  * gap grows linearly in the build-side interval count m.
  *
  * Scope (enforced, not assumed): INNER join, point/lo/hi of integral,
  * date, or timestamp type (all carried as Int/Long internally). The
  * declarative interval-bin alternative (q_join_interval) remains the
  * pure-DataFrame formulation; this node is the engine-extension
  * formulation of the same semantics, and the oracle + RangeJoinSpec
  * pin them equal.
  */
case class BroadcastRangeJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    point: Expression,
    lo: Expression,
    hi: Expression,
    asof: Boolean = false)
  extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): BroadcastRangeJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[BroadcastRangeJoin]] to its exec; every other node falls
  * through to the built-in strategies. */
object BroadcastRangeJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case BroadcastRangeJoin(l, r, point, lo, hi, asof) =>
      BroadcastRangeJoinExec(point, lo, hi, asof, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class BroadcastRangeJoinExec(
    point: Expression,
    lo: Expression,
    hi: Expression,
    asof: Boolean,
    left: SparkPlan,
    right: SparkPlan)
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastRangeJoinExec =
    copy(left = newLeft, right = newRight)

  /** Date is Int days, Timestamp is Long micros, integrals widen — one
    * comparable axis for the whole supported type scope. */
  private def toLong(v: Any): Long = v match {
    case i: java.lang.Integer => i.longValue
    case l: java.lang.Long    => l.longValue
    case s: java.lang.Short   => s.longValue
    case b: java.lang.Byte    => b.longValue
    case other => throw new IllegalArgumentException(
      s"broadcast range join supports integral/date/timestamp keys, got $other")
  }

  /** Build index: collected + sorted by lo ON THE DRIVER, broadcast
    * ONCE per plan instance — a lazy val so re-executing the same plan
    * (e.g. a cached DataFrame re-run, or two actions over one frame)
    * reuses the block instead of leaking a fresh broadcast per
    * doExecute call. "Broadcast-small by contract" is ENFORCED here,
    * not assumed: the collected UnsafeRow payload is size-checked
    * against the session's autoBroadcastJoinThreshold (the same knob
    * the built-in broadcast joins honor; a non-positive/disabled
    * threshold falls back to a 256 MiB hard cap) and a clear error
    * names the knob when the build side is too large. */
  @transient private lazy val builtIndex
      : org.apache.spark.broadcast.Broadcast[(Array[Long], Array[(Long, Long, InternalRow)])] = {
    val boundLo = BindReferences.bindReference(lo, right.output)
    val boundHi = BindReferences.bindReference(hi, right.output)
    val rows = right.executeCollect()
    val confCap = session.sessionState.conf.autoBroadcastJoinThreshold
    val cap = if (confCap > 0) confCap else 256L << 20
    var bytes = 0L
    rows.foreach {
      case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
        bytes += u.getSizeInBytes
      case _ => bytes += 64 // non-unsafe rows: conservative floor
    }
    if (bytes > cap) throw new IllegalStateException(
      s"broadcast range join build side is $bytes bytes (cap $cap); " +
        "it must fit in a broadcast — raise spark.sql.autoBroadcastJoinThreshold " +
        "or use the declarative interval-bin join (q_join_interval) for large builds")
    val collected = rows.flatMap { row =>
      val loV = boundLo.eval(row)
      val hiV = boundHi.eval(row)
      // NULL bounds match nothing, same as any join predicate
      if (loV == null || hiV == null) None
      else Some((toLong(loV), toLong(hiV), row))
    }
    val entries = collected.sortBy(_._1)
    session.sparkContext.broadcast((entries.map(_._1), entries))
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val bc = builtIndex
    val maxWidth = {
      val entries = bc.value._2
      if (entries.isEmpty) 0L
      else entries.iterator.map(e => e._2 - e._1).max.max(0L)
    }
    val boundPoint = BindReferences.bindReference(point, left.output)
    val attrs = output
    left.execute().mapPartitions { iter =>
      val (sortedLos, sorted) = bc.value
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(attrs, attrs)
      iter.flatMap { probeRow =>
        val pv = boundPoint.eval(probeRow)
        if (pv == null || sorted.isEmpty) Iterator.empty
        else {
          val p = toLong(pv)
          // last index with lo <= p (exclusive upper bound search)
          var leftI = 0
          var rightI = sortedLos.length
          while (leftI < rightI) {
            val mid = (leftI + rightI) >>> 1
            if (sortedLos(mid) <= p) leftI = mid + 1 else rightI = mid
          }
          val start = leftI - 1
          if (asof) {
            // the single build row with the greatest lo <= p (ties on
            // lo broken by build order — keep lo unique for totality)
            if (start < 0) Iterator.empty
            else Iterator.single(proj(joined(probeRow, sorted(start)._3)))
          } else {
          val floor = p - maxWidth
          new Iterator[InternalRow] {
            private var j = start
            private var ready: InternalRow = null
            private def advance(): Unit = {
              while (ready == null && j >= 0 && sorted(j)._1 >= floor) {
                val e = sorted(j)
                j -= 1
                if (e._2 >= p) ready = e._3
              }
            }
            override def hasNext: Boolean = { advance(); ready != null }
            override def next(): InternalRow = {
              advance()
              val r = ready; ready = null
              proj(joined(probeRow, r))
            }
          }
          }
        }
      }
    }
  }
}

/** Optimizer extension for the custom node: Catalyst's own filter
  * pushdown stops at operators it doesn't know, so `Filter(cond,
  * BroadcastRangeJoin(...))` would evaluate `cond` AFTER the join and
  * the probe scan would read every row. This [[org.apache.spark.sql
  * .catalyst.rules.Rule]] splits the conjunction and pushes each
  * single-sided deterministic predicate into its side — from where the
  * built-in FileSourceStrategy carries it all the way into the parquet
  * scan's PushedFilters (RangeJoinSpec pins that end state). Mixed-side
  * and non-deterministic conjuncts stay above the join. Registered via
  * `injectOptimizerRule` — with the expressions, the planner strategy,
  * and this rule, every SparkSessionExtensions extension point the
  * engine needs is exercised.
  */
object RangeJoinFilterPushdown
  extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
  with org.apache.spark.sql.catalyst.expressions.PredicateHelper {

  import org.apache.spark.sql.catalyst.expressions.And
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, j: BroadcastRangeJoin) =>
      // only the DETERMINISTIC PREFIX may move (Catalyst's own
      // PushDownPredicates rule's span(_.deterministic) contract):
      // pushing a deterministic conjunct past an earlier
      // non-deterministic one changes which row stream the
      // non-deterministic predicate observes
      val (candidates, tail) =
        splitConjunctivePredicates(cond).span(_.deterministic)
      val (leftOnly, rest1) = candidates.partition(p =>
        p.references.subsetOf(j.left.outputSet))
      val (rightOnly, keepPrefix) = rest1.partition(p =>
        p.references.subsetOf(j.right.outputSet))
      val keep = keepPrefix ++ tail
      if (leftOnly.isEmpty && rightOnly.isEmpty) f
      else {
        val newLeft =
          if (leftOnly.isEmpty) j.left else Filter(leftOnly.reduce(And), j.left)
        val newRight =
          if (rightOnly.isEmpty) j.right else Filter(rightOnly.reduce(And), j.right)
        val pushed = j.copy(left = newLeft, right = newRight)
        if (keep.isEmpty) pushed else Filter(keep.reduce(And), pushed)
      }
  }
}

/** DataFrame-level API over the custom node (column names resolved
  * against each side's analyzed output — no Column internals). */
object RangeJoins {

  private def attr(plan: LogicalPlan, n: String): Attribute =
    plan.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
      s"column '$n' not in [${plan.output.map(_.name).mkString(", ")}]"))

  /** The build side re-aliased with FRESH exprIds. A hand-built binary
    * node bypasses the analyzer's self-join deduplication, so a build
    * side sharing an unaliased column with the probe would put
    * duplicate exprIds in `output` — the projection then binds the
    * build column to the probe ordinal and silently mirrors the probe
    * value. One cheap Project makes every build attribute fresh. */
  private def freshened(r: LogicalPlan): LogicalPlan =
    org.apache.spark.sql.catalyst.plans.logical.Project(
      r.output.map(a =>
        org.apache.spark.sql.catalyst.expressions.Alias(a, a.name)()), r)

  /** The time/number axis must be ONE representation family: Date
    * evals to Int DAYS, both timestamp types to Long MICROS, integrals
    * to their numeric value — a mixed pair (e.g. a date probe against
    * timestamp bounds) would compare days against micros and silently
    * match nothing, so it is rejected instead, from the SCHEMAS,
    * before the node is built. */
  private def requireSameType(kind: String,
                              fields: org.apache.spark.sql.types.StructField*): Unit = {
    import org.apache.spark.sql.types._
    def family(f: StructField): String = f.dataType match {
      case DateType                          => "days"
      case TimestampType | TimestampNTZType  => "micros"
      case ByteType | ShortType | IntegerType | LongType => "integral"
      case other => throw new IllegalArgumentException(
        s"$kind join key ${f.name}: $other unsupported (integral/date/timestamp only)")
    }
    val fams = fields.map(family).distinct
    require(fams.size == 1,
      s"$kind key columns must share one time/number family, got " +
        fields.map(f => s"${f.name}: ${f.dataType}").mkString(", "))
  }

  private def field(df: org.apache.spark.sql.DataFrame,
                    n: String): org.apache.spark.sql.types.StructField =
    df.schema.fields.find(_.name == n).getOrElse(throw new IllegalArgumentException(
      s"column '$n' not in [${df.schema.fieldNames.mkString(", ")}]"))

  /** As-of enrichment against a broadcast-small versioned dimension:
    * each probe row joins the single build row with the greatest
    * `t` <= its `point` (probe rows before every version drop, inner
    * semantics — DuckDB's ASOF JOIN, which the oracle runs). Same
    * sorted-index exec in asof mode: O(log m) per probe row, probe
    * never moves. Keep `t` unique per build row — lo-ties would be
    * order-broken. */
  def broadcastAsofJoin(probe: org.apache.spark.sql.DataFrame,
                        build: org.apache.spark.sql.DataFrame,
                        point: String, t: String)
      : org.apache.spark.sql.DataFrame = {
    requireSameType("asof", field(probe, point), field(build, t))
    val l = probe.queryExecution.analyzed
    val r = freshened(build.queryExecution.analyzed)
    val (pA, tA) = (attr(l, point), attr(r, t))
    org.apache.spark.sql.GraftSqlBridge.ofRows(probe.sparkSession,
      BroadcastRangeJoin(l, r, pA, tA, tA, asof = true))
  }

  def broadcastRangeJoin(probe: org.apache.spark.sql.DataFrame,
                         build: org.apache.spark.sql.DataFrame,
                         point: String, lo: String, hi: String)
      : org.apache.spark.sql.DataFrame = {
    requireSameType("range",
      field(probe, point), field(build, lo), field(build, hi))
    val l = probe.queryExecution.analyzed
    val r = freshened(build.queryExecution.analyzed)
    val (pA, loA, hiA) = (attr(l, point), attr(r, lo), attr(r, hi))
    org.apache.spark.sql.GraftSqlBridge.ofRows(probe.sparkSession,
      BroadcastRangeJoin(l, r, pA, loA, hiA))
  }
}
