package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed inclusive prefix sums over an ordered key — the two-pass
  * shape that replaces the classic scale-trap (one unpartitioned window
  * over the whole value domain, which serializes the relation through a
  * single task): range-partition on the key, run each partition's
  * running sums locally, then broadcast back one tiny per-partition
  * offset row. Wall-clock is two narrow passes regardless of n; the
  * only global structure is the [[Parts]]-row offset frame.
  *
  * Determinism: partition ids are pinned with `localCheckpoint` so the
  * local pass and the offset pass read the SAME physical partitioning
  * (re-planning between the two passes could otherwise re-split the
  * range bounds). Used by the two-sample CDF behind q_ks_test /
  * q_mannwhitney and the score CDF behind q_roc_auc.
  */
object PrefixSums {

  /** Range partitions of the local pass, and rows of the offset frame. */
  private val Parts = 32

  /** Adds `cum_<c>` (inclusive cumulative sum ordered by `x` ascending)
    * for each count column `c` in `cols`. Input must be one row per
    * distinct `x`; count columns must be integral (LongType) so the
    * offset addition stays exact. */
  def cumulate(df: DataFrame, x: String, cols: Seq[String]): DataFrame = {
    val g = df.repartitionByRange(Parts, col(x))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(true)
    val wLocal = Window.partitionBy("pid").orderBy(x)
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = cols.foldLeft(g)((acc, c) =>
      acc.withColumn(s"l_$c", sum(col(c)).over(wLocal)))
    // the offset frame is <= `Parts` rows — the ordered window over it
    // is bounded by construction, not by data volume
    val wPrefix = Window.orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val partials = cols.map(c => sum(col(c)).as(s"p_$c"))
    val offs0 = g.groupBy("pid").agg(partials.head, partials.tail: _*)
    val offs = cols.foldLeft(offs0)((acc, c) =>
        acc.withColumn(s"o_$c", coalesce(sum(col(s"p_$c")).over(wPrefix), lit(0L))))
      .select(col("pid") +: cols.map(c => col(s"o_$c")): _*)
    val joined = local.join(broadcast(offs), "pid")
    val out = cols.foldLeft(joined)((acc, c) =>
      acc.withColumn(s"cum_$c", col(s"l_$c") + col(s"o_$c")))
    out.select(col(x) +: cols.flatMap(c => Seq(col(c), col(s"cum_$c"))): _*)
  }
}
