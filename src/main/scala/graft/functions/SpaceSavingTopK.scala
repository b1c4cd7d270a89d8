package graft.functions

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, SparkSession, functions => F}

/** SpaceSaving (Metwally et al., "Efficient Computation of Frequent and
  * Top-k Elements in Data Streams", ICDT 2005) frequent-items sketch as
  * a typed Aggregator — the "novel sketch" class of custom aggregate
  * the built-in surface lacks (approx_count_distinct covers
  * cardinality, percentile covers quantiles; nothing covers heavy
  * hitters without a full groupBy).
  *
  * Guarantee: any item with true frequency > n/capacity is present in
  * the sketch, and a reported count never underestimates the item's
  * true count. The merge (summing counts, truncating to the top
  * `capacity`) preserves that guarantee, so Spark partial-aggregates
  * map-side: the shuffle carries `capacity` entries per partition
  * instead of one row per distinct item — what makes corpus-wide top-k
  * words feasible at 100 TB without a full-vocabulary shuffle.
  *
  * Results are (item, count, err) triples sorted by count desc.
  * Exact values are NOT merge-order deterministic (ties and error
  * terms depend on merge shape), so this is harness-checked against
  * the containment guarantee rather than oracle-hashed.
  *
  * Buffer is an immutable Map under Java serialization — small
  * (≤ capacity entries) and shuffled once per partition, so codec
  * overhead is noise; entries are (count, err).
  */
class SpaceSavingTopK(capacity: Int)
  extends Aggregator[String, Map[String, (Long, Long)], Seq[(String, Long, Long)]] {
  require(capacity > 0)

  override def zero: Map[String, (Long, Long)] = Map.empty

  override def reduce(
      buf: Map[String, (Long, Long)], item: String): Map[String, (Long, Long)] =
    buf.get(item) match {
      case Some((c, e)) => buf.updated(item, (c + 1, e))
      case None if buf.size < capacity => buf.updated(item, (1L, 0L))
      case None =>
        // evict the current minimum; its count seeds the newcomer's
        // count and error bound (the SpaceSaving replacement rule)
        val (minItem, (minC, _)) = buf.minBy { case (k, (c, _)) => (c, k) }
        (buf - minItem).updated(item, (minC + 1, minC))
    }

  override def merge(
      x: Map[String, (Long, Long)],
      y: Map[String, (Long, Long)]): Map[String, (Long, Long)] = {
    val combined = y.foldLeft(x) { case (acc, (k, (c, e))) =>
      acc.get(k) match {
        case Some((c0, e0)) => acc.updated(k, (c0 + c, e0 + e))
        case None => acc.updated(k, (c, e))
      }
    }
    if (combined.size <= capacity) combined
    else combined.toSeq
      .sortBy { case (k, (c, _)) => (-c, k) }
      .take(capacity)
      .toMap
  }

  override def finish(buf: Map[String, (Long, Long)]): Seq[(String, Long, Long)] =
    buf.toSeq.map { case (k, (c, e)) => (k, c, e) }
      .sortBy { case (k, c, _) => (-c, k) }

  override def bufferEncoder: Encoder[Map[String, (Long, Long)]] =
    org.apache.spark.sql.Encoders.javaSerialization

  override def outputEncoder: Encoder[Seq[(String, Long, Long)]] =
    ExpressionEncoder[Seq[(String, Long, Long)]]()
}

object SpaceSavingTopK {
  /** Counters kept by the SQL-registered sketch. */
  val Capacity = 32

  /** Register as SQL aggregate `topk_sketch(item)` (idempotent). */
  def ensureRegistered(spark: SparkSession): Unit =
    if (!spark.catalog.functionExists("topk_sketch")) {
      spark.udf.register("topk_sketch", F.udaf(new SpaceSavingTopK(Capacity)))
    }
}
