package graft.functions

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, SparkSession, functions => F}

/** Typed UDAF (SURVEY.md §2.2 "UDF/UDAF": "typed UDAF →
  * Aggregator[IN, BUF, OUT]; declared use: MinHash-signature
  * aggregator"): folds individual shingle hashes into a k-permutation
  * MinHash signature.
  *
  * This is a *distributive* sketch — `reduce` folds one hash into the
  * running element-wise minimum, `merge` combines two partial
  * signatures — so Spark executes it with map-side partial aggregation
  * and the shuffle carries one k-long signature per (partition × doc),
  * never the shingle stream. That merge-ability is exactly what makes
  * MinHash viable at 100 TB, and it's the property the HOF formulation
  * (array_min over a materialized array) can't express incrementally.
  */
class MinHashSignature extends Aggregator[Long, Array[Long], Seq[Long]] {

  override def zero: Array[Long] = MinHashSigs.zero

  override def reduce(buf: Array[Long], s: Long): Array[Long] = MinHashSigs.fold(buf, s)

  override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
    var i = 0
    while (i < x.length) { if (y(i) < x(i)) x(i) = y(i); i += 1 }
    x
  }

  override def finish(buf: Array[Long]): Seq[Long] = buf.toSeq

  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()

  override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
}

object MinHashSignature {
  /** Register as the SQL aggregate `minhash_sig(hash)` (idempotent). */
  def ensureRegistered(spark: SparkSession): Unit =
    if (!spark.catalog.functionExists("minhash_sig")) {
      spark.udf.register("minhash_sig", F.udaf(new MinHashSignature()))
    }
}
