package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType}
import org.apache.spark.sql.{Encoder, SparkSession, functions => F}

/** Bloom-filter semi-join pruning: build a fixed-size bit set over the
  * small side's join keys with a distributive aggregate, broadcast the
  * one-row bitmap, and pre-filter the big side with a constant-time
  * probe BEFORE the exact join. The reference ships every row to a
  * downstream consumer unconditionally (`temDataRead.py` replay loop);
  * this is the standard lakehouse trick for the inverse problem —
  * discarding the 100 TB side's non-matching rows at scan time so the
  * exact semi-join only shuffles survivors.
  *
  * Correctness contract: the probe can return false positives (removed
  * by the mandatory exact confirm join downstream — the driver oracle
  * hash-compares the final answer against a plain semi-join) but never
  * false negatives (both sides derive positions from the same
  * [[BloomHash]] mix of the same key function, so every true member's
  * bits are set).
  *
  * Scale design: the aggregate is distributive — `reduce` ORs a key's
  * K bits into the partial bitmap, `merge` ORs two bitmaps — so the
  * shuffle carries one word array per partition, never the key stream;
  * the probe is a codegen'd K-probe loop against the broadcast bitmap
  * (no per-row allocation, no hashing library). The bit count is
  * carried by the bitmap itself (array length), so build and probe
  * cannot disagree about the size.
  *
  * Sizing: callers pass [[BloomHash.wordsFor]] of the build side's
  * COUNT — the same executed-sizing rule the ANN variants use
  * (`Similarity.lshBitsFor`). It targets ~9.85 bits/key, the optimum
  * for K=5 at FP ≈ 1% by (1 − e^(−Kn/m))^K, floored at the 32 KiB
  * minimum (2^18 bits — FP ≈ 1.6·10⁻⁴ at n = 10k) and capped at
  * 16 MiB (2^27 bits ≈ 13.6M keys at 1%): past the cap the filter
  * degrades toward a no-op prune, never to wrong answers, because
  * false positives only leak rows into the mandatory confirm join.
  * Round-8 BloomStats measured the cost of NOT sizing: the fixed
  * 32 KiB bitmap pruned 78.6% of lineitem at sf0.1 (30k build keys)
  * but only 1.2% at sf1 (300k keys > 262k bits — saturated).
  */
object BloomHash {

  /** 2^12 longs = 2^18 bits = 32 KiB — the sizing floor, and the size
    * of the SQL-registered `bloom_agg`'s bitmap. */
  val Words = 4096
  val Bits: Long = Words.toLong * 64L
  val K = 5

  /** 2^21 longs = 16 MiB — broadcast stays cheap; FP degrades
    * gracefully past ~13.6M build keys instead of the state growing. */
  val MaxWords: Int = 1 << 21

  /** Word count for a build side of `n` keys: ~9.85 bits/key (FP ≈ 1%
    * at K=5), clamped to [[Words]]..[[MaxWords]]. */
  def wordsFor(n: Long): Int = {
    val w = (n * 9.85 / 64.0).ceil.toLong
    math.min(MaxWords.toLong, math.max(Words.toLong, w)).toInt
  }

  /** SplitMix64 finalizer: the full-avalanche 64-bit mix (public
    * domain, Steele et al., "Fast splittable pseudorandom number
    * generators", OOPSLA'14). One mix feeds all K probes via double
    * hashing — h2 forced odd so probe strides never collapse.
    */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def setBits(buf: Array[Long], key: Long): Unit = {
    val nbits = buf.length.toLong << 6
    val h = mix(key)
    val h2 = (h >>> 32) | 1L
    var i = 0
    while (i < K) {
      val bit = (((h + i * h2) & Long.MaxValue) % nbits).toInt
      buf(bit >> 6) |= 1L << (bit & 63)
      i += 1
    }
  }

  /** [[mightContain]] over a driver-side bitmap, as TxLog's manifest
    * bloom skip reads it. */
  def mightContainBoxed(bits: Seq[Long], key: Long): Boolean =
    mightContain(ArrayData.toArrayData(bits.toArray), key)

  /** Probe shared by the interpreted eval AND the generated code (the
    * codegen template calls this static forwarder, the same pattern
    * Spark's own templates use for `DateTimeUtils`) — one source of
    * truth for the bit arithmetic, so eval and codegen cannot drift.
    * The bit count comes from the bitmap itself, so a probe against a
    * bitmap built at any size stays correct: probing a COUNT-sized
    * bitmap modulo the fixed floor size would read the wrong positions
    * and return false NEGATIVES (pinned by BloomSpec).
    */
  def mightContain(bits: ArrayData, key: Long): Boolean = {
    val nbits = bits.numElements().toLong << 6
    val h = mix(key)
    val h2 = (h >>> 32) | 1L
    var i = 0
    while (i < K) {
      val bit = (((h + i * h2) & Long.MaxValue) % nbits).toInt
      if ((bits.getLong(bit >> 6) & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }
}

/** Distributive bitmap-build aggregate. The input is BOXED
  * `java.lang.Long` precisely so null keys reach `reduce` and are
  * skipped explicitly — a primitive-`Long` Aggregator's non-nullable
  * deserializer would reject a null rather than skip it. Skipping
  * matches semi-join null semantics: a null member cannot be probed
  * either.
  */
class BloomFilterAgg(words: Int = BloomHash.Words)
    extends Aggregator[java.lang.Long, Array[Long], Seq[Long]] {
  override def zero: Array[Long] = new Array[Long](words)
  override def reduce(buf: Array[Long], key: java.lang.Long): Array[Long] = {
    if (key != null) BloomHash.setBits(buf, key.longValue())
    buf
  }
  override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
    // The distributive-union contract (bitmap OR across partials AND
    // across incrementally-admitted batches) only holds for same-sized
    // bitmaps — a mixed-size OR would silently drop tail bits; fail
    // loudly instead.
    require(x.length == y.length,
      s"bloom bitmap size mismatch: ${x.length} vs ${y.length} words")
    var i = 0
    while (i < x.length) { x(i) |= y(i); i += 1 }
    x
  }
  override def finish(buf: Array[Long]): Seq[Long] = buf.toSeq
  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
}

object BloomFilterAgg {
  /** Register as the SQL aggregate `bloom_agg(key)` (idempotent).
    * The SQL-registered form is fixed at the 32 KiB floor (a UDAF's
    * instance is bound at registration); COUNT-sized call sites use
    * [[sized]] as a column function instead. */
  def ensureRegistered(spark: SparkSession): Unit =
    if (!spark.catalog.functionExists("bloom_agg")) {
      spark.udf.register("bloom_agg",
        F.udaf(new BloomFilterAgg(), org.apache.spark.sql.Encoders.LONG))
    }

  /** A bitmap-build aggregate sized for `n` build keys (see
    * [[BloomHash.wordsFor]]) — callable directly on a Column. */
  def sized(n: Long): org.apache.spark.sql.expressions.UserDefinedFunction =
    F.udaf(new BloomFilterAgg(BloomHash.wordsFor(n)),
      org.apache.spark.sql.Encoders.LONG)
}

/** Native probe expression: `bloom_might_contain(bits, key)`. Stays
  * inside whole-stage codegen (the generated branch is a static call
  * into [[BloomHash.mightContain]] — no boxing, no lambda), so the
  * prune predicate costs a handful of ALU ops per scanned row.
  */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain expects (array<bigint>, bigint), got ($l, $r)")
    }

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "bloom_might_contain"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(bits: Any, key: Any): Any =
    BloomHash.mightContain(bits.asInstanceOf[ArrayData], key.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (bits, key) =>
      s"${ev.value} = graft.functions.BloomHash.mightContain($bits, $key);")
}
