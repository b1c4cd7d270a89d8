package graft

import graft.functions.{BloomFilterAgg, BloomHash}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BloomSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("bloom probe has zero false negatives over every inserted key") {
    val buf = new Array[Long](BloomHash.Words)
    val keys = (0L until 10000L).map(_ * 7919L + 13L)
    keys.foreach(BloomHash.setBits(buf, _))
    val bits = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(buf)
    assert(keys.forall(BloomHash.mightContain(bits, _)))
  }

  test("driver-side boxed probe derives the bit count from the bitmap — no false negatives at non-floor sizes") {
    // a COUNT-sized bitmap twice the floor: keys whose bits land in the
    // upper half would be missed by a probe that mods by the fixed
    // floor size (the pre-round-10 fallback bug)
    val words = BloomHash.Words * 2
    val buf = new Array[Long](words)
    val keys = (0L until 20000L).map(_ * 6361L + 7L)
    keys.foreach(BloomHash.setBits(buf, _))
    val boxed: Seq[Long] = buf.toSeq
    assert(keys.forall(BloomHash.mightContainBoxed(boxed, _)),
      "boxed probe must see every inserted key at a non-floor bitmap size")
    // and it agrees with the native probe on negatives too
    val bits = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(buf)
    val probes = (0L until 5000L).map(_ * 7919L + 3L)
    assert(probes.forall(k =>
      BloomHash.mightContainBoxed(boxed, k) === BloomHash.mightContain(bits, k)))
  }

  test("bitmap merge fails loudly on a size mismatch (distributive-union contract)") {
    val agg = new BloomFilterAgg(BloomHash.Words)
    val ex = intercept[IllegalArgumentException] {
      agg.merge(new Array[Long](BloomHash.Words), new Array[Long](BloomHash.Words * 2))
    }
    assert(ex.getMessage.contains("size mismatch"))
  }

  test("bloom FP rate at 10k keys stays near the sizing formula") {
    val buf = new Array[Long](BloomHash.Words)
    (0L until 10000L).foreach(k => BloomHash.setBits(buf, k * 7919L + 13L))
    val bits = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(buf)
    // disjoint probe set (different stride/offset, checked disjoint)
    val inserted = (0L until 10000L).map(_ * 7919L + 13L).toSet
    val probes = (0L until 20000L).map(_ * 7907L + 5L).filterNot(inserted)
    val fp = probes.count(BloomHash.mightContain(bits, _))
    // ideal (1 - e^(-kn/m))^k ≈ 1.6e-4 at n=10k, m=2^18, k=5; the
    // double-hashing scheme (Kirsch–Mitzenmacher) costs a small
    // constant factor over ideal — gate at ~30x to stay noise-proof
    // while still catching a broken mix (which measures ~1)
    assert(fp.toDouble / probes.size < 0.005, s"fp=$fp/${probes.size}")
  }

  test("native probe expression agrees with BloomHash.mightContain") {
    import spark.implicits._
    BloomFilterAgg.ensureRegistered(spark)
    val keys = (0L until 2000L).map(k => k * 31L).toDF("k")
    val bloom = keys.agg(expr("bloom_agg(k)").as("bits"))
    val probes = (0L until 4000L).map(k => k * 17L).toDF("p")
      .crossJoin(broadcast(bloom))
    // native catalyst expression (registered via GraftExtensions)
    val native = probes.filter(expr("bloom_might_contain(bits, p)"))
      .select("p").as[Long].collect().toSet
    // interpreted reference: same BloomHash over the collected bitmap
    val words = bloom.select("bits").as[Seq[Long]].head().toArray
    val bits = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(words)
    val expected = (0L until 4000L).map(_ * 17L)
      .filter(BloomHash.mightContain(bits, _)).toSet
    assert(native === expected)
    // membership: every inserted key that appears in the probe range
    val inserted = (0L until 2000L).map(_ * 31L).toSet
    assert(inserted.intersect((0L until 4000L).map(_ * 17L).toSet)
      .forall(native.contains))
  }

  test("bloom prefilter prunes the fact side and the final answer is exact") {
    BloomFilterAgg.ensureRegistered(spark)
    val keys = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val bloom = keys.agg(expr("bloom_agg(o_orderkey)").as("bits"))
    val li = Tables.lineitem(spark, sf)
    val pre = li.crossJoin(broadcast(bloom))
      .filter(expr("bloom_might_contain(bits, l_orderkey)"))
      .drop("bits")
    val exact = li.join(keys, col("l_orderkey") === col("o_orderkey"), "left_semi")
    val (nAll, nPre, nExact) = (li.count(), pre.count(), exact.count())
    // prunes (urgent ≈ 1/5 of orders), and never below the true set
    assert(nPre < nAll, s"no pruning: $nPre of $nAll")
    assert(nPre >= nExact)
    // confirm join over the pruned stream reproduces the exact set
    val confirmed = pre.join(keys, col("l_orderkey") === col("o_orderkey"), "left_semi")
    assert(confirmed.count() === nExact)
    assert(confirmed.exceptAll(exact).count() === 0L)
    assert(exact.exceptAll(confirmed).count() === 0L)
  }

  test("COUNT-sized bitmap: wordsFor clamps, and a non-floor size round-trips") {
    import spark.implicits._
    // clamping: floor at 32 KiB, ~9.85 bits/key in the working band,
    // 16 MiB cap with graceful FP degradation past it
    assert(BloomHash.wordsFor(0L) === BloomHash.Words)
    assert(BloomHash.wordsFor(10000L) === BloomHash.Words)
    assert(BloomHash.wordsFor(1000000L) ===
      math.ceil(1000000L * 9.85 / 64.0).toInt)
    assert(BloomHash.wordsFor(Long.MaxValue / 1000L) === BloomHash.MaxWords)
    // a bitmap built at a non-floor size has zero false negatives and
    // an FP rate near the ~1% target the sizing rule promises
    val n = 300000L
    val w = BloomHash.wordsFor(n)
    assert(w > BloomHash.Words, "test must exercise a non-floor size")
    val agg = BloomFilterAgg.sized(n)
    val keys = (0L until n).map(_ * 7919L + 13L)
    val bloom = keys.toDF("k").agg(agg(col("k")).as("bits"))
    val words = bloom.select("bits").as[Seq[Long]].head().toArray
    assert(words.length === w)
    val bits = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(words)
    assert(keys.take(20000).forall(BloomHash.mightContain(bits, _)))
    val inserted = keys.toSet
    val probes = (0L until 40000L).map(_ * 7907L + 5L).filterNot(inserted)
    val fp = probes.count(BloomHash.mightContain(bits, _))
    assert(fp.toDouble / probes.size < 0.05, s"fp=$fp/${probes.size}")
  }

  test("bloom_agg skips null keys instead of rejecting the row") {
    import spark.implicits._
    BloomFilterAgg.ensureRegistered(spark)
    val keys: Seq[java.lang.Long] =
      Seq[java.lang.Long](3L, null, 17L, null, 99L)
    val bloom = keys.toDF("k").agg(expr("bloom_agg(k)").as("bits"))
    val words = bloom.select("bits").as[Seq[Long]].head().toArray
    val bits = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(words)
    // non-null keys are members; the nulls neither crash nor set bits
    // beyond those keys' (bit-count pinned to the 3-key insertion)
    assert(Seq(3L, 17L, 99L).forall(BloomHash.mightContain(bits, _)))
    val expected = new Array[Long](BloomHash.Words)
    Seq(3L, 17L, 99L).foreach(BloomHash.setBits(expected, _))
    assert(words.sameElements(expected))
  }

  test("bloom decontamination catches planted duplicates across the eval boundary") {
    // q_decontaminate_bloom on driver data returns 0 rows at sf0.01 —
    // the oracle gate never exercises the positive path (bloom survivor
    // + sha-256 confirm). Plant exact-duplicate texts across the
    // doc_id % 97 boundary in a fixture table and pin the hits.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bloomfix").toString
    val docs = Seq(
      // eval slice: doc_id % 97 == 0
      (0L, "en", "alpha text"), (97L, "en", "beta text"), (194L, "de", "gamma text"),
      // corpus: two en dups, one de dup, three clean
      (5L, "en", "beta text"), (42L, "en", "alpha text"), (101L, "de", "gamma text"),
      (1L, "en", "clean one"), (2L, "de", "clean two"), (3L, "fr", "clean three"))
      .toDF("doc_id", "lang", "text")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q_decontaminate_bloom")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === Map("en" -> (2L, 47L), "de" -> (1L, 101L)))
  }

  test("attribution twin matches the stream-stream join's pair semantics") {
    // every attributed (purchase, signup) the batch twin selects must be
    // one of the pairs the streaming join would emit: same user, signup
    // within (p_ts - 24h, p_ts]
    val ev = Tables.events(spark, sf)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"),
        col("event_id").as("signup_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    val pairs = purchases.join(signups,
      col("p_user") === col("s_user")
        && col("s_ts") <= col("p_ts")
        && col("s_ts") >= col("p_ts") - expr("INTERVAL 24 HOURS"))
    val lastTouch = pairs.groupBy("purchase_id")
      .agg(max(struct(col("s_ts"), col("signup_id"))).as("m"))
      .select(col("purchase_id"), col("m.signup_id").as("signup_id"))
    // last-touch picks exactly one pair per attributed purchase, and it
    // is a member of the full pair relation
    assert(lastTouch.count() ===
      pairs.select("purchase_id").distinct().count())
    assert(lastTouch.join(pairs.select("purchase_id", "signup_id").distinct(),
      Seq("purchase_id", "signup_id"), "left_anti").count() === 0L)
  }
}
