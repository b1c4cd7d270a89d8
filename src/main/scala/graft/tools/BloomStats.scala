package graft.tools

import graft.Tables
import graft.functions.BloomFilterAgg
import org.apache.spark.sql.functions._

/** Measures the bloom prune's selectivity for the BASELINE record: how
  * many probe-side rows each bloom query scans, how many survive the
  * COUNT-sized bitmap probe ([[BloomFilterAgg.sized]] /
  * `BloomHash.wordsFor` — the same bitmaps the operators build), and
  * how many are true members — so the "reject the non-matching
  * majority before any exchange" claim is a number, not a comment
  * (round-8 verdict, item 4).
  *
  * Usage: runMain graft.tools.BloomStats <sfDir>
  * Prints one JSON line per bloom query.
  */
object BloomStats {

  /** NaN is not valid JSON; an empty probe side prunes nothing. */
  private def prunedFrac(survivors: Long, scanned: Long): Double =
    if (scanned == 0L) 0.0 else 1.0 - survivors.toDouble / scanned

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: runMain graft.tools.BloomStats <sfDir>")
      sys.exit(2)
    }
    val d = args(0)
    val spark = graft.GraftSession.create(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

    // q_join_bloom's sides: urgent-order keys vs the lineitem stream.
    locally {
      val keys = Tables.orders(spark, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val bloomAgg = BloomFilterAgg.sized(keys.count())
      val bloom = keys.agg(bloomAgg(col("o_orderkey")).as("bits"))
      val li = Tables.lineitem(spark, d)
      val scanned = li.count()
      val survivors = li.crossJoin(broadcast(bloom))
        .filter(expr("bloom_might_contain(bits, l_orderkey)")).count()
      val members = li
        .join(keys, col("l_orderkey") === col("o_orderkey"), "left_semi").count()
      println(s"""{"query":"q_join_bloom","build_keys":${keys.count()},""" +
        s""""scanned":$scanned,"bloom_survivors":$survivors,""" +
        s""""true_members":$members,""" +
        s""""pruned_frac":${prunedFrac(survivors, scanned)}}""")
    }

    // q_decontaminate_bloom's sides: eval-slice digests vs the corpus.
    locally {
      val docs = Tables.documents(spark, d)
        .select(col("doc_id"), sha2(col("text"), 256).as("dg"),
          xxhash64(col("text")).as("k"))
      val ev = docs.filter(col("doc_id") % 97 === 0)
      val bloomAgg = BloomFilterAgg.sized(ev.count())
      val bloom = ev.agg(bloomAgg(col("k")).as("bits"))
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
      val scanned = corpus.count()
      val survivors = corpus.crossJoin(broadcast(bloom))
        .filter(expr("bloom_might_contain(bits, k)")).count()
      val members = corpus
        .join(ev.select("dg").distinct(), Seq("dg"), "left_semi").count()
      println(s"""{"query":"q_decontaminate_bloom","build_keys":${ev.count()},""" +
        s""""scanned":$scanned,"bloom_survivors":$survivors,""" +
        s""""true_members":$members,""" +
        s""""pruned_frac":${prunedFrac(survivors, scanned)}}""")
    }

    spark.stop()
  }
}
