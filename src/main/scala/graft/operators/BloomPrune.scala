package graft.operators

import graft.functions.BloomFilterAgg
import graft.{Parity, QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Bloom-filter semi-join pruning queries (machinery in
  * [[graft.functions.BloomHash]]): build the bitmap over the small
  * side's keys with the distributive `bloom_agg`, broadcast the one-row
  * result with the house single-row crossJoin pattern, pre-filter the
  * big side with the codegen'd `bloom_might_contain` probe, then run
  * the EXACT semi-join over the survivors.
  *
  * Why this matters at 100 TB: a plain semi-join shuffles (or at best
  * broadcast-hashes) every fact row; the bloom probe rejects the
  * non-matching majority during the scan — before any exchange — for
  * kilobytes-to-megabytes of COUNT-sized broadcast state
  * ([[graft.functions.BloomHash.wordsFor]]: ~9.85 bits per build key,
  * FP ≈ 1%, 32 KiB floor / 16 MiB cap) and ~5 ALU probes per row. False
  * positives only cost a little pruning efficiency (the confirm join
  * removes them; the driver oracle hash-compares against a plain
  * semi-join), and false negatives are impossible by construction, so
  * the optimization is safe to apply blindly. This is the same
  * runtime-filter idea Spark's own `spark.sql.optimizer.runtime.
  * bloomFilter.enabled` applies to shuffle joins, expressed as an
  * explicit, oracle-checkable operator.
  */
object BloomPrune {
  import Parity._

  val defs: Seq[QueryDef] = Seq(

    // Semi-join prune: lineitems of urgent orders. The build side
    // (urgent order keys) aggregates to one bitmap sized from its own
    // COUNT (executed sizing, like the ANN variants — the round-8
    // fixed 32 KiB bitmap saturated at sf1's 300k keys and pruned only
    // 1.2%; sized, the prune holds ~79% at every scale); the probe
    // side scans lineitem once, keeps ~bloom-positive rows, and the
    // confirm semi-join only sees the pruned stream. Output pins the
    // exact survivor set per returnflag (count + key checksum + exact
    // decimal revenue), so a single false negative fails the hash gate.
    QueryDef(
      "q_join_bloom",
      (s, d) => {
        val keys = Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"))
        val bloomAgg = BloomFilterAgg.sized(keys.count())
        val bloom = keys.agg(bloomAgg(col("o_orderkey")).as("bits"))
        val pre = Tables.lineitem(s, d)
          .crossJoin(broadcast(bloom))
          .filter(expr("bloom_might_contain(bits, l_orderkey)"))
          .drop("bits")
        pre.join(keys, col("l_orderkey") === col("o_orderkey"), "left_semi")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_orderkey")).cast("bigint").as("key_checksum"),
            dsum(col("l_extendedprice"), 2).as("sum_price"))
          .orderBy("l_returnflag")
      },
      Some(s"""SELECT l_returnflag, COUNT(*) AS n_items,
              |  CAST(SUM(l_orderkey) AS BIGINT) AS key_checksum,
              |  ${sqlDsum("l_extendedprice", 2)} AS sum_price
              |FROM lineitem
              |WHERE l_orderkey IN
              |  (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
              |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Bloom-pruned exact decontamination: flag corpus documents whose
    // digest appears in the eval set (doc_id % 97 — the same held-out
    // slice q_decontaminate screens by shingle). The bloom key is
    // xxhash64(text) — applied identically on both sides, so membership
    // survives the probe exactly; the sha-256 confirm join settles any
    // xxhash collision. At 100 TB the eval set is tiny and static: its
    // bitmap is built once and every ingest batch pays only the scan-
    // time probe — no join at all for the overwhelmingly-clean majority.
    QueryDef(
      "q_decontaminate_bloom",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            sha2(col("text"), 256).as("dg"), xxhash64(col("text")).as("k"))
        val ev = docs.filter(col("doc_id") % 97 === 0)
        val bloomAgg = BloomFilterAgg.sized(ev.count())
        val bloom = ev.agg(bloomAgg(col("k")).as("bits"))
        val pre = docs.filter(col("doc_id") % 97 =!= 0)
          .crossJoin(broadcast(bloom))
          .filter(expr("bloom_might_contain(bits, k)"))
          .drop("bits")
        pre.join(ev.select("dg").distinct(), Seq("dg"), "left_semi")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_contaminated"),
            sum(col("doc_id")).cast("bigint").as("id_checksum"))
          .orderBy("lang")
      },
      Some("""WITH d AS (SELECT doc_id, lang, sha256(text) AS dg FROM documents),
             |ev AS (SELECT DISTINCT dg FROM d WHERE doc_id % 97 = 0)
             |SELECT lang, COUNT(*) AS n_contaminated,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_checksum
             |FROM d JOIN ev USING (dg)
             |WHERE d.doc_id % 97 <> 0
             |GROUP BY lang ORDER BY lang""".stripMargin))
  )
}
