package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the dedup family's shared candidate-pipeline kernels (band
  * self-join, candidate join-back, all-pairs Jaccard) and the entries
  * that consume the memoized MinHash pair relation. */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("dedup entries and the pair-relation consumers keep every output row") {
    // (row count : order-independent row-hash sum) per entry, in the
    // tembench suite's fingerprint form; pinned so that a change to a
    // shared kernel that shifts any row of any entry fails here, not
    // only in oracle parity
    val expected = Map(
      "q_dedup_exact" -> "500:107980000393060055417",
      "q_dedup_hash" -> "500:159363470508051449655",
      "q_dedup_minhash" -> "28:25122616742455251283",
      "q_dedup_sorted_neighborhood" -> "667:165907641083172407069",
      "q_split_leakage" -> "2:-12183919098417032883",
      "q_dedup_simhash" -> "26:-19870021591586888946",
      "q_dedup_simhash_wide" -> "16:917403450854094835",
      "q_dedup_simhash_sized" -> "26:1856481299182496707",
      "q_minhash_sig" -> "500:35874744420171927231",
      "q_dedup_ngram" -> "28:25122616742455251283",
      "q_contain_minhash" -> "28:47053910581570011680",
      "q_decontaminate" -> "236:36054905862917721768",
      "q_dedup_incremental" -> "50:-56993613191776330476",
      "q_dedup_substring" -> "28:-18554219419823789017",
      "q_dedup_substring_sampled" -> "27:4889817453172771722",
      "q_boilerplate" -> "20:13443754594190948832",
      "q_ngram_novelty" -> "5:17117489518061739858",
      "q_dedup_prefix_filter" -> "28:-24350525858751594172",
      "q_cdc_chunks" -> "5:7897842590280559300",
      "q_dedup_lsh_recall" -> "1:-988134441863834730",
      "q_dedup_threshold_curve" -> "3:-8517182574999767317",
      "q_dedup_cc" -> "45:47339974722092253563",
      "q_dedup_survivors" -> "1:6339232904527303143",
      "q_corpus_dedup_report" -> "20:-5096754827785873798")
    assert(operators.Dedup.defs.map(_.name).toSet.subsetOf(expected.keySet))
    val got = expected.keys.map { name =>
      name -> TestSpark.fingerprint(SparkEntry.queries(name)(spark, sf))
    }.toMap
    assert(got === expected)
  }

  test("sorted-neighborhood and incremental dedup read documents once per call") {
    // each Tables.documents call runs its own parquet schema job; the
    // session-memoized pair relation (and its shingle frame) is filled
    // first, so only the entries' own reads are counted
    val d = "/root/testdata/sf0.01"
    operators.Dedup.minhashPairs(spark, d)
    val sc = spark.sparkContext
    val group = "dedup_spec_documents_reads"
    val reads = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group &&
            e.stageInfos.exists(_.name.startsWith("parquet at Tables.scala")))
          reads.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      for (name <- Seq("q_dedup_sorted_neighborhood", "q_dedup_incremental")) {
        reads.set(0)
        sc.setJobGroup(group, name)
        try SparkEntry.queries(name)(spark, d) finally sc.clearJobGroup()
        ListenerBusDrain(sc)
        assert(reads.get === 1, name)
      }
    } finally sc.removeSparkListener(listener)
  }
}
