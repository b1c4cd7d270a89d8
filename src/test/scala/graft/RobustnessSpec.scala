package graft

import java.util.concurrent.Executors

import graft.operators.{MediaRow, Multimodal}
import graft.reference.{SensorFixture, SensorSchema, TemPipelines}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** Edge-condition hardening: malformed input (the PERMISSIVE contract
  * from SURVEY.md §1.2), empty inputs, concurrent query execution in a
  * shared session, and binary payload round trips.
  */
class RobustnessSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("malformed JSON values parse to null rows (PERMISSIVE), valid ones survive") {
    import spark.implicits._
    val good = TemPipelines.toKeyValue(
        TemPipelines.readSeedCsv(spark, SensorFixture.csv2))
      .limit(1).collect().head.getString(1)
    val kv = Seq(
      ("1", good),
      ("2", "not json at all"),
      ("3", """{"id": "also-not-an-int"}"""),
      ("4", null.asInstanceOf[String]))
      .toDF("key", "value")
      .selectExpr("CAST(key AS BINARY) AS key", "CAST(value AS BINARY) AS value")
    val parsed = TemPipelines.withTemAvg(TemPipelines.parseKeyValue(kv))
    assert(parsed.count() === 4L)
    assert(parsed.filter(col("id").isNotNull).count() === 1L)
    assert(parsed.filter(col("`Tem(Avg)`").isNotNull).count() === 1L)
  }

  test("core transforms are total on empty input") {
    val emptySensor = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), SensorSchema.consumer)
    assert(TemPipelines.withTemAvg(emptySensor).count() === 0L)
    assert(TemPipelines.parseKeyValue(
      TemPipelines.toKeyValue(
        spark.createDataFrame(java.util.Collections.emptyList[Row](), SensorSchema.producer))
        .selectExpr("CAST(key AS BINARY) AS key", "CAST(value AS BINARY) AS value"))
      .count() === 0L)
    implicit val s = spark
    val emptyDocs = spark.createDataFrame(
      java.util.Collections.emptyList[Row](),
      Tables.documents(spark, sf).schema)
    assert(Multimodal.decodeFeatures(Multimodal.toMedia(emptyDocs)).count() === 0L)
  }

  test("queries run concurrently in one shared session") {
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val names = Seq("q_agg_group", "q_subquery_scalar", "q_subquery_in",
        "q_agg_groupingsets", "q_join_broadcast", "q_filter_basic",
        "q_subquery_scalar", "q_agg_groupingsets")
      val futures = names.map { n =>
        Future(n -> SparkEntry.queries(n)(spark, sf).count())
      }
      val results = Await.result(Future.sequence(futures), Duration("300s"))
      results.foreach { case (n, c) => assert(c > 0L, s"$n returned no rows") }
    } finally pool.shutdown()
  }

  test("FrameCache eviction is per-session: releasing one session leaves a sibling's frames live") {
    val sibling = spark.newSession()
    val mine = FrameCache.memo(spark, "rs:test")(
      Tables.documents(spark, sf).select("doc_id"))
    val theirs = FrameCache.memo(sibling, "rs:test")(
      Tables.documents(sibling, sf).select("doc_id"))
    assert(mine.count() === 500L && theirs.count() === 500L)
    // releasing the sibling must not touch this session's entry: the
    // memoized frame must come back identical (same cached instance)
    FrameCache.release(sibling)
    val again = FrameCache.memo(spark, "rs:test")(
      sys.error("cache miss after sibling release"): org.apache.spark.sql.DataFrame)
    assert(again.count() === 500L)
    // sibling's entry is gone: next memo rebuilds rather than reusing
    var rebuilt = false
    FrameCache.memo(sibling, "rs:test") {
      rebuilt = true
      Tables.documents(sibling, sf).select("doc_id")
    }
    assert(rebuilt, "sibling entry should have been evicted")
    FrameCache.release(sibling)
    FrameCache.release(spark) // leave no test residue for other suites
  }

  test("percentile groups whose value column is all-NULL surface with NULL values") {
    import spark.implicits._
    // group "b" has no non-null values: quantile_cont semantics (and the
    // DuckDB oracle) keep the group with a NULL percentile — it must not
    // vanish from the output.
    val df = Seq(("a", Some(1.0)), ("a", Some(3.0)), ("a", Some(2.0)),
        ("b", None), ("b", None))
      .toDF("g", "v")
    val out = operators.Aggregates.sortPercentiles(
        df, "g", Seq("v" -> Seq(0.5 -> "med")))
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out.keySet === Set("a", "b"))
    assert(out("a") === Some(2.0))
    assert(out("b") === None)
  }

  test("sub-shingle-length docs produce empty shingle and pair sets, not descending-sequence junk") {
    import spark.implicits._
    val df = Seq((1L, "one"), (2L, "two words"), (3L, "three word doc"))
      .toDF("doc_id", "text")
    val shingled = df.selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr("doc_id", s"${operators.Dedup.sparkShingles("toks")} AS g")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(shingled(1L).isEmpty && shingled(2L).isEmpty)
    assert(shingled(3L) === Seq("three word doc"))
    // pair transform guard: a 1-token doc yields zero pairs (unguarded
    // sequence(1, 0) would descend and emit a (tok, null) pair)
    val pairs = df.selectExpr(
        "explode(transform(CASE WHEN size(split(text, ' ')) >= 2 THEN sequence(1, size(split(text, ' ')) - 1) " +
          "ELSE CAST(array() AS ARRAY<INT>) END, " +
          "i -> struct(split(text, ' ')[i - 1] AS w1, split(text, ' ')[i] AS w2))) AS p")
      .collect()
    assert(pairs.length === 3) // 0 + 1 + 2 adjacent pairs
  }

  test("massive-tie percentiles terminate without collecting the tied mass") {
    import spark.implicits._
    // one group where 99% of values are identical: the bracket
    // degenerates to lo = hi at the sketch stage, the operator must
    // return that value WITHOUT buffering the tied mass (the lo = hi
    // early-exit — ties never inflate the collect), and the odd group
    // still selects exactly.
    val rows = (1 to 9999).map(_ => ("t", 7.0)) ++ Seq(("t", 100.0)) ++
      (1 to 100).map(i => ("u", i.toDouble))
    val out = operators.Aggregates.sortPercentiles(
        rows.toDF("g", "v"), "g", Seq("v" -> Seq(0.5 -> "med")), candLimit = 64)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("t") === 7.0)
    assert(out("u") === 50.5)
  }

  test("corpus balance keeps a single-language corpus intact (rate = 1 path)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_onelang").toString
    Tables.documents(spark, sf)
      .withColumn("lang", lit("xx"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val row = SparkEntry.queries("q_corpus_balance")(spark, dir).collect()
    assert(row.length === 1)
    // m = n_lang ⇒ threshold h·n < n·2³² ⇔ h < 2³², true for every
    // 32-bit hash — nothing may be dropped when nothing is overweight
    assert(row.head.getAs[Long]("n_kept") === row.head.getAs[Long]("n_before"))
  }

  test("incremental dedup of an all-new delta flags nothing") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_newdelta").toString
    // delta docs (doc_id % 10 = 7) get globally unique text: no exact
    // dup and no shared shingles with the base — every admission row
    // must come back clean
    Tables.documents(spark, sf)
      .selectExpr("doc_id",
        "IF(doc_id % 10 = 7, concat('uniq', doc_id, ' ', text, ' tail', doc_id), text) AS text",
        "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_dedup_incremental")(spark, dir).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => !r.getAs[Boolean]("exact_dup")), "no exact dups expected")
    FrameCache.release(spark) // the altered corpus must not leak into other suites
  }

  test("sub-shingle-length docs never band-collide into a tiny-doc clique") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tinydocs").toString
    // five tiny docs (empty shingle sets — NULL signatures) plus one
    // genuine near-dup pair; the tiny docs share nothing and must not
    // pair with anything, least of all each other
    val near = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq((1L, "one"), (2L, "two"), (3L, "a b"), (4L, "x y"), (5L, "solo"),
        (10L, near), (11L, near + " lambda"))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'xx' AS lang", "'t' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = operators.Dedup.minhashPairs(spark, dir)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((10L, 11L)), s"unexpected pairs: $pairs")
    FrameCache.release(spark)
  }

  test("binary media payloads round-trip through parquet bit-exactly") {
    implicit val s = spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_media").toString
    val media = Multimodal.toMedia(Tables.documents(spark, sf))
    media.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir).as[MediaRow]
    val before = Multimodal.decodeFeatures(media).collect().sortBy(_.doc_id).toSeq
    val after = Multimodal.decodeFeatures(back).collect().sortBy(_.doc_id).toSeq
    assert(before === after) // checksums identical ⇒ bytes identical
  }

  test("a failed bench warm-up fails the run and names itself") {
    val missing = java.nio.file.Files.createTempDirectory("graft_warmup").resolve("no_such_sf").toString
    val e = intercept[IllegalStateException](Bench.warmUp(spark, missing))
    assert(e.getMessage === s"warm-up q_scan_parquet failed on $missing")
    assert(e.getCause != null)
  }
}
