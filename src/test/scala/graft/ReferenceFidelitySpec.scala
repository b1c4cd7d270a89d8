package graft

import graft.reference.{InMemoryTransport, SensorFixture, SensorSchema, TemPipelines}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Reference-fidelity tests (SURVEY.md §5): replay CSV fixtures with the
  * reference's documented profile ([[SensorFixture]], FIXTURES.md §A)
  * through the ported pipelines and golden-check the derived metric, the
  * JSON wire shape and the transport round trip.
  */
class ReferenceFidelitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val Csv2 = SensorFixture.csv2
  private lazy val SeedCsv = SensorFixture.seedCsv

  test("seed CSV reads with the producer schema: 6054 rows, unique ids") {
    val df = TemPipelines.readSeedCsv(spark, SeedCsv)
    assert(df.schema === SensorSchema.producer)
    assert(df.count() === 6054L)
    assert(df.select("id").distinct().count() === 6054L)
  }

  test("incremental CSV: 1510 rows, 755 ids each duplicated exactly twice") {
    val df = TemPipelines.readSeedCsv(spark, Csv2)
    assert(df.count() === 1510L)
    val perId = df.groupBy("id").count()
    assert(perId.count() === 755L)
    assert(perId.filter(col("count") =!= 2).count() === 0L)
  }

  test("Tem(Avg) golden value for csv2's first row (float arithmetic)") {
    val first = TemPipelines.withTemAvg(
        TemPipelines.readSeedCsv(spark, Csv2).drop("Unnamed: 0"))
      .filter(col("id") === 2799 && col("dateTime") === "2021-02-11 14:32:55")
      .select(col("`Tem(Avg)`"))
      .collect()
    assert(first.length === 2) // id 2799 is one of the duplicated ids
    // Left-associated float32 additions of T0..T9, then /10 in double —
    // the exact expression tree the reference builds
    // (temReadFromTopic.py:78-79).
    assert(first.map(_.getDouble(0)).toSeq === Seq.fill(2)(24.41182861328125))
  }

  test("JSON wire shape: string-typed TbottomTestTankHpCir stays quoted") {
    val kv = TemPipelines.toKeyValue(TemPipelines.readSeedCsv(spark, Csv2))
    val row = kv.filter(col("key") === "2799").select("value").collect().head
    val json = row.getString(0)
    assert(json.contains(""""TbottomTestTankHpCir":"23.6036""""))
    // numeric float fields serialize unquoted
    assert(json.contains(""""Tamb":18.6031"""))
  }

  test("JSON round-trip: from_json(to_json(row)) preserves every consumer field") {
    val src = TemPipelines.readSeedCsv(spark, Csv2).drop("Unnamed: 0")
    val back = TemPipelines.parseKeyValue(
      TemPipelines.toKeyValue(src)
        .selectExpr("CAST(key AS BINARY) AS key", "CAST(value AS BINARY) AS value"))
    assert(back.schema === src.schema.copy())
    assert(back.exceptAll(src).count() === 0L)
    assert(src.exceptAll(back).count() === 0L)
  }

  test("end-to-end: seedProduce → InMemoryTransport → batchConsume") {
    val transport = new InMemoryTransport
    val n = TemPipelines.seedProduce(spark, Csv2, transport)
    assert(n === 1510L)
    assert(transport.size === 1510)
    val out = TemPipelines.batchConsume(spark, transport, csvOut = None, show = false)
    assert(out.count() === 1510L)
    assert(out.columns.contains("Tem(Avg)"))
    assert(out.columns.length === 26) // 25 consumer fields + the derived column
    out.unpersist()
  }

  test("incrementalReplay emits rows in source order (collect-once fix)") {
    val transport = new InMemoryTransport
    val n = TemPipelines.incrementalReplay(spark, Csv2, transport, sleepMs = 0L)
    assert(n === 1510L)
    val keys = transport.readBatch(spark)
      .selectExpr("CAST(key AS STRING) AS k").collect().map(_.getString(0))
    assert(keys.length === 1510)
    assert(keys.head === "2799")
    assert(keys.last === "4071")
  }

  test("streamConsume: entry point #1 end-to-end over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)]
    val kvStream = mem.toDF()
      .selectExpr("CAST(_1 AS BINARY) AS key", "CAST(_2 AS BINARY) AS value")
    val q = TemPipelines.streamConsume(
      kvStream,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      format = "memory",
      queryName = "t_ref_stream",
      options = Map.empty)
    try {
      val kv = TemPipelines.toKeyValue(TemPipelines.readSeedCsv(spark, Csv2))
        .collect().map(r => (r.getString(0), r.getString(1)))
      mem.addData(kv.take(100).toSeq)
      q.processAllAvailable()
      mem.addData(kv.drop(100).take(50).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("t_ref_stream")
    assert(out.count() === 150L)
    assert(out.columns.contains("Tem(Avg)"))
    // the derived metric flows through the streaming plan identically
    val avg = out.filter(col("id") === 2799)
      .select(col("`Tem(Avg)`")).collect().head.getDouble(0)
    assert(avg === 24.41182861328125)
  }

  test("replay dedup: dropDuplicates on id halves csv2") {
    val df = TemPipelines.readSeedCsv(spark, Csv2)
    assert(df.dropDuplicates("id").count() === 755L)
  }
}
