package graft

import java.nio.file.Files

import graft.reference.{InMemoryTransport, SensorFixture, TemPipelines}
import graft.streaming.EventStreams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink surface beyond parquet: JSON files, pipe-delimited CSV
  * sink with overwrite, and the foreachBatch streaming sink (SURVEY.md
  * §2.2 "Scans/sources/sinks": engine adds spark.read.json and
  * memory/foreachBatch stream sinks for testing).
  */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("JSON source round-trips the events table") {
    val dir = Files.createTempDirectory("graft_json").toString
    val events = Tables.events(spark, sf)
    // default timestampFormat truncates to milliseconds — write and read
    // micros explicitly or the round trip silently loses precision
    val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    events.write.mode("overwrite").option("timestampFormat", tsFmt).json(dir)
    // schema-first read back (JSON types are lossy without a schema)
    val back = spark.read.schema(events.schema).option("timestampFormat", tsFmt).json(dir)
    assert(back.count() === events.count())
    assert(back.exceptAll(events).count() === 0L)
    assert(events.exceptAll(back).count() === 0L)
  }

  test("parquet schema evolution: mergeSchema unions columns across file generations") {
    val dir = Files.createTempDirectory("graft_evolve").toString
    // generation 1: two columns; generation 2 adds a third — the shape a
    // long-lived ingest dir takes when the producer gains a field
    val docs = Tables.documents(spark, sf)
    docs.select("doc_id", "lang").limit(100)
      .write.mode("overwrite").parquet(dir)
    docs.select("doc_id", "lang", "n_chars")
      .filter(org.apache.spark.sql.functions.col("doc_id") >= 100).limit(100)
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq === Seq("doc_id", "lang", "n_chars"))
    assert(merged.count() === 200)
    // pre-evolution rows surface the new column as NULL, not an error
    assert(merged.filter("n_chars IS NULL").count() === 100)
    assert(merged.filter("n_chars IS NOT NULL").count() === 100)
  }

  test("ORC source round-trips the lineitem slice losslessly") {
    val dir = Files.createTempDirectory("graft_orc").toString
    val slice = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_suppkey", "l_linenumber", "l_returnflag", "l_shipdate")
    slice.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema === slice.schema)
    assert(back.exceptAll(slice).count() === 0L)
    assert(slice.exceptAll(back).count() === 0L)
  }

  test("Avro source round-trips the orders slice losslessly") {
    val dir = Files.createTempDirectory("graft_avro").toString
    val slice = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")
    slice.write.mode("overwrite").format(graft.sources.FileFormats.AvroFormat).save(dir)
    val back = spark.read.format(graft.sources.FileFormats.AvroFormat).load(dir)
    assert(back.exceptAll(slice).count() === 0L)
    assert(slice.exceptAll(back).count() === 0L)
  }

  test("text source round-trips the newline-free document lines losslessly") {
    val dir = Files.createTempDirectory("graft_text").toString
    val slice = Tables.documents(spark, sf).select("text")
    slice.write.mode("overwrite").text(dir)
    val back = spark.read.text(dir).withColumnRenamed("value", "text")
    assert(back.exceptAll(slice).count() === 0L)
    assert(slice.exceptAll(back).count() === 0L)
  }

  test("XML source round-trips the documents slice losslessly under an explicit schema") {
    val dir = Files.createTempDirectory("graft_xml").toString
    val slice = Tables.documents(spark, sf)
      .select("doc_id", "lang", "source", "text", "n_chars")
    slice.write.mode("overwrite").option("rowTag", "doc").format("xml").save(dir)
    val back = spark.read
      .schema("doc_id BIGINT, lang STRING, source STRING, text STRING, n_chars BIGINT")
      .option("rowTag", "doc").format("xml").load(dir)
      .select("doc_id", "lang", "source", "text", "n_chars")
    assert(back.exceptAll(slice).count() === 0L)
    assert(slice.exceptAll(back).count() === 0L)
  }

  test("pipe-CSV sink writes header + overwrite and reads back") {
    val dir = Files.createTempDirectory("graft_csv").toString
    val transport = new InMemoryTransport
    TemPipelines.seedProduce(spark, SensorFixture.csv2, transport)
    val out = TemPipelines.batchConsume(spark, transport, csvOut = Some(dir), show = false)
    // overwrite semantics: writing twice must not double the data
    TemPipelines.batchConsume(spark, transport, csvOut = Some(dir), show = false)
    val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".csv"))
    assert(files.nonEmpty)
    val first = scala.io.Source.fromFile(files.minBy(_.getName))
    val header = try first.getLines().next() finally first.close()
    assert(header.contains("|"), s"expected pipe-delimited header, got: $header")
    assert(header.contains("Tem(Avg)"))
    val back = spark.read.option("header", "true").option("sep", "|").csv(dir)
    assert(back.count() === 1510L)
    out.unpersist()
  }

  test("file-based streaming source replays parquet micro-batches") {
    val dir = Files.createTempDirectory("graft_fstream").toString
    val events = Tables.events(spark, sf)
    // The replay must be event-time-ordered: dedupStream carries a 1 h
    // watermark, and out-of-order file arrival can legitimately drop a
    // key whose only events sit far behind the advanced watermark —
    // arrival order is not part of the operator contract, so the test
    // pins it by writing event-time quartiles as mod-time-ascending
    // files (FileStreamSource replays oldest-first).
    val buckets = events.withColumn("b",
      ntile(4).over(org.apache.spark.sql.expressions.Window.orderBy("ts", "event_id")))
    (1 to 4).foreach { b =>
      buckets.filter(col("b") === b).drop("b")
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(20)
    }
    val stream = spark.readStream
      .schema(events.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = EventStreams.dedupStream(stream)
      .writeStream.format("memory").queryName("t_fsource").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_fsource").select("user_id", "event_type")
    val batch = events.select("user_id", "event_type").distinct()
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0L)
  }

  test("foreachBatch sink captures streaming micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventRow]
    val captured = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = EventStreams.dedupStream(mem.toDF())
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        captured.synchronized { captured += ((id, batch.count())) }
        ()
      }
      .start()
    try {
      mem.addData(Seq(
        EventRow(1, java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), 1, "click", 1.0),
        EventRow(2, java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), 1, "click", 2.0)))
      q.processAllAvailable()
      mem.addData(Seq(
        EventRow(3, java.sql.Timestamp.valueOf("2024-01-01 00:00:03"), 1, "view", 3.0)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = captured.synchronized(captured.toList)
    assert(rows.map(_._2).sum === 2L) // first click kept, dup dropped, view kept
    assert(rows.size >= 2)
  }
}
