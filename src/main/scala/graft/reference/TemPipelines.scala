package graft.reference

import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StringType
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The reference's four pipelines as composable library functions
  * (SURVEY.md §3), Spark-native and broker-free via [[RecordTransport]].
  * The transport hands out an order-keeping parallel frame, so every
  * record is parsed once, in tasks.
  *
  * Deliberate fixes over the reference, semantics preserved:
  *  - `incrementalReplay` collects ONCE and iterates local rows — the
  *    reference calls `df.collect()[r]` inside its loop
  *    (`04_temincrementaltem.py:84`), moving O(n²) rows to the driver;
  *  - `batchConsume` caches only when both sinks run — the reference
  *    re-reads Kafka for the second action (SURVEY.md §3.2);
  *  - the CSV sink applies overwrite BEFORE terminal `.csv()` — the
  *    reference chains `.mode("overwrite")` after `.csv()`
  *    (`temReadFromTopic.py:102`), which can never take effect.
  */
object TemPipelines {

  /** S1: bounded CSV scan, explicit producer schema, header skipped
    * (`temDataRead.py:50-52`). */
  def readSeedCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(SensorSchema.producer)
      .option("header", "true").option("sep", ",")
      .csv(path)

  /** P1+P4+P5: drop the pandas index, project to the Kafka wire shape
    * (`temDataRead.py:77-79`). */
  def toKeyValue(df: DataFrame): DataFrame =
    df.drop("Unnamed: 0")
      .selectExpr("CAST(id AS STRING) AS key", "to_json(struct(*)) AS value")

  /** P1–P3: consumer parse — binary value → string → JSON struct →
    * flatten (`temReadFromTopic.py:80-83`). */
  def parseKeyValue(kv: DataFrame): DataFrame =
    kv.selectExpr("CAST(value AS STRING)")
      .select(from_json(col("value"), SensorSchema.consumer).as("data"))
      .select("data.*")

  /** P6: the horizontal ten-sensor mean, null-propagating, float
    * arithmetic, parenthesized column name preserved
    * (`temReadFromTopic.py:78-84`). */
  def withTemAvg(df: DataFrame): DataFrame =
    df.withColumn("Tem(Avg)", SensorSchema.TCols.map(col).reduce(_ + _) / lit(10))

  /** Entry point #4 (`temDataRead.py`): seed the topic from a CSV in one
    * batch write. Returns the number of records written, counted in the
    * write's own tasks, so the CSV is scanned once whatever the transport.
    * (A `Dataset.observe` count never completes when the write runs as a
    * V1 data-source command, which is how `format("kafka").save()` runs.) */
  def seedProduce(spark: SparkSession, csvPath: String, transport: RecordTransport): Long = {
    val written = spark.sparkContext.longAccumulator
    // The Java UDF form skips the Scala-reflection encoder lookup, which
    // cost ~10 ms per call.
    val tally = udf(new UDF1[String, String] {
      override def call(key: String): String = { written.add(1); key }
    }, StringType).asNondeterministic()
    val kv = toKeyValue(readSeedCsv(spark, csvPath))
    transport.writeBatch(kv.withColumn("key", tally(col("key"))))
    written.sum
  }

  /** Entry point #3 (`04_temincrementaltem.py`): ordered, throttled
    * per-row replay — the simulated live sensor (~2 rows/s at the
    * reference's 500 ms). Collect-once, then a driver loop; at scale the
    * replay source would be a rate-limited stream, but ordered 1-row
    * emission is inherently a driver concern. */
  def incrementalReplay(
      spark: SparkSession,
      csvPath: String,
      transport: RecordTransport,
      sleepMs: Long = 500L): Long = {
    val rows = toKeyValue(readSeedCsv(spark, csvPath)).collect()
    rows.foreach { r =>
      transport.send(r.getString(0), r.getString(1))
      if (sleepMs > 0) Thread.sleep(sleepMs)
    }
    rows.length.toLong
  }

  /** Entry point #2 (`temReadFromTopic.py`): batch consume — parse,
    * derive `Tem(Avg)`, show up to 50 rows untruncated, optionally write
    * pipe-delimited CSV (header, overwrite). Returns the derived frame,
    * cached only when both actions read it. */
  def batchConsume(
      spark: SparkSession,
      transport: RecordTransport,
      csvOut: Option[String] = None,
      show: Boolean = true): DataFrame = {
    val parsed = withTemAvg(parseKeyValue(transport.readBatch(spark)))
    val out = if (show && csvOut.nonEmpty) parsed.cache() else parsed
    if (show) out.show(50, truncate = false)
    csvOut.foreach { path =>
      out.write.mode(SaveMode.Overwrite)
        .option("header", "true").option("sep", "|")
        .csv(path)
    }
    out
  }

  /** Entry point #1 (`03_temStreamEveryMin.py`): streaming consume — the
    * same parse + derive over an unbounded (key,value) frame, coalesced
    * to one partition, append mode, processing-time trigger, console
    * sink. The input stream comes from Kafka in production or
    * `MemoryStream` in tests; format/trigger are parameters so tests can
    * capture output. */
  def streamConsume(
      kvStream: DataFrame,
      trigger: Trigger = Trigger.ProcessingTime("1 minute"),
      format: String = "console",
      queryName: String = "streaming_to_console",
      options: Map[String, String] = Map("numRows" -> "25", "truncate" -> "false")): StreamingQuery =
    withTemAvg(parseKeyValue(kvStream))
      .coalesce(1)
      .writeStream
      .queryName(queryName)
      .trigger(trigger)
      .outputMode("append")
      .format(format)
      .options(options)
      .start()
}
