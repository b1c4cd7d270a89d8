package graft.reference

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable.ArrayBuffer

/** Record transport abstraction over the reference's Kafka hop.
  *
  * The reference hard-wires MSK: producers write (key,value) with
  * `write.format("kafka")` (`temDataRead.py:77-83`), consumers read with
  * `spark.read.format("kafka")` + IAM/SASL options
  * (`temReadFromTopic.py:36-59`). Our engine keeps the exact (key,value)
  * projection semantics but puts the wire behind this trait so the
  * pipelines are testable without a broker (the CI image has no Kafka
  * jars); [[KafkaTransport]] builds the same option set from plain
  * config instead of SSM (`temDataRead.py:85-95`).
  */
trait RecordTransport {

  /** Batch-write a (key STRING, value STRING) DataFrame. */
  def writeBatch(kv: DataFrame): Unit

  /** Send a single record — the incremental producer's per-row emission
    * (`04_temincrementaltem.py:87-94`). */
  def send(key: String, value: String): Unit

  /** Bounded read-back of everything written so far, with the Kafka wire
    * shape: key/value as BINARY (consumers cast back to string —
    * `temReadFromTopic.py:81`). */
  def readBatch(spark: SparkSession): DataFrame
}

/** In-memory transport for tests and local runs. Records are held as
  * bytes, as on the Kafka wire, in write order like a single-partition
  * topic. [[readBatch]] hands them out as an order-keeping parallel frame
  * (one slice per core), so consumers parse in tasks and Catalyst never
  * folds the parse into a `LocalRelation` while it plans. */
final class InMemoryTransport extends RecordTransport {
  private val buf = ArrayBuffer.empty[Row]

  override def writeBatch(kv: DataFrame): Unit = {
    val rows = kv.selectExpr("CAST(key AS BINARY) AS key", "CAST(value AS BINARY) AS value")
      .collect()
    buf.synchronized { buf ++= rows }
  }

  override def send(key: String, value: String): Unit =
    buf.synchronized { buf += Row(InMemoryTransport.bytes(key), InMemoryTransport.bytes(value)) }

  override def readBatch(spark: SparkSession): DataFrame = {
    val snapshot = buf.synchronized { buf.toVector }
    val sc = spark.sparkContext
    spark.createDataFrame(sc.parallelize(snapshot, sc.defaultParallelism), InMemoryTransport.wireSchema)
  }

  def size: Int = buf.synchronized { buf.size }
}

object InMemoryTransport {

  /** The Kafka source's (key, value) columns. */
  private val wireSchema: StructType = StructType(Seq(
    StructField("key", BinaryType), StructField("value", BinaryType)))

  /** UTF-8 bytes; a null key (unkeyed record) or value (tombstone) stays null. */
  private def bytes(s: String): Array[Byte] = if (s == null) null else s.getBytes(UTF_8)
}

/** Kafka/MSK config — the plain-config replacement for the reference's
  * SSM parameter lookups. `saslIam = true` reproduces the MSK IAM auth
  * option block (`temReadFromTopic.py:44-57`,
  * `03_temStreamEveryMin.py:48-57`, `temDataRead.py:64-74`), including
  * the client truststore path the reference installs on every executor.
  * KafkaContractSpec golden-checks these maps key-for-key against the
  * reference scripts' literal option dicts. */
final case class KafkaConfig(
    bootstrapServers: String,
    topic: String,
    saslIam: Boolean = false,
    truststoreLocation: String = "/tmp/kafka.client.truststore.jks") {

  /** Streaming read options (`03_temStreamEveryMin.py:41-57`); the batch
    * consumer adds `endingOffsets=latest` (`temReadFromTopic.py:41-42`),
    * which [[KafkaTransport.readBatch]] appends. */
  def readOptions: Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrapServers,
    "subscribe" -> topic,
    "startingOffsets" -> "earliest") ++ authOptions

  def writeOptions: Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrapServers,
    "topic" -> topic) ++ authOptions

  private def authOptions: Map[String, String] =
    if (!saslIam) Map.empty
    else Map(
      "kafka.ssl.truststore.location" -> truststoreLocation,
      "kafka.security.protocol" -> "SASL_SSL",
      "kafka.sasl.mechanism" -> "AWS_MSK_IAM",
      "kafka.sasl.jaas.config" ->
        "software.amazon.msk.auth.iam.IAMLoginModule required;",
      "kafka.sasl.client.callback.handler.class" ->
        "software.amazon.msk.auth.iam.IAMClientCallbackHandler")
}

/** Real Kafka transport (integration-gated: requires the
  * spark-sql-kafka connector on the classpath and a reachable broker —
  * neither exists in CI, where [[InMemoryTransport]] substitutes). */
final class KafkaTransport(spark: SparkSession, cfg: KafkaConfig) extends RecordTransport {

  override def writeBatch(kv: DataFrame): Unit =
    kv.write.format("kafka").options(cfg.writeOptions).save()

  override def send(key: String, value: String): Unit = {
    import spark.implicits._
    writeBatch(Seq((key, value)).toDF("key", "value"))
  }

  override def readBatch(spark: SparkSession): DataFrame =
    spark.read.format("kafka")
      .options(cfg.readOptions + ("endingOffsets" -> "latest"))
      .load()
      .select("key", "value")
}
