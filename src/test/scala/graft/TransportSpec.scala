package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.reference.{InMemoryTransport, RecordTransport, SensorFixture, TemPipelines}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.{ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** The in-memory transport as a broker-shaped log (bytes in write order,
  * handed out as a parallel frame) and the batch pipeline over it: one
  * CSV scan to produce, the parse in tasks, a cache only for two sinks. */
class TransportSpec extends AnyFunSuite with TimeLimits {
  private lazy val spark = TestSpark.spark

  private def wire(rows: Seq[(String, String)]): Seq[(Seq[Byte], Seq[Byte])] =
    rows.map { case (k, v) => (k.getBytes(UTF_8).toSeq, v.getBytes(UTF_8).toSeq) }

  test("interleaved writeBatch/send/writeBatch read back in write order, byte for byte") {
    import spark.implicits._
    val first = (0 until 6).map(i => (s"k$i", s"""{"v":"é$i"}"""))
    val sent = ("k-sent", "ümlaut ✓ \u0000 tail")
    val last = (6 until 12).map(i => (s"k$i", s"v$i ☃"))
    val t = new InMemoryTransport
    t.writeBatch(first.toDF("key", "value"))
    t.send(sent._1, sent._2)
    t.writeBatch(last.toDF("key", "value"))
    assert(t.size === 13)

    val back = t.readBatch(spark)
    val slices = back.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(slices.count(_ > 0) > 1, s"records sit in one slice: ${slices.mkString(",")}")
    val got = back.collect().toSeq
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getAs[Array[Byte]](1).toSeq))
    assert(got === wire((first :+ sent) ++ last))
  }

  test("an empty transport reads back the binary (key, value) schema and no rows") {
    val back = new InMemoryTransport().readBatch(spark)
    assert(back.schema === StructType(Seq(
      StructField("key", BinaryType), StructField("value", BinaryType))))
    assert(back.count() === 0L)
  }

  test("batchConsume parses in tasks: no LocalRelation in the optimized plan") {
    val t = new InMemoryTransport
    TemPipelines.seedProduce(spark, SensorFixture.csv2, t)
    val out = TemPipelines.batchConsume(spark, t, csvOut = None, show = false)
    // A cached frame hides its source inside the InMemoryRelation's plan.
    val plan = out.queryExecution.optimizedPlan
    val folded = plan.exists {
      case _: LocalRelation => true
      case m: InMemoryRelation => m.cacheBuilder.cachedPlan.exists(_.isInstanceOf[LocalTableScanExec])
      case _ => false
    }
    assert(!folded, plan.treeString)
    assert(out.filter("id = 2799").select("`Tem(Avg)`").collect().map(_.getDouble(0)).toSeq ===
      Seq.fill(2)(24.41182861328125))
  }

  test("batchConsume caches only when both sinks run") {
    val t = new InMemoryTransport
    TemPipelines.toKeyValue(TemPipelines.readSeedCsv(spark, SensorFixture.csv2))
      .limit(3).collect().foreach(r => t.send(r.getString(0), r.getString(1)))
    for (show <- Seq(false, true); sink <- Seq(false, true)) {
      val csvOut = if (sink) Some(Files.createTempDirectory("graft_transport").toString) else None
      val out = TemPipelines.batchConsume(spark, t, csvOut, show)
      try assert((out.storageLevel != StorageLevel.NONE) === (show && sink), s"show=$show sink=$sink")
      finally out.unpersist()
    }
  }

  test("seedProduce scans the CSV in one Spark job and returns the record count") {
    val sc = spark.sparkContext
    val group = "transport_spec_seed_produce"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    val t = new InMemoryTransport
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "seedProduce")
      val n = try TemPipelines.seedProduce(spark, SensorFixture.csv2, t) finally sc.clearJobGroup()
      ListenerBusDrain(sc)
      assert(n === 1510L)
      assert(t.size === 1510)
      assert(jobs.get === 1)
    } finally sc.removeSparkListener(listener)
  }

  test("seedProduce counts through a V1 data-source write, the path the Kafka sink takes") {
    val t = new V1SinkTransport
    val n = failAfter(Span(120, Seconds))(TemPipelines.seedProduce(spark, SensorFixture.csv2, t))(
      ThreadSignaler)
    assert(n === 1510L)
  }
}

/** A transport whose batch write runs as a V1 data-source command, like
  * `KafkaTransport` (`format("kafka").save()`); the records are dropped. */
final class V1SinkTransport extends RecordTransport {
  override def writeBatch(kv: DataFrame): Unit =
    kv.write.format(classOf[DrainingSinkProvider].getName).save()
  override def send(key: String, value: String): Unit = ()
  override def readBatch(spark: SparkSession): DataFrame =
    new InMemoryTransport().readBatch(spark)
}

/** Runs the written plan in tasks and discards the rows, as the Kafka
  * writer runs `queryExecution.toRdd.foreachPartition`. */
final class DrainingSinkProvider extends CreatableRelationProvider {
  override def createRelation(ctx: SQLContext, mode: SaveMode, params: Map[String, String],
      data: DataFrame): BaseRelation = {
    data.queryExecution.toRdd.foreachPartition(_.foreach(_ => ()))
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = data.schema
    }
  }
}
