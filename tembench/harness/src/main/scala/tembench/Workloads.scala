package tembench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.reference.{InMemoryTransport, RecordTransport, TemPipelines}
import graft.SparkEntry
import org.apache.spark.TembenchBus
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, Observation, SQLContext, SparkSession}

/** What a workload needs from the harness: the work and input
  * directories, the tracer and, in a traced operation, the engine listener. */
final class Ctx(
    val work: String,
    val inputs: String,
    val tracer: Tracer) {
  var engine: Option[EngineListener] = None

  def dir(sub: String): String = { Files.createDirectories(Paths.get(work, sub)); s"$work/$sub" }

  /** Runs `body`; in a traced operation with the job group and listener
    * tag set to `tag`. Returns the result and its wall window (epoch ms). */
  def tagged[T](spark: SparkSession, tag: String)(body: => T): (T, Long, Long) = {
    engine.foreach { l =>
      l.tag = tag
      spark.sparkContext.setJobGroup(s"tb:$tag", tag, interruptOnCancel = false)
    }
    val t0 = System.currentTimeMillis()
    try {
      val r = body
      (r, t0, System.currentTimeMillis())
    } finally if (engine.nonEmpty) spark.sparkContext.clearJobGroup()
  }

  /** Engine counters of the tags matching `pred` over [lo, hi]; empty in
    * an untraced operation. */
  def engineStats(spark: SparkSession, pred: String => Boolean, lo: Long, hi: Long): Map[String, Double] =
    engine.map { l =>
      TembenchBus.drain(spark.sparkContext)
      l.stats(pred, lo, hi)
    }.getOrElse(Map.empty)
}

/** One operation's record, written to the result file. `wallS` covers
  * only the operation; the heap reading and output dumps come after it. */
final case class OpRecord(
    wallS: Double,
    rows: Long,
    heapMb: Double,
    layers: Map[String, Double],
    extra: Map[String, Any])

trait Workload {
  /** Untimed operations after the first one, sized from measurement so
    * that op times are close to flat across the timed window (README.md).
    * Part of `setup_s`. */
  def warmOps: Int
  /** The i-th operation. Throws on any failure. */
  def op(spark: SparkSession, i: Int): OpRecord
  /** Untimed output written once after the timed window, for the checks. */
  def finish(spark: SparkSession): Map[String, Any] = Map.empty
}

/** One full cycle of the paper over the seeded sensor CSV.
  *
  * Batch: `seedProduce` into an [[InMemoryTransport]], then `batchConsume`
  * into the pipe-CSV sink. Stream: the same wire records, read back from
  * the transport, go through `streamConsume` as a closed loop of
  * fixed-size chunks (add one chunk to a MemoryStream, wait for
  * `processAllAvailable`, then the next) into a memory sink. One query per
  * cycle; its sink is dumped for the checker and dropped afterwards. */
final class SensorPipeline(ctx: Ctx) extends Workload {
  private val csv = s"${ctx.inputs}/sensor.csv"
  private val chunkRows = 2500
  val warmOps = 4

  private def stream(spark: SparkSession, i: Int, transport: RecordTransport, name: String,
      ckpt: String): (StreamingQuery, Seq[Double], Double) = {
    import spark.implicits._
    implicit val sqlCtx: SQLContext = spark.sqlContext
    val tr = ctx.tracer
    val wire = transport.readBatch(spark).collect()
      .map(r => (new String(r.getAs[Array[Byte]](0), UTF_8), new String(r.getAs[Array[Byte]](1), UTF_8)))
    val mem = MemoryStream[(String, String)]
    val s0 = System.nanoTime()
    val q = tr.span("stream.start", i) {
      TemPipelines.streamConsume(mem.toDF().toDF("key", "value"), Trigger.ProcessingTime(0L),
        "memory", name, Map("checkpointLocation" -> ckpt))
    }
    val startMs = (System.nanoTime() - s0) / 1e6
    try {
      val batchMs = wire.grouped(chunkRows).map { chunk =>
        val t = System.nanoTime()
        tr.span("stream.batch", i) {
          mem.addData(chunk.toSeq)
          q.processAllAvailable()
        }
        (System.nanoTime() - t) / 1e6
      }.toSeq
      (q, batchMs, startMs)
    } finally q.stop()
  }

  /** Writes the sink's (id, Tem(Avg)) rows for the checker, then drops it. */
  private def dumpSink(spark: SparkSession, name: String, path: String): Long = {
    val rows = spark.table(name).select("id", "`Tem(Avg)`").collect()
    spark.catalog.dropTempView(name)
    spark.streams.resetTerminated()
    val text = rows.map(r => s"${r.get(0)},${r.get(1)}").mkString("", "\n", "\n")
    Files.write(Paths.get(path), text.getBytes(UTF_8))
    rows.length.toLong
  }

  def op(spark: SparkSession, i: Int): OpRecord = {
    val tr = ctx.tracer
    val inner = new InMemoryTransport
    val timed = ctx.engine.map(_ => new TimedTransport(inner, tr, i))
    val transport: RecordTransport = timed.getOrElse(inner)
    val dir = ctx.dir(s"ops/$i")
    val name = s"tb_sink_$i"
    val t0 = System.nanoTime()
    val (n, p0, p1) = ctx.tagged(spark, s"$i/produce") {
      tr.span("ref.produce", i)(TemPipelines.seedProduce(spark, csv, transport))
    }
    val (df, c0, c1) = ctx.tagged(spark, s"$i/consume") {
      tr.span("ref.consume", i)(TemPipelines.batchConsume(spark, transport, Some(s"$dir/batch"), show = false))
    }
    val ((q, batchMs, startMs), s0, s1) = ctx.tagged(spark, s"$i/stream") {
      tr.span("ref.stream", i)(stream(spark, i, transport, name, s"$dir/ckpt"))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    q.exception.foreach(e => throw e)

    // Untimed: the heap while the op's transport, cached frame and sink
    // are live, then the dumps for the checker.
    val heap = Heap.oldGenAfterGcMb()
    df.unpersist(blocking = true)
    val streamRows = dumpSink(spark, name, s"$dir/stream.csv")
    val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      Map("rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap)
    }
    val layers = timed.map { t =>
      val prod = ctx.engineStats(spark, _ == s"$i/produce", p0, p1)
      val cons = ctx.engineStats(spark, _ == s"$i/consume", c0, c1)
      ctx.engineStats(spark, _.startsWith(s"$i/"), p0, s1) ++ Map(
        "ref.produce_s" -> (p1 - p0) / 1e3,
        "ref.consume_s" -> (c1 - c0) / 1e3,
        "ref.stream_s" -> (s1 - s0) / 1e3,
        "ref.consume.stage_s" -> cons("spark.stage_s"),
        "ref.consume.driver_gap_s" -> cons("spark.driver_gap_s"),
        "ref.produce.input_bytes" -> prod("spark.input_bytes"),
        "ref.sink_bytes" -> dirBytes(new File(s"$dir/batch")).toDouble,
        "transport.write_s" -> t.writeNs / 1e9,
        "transport.read_s" -> t.readNs / 1e9,
        "transport.records" -> inner.size.toDouble,
        "stream.start_ms" -> startMs)
    }.getOrElse(Map.empty)
    OpRecord(wall, n, heap, layers, Map(
      "produced" -> n, "transport_records" -> inner.size, "stream_rows" -> streamRows,
      "sink" -> s"$dir/batch", "stream_sink" -> s"$dir/stream.csv",
      "batch_ms" -> (if (timed.nonEmpty) batchMs else Seq.empty),
      "progress" -> (if (timed.nonEmpty) progress else Seq.empty)))
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()
}

/** One pass over iterative and write-path headline entries on the seeded
  * tables, each forced through the noop sink. Every output also feeds an
  * observed (row count, row-hash sum) fingerprint, which must equal the
  * fingerprint of the output `finish` writes for the DuckDB oracle. */
final class MultistageSuite(ctx: Ctx) extends Workload {
  // The FrameCache-backed dedup family and a manifest (TxLog) commit;
  // README.md says which entries were left out and why.
  private val names = Seq("q_dedup_minhash", "q_dedup_prefix_filter", "q_tx_bloom_index")
  val warmOps = 12
  private val tables = s"${ctx.inputs}/tables"
  private val fns = names.map(n => n -> SparkEntry.queries(n))
  private val tmp = new File(sys.props("java.io.tmpdir"))
  private var seq = 0

  private def observed(df: DataFrame): (DataFrame, Observation) = {
    seq += 1
    val obs = Observation(s"tb_fp_$seq")
    val hash = xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*)
    (df.observe(obs, count(lit(1)).as("rows"), sum(hash.cast("decimal(38,0)")).as("hash")), obs)
  }

  private def fingerprint(obs: Observation): String = {
    val m = obs.get
    s"${m("rows")}:${m("hash")}"
  }

  private def force(spark: SparkSession, fn: (SparkSession, String) => DataFrame): String = {
    val (df, obs) = observed(fn(spark, tables))
    df.write.format("noop").mode("overwrite").save()
    fingerprint(obs)
  }

  /** Files and bytes the write-path entries leave under their tmpdir slices. */
  private def txFiles(): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = Option(tmp.listFiles()).toSeq.flatten.filter(_.getName.startsWith("graft_tx")).flatMap(walk)
    (files.size.toLong, files.map(_.length()).sum)
  }

  def op(spark: SparkSession, i: Int): OpRecord = {
    val tr = ctx.tracer
    val t0 = System.nanoTime()
    val per = fns.map { case (n, fn) =>
      val q0 = System.nanoTime()
      val (fp, lo, hi) = ctx.tagged(spark, s"$i/$n")(tr.span(s"query.$n", i)(force(spark, fn)))
      (n, fp, lo, hi, (System.nanoTime() - q0) / 1e9)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val heap = Heap.oldGenAfterGcMb()
    val layers = if (ctx.engine.isEmpty) Map.empty[String, Double] else {
      val storage = spark.sparkContext.getRDDStorageInfo
      val (txN, txBytes) = txFiles()
      ctx.engineStats(spark, _.startsWith(s"$i/"), per.head._3, per.last._4) ++
        per.flatMap { case (n, _, lo, hi, secs) =>
          val e = ctx.engineStats(spark, _ == s"$i/$n", lo, hi)
          Seq(s"query.$n.s" -> secs, s"query.$n.jobs" -> e("spark.jobs"),
            s"query.$n.driver_gap_s" -> e("spark.driver_gap_s"))
        } ++ Map(
          "framecache.entries" -> storage.length.toDouble,
          "framecache.bytes" -> storage.map(s => s.memSize + s.diskSize).sum.toDouble,
          "txlog.files_written" -> txN.toDouble,
          "txlog.output_bytes" -> txBytes.toDouble)
    }
    OpRecord(wall, 1L, heap, layers, Map(
      "fingerprints" -> per.map { case (n, fp, _, _, _) => n -> fp }.toMap,
      "query_s" -> per.map { case (n, _, _, _, secs) => n -> secs }.toMap))
  }

  override def finish(spark: SparkSession): Map[String, Any] = {
    val out = ctx.dir("suite_check")
    val written = fns.map { case (n, fn) =>
      val dst = s"$out/$n"
      val (df, obs) = observed(fn(spark, tables))
      df.write.mode("overwrite").parquet(dst)
      n -> Map("path" -> dst, "fingerprint" -> fingerprint(obs))
    }.toMap
    Map("outputs" -> written, "oracle" -> SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) })
  }
}
