package tembench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.reference.{InMemoryTransport, RecordTransport}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"not JSON-serialisable: $other")
  }

  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), apply(v).getBytes(StandardCharsets.UTF_8))
}

/** Spans around each layer call, kept in memory and written as JSON lines
  * when the run ends. A span records its name, start and end (ns since the
  * tracer started), the span that caused it and the operation it belongs
  * to. While inactive it runs the body and records nothing. */
final class Tracer {
  @volatile var active = false
  private val t0 = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def span[T](name: String, op: Int)(body: => T): T =
    if (!active) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption
      stack.set(id :: stack.get())
      val start = System.nanoTime() - t0
      var ok = false
      try { val r = body; ok = true; r }
      finally {
        val end = System.nanoTime() - t0
        stack.set(stack.get().tail)
        spans.synchronized {
          spans += Map("id" -> id, "parent" -> parent, "op" -> op, "name" -> name,
            "start_ns" -> start, "end_ns" -> end, "ok" -> ok)
        }
      }
    }

  def write(path: String): Unit = {
    val lines = spans.synchronized(spans.map(Json(_)).mkString("", "\n", "\n"))
    Files.write(Paths.get(path), lines.getBytes(StandardCharsets.UTF_8))
  }
}

/** A [[RecordTransport]] decorator over [[InMemoryTransport]] that times
  * the wrapped calls and records them as spans. */
final class TimedTransport(inner: InMemoryTransport, tracer: Tracer, op: Int) extends RecordTransport {
  @volatile var writeNs = 0L
  @volatile var readNs = 0L

  override def writeBatch(kv: DataFrame): Unit = {
    val t = System.nanoTime()
    tracer.span("transport.writeBatch", op)(inner.writeBatch(kv))
    writeNs += System.nanoTime() - t
  }

  override def send(key: String, value: String): Unit = inner.send(key, value)

  override def readBatch(spark: SparkSession): DataFrame = {
    val t = System.nanoTime()
    val df = tracer.span("transport.readBatch", op)(inner.readBatch(spark))
    readNs += System.nanoTime() - t
    df
  }
}

/** Spark engine counters of one tagged layer call. */
final class EngineAcc {
  var jobs, stages, tasks = 0L
  var taskMs, gcMs, inputBytes, shuffleRead, shuffleWrite, spill, outputBytes = 0L
  var peakExecMem = 0L
  val stageIntervals = ArrayBuffer.empty[(Long, Long)]
}

object EngineAcc {
  /** Length of the union of the intervals, clipped to [lo, hi] (ms). */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total, curS, curE = 0L
    var open = false
    clipped.foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else { if (open) total += curE - curS; curS = s; curE = e; open = true }
    }
    if (open) total += curE - curS
    total
  }
}

/** A SparkListener keyed to each layer call. A job is attributed to the
  * job group the harness set on the calling thread (`tb:<tag>`); jobs
  * started by other threads (the streaming micro-batch thread) fall back
  * to the harness's current tag. */
final class EngineListener extends SparkListener {
  @volatile var tag: String = "untagged"
  private val stageTag = TrieMap.empty[Int, String]
  val acc = TrieMap.empty[String, EngineAcc]

  private def of(t: String): EngineAcc = acc.getOrElseUpdate(t, new EngineAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val t = group.filter(_.startsWith("tb:")).map(_.stripPrefix("tb:")).getOrElse(tag)
    e.stageIds.foreach(stageTag.put(_, t))
    val a = of(t)
    a.synchronized(a.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    stageTag.get(info.stageId).foreach { t =>
      val a = of(t)
      a.synchronized {
        a.stages += 1
        for (s <- info.submissionTime; c <- info.completionTime) a.stageIntervals += ((s, c))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) stageTag.get(e.stageId).foreach { t =>
      val a = of(t)
      a.synchronized {
        a.tasks += 1
        a.taskMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.outputBytes += m.outputMetrics.bytesWritten
        a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  /** Engine counters of the calls whose tag satisfies `pred`, over the
    * wall window [lo, hi] (epoch ms). Call after the bus has drained. */
  def stats(pred: String => Boolean, lo: Long, hi: Long): Map[String, Double] = {
    val accs = acc.collect { case (t, a) if pred(t) => a }.toSeq
    def sum(f: EngineAcc => Long): Double = accs.map(a => a.synchronized(f(a))).sum.toDouble
    val stageMs = EngineAcc.unionMs(accs.flatMap(a => a.synchronized(a.stageIntervals.toList)), lo, hi)
    Map(
      "spark.jobs" -> sum(_.jobs), "spark.stages" -> sum(_.stages), "spark.tasks" -> sum(_.tasks),
      "spark.task_s" -> sum(_.taskMs) / 1e3, "spark.gc_s" -> sum(_.gcMs) / 1e3,
      "spark.input_bytes" -> sum(_.inputBytes),
      "spark.shuffle_read_bytes" -> sum(_.shuffleRead),
      "spark.shuffle_write_bytes" -> sum(_.shuffleWrite),
      "spark.spill_bytes" -> sum(_.spill), "spark.output_bytes" -> sum(_.outputBytes),
      "spark.peak_exec_mem_mb" ->
        accs.map(a => a.synchronized(a.peakExecMem)).foldLeft(0L)(math.max) / 1048576.0,
      "spark.stage_s" -> stageMs / 1e3,
      "spark.driver_gap_s" -> math.max(0L, (hi - lo) - stageMs) / 1e3)
  }
}

object Heap {
  /** Old-generation occupancy right after a full GC, in MB. */
  def oldGenAfterGcMb(): Double = {
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    pools.map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }
}

/** Host diagnostics. They explain a slow run and are never used to
  * adjust, drop or fail one. */
object Host {
  /** JVM launch time (epoch ms). */
  def launchMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** The aggregate `cpu` line of /proc/stat: user nice system idle iowait
    * irq softirq steal, in ticks. Empty where /proc/stat is absent. */
  def cpuTicks(): Seq[Long] = {
    val p = Paths.get("/proc/stat")
    if (!Files.isReadable(p)) Seq.empty
    else Files.readAllLines(p).asScala.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").slice(1, 9).toSeq.map(_.toLong)).getOrElse(Seq.empty)
  }

  /** Share of CPU time stolen by the hypervisor between two readings, %. */
  def stealPct(a: Seq[Long], b: Seq[Long]): Double =
    if (a.size < 8 || b.size < 8) 0.0
    else {
      val d = a.zip(b).map { case (x, y) => y - x }
      if (d.sum <= 0) 0.0 else 100.0 * d(7) / d.sum
    }

  @volatile private var sink = 0L

  /** Wall time of a fixed single-thread integer loop, ms. */
  def calibMs(): Double = {
    val t = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 100000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    sink += x
    (System.nanoTime() - t) / 1e6
  }
}
