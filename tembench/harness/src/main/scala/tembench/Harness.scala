package tembench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.GraftSession

/** JVM side of the benchmark. One process does one cold set-up (session,
  * first operation, a fixed count of warm-up operations), then runs
  * operations in a closed loop for the requested seconds and writes one
  * JSON result file. `tembench/run.py` generates the inputs, launches this
  * and checks every output.
  *
  * Arguments: --workload W --seconds S --trace 0|1 --work DIR --inputs DIR
  * --out FILE. Exits 3 if set-up fails; no result file is written then.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val launch = Host.launchMs
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val trace = opts("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val tracer = new Tracer
    val ctx = new Ctx(opts("work"), opts("inputs"), tracer)
    val engine = new EngineListener
    val ops = ArrayBuffer.empty[Map[String, Any]]

    def run(wl: Workload, spark: org.apache.spark.sql.SparkSession, i: Int, phase: String,
        traced: Boolean): Boolean = {
      if (traced) spark.sparkContext.addSparkListener(engine)
      ctx.engine = if (traced) Some(engine) else None
      tracer.active = traced
      val start = System.currentTimeMillis()
      try {
        val rec = tracer.span("op", i)(wl.op(spark, i))
        ops += Map("i" -> i, "phase" -> phase, "ok" -> true, "traced" -> traced, "start_ms" -> start,
          "wall_s" -> rec.wallS, "rows" -> rec.rows, "heap_mb" -> rec.heapMb,
          "layers" -> rec.layers) ++ rec.extra
        true
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[tembench] operation $i ($phase) failed: $e")
          e.printStackTrace()
          ops += Map("i" -> i, "phase" -> phase, "ok" -> false, "traced" -> traced,
            "start_ms" -> start, "error" -> e.toString)
          false
      } finally {
        if (traced) spark.sparkContext.removeSparkListener(engine)
        tracer.active = false
        ctx.engine = None
      }
    }

    // Set-up: session, the first operation (codegen, caches) and the fixed
    // warm-up, all counted from JVM launch. A failure aborts the run.
    val spark = GraftSession.create(cpus.toString)
    // keep every progress event of a query (one per micro-batch)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val sessionReady = System.currentTimeMillis()
    val wl: Workload = opts("workload") match {
      case "sensor_pipeline" => new SensorPipeline(ctx)
      case "multistage_suite" => new MultistageSuite(ctx)
    }
    val warm = wl.warmOps
    var i = 0
    var firstEnd = 0L
    val setupOk = (0 to warm).forall { k =>
      val ok = run(wl, spark, i, if (k == 0) "first" else "warm", traced = false)
      if (k == 0) firstEnd = System.currentTimeMillis()
      i += 1
      ok
    }
    val setupEnd = System.currentTimeMillis()
    if (!setupOk) {
      System.err.println("[tembench] set-up failed; no result")
      spark.stop()
      sys.exit(3)
    }
    // The timed window: a closed loop of operations. The next one starts
    // only if it is expected to end by the deadline (it is expected to take
    // as long as the previous one), so the window never overruns much.
    // In a traced run every other operation carries the listeners, the
    // timing transport and spans; the untraced ones give the overhead.
    val calibBefore = Host.calibMs()
    val ticks0 = Host.cpuTicks()
    val windowStart = System.currentTimeMillis()
    val deadline = System.nanoTime() + (opts("seconds").toDouble * 1e9).toLong
    var k = 0
    var lastNs = 0L
    while (k == 0 || System.nanoTime() + lastNs <= deadline) {
      val t = System.nanoTime()
      run(wl, spark, i, "timed", traced = trace && k % 2 == 0)
      lastNs = System.nanoTime() - t
      i += 1
      k += 1
    }
    val windowEnd = System.currentTimeMillis()
    val ticks1 = Host.cpuTicks()
    val calibAfter = Host.calibMs()

    val finish = wl.finish(spark)
    if (trace) tracer.write(s"${opts("work")}/spans.jsonl")
    Json.write(opts("out"), Map(
      "setup" -> Map(
        "setup_s" -> (setupEnd - launch) / 1e3,
        "session_s" -> (sessionReady - launch) / 1e3,
        "first_op_s" -> (firstEnd - sessionReady) / 1e3,
        "warm_s" -> (setupEnd - firstEnd) / 1e3,
        "warm_ops" -> warm),
      "window" -> Map("start_ms" -> windowStart, "end_ms" -> windowEnd,
        "seconds" -> (windowEnd - windowStart) / 1e3),
      "host" -> Map(
        "steal_pct" -> Host.stealPct(ticks0, ticks1),
        "calib_ms_before" -> calibBefore,
        "calib_ms_after" -> calibAfter,
        "nproc" -> cpus,
        "master" -> spark.sparkContext.master,
        "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576),
      "ops" -> ops.toSeq,
      "finish" -> finish))
    spark.stop()
  }
}
