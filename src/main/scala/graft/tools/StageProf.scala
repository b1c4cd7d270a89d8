package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Empirical per-stage profile of one `SparkEntry` query (guide §1.1):
  * runs the query through the bench's noop-sink action under a
  * SparkListener and prints every completed stage's wall time, task
  * count, input/shuffle bytes and records — the "which stage is slow,
  * and is it fetch or compute" breakdown the Spark UI would show,
  * runnable headless.
  *
  * Usage: runMain graft.tools.StageProf <queryName> [sfDir] [reps]
  */
object StageProf {

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: runMain graft.tools.StageProf <queryName> [sfDir] [reps]")
      sys.exit(2)
    }
    val name = args(0)
    val d = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = graft.GraftSession.create(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")

    final case class St(id: Int, nameLine: String, ms: Long, tasks: Int,
        inputMB: Double, shReadMB: Double, shWriteMB: Double,
        recsIn: Long, recsOut: Long)
    // ConcurrentLinkedQueue (r13 ADVICE): the listener-bus thread
    // appends while the main thread drains between reps — the previous
    // unsynchronized ArrayBuffer could lose or corrupt entries.
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        val ms = (for {a <- i.completionTime; b <- i.submissionTime} yield a - b).getOrElse(-1L)
        stages.add(St(i.stageId, i.name.takeWhile(_ != '\n').take(90), ms, i.numTasks,
          m.inputMetrics.bytesRead / 1e6, m.shuffleReadMetrics.remoteBytesRead / 1e6 +
            m.shuffleReadMetrics.localBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
          m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten))
      }
    })

    // warm the session the way Bench does (shared frames untimed)
    graft.Bench.warmUp(spark, d)

    for (r <- 1 to reps) {
      stages.clear()
      val t0 = System.nanoTime()
      graft.Bench.force(graft.SparkEntry.queries(name)(spark, d))
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let listener drain (best-effort; queue is safe)
      import scala.jdk.CollectionConverters._
      val snap = stages.iterator().asScala.toVector
      println(f"== $name @ $d rep $r: $secs%.2f s, ${snap.size} stages ==")
      println(f"${"stage"}%6s ${"ms"}%7s ${"tasks"}%5s ${"in_MB"}%8s ${"shR_MB"}%8s ${"shW_MB"}%8s ${"recs_in"}%10s ${"recs_out"}%10s  name")
      snap.sortBy(-_.ms).foreach { s =>
        println(f"${s.id}%6d ${s.ms}%7d ${s.tasks}%5d ${s.inputMB}%8.1f ${s.shReadMB}%8.1f ${s.shWriteMB}%8.1f ${s.recsIn}%10d ${s.recsOut}%10d  ${s.nameLine}")
      }
      val total = snap.map(_.ms).sum
      println(f"   sum of stage ms: $total (wall ${secs * 1000}%.0f)")
    }
    spark.stop()
  }
}
