package graft.tools

/** Writes the `.explain("formatted")` output AND the post-AQE executed
  * plan of named `SparkEntry` queries to files, e.g. to diff a query's
  * plans before and after a change (suffixes `before` / `after`).
  *
  * Usage: runMain graft.tools.PlanSnap <outDir> <suffix> <q1,q2,...> [sfDir]
  * Writes <outDir>/<q>_<suffix>.txt for each query.
  */
object PlanSnap {

  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: runMain graft.tools.PlanSnap <outDir> <suffix> <q1,q2,...> [sfDir]")
      sys.exit(2)
    }
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names = args(2).split(',').toSeq
    val d = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    java.nio.file.Files.createDirectories(outDir)
    val spark = graft.GraftSession.create(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, d)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      df.write.format("noop").mode("overwrite").save()
      val executed = df.queryExecution.executedPlan.toString
      val txt = s"""== $name @ $d ==
                   |
                   |-- explain("formatted") --
                   |$formatted
                   |-- executed plan (post-AQE) --
                   |$executed
                   |""".stripMargin
      java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"wrote ${name}_$suffix.txt")
    }
    spark.stop()
  }
}
