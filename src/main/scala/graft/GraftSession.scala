package graft

import org.apache.spark.sql.SparkSession

/** Session factory: local[N], one shuffle partition per core (the local
  * thread count, not the 200 default sized for real clusters), UTC, AQE
  * on by default in Spark 4, graft's native function extensions
  * installed, and graft's fork-free local filesystem (`graft.io`) as the
  * `file:` scheme, so checkpoint logs, sinks and manifest files are
  * written without spawning `chmod`/`readlink` processes. Cluster
  * deployments reach the same setup with
  * `spark.sql.extensions=graft.functions.GraftExtensions`, plus
  * `spark.hadoop.fs.file.impl=graft.io.NioLocalFileSystem` and
  * `spark.hadoop.fs.AbstractFileSystem.file.impl=graft.io.NioLocalFs`
  * where they write to local disk.
  *
  * The extensions are required, not an optimization: graft's native
  * functions and its range join exist only through them, so in a
  * session built without them a query that uses one fails at analysis
  * (the function is undefined) or at planning (no strategy plans the
  * range-join node).
  */
object GraftSession {
  def create(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[io.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[io.NioLocalFs].getName)
      .withExtensions(new functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
