package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Writes one entry's result to `outDir/name` as parquet. A non-fatal
    * failure is reported and removes the entry's stale output; a fatal
    * error (an OOM, say) propagates and ends the run. */
  private[graft] def runEntry(spark: SparkSession, sfDir: String, outDir: String, name: String,
                              fn: (SparkSession, String) => DataFrame): Unit =
    try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/$name")
    catch { case NonFatal(e) =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      // remove any output from a previous run: a stale result dir would
      // otherwise mask this failure as a pass in the comparator. A
      // failed write can leave nested dirs (_temporary), so the delete
      // must walk the tree — a flat listFiles().delete() leaves the
      // nested dir behind and the partial output survives.
      def rmTree(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
        f.delete(); ()
      }
      val stale = new java.io.File(s"$outDir/$name")
      if (stale.exists()) rmTree(stale)
    }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet // optional subset for fast local iteration
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.create(cpus)
    new java.io.File(outDir).mkdirs()
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only(n) }
    selected.foreach { case (name, fn) => runEntry(spark, sfDir, outDir, name, fn) }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    graft.FrameCache.release(spark)
    spark.stop()
  }
}
