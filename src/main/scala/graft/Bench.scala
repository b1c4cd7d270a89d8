package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.control.NonFatal

/** Benchmark main: times the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line (driver contract).
  *
  * The headline is every entry whose [[QueryDef.headline]] is set, in
  * `SparkEntry.allDefs` order; an entry says itself why it is untimed.
  * `SPARK_GRAFT_BENCH_ONLY` (comma-separated names) times a subset
  * instead, untimed entries included; see [[selected]].
  *
  * One untimed warm-up query absorbs the JVM and session start-up;
  * each query is then timed in a single run.
  *
  * Evaluation is forced through the noop sink, not `count()`: under a
  * `count(1)` aggregate Catalyst prunes unused projections and drops the
  * final sort, so projection-shaped queries would time only their scan.
  * The noop write evaluates every output column of every row with no
  * driver collect — the honest "run the query" action.
  *
  * The shared shingle frame (the dedup family's cached input) is warmed
  * untimed and released at the end: its fill cost is a once-per-session
  * amortized cost in a real deployment, and attributing it to whichever
  * dedup query happens to run first would double-charge one query.
  */
object Bench {

  /** Evaluates every output column of every row, with no driver collect. */
  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Forces one entry; a non-fatal failure comes back as its message, a
    * fatal error (an OOM, say) propagates and ends the run. */
  private[graft] def runEntry(spark: SparkSession, sfDir: String,
                              fn: (SparkSession, String) => DataFrame): Option[String] =
    try { force(fn(spark, sfDir)); None }
    catch { case NonFatal(e) =>
      Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
    }

  /** Untimed warm-ups run before any timing: JVM/codegen/filesystem
    * caches, the dedup family's shared cached shingle frame, and the
    * trained trigram model every scoring pass reuses (once-per-session
    * costs, not per-query). A failed warm-up would silently move its fill
    * into the first timed query, so it fails the run, naming itself. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = Seq[(String, () => DataFrame)](
    "q_scan_parquet" -> (() => SparkEntry.queries("q_scan_parquet")(spark, sfDir)),
    "Dedup.shingleFrame" -> (() => graft.operators.Dedup.shingleFrame(spark, sfDir)),
    "Vocab.lmModel" -> (() => graft.functions.Vocab.lmModel(spark, sfDir))
  ).foreach { case (name, df) =>
    try force(df())
    catch { case NonFatal(e) => throw new IllegalStateException(s"warm-up $name failed on $sfDir", e) }
  }

  /** The entries a run times: the comma-separated `only` names in the
    * order given, or else every headline entry in declaration order. An
    * unknown name fails the selection, naming every one, instead of
    * timing nothing. */
  def selected(only: Option[String]): Seq[String] = only match {
    case Some(list) =>
      val names = list.split(',').toSeq
      val unknown = names.filterNot(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names unknown entries: ${unknown.mkString(", ")}")
      names
    case None => SparkEntry.allDefs.filter(_.headline).map(_.name)
  }

  def main(args: Array[String]): Unit = {
    val names = selected(sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.create(cpus)

    warmUp(spark, sfDir)

    // A query that throws must NOT be recorded as a ~0 s timing (it
    // would *improve* the total): failures go to a separate `errors`
    // map, are excluded from `queries` and the total, and fail the run
    // with a non-zero exit so a broken query is loud, not fast.
    val benchT0 = System.nanoTime()
    val results = names.map { name =>
      val t0 = System.nanoTime()
      val err = runEntry(spark, sfDir, SparkEntry.queries(name))
      (name, (t0 - benchT0) / 1e9, (System.nanoTime() - t0) / 1e9, err)
    }
    graft.FrameCache.release(spark)
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val ok = results.filter(_._4.isEmpty)
    val failed = results.collect { case (k, _, _, Some(m)) => k -> m }
    val qs = ok.map { case (k, _, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = failed.map { case (k, m) => "\"" + k + "\":" + jstr(m) }
      .mkString("{", ",", "}")
    val total = ok.map(_._3).sum
    println(s"""{"metric":"total","kind":"full","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir"}""")
    // Compact trailing line: the driver keeps only the LAST ~2000 chars
    // of stdout, so the full per-query line above (>>2000 chars at 170+
    // headline entries) arrives headless and unparseable (the round-9
    // and round-10 driver records both landed with parsed:null). This
    // line carries the total, the entry count, every error, and the
    // slowest 40 entries at 3-decimal precision — sized to survive the
    // tail capture whole. Both lines keep "metric":"total" (the tail
    // parser keys on it); the "kind" field is what distinguishes them —
    // sweep.py selects kind=="full" by key. The
    // `start_s` array carries each top-40 entry's start offset from
    // bench t0 (seconds, same order as `queries`), so a host-contention
    // episode (r13's three contiguous 20-50 s outliers) is diagnosable
    // from the surviving tail alone: contaminated entries cluster in
    // start-time, real regressions don't. ~300 chars; the line stays
    // under the ~2000-char tail capture.
    val topEntries = ok.sortBy(-_._3).take(40)
    val top = topEntries
      .map { case (k, _, v, _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val starts = topEntries.map { case (_, st, _, _) => f"$st%.0f" }
      .mkString("[", ",", "]")
    println(s"""{"metric":"total","kind":"compact","value":${f"$total%.3f"},"unit":"sec","n_queries":${ok.size},"queries":$top,"start_s":$starts,"errors":$errs,"sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) {
      failed.foreach { case (k, m) => System.err.println(s"[bench] $k FAILED: $m") }
      sys.exit(1)
    }
  }
}
