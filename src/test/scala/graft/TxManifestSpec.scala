package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import operators.TxLog
import operators.TxLog.Act

/** The manifest table's read and write edges: how `partitionBy`
  * directories become manifest partitions and back, and that every
  * `q_tx_*` entry starts each run from an empty slice. */
class TxManifestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def freshDir(tag: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_txmanifest/spec_$tag"
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.isDirectory(p)) {
      val st = java.nio.file.Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
      finally st.close()
    }
    dir
  }

  /** `n` one-file data directories `f<i>` under `dataDir`, each a copy
    * of one 3-row parquet file, spread over 4 partitions `p<i % 4>`. */
  private def copiedSnapshot(dataDir: String, n: Int): Map[String, Seq[String]] = {
    spark.range(3).coalesce(1).write.mode("overwrite").parquet(s"$dataDir/src")
    val src = java.nio.file.Paths.get(s"$dataDir/src")
    val st = java.nio.file.Files.list(src)
    val part = try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    } finally st.close()
    (0 until n).foreach { i =>
      val dir = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dataDir/f$i"))
      java.nio.file.Files.copy(part, dir.resolve(part.getFileName))
    }
    (0 until n).groupBy(i => s"p${i % 4}").map { case (p, is) => p -> is.map(i => s"f$i") }
  }

  private def partExprSize(df: DataFrame): Int =
    df.queryExecution.analyzed.collectFirst { case p: Project =>
      p.projectList.collectFirst { case a: Alias if a.name == "part" => a }
    }.flatten.get.collect { case e => e }.length

  private def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  test("readPartitioned: the partition expression's size does not grow with the live-file count") {
    def read(n: Int): DataFrame = {
      val dataDir = s"${freshDir(s"files_$n")}/data"
      TxLog.readPartitioned(spark, dataDir, copiedSnapshot(dataDir, n), "part")
    }
    val (small, large) = (read(10), read(1000))
    assert(partExprSize(small) === partExprSize(large))
    // every row still lands in its own file's partition
    val counts = large.groupBy("part").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === (0 until 4).map(p => s"p$p" -> 250L * 3).toMap)
  }

  test("readPartitioned: the partition lookup stays inside whole-stage codegen") {
    val dataDir = s"${freshDir("codegen")}/data"
    val df = TxLog.readPartitioned(spark, dataDir, copiedSnapshot(dataDir, 8), "part")
    assert(df.collect().length === 24)
    val plan = finalPlan(df)
    val fused = plan.collect { case w: WholeStageCodegenExec => w }.exists(_.child.exists {
      case p: ProjectExec => p.projectList.exists(_.name == "part")
      case _ => false
    })
    assert(fused, s"partition projection fell out of whole-stage codegen:\n$plan")
  }

  test("readPartitioned: a file outside the snapshot's directories fails the query") {
    // the act names the parent of a partitionBy layout: the files sit
    // one level deeper, so their directories are in no manifest entry
    val dataDir = s"${freshDir("missing")}/data"
    spark.range(6).withColumn("k", col("id") % 2)
      .write.partitionBy("k").parquet(s"$dataDir/base")
    val df = TxLog.readPartitioned(spark, dataDir, Map("all" -> Seq("base")), "part")
    val e = intercept[Exception](df.collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("file outside the manifest snapshot")),
      s"unexpected failure: $e")
  }

  test("partitionedActs + readPartitioned: Hive-escaped partition values round-trip to the data's own") {
    val s = spark
    import s.implicits._
    val base = freshDir("escaped")
    val (dataDir, logDir) = (s"$base/data", s"$base/_log")
    val langs = Seq("a/b", "c:d", "e%f", "g=h", "plain%2F")
    val docs = langs.zipWithIndex.map { case (l, i) => (i.toLong, l) }.toDF("doc_id", "lang")
    docs.write.partitionBy("lang").parquet(s"$dataDir/base")
    val acts = TxLog.partitionedActs(spark, dataDir, "base")
    assert(acts.map(_._1) === langs.sorted)
    assert(TxLog.commit(logDir, -1, acts.map { case (l, f) => Act("add", l, f) },
      acts.map(_._1).toSet).contains(0))
    val back = TxLog.readPartitioned(spark, dataDir, TxLog.snapshotFiles(logDir), "lang")
      .select("doc_id", "lang").as[(Long, String)].collect().sorted.toSeq
    assert(back === langs.zipWithIndex.map { case (l, i) => (i.toLong, l) })
  }

  test("partitionedActs: a NULL partition value fails loudly") {
    val s = spark
    import s.implicits._
    val dataDir = s"${freshDir("nullpart")}/data"
    Seq((1L, Option.empty[String]), (2L, Some("en"))).toDF("doc_id", "lang")
      .write.partitionBy("lang").parquet(s"$dataDir/base")
    val e = intercept[IllegalArgumentException](TxLog.partitionedActs(spark, dataDir, "base"))
    assert(e.getMessage.contains("NULL partition value"))
  }

  test("every q_tx_* entry returns the same rows when run twice in one session") {
    val names = SparkEntry.queries.keys.filter(_.startsWith("q_tx_")).toSeq.sorted
    assert(names.length === 15)
    names.foreach { n =>
      val first = SparkEntry.queries(n)(spark, sf).collect().toSeq
      val second = SparkEntry.queries(n)(spark, sf).collect().toSeq
      assert(first.nonEmpty, n)
      assert(first === second, n)
    }
  }
}
