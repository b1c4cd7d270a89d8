package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.create("4")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `df`'s row count and order-independent row-hash sum as
    * "count:Σxxhash64" (the hash cast to `decimal(38,0)` so the sum
    * cannot overflow): the tembench suite's output fingerprint, used by
    * specs that pin an entry's every output row. */
  def fingerprint(df: DataFrame): String = {
    val hash = xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*)
    val r = df.agg(count(lit(1)), sum(hash.cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }
}
