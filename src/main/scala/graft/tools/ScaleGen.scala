package graft.tools

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.util.hashing.MurmurHash3

/** Scale-up generator: replicates the driver testdata `factor`× with
  * key strides so bench runs have a larger-SF point (the driver ships
  * sf0.001/0.01/0.1; this synthesizes e.g. sf1 = 10 × sf0.1 into /tmp).
  *
  * Replication is semantic-preserving, not naive copy — naive
  * replication makes the similarity families quadratically denser and
  * the bench dishonest:
  *  - facts (orders/lineitem/events) replicate with per-copy key
  *    strides; dimensions stay fixed (10× facts over the same dims is
  *    the realistic growth shape);
  *  - documents get per-copy token prefixes: within-copy shingle/
  *    Jaccard structure is isomorphic to the original, and cross-copy
  *    near-dup pairs cannot exist (disjoint vocabularies) — pair counts
  *    scale linearly, as a real corpus's would;
  *  - embeddings get a per-copy diagonal ±1 reflection (signs from a
  *    per-(copy, dim) hash): an orthogonal transform, so within-copy
  *    dots/norms/cosines are preserved EXACTLY while cross-copy vectors
  *    decorrelate (~cos 0 at dim 64) — no artificial cosine-1 twins.
  *    Copy 0 is always the untouched original, so fixed-id query sets
  *    (vec_id < 100 probes, seed centroids) are unchanged.
  *
  * `events.ts` is propagated in whatever physical format the source
  * files use — raw INT64 nanos (surfaced as long via nanosAsLong) from
  * older driver drops, or plain INT64 micros (TIMESTAMP_NTZ) from
  * current ones. Either way the column is read and re-written untouched,
  * and `Tables.events`' schema-adaptive branch reads the output
  * identically to the source.
  *
  * Usage: runMain graft.tools.ScaleGen <srcDir> <dstDir> <factor>
  */
object ScaleGen {

  private val Stride = 10000000L

  private def signArray(copy: Int, dim: Int): String =
    (0 until dim).map { idx =>
      if ((MurmurHash3.caseClassHash((copy, idx)) & 1) == 1) "-1.0D" else "1.0D"
    }.mkString("array(", ", ", ")")

  def main(args: Array[String]): Unit = {
    val (src, dst, factor) = (args(0), args(1), args(2).toInt)
    val spark = graft.GraftSession.create(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")

    def replicate(name: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = Tables.table(spark, src, name)
      write((0 until factor).map(i => f(base, i)).reduce(_.unionAll(_)), name)
    }

    // dimensions: fixed across the scale-up
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => write(Tables.table(spark, src, t), t))

    replicate("orders")((df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * Stride)))
    replicate("lineitem")((df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * Stride)))
    replicate("events")((df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * Stride))
        .withColumn("user_id", col("user_id") + lit(i * Stride)))
    replicate("documents")((df, i) =>
      if (i == 0) df
      else df
        .withColumn("doc_id", col("doc_id") + lit(i * Stride))
        .withColumn("text",
          expr(s"array_join(transform(split(text, ' '), t -> concat('c$i', t)), ' ')"))
        .withColumn("n_chars", length(col("text")).cast("long")))
    replicate("embeddings")((df, i) =>
      if (i == 0) df
      else df
        .withColumn("vec_id", col("vec_id") + lit(i * Stride))
        .withColumn("embedding",
          expr(s"zip_with(embedding, ${signArray(i, 64)}, (v, s) -> CAST(v * s AS FLOAT))")))

    spark.stop()
  }
}
