package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared operator query (SURVEY.md §2): a Spark implementation over
  * the `/root/testdata` tables plus, when SQL-expressible, an equivalent
  * ANSI SQL string the driver runs in DuckDB for the t2 hash-compare.
  *
  * Determinism contract for oracle-checked queries:
  *  - output row order is made total (ORDER BY includes a unique key);
  *  - double aggregates go through exact decimal sums ([[Parity]]);
  *  - per-row double arithmetic is left as-is (IEEE-deterministic).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    /** Timed by [[Bench]]'s headline run, in declaration order. `false`
      * marks an entry that is verified but not timed: a deliberately
      * quadratic baseline, a recall measurement whose ground truth is
      * brute force, or a shape a timed entry already covers. An explicit
      * `SPARK_GRAFT_BENCH_ONLY` name still runs an untimed entry. */
    headline: Boolean = true)

/** Collision-proof tmpdir slice keys for write-path queries (compact /
  * dynamic-overwrite / retention / DPP / binary-asset exports / format
  * round-trips). `String.hashCode` alone can collide across dataset
  * paths — two concurrent benches on colliding paths would silently
  * cross-overwrite each other's slices mid-query — so the key embeds a
  * sanitized form of the path itself alongside the hex hash: distinct
  * datasets are structurally distinct, and the hash disambiguates any
  * sanitization collisions. */
object TmpSlices {
  def key(d: String): String = {
    val sane = d.replaceAll("[^A-Za-z0-9.]+", "_")
      .replaceAll("^_+|_+$", "").takeRight(48)
    s"${sane}_${java.lang.Integer.toHexString(d.hashCode)}"
  }

  /** `<java.io.tmpdir>/<family>/<leaf>`: the one root every write-path
    * slice lives under. */
  def dir(family: String, leaf: String): String =
    s"${sys.props("java.io.tmpdir")}/$family/$leaf"
}
