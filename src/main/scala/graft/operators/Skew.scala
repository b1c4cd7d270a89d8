package graft.operators

import graft.{Parity, QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for hot join keys (builder prompt: "skewed keys →
  * salting or AQE skew-join"). AQE's skew-join split handles most cases
  * at runtime; explicit salting remains the tool when one key dominates
  * so hard that even split partitions of it won't fit, or when the join
  * runs under a fixed partitioning AQE can't touch.
  *
  * Shape: the big (skewed) side scatters each row to one of `salts`
  * sub-keys; the small side replicates once per salt. The shuffle then
  * partitions by (key, salt), spreading the hot key over `salts`
  * reducers. Cost: small side inflates ×salts — keep it the dimension
  * side.
  */
object Skew {

  def saltedJoin(
      big: DataFrame,
      small: DataFrame,
      bigKey: String,
      smallKey: String,
      salts: Int): DataFrame = {
    require(salts > 0)
    val saltedBig = big.withColumn(
      "__salt_b", pmod(monotonically_increasing_id(), lit(salts.toLong)).cast("int"))
    val saltedSmall = small.withColumn(
      "__salt_s", explode(array((0 until salts).map(lit): _*)))
    saltedBig
      .join(saltedSmall,
        saltedBig(bigKey) === saltedSmall(smallKey)
          && saltedBig("__salt_b") === saltedSmall("__salt_s"))
      .drop("__salt_b", "__salt_s")
  }

  /** Oracle obligations: the skew tricks must be *semantically invisible*
    * — the whole point is changing the shuffle layout without changing
    * the answer, and that invariant is exactly what a cross-engine hash
    * compare pins (the oracle runs the plain un-salted query).
    */
  val defs: Seq[QueryDef] = Seq(

    // Salted fact⋈dim join: the (key, salt) shuffle spreads a hot key
    // over `salts` reducers; the aggregate must equal the plain join.
    QueryDef(
      "q_join_salted",
      (s, d) => {
        val dim = Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey", "o_totalprice")
        saltedJoin(Tables.lineitem(s, d), dim, "l_orderkey", "o_orderkey", 8)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            Parity.dsum(col("l_extendedprice"), 2).as("sum_price"))
          .orderBy("l_returnflag")
      },
      Some(s"""SELECT l_returnflag, COUNT(*) AS n,
              |  ${Parity.sqlDsum("l_extendedprice", 2)} AS sum_price
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |WHERE o_orderpriority = '1-URGENT'
              |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      headline = false),

    // Two-phase distinct count: salt by hash OF THE COUNTED VALUE, so
    // each distinct value lands in exactly one (group, salt) cell —
    // per-cell exact distincts then SUM. Spreads a high-cardinality
    // COUNT(DISTINCT) hot group over 16 reducers instead of one; the
    // oracle is the plain single-phase spelling.
    QueryDef(
      "q_agg_distinct_salted",
      (s, d) => Tables.lineitem(s, d)
        .withColumn("__salt", pmod(col("l_partkey"), lit(16L)).cast("int"))
        .groupBy("l_returnflag", "__salt")
        .agg(countDistinct(col("l_partkey")).as("c"))
        .groupBy("l_returnflag")
        .agg(sum(col("c")).cast("bigint").as("n_distinct_parts"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_distinct_parts
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      headline = false),

    // Skew audit — the measurement that decides BETWEEN the two
    // mitigations above: per-key row counts for the join/agg key, the
    // 10 heaviest keys with their share, and skew_ratio = n / mean
    // (the factor by which the hottest reducer outweighs an average
    // one; > ~4 is when salting or AQE skew-join starts to pay).
    // Shape: one keyed count (map-side combinable), materialized once
    // and consumed by both the scalar stats row and the distributed
    // TakeOrdered top-10 — the key-domain relation never exceeds the
    // key cardinality, and nothing else leaves the executors.
    QueryDef(
      "q_skew_audit",
      (s, d) => {
        val counts = Tables.lineitem(s, d).groupBy("l_suppkey")
          .agg(count(lit(1)).as("n"))
          .localCheckpoint(true)
        val stats = counts.agg(sum(col("n")).as("n_total"),
          count(lit(1)).as("n_keys"), max(col("n")).as("n_max"))
        counts.crossJoin(broadcast(stats))
          .selectExpr("l_suppkey", "n",
            "CAST(n AS DOUBLE) / n_total AS share",
            "CAST(n AS DOUBLE) * n_keys / n_total AS skew_ratio",
            "CAST(n AS DOUBLE) * n_keys / n_total > 4.0 AS needs_salting")
          .orderBy(col("n").desc, col("l_suppkey"))
          .limit(10)
      },
      Some("""WITH c AS (
             |  SELECT l_suppkey, COUNT(*) AS n FROM lineitem GROUP BY 1),
             |s AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total,
             |    COUNT(*) AS n_keys FROM c)
             |SELECT l_suppkey, n, CAST(n AS DOUBLE) / n_total AS share,
             |  CAST(n AS DOUBLE) * n_keys / n_total AS skew_ratio,
             |  CAST(n AS DOUBLE) * n_keys / n_total > 4.0 AS needs_salting
             |FROM c, s ORDER BY n DESC, l_suppkey LIMIT 10""".stripMargin))
  )
}
