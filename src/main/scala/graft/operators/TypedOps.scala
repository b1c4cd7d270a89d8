package graft.operators

import graft.{QueryDef, Tables}

/** Order row as a domain type — the `Dataset[T]` face of the engine. */
final case class OrderRow(
    o_orderkey: Long,
    o_custkey: Long,
    o_orderstatus: String,
    o_totalprice: Double,
    o_orderdate: java.sql.Timestamp,
    o_orderpriority: String)

/** Typed `Dataset[T]` pipeline surface — the API a domain-logic-heavy
  * user writes: case-class rows, compile-checked closures, `groupByKey`
  * + `mapGroups`. The honest trade (documented, and why the rest of the
  * engine stays in the columnar DataFrame API): typed closures
  * deserialize every row out of Tungsten, so Catalyst can neither push
  * the filter into the scan nor partial-aggregate map-side — this is
  * the right tool when per-entity logic genuinely needs arbitrary Scala
  * (state machines, domain validation), not for relational shapes.
  *
  * Determinism: the per-group monetary sum accumulates floor-quantized
  * cents (exact Long addition — iteration order inside `mapGroups`
  * can't shift a bit), the same discipline as the quantized dot
  * products.
  */
object TypedOps {

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q_typed_pipeline",
      (s, d) => {
        import s.implicits._
        Tables.orders(s, d).as[OrderRow]
          .filter(o => o.o_totalprice > 1000.0 && o.o_orderstatus != "F")
          .groupByKey(_.o_orderpriority)
          .mapGroups { (prio, rows) =>
            var n = 0L
            var cents = 0L
            rows.foreach { o =>
              n += 1
              cents += math.floor(o.o_totalprice * 100).toLong
            }
            (prio, n, cents.toDouble / 100)
          }
          .toDF("o_orderpriority", "n", "sum_price")
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n,
             |  CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_price
             |FROM orders
             |WHERE o_totalprice > 1000 AND o_orderstatus <> 'F'
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      headline = false)
  )
}
