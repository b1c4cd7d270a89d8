package graft

import graft.functions.SpaceSavingTopK
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SpaceSavingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("sketch contains every true heavy hitter of the corpus vocabulary") {
    SpaceSavingTopK.ensureRegistered(spark)
    val words = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w"))
    val n = words.count()
    val sketch = words.agg(expr("topk_sketch(w)").as("top")).collect()
      .head.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getLong(1)))
    // exact truth (the full-shuffle the sketch avoids)
    val exact = words.groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // SpaceSaving guarantee: freq > n/capacity ⇒ present in sketch
    val guaranteed = exact.filter { case (_, c) => c > n / SpaceSavingTopK.Capacity }.keySet
    val inSketch = sketch.map(_._1).toSet
    assert(guaranteed.subsetOf(inSketch),
      s"missing heavy hitters: ${guaranteed.diff(inSketch)}")
    // reported counts never underestimate by more than the error bound
    sketch.foreach { case (w, c) =>
      exact.get(w).foreach(truth => assert(c >= truth, s"$w: sketch $c < true $truth"))
    }
    // 31-word vocab + capacity 32 ⇒ the sketch is exact here
    sketch.foreach { case (w, c) => assert(exact(w) === c || c >= exact(w)) }
  }

  test("pure reduce matches exact counts when capacity exceeds vocabulary") {
    val a = new SpaceSavingTopK(10)
    val stream = Seq("x", "y", "x", "z", "x", "y")
    val buf = stream.foldLeft(a.zero)(a.reduce)
    val out = a.finish(buf).map(t => (t._1, t._2)).toMap
    assert(out === Map("x" -> 3L, "y" -> 2L, "z" -> 1L))
  }

  test("eviction keeps the guarantee under capacity pressure") {
    val a = new SpaceSavingTopK(2)
    // 6x "hot", then singles: hot must survive any eviction churn
    val stream = Seq.fill(6)("hot") ++ Seq("a", "b", "c", "d")
    val out = a.finish(stream.foldLeft(a.zero)(a.reduce))
    assert(out.head._1 === "hot")
    assert(out.head._2 >= 6L)
  }

  test("count-min estimates never undercount; collisions genuinely overcount at w=16") {
    val spark = TestSpark.spark
    val rows = SparkEntry.queries("q_cm_sketch")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // the one-sided CM guarantee, checked per probe
    rows.foreach { case (w, est, exact, over) =>
      assert(est >= exact, s"$w undercounts: est=$est exact=$exact")
      assert(over === est - exact)
    }
    // the absent key exists (exercises the 0-exact path)...
    val absent = rows.find(_._1 == "zzz_absent").get
    assert(absent._3 === 0L)
    // ...and with w=16 < the 31-word vocabulary, at least one probe
    // must land in an occupied cell in all 4 rows (the honest regime —
    // otherwise the published guarantee is vacuous equality)
    assert(rows.exists(_._4 > 0L), s"no overcount anywhere: $rows")
  }
}
