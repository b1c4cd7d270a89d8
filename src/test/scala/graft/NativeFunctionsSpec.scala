package graft

import graft.functions.MinHashSignature
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom-extension ladder: native Catalyst Expression (codegen)
  * and typed Aggregator UDAF — each asserted equivalent to its
  * declarative formulation — and the analysis error a session without
  * the extensions gets.
  */
class NativeFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("native cosine_sim equals the HOF quantized formula on every pair") {
    val e = Tables.embeddings(spark, sf).limit(60)
    val x = e.select(col("vec_id").as("a"), col("embedding").as("ea"))
    val y = e.select(col("vec_id").as("b"), col("embedding").as("eb"))
    val pairs = x.join(y, col("a") < col("b"))
    val native = pairs.selectExpr("a", "b", "cosine_sim(ea, eb) AS c")
    val hof = pairs.selectExpr("a", "b",
      s"${Similarity.sparkDotHof("ea", "eb")} / (sqrt(${Similarity.sparkDotHof("ea", "ea")}) " +
        s"* sqrt(${Similarity.sparkDotHof("eb", "eb")})) AS c")
    assert(native.exceptAll(hof).count() === 0L)
    assert(hof.exceptAll(native).count() === 0L)
  }

  test("native quantized_dot equals the HOF formula, on float and mixed float/double arrays") {
    val e = Tables.embeddings(spark, sf).limit(60)
    val x = e.select(col("vec_id").as("a"), col("embedding").as("ea"))
    val y = e.select(col("vec_id").as("b"), col("embedding").as("eb"))
    // float × float
    val pairs = x.join(y, col("a") < col("b"))
    val nat = pairs.selectExpr("a", "b", s"${Similarity.sparkDot("ea", "eb")} AS d")
    val hof = pairs.selectExpr("a", "b", s"${Similarity.sparkDotHof("ea", "eb")} AS d")
    assert(nat.exceptAll(hof).count() === 0L && hof.exceptAll(nat).count() === 0L)
    // float × double (the centroid shape: points stay float, fitted
    // centroids are double arrays)
    val mixed = pairs.selectExpr("a", "b", "ea",
      "transform(eb, v -> CAST(v AS DOUBLE)) AS ed")
    val natM = mixed.selectExpr("a", "b", s"${Similarity.sparkDot("ea", "ed")} AS d")
    val hofM = mixed.selectExpr("a", "b", s"${Similarity.sparkDotHof("ea", "ed")} AS d")
    assert(natM.exceptAll(hofM).count() === 0L && hofM.exceptAll(natM).count() === 0L)
    // null safety: mismatched lengths and null input yield null
    import spark.implicits._
    val edge = Seq(
      (Array(1.0f, 2.0f), Array(1.0f)),
      (null.asInstanceOf[Array[Float]], Array(1.0f))
    ).toDF("x", "y").selectExpr("quantized_dot(x, y) AS d")
    assert(edge.collect().forall(_.isNullAt(0)))
    // and the plan actually uses the native expression
    val p = nat.queryExecution.executedPlan.toString
    assert(p.contains("quantized_dot"), p)
  }

  test("cosine_sim resolves through the session extension and codegen compiles it") {
    assert(spark.catalog.functionExists("cosine_sim"))
    val df = Tables.embeddings(spark, sf).limit(10)
      .selectExpr("cosine_sim(embedding, embedding) AS self")
    val self = df.collect().map(_.getDouble(0))
    // self-cosine of the quantized dot is 1 within quantization error
    self.foreach(v => assert(math.abs(v - 1.0) < 1e-9, s"self=$v"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("cosine_sim"), p)
  }

  test("cosine_sim is null-safe on mismatched lengths and null input") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f), Array(1.0f)),
      (null.asInstanceOf[Array[Float]], Array(1.0f))
    ).toDF("x", "y").selectExpr("cosine_sim(x, y) AS c")
    assert(df.collect().forall(_.isNullAt(0)))
  }

  test("a session without GraftExtensions fails at analysis, naming the function") {
    // newSession() inherits the extensions, so the injected function is
    // dropped by hand to stand in for a session built without them
    val vanilla = spark.newSession()
    vanilla.sessionState.functionRegistry.dropFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_sim"))
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      Bench.force(SparkEntry.queries("q_sim_cosine")(vanilla, sf))
    }
    assert(ex.getMessage.contains("cosine_sim"), ex.getMessage)
    // the driver's entry uses no graft function and still runs there
    assert(SparkEntry.entry(vanilla).count() > 0)
  }

  test("native minhash_sigs equals the 16-pass HOF signatures on the live corpus") {
    val sigExprs = Dedup.MinhashPerms.map { case (a, b) =>
      s"array_min(transform(hs, s -> ($a * s + $b) % ${Dedup.MinhashP}))"
    }
    val hof = Dedup.shingleFrame(spark, sf)
      .selectExpr("doc_id", s"array(${sigExprs.mkString(", ")}) AS sig")
    val native = Dedup.shingleFrame(spark, sf)
      .selectExpr("doc_id", "minhash_sigs(hs) AS sig")
    assert(native.count() === 500L)
    assert(native.exceptAll(hof).count() === 0L)
    assert(hof.exceptAll(native).count() === 0L)
    val p = native.queryExecution.executedPlan.toString
    assert(p.contains("minhash_sigs"), p)
  }

  test("quantized_dot matches HOF null-propagation on null-bearing array elements") {
    // A null ELEMENT (not a null array) poisons the HOF aggregate
    // (`acc + null` = null); the native loop must yield null too, not
    // silently read 0.0 past isNullAt.
    val rows = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT), CAST(3.0 AS FLOAT)),
        |       array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT))),
        |  (2L, array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |       array(CAST(NULL AS FLOAT), CAST(NULL AS FLOAT))),
        |  (3L, array(CAST(1.5 AS FLOAT), CAST(-2.0 AS FLOAT)),
        |       array(CAST(0.5 AS FLOAT), CAST(4.0 AS FLOAT)))
        |AS t(id, x, y)""".stripMargin)
    val nat = rows.selectExpr("id", s"${Similarity.sparkDot("x", "y")} AS d")
      .orderBy("id").collect()
    val hof = rows.selectExpr("id", s"${Similarity.sparkDotHof("x", "y")} AS d")
      .orderBy("id").collect()
    nat.zip(hof).foreach { case (n, h) =>
      assert(n.isNullAt(1) === h.isNullAt(1), s"null mismatch at id=${n.getLong(0)}")
      if (!n.isNullAt(1)) assert(n.getDouble(1) === h.getDouble(1))
    }
    assert(nat(0).isNullAt(1) && nat(1).isNullAt(1) && !nat(2).isNullAt(1))
  }

  test("minhash_sigs matches HOF null semantics: null elements skipped, all-null nulls out") {
    // array_min SKIPS null elements, so the HOF signature minimizes over
    // the non-null members only; the native pass must do the same. For
    // all-null/empty input the documented divergence is sig-level only
    // (HOF: 16 null elements; native: null array) — the derived band
    // strings coincide, which is what the LSH join consumes.
    val sigExprs = Dedup.MinhashPerms.map { case (a, b) =>
      s"array_min(transform(hs, s -> ($a * s + $b) % ${Dedup.MinhashP}))"
    }
    val rows = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, array(CAST(NULL AS BIGINT), 42L, 7L, 1234567L)),
        |  (2L, array(42L, 7L, 99L)),
        |  (3L, array(CAST(NULL AS BIGINT), CAST(NULL AS BIGINT))),
        |  (4L, CAST(array() AS ARRAY<BIGINT>))
        |AS t(id, hs)""".stripMargin)
    val nat = rows.selectExpr("id", "minhash_sigs(hs) AS sig").orderBy("id").collect()
    val hof = rows.selectExpr("id", s"array(${sigExprs.mkString(", ")}) AS sig")
      .orderBy("id").collect()
    // non-degenerate rows (some non-null element): exact signature equality
    Seq(0, 1).foreach { i =>
      assert(nat(i).getSeq[Any](1) === hof(i).getSeq[Any](1), s"row $i")
    }
    // degenerate rows: native nulls the array; HOF yields all-null elements
    assert(nat(2).isNullAt(1) && nat(3).isNullAt(1))
    assert(hof(2).getSeq[Any](1).forall(_ == null))
    // the consumed artifact (band strings) coincides either way
    def bands(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("id", "concat_ws(',', sig[0], sig[1], sig[2], sig[3]) AS b0")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(bands(rows.selectExpr("id", "minhash_sigs(hs) AS sig")).toSeq ===
      bands(rows.selectExpr("id", s"array(${sigExprs.mkString(", ")}) AS sig")).toSeq)
  }

  test("MinHashSignature Aggregator reproduces the HOF signatures per document") {
    MinHashSignature.ensureRegistered(spark)
    val agg = Dedup.shingleFrame(spark, sf)
      .select(col("doc_id"), explode(col("hs")).as("x"))
      .groupBy("doc_id").agg(expr("minhash_sig(x)").as("sig"))
    val sigExprs = Dedup.MinhashPerms.map { case (a, b) =>
      s"array_min(transform(hs, s -> ($a * s + $b) % ${Dedup.MinhashP}))"
    }
    val hof = Dedup.shingleFrame(spark, sf)
      .selectExpr("doc_id", s"array(${sigExprs.mkString(", ")}) AS sig")
    assert(agg.count() === 500L)
    assert(agg.exceptAll(hof).count() === 0L)
    assert(hof.exceptAll(agg).count() === 0L)
  }

  test("Aggregator merge is order-insensitive (partial aggregation safe)") {
    val a = new MinHashSignature()
    val hashes = Seq(42L, 7L, 99L, 1234567L, 31L)
    val whole = hashes.foldLeft(a.zero)(a.reduce)
    val (h1, h2) = hashes.splitAt(2)
    val merged = a.merge(h1.foldLeft(a.zero)(a.reduce), h2.foldLeft(a.zero)(a.reduce))
    assert(whole.toSeq === merged.toSeq)
  }

  test("jaro_winkler reproduces the textbook reference values") {
    import graft.functions.JaroWinklerAlgo
    import org.apache.spark.unsafe.types.UTF8String
    def jw(a: String, b: String): Double =
      JaroWinklerAlgo.sim(UTF8String.fromString(a), UTF8String.fromString(b))
    assert(math.abs(jw("martha", "marhta") - 0.9611111111111111) < 1e-15)
    assert(math.abs(jw("dwayne", "duane") - 0.84) < 1e-15)
    assert(jw("", "") === 0.0)
    assert(jw("", "abc") === 0.0)
    assert(jw("ab", "ba") === 0.0)   // window 0: no off-position matches
    assert(jw("same", "same") === 1.0)
  }

  test("jaro_winkler is symmetric and bounded on corpus strings") {
    val names = Tables.part(spark, sf).select("p_name").distinct().limit(25)
    val pairs = names.as("a").crossJoin(names.as("b"))
      .selectExpr("jaro_winkler(a.p_name, b.p_name) AS ab",
        "jaro_winkler(b.p_name, a.p_name) AS ba")
      .collect()
    pairs.foreach { r =>
      assert(r.getDouble(0) === r.getDouble(1), "asymmetric")
      assert(r.getDouble(0) >= 0.0 && r.getDouble(0) <= 1.0)
    }
  }

  test("jaro_winkler codegen path agrees with the interpreted path") {
    val df = Tables.part(spark, sf)
      .selectExpr("p_name", "reverse(p_name) AS r")
    val viaCodegen = df.selectExpr("jaro_winkler(p_name, r) AS v").collect()
    import graft.functions.JaroWinklerAlgo
    import org.apache.spark.unsafe.types.UTF8String
    val direct = df.select("p_name", "r").collect().map(row =>
      JaroWinklerAlgo.sim(UTF8String.fromString(row.getString(0)),
        UTF8String.fromString(row.getString(1))))
    viaCodegen.map(_.getDouble(0)).zip(direct).foreach { case (a, b) =>
      assert(a === b)
    }
  }
}
