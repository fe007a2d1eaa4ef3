package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions.{array, col, lit}

/** GraftExtensions: the declarative `spark.sql.extensions` path must make
  * every graft SQL function resolvable in pure SQL on a session built
  * with the injector, and the Column APIs must build the same expressions
  * without touching any session's function registry. */
class ExtensionsSpec extends SparkSpec {

  private val names = Seq("dot_product", "jaccard_sim", "mad_stats", "minhash_sig",
    "misra_gries", "pq_encode", "simhash64", "sq8_decode", "sq8_encode", "top_k_by_score")

  test("injector declares all ten graft functions") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw; names are stable
    assert(GraftExtensions.injected.map(_._1.funcName).sorted == names)
  }

  test("wrong-arity SQL calls fail with the function name and expected count") {
    for ((name, arity, sample) <- Seq(
        ("simhash64", 1, "simhash64()"),
        ("dot_product", 2, "dot_product(array(1.0D))"),
        ("jaccard_sim", 2, "jaccard_sim(array('a'), array('b'), array('c'))"),
        ("minhash_sig", 2, "minhash_sig(array('a'))"),
        ("top_k_by_score", 3, "top_k_by_score(1.0D, 1L)"),
        ("misra_gries", 2, "misra_gries('a')"),
        ("sq8_encode", 1, "sq8_encode(array(1.0D), array(2.0D))"),
        ("sq8_decode", 1, "sq8_decode()"),
        ("mad_stats", 2, "mad_stats(1.0D)"))) {
      val builder = GraftExtensions.injected.find(_._1.funcName == name).get._3
      val parsed = spark.sessionState.sqlParser.parseExpression(sample)
      val args = parsed.children // the parsed call's argument expressions
      val err = intercept[IllegalArgumentException](builder(args))
      assert(err.getMessage.contains(name), s"message names the function: ${err.getMessage}")
      assert(err.getMessage.contains(s"expects $arity"), err.getMessage)
    }
  }

  private val scalarSql =
    """SELECT simhash64(array('alpha', 'beta')) AS h,
      |  dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
      |  jaccard_sim(array('a', 'b'), array('b', 'c')) AS j,
      |  minhash_sig(array('a', 'b'), 4) AS m,
      |  sq8_decode(sq8_encode(array(0.5D, -1.0D, 2.0D))) AS q,
      |  pq_encode(array(0.9D, 1.1D), array(0.0D, 0.0D, 1.0D, 1.0D), 2, 1) AS p
      |""".stripMargin
  private val aggInput =
    "VALUES (1.0D, 1L, 'a'), (3.0D, 2L, 'a'), (2.0D, 3L, 'a'), (9.0D, 4L, 'b'), " +
      "(2.5D, 5L, 'c') t(s, i, x)"

  /** The same values through the Column APIs, on any session. */
  private def scalarApi(s: SparkSession): Row = {
    def strs(xs: String*) = array(xs.map(lit): _*)
    def dbls(xs: Double*) = array(xs.map(lit): _*)
    s.range(1).select(
      functions.SimHash.simhash64(strs("alpha", "beta")),
      functions.DotProduct.dot(dbls(1.0, 2.0), dbls(3.0, 4.0)),
      functions.JaccardSim.jaccard(strs("a", "b"), strs("b", "c")),
      functions.MinHashSignature.signature(strs("a", "b"), 4),
      functions.Sq8.decode(functions.Sq8.encode(dbls(0.5, -1.0, 2.0))),
      functions.PqEncode.encode(dbls(0.9, 1.1), Array(0.0, 0.0, 1.0, 1.0), 2, 1))
      .collect()(0)
  }
  private def aggApi(s: SparkSession): Row =
    s.sql(s"SELECT * FROM $aggInput").agg(
      functions.TopKByScore.topK(col("s"), col("i"), 2),
      functions.MisraGriesSketch.sketch(col("x"), 2),
      functions.MadStats.madStats(col("s"), 3.0)).collect()(0)

  test("a session built withExtensions resolves all ten graft functions in pure SQL") {
    spark.sparkContext // force the shared context up before cloning sessions
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // getOrCreate with no default/active session reuses the live
      // SparkContext but builds a FRESH SparkSession, applying extensions;
      // no Column API runs on it before the SQL below
      val s2 = SparkSession.builder().master("local[4]")
        .withExtensions(new GraftExtensions()).getOrCreate()
      val row = s2.sql(scalarSql).collect()(0)
      assert(row.getDouble(1) == 11.0)
      assert(math.abs(row.getDouble(2) - 1.0 / 3.0) < 1e-9)
      assert(row.getSeq[Long](3).size == 4)
      assert(row.getSeq[Double](4).size == 3)
      assert(row.getSeq[Int](5) == Seq(1))
      val agg = s2.sql(
        s"SELECT top_k_by_score(s, i, 2), misra_gries(x, 2), mad_stats(s, 3.0D) FROM $aggInput")
        .collect()(0)
      assert(agg.getSeq[Row](0).map(_.getLong(0)) == Seq(4L, 2L)) // ids of the 2 best
      assert(agg.getSeq[Row](1).head.getString(0) == "a", s"hot item not first: $agg")
      assert(agg.getStruct(2).getAs[Double]("med") == 2.5)
      // and the SQL results are the Column APIs' results
      assert(row == scalarApi(spark))
      assert(agg == aggApi(spark))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("Column APIs leave the session's function registry untouched") {
    val s3 = spark.newSession() // its own registry clone
    val registry = s3.sessionState.functionRegistry
    val before = registry.listFunction().toSet
    scalarApi(s3)
    aggApi(s3)
    val probe = s3.range(10).toDF("k")
    assert(probe.filter(ext.Skew.bloomKeyFilter(s3.range(5).toDF("k"), Seq("k"), 5)(
      probe, Seq("k"))).count() >= 5)
    assert(registry.listFunction().toSet == before)
  }
}
