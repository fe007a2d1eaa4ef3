package graft

import graft.ext.Curation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class WeightedSampleSpec extends SparkSpec {

  private def corpus = {
    val sp = spark; import sp.implicits._
    (1L to 500L).map(i =>
      (i, s"s${i % 3}", ((i % 7) - 1).toDouble)) // weights -1..5, ~1/7 non-positive
      .toDF("id", "stratum", "w")
  }

  test("bounded-heap selection ≡ the window-ranking definition (A-Res key)") {
    val got = Curation.weightedSample(corpus, "stratum", "id", "w", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val w = Window.partitionBy(col("stratum"))
      .orderBy(col("__key").desc, col("id"))
    val expected = corpus
      .filter(col("w") > 0)
      .withColumn("__key", log(Curation.hashUnit(col("id"))) / col("w"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("stratum"), col("rank").cast("long"), col("id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
    // a stratum named like a ranking column selects the same rows
    val renamed = Curation.weightedSample(corpus.withColumnRenamed("stratum", "score"),
      "score", "id", "w", k = 10)
    assert(renamed.columns.toSeq == Seq("score", "rank", "id"))
    assert(renamed.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet == expected)
  }

  test("k >= stratum size keeps every positive-weight row exactly once") {
    val small = corpus.filter(col("id") <= 30)
    val got = Curation.weightedSample(small, "stratum", "id", "w", k = 1000)
      .collect().map(_.getLong(2)).sorted.toSeq
    val positive = small.filter(col("w") > 0).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == positive)
  }

  test("zero, negative, and null weights are never sampled") {
    val sp = spark; import sp.implicits._
    val df = Seq(
      (1L, "a", Some(5.0)), (2L, "a", Some(0.0)),
      (3L, "a", Some(-2.0)), (4L, "a", None)).toDF("id", "stratum", "w")
    val got = Curation.weightedSample(df, "stratum", "id", "w", k = 10)
      .collect().map(_.getLong(2)).toSet
    assert(got == Set(1L))
  }

  test("weight dominates: an overwhelming weight always wins its stratum") {
    val sp = spark; import sp.implicits._
    val df = (1L to 100L).map(i =>
      (i, "all", if (i == 42L) 1e9 else 1e-6)).toDF("id", "stratum", "w")
    val top = Curation.weightedSample(df, "stratum", "id", "w", k = 1)
      .collect()(0).getLong(2)
    assert(top == 42L)
  }

  test("deterministic across runs") {
    val a = Curation.weightedSample(corpus, "stratum", "id", "w", k = 5)
    val b = Curation.weightedSample(corpus, "stratum", "id", "w", k = 5)
    assertSameRows(a, b)
  }
}
