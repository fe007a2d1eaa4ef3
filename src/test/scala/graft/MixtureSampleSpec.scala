package graft

import graft.ext.Curation
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class MixtureSampleSpec extends SparkSpec {

  private def corpus = {
    val sp = spark; import sp.implicits._
    (1L to 600L).map(i => (i, s"d${i % 4}", (i % 37) + 1L))
      .toDF("id", "domain", "chars")
  }

  /** The windowed definition the bucketed implementation must reproduce:
    * keep iff the prefix measure sum (hash order within domain) < budget. */
  private def windowed(df: DataFrame, budgets: Map[String, Long],
                       defaultBudget: Long = 0L): Set[Long] = {
    val budget = budgets.foldLeft(lit(defaultBudget.toDouble)) {
      case (acc, (k, b)) => when(col("domain") === k, lit(b.toDouble)).otherwise(acc)
    }
    val w = Window.partitionBy(col("domain"))
      .orderBy(Curation.hashUnit(col("id")), col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__cb", coalesce(sum(col("chars").cast("double")).over(w), lit(0.0)))
      .filter(col("__cb") < budget)
      .collect().map(_.getLong(0)).toSet
  }

  test("bucketed selection ≡ the per-domain window definition") {
    val budgets = Map("d0" -> 800L, "d1" -> 1L, "d2" -> 100000L)
    // every 9th row has a null domain: the window partitions it as one
    // more domain on the default budget, so some of its rows are kept
    val df = corpus.withColumn("domain",
      when(col("id") % 9 === 0, lit(null).cast("string")).otherwise(col("domain")))
    val expected = windowed(df, budgets, 300L)
    assert(expected.exists(_ % 9 == 0), "no null-domain row kept by the window")
    for (buckets <- Seq(1, 7, 64, 4096)) {
      val got = Curation.mixtureSample(df, "domain", "id", "chars",
        budgets, defaultBudget = 300L, buckets = buckets)
        .collect().map(_.getLong(0)).toSet
      assert(got == expected, s"buckets=$buckets")
    }
  }

  test("200 domains and a null domain: the per-domain literal lookup stays exact") {
    val sp = spark; import sp.implicits._
    // an RDD source, so the lookup runs in generated code rather than
    // being folded into a local relation
    val rows = (1L to 3000L).map(i =>
      (i, if (i % 97 == 0) null else s"d${i % 200}", (i % 23) + 1L))
    val df = spark.sparkContext.parallelize(rows, 4).toDF("id", "domain", "chars")
    // even domains budgets 50..1436 (some cut, some whole), odd domains
    // and the null domain the default
    val budgets = (0 until 200 by 2).map(d => s"d$d" -> (50L + 7L * d)).toMap
    val expected = windowed(df, budgets, 40L)
    assert(expected.exists(_ % 97 == 0), "no null-domain row kept by the window")
    val perDomain = df.filter(col("id").isin(expected.toSeq: _*)).groupBy("domain").count()
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    val sizes = df.groupBy("domain").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(perDomain.size == 201, "a domain kept nothing")
    assert(perDomain.exists { case (d, n) => n < sizes(d) } &&
      perDomain.exists { case (d, n) => n == sizes(d) }, "want both cut and whole domains")
    for (buckets <- Seq(1, 16, 1024)) {
      val got = Curation.mixtureSample(df, "domain", "id", "chars",
        budgets, defaultBudget = 40L, buckets = buckets)
        .collect().map(_.getLong(0)).toSet
      assert(got == expected, s"buckets=$buckets")
    }
  }

  test("zero/absent budget drops the domain; huge budget keeps it whole") {
    val got = Curation.mixtureSample(corpus, "domain", "id", "chars",
      Map("d1" -> 1000000L), defaultBudget = 0L)
    val byDomain = got.groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDomain.keySet == Set("d1"))
    assert(byDomain("d1") == 150L) // d1 has 600/4 rows, all kept
  }

  test("a positive budget keeps at least one row, and the crossing row is kept") {
    // budget 1 with every measure > 1: exactly the hash-first row survives
    val got = Curation.mixtureSample(corpus, "domain", "id", "chars",
      Map.empty, defaultBudget = 1L)
    val counts = got.groupBy("domain").count().collect().map(_.getLong(1))
    assert(counts.length == 4 && counts.forall(_ == 1L))
  }

  test("kept measure never exceeds budget by more than the crossing row") {
    val budgets = Map("d0" -> 500L, "d1" -> 500L, "d2" -> 500L, "d3" -> 500L)
    val kept = Curation.mixtureSample(corpus, "domain", "id", "chars", budgets)
    val sums = kept.groupBy("domain").agg(sum("chars").alias("s"),
      max("chars").alias("mx")).collect()
    sums.foreach { r =>
      val (s, mx) = (r.getLong(1), r.getLong(2))
      assert(s < 500L + mx, s"domain ${r.getString(0)}: kept $s, max row $mx")
    }
  }

  test("zero-measure rows: kept inside budget, dropped at/after the cut") {
    val sp = spark; import sp.implicits._
    val df = Seq((1L, "a", 0L), (2L, "a", 5L), (3L, "a", 0L), (4L, "a", 9L))
      .toDF("id", "domain", "chars")
    for (buckets <- Seq(1, 16, 1024)) {
      val got = Curation.mixtureSample(df, "domain", "id", "chars",
        Map("a" -> 6L), buckets = buckets).collect().map(_.getLong(0)).toSet
      assert(got == windowed(df, Map("a" -> 6L)), s"buckets=$buckets")
    }
  }

  test("negative measure fails loudly") {
    val sp = spark; import sp.implicits._
    val df = Seq((1L, "a", -3L)).toDF("id", "domain", "chars")
    val e = intercept[Exception] {
      Curation.mixtureSample(df, "domain", "id", "chars", Map("a" -> 10L)).collect()
    }
    assert(e.getMessage.contains("mixtureSample"))
  }

  test("deterministic across runs and output schema = input schema") {
    val budgets = Map("d0" -> 700L)
    val a = Curation.mixtureSample(corpus, "domain", "id", "chars", budgets)
    val b = Curation.mixtureSample(corpus, "domain", "id", "chars", budgets)
    assert(a.schema == corpus.schema)
    assert(a.collect().map(_.getLong(0)).sorted.toSeq ==
      b.collect().map(_.getLong(0)).sorted.toSeq)
  }
}
