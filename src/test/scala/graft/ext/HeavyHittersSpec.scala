package graft.ext

import graft.SparkSpec
import graft.functions.MisraGriesSketch
import org.apache.spark.sql.functions._

class HeavyHittersSpec extends SparkSpec {

  import spark.implicits._

  /** Seeded zipf-ish stream: item i (1..50) appears 2^max(0,8-i/6) times,
    * shuffled deterministically. ~900 items, heavy head. */
  private def corpus(parts: Int) = {
    val items = (1 to 50).flatMap { i =>
      val reps = 1 << math.max(0, 8 - i / 6)
      Seq.fill(reps)(f"w$i%02d")
    }
    // deterministic shuffle: sort by md5 of (item, occurrence index)
    val shuffled = items.zipWithIndex
      .sortBy { case (s, i) => java.util.Objects.hash(s, i) }.map(_._1)
    shuffled.toDF("item").repartition(parts)
  }

  private def exactTruth(capacity: Int) = {
    val df = corpus(4)
    val n = df.count()
    df.groupBy("item").agg(count(lit(1)).alias("cnt"))
      .filter(col("cnt") * (capacity + 1) > lit(n))
  }

  test("two-pass exact heavy hitters ≡ full groupBy HAVING (capacity 10)") {
    assertSameRows(HeavyHitters.exact(corpus(4), "item", 10), exactTruth(10))
  }

  test("partition-count invariance: merge path (13 parts) ≡ single partition") {
    val a = HeavyHitters.exact(corpus(1), "item", 8)
    val b = HeavyHitters.exact(corpus(13), "item", 8)
    assertSameRows(a, b)
    assertSameRows(a, exactTruth(8))
  }

  test("MG guarantee: sketch candidates ⊇ every item with cnt > n/(capacity+1)") {
    val df = corpus(7)
    val n = df.count()
    val cap = 6
    val cand = HeavyHitters.sketchCandidates(df, "item", cap)
      .select("item").as[String].collect().toSet
    val must = df.groupBy("item").agg(count(lit(1)).alias("cnt"))
      .filter(col("cnt") * (cap + 1) > lit(n))
      .select("item").as[String].collect().toSet
    assert(must.subsetOf(cand), s"missing guaranteed items: ${must -- cand}")
    assert(cand.size <= cap, s"sketch exceeded capacity: ${cand.size} > $cap")
  }

  test("sketch lower bounds never exceed true counts") {
    val df = corpus(5)
    val truth = df.groupBy("item").agg(count(lit(1)).alias("cnt"))
      .as[(String, Long)].collect().toMap
    val sk = HeavyHitters.sketchCandidates(df, "item", 12)
      .as[(String, Long)].collect()
    sk.foreach { case (item, lb) =>
      assert(lb <= truth(item), s"$item: lb $lb > true ${truth(item)}")
      assert(lb >= 1L)
    }
  }

  test("nulls carry no frequency; empty input yields empty output") {
    val withNulls = Seq(Some("a"), None, Some("a"), None, Some("b"))
      .toDF("item")
    val hh = HeavyHitters.exact(withNulls, "item", 3).as[(String, Long)]
      .collect().toMap
    // n = 3 non-null; threshold n/(cap+1) = 0.75 → a(2) and b(1) both pass
    assert(hh == Map("a" -> 2L, "b" -> 1L))
    val empty = Seq.empty[String].toDF("item")
    assert(HeavyHitters.exact(empty, "item", 3).count() == 0L)
  }

  test("update-path eviction: stream with no repeats yields lb=1 survivors only") {
    val distinct = (1 to 100).map(i => s"u$i").toDF("item").repartition(1)
    val sk = HeavyHitters.sketchCandidates(distinct, "item", 5)
      .as[(String, Long)].collect()
    assert(sk.length <= 5)
    sk.foreach { case (_, lb) => assert(lb == 1L) }
    // and nothing passes the exact threshold (1 * 6 > 100 is false)
    assert(HeavyHitters.exact(distinct, "item", 5).count() == 0L)
  }

  test("exactTokens finds the planted hot token in text") {
    val docs = ((1 to 40).map(i => (i.toLong, s"filler$i the the the")) ++
      Seq((41L, "rare words only here")))
      .toDF("doc_id", "text")
    val hh = HeavyHitters.exactTokens(docs, "text", 4).as[(String, Long)]
      .collect().toMap
    assert(hh.contains("the"), s"hot token missing from $hh")
    assert(hh("the") == 120L)
  }

  test("MG sketch works as a STREAMING aggregation (incremental merge across batches)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the mergeable-summaries property is exactly what complete-mode
    // streaming aggregation exercises: each micro-batch's partials merge
    // into the running buffer
    val mem = MemoryStream[String]
    val q = mem.toDF().toDF("item")
      .agg(MisraGriesSketch.sketch(col("item"), 4).alias("sk"))
      .writeStream.format("memory").queryName("mg_out")
      .outputMode("complete").start()
    try {
      mem.addData(Seq.fill(30)("hot") ++ (1 to 10).map(i => s"x$i"): _*)
      q.processAllAvailable()
      mem.addData(Seq.fill(25)("hot") ++ (11 to 20).map(i => s"x$i"): _*)
      q.processAllAvailable()
    } finally q.stop()
    val sk = spark.table("mg_out")
      .select(explode(col("sk")).alias("e"))
      .select("e.item", "e.lb").as[(String, Long)].collect().toMap
    // 55 of 75 total items are "hot" — far above n/(4+1)=15, so the MG
    // guarantee holds across the incremental merges
    assert(sk.contains("hot"), s"hot item lost across batches: $sk")
    assert(sk("hot") >= 75L / 5 + 1, s"lb ${sk("hot")} below guarantee floor")
    assert(sk.size <= 4)
  }

  test("sketch aggregate is partial-aggregatable (no extra shuffle beyond the agg)") {
    val df = corpus(8)
    val plan = df.agg(MisraGriesSketch.sketch(col("item"), 10).alias("sk"))
      .queryExecution.executedPlan.toString
    // ObjectHashAggregate partial → exchange → final: exactly one exchange
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 2, s"unexpected exchanges in sketch plan:\n$plan")
    assert(plan.contains("misra_gries"), plan)
  }
}
