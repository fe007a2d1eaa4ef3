package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-9 pipeline operators: segment-level exact substring dedup,
  * corpus-overlap contamination stats, k-anonymity suppression, nucleus
  * (top-p) selection, and k-means cluster labels. */
class PrivacyDedupOpsSpec extends SparkSpec {

  import spark.implicits._

  // -------------------------------------------------------- segmentDedup

  test("segmentDedup: corpus-wide first occurrence wins, docs reassemble in order") {
    val docs = Seq(
      (1L, "a b c d e f"),      // both segments novel
      (2L, "a b c x y z"),      // first segment duplicates doc 1
      (3L, "a b c"),            // entirely duplicate -> drops out
      (4L, "d e f a b c"),      // both segments duplicate -> drops out
      (5L, "q")                 // shorter than one segment
    ).toDF("doc_id", "text")
    val byId = Dedup.segmentDedup(docs, "text", "doc_id", segmentWords = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(byId == Map(
      1L -> ((2L, "a b c d e f")),
      2L -> ((1L, "x y z")),
      5L -> ((1L, "q"))))
  }

  test("segmentDedup: within-doc repeats keep only the first, normalization folds case/space") {
    val docs = Seq(
      (1L, "p p p   P p P"),            // two identical segments after norm
      (2L, " A b C "),                  // normalizes to "a b c"
      (3L, "a B c")                     // duplicate of doc 2 -> drops
    ).toDF("doc_id", "text")
    val got = Dedup.segmentDedup(docs, "text", "doc_id", segmentWords = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got == Map(1L -> ((1L, "p p p")), 2L -> ((1L, "a b c"))))
  }

  test("segmentDedup: null text drops; partitioning does not change the winner") {
    val docs = Seq((1L, "a b c"), (2L, null.asInstanceOf[String]), (3L, "a b c"))
      .toDF("doc_id", "text")
    val one = Dedup.segmentDedup(docs, "text", "doc_id", 3).collect()
    val many = Dedup.segmentDedup(docs.repartition(7), "text", "doc_id", 3).collect()
    assert(one.map(_.getLong(0)).toSet == Set(1L))
    assert(many.map(_.getLong(0)).toSet == Set(1L))
  }

  test("segmentDedup property: every segment md5 appears exactly once corpus-wide; reassembly preserves per-doc order") {
    val rnd = new scala.util.Random(7)
    val words = Vector("a", "b", "c", "d", "e")
    val docs = (1L to 60L).map(i =>
      (i, Seq.fill(3 + rnd.nextInt(20))(words(rnd.nextInt(words.size))).mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.segmentDedup(docs, "text", "doc_id", segmentWords = 3)
    // corpus-wide uniqueness: re-segmenting the OUTPUT must find nothing
    // to drop (kept segments are w words except original tails, so the
    // re-cut boundaries align and every md5 is already unique)
    val reseg = Dedup.segmentDedup(out.select(col("doc_id"),
      col("text_dedup").alias("text")), "text", "doc_id", 3)
    val before = out.select(sum(col("n_segments"))).collect().head.getLong(0)
    val after = reseg.select(sum(col("n_segments"))).collect().head.getLong(0)
    assert(before == after, "re-deduping the output must be a no-op")
    // idempotence on the text too
    val a = out.select("doc_id", "text_dedup").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = reseg.select("doc_id", "text_dedup").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
  }

  // --------------------------------------------------- retentionCohorts

  test("retentionCohorts: hand-checked cohort matrix; duplicate events count once") {
    val day = 86400000000L
    val df = Seq(
      (1L, 0L), (1L, 0L),            // user 1, day 0 (dup event)
      (1L, 1L),                      // day 1 -> offset 1
      (2L, 0L),                      // cohort 0, never returns
      (3L, 1L), (3L, 3L),            // cohort 1, offset 0 and 2
      (4L, 1L)
    ).map { case (u, d) => (u, d * day + 123L) }.toDF("user_id", "us")
    val got = Temporal.retentionCohorts(df, "user_id", col("us"), day)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      (0L, 0L) -> 2L,   // users 1, 2
      (0L, 1L) -> 1L,   // user 1 back on day 1
      (1L, 0L) -> 2L,   // users 3, 4
      (1L, 2L) -> 1L))  // user 3 back on day 3
  }

  test("retentionCohorts: pre-epoch micros floor-divide (DuckDB // semantics, not DIV)") {
    val day = 86400000000L
    // user 1 active 1us before epoch and on day 0: floor puts the first
    // activity in bucket -1 (truncating DIV would collapse both to 0)
    val df = Seq((1L, -1L), (1L, 123L)).toDF("user_id", "us")
    val got = Temporal.retentionCohorts(df, "user_id", col("us"), day)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((-1L, 0L) -> 1L, (-1L, 1L) -> 1L), got.toString)
  }

  // --------------------------------------------------- containmentPairs

  test("containmentPairs: quote-inclusion scores asymmetrically; jaccard would miss it") {
    val docs = Seq(
      (1L, "alpha beta gamma"),                                     // 2 bigrams
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota")    // superset
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "text", "doc_id", n = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // doc 1's bigrams are all inside doc 2 -> containment 1.0 that way only
    assert(got == Map((1L, 2L) -> 1.0))
    // the symmetric jaccard on the same pair is low (2 of 8 bigrams)
    val j = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 2, 0.0)
      .collect().head.getDouble(2)
    assert(j < 0.5)
  }

  // ------------------------------------------------------- decaySample

  test("decaySample: age 0 always survives, rates halve per bucket, deterministic") {
    val df = (0L until 2000L).map(i => (i, i % 4)).toDF("id", "age")
    val kept = Curation.decaySample(df, "id", col("age"))
    val byAge = kept.groupBy("age").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byAge(0L) == 500L)                       // 2^0 = keep all
    // halving within binomial 4-sigma of 250/125/62.5
    assert(math.abs(byAge(1L) - 250L) < 80, byAge.toString)
    assert(math.abs(byAge(2L) - 125L) < 60, byAge.toString)
    val again = Curation.decaySample(df.repartition(9), "id", col("age"))
    assert(kept.except(again).count() == 0 && again.except(kept).count() == 0)
    intercept[IllegalArgumentException] {
      Curation.decaySample(df, "id", col("age"), maxAge = 63)
    }
  }

  test("decaySample: negative or null age fails loudly instead of silently keeping/dropping") {
    val neg = Seq((1L, 2L), (2L, -1L)).toDF("id", "age")
    val eNeg = intercept[Exception] {
      Curation.decaySample(neg, "id", col("age")).count()
    }
    assert(eNeg.getMessage.contains("non-negative"), eNeg.getMessage)
    val withNull = Seq((1L, Some(2L)), (2L, None)).toDF("id", "age")
    val eNull = intercept[Exception] {
      Curation.decaySample(withNull, "id", col("age")).count()
    }
    assert(eNull.getMessage.contains("non-negative"), eNull.getMessage)
  }

  // ----------------------------------------------------- nearDupClusters

  test("nearDupClusters: min-id labels, singletons label themselves, fixed points = survivors") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),  // ~ 1
      (5L, "the quick brown fox jumps over the lazy dog!"), // ~ 1, 2
      (7L, "completely different text about spark engines"),
      (9L, "unrelated body of words with no duplicate")
    ).toDF("doc_id", "text")
    val labels = Dedup.nearDupClusters(docs, "text", "doc_id",
      threshold = 0.5, shingleN = 2, numHashes = 128, bands = 128)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 7L -> 7L, 9L -> 9L))
    val survivors = Dedup.nearDupSurvivors(docs, "text", "doc_id",
      threshold = 0.5, shingleN = 2, numHashes = 128, bands = 128)
      .collect().map(_.getLong(0)).toSet
    assert(labels.filter { case (id, c) => id == c }.keySet == survivors)
  }

  // ------------------------------------------------------- bestSurvivors

  test("bestSurvivors: longest doc wins its cluster, singletons survive, score ties fall back to min id") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),   // ~ 1
      (5L, "the quick brown fox jumps over the lazy dog !!"), // ~ 1, 2; longest
      (7L, "completely different text about spark engines"),
      (9L, "unrelated body of words with no duplicate")
    ).toDF("doc_id", "text")
    val best = Dedup.bestSurvivors(docs, "text", "doc_id",
      length(col("text")).cast("long"),
      threshold = 0.5, shingleN = 2, numHashes = 128, bands = 128)
      .collect().map(_.getLong(0)).toSet
    assert(best == Set(5L, 7L, 9L), s"longest-wins survivors: $best")
    // constant score ⇒ ties everywhere ⇒ min-id winners ≡ nearDupSurvivors
    val tied = Dedup.bestSurvivors(docs, "text", "doc_id", lit(1L),
      threshold = 0.5, shingleN = 2, numHashes = 128, bands = 128)
      .collect().map(_.getLong(0)).toSet
    val minId = Dedup.nearDupSurvivors(docs, "text", "doc_id",
      threshold = 0.5, shingleN = 2, numHashes = 128, bands = 128)
      .collect().map(_.getLong(0)).toSet
    assert(tied == minId, s"constant score must reduce to min-id policy: $tied vs $minId")
  }

  // ---------------------------------------------------- leakageSafeSplit

  test("leakageSafeSplit: every cluster lands in exactly one split, assignment = hashSplit of the label") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (5L, "the quick brown fox jumps over the lazy dog!"),
      (7L, "completely different text about spark engines"),
      (9L, "unrelated body of words with no duplicate")
    ).toDF("doc_id", "text")
    val clusters = Dedup.nearDupClusters(docs, "text", "doc_id",
      threshold = 0.5, shingleN = 2, numHashes = 128, bands = 128)
    val out = Curation.leakageSafeSplit(docs.select(col("doc_id")), "doc_id",
      clusters, Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25))
    val rows = out.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster"), r.getAs[String]("split")))
    assert(rows.length == 5)
    // co-travel: one split per cluster
    val perCluster = rows.groupBy(_._2).view.mapValues(_.map(_._3).distinct).toMap
    assert(perCluster.values.forall(_.size == 1),
      s"a cluster straddles splits: $perCluster")
    // the assignment is exactly hashSplit keyed on the label
    val expect = Curation.hashSplit(clusters, "cluster",
      Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(rows.forall { case (id, _, s) => expect(id) == s })
  }

  test("plan lock: bestSurvivors winner selection is windowless") {
    val docs = spark.range(50).select(col("id").alias("doc_id"),
      concat_ws(" ", lit("w"), col("id").cast("string"), lit("x y z a b")).alias("text"))
    val plan = Dedup.bestSurvivors(docs, "text", "doc_id",
      length(col("text")).cast("long"), threshold = 0.5,
      shingleN = 2, numHashes = 8, bands = 8)
      .queryExecution.executedPlan.toString
    // the scaladoc's scale claim: no per-cluster window funnel — a
    // boilerplate mega-cluster must partial-combine, never land in one
    // task via row_number()/rank() over the cluster
    assert(!plan.contains("Window"),
      s"bestSurvivors must select winners with aggregations, not a window:\n$plan")
  }

  test("leakageSafeSplit: missing cluster column fails loudly") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val bad = docs.select(col("doc_id"), col("doc_id").alias("comp"))
    val e = intercept[IllegalArgumentException] {
      Curation.leakageSafeSplit(docs, "doc_id", bad, Seq("train" -> 1.0))
    }
    assert(e.getMessage.contains("cluster"))
  }

  test("bestSurvivors: null scores never win over non-null; an all-null cluster still elects min-id") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),   // ~ 1
      (5L, "the quick brown fox jumps over the lazy dog !!"), // ~ 1, 2
      (7L, "completely different text about spark engines"),
      (9L, "unrelated body of words with no duplicate")
    ).toDF("doc_id", "text")
    // mixed: in the {1,2,5} cluster only id=2 scores non-null → 2 wins;
    // singleton 7 is null-scored but survives alone; 9 non-null survives
    val mixed = Dedup.bestSurvivors(docs, "text", "doc_id",
      when(col("doc_id") === 2L || col("doc_id") === 9L, lit(10L)),
      threshold = 0.5, shingleN = 2, numHashes = 128, bands = 128)
      .collect().map(_.getLong(0)).toSet
    assert(mixed == Set(2L, 7L, 9L), s"non-null must beat null: $mixed")
    // all-null: no cluster may vanish — degenerates to min-id policy
    val allNull = Dedup.bestSurvivors(docs, "text", "doc_id",
      lit(null).cast("long"),
      threshold = 0.5, shingleN = 2, numHashes = 128, bands = 128)
      .collect().map(_.getLong(0)).toSet
    val minId = Dedup.nearDupSurvivors(docs, "text", "doc_id",
      threshold = 0.5, shingleN = 2, numHashes = 128, bands = 128)
      .collect().map(_.getLong(0)).toSet
    assert(allNull == minId,
      s"all-null scores must fall back to min-id, not drop clusters: $allNull vs $minId")
  }

  test("leakageSafeSplit: rows missing from the clusters frame self-label as singletons, not drop") {
    val docs = Seq(1L, 2L, 5L, 7L, 9L).toDF("doc_id")
    // clusters covers only {1,2,5}; 7 and 9 are uncovered
    val clusters = Seq((1L, 1L), (2L, 1L), (5L, 1L)).toDF("doc_id", "cluster")
    val out = Curation.leakageSafeSplit(docs, "doc_id", clusters,
      Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster"), r.getAs[String]("split"))).toMap
    assert(out.keySet == Set(1L, 2L, 5L, 7L, 9L), s"no row may drop: ${out.keySet}")
    assert(out(7L)._1 == 7L && out(9L)._1 == 9L, s"uncovered rows self-label: $out")
    // self-labeled rows get exactly hashSplit's assignment for that label
    val expect = Curation.hashSplit(Seq(7L, 9L).toDF("cluster"), "cluster",
      Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25))
      .collect().map(r => r.getAs[Long]("cluster") -> r.getAs[String]("split")).toMap
    assert(out(7L)._2 == expect(7L) && out(9L)._2 == expect(9L))
  }

  test("leakageSafeSplit: pre-existing 'cluster' column and lossy self-label types fail loudly") {
    val clusters = Seq((1L, 1L)).toDF("doc_id", "cluster")
    val hasCluster = Seq((1L, 99L)).toDF("doc_id", "cluster")
    val e1 = intercept[IllegalArgumentException] {
      Curation.leakageSafeSplit(hasCluster, "doc_id", clusters, Seq("train" -> 1.0))
    }
    assert(e1.getMessage.contains("already has a 'cluster' column"))
    // string ids can't losslessly self-label into a long cluster column
    val strDocs = Seq("a").toDF("doc_id")
    val e2 = intercept[IllegalArgumentException] {
      Curation.leakageSafeSplit(strDocs, "doc_id", clusters, Seq("train" -> 1.0))
    }
    assert(e2.getMessage.contains("losslessly"))
  }

  // ------------------------------------------------------- corpusOverlap

  test("corpusOverlap: hand-checked trigram set statistics") {
    val a = Seq((1L, "a b c d")).toDF("doc_id", "text")   // {a b c, b c d}
    val b = Seq((2L, "b c d e")).toDF("doc_id", "text")   // {b c d, c d e}
    val r = Dedup.corpusOverlap(a, b, "text", n = 3).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 2L, 1L)))
    assert(r.getDouble(3) == 0.333333)
  }

  test("corpusOverlap: short docs contribute their joined gram; duplicate docs count once") {
    val a = Seq((1L, "x y"), (2L, "x y")).toDF("doc_id", "text") // one gram "x y"
    val b = Seq((3L, "x y")).toDF("doc_id", "text")
    val r = Dedup.corpusOverlap(a, b, "text", n = 3).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)) ==
      ((1L, 1L, 1L, 1.0)))
  }

  // ---------------------------------------------- kAnonymize / profile

  test("kAnonymize: suppresses under-k groups, null QI group survives at k") {
    val df = Seq(
      (1L, "a", "x"), (2L, "a", "x"), (3L, "a", "x"),  // size 3
      (4L, "b", "x"), (5L, "b", "x"),                  // size 2
      (6L, "c", "y"),                                  // size 1 -> suppressed
      (7L, null.asInstanceOf[String], "z"),            // null group size 2
      (8L, null.asInstanceOf[String], "z")
    ).toDF("id", "qa", "qb")
    val kept = Curation.kAnonymize(df, Seq("qa", "qb"), k = 2)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L, 4L, 5L, 7L, 8L))
    // k above the largest group suppresses everything
    assert(Curation.kAnonymize(df, Seq("qa", "qb"), k = 4).count() == 0)
  }

  test("lDiversify: suppresses groups below l distinct sensitive values; null is a value") {
    val df = Seq(
      (1L, "a", "x"), (2L, "a", "y"), (3L, "a", "x"),                  // 2 distinct
      (4L, "b", "x"), (5L, "b", "x"),                                  // 1 distinct
      (6L, "c", "x"), (7L, "c", null.asInstanceOf[String])             // x + null = 2
    ).toDF("id", "qi", "s")
    def kept(l: Int) = Curation.lDiversify(df, Seq("qi"), "s", l)
      .select("id").as[Long].collect().toSet
    assert(kept(2) == Set(1L, 2L, 3L, 6L, 7L))
    assert(kept(1) == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    assert(kept(3).isEmpty)
  }

  test("anonymityProfile: group-size histogram with row totals") {
    val df = Seq(
      (1L, "a"), (2L, "a"), (3L, "a"),
      (4L, "b"), (5L, "b"),
      (6L, "c"), (7L, "d")
    ).toDF("id", "q")
    val got = Curation.anonymityProfile(df, Seq("q"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(3L -> ((1L, 3L)), 2L -> ((1L, 2L)), 1L -> ((2L, 2L))))
  }

  // ----------------------------------------------------------- topPByScore

  test("topPByScore: exclusive prefix rule keeps the crossing row, >=1 per group") {
    val df = Seq(
      ("g1", 1L, 5L), ("g1", 2L, 3L), ("g1", 3L, 2L),  // total 10
      ("g2", 4L, 7L)                                    // single row
    ).toDF("src", "id", "score")
    def ids(p: Double) = Curation.topPByScore(df, "src", "id", "score", p)
      .select("id").as[Long].collect().toSet
    // p=0.5: row 5 (before=0 < 5) kept, row 3 (before=5, not < 5) dropped
    assert(ids(0.5) == Set(1L, 4L))
    // p=0.6: before=5 < 6 admits the second row
    assert(ids(0.6) == Set(1L, 2L, 4L))
    assert(ids(1.0) == Set(1L, 2L, 3L, 4L))
  }

  test("topPByScore: an all-zero-score group keeps exactly its first-ranked row") {
    val df = Seq(
      ("dead", 7L, 0L), ("dead", 3L, 0L),   // total 0: 0 < p*0 never holds
      ("live", 1L, 5L), ("live", 2L, 5L)
    ).toDF("src", "id", "score")
    val kept = Curation.topPByScore(df, "src", "id", "score", 0.5)
      .select("id").as[Long].collect().toSet
    // dead keeps its tie-broken best (lowest id), live keeps the crossing row
    assert(kept == Set(3L, 1L), kept.toString)
  }

  test("topPByScore: score ties break by ascending id") {
    val df = Seq(("g", 10L, 4L), ("g", 2L, 4L), ("g", 5L, 4L)).toDF("src", "id", "score")
    // total 12, p=0.4 -> budget 4.8: first row (id 2) kept, second (id 5)
    // has before=4 >= 4.8? 4 < 4.8 so kept too; third has before=8 dropped
    val kept = Curation.topPByScore(df, "src", "id", "score", 0.4)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(2L, 5L))
  }

  // ---------------------------------------------------------- kGeneralize

  test("kGeneralize: releases the FIRST ladder state that is k-anonymous, no rows lost") {
    // ages 10,11,20,21,30,31 ×2 rows each; level 0 = exact age (groups of
    // 2), level 1 = decade (groups of 4) -> k=3 picks level 1
    val df = (0 until 12).map(i => (i.toLong, 10L + (i % 6) / 2 * 10 + i % 2))
      .toDF("id", "age")
    val got = Curation.kGeneralize(df, Seq("id"), Seq(
      Seq("age_g" -> col("age")),
      Seq("age_g" -> expr("age DIV 10 * 10")),
      Seq("age_g" -> lit(0L))), k = 3)
    assert(got.count() == 12)
    val rows = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.forall(_._3 == 1), rows.mkString(","))
    assert(rows.map(_._2).toSet == Set(10L, 20L, 30L))
    // k=2 is satisfied at the finest state already
    val fine = Curation.kGeneralize(df, Seq("id"), Seq(
      Seq("age_g" -> col("age")), Seq("age_g" -> lit(0L))), k = 2)
    assert(fine.collect().forall(_.getInt(2) == 0))
  }

  test("kGeneralize: coarsest-state failure falls back to suppression AT that state") {
    // 5 rows: decade groups {10:4 rows, 90:1 row}; even the coarsest
    // state (decade) leaves the lone 90 under k=2 -> suppression drops it
    val df = Seq((1L, 11L), (2L, 12L), (3L, 13L), (4L, 14L), (5L, 95L))
      .toDF("id", "age")
    val got = Curation.kGeneralize(df, Seq("id"), Seq(
      Seq("age_g" -> col("age")),
      Seq("age_g" -> expr("age DIV 10 * 10"))), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.length == 4 && got.forall(_._3 == 2), got.mkString(","))
    assert(got.forall(_._2 == 10L))
  }

  test("kGeneralize: validation — name mismatch, keep overlap, empty ladder") {
    val df = Seq((1L, 2L)).toDF("id", "age")
    intercept[IllegalArgumentException] {
      Curation.kGeneralize(df, Seq("id"), Seq(
        Seq("a" -> col("age")), Seq("b" -> col("age"))), 2)
    }
    intercept[IllegalArgumentException] {
      Curation.kGeneralize(df, Seq("id"), Seq(Seq("id" -> col("age"))), 2)
    }
    intercept[IllegalArgumentException] {
      Curation.kGeneralize(df, Seq("id"), Nil, 2)
    }
    // empty corpus: the finest state wins vacuously
    val empty = Curation.kGeneralize(df.filter(lit(false)), Seq("id"),
      Seq(Seq("age_g" -> col("age")), Seq("age_g" -> lit(0L))), 2)
    assert(empty.count() == 0)
  }

  // ------------------------------------------------ topPByScoreBucketed

  test("topPByScoreBucketed ≡ plain topPByScore: random groups, dominant group, " +
    "all-zero group, constant scores, null group key, at several band counts") {
    val rnd = new scala.util.Random(7)
    val rows = (1L to 600L).map { i =>
      // ~half the rows in one dominant group; a couple of degenerate groups
      val gk = if (i % 2 == 0) Some("mega")
               else if (i % 11 == 0) None                 // null group key
               else Some(s"g${rnd.nextInt(6)}")
      val score = if (gk.contains("g0")) 0L               // all-zero group
                  else if (gk.contains("g1")) 7L          // constant scores
                  else rnd.nextInt(1000).toLong
      (gk, i, score)
    }
    val df = rows.toDF("g", "id", "score")
    for (p <- Seq(0.3, 0.5, 1.0); b <- Seq(2, 8, 32)) {
      val plain = Curation.topPByScore(df, "g", "id", "score", p)
      val fast = Curation.topPByScoreBucketed(df, "g", "id", "score", p, b)
      assert(plain.except(fast).count() == 0 && fast.except(plain).count() == 0,
        s"bucketed(b=$b) != plain at p=$p")
    }
  }

  test("topPByScoreBucketed: null/negative scores raise; reserved names rejected") {
    val bad = Seq(("g", 1L, -5L), ("g", 2L, 3L)).toDF("g", "id", "score")
    val e = intercept[Exception] {
      Curation.topPByScoreBucketed(bad, "g", "id", "score", 0.5).count()
    }
    assert(e.getMessage.contains("null/negative score"), e.getMessage)
    val taken = Seq(("g", 1L, 1L)).toDF("g", "id", "__tp_b")
    intercept[IllegalArgumentException] {
      Curation.topPByScoreBucketed(taken, "g", "id", "__tp_b", 0.5)
    }
  }

  test("topPByScoreBucketed plan: the exact window is partitioned by (group, band), " +
    "never by the group alone") {
    val df = spark.range(1000).select(
      (col("id") % 3).cast("string").alias("g"), col("id").alias("id"),
      (col("id") % 97).alias("score"))
    val plan = Curation.topPByScoreBucketed(df, "g", "id", "score", 0.5, 16)
      .queryExecution.optimizedPlan.toString
    // every corpus-side Window node must carry the band in its partition
    // spec; group-only windows are allowed only over the tiny band table
    // (which aggregates first). The string check: each windowspecdefinition
    // that orders by score DESC (the exact phase) must also partition by
    // __tp_b.
    val exactWindows = plan.split("\n").filter(l =>
      l.contains("windowspecdefinition") && l.contains("DESC"))
    assert(exactWindows.nonEmpty, plan)
    exactWindows.foreach(l => assert(l.contains("__tp_b"),
      s"exact window not band-partitioned:\n$l"))
  }

  // ------------------------------------------------- randomized invariants

  test("topPByScore invariants on random groups: coverage, minimality, monotonicity") {
    val rnd = new scala.util.Random(11)
    val rows = (1L to 400L).map(i =>
      (s"g${rnd.nextInt(12)}", i, 1L + rnd.nextInt(100)))
    val df = rows.toDF("g", "id", "score")
    for (p <- Seq(0.25, 0.5, 0.9)) {
      val kept = Curation.topPByScore(df, "g", "id", "score", p)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val keptByG = kept.groupBy(_._1)
      val totals = rows.groupBy(_._1).map { case (g, rs) => g -> rs.map(_._3).sum }
      totals.foreach { case (g, total) =>
        val ks = keptByG.getOrElse(g, Array.empty)
        assert(ks.nonEmpty, s"group $g must keep >= 1 row at p=$p")
        val keptSum = ks.map(_._3).sum
        // coverage: kept mass reaches the budget (crossing row included)
        assert(keptSum >= p * total, s"$g keeps $keptSum < $p*$total")
        // minimality: removing the worst kept row drops below the budget
        val worst = ks.minBy(r => (r._3, -r._2))
        assert(keptSum - worst._3 < p * total,
          s"$g kept more than the crossing row needs at p=$p")
      }
      // the kept set is exactly the top rows by (score desc, id asc)
      keptByG.foreach { case (g, ks) =>
        val order = rows.filter(_._1 == g).sortBy(r => (-r._3, r._2))
        assert(ks.map(_._2).toSet == order.take(ks.length).map(_._2).toSet,
          s"$g kept a non-prefix of the score order")
      }
    }
  }

  test("kAnonymize invariants on random QI data: surviving groups >= k, k=1 is identity") {
    val rnd = new scala.util.Random(23)
    val df = (1L to 300L).map(i =>
      (i, s"n${rnd.nextInt(20)}", s"s${rnd.nextInt(4)}"))
      .toDF("id", "qa", "qb")
    for (k <- Seq(2, 5, 9)) {
      val kept = Curation.kAnonymize(df, Seq("qa", "qb"), k)
      val sizes = kept.groupBy("qa", "qb").count()
        .select("count").as[Long].collect()
      assert(sizes.forall(_ >= k), s"k=$k left an under-k group")
      // suppression only ever removes WHOLE groups
      val total = df.groupBy("qa", "qb").count()
        .filter(col("count") >= k)
        .select(sum(col("count"))).collect().head.getLong(0)
      assert(kept.count() == total)
    }
    assert(Curation.kAnonymize(df, Seq("qa", "qb"), 1).count() == 300L)
  }

  // ---------------------------------------------------------- kmeansAssign

  test("kmeansAssign: seed-centroid labels are the nearest-cosine centroid") {
    val vecs = Seq(
      (0L, Array(1f, 0f)),       // centroid 0
      (1L, Array(0f, 1f)),       // centroid 1
      (2L, Array(0.9f, 0.1f)),   // -> 0
      (3L, Array(0f, 2f)),       // -> 1 (cosine 1.0 with centroid 1)
      (4L, Array(0.5f, 0.5f))    // equidistant -> tie to lower id 0
    ).toDF("vec_id", "embedding")
    val got = Similarity.kmeansAssign(vecs, "vec_id", "embedding", nlist = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 0L, 3L -> 1L, 4L -> 0L))
  }

  test("kmeansAssign: zero-norm vectors resolve to the lowest centroid id") {
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)), (9L, Array(0f, 0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.kmeansAssign(vecs, "vec_id", "embedding", nlist = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(9L) == 0L)
  }

  // ---------------------------------------------------------- qualityReport

  test("qualityReport: per-rule violation counts, hand-checked") {
    val df = Seq(
      (1L, Some("a"), 5.0, "AB"),
      (1L, Some("b"), 30.0, "xy"),   // dup key, range violation, pattern violation
      (2L, None, -1.0, "CD"),        // null, range violation
      (3L, Some("d"), 10.0, "EF")
    ).toDF("k", "s", "v", "code")
    val got = Profile.qualityReport(df,
      notNull = Seq("s"),
      unique = Seq(Seq("k")),
      ranges = Seq(("v", 0.0, 25.0)),
      patterns = Seq(("code", "^[A-Z]+$")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      "not_null:s" -> ((1L, 4L)),
      "range:v" -> ((2L, 4L)),
      "pattern:code" -> ((1L, 4L)),
      "unique:k" -> ((2L, 4L))))
  }

  test("qualityReport: null values never count against range/pattern; no rules errors") {
    val df = Seq((1L, None: Option[Double])).toDF("k", "v")
    val got = Profile.qualityReport(df, ranges = Seq(("v", 0.0, 1.0)))
      .collect().head
    assert(got.getLong(1) == 0L)
    intercept[IllegalArgumentException] { Profile.qualityReport(df) }
  }

  // --------------------------------------------- standardize / quantileRank

  test("standardize: hand-computed z-scores; zero-variance and null groups handled") {
    val df = Seq(
      ("a", 1L, 2.0), ("a", 2L, 4.0), ("a", 3L, 6.0),   // mean 4, pop-std sqrt(8/3)
      ("b", 4L, 5.0), ("b", 5L, 5.0),                   // zero variance -> null z
      (null.asInstanceOf[String], 6L, 1.0),             // null group keeps its stats
      (null.asInstanceOf[String], 7L, 3.0)
    ).toDF("g", "id", "v")
    val got = Profile.standardize(df, Seq("g"), "v")
      .collect().map(r => r.getLong(1) -> Option(r.get(3)).map(_.asInstanceOf[Double])).toMap
    val std = math.sqrt(8.0 / 3.0)
    assert(math.abs(got(1L).get - (-2.0 / std)) < 1e-12)
    assert(math.abs(got(2L).get) < 1e-12)
    assert(math.abs(got(3L).get - 2.0 / std) < 1e-12)
    assert(got(4L).isEmpty && got(5L).isEmpty)
    assert(math.abs(got(6L).get - (-1.0)) < 1e-12 && math.abs(got(7L).get - 1.0) < 1e-12)
  }

  test("quantileRank: percent_rank semantics — ties share, single row ranks 0") {
    val df = Seq(
      ("a", 1L, 10.0), ("a", 2L, 20.0), ("a", 3L, 20.0), ("a", 4L, 30.0),
      ("b", 5L, 7.0)
    ).toDF("g", "id", "v")
    val got = Profile.quantileRank(df, Seq("g"), "v")
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    assert(got == Map(1L -> 0.0, 2L -> (1.0 / 3), 3L -> (1.0 / 3), 4L -> 1.0, 5L -> 0.0))
  }

  // ------------------------------------------------------------ fkIntegrity

  test("fkIntegrity: orphan rows, null FKs, and clean-key coverage counted separately") {
    val child = Seq(
      (1L, Some(10L)), (2L, Some(10L)),        // valid, parent 10
      (3L, Some(99L)), (4L, Some(98L)),        // orphans
      (5L, None)                                // null FK
    ).toDF("id", "fk")
    val parent = Seq(10L, 11L).toDF("pk")
    val r = Profile.fkIntegrity(child, Seq("fk"), parent, Seq("pk")).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((5L, 2L, 1L)))
    // fully-covered child reports zero orphans
    val clean = Profile.fkIntegrity(child.filter(col("fk") === 10L),
      Seq("fk"), parent, Seq("pk")).collect().head
    assert((clean.getLong(0), clean.getLong(1), clean.getLong(2)) == ((2L, 0L, 0L)))
    intercept[IllegalArgumentException] {
      Profile.fkIntegrity(child, Seq("fk"), parent, Nil)
    }
  }

  // ------------------------------------------------------ hashedLinearScore

  test("hashedLinearScore: deterministic, bounded, mean-invariant under repetition") {
    val df = Seq(
      (1L, "alpha"), (2L, "alpha"),                 // identical docs
      (3L, "alpha alpha alpha"),                    // repetition keeps the mean
      (4L, ""), (5L, null.asInstanceOf[String])     // empty/null -> null score
    ).toDF("doc_id", "text")
    val got = Curation.hashedLinearScore(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), Option(r.get(2))))).toMap
    assert(got(1L) == got(2L).copy())
    assert(got(1L)._2 == got(3L)._2)                // same mean weight
    assert(got(3L)._1 == 3L)
    assert(got(4L) == ((0L, None)) && got(5L) == ((0L, None)))
    val s = got(1L)._2.get.asInstanceOf[Double]
    assert(s >= -0.5 && s <= 0.5)
  }

  // -------------------------------------------------------- repeatUpsample

  test("repeatUpsample: whole factors replicate exactly, zero drops, fraction is hash-stable") {
    val df = (0L until 100L).map(i => (i, if (i < 40) "a" else if (i < 80) "b" else "c"))
      .toDF("id", "dom")
    val up = Curation.repeatUpsample(df, "dom", "id",
      Map("a" -> 3.0, "b" -> 0.5, "c" -> 0.0))
    val byDom = up.groupBy("dom").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDom("a") == 120L)                      // 40 x 3 exact
    assert(!byDom.contains("c"))                    // factor 0 drops
    assert(byDom("b") > 0L && byDom("b") < 40L)     // fractional subset
    // copies are 0-based and dense per row
    val copies = up.filter(col("dom") === "a").groupBy("id")
      .agg(sort_array(collect_list(col("copy"))).alias("cs"))
      .select("cs").collect().map(_.getSeq[Long](0))
    assert(copies.forall(_ == Seq(0L, 1L, 2L)))
    // hash-stable: same rows survive under repartitioning
    val again = Curation.repeatUpsample(df.repartition(13), "dom", "id",
      Map("a" -> 3.0, "b" -> 0.5, "c" -> 0.0))
    assert(up.except(again).count() == 0 && again.except(up).count() == 0)
  }

  // ------------------------------------------------------- plan locks

  test("plan locks: kmeansAssign is shuffle-free; topP plans one exchange; segmentDedup two") {
    val docs = spark.range(50).select(col("id").alias("doc_id"),
      concat_ws(" ", lit("w"), col("id").cast("string"), lit("x y z a b")).alias("text"),
      (col("id") % 5).cast("string").alias("source"), (col("id") + 10).alias("n_chars"))
    val vecs = spark.range(40).select(col("id").alias("vec_id"),
      array(col("id").cast("float"), lit(1f), lit(2f)).alias("embedding"))

    val kp = Similarity.kmeansAssign(vecs, "vec_id", "embedding", nlist = 2)
      .queryExecution.executedPlan.toString
    assert(!kp.contains("Exchange hashpartitioning"),
      s"kmeansAssign must stay a narrow map:\n$kp")

    val tp = Curation.topPByScore(docs, "source", "doc_id", "n_chars", 0.5)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(tp).length == 1,
      s"topPByScore: both window frames must share one exchange:\n$tp")

    val sp = Dedup.segmentDedup(docs, "text", "doc_id", 3)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(sp).length == 2,
      s"segmentDedup: fingerprint agg + doc regroup, no join:\n$sp")
    assert(!sp.matches("(?s).*(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|BroadcastNestedLoopJoin).*"),
      s"segmentDedup must not join:\n$sp")
  }

  test("kmeansAssign: Lloyd-trained labels agree with nearestCentroid over trainCentroids") {
    val rnd = new scala.util.Random(42)
    val vecs = (0L until 60L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val labels = Similarity.kmeansAssign(vecs, "vec_id", "embedding",
      nlist = 4, trainIters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cents = Similarity.trainCentroids(vecs, "vec_id", "embedding", 4, 2)
    val want = Similarity.nearestCentroid(vecs, "vec_id", "embedding", cents)
      .select(col("vec_id"), col("cent_id").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 6-dp rounding in kmeansAssign can flip genuinely borderline pairs;
    // with this seed the argmax gaps are comfortably above 1e-6
    assert(labels == want)
  }

  test("trainCentroids sample mode: bounded training set, full assignment intact") {
    val rnd = new scala.util.Random(7)
    // two well-separated blobs: +1-ish and -1-ish vectors
    val vecs = (0L until 2000L).map { i =>
      val sign = if (i % 2 == 0) 1f else -1f
      (i, Array.fill(8)(sign * (0.8f + rnd.nextFloat() * 0.2f)))
    }.toDF("vec_id", "embedding")
    // mult=8, nlist=2 -> ~16-row training sample out of 2000
    val cents = Similarity.trainCentroids(vecs, "vec_id", "embedding",
      nlist = 2, iters = 2, trainSampleMult = 8)
    assert(cents.count() == 2) // sample still seeds the full nlist
    // the blobs are so separated that sample-trained centroids label the
    // FULL corpus identically to full-corpus training
    val sampleLabels = Similarity.kmeansAssign(vecs, "vec_id", "embedding",
      nlist = 2, trainIters = 2, trainSampleMult = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fullLabels = Similarity.kmeansAssign(vecs, "vec_id", "embedding",
      nlist = 2, trainIters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // label ids may differ; the PARTITION must match
    def parts(m: Map[Long, Long]) =
      m.groupBy(_._2).values.map(_.keySet).toSet
    assert(parts(sampleLabels) == parts(fullLabels))
    // degenerate stride (sample would under-fill) falls back to corpus:
    // 40 rows at mult=1, nlist=8 -> target 8 < 4*nlist -> full corpus
    val tiny = vecs.limit(40)
    assert(Similarity.trainCentroids(tiny, "vec_id", "embedding",
      nlist = 8, iters = 1, trainSampleMult = 1).count() == 8)
  }
}
