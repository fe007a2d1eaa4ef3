package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {

  import spark.implicits._

  test("applyMerge: left-to-right non-overlapping, incl. the aaaa case") {
    val df = Seq(
      Seq("a", "a", "a", "a"),
      Seq("a", "a", "a"),
      Seq("b", "a", "a", "b"),
      Seq("a"), Seq[String]()).toDF("s")
    val got = df.select(Bpe.applyMerge(col("s"), "a", "a").alias("m"))
      .as[Seq[String]].collect().toSeq
    assert(got == Seq(
      Seq("aa", "aa"), Seq("aa", "a"), Seq("b", "aa", "b"), Seq("a"), Seq()))
  }

  test("trainMerges: hand-computed merges on a tiny corpus") {
    // "low low low lower newest newest": char pairs — 'l o' appears in
    // low(x3)+lower = 4 … classic BPE walkthrough shape
    val docs = Seq((1L, "low low low lower newest newest")).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(docs, "text", 3)
      .as[(Long, String, String, Long)].collect().toSeq
    // pair counts: l-o 4 (3 low + lower), o-w 4, w-e 3 (lower + 2
    // newest), n-e/e-w/e-s/s-t 2, e-r 1 → the 4-count tie between
    // (l,o) and (o,w) breaks on left asc: (l,o) first
    assert(merges.length == 3)
    assert(merges.head == ((1L, "l", "o", 4L)),
      s"first merge should be (l, o, 4) by tie-break: $merges")
    // after lo: lo-w 4 — (lo, w) dominates round 2
    assert(merges(1) == ((2L, "lo", "w", 4L)), merges.toString)
    assert(merges.forall(_._4 > 0))
  }

  test("trainMerges ≡ independent sequential reference implementation") {
    val docs = Seq(
      (1L, "banana bandana analysis"),
      (2L, "banana banana scan scan scan"),
      (3L, "the theme there then")).toDF("doc_id", "text")
    val dist = Bpe.trainMerges(docs, "text", 12)
      .as[(Long, String, String, Long)].collect().toSeq
      .map(r => (r._1.toInt, r._2, r._3, r._4))
    val wordFreqs = docs.select(explode(TextAnalysis.tokens(
        TextAnalysis.normalized(col("text")))).alias("w"))
      .groupBy("w").count().as[(String, Long)].collect().toMap
    val ref = Bpe.referenceMerges(wordFreqs, 12)
    assert(dist == ref, s"\ndistributed: $dist\nreference:   $ref")
  }

  test("merged symbols participate in later merges (multi-char growth)") {
    val docs = Seq((1L, Seq.fill(10)("abab").mkString(" "))).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(docs, "text", 3)
      .as[(Long, String, String, Long)].collect().toSeq
    // rank1: (a,b) 20; rank2: (ab,ab) 10 — the merged token re-pairs
    assert(merges(0)._2 == "a" && merges(0)._3 == "b" && merges(0)._4 == 20L)
    assert(merges(1)._2 == "ab" && merges(1)._3 == "ab" && merges(1)._4 == 10L)
  }

  test("encodeCounts: subword counts shrink as merges apply; hand-checked") {
    val docs = Seq((1L, "low low lower"), (2L, "newest")).toDF("doc_id", "text")
    // no merges: subwords = characters
    val none = Bpe.encodeCounts(docs, "doc_id", "text", Seq.empty)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(none(1L) == ((3L, 11L))) // low(3)+low(3)+lower(5)
    assert(none(2L) == ((1L, 6L)))
    // after (l,o) and (lo,w): low = 1 symbol, lower = 3 (low,e,r)
    val merged = Bpe.encodeCounts(docs, "doc_id", "text",
        Seq(("l", "o"), ("lo", "w")))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(merged(1L) == ((3L, 5L)), s"got $merged") // 1+1+3
    assert(merged(2L) == ((1L, 6L))) // untouched word
  }

  test("train + encode composes: corpus token budget decreases monotonically") {
    val docs = Seq(
      (1L, "banana banana bandana"),
      (2L, "scan scan analysis")).toDF("doc_id", "text")
    def total(k: Int): Long = {
      val m =
        if (k == 0) Seq.empty
        else Bpe.trainMergesSeq(docs, "text", k).map(x => (x._2, x._3))
      Bpe.encodeCounts(docs, "doc_id", "text", m)
        .agg(sum("n_subwords")).as[Long].collect()(0)
    }
    val budgets = Seq(0, 2, 5).map(total)
    assert(budgets(0) > budgets(1) && budgets(1) > budgets(2),
      s"token budget not decreasing: $budgets")
  }

  test("rankMergeWord: priority loop matches hand-computed merges") {
    // rules: 0:(a,b) 1:(ab,c) 2:(a,a)
    val rm = Map(("a", "b") -> 0, ("ab", "c") -> 1, ("a", "a") -> 2)
    def run(s: String): Seq[String] =
      Bpe.rankMergeWord(s.split("").filter(_.nonEmpty), rm).toSeq
    assert(run("abc") == Seq("abc"))          // (a,b) then (ab,c)
    assert(run("aabc") == Seq("a", "abc"))    // rank0 fires before rank2
    assert(run("aaaa") == Seq("aa", "aa"))    // left-to-right non-overlap
    assert(run("xyz") == Seq("x", "y", "z"))  // no rule applies
    assert(run("") == Seq())
    assert(run("a") == Seq("a"))
  }

  test("encodeCounts: rankmap ≡ fold on a trained merge table (VERDICT r14 #1 gate)") {
    val docs = Seq(
      (1L, "banana bandana analysis"),
      (2L, "banana banana scan scan scan"),
      (3L, "the theme there then"),
      (4L, "low low low lower newest newest")).toDF("doc_id", "text")
    val merges = Bpe.trainMergesSeq(docs, "text", 12).map(x => (x._2, x._3))
    def result(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
      df.as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val fold = result(graft.CounterExamples.foldedEncodeCounts(docs, "doc_id", "text", merges))
    val rank = result(Bpe.encodeCounts(docs, "doc_id", "text", merges))
    assert(fold == rank, s"\nfold:    $fold\nrankmap: $rank")
    // word-level gate, stronger than the count equality: the two apply
    // strategies must produce the SAME symbol sequence per word
    val rm: scala.collection.Map[(String, String), Int] = merges.zipWithIndex.toMap
    val words = docs.select(explode(TextAnalysis.tokens(
        TextAnalysis.normalized(col("text")))).alias("w"))
      .distinct().as[String].collect()
    val foldedWords = {
      val chars = filter(split(col("w"), ""), s => length(s) > 0)
      val folded = merges.foldLeft(chars) { case (c, (l, r)) =>
        Bpe.applyMerge(c, l, r) }
      words.toSeq.toDF("w").select(col("w"), folded.alias("syms"))
        .as[(String, Seq[String])].collect().toMap
    }
    words.foreach { w =>
      val viaRank = Bpe.rankMergeWord(w.split("").filter(_.nonEmpty), rm).toSeq
      assert(viaRank == foldedWords(w),
        s"word '$w': rankmap $viaRank != fold ${foldedWords(w)}")
    }
  }

  test("rankmap survives K=2048 merges (the fold arm's scale-killer axis)") {
    // synthetic-but-valid table: 2048 distinct pairs over a 46-symbol
    // alphabet — plan cost must not depend on K (ONE mapPartitions pass)
    val alpha = ('a' to 'z').map(_.toString) ++ ('0' to '9').map(_.toString) ++
      Seq("th", "he", "an", "re", "er", "in", "on", "at", "es", "en")
    val merges = (for (l <- alpha; r <- alpha) yield (l, r)).take(2048)
    val docs = Seq((1L, "the theme there then banana analysis"),
      (2L, "scan newest lower low")).toDF("doc_id", "text")
    val out = Bpe.encodeCounts(docs, "doc_id", "text", merges)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // sanity: every word still decodes to >= 1 subword, words preserved
    assert(out(1L)._1 == 6L && out(2L)._1 == 4L)
    assert(out.values.forall { case (w, s) => s >= w })
    // spot-check one word by hand through the same rank map: (h,e) fires
    // first (rank 326 < (t,h)=881), then ("t","he") — fully merged
    val rm: scala.collection.Map[(String, String), Int] = merges.zipWithIndex.toMap
    val the = Bpe.rankMergeWord("the".split("").filter(_.nonEmpty), rm)
    assert(the.toSeq == Seq("the"), s"expected single merged symbol, got ${the.toSeq}")
  }

  test("fold arm's hard K-ceiling: K=128 fails Catalyst analysis (pin)") {
    // Each chained `aggregate` HOF costs the analyzer one Resolution
    // iteration, so the folded arm cannot even ANALYZE past K≈100 on
    // Spark 4.1 — the concrete scale-killer behind VERDICT r14 #1 and
    // the reason encodeCounts defaults to the rankmap path. Pinned both
    // ways (like ShimSpec): if this stops throwing, Spark changed the
    // analyzer's iteration economics — re-evaluate the counter-example
    // arm sizes in Bench (scale_bpe_folded_64) before retiring this.
    val docs = Seq((1L, "low lower newest")).toDF("doc_id", "text")
    val alpha = ('a' to 'z').map(_.toString) ++ ('0' to '9').map(_.toString)
    val merges = (for (l <- alpha; r <- alpha) yield (l, r)).take(128)
    val e = intercept[Throwable] {
      graft.CounterExamples.foldedEncodeCounts(docs, "doc_id", "text", merges).collect()
    }
    assert(Option(e.getMessage).getOrElse("").contains("Max iterations"),
      s"expected analyzer max-iterations failure, got: $e")
    // and the SAME table through the rankmap path is fine
    val ok = Bpe.encodeCounts(docs, "doc_id", "text", merges)
      .as[(Long, Long, Long)].collect()
    assert(ok.length == 1 && ok(0)._2 == 3L)
  }

  test("early exhaustion: single-char vocabulary stops before numMerges") {
    val docs = Seq((1L, "a b c a b c")).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(docs, "text", 5).collect()
    assert(merges.isEmpty, s"no adjacent pairs exist, got ${merges.toSeq}")
  }
}
