package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ext.Curation
import scala.jdk.CollectionConverters._

class CurationSpec extends SparkSpec {

  private def docsOf(rows: (Long, String)*): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    spark.createDataFrame(rows.map { case (i, t) => Row(i, t) }.asJava, schema)
  }

  // ------------------------------------------------ repetition filters

  test("dup token/ngram fractions on crafted repetition") {
    val df = docsOf(
      1L -> "a a a a",                       // 1 distinct of 4 tokens
      2L -> "one two three four",            // all distinct
      3L -> "x y x y x y",                   // 2 distinct of 6; 2-grams: x y,y x,x y,y x,x y → 2/5 distinct
      4L -> "",                              // empty → 0 everywhere
      5L -> (null: String))
    val out = Curation.repetitionStats(df, "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getDouble(r(out(1L), "dup_token_frac")) == 0.75)
    assert(out(2L).getDouble(r(out(2L), "dup_token_frac")) == 0.0)
    assert(math.abs(out(3L).getDouble(r(out(3L), "dup_token_frac")) - (1.0 - 2.0 / 6)) < 1e-6)
    assert(math.abs(out(3L).getDouble(r(out(3L), "dup_2gram_frac")) - (1.0 - 2.0 / 5)) < 1e-6)
    assert(out(4L).getDouble(r(out(4L), "dup_token_frac")) == 0.0)
    assert(!out(1L).getBoolean(r(out(1L), "keep"))) // 0.75 > 0.6 threshold
    assert(out(2L).getBoolean(r(out(2L), "keep")))
  }

  private def r(row: Row, name: String): Int = row.fieldIndex(name)

  // --------------------------------------------------------------- PII

  test("pii redaction replaces emails, ips, phones and counts them") {
    val df = docsOf(
      1L -> "mail alice.smith+x@example.co.uk or bob@test.org now",
      2L -> "server at 10.0.255.1 and 192.168.1.254 up",
      3L -> "call 555-123-4567 or 011-5555-0199",
      4L -> "mixed bob@x.io on 10.1.1.1 call 555-111-2222",
      5L -> "clean text with no pii at all, honest 12-34")
    val out = df.select(Seq(col("doc_id"),
      Curation.redactPii(col("text")).alias("red")) ++
      Curation.piiCounts(col("text")): _*)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(out(1L).getString(1) == "mail <EMAIL> or <EMAIL> now")
    assert(out(1L).getLong(r(out(1L), "n_emails")) == 2L)
    assert(out(2L).getString(1) == "server at <IP> and <IP> up")
    assert(out(2L).getLong(r(out(2L), "n_ips")) == 2L)
    assert(out(3L).getString(1) == "call <PHONE> or <PHONE>")
    assert(out(3L).getLong(r(out(3L), "n_phones")) == 2L)
    assert(out(4L).getString(1) == "mixed <EMAIL> on <IP> call <PHONE>")
    assert(out(5L).getString(1) == "clean text with no pii at all, honest 12-34")
    assert(out(5L).getLong(r(out(5L), "n_emails")) == 0L)
  }

  // ----------------------------------------------------- contamination

  test("contamination counts shared ngrams against a benchmark set") {
    val corpus = docsOf(
      1L -> "the quick brown fox jumps high",   // shares "the quick brown","quick brown fox" w/ bench
      2L -> "totally unrelated words here now",
      3L -> "the quick brown fox jumps high")   // same as 1
    val bench = docsOf(
      100L -> "the quick brown fox sat")
    val out = Curation.contamination(corpus, bench, "doc_id", "text", n = 3,
      maxOverlapFrac = 0.4)
      .collect().map(x => x.getLong(0) -> x).toMap
    // doc 1: grams = 4 (the quick brown / quick brown fox / brown fox jumps / fox jumps high); 2 matched
    assert(out(1L).getLong(r(out(1L), "total_ngrams")) == 4L)
    assert(out(1L).getLong(r(out(1L), "matched_ngrams")) == 2L)
    assert(out(1L).getBoolean(r(out(1L), "contaminated"))) // 0.5 > 0.4
    assert(out(2L).getLong(r(out(2L), "matched_ngrams")) == 0L)
    assert(!out(2L).getBoolean(r(out(2L), "contaminated")))
    assert(out(3L).getLong(r(out(3L), "matched_ngrams")) == 2L)
  }

  // ---------------------------------------------- deterministic sampling

  test("hashUnit is uniform-ish, deterministic, in [0,1)") {
    val n = 2000
    val vals = spark.range(n).select(Curation.hashUnit(col("id")).alias("u"))
      .collect().map(_.getDouble(0))
    assert(vals.forall(v => v >= 0.0 && v < 1.0))
    val mean = vals.sum / n
    assert(math.abs(mean - 0.5) < 0.02, s"mean $mean")
    // deterministic across evaluations
    val again = spark.range(n).select(Curation.hashUnit(col("id")).alias("u"))
      .collect().map(_.getDouble(0))
    assert(vals.toSeq == again.toSeq)
  }

  test("stratifiedSample keeps ~rate per stratum and is exactly reproducible") {
    val df = spark.range(4000).select(col("id"),
      when(col("id") % 2 === 0, "en").otherwise("de").alias("lang"))
    val out = Curation.stratifiedSample(df, "lang", "id",
      Map("en" -> 0.25), defaultRate = 1.0)
    val counts = out.groupBy("lang").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(counts("de") == 2000L) // default rate 1.0 keeps everything
    assert(math.abs(counts("en") - 500L) < 120, s"en kept ${counts("en")}")
    // reproducible: same rows both times
    val ids1 = out.select("id").collect().map(_.getLong(0)).sorted.toSeq
    val ids2 = Curation.stratifiedSample(df, "lang", "id", Map("en" -> 0.25))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids1 == ids2)
  }

  test("quotaSample returns exactly k per stratum, ranked by hash, stable under repartition") {
    val df = spark.range(1000).select(col("id"),
      (col("id") % 3).cast("string").alias("s"))
    val out = Curation.quotaSample(df, "s", "id", k = 7).collect()
    assert(out.length == 21)
    val byStratum = out.groupBy(_.getString(0))
    assert(byStratum.forall(_._2.length == 7))
    // rank order must agree with ascending hashUnit
    val hu = spark.range(1000).select(col("id"), Curation.hashUnit(col("id")).alias("u"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    byStratum.foreach { case (_, rows) =>
      val ordered = rows.sortBy(_.getLong(1)).map(x => x.getLong(2))
      assert(ordered.map(hu).toSeq == ordered.map(hu).sorted.toSeq)
    }
    // physical partitioning must not change the answer
    val re = Curation.quotaSample(df.repartition(17), "s", "id", k = 7)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    assert(re == out.map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet)
    // small stratum: returns all rows when fewer than k
    val tiny = Curation.quotaSample(df.filter(col("id") < 4), "s", "id", k = 7)
    assert(tiny.count() == 4)
    // a stratum named like a ranking column (id / score / rank) still works,
    // for integral and string ids
    val named = df.select(col("id").alias("doc"), col("s").alias("score"))
    for (d <- Seq(named, named.withColumn("doc", col("doc").cast("string")))) {
      val got = Curation.quotaSample(d, "score", "doc", k = 7)
      assert(got.columns.toSeq == Seq("score", "rank", "doc"))
      assert(got.collect().map(x => (x.getString(0), x.getLong(1), x.get(2).toString))
        .toSet == out.map(x => (x.getString(0), x.getLong(1), x.getLong(2).toString)).toSet)
    }
  }

  test("repeatedSpans flags shared exact spans and only them") {
    val boiler = "this exact boilerplate footer sentence repeats verbatim across documents"
    val df = docsOf(
      1L -> s"unique intro alpha beta gamma. $boiler",
      2L -> s"different words entirely here today. $boiler",
      3L -> "completely unrelated document with its own words only",
      4L -> "short")
    val out = Curation.repeatedSpans(df, "doc_id", "text", windowTokens = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // doc 4: shorter than the window -> 0/0/0
    assert(out(4L) == ((0L, 0L, 0.0)))
    // doc 3: windows exist, none repeated
    assert(out(3L)._1 > 0 && out(3L)._2 == 0L && out(3L)._3 == 0.0)
    // docs 1 and 2 share the boilerplate span: the windows fully inside
    // the shared suffix repeat (the straddling windows differ)
    assert(out(1L)._2 > 0 && out(2L)._2 > 0)
    assert(out(1L)._3 > 0.0 && out(1L)._3 < 1.0)
    // count parity with an independent set computation
    val shared = out(1L)._2
    assert(out(2L)._2 == shared, "both docs repeat exactly the shared windows")
  }

  test("repeatedSpans plan has no tokenizing Filter (explode_outer " +
    "pushdown regression: plain explode's implicit size>0 filter re-inlines " +
    "the whole window pipeline into the scan)") {
    val df = docsOf(1L -> "a b c d e f g h i j", 2L -> "k l m").repartition(2)
    val out = Curation.repeatedSpans(df, "doc_id", "text", windowTokens = 5)
    val filters = out.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.condition.toString.contains("split(") => f
    }
    assert(filters.isEmpty, filters.mkString("\n").take(2000))
  }

  test("repeatedSpans computes the window pipeline once: both per-doc " +
    "counts come off a single exploded side (one Generate), and the " +
    "id-fence exchange is reused across its two consumers") {
    val df = docsOf(1L -> "a b c d e f g h i j", 2L -> "a b c d e f g h i j",
      3L -> "k l m n o p q r s t").repartition(2)
    val out = Curation.repeatedSpans(df, "doc_id", "text", windowTokens = 5)
    // a logical plan is a TREE: the exploded side's two consumers (doc
    // frequency + per-doc counts) necessarily duplicate the subtree, so
    // the single-evaluation guarantee is physical — the tokenize/window
    // pipeline sits BELOW the id-fence exchange, and the second consumer
    // must read a ReusedExchange instead of recomputing it. Exactly two
    // Generates (one per consumer, over already-hashed exchanged rows —
    // cheap); a third would mean a consumer re-derives the pipeline.
    val generates = out.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(generates.size == 2,
      s"expected the 2 consumer branches, got ${generates.size}")
    out.collect() // AQE reuse only shows in the EXECUTED plan
    assert(out.queryExecution.executedPlan.toString.contains("ReusedExchange"),
      out.queryExecution.executedPlan.toString.take(3000))
  }

  test("dropRepeatedSpans removes exactly the shared-span tokens") {
    val boiler = "one two three four five six seven eight"
    val df = docsOf(
      1L -> s"keep alpha beta gamma delta $boiler",
      2L -> s"other words flow here nicely $boiler",
      3L -> "totally independent document content here today")
    val out = Curation.dropRepeatedSpans(df, "doc_id", "text", windowTokens = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 3 untouched (normalized text preserved)
    assert(out(3L)._3 == "totally independent document content here today")
    assert(out(3L)._1 == out(3L)._2)
    // docs 1-2: the 8 shared boilerplate tokens are cut, uniques remain
    assert(out(1L)._3 == "keep alpha beta gamma delta")
    assert(out(2L)._3 == "other words flow here nicely")
    assert(out(1L)._1 == 13L && out(1L)._2 == 5L)
    // a doc that is ENTIRELY a shared span cleans to the empty string
    val dup = docsOf(10L -> boiler, 11L -> boiler)
    val gone = Curation.dropRepeatedSpans(dup, "doc_id", "text", windowTokens = 5)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(gone(10L) == "" && gone(11L) == "")
  }

  test("mergedRepeatedSpans merges overlapping and adjacent repeated " +
    "windows into maximal spans; dropRepeatedSpans coverage is identical " +
    "to the per-window semantics") {
    val df = docsOf(
      1L -> "u1 u2 b1 b2 b3 b4 b5 c1 c2 c3 c4 c5 u3", // B then C: ADJACENT spans
      3L -> "x y b1 b2 b3 b4 b5 z w v",                // B repeated elsewhere
      4L -> "k c1 c2 c3 c4 c5 q r t",                  // C repeated elsewhere
      5L -> "p q s1 s2 s3 s4 s5 s6 s7",                // 7-token run: OVERLAPPING windows
      6L -> "m s1 s2 s3 s4 s5 s6 s7 n o",
      7L -> "totally unrelated filler words only here")
    val spans = Curation.mergedRepeatedSpans(df, "doc_id", "text", windowTokens = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .groupBy(_._1).map { case (k, v) =>
        k -> v.map(x => (x._2, x._3)).sorted.toSeq }
    // doc 1: B at [3,8) and C at [8,13) are adjacent (start == open hi) →
    // ONE maximal span; the B/C-straddling windows are unique so only the
    // merge, not a longer shared window, can produce [3,13)
    assert(spans(1L) == Seq((3, 13)))
    assert(spans(3L) == Seq((3, 8)))
    assert(spans(4L) == Seq((2, 7)))
    // docs 5/6 share a 7-token run → 3 overlapping windows merge
    assert(spans(5L) == Seq((3, 10)))
    assert(spans(6L) == Seq((2, 9)))
    assert(!spans.contains(7L)) // nothing repeated → no rows
    // the merged-span coverage must remove EXACTLY the per-window cover
    val cleaned = Curation.dropRepeatedSpans(df, "doc_id", "text", windowTokens = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(cleaned(1L) == ((13L, 3L, "u1 u2 u3")))
    assert(cleaned(5L) == ((9L, 2L, "p q")))
    assert(cleaned(6L) == ((10L, 3L, "m n o")))
    assert(cleaned(7L)._1 == cleaned(7L)._2) // untouched doc keeps all tokens
  }

  // ------------------------------------------------- sequence packing

  test("packSequences assigns concat-and-chunk bins per shard") {
    val df = docsOf(
      1L -> "a b c d",        // 4 tokens
      2L -> "e f g",          // 3
      3L -> "h i j k l",      // 5
      4L -> "m n")            // 2
    // single shard → deterministic order by doc_id: prefixes 0,4,7,12
    val out = Curation.packSequences(df, "doc_id", "text", maxTokens = 5, numShards = 1)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(out(1L).getLong(r(out(1L), "chunk")) == 0L) // starts at token 0
    assert(out(2L).getLong(r(out(2L), "chunk")) == 0L) // starts at 4
    assert(out(3L).getLong(r(out(3L), "chunk")) == 1L) // starts at 7
    assert(out(4L).getLong(r(out(4L), "chunk")) == 2L) // starts at 12
    assert(out(3L).getLong(r(out(3L), "n_tokens")) == 5L)
    // sharded: chunks never cross shards; union of (shard,chunk) bins covers all docs
    val sharded = Curation.packSequences(df, "doc_id", "text", maxTokens = 5, numShards = 4)
    assert(sharded.count() == 4)
    // invariant under physical repartitioning
    val a = sharded.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(3))).toSet
    val b = Curation.packSequences(df.repartition(7), "doc_id", "text", 5, 4)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(3))).toSet
    assert(a == b)
  }

  test("packSequences at scale: chunking matches an independent per-shard prefix sum " +
    "and is partitioning-invariant (VERDICT r2 #6)") {
    // 400 docs, token counts 1..13 — big enough that shards hold many docs
    val df = spark.range(400).select(col("id").alias("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), (col("id") % 13) + 1),
        i => concat(lit("w"), i.cast("string")))).alias("text"))
    for (shards <- Seq(1, 8)) {
      val got = Curation.packSequences(df, "doc_id", "text", maxTokens = 16, numShards = shards)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
      // independent recomputation: group by shard, order by doc_id, running sum
      val byShard = got.groupBy(_._2)
      assert(byShard.keySet.subsetOf((0L until shards).toSet))
      byShard.foreach { case (_, rows) =>
        var prefix = 0L
        rows.sortBy(_._1).foreach { case (_, _, nTok, chunk) =>
          assert(chunk == prefix / 16, s"chunk mismatch at prefix $prefix")
          prefix += nTok
        }
      }
      // physical partitioning must not change a single assignment
      val re = Curation.packSequences(df.repartition(23), "doc_id", "text", 16, shards)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3))).toSet
      assert(re == got.toSet)
    }
  }

  test("packSequences carries only metadata into the prefix-sum window " +
    "(no text past the tokenCount projection); 64 shards spread rows flat") {
    val df = spark.range(20000).select(col("id").alias("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), (col("id") % 9) + 1),
        i => concat(lit("w"), i.cast("string")))).alias("text"))
    val out = Curation.packSequences(df, "doc_id", "text",
      maxTokens = 256, numShards = 64)
    // metadata-only window: the per-shard prefix-sum sort must never carry
    // document payloads — only (id, shard, n_tokens) may cross its shuffle
    val windows = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected a Window node in packSequences")
    windows.foreach { w =>
      val carried = w.child.output.map(_.name)
      assert(!carried.contains("text"),
        s"text payload crossed into the window input: $carried")
    }
    // 64 shards hash across the 32 shuffle partitions — every task holds
    // ~2 shards' metadata rows, no straggler task. AQE legitimately
    // coalesces this KB-sized test shuffle to a few tasks; disable
    // coalescing here to observe the at-scale task layout.
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val shuffleKey = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(coalesceKey)
    val prevShuffle = spark.conf.get(shuffleKey)
    try {
      spark.conf.set(coalesceKey, "false")
      spark.conf.set(shuffleKey, "32") // the test session runs 4 — too few to see the spread
      // count partition occupancy from COLLECTED rows: a
      // groupBy(spark_partition_id).count probe lets column pruning
      // delete the window+exchange entirely (p would be evaluated over
      // the raw 4-split range — measured), hollowing out the assertion
      val counts = Curation.packSequences(df, "doc_id", "text",
          maxTokens = 256, numShards = 64)
        .withColumn("p", spark_partition_id())
        .collect().groupBy(_.getInt(4)).values.map(_.size.toLong).toArray
      assert(counts.length >= 16, s"only ${counts.length} tasks held rows")
      val mean = counts.sum.toDouble / counts.length
      assert(counts.max <= 3.0 * mean,
        s"straggler task: max=${counts.max} rows vs mean=$mean")
    } finally {
      spark.conf.set(coalesceKey, prev)
      spark.conf.set(shuffleKey, prevShuffle)
    }
  }

  test("shingle-path plans tokenize once per corpus side " +
    "(ngramsOf let-binding regression)") {
    // contamination: one tokenize per side (corpus + bench) — before the
    // ngramsOf let-binding the zip_with fold re-derived the regex split
    // ~2n+2 times per row (sizes, slices, short-doc branch)
    val corpus = docsOf(1L -> "a b c d", 2L -> "c d e f").repartition(2)
    val bench = docsOf(10L -> "c d e").repartition(2)
    val plan = Curation.contamination(corpus, bench, "doc_id", "text", n = 2)
      .queryExecution.optimizedPlan.toString
    val splits = "split\\(".r.findAllIn(plan).length
    assert(splits == 2, s"expected 2 tokenizations (one per side), got $splits")
  }
}
