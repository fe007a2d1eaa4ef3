package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 text-cleaning operators: winnowing fingerprints, HTML strip,
  * corpus-level boilerplate-line removal. */
class FingerprintSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  // ----------------------------------------------------------- winnowing

  private def fps(text: String, k: Int = 3, w: Int = 2): Seq[Long] = {
    Seq(text).toDF("t")
      .select(Fingerprint.winnowFingerprints(col("t"), k, w))
      .head().getSeq[Long](0)
  }

  test("winnowFingerprints: hand-checked window minima") {
    // 5 tokens, k=3 → 3 grams; w=2 → windows {g1,g2},{g2,g3}; result =
    // distinct of the two minima, computed against a manual reference
    val text = "a b c d e"
    val grams = Seq("a b c", "b c d", "c d e")
    val manual = {
      val h = grams.map { g =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex.take(15), 16)
      }
      Seq(h(0) min h(1), h(1) min h(2)).distinct.sorted
    }
    assert(fps(text) == manual)
  }

  test("winnowFingerprints: winnowing guarantee — shared run ⇒ shared fp") {
    // any shared run of >= w+k-1 tokens must yield >= 1 shared fingerprint
    val shared = "the quick brown fox jumps over the lazy dog"
    val a = s"intro words here $shared and then some trailing content"
    val b = s"completely different opening $shared with another ending entirely"
    val fa = fps(a, k = 3, w = 4).toSet
    val fb = fps(b, k = 3, w = 4).toSet
    assert((fa & fb).nonEmpty, "overlapping span must share a fingerprint")
    // and two disjoint texts share nothing
    val fc = fps("alpha beta gamma delta epsilon zeta eta", 3, 4).toSet
    assert((fa & fc).isEmpty)
  }

  test("winnowFingerprints: short docs — fewer tokens than k, fewer grams than w") {
    assert(fps("a b", k = 5, w = 4).size == 1, "sub-k doc = one gram fp")
    assert(fps("a b c d", k = 3, w = 10).size == 1, "fewer grams than w = one window min")
  }

  test("winnowStats and winnowPairs: near-dup docs pair, unrelated don't") {
    val base = "zero one two three four five six seven eight nine ten eleven"
    val docs = Seq(
      (1L, base),
      (2L, s"$base twelve thirteen"), // shares a long run with 1
      (3L, "completely unrelated words nothing in common at all here friend")
    ).toDF("id", "text")
    val stats = Fingerprint.winnowStats(docs, "id", "text", 3, 4)
    assert(stats.count() == 3)
    assert(stats.filter(col("n_fps") <= 0).count() == 0)
    val pairs = Fingerprint.winnowPairs(docs, "id", "text", 3, 4, minShared = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("winnowPairs: maxDocFreq cap drops boilerplate fingerprints") {
    // one identical doc in ALL rows → every fp has docFreq 4 > cap 3 → no pairs
    val docs = (1L to 4L).map(i => (i, "same words in every single doc body"))
      .toDF("id", "text")
    val capped = Fingerprint.winnowPairs(docs, "id", "text", 3, 2,
      minShared = 1, maxDocFreq = 3)
    assert(capped.count() == 0)
    val uncapped = Fingerprint.winnowPairs(docs, "id", "text", 3, 2,
      minShared = 1, maxDocFreq = 100)
    assert(uncapped.count() == 6, "all 4-choose-2 pairs without the cap")
  }

  // ----------------------------------------------------------- stripHtml

  private def strip(s: String): String =
    Seq(s).toDF("h").select(TextAnalysis.stripHtml(col("h"))).head().getString(0)

  test("stripHtml: tags, script/style blocks, comments, entities") {
    assert(strip("<html><body><h1>Title</h1><p>Hello <b>world</b></p></body></html>")
      == "Title Hello world")
    assert(strip("<script>var x = '<p>not text</p>';</script>keep") == "keep")
    assert(strip("<style type=\"text/css\">p { color: red }</style>keep") == "keep")
    assert(strip("a<!-- hidden <b>comment</b> -->b") == "a b")
    assert(strip("x &lt;tag&gt; &amp; &quot;q&quot; &#39;s&#39;&nbsp;end")
      == "x <tag> & \"q\" 's' end")
    // &amp; decodes LAST: &amp;lt; is the literal &lt;, not <
    assert(strip("&amp;lt;") == "&lt;")
    // case-insensitive block strip
    assert(strip("<SCRIPT>alert(1)</SCRIPT>ok") == "ok")
  }

  // ------------------------------------------------- dropBoilerplateLines

  test("dropBoilerplateLines: frequent lines drop, order survives, empty docs stay") {
    val nav = "HOME | ABOUT | CONTACT"
    val docs = Seq(
      (1L, s"$nav\nunique one\nfooter"),
      (2L, s"$nav\nunique two\nfooter"),
      (3L, s"$nav\nunique three\nfooter"),
      (4L, s"$nav\nfooter") // all-boilerplate doc → empty text, row kept
    ).toDF("id", "text")
    val got = Curation.dropBoilerplateLines(docs, "id", "text", maxDocFreq = 2)
      .orderBy("id")
      .as[(Long, String, Long, Long)].collect()
    assert(got.length == 4, "no row loss")
    assert(got(0) == ((1L, "unique one", 1L, 2L)))
    assert(got(1) == ((2L, "unique two", 1L, 2L)))
    assert(got(2) == ((3L, "unique three", 1L, 2L)))
    assert(got(3) == ((4L, "", 0L, 2L)))
  }

  // ---------------------------------------------------- globalTokenPack

  test("globalTokenPack: spans tile the token axis exactly, any bucket count") {
    val docs = (1L to 40L)
      .map(i => (i, (1L to (i % 7 + 1)).map(k => s"w$k").mkString(" ")))
      .toDF("id", "text")
    val total = 40L // sum over i of (i % 7 + 1) tokens
    val totalTokens = (1L to 40L).map(_ % 7 + 1).sum
    for (b <- Seq(1, 8, 4096)) {
      val got = Curation.globalTokenPack(docs, "id", "text", seqLen = 10, buckets = b)
      val rows = got.collect()
      // spans cover every doc completely
      val perDoc = rows.groupBy(_.getLong(0))
        .map { case (id, rs) => id -> rs.map(_.getLong(5)).sum }
      assert(perDoc.values.forall(_ > 0))
      assert(perDoc.map(_._2).sum == totalTokens, s"buckets=$b")
      // every sequence except the last is exactly full
      val perSeq = rows.groupBy(_.getLong(2))
        .map { case (s, rs) => s -> rs.map(_.getLong(5)).sum }
      val lastSeq = perSeq.keys.max
      perSeq.foreach { case (s, len) =>
        if (s < lastSeq) assert(len == 10L, s"seq $s has $len tokens (buckets=$b)")
        else assert(len <= 10L)
      }
      // offsets consistent: seq_offset + span_len <= seqLen; doc_offset < n_tokens
      rows.foreach { r =>
        assert(r.getLong(4) + r.getLong(5) <= 10L)
        assert(r.getLong(3) < r.getLong(1))
      }
      // bucket count must not change the layout
      val canon = rows.map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
      val one = Curation.globalTokenPack(docs, "id", "text", 10, buckets = 1)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
      assert(canon == one, s"buckets=$b differs from buckets=1")
    }
  }

  test("globalTokenPack: a doc longer than seqLen spans multiple sequences") {
    val docs = Seq((1L, (1 to 25).map(i => s"t$i").mkString(" "))).toDF("id", "text")
    val got = Curation.globalTokenPack(docs, "id", "text", seqLen = 10)
      .orderBy("seq_id").collect()
    assert(got.length == 3)
    assert(got.map(_.getLong(5)).toSeq == Seq(10L, 10L, 5L))
    assert(got.map(_.getLong(3)).toSeq == Seq(0L, 10L, 20L), "doc offsets advance")
    assert(got.forall(_.getLong(4) == 0L), "single doc starts every seq at 0")
  }

  /** The spine-join form `dropBoilerplateLines` replaced: a (line, doc)
    * distinct count, an anti-join of the exploded lines, a per-doc
    * regroup, and a left join back to every input id. */
  private def boilerplateBySpine(df: DataFrame, maxDocFreq: Int, sep: String): DataFrame = {
    val parts = split(col("text"), java.util.regex.Pattern.quote(sep), -1)
    val lines = df.select(col("id"), posexplode(parts).as(Seq("__pos", "__line")))
    val overCap = lines.select(col("__line"), col("id")).distinct()
      .groupBy(col("__line")).agg(count(lit(1)).alias("__df"))
      .filter(col("__df") > maxDocFreq).select(col("__line"))
    val rebuilt = lines.join(overCap, Seq("__line"), "left_anti").groupBy(col("id"))
      .agg(collect_list(struct(col("__pos"), col("__line"))).alias("__ls"))
      .select(col("id"),
        array_join(transform(array_sort(col("__ls")), s => s.getField("__line")), sep)
          .alias("text_clean"),
        size(col("__ls")).cast("long").alias("n_kept"))
    df.select(col("id"), size(parts).cast("long").alias("__n"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col("text_clean"), lit("")).alias("text_clean"),
        coalesce(col("n_kept"), lit(0L)).alias("n_kept"),
        (col("__n") - coalesce(col("n_kept"), lit(0L))).alias("n_dropped"))
  }

  test("dropBoilerplateLines ≡ the spine-join form on random docs") {
    val rnd = new scala.util.Random(16)
    val boiler = Seq("HOME | ABOUT", "footer", "", "(c) 2024")
    for (sep <- Seq("\n", "||")) {
      val docs = (0 until 120).map { i =>
        val text = i % 17 match {
          case 0 => null
          case 1 => ""
          case 2 => Seq.fill(1 + rnd.nextInt(4))(boiler(rnd.nextInt(boiler.size))).mkString(sep)
          case _ => Seq.fill(rnd.nextInt(7))(
            if (rnd.nextInt(3) == 0) boiler(rnd.nextInt(boiler.size))
            else s"body ${rnd.nextInt(40)}").mkString(sep)
        }
        (i.toLong, text)
      }
      val df = spark.sparkContext.parallelize(docs, 4).toDF("id", "text")
      for (cap <- Seq(1, 3, 20)) {
        val got = Curation.dropBoilerplateLines(df, "id", "text", cap, sep)
        assert(got.count() == 120, s"sep=$sep cap=$cap: row loss")
        assertSameRows(got, boilerplateBySpine(df, cap, sep))
      }
    }
  }

  test("dropBoilerplateLines: in-document repeats count once toward doc frequency") {
    val docs = Seq(
      (1L, "dup\ndup\ndup\nkeep a"), // 'dup' x3 in ONE doc = docFreq 1
      (2L, "keep b")
    ).toDF("id", "text")
    val got = Curation.dropBoilerplateLines(docs, "id", "text", maxDocFreq = 1)
      .orderBy("id").as[(Long, String, Long, Long)].collect()
    // docFreq('dup') = 1 <= cap → kept, all three occurrences
    assert(got(0) == ((1L, "dup\ndup\ndup\nkeep a", 4L, 0L)))
    assert(got(1) == ((2L, "keep b", 1L, 0L)))
  }
}
