package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.functions.SimHash
import scala.jdk.CollectionConverters._

class ExtSpec extends SparkSpec {

  /** Corpus with exact dups, near dups, and distinct docs. */
  lazy val docs: DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val rows = Seq(
      Row(1L, "the quick brown fox jumps over the lazy dog"),
      Row(2L, "The quick  brown fox jumps over the lazy dog"), // exact dup after normalize
      Row(3L, "the quick brown fox jumps over the lazy cat"),  // near dup of 1
      Row(4L, "spark catalyst optimizer rewrites logical plans"),
      Row(5L, "completely different content about databases and storage engines"),
      Row(6L, "der schnelle braune fuchs und die faule katze sind hier"))
    spark.createDataFrame(rows.asJava, schema)
  }

  test("exact dedup keeps min id per normalized text") {
    val out = Dedup.exact(docs, "text", "doc_id")
    val ids = out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 3L, 4L, 5L, 6L)) // 2 deduped into 1
  }

  test("ngram jaccard finds the near-dup pair") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(r.fieldIndex("id_a")), r.getLong(r.fieldIndex("id_b"))))
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
  }

  test("minhash LSH candidates have full recall on high-jaccard pairs here") {
    val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 2, threshold = 0.6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cands = Dedup.minhashCandidates(docs, "text", "doc_id",
      shingleN = 2, numHashes = 32, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(cands), s"missed: ${exact -- cands}")
    val verified = Dedup.minhashNearDuplicates(docs, "text", "doc_id", 0.6, 2, 32, 16)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified == exact)
  }

  test("simhash custom expression matches a HOF reimplementation and finds dups") {
    val sh = Dedup.simhash(docs, "text", "doc_id")
    // HOF re-implementation: per-bit weights from xxhash64(token)
    val toks = TextAnalysis.tokens(TextAnalysis.normalized(col("text")))
    val hofBits = transform(sequence(lit(0), lit(63)), b =>
      when(aggregate(toks, lit(0L), (acc, t) =>
        acc + when(call_function("getbit", xxhash64(t), b) === 1, 1L).otherwise(-1L)) >= 0,
        lit(1L)).otherwise(lit(0L)))
    val hof = docs.select(col("doc_id"), hofBits.alias("bits_hof"))
    val expBits = sh.select(col("doc_id"), transform(sequence(lit(0), lit(63)),
      b => call_function("getbit", col("simhash"), b).cast("long")).alias("bits_expr"))
    val joined = expBits.join(hof, "doc_id")
      .filter(col("bits_expr") =!= col("bits_hof")).count()
    assert(joined == 0)
    // near-dup pair 1-2 identical after normalize → hamming 0
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", maxDist = 8)
      .collect().map(r => (r.getLong(r.fieldIndex("id_a")), r.getLong(r.fieldIndex("id_b")))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  lazy val vectors: DataFrame = {
    val rnd = new scala.util.Random(7)
    val base = Array.fill(50)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val rows = base.zipWithIndex.flatMap { case (v, i) =>
      val nearDup = v.clone(); nearDup(0) = nearDup(0) + 0.01f
      if (i < 5) Seq(Row(i.toLong, v.toSeq), Row((i + 1000).toLong, nearDup.toSeq))
      else Seq(Row(i.toLong, v.toSeq))
    }
    spark.createDataFrame(rows.toSeq.asJava, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))
  }

  test("embedding near-dup: exact finds planted pairs; LSH verified subset is consistent") {
    val exact = Dedup.embeddingNearDupExact(vectors, "embedding", "vec_id", 0.999)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 5).foreach(i => assert(exact.contains((i.toLong, (i + 1000).toLong))))
    val lsh = Dedup.embeddingNearDupLsh(vectors, "embedding", "vec_id",
      0.999, planes = 16, bands = 8, dim = 16)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact)) // verify step guarantees precision
    assert(lsh.nonEmpty)        // and banding catches near-identical vectors
  }

  test("brute-force top-k is exact and ivf top-k overlaps it") {
    val queries = vectors.filter(col("vec_id") < 3)
    val bf = Similarity.bruteForceTopK(vectors, queries, 5, "vec_id", "embedding")
    assert(bf.groupBy("query_id").count().collect().forall(_.getLong(1) == 5))
    // rank 1 for query i must be its planted near-dup i+1000
    val top1 = bf.filter(col("rank") === 1)
      .collect().map(r => r.getLong(r.fieldIndex("query_id")) -> r.getLong(r.fieldIndex("vec_id"))).toMap
    (0L until 3L).foreach(i => assert(top1(i) == i + 1000))
    val ivf = Similarity.ivfTopK(vectors, queries, 5, "vec_id", "embedding", nlist = 8, nprobe = 4)
    val bfSet = bf.select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfSet = ivf.select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ANN: no false results relative to schema, decent overlap, top-1 found
    assert((bfSet intersect ivfSet).size >= bfSet.size / 2)
    (0L until 3L).foreach(i => assert(ivfSet.contains((i, i + 1000))))
  }

  test("text analysis: counts, ratios, langid, fingerprint") {
    val stats = TextAnalysis.docStats(docs, "text")
    val r1 = stats.filter(col("doc_id") === 1).collect()(0)
    assert(r1.getAs[Long]("n_tokens") == 9)
    assert(r1.getAs[String]("lang_pred") == "en")
    val r6 = stats.filter(col("doc_id") === 6).collect()(0)
    assert(r6.getAs[String]("lang_pred") == "de")
    // fingerprints equal for 1 and 2 (normalization)
    val fps = stats.filter(col("doc_id").isin(1, 2)).select("fingerprint")
      .collect().map(_.getString(0))
    assert(fps(0) == fps(1))
    val q = stats.select("quality").collect().map(_.getDouble(0))
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("multimodal: asset schema, stub decode, batch decode, frame sampling") {
    val assets = Multimodal.assetsFromText(docs, "doc_id", "text")
    assert(assets.schema("payload").dataType == BinaryType)
    assert(assets.schema("meta").dataType.isInstanceOf[StructType])
    val feats = Multimodal.extractFeatures(assets, dim = 8)
    val row = feats.filter(col("asset_id") === 1).collect()(0)
    val fv = row.getSeq[Double](row.fieldIndex("features"))
    assert(fv.size == 8 && fv.forall(v => v >= 0.0 && v < 1.0))
    // deterministic: same payload → same features
    val feats2 = Multimodal.extractFeatures(assets, dim = 8)
      .filter(col("asset_id") === 1).collect()(0)
    assert(feats2.getSeq[Double](feats2.fieldIndex("features")) == fv)
    val batch = Multimodal.decodeBatches(assets, dim = 8)
    assert(batch.count() == docs.count())
    val frames = assets.select(col("asset_id"),
      Multimodal.fakeFrameSample(col("payload"), lit(10L), 3).alias("frames"))
    val f = frames.filter(col("asset_id") === 1).collect()(0)
    assert(f.getSeq[Row](1).map(_.getLong(0)) == Seq(0L, 3L, 6L, 9L))
    val resized = Multimodal.fakeResize(assets, 8, 4)
    val m = resized.filter(col("asset_id") === 1).select("meta.width", "meta.height").collect()(0)
    assert((m.getInt(0), m.getInt(1)) == (8, 4))
  }

  test("repartitionBySize spreads a size-skewed asset corpus across tasks") {
    // 64 heavy assets (~8 KB) + 1024 tiny ones; consecutive ids so a naive
    // range/roundrobin split would clump the heavies together
    val heavy = spark.range(64).select(col("id").alias("doc_id"),
      concat_ws("", (0 until 512).map(_ => lit("HEAVYHEAVYHEAVY!")): _*).alias("text"))
    val tiny = spark.range(64, 1088).select(col("id").alias("doc_id"),
      lit("t").alias("text"))
    val assets = Multimodal.assetsFromText(heavy.union(tiny), "doc_id", "text")
    val parts = Multimodal.repartitionBySize(assets, 8)
    val sizes = parts
      .select(spark_partition_id().alias("pid"), col("meta.n_bytes").alias("b"))
      .groupBy("pid").agg(sum("b").alias("bytes"), count(lit(1)).alias("n"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(sizes.length == 8, s"expected 8 partitions, got ${sizes.length}")
    val bytes = sizes.map(_._1)
    // hash-spread: every task gets a share of the heavy payloads —
    // no empty partitions and max byte load within 3x of the mean
    // (deterministic: murmur3 HashPartitioning of fixed ids)
    assert(bytes.forall(_ > 0))
    val mean = bytes.sum.toDouble / bytes.length
    assert(bytes.max <= 3.0 * mean,
      s"skewed spread: ${bytes.toSeq} (mean $mean)")
  }

  test("semDedupSurvivors: nlist=1 equals exact-pair clustering, and " +
    "planted near-dups still collapse under multi-cluster pruning") {
    // ground truth: exact all-pairs → connected components → survivors
    val pairs = Dedup.embeddingNearDupExact(vectors, "embedding", "vec_id", 0.999)
    val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val keep = comps.filter(col("id") === col("comp")).select(col("id").alias("vec_id"))
    val singles = vectors.select(col("vec_id"))
      .join(comps.select(col("id").alias("vec_id")), Seq("vec_id"), "left_anti")
    val want = singles.union(keep).collect().map(_.getLong(0)).toSet
    // nlist=1: within-cluster pairs ARE the exact pairs — outputs equal
    val got1 = Dedup.semDedupSurvivors(vectors, "embedding", "vec_id", 0.999,
      nlist = 1, trainIters = 0).collect().map(_.getLong(0)).toSet
    assert(got1 == want)
    // nlist>1: cluster-local pruning can only MISS pairs, so survivors is
    // a superset of the exact set; the planted near-identical pairs
    // co-cluster (their centroid cosines are ~equal), so each planted dup
    // i+1000 must still collapse into its original i
    val got4 = Dedup.semDedupSurvivors(vectors, "embedding", "vec_id", 0.999,
      nlist = 4, trainIters = 2).collect().map(_.getLong(0)).toSet
    assert(want.subsetOf(got4))
    (0L until 5L).foreach(i =>
      assert(!got4.contains(i + 1000), s"planted dup ${i + 1000} survived"))
  }

  test("repartitionBySize: ONE giant asset among KB assets keeps row spread " +
    "balanced (the giant gets no gravity)") {
    // one ~32 MB payload among 512 one-KB payloads — the pathological
    // distribution a range-partition-on-size would concentrate; the
    // hash-spread must keep per-task ROW counts flat (the giant's bytes
    // dominate its task unavoidably, but it must not drag other rows in)
    val giant = spark.range(1).select(col("id").alias("doc_id"),
      repeat(lit("x"), 32 * 1024 * 1024).alias("text"))
    val small = spark.range(1, 513).select(col("id").alias("doc_id"),
      repeat(lit("y"), 1024).alias("text"))
    val assets = Multimodal.assetsFromText(giant.union(small), "doc_id", "text")
    val parts = Multimodal.repartitionBySize(assets, 8)
    val counts = parts.select(spark_partition_id().alias("pid"), col("asset_id"))
      .groupBy("pid").agg(count(lit(1)).alias("n"),
        max(when(col("asset_id") === 0L, 1L).otherwise(0L)).alias("has_giant"))
      .collect().map(r => (r.getLong(1), r.getLong(2) == 1L))
    assert(counts.length == 8, s"expected 8 partitions, got ${counts.length}")
    val mean = counts.map(_._1).sum.toDouble / counts.length
    assert(counts.map(_._1).max <= 2.0 * mean,
      s"row clump: ${counts.map(_._1).toSeq} (mean $mean)")
    // the giant's own partition is ALSO within the flat row bound
    val giantPart = counts.find(_._2).get
    assert(giantPart._1 <= 2.0 * mean)
  }

  test("decodeBatches runs the codec factory ONCE per partition and the " +
    "decode once per row (per-executor state seam)") {
    ExtSpec.codecInits.set(0)
    ExtSpec.codecDecodes.set(0)
    val assets = Multimodal.assetsFromText(docs, "doc_id", "text").repartition(4)
    val out = Multimodal.decodeBatches(assets, 4, () => {
      ExtSpec.codecInits.incrementAndGet()
      new Multimodal.AssetCodec {
        def decode(p: Array[Byte]): Array[Double] = {
          ExtSpec.codecDecodes.incrementAndGet()
          Array.fill(4)(0.5)
        }
      }
    })
    val n = out.count()
    assert(n == docs.count())
    assert(ExtSpec.codecDecodes.get() == n,
      s"decode must run once per row, ran ${ExtSpec.codecDecodes.get()} for $n rows")
    assert(ExtSpec.codecInits.get() == 4,
      s"codec must initialize once per partition (4), ran ${ExtSpec.codecInits.get()}")
  }

  test("DotProduct expression is bit-identical to the HOF dot kernel") {
    val sp = spark
    val both = vectors.crossJoin(
      vectors.select(col("vec_id").alias("id2"), col("embedding").alias("e2")))
      .limit(500)
      .select(
        Similarity.dot(col("embedding"), col("e2")).alias("hof"),
        graft.functions.DotProduct.dot(col("embedding"), col("e2")).alias("fused"))
    // exact bitwise equality: same left-to-right double accumulation.
    // null-safe compare: a null-vs-value divergence must fail, not vanish
    assert(both.filter(not(col("hof") <=> col("fused"))).count() == 0)
    // mixed element types: array<double> plane vs array<float> embedding
    val plane = array((0 until 16).map(i => lit(i * 0.37 - 2.0)): _*)
    val mixed = vectors.select(
      Similarity.dot(plane, col("embedding")).alias("hof"),
      graft.functions.DotProduct.dot(plane, col("embedding")).alias("fused"))
    assert(mixed.filter(not(col("hof") <=> col("fused"))).count() == 0)
    // degenerate inputs: null element and length mismatch poison BOTH paths
    val weird = sp.sql("""SELECT array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)) AS a,
      array(CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT)) AS b,
      array(CAST(1.0 AS FLOAT)) AS short""")
    val degen = weird.select(
      Similarity.dot(col("a"), col("b")).alias("h1"),
      graft.functions.DotProduct.dot(col("a"), col("b")).alias("f1"),
      Similarity.dot(col("short"), col("b")).alias("h2"),
      graft.functions.DotProduct.dot(col("short"), col("b")).alias("f2")).collect()(0)
    assert(degen.isNullAt(0) && degen.isNullAt(1) && degen.isNullAt(2) && degen.isNullAt(3))
  }

  test("trained IVF centroids keep top-1 recall and match nlist") {
    val queries = vectors.filter(col("vec_id") < 3)
    val trained = Similarity.ivfTopK(vectors, queries, 5, "vec_id", "embedding",
      nlist = 8, nprobe = 4, trainIters = 2)
    val ivfSet = trained.select("query_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 3L).foreach(i => assert(ivfSet.contains((i, i + 1000))))
    val cents = Similarity.trainCentroids(vectors, "vec_id", "embedding", 8, 2)
    assert(cents.count() <= 8) // clusters can empty out, never grow
    // centroid dimensionality preserved through the posexplode roundtrip
    assert(cents.select(size(col("cent_vec"))).collect().forall(_.getInt(0) == 16))
  }

  test("JaccardSim expression equals the HOF jaccard on shingle arrays") {
    val sp = spark
    val sh = docs.select(col("doc_id"), Dedup.wordShingles(col("text"), 2).alias("s"))
    val pairs = sh.crossJoin(sh.select(col("doc_id").alias("id2"), col("s").alias("s2")))
      .select(
        Dedup.jaccard(col("s"), col("s2")).alias("hof"),
        graft.functions.JaccardSim.jaccard(col("s"), col("s2")).alias("fused"))
    assert(pairs.filter(not(col("hof") <=> col("fused"))).count() == 0)
    // empty-vs-empty → 0.0 on both paths
    val e = sp.sql("SELECT CAST(array() AS array<string>) AS a")
    assert(e.select(graft.functions.JaccardSim.jaccard(col("a"), col("a")))
      .collect()(0).getDouble(0) == 0.0)
  }

  test("dedup and similarity operators handle empty inputs") {
    val noDocs = docs.filter(col("doc_id") < 0)
    assert(Dedup.exact(noDocs, "text", "doc_id").count() == 0)
    assert(Dedup.minhashNearDuplicates(noDocs, "text", "doc_id", 0.5, 2, 32, 16).count() == 0)
    assert(Dedup.simhashPairs(noDocs, "text", "doc_id").count() == 0)
    val noVecs = vectors.filter(col("vec_id") < 0)
    assert(Similarity.bruteForceTopK(vectors, noVecs, 5, "vec_id", "embedding").count() == 0)
    assert(Similarity.bruteForceTopK(noVecs, vectors, 5, "vec_id", "embedding").count() == 0)
    assert(Dedup.embeddingNearDupExact(noVecs, "embedding", "vec_id", 0.5).count() == 0)
    assert(Dedup.semDedupSurvivors(noVecs, "embedding", "vec_id", 0.9,
      nlist = 2, trainIters = 1).count() == 0)
    assert(TextAnalysis.docStats(noDocs, "text").count() == 0)
  }

  test("simhash rejects non array<string> input") {
    assertThrows[org.apache.spark.sql.AnalysisException] {
      docs.select(SimHash.simhash64(col("doc_id"))).collect()
    }
  }

  test("connectedComponents labels chains, stars, and disjoint cliques by min id") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),   // chain 1-2-3-4
      (10L, 11L), (10L, 12L), (10L, 13L), // star around 10
      (20L, 21L), (21L, 22L), (20L, 22L)) // triangle
    val df = spark.createDataFrame(
      new java.util.ArrayList(edges.map { case (a, b) => Row(a, b) }.asJava),
      StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType))))
    val comp = Dedup.connectedComponents(df, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comp(_) == 1L))
    assert(Seq(10L, 11L, 12L, 13L).forall(comp(_) == 10L))
    assert(Seq(20L, 21L, 22L).forall(comp(_) == 20L))
    // empty pair set → empty labeling, no convergence failure
    assert(Dedup.connectedComponents(df.limit(0), "id_a", "id_b").count() == 0)
  }

  test("ANSI edge cases: null text, zero-norm vectors, dim mismatch, bad step") {
    import graft.ext.TextAnalysis._
    // null text scores 0 everywhere (least/greatest skip nulls and would
    // otherwise hand a missing doc a 0.75 quality score)
    val nul = spark.sql("SELECT CAST(NULL AS STRING) AS text")
    val r = nul.select(qualityScore(col("text")).alias("q"),
      tokenCount(col("text")).alias("n"), stopwordRatio(col("text")).alias("s"),
      punctRatio(col("text")).alias("p"), meanTokenLength(col("text")).alias("m"))
      .collect()(0)
    assert((r.getDouble(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
      r.getDouble(4)) == ((0.0, 0L, 0.0, 0.0, 0.0)))
    // contamination: null-text doc reports contaminated = false, not null
    val corpus = spark.sql(
      "SELECT * FROM VALUES (1, 'alpha beta gamma'), (2, CAST(NULL AS STRING)) t(doc_id, text)")
    val bench = spark.sql("SELECT 'alpha beta gamma delta' AS text")
    val cont = graft.ext.Curation.contamination(corpus, bench, "doc_id", "text", 2, 0.1)
      .collect().map(x => x.getAs[Int]("doc_id") -> x.getAs[Boolean]("contaminated")).toMap
    assert(cont(2) == false && cont(1) == true)
    // zero-norm embedding: null cosine is dropped, no DIVIDE_BY_ZERO crash
    val vecs = spark.sql(
      """SELECT * FROM VALUES (1, array(CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT))),
        |(2, array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))),
        |(3, array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) t(vec_id, embedding)""".stripMargin)
    val pairs = Dedup.embeddingNearDupExact(vecs, "embedding", "vec_id", 0.9)
      .collect().map(x => (x.getAs[Int]("id_a"), x.getAs[Int]("id_b")))
    assert(pairs.toSeq == Seq((2, 3))) // the zero vector pairs with nothing
    // dim mismatch fails loudly instead of collapsing into one bucket
    val e = intercept[Exception] {
      Similarity.hyperplaneBuckets(vecs, "embedding", "vec_id",
        planes = 8, bands = 2, dim = 64).count()
    }
    assert(e.getMessage.contains("size != dim") ||
      Option(e.getCause).exists(_.getMessage.contains("size != dim")))
    // step < 1 is an argument error, not a per-row execution error
    assertThrows[IllegalArgumentException] {
      Multimodal.fakeFrameSample(lit(Array[Byte](1)), lit(3L), 0)
    }
  }

  test("quotaSample works with string ids (no ANSI cast crash)") {
    val df = spark.sql(
      """SELECT * FROM VALUES ('en', 'doc_a'), ('en', 'doc_b'), ('en', 'doc_c'),
        |('de', 'doc_x'), ('de', 'doc_y') t(lang, doc_id)""".stripMargin)
    val out = graft.ext.Curation.quotaSample(df, "lang", "doc_id", 2)
    val rows = out.collect().map(x =>
      (x.getAs[String]("lang"), x.getAs[Long]("rank"), x.getAs[String]("doc_id")))
    assert(rows.count(_._1 == "en") == 2 && rows.count(_._1 == "de") == 2)
    assert(rows.forall(_._3.startsWith("doc_")))
    // deterministic: same hash ranking on rerun
    assert(out.collect().sortBy(_.toString).toSeq ==
      graft.ext.Curation.quotaSample(df, "lang", "doc_id", 2)
        .collect().sortBy(_.toString).toSeq)
  }

  test("minhash LSH rejects bands > numHashes instead of silently emitting " +
    "zero candidates") {
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashCandidates(docs, "text", "doc_id", numHashes = 32, bands = 64)
        .count()
    }
    assert(e.getMessage.contains("numHashes >= bands"))
  }

  test("bucket-size guard: hot buckets dropped by two-pass anti-join, " +
    "no Window node anywhere in the candidate pipeline") {
    // 30 identical boilerplate docs: every band bucket they share has 30
    // rows > cap 10, so the guard must drop them ALL — while the genuine
    // near-dup pair (1, 2) in its own size-2 buckets must survive
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val rows = Seq(
      Row(1L, "the quick brown fox jumps over the lazy dog"),
      Row(2L, "the quick  brown fox jumps over the lazy dog")) ++
      (100L until 130L).map(i =>
        Row(i, "lorem ipsum boilerplate footer text repeated on every page"))
    val df = spark.createDataFrame(rows.asJava, schema)
    val cands = Dedup.minhashCandidates(df, "text", "doc_id",
      shingleN = 2, numHashes = 32, bands = 16, maxBucketSize = 10)
    val pairs = cands.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.forall { case (a, b) => a < 100L && b < 100L },
      s"hot-bucket ids leaked into candidates: $pairs")
    // the guard must not be a window: a count-over-partition materializes
    // every row of the hot bucket in one task before dropping it
    val plan = cands.queryExecution.sparkPlan.toString
    assert(!plan.contains("Window"), plan.take(3000))
    assert(plan.contains("LeftAnti"), plan.take(3000))
    // simhash pigeonhole path uses the same guard
    val sp = Dedup.simhashPairs(df, "text", "doc_id", maxDist = 3, maxBucketSize = 10)
    val spPlan = sp.queryExecution.sparkPlan.toString
    assert(!spPlan.contains("Window"), spPlan.take(3000))
    val spPairs = sp.collect()
      .map(r => (r.getLong(r.fieldIndex("id_a")), r.getLong(r.fieldIndex("id_b")))).toSet
    assert(spPairs.contains((1L, 2L)))
    assert(spPairs.forall { case (a, b) => a < 100L && b < 100L })
    // cap disabled → guard is the identity (no anti-join in the plan)
    val noCap = Dedup.simhashPairs(df, "text", "doc_id", maxDist = 3)
    assert(!noCap.queryExecution.sparkPlan.toString.contains("LeftAnti"))
  }

  test("connectedComponents converges on a 300-node chain within 25 rounds " +
    "(star contraction: O(log n), plain propagation would need 299)") {
    val chain = spark.range(299).select(col("id").alias("id_a"),
      (col("id") + 1).alias("id_b"))
    // smallGraphEdges = 0 forces the DISTRIBUTED loop — this test gates
    // the path-halving round bound, which the driver fast path would skip
    val comp = Dedup.connectedComponents(chain, "id_a", "id_b", smallGraphEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == 300)
    assert(comp.values.forall(_ == 0L))
  }

  test("connectedComponentsCounted: contraction rounds ≈ log₂(n), " +
    "plain propagation rounds ≈ diameter, identical labels") {
    // diameter-32 chain: the min label (node 0) must cross every hop
    val chain = spark.range(32).select(col("id").alias("id_a"),
      (col("id") + 1).alias("id_b"))
    val (contracted, cr) = Dedup.connectedComponentsCounted(
      chain, "id_a", "id_b", maxIter = 25)
    val (plain, pr) = CounterExamples.propagationComponents(
      chain, "id_a", "id_b", maxIter = 80)
    // contraction: component node count at least halves per round
    assert(cr <= 7, s"contraction took $cr rounds on a 33-node chain")
    // plain: the min travels one hop per round — the O(diameter) cost
    // contraction exists to avoid (the scale_cc_chain bench pair
    // measures the same contrast with per-round volume)
    assert(pr >= 32, s"propagation-only took only $pr rounds — " +
      "either the chain shrank or plain mode still contracts")
    assert(pr > cr * 3, s"round contrast collapsed: plain=$pr contract=$cr")
    // same fixed point
    val h = contracted.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val p = plain.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h == p && h.size == 33 && h.values.forall(_ == 0L))
  }

  test("contraction is O(log n) on RANDOM-id topologies too — the case " +
    "label-only pointer halving lost (75 rounds on a 200k-edge graph)") {
    // a 200-node path whose ids are a fixed pseudo-random permutation:
    // label pointers land on local minima and stop helping, so the old
    // halving loop needed ~diameter rounds here. Contraction must stay
    // logarithmic: every node merges with a neighbor every round.
    val perm = new scala.util.Random(42).shuffle((0 until 200).toVector)
    val edges = (0 until 199).map(i => (perm(i).toLong, perm(i + 1).toLong))
    val df = spark.createDataFrame(
      edges.map(e => Row(e._1, e._2)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("b", org.apache.spark.sql.types.LongType))))
    val (labels, rounds) = Dedup.connectedComponentsCounted(
      df, "a", "b", maxIter = 25)
    assert(rounds <= 10, s"contraction took $rounds rounds on a " +
      "permuted 200-node path (log2(200) ≈ 7.6)")
    val m = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m.size == 200 && m.values.forall(_ == 0L), "one component, min root")
  }

  test("connectedComponents small-graph fast path equals the distributed " +
    "loop on random graphs") {
    val rnd = new scala.util.Random(13)
    (0 until 3).foreach { trial =>
      val edges = Seq.fill(120)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter { case (a, b) => a != b }
      val df = spark.createDataFrame(edges.map(e => Row(e._1, e._2)).asJava,
        StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType))))
      val fast = Dedup.connectedComponents(df, "id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val dist = Dedup.connectedComponents(df, "id_a", "id_b", smallGraphEdges = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(fast == dist, s"trial $trial: fast ${fast.size} vs dist ${dist.size}")
    }
  }

  test("nearDupSurvivors keeps min id per dup cluster plus all singletons") {
    val out = Dedup.nearDupSurvivors(docs, "text", "doc_id", threshold = 0.5,
      shingleN = 2, numHashes = 32, bands = 32)
      .collect().map(_.getLong(0)).sorted.toSeq
    // docs 1,2,3 form one near-dup cluster at 0.5 (1≡2 exact, 3 near) →
    // survivor 1; docs 4,5,6 match nothing
    assert(out == Seq(1L, 4L, 5L, 6L))
  }

  test("TopKByScore equals the window-rank reference on random scored data") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(11)
    // random scores with deliberate ties and some nulls, uneven group sizes
    val rows = (0 until 400).map { i =>
      val q = (i % 7).toLong
      val score: java.lang.Double =
        if (rnd.nextInt(20) == 0) null else rnd.nextInt(12) / 10.0
      Row(q, i.toLong, score)
    } ++ Seq(Row(99L, 1L, java.lang.Double.valueOf(0.5))) // group smaller than k
    val scored = spark.createDataFrame(new java.util.ArrayList(rows.asJava),
      StructType(Seq(StructField("query_id", LongType), StructField("vec_id", LongType),
        StructField("cosine", DoubleType))))
    val k = 5
    val got = Similarity.topKRank(scored, k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id").asc)
    val want = scored.filter(col("cosine").isNotNull)
      .withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(got == want)
    // the undersized group ranks its single candidate
    assert(got.contains((99L, 1L, 0.5, 1L)))
  }

  test("MinHashSignature expression matches the one-hash affine-mix model") {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.unsafe.types.UTF8String
    val k = 16
    val (a, b) = graft.functions.MinHashSignature.mixFor(k)
    def expected(shingles: Seq[String]): Seq[Long] = {
      val acc = Array.fill(k)(Long.MaxValue)
      shingles.foreach { s =>
        val h = XxHash64Function.hash(UTF8String.fromString(s), StringType, 42L)
        (0 until k).foreach { j =>
          val v = h * a(j) + b(j)
          if (v < acc(j)) acc(j) = v
        }
      }
      acc.toSeq
    }
    val sh = docs.select(col("doc_id"), Dedup.wordShingles(col("text"), 2).alias("s"))
    val got = sh.select(col("doc_id"),
        graft.functions.MinHashSignature.signature(col("s"), k).alias("sig"),
        col("s"))
      .collect()
    got.foreach { r =>
      val shingles = r.getSeq[String](r.fieldIndex("s"))
      assert(r.getSeq[Long](r.fieldIndex("sig")) == expected(shingles),
        s"doc ${r.getLong(0)}")
    }
    // empty array → MaxValue slots; null array → null; wrong type rejected
    val edge = spark.sql("SELECT CAST(array() AS array<string>) AS e, CAST(NULL AS array<string>) AS n")
      .select(graft.functions.MinHashSignature.signature(col("e"), 4).alias("se"),
        graft.functions.MinHashSignature.signature(col("n"), 4).alias("sn"))
      .collect()(0)
    assert(edge.getSeq[Long](0) == Seq.fill(4)(Long.MaxValue))
    assert(edge.isNullAt(1))
    assertThrows[org.apache.spark.sql.AnalysisException] {
      docs.select(graft.functions.MinHashSignature.signature(col("doc_id"), 4)).collect()
    }
  }

  test("topKRank plan is a partial aggregate, not a window sort") {
    val scored = vectors.select(col("vec_id").alias("query_id"),
      (col("vec_id") + 1).alias("vec_id"), lit(0.5).alias("cosine"))
    val plan = Similarity.topKRank(scored, 3).queryExecution.sparkPlan.toString
    // map-side partial top-k must appear below the exchange, and no
    // window/sort operator may survive in the ranking path
    assert(plan.contains("partial_top_k_by_score"), plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2000))
  }

  test("multi-metric text plans tokenize each token array exactly once " +
    "(staged-projection regression: HOFs are interpreted, no codegen CSE)") {
    def splits(df: DataFrame): Int =
      "split\\(".r.findAllIn(df.queryExecution.optimizedPlan.toString).length
    // a local fixture folds into a LocalRelation at optimize time (which
    // would hide the expressions); the repartition keeps the plan symbolic
    val src = docs.repartition(2)
    // repetitionStats: ONE tokenization feeds token/2-gram/3-gram fractions
    assert(splits(graft.ext.Curation.repetitionStats(src, "text")) == 1)
    // q_text_quality-shaped query: one lowered + one original-case array
    val staged = src
      .withColumn("__tl", TextAnalysis.tokens(lower(col("text"))))
      .withColumn("__to", TextAnalysis.tokens(col("text")))
      .select(col("doc_id"),
        round(TextAnalysis.stopwordRatioOf(col("__tl")), 6).alias("stopword_ratio"),
        TextAnalysis.qualityScoreOf(col("text"), col("__tl"), col("__to")).alias("quality"),
        TextAnalysis.langIdOf(col("__tl")).alias("lang_pred"))
    assert(splits(staged) == 2)
    // and the staged forms equal the naive per-metric forms value-for-value
    val naive = docs.select(col("doc_id"),
      round(TextAnalysis.stopwordRatio(col("text")), 6).alias("stopword_ratio"),
      TextAnalysis.qualityScore(col("text")).alias("quality"),
      TextAnalysis.langId(col("text")).alias("lang_pred"))
    assertSameRows(staged, naive)
  }

  test("tokenEntropy: hand-computed distributions; empty docs absent") {
    val sp = spark; import sp.implicits._
    val d = Seq(
      (1L, "a a a a"),           // single token: H = 0
      (2L, "a b c d"),           // uniform over 4: H = ln(4)
      (3L, "a a b"),             // H = ln(3) - (2 ln 2)/3
      (4L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.tokenEntropy(d, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(1L) == ((4L, 0.0)))
    assert(got(2L) == ((4L, r4(math.log(4)))))
    assert(got(3L) == ((3L, r4(math.log(3) - 2 * math.log(2) / 3))))
  }

  test("tokenEntropy: low-entropy cycler scores below a diverse doc of equal length") {
    val sp = spark; import sp.implicits._
    val d = Seq(
      (1L, Seq.fill(20)("x y z").mkString(" ")),      // 3-token cycle
      (2L, (1 to 60).map(i => s"w$i").mkString(" "))) // all distinct
      .toDF("doc_id", "text")
    val e = TextAnalysis.tokenEntropy(d, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(e(1L) < e(2L) / 2, s"cycler ${e(1L)} not well below diverse ${e(2L)}")
  }
}

/** Shared-JVM counters for the codec init-once property test (local mode:
  * executor tasks run in this JVM, so statics observe them). */
object ExtSpec {
  val codecInits = new java.util.concurrent.atomic.AtomicInteger(0)
  val codecDecodes = new java.util.concurrent.atomic.AtomicInteger(0)
}
