package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Property-style randomized checks (beyond the reference's suite, which
  * has none): for seeded random hierarchies with null attributes and
  * zero-child parents, pack/unpack roundtrips losslessly, packSalted
  * reproduces pack, and cross-level kernels equal plain groupBy SQL. */
class PropertySpec extends AnyFunSuite with SparkSpec {

  private val spec = HierarchySpec(Seq(
    LevelSpec("p", Seq(NamedField("id"))),
    LevelSpec("c", Seq(NamedField("id")), parentKeys = Seq("pid"),
      orderBy = Seq(ColName.topCol("p.c.id")))))

  private val schema = StructType(Seq(
    StructField("p.id", LongType),
    StructField("p.attr", StringType),
    StructField("p.c.id", LongType),
    StructField("p.c.pid", LongType),
    StructField("p.c.x", DoubleType)))

  /** Random flat frame: nParents parents, 1-4 children each, ~20% null x,
    * ~20% null parent attr (but uniform per parent), shuffled row order. */
  private def randomFlat(seed: Int): DataFrame = {
    val rnd = new Random(seed)
    val nParents = 1 + rnd.nextInt(6)
    val rows = (0 until nParents).flatMap { p =>
      val attr: String = if (rnd.nextDouble() < 0.2) null else s"attr_$p"
      val nChildren = 1 + rnd.nextInt(4)
      (0 until nChildren).map { c =>
        val x: java.lang.Double =
          if (rnd.nextDouble() < 0.2) null
          else java.lang.Double.valueOf((rnd.nextInt(2000) - 1000) / 10.0)
        Row(p.toLong, attr, c.toLong, p.toLong, x)
      }
    }
    val shuffled = rnd.shuffle(rows)
    spark.createDataFrame(new java.util.ArrayList(shuffled.asJava), schema)
  }

  test("property: pack/unpack roundtrip is lossless on random frames") {
    val p = new Packer(spec)
    (0 until 8).foreach { seed =>
      val df = randomFlat(seed)
      assertSameRows(p.unpack(p.pack(df, "p"), "c"), df)
    }
  }

  test("property: packSalted equals pack on random frames") {
    val sorted = Seq(new Packer(spec), new Packer(spec, preserveChildOrder = false))
    // no order_by and no row ids: both folds collect bare payloads, so
    // list order is unspecified and only the unpacked rows compare
    val unsorted = new Packer(spec.copy(levels = spec.levels.map(_.copy(orderBy = Nil))),
      preserveChildOrder = false)
    (0 until 8).foreach { seed =>
      val df = randomFlat(seed)
      sorted.foreach(p =>
        assertSameRows(p.packSalted(df, "p", saltBuckets = 4), p.pack(df, "p")))
      assertSameRows(
        unsorted.unpack(unsorted.packSalted(df, "p", saltBuckets = 4), "c"),
        unsorted.unpack(unsorted.pack(df, "p"), "c"))
    }
  }

  test("property: cross-level kernels equal plain groupBy aggregation") {
    val p = new Packer(spec)
    (0 until 8).foreach { seed =>
      val df = randomFlat(seed)
      val packed = p.pack(df, "c")
      val got = packed.select(
        ColName.topCol("p.id").alias("pid"),
        p.attributeExpr("x", "c", "p", Agg.Sum).alias("sum_x"),
        p.attributeExpr("x", "c", "p", Agg.Mean).alias("mean_x"),
        p.attributeExpr("x", "c", "p", Agg.Min).alias("min_x"),
        p.attributeExpr("x", "c", "p", Agg.Max).alias("max_x"),
        p.attributeExpr("id", "c", "p", Agg.Count).alias("n_c"))
      // NB kernel sum coalesces nulls to 0 (Polars list.sum semantics);
      // count counts ALL children incl. null-x (list.len semantics)
      val expect = df.groupBy(ColName.topCol("p.id").alias("pid")).agg(
        coalesce(sum(ColName.topCol("p.c.x")), lit(0.0)).alias("sum_x"),
        avg(ColName.topCol("p.c.x")).alias("mean_x"),
        min(ColName.topCol("p.c.x")).alias("min_x"),
        max(ColName.topCol("p.c.x")).alias("max_x"),
        count(ColName.topCol("p.c.id")).cast("long").alias("n_c"))
      assertSameRows(
        got.select(col("pid"), round(col("sum_x"), 6).alias("s"),
          round(col("mean_x"), 6).alias("m"), col("min_x"), col("max_x"),
          col("n_c").cast("long")),
        expect.select(col("pid"), round(col("sum_x"), 6).alias("s"),
          round(col("mean_x"), 6).alias("m"), col("min_x"), col("max_x"),
          col("n_c")))
    }
  }

  test("property: one-pass hyperplane banding equals the per-band slice form") {
    // the production one-pass aggregate (bits as HOF child) must be
    // bucket-identical to the naive per-band slice+fold for random vectors
    // across band geometries, including planes not divisible by bands
    import org.apache.spark.sql.functions._
    val sp = spark
    (0 until 2).foreach { seed =>
      val rnd = new Random(500 + seed)
      val dim = 8
      val rows = (0 until 30).map { i =>
        Row(i.toLong, Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
      }
      val df = spark.createDataFrame(new java.util.ArrayList(rows.asJava),
        StructType(Seq(StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType)))))
      for ((planes, bands) <- Seq((16, 4), (10, 3), (8, 8), (12, 1))) {
        val fast = graft.ext.Similarity
          .hyperplaneBuckets(df, "embedding", "vec_id", planes, bands, dim)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
        // reference shape: per-band slice of the sign bits, folded to a key
        val perBand = planes / bands
        val planesArr = graft.ext.Similarity.planeLiterals(planes, dim)
        val bits = transform(planesArr,
          p => when(graft.ext.Similarity.dot(p, col("embedding")) >= 0, 1L).otherwise(0L))
        val keys = transform(sequence(lit(0), lit(bands - 1)), b =>
          aggregate(slice(bits, b * perBand + 1, lit(perBand)), lit(0L),
            (acc, x) => acc * 2 + x))
        val ref = df.select(col("vec_id"), posexplode(keys).as(Seq("__band", "__bucket")))
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
        assert(fast == ref, s"seed=$seed planes=$planes bands=$bands")
      }
    }
  }

  test("property: semDedup survivors at nlist=1 equal exact-pair clustering " +
    "and are a subset of every coarser clustering's survivors") {
    (0 until 2).foreach { seed =>
      val rnd = new Random(200 + seed)
      // clustered corpus: 8 base directions, per-doc small jitter, plus a
      // few planted near-identical pairs — guarantees real merges
      val bases = Array.fill(8)(Array.fill(8)(rnd.nextGaussian().toFloat))
      val rows = (0 until 50).map { i =>
        val b = bases(rnd.nextInt(8))
        val v = b.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
        Row(i.toLong, v.toSeq)
      }
      val df = spark.createDataFrame(new java.util.ArrayList(rows.asJava),
        StructType(Seq(StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType)))))
      val exact1 = graft.ext.Dedup.semDedupSurvivors(df, "embedding", "vec_id",
        0.995, nlist = 1, trainIters = 0).collect().map(_.getLong(0)).toSet
      // independent ground truth: exact pairs -> components -> survivors
      val pairs = graft.ext.Dedup.embeddingNearDupExact(df, "embedding", "vec_id", 0.995)
      val comps = graft.ext.Dedup.connectedComponents(pairs, "id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val removed = comps.collect { case (id, c) if id != c => id }.toSet
      val want = (0L until 50L).toSet -- removed
      assert(exact1 == want, s"seed=$seed")
      // coarser clusterings only MISS cross-cluster pairs -> more survivors
      for (nlist <- Seq(2, 4)) {
        val coarse = graft.ext.Dedup.semDedupSurvivors(df, "embedding", "vec_id",
          0.995, nlist = nlist, trainIters = 1).collect().map(_.getLong(0)).toSet
        assert(exact1.subsetOf(coarse), s"seed=$seed nlist=$nlist")
      }
    }
  }

  test("property: pigeonhole-blocked simhash pairs equal the exhaustive pairs") {
    // random near-dup-ish corpora: word sequences drawn from a tiny
    // vocabulary so some pairs land within small hamming distances
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    (0 until 3).foreach { seed =>
      val rnd = new Random(100 + seed)
      val rows = (0 until 40).map { i =>
        val n = 3 + rnd.nextInt(8)
        Row(i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val df = spark.createDataFrame(new java.util.ArrayList(rows.asJava),
        StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
      for (maxDist <- Seq(0, 3, 7)) {
        val blocked = graft.ext.Dedup.simhashPairs(df, "text", "doc_id", maxDist)
          .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val exhaustive = graft.ext.Dedup.simhashPairsExhaustive(df, "text", "doc_id", maxDist)
          .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(blocked == exhaustive, s"seed=$seed maxDist=$maxDist")
      }
    }
  }

  test("Misra-Gries two-pass heavy hitters ≡ exact GROUP BY under random " +
       "skew, capacities, and partitionings") {
    import spark.implicits._
    for (seed <- 1 to 5) {
      val rnd = new Random(9000 + seed)
      // zipf-ish stream: item i drawn with weight 1/(i+1)
      val nItems = 5 + rnd.nextInt(40)
      val weights = (0 until nItems).map(i => 1.0 / (i + 1))
      val total = weights.sum
      val stream = (0 until 300 + rnd.nextInt(700)).map { _ =>
        var u = rnd.nextDouble() * total; var i = 0
        while (u > weights(i) && i < nItems - 1) { u -= weights(i); i += 1 }
        f"it$i%03d"
      }
      val capacity = 2 + rnd.nextInt(12)
      val parts = 1 + rnd.nextInt(15)
      val df = stream.toDF("item").repartition(parts)
      val got = graft.ext.HeavyHitters.exact(df, "item", capacity)
        .as[(String, Long)].collect().toMap
      val counts = stream.groupBy(identity).view.mapValues(_.size.toLong)
      val want = counts.filter { case (_, c) =>
        c * (capacity + 1) > stream.size }.toMap
      assert(got == want,
        s"seed=$seed cap=$capacity parts=$parts\ngot:  $got\nwant: $want")
    }
  }

  test("distributed BPE ≡ sequential reference under random corpora and " +
       "partitionings") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new Random(7100 + seed)
      val alphabet = "abcde"
      val vocab = (0 until 4 + rnd.nextInt(8)).map { _ =>
        (0 until 2 + rnd.nextInt(5)).map(_ =>
          alphabet(rnd.nextInt(alphabet.length))).mkString
      }
      val docs = (0 until 10 + rnd.nextInt(20)).map { i =>
        (i.toLong, Seq.fill(1 + rnd.nextInt(8))(
          vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val parts = 1 + rnd.nextInt(9)
      val df = docs.toDF("doc_id", "text").repartition(parts)
      val k = 1 + rnd.nextInt(6)
      val dist = graft.ext.Bpe.trainMergesSeq(df, "text", k)
      val wordFreqs = docs.flatMap(_._2.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val ref = graft.ext.Bpe.referenceMerges(wordFreqs, k)
      assert(dist == ref, s"seed=$seed k=$k parts=$parts\n$dist\n$ref")
    }
  }
}
