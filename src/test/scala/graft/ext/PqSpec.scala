package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PqSpec extends SparkSpec {

  import spark.implicits._

  private val dim = 8

  /** Integer-valued vectors: every dot product / distance is exact in fp,
    * so the exactness-regime equality below cannot be perturbed by
    * association drift. */
  private def vec(seed: Long): Array[Float] =
    Array.tabulate(dim)(i => (((seed * 31 + i * 7) % 11) - 5).toFloat)

  private def corpus(n: Int) =
    (0L until n.toLong).map(i => (i, vec(i))).toDF("vec_id", "embedding")

  test("exactness regime: corpus <= ksub with iters=0 EQUALS brute force") {
    val c = corpus(12) // 12 distinct vectors, ksub=16 -> every subvector is a centroid
    val q = c.filter(col("vec_id") < 4)
    val pq = Similarity.pqTopK(c, q, 5, "vec_id", "embedding", dim,
      m = 4, ksub = 16, trainIters = 0)
    val bf = Similarity.bruteForceTopK(c, q, 5, "vec_id", "embedding")
    assertSameRows(pq, bf)
  }

  test("trained codebook recalls planted duplicate clusters") {
    // 40 base vectors + 10 exact clones of vec 0..9 at ids 100..109: each
    // clone's true nearest neighbor is its original (cosine 1.0). PQ is
    // lossy, so require the original in the top-5 for >= 8 of 10 queries
    // (the q_knn_pq_recall gate shape, tightened to k=5)
    val base = corpus(40)
    val clones = (0L until 10L).map(i => (100L + i, vec(i)))
      .toDF("vec_id", "embedding")
    val all = base.unionByName(clones)
    val top5 = Similarity.pqTopK(all, clones, 5, "vec_id", "embedding", dim,
      m = 4, ksub = 8, trainIters = 2)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalled = (0L until 10L).count(i => top5(100L + i).contains(i))
    assert(recalled >= 8, s"only $recalled/10 clone queries recalled their original")
  }

  test("refined regime: shortlist covering the corpus EQUALS brute force") {
    // k * refineFactor >= |corpus| - 1: the ADC shortlist is the whole
    // corpus, so the exact re-rank must reproduce bruteForceTopK whatever
    // the codebook quality
    val c = corpus(30)
    val q = c.filter(col("vec_id") < 5)
    val refined = Similarity.pqTopKRefined(c, q, 5, "vec_id", "embedding",
      dim, m = 4, ksub = 4, trainIters = 1, refineFactor = 6)
    val bf = Similarity.bruteForceTopK(c, q, 5, "vec_id", "embedding")
    assertSameRows(refined, bf)
  }

  test("pqTrain codebook is bounded and improves reconstruction") {
    val c = corpus(200)
    def sqErr(cb: Similarity.PqCodebook): Double = {
      val dsub = cb.dsub
      (0L until 200L).map { i =>
        val v = vec(i).map(_.toDouble)
        (0 until cb.m).map { s =>
          val sub = v.slice(s * dsub, (s + 1) * dsub)
          cb.book(s).map(cent =>
            sub.zip(cent).map { case (a, b) => (a - b) * (a - b) }.sum).min
        }.sum
      }.sum
    }
    val raw = Similarity.pqTrain(c, "vec_id", "embedding", dim, m = 4, ksub = 8, iters = 0)
    val trained = Similarity.pqTrain(c, "vec_id", "embedding", dim, m = 4, ksub = 8, iters = 2)
    assert(raw.book.length == 4 && raw.book.forall(_.length == 8))
    assert(sqErr(trained) <= sqErr(raw),
      s"Lloyd rounds must not worsen reconstruction: ${sqErr(trained)} > ${sqErr(raw)}")
  }

  test("codegen PqEncode ≡ HOF pqCodes on 200 vectors (incl. tie-break)") {
    val c = corpus(200)
    val cb = Similarity.pqTrain(c, "vec_id", "embedding", dim, m = 4, ksub = 8,
      iters = 2)
    val both = c.select(col("vec_id"),
      Similarity.pqCodes(spark, col("embedding"), cb).alias("fast"),
      Similarity.pqCodesHof(col("embedding"), cb).alias("ref"))
    assert(both.filter(not(col("fast") === col("ref"))).count() == 0)
    // duplicated centroids force distance ties — both must pick lowest id
    val dupBook = cb.book.map(b => b.map(_ => b.head.clone()))
    val tieCb = Similarity.PqCodebook(dim, dupBook)
    val ties = c.limit(20).select(
      Similarity.pqCodes(spark, col("embedding"), tieCb).alias("fast"),
      Similarity.pqCodesHof(col("embedding"), tieCb).alias("ref"))
    assert(ties.filter(not(col("fast") === col("ref"))).count() == 0)
    assert(ties.select("fast").as[Seq[Int]].collect().forall(_.forall(_ == 0)))
  }

  test("ivfTopK(Pq) at nprobe = nlist equals flat pqTopK; the persisted index serves it") {
    // genuinely lossy regime: 60 vectors against ksub=8 codes — the
    // equality is between the two PQ paths (flat scan vs coded inverted
    // file), NOT against brute force, so it pins probe + LUT + ADC
    // plumbing, not reconstruction quality
    val c = corpus(60)
    val q = c.filter(col("vec_id") < 4)
    val flat = Similarity.pqTopK(c, q, 5, "vec_id", "embedding", dim,
      m = 4, ksub = 8, trainIters = 1)
    val pq = Similarity.Pq(dim, m = 4, ksub = 8, iters = 1)
    val ivf = Similarity.ivfTopK(c, q, 5, "vec_id", "embedding",
      nlist = 6, nprobe = 6, trainIters = 1, quantizer = pq)
    assertSameRows(ivf, flat)
    val idx = java.nio.file.Files.createTempDirectory("ivfpq").toString
    Similarity.saveIvf(c, "vec_id", "embedding", idx,
      nlist = 6, trainIters = 1, quantizer = pq)
    val served = Similarity.ivfTopKIndexed(Similarity.loadIvf(spark, idx),
      q, 5, "vec_id", "embedding", nprobe = 6)
    assertSameRows(served, flat)
    // approximate serving (default nprobe from nprobeForRecall) stays a
    // subset of the corpus ranking contract: right row count, no dupes
    val approx = Similarity.ivfTopKIndexed(Similarity.loadIvf(spark, idx),
      q, 5, "vec_id", "embedding")
    val rows = approx.select("query_id", "vec_id").collect()
    assert(rows.length == rows.distinct.length)
  }

  test("wrong embedding size fails loudly") {
    val bad = Seq((0L, Array(1f, 2f))).toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(corpus(8), "vec_id", "embedding", dim, m = 4, ksub = 8)
    val e = intercept[Exception] {
      bad.select(Similarity.pqCodes(spark, col("embedding"), cb)).collect()
    }
    assert(e.getMessage.contains("pq"))
  }

  test("null embedding element fails loudly (ADVICE r8)") {
    // without the guard, a null element leaves the code at -1 and the ADC
    // lookup dies later with a cryptic element_at index error
    val vals: Array[java.lang.Float] = Array.tabulate(dim)(i =>
      if (i == 3) null else java.lang.Float.valueOf(i.toFloat))
    val bad = Seq((0L, vals)).toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(corpus(8), "vec_id", "embedding", dim, m = 4, ksub = 8)
    val e = intercept[Exception] {
      bad.select(Similarity.pqCodes(spark, col("embedding"), cb)).collect()
    }
    assert(e.getMessage.contains("null elements"))
  }
}
