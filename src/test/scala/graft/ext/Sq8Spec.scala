package graft.ext

import graft.SparkSpec
import graft.functions.Sq8
import org.apache.spark.sql.functions._

class Sq8Spec extends SparkSpec {

  import spark.implicits._

  private def enc(vec: Array[Float]) =
    Seq(Tuple1(vec)).toDF("v").select(Sq8.encode(spark, col("v")).alias("b"))

  test("blob layout: 16-byte header + one code byte per element") {
    val b = enc(Array(1f, 2f, 3f)).collect()(0).getAs[Array[Byte]](0)
    assert(b.length == 16 + 3)
    // header round-trips through doubleToLongBits big-endian
    val bb = java.nio.ByteBuffer.wrap(b)
    val scale = bb.getDouble(0); val zero = bb.getDouble(8)
    assert(zero == 1.0 && math.abs(scale - 2.0 / 255) < 1e-18)
    // min maps to code 0, max to 255, midpoint to the nearest step
    assert((b(16) & 0xff) == 0 && (b(18) & 0xff) == 255)
    assert((b(17) & 0xff) == math.floor((2.0 - 1.0) / scale + 0.5).toInt)
  }

  test("decode(encode(v)) is within half a quantization step; constant vector exact") {
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 50).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 4 - 2))).toDF("id", "v")
    val out = vecs.select(col("id"), col("v"),
        Sq8.decode(spark, Sq8.encode(spark, col("v"))).alias("d"))
      .collect()
    out.foreach { r =>
      val v = r.getSeq[Float](1); val d = r.getSeq[Double](2)
      assert(d.length == 64)
      val step = (v.max - v.min).toDouble / 255
      v.zip(d).foreach { case (x, y) =>
        assert(math.abs(x - y) <= step / 2 + 1e-12,
          s"id ${r.getLong(0)}: $x vs $y (step $step)") }
    }
    // constant vector: scale 0, decode exactly the constant
    val const = enc(Array(7.5f, 7.5f, 7.5f))
      .select(Sq8.decode(spark, col("b"))).collect()(0).getSeq[Double](0)
    assert(const == Seq(7.5, 7.5, 7.5))
  }

  test("null vector -> null blob; null elements and short blobs raise") {
    val withNull = Seq(Tuple1(Option.empty[Array[Float]])).toDF("v")
      .select(Sq8.encode(spark, col("v")).alias("b")).collect()(0)
    assert(withNull.isNullAt(0))
    val err = intercept[Exception](
      Seq(Tuple1(Array[java.lang.Float](1f, null))).toDF("v")
        .select(Sq8.encode(spark, col("v"))).collect())
    assert(err.getMessage != null)
    val short = intercept[Exception](
      Seq(Tuple1(Array[Byte](1, 2, 3))).toDF("b")
        .select(Sq8.decode(spark, col("b"))).collect())
    assert(short.getMessage != null)
  }

  test("sq8TopK plan: ONE decode per corpus row, staged below the join; map-side top-k") {
    // Range source keeps the plan symbolic (a local fixture would be
    // eagerly folded by ConvertToLocalRelation and hide the projection)
    val corpus = spark.range(100).select(col("id").alias("vec_id"),
      transform(sequence(lit(0), lit(15)),
        i => ((col("id") * 7 + i) % 13).cast("float")).alias("embedding"))
    val q = corpus.filter(col("vec_id") < 3)
    val plan = Similarity.sq8TopK(
        Similarity.sq8Compress(corpus, "vec_id", "embedding"),
        q, 5, "vec_id", "embedding")
      .queryExecution.optimizedPlan.toString
    // the blob expands exactly once per corpus row — not once per
    // (query, row) pair and not once per consumer of the decoded column
    assert("sq8_decode".r.findAllIn(plan).length == 1, plan)
    val phys = Similarity.sq8TopK(
        Similarity.sq8Compress(corpus, "vec_id", "embedding"),
        q, 5, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    // bounded-heap top-k combines map-side before the one exchange
    assert(phys.contains("partial_top_k_by_score"), phys)
  }

  test("sq8TopK ranking matches bruteForceTopK over the decoded corpus") {
    val rnd = new scala.util.Random(3)
    val corpus = (0L until 200L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 5)
    val got = Similarity.sq8TopK(
      Similarity.sq8Compress(corpus, "vec_id", "embedding"),
      queries, 10, "vec_id", "embedding")
    // the reference: decode explicitly, then the standard exact top-k
    val decoded = corpus.select(col("vec_id"),
      Sq8.decode(spark, Sq8.encode(spark, col("embedding"))).alias("embedding"))
    val want = Similarity.bruteForceTopK(decoded, queries.select(col("vec_id"),
      col("embedding").cast("array<double>").alias("embedding")),
      10, "vec_id", "embedding")
    assertSameRows(got, want)
  }

  test("ivfTopK(Sq8) at nprobe = nlist equals flat sq8TopK; the persisted index serves it") {
    val rnd = new scala.util.Random(7)
    val corpus = (0L until 300L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 5)
    val flat = Similarity.sq8TopK(
      Similarity.sq8Compress(corpus, "vec_id", "embedding"),
      queries, 8, "vec_id", "embedding")
    // exact mode: every list probed — the compressed inverted file must
    // reproduce the flat quantized ranking (trained centroids change the
    // partition of the corpus, never the probed union)
    val ivf = Similarity.ivfTopK(corpus, queries, 8, "vec_id", "embedding",
      nlist = 8, nprobe = 8, trainIters = 1, quantizer = Similarity.Sq8)
    assertSameRows(ivf, flat)
    // save → load → serve round-trips the blob bytes exactly
    val path = java.nio.file.Files.createTempDirectory("ivf_sq8").toString
    Similarity.saveIvf(corpus, "vec_id", "embedding", path,
      nlist = 8, trainIters = 1, quantizer = Similarity.Sq8)
    val served = Similarity.ivfTopKIndexed(
      Similarity.loadIvf(spark, path), queries, 8, "vec_id", "embedding",
      nprobe = 8)
    assertSameRows(served, flat)
    // the stored inverted file IS compressed: binary blob column, 16+dim
    // bytes per vector
    val blob = spark.read.parquet(s"$path/assignments")
    assert(blob.schema("sq8").dataType ==
      org.apache.spark.sql.types.BinaryType)
    val maxLen = blob.select(max(octet_length(col("sq8")))).collect()(0).getInt(0)
    assert(maxLen == 16 + 16, s"blob should be 16 header + dim bytes, got $maxLen")
    // derived nprobe (0) comes from the rule over the index's centroid
    // count — mechanically serveable, top-1 well-separated queries agree
    val derived = Similarity.ivfTopKIndexed(
      Similarity.loadIvf(spark, path), queries, 8, "vec_id", "embedding")
    assert(derived.count() > 0)
  }
}
