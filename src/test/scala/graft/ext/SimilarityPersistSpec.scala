package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilarityPersistSpec extends AnyFunSuite with SparkSpec {

  /** Deterministic synthetic corpus: dim-8 float vectors from sin(id*i). */
  private def corpus = spark.range(0, 60).select(
    col("id").alias("vec_id"),
    transform(sequence(lit(1), lit(8)),
      i => sin(col("id") * i).cast("float")).alias("embedding"))

  test("saveIvf/loadIvf: indexed serving equals in-memory ivfTopK") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    try {
      val c = corpus
      Similarity.saveIvf(c, "vec_id", "embedding", dir, nlist = 4, trainIters = 1)
      val idx = Similarity.loadIvf(spark, dir)
      val q = c.filter(col("vec_id") < 5)
      val inMem = Similarity.ivfTopK(c, q, 5, "vec_id", "embedding",
        nlist = 4, nprobe = 2, trainIters = 1)
      val served = Similarity.ivfTopKIndexed(idx, q, 5, "vec_id", "embedding", nprobe = 2)
      assertSameRows(inMem, served)
    } finally {
      def rm(f: java.io.File): Unit = {
        val k = f.listFiles(); if (k != null) k.foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("filtered ANN: exact mode equals brute force over the filtered corpus, " +
    "differs from post-filtering, and the predicate pushes into the index scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_meta").toString
    try {
      // label column the serving predicate filters on (≈half eligible)
      val c = corpus.withColumn("label", (col("vec_id") % 3).cast("int"))
      val pred = col("label") === 0
      val q = c.filter(col("vec_id") < 5)
      val expected = Similarity.bruteForceTopK(c.filter(pred), q, 5,
        "vec_id", "embedding")
      // in-memory filtered search, exact mode
      val inMem = Similarity.ivfTopKFiltered(c, q, 5, "vec_id", "embedding",
        pred, nlist = 4, nprobe = 4, trainIters = 1)
      assertSameRows(expected, inMem)
      // the WRONG shape (post-filter an unfiltered top-k) must differ on
      // this corpus — proves the gate can actually catch it
      val postFiltered = Similarity.bruteForceTopK(c, q, 5, "vec_id", "embedding")
        .join(c.filter(pred).select(col("vec_id")), Seq("vec_id"))
      assert(postFiltered.count() < expected.count(),
        "post-filtering should lose eligible rows past rank k on this corpus")
      // persisted serving path with the label riding in the inverted file
      Similarity.saveIvf(c, "vec_id", "embedding", dir, nlist = 4,
        trainIters = 1, metaCols = Seq("label"))
      val idx = Similarity.loadIvf(spark, dir)
      val served = Similarity.ivfTopKIndexedFiltered(idx, q, 5,
        "vec_id", "embedding", pred, nprobe = 4)
      assertSameRows(expected, served)
      // plan lock: the predicate lands on the index PARQUET SCAN itself
      // (PushedFilters), i.e. below the probe join and the top-k agg —
      // filter-during-search, not post-filter
      val plan = served.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [IsNotNull(label), EqualTo(label,0)"),
        s"label predicate must push into the index scan:\n$plan")
    } finally {
      def rm(f: java.io.File): Unit = {
        val k = f.listFiles(); if (k != null) k.foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("filtered SQ8 serving: exact mode equals sq8TopK over the filtered corpus, " +
    "predicate pushed below the decode") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sq8_meta").toString
    try {
      val c = corpus.withColumn("label", (col("vec_id") % 3).cast("int"))
      val pred = col("label") === 0
      val q = c.filter(col("vec_id") < 5)
      // the quantized ranking over ONLY the eligible rows
      val expected = Similarity.sq8TopK(
        Similarity.sq8Compress(c.filter(pred), "vec_id", "embedding"),
        q, 5, "vec_id", "embedding")
      Similarity.saveIvfSq8(c, "vec_id", "embedding", dir, nlist = 4,
        trainIters = 1, metaCols = Seq("label"))
      val served = Similarity.ivfTopKSq8IndexedFiltered(
        Similarity.loadIvfSq8(spark, dir), q, 5, "vec_id", "embedding",
        pred, nprobe = 4)
      assertSameRows(expected, served)
      // the predicate reaches the compressed index scan — rows are
      // filtered before they are decoded
      val plan = served.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [IsNotNull(label), EqualTo(label,0)"),
        s"label predicate must push into the sq8 index scan:\n$plan")
    } finally {
      def rm(f: java.io.File): Unit = {
        val k = f.listFiles(); if (k != null) k.foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("saveIvf lays the inverted file out partitioned by cent_id") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_layout").toString
    try {
      Similarity.saveIvf(corpus, "vec_id", "embedding", dir, nlist = 4)
      val parts = new java.io.File(s"$dir/assignments").listFiles()
        .filter(_.getName.startsWith("cent_id="))
      // one partition directory per populated list
      assert(parts.length > 1 && parts.length <= 4)
      // and the loaded index round-trips every vector exactly once
      val idx = Similarity.loadIvf(spark, dir)
      assert(idx.assignments.count() == 60)
      assert(idx.assignments.select("vec_id").distinct().count() == 60)
      assert(idx.centroids.nlist == 4)
    } finally {
      def rm(f: java.io.File): Unit = {
        val k = f.listFiles(); if (k != null) k.foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }
}
