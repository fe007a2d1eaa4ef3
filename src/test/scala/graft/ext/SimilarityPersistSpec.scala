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
      val inMem = Similarity.ivfTopK(c, q, 5, "vec_id", "embedding",
        nlist = 4, nprobe = 4, trainIters = 1, predicate = Some(pred))
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
      val served = Similarity.ivfTopKIndexed(idx, q, 5,
        "vec_id", "embedding", nprobe = 4, predicate = Some(pred))
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
      Similarity.saveIvf(c, "vec_id", "embedding", dir, nlist = 4,
        trainIters = 1, metaCols = Seq("label"), quantizer = Similarity.Sq8)
      val served = Similarity.ivfTopKIndexed(
        Similarity.loadIvf(spark, dir), q, 5, "vec_id", "embedding",
        nprobe = 4, predicate = Some(pred))
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

  test("metaCols naming a stored inverted-file column are rejected at build " +
    "time on every tier") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_reserved").toString
    try {
      // a flat index carrying a meta column `sq8` would load as an SQ8 one
      val c = corpus.withColumn("sq8", lit(1)).withColumn("codes", lit(2))
        .withColumn("vec", lit(3))
      for {
        quantizer <- Seq(Similarity.Flat, Similarity.Sq8,
          Similarity.Pq(dim = 8, m = 2, ksub = 4))
        name <- Seq("sq8", "codes", "vec")
      } {
        val e = intercept[IllegalArgumentException] {
          Similarity.saveIvf(c, "vec_id", "embedding", dir, nlist = 4,
            metaCols = Seq(name), quantizer = quantizer)
        }
        assert(e.getMessage.contains(s"metaCols $name collide"),
          s"$quantizer / $name: ${e.getMessage}")
      }
      assert(!new java.io.File(s"$dir/assignments").exists(),
        "a rejected build must write nothing")
    } finally {
      def rm(f: java.io.File): Unit = {
        val k = f.listFiles(); if (k != null) k.foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("loadIvf rejects a PQ codebook with a missing cell or a second dim, " +
    "naming its path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_codebook").toString
    try {
      Similarity.saveIvf(corpus, "vec_id", "embedding", dir, nlist = 4,
        quantizer = Similarity.Pq(dim = 8, m = 2, ksub = 4))
      val path = s"$dir/codebook"
      assert(Similarity.loadIvf(spark, dir).codebook.map(_.ksub).contains(4))
      // held locally, so each rewrite below never reads the path it replaces
      val stored = spark.read.parquet(path)
      val book = spark.createDataFrame(java.util.Arrays.asList(stored.collect(): _*),
        stored.schema)
      assert(book.count() == 8)
      book.filter(!(col("s") === 1 && col("j") === 2))
        .write.mode("overwrite").parquet(path)
      val e1 = intercept[IllegalArgumentException](Similarity.loadIvf(spark, dir))
      assert(e1.getMessage.contains(path) && e1.getMessage.contains("7 rows"),
        e1.getMessage)
      book.withColumn("dim", when(col("s") === 0 && col("j") === 0, lit(6))
          .otherwise(col("dim")))
        .write.mode("overwrite").parquet(path)
      val e2 = intercept[IllegalArgumentException](Similarity.loadIvf(spark, dir))
      assert(e2.getMessage.contains(path) && e2.getMessage.contains("dims 6, 8"),
        e2.getMessage)
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
