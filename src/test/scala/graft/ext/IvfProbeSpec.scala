package graft.ext

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The IVF probe selection at an approximate nprobe, and the Spark jobs a
  * served search costs. */
class IvfProbeSpec extends SparkSpec {

  import spark.implicits._

  /** ids 0..4 are the lowest, so at nlist = 6 they seed the centroids:
    * ids 0 and 1 share a vector (tied similarities for every query), and
    * id 2 appears twice (two centroids under one cent_id). */
  private def corpus: DataFrame = {
    val edge = Seq(
      0L -> Array(1f, 0f, 0f, 0f), 1L -> Array(1f, 0f, 0f, 0f),
      2L -> Array(0f, 1f, 0f, 0f), 2L -> Array(0f, 1f, 0.5f, 0f),
      3L -> Array(0f, 0f, 1f, 0f), 4L -> Array(0f, 0f, 0f, 1f))
    val rest = (5L until 60L).map(i =>
      i -> Array.tabulate(4)(d => math.sin(i * (d + 1)).toFloat))
    (edge ++ rest).toDF("vec_id", "embedding")
  }

  private def queries: DataFrame = (Seq(
    1000L -> Array(0f, 0f, 0f, 0f),       // zero norm: every cosine is null
    1001L -> Array(1f, 1f, 0f, 0f),       // ties lists 0, 1 and 2 at the cut
    1002L -> Array(0f, 1f, 0.2f, 0f),     // both centroids with cent_id 2
    1003L -> Array(0.3f, 0.2f, 0.9f, -0.1f),
    1004L -> Array(-1f, 0.5f, 0.5f, 0.2f)) ++
    (5L to 9L).map(i => i -> Array.tabulate(4)(d => math.sin(i * (d + 1)).toFloat)))
    .toDF("vec_id", "embedding")

  /** The probe selection and pair re-aggregation the served search used
    * to run: a row_number window per query over a query × centroid
    * crossJoin, and a (query_id, vec_id) max before the top-k. */
  private def windowProbeRank(cents: DataFrame, inverted: DataFrame, q: DataFrame,
                              k: Int, nprobe: Int, payload: Column => Column,
                              dot: Column => Column): DataFrame = {
    val probes = q.crossJoin(broadcast(cents))
      .select(col("vec_id").alias("query_id"), col("embedding").alias("__qv"),
        col("cent_id"),
        Similarity.fastCosine(spark, col("embedding"), col("cent_vec")).alias("__sim"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("__sim").desc, col("cent_id").asc)))
      .filter(col("__rk") <= nprobe)
      .select(col("query_id"), payload(col("__qv")).alias("__q"),
        Similarity.fastL2(spark, col("__qv")).alias("__qn"), col("cent_id"))
    val scored = inverted.join(broadcast(probes), Seq("cent_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        round(try_divide(dot(col("__q")), col("__qn") * col("__cn")), 6).alias("cosine"))
      .groupBy(col("query_id"), col("vec_id")).agg(max(col("cosine")).alias("cosine"))
    Similarity.topKRank(scored, k)
  }

  private def withDir(name: String)(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(name).toString
    try body(dir) finally {
      def rm(f: java.io.File): Unit = {
        val k = f.listFiles(); if (k != null) k.foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  private def centroidsAt(dir: String) = spark.read.parquet(s"$dir/centroids")
  private def assignmentsAt(dir: String) = spark.read.parquet(s"$dir/assignments")
    .withColumn("cent_id", col("cent_id").cast("long"))

  test("served probe selection equals the window form at nprobe 2 of 6: " +
    "tied centroids, a zero-norm query, a duplicated corpus id") {
    val (c, q, k, np) = (corpus, queries, 5, 2)
    withDir("graft_ivf_probe") { dir =>
      Similarity.saveIvf(c, "vec_id", "embedding", dir, nlist = 6)
      val cents = centroidsAt(dir)
      assert(cents.count() == 6 && cents.select("cent_id").distinct().count() == 5,
        "the fixture must seed two centroids under one cent_id")
      val inverted = assignmentsAt(dir)
        .select(col("vec_id"), col("vec").alias("__cv"), col("norm").alias("__cn"),
          col("cent_id"))
      val served = Similarity.ivfTopKIndexed(Similarity.loadIvf(spark, dir), q, k,
        "vec_id", "embedding", nprobe = np)
      assertSameRows(windowProbeRank(cents, inverted, q, k, np, identity,
        Similarity.fastDot(spark, _, col("__cv"))), served)
      // the approximate search really is approximate here, and the
      // zero-norm query returns nothing
      val exact = Similarity.ivfTopKIndexed(Similarity.loadIvf(spark, dir), q, k,
        "vec_id", "embedding", nprobe = 6)
      assert(canonicalRows(served) != canonicalRows(exact))
      assert(served.filter(col("query_id") === 1000L).count() == 0)
    }
    withDir("graft_ivf_probe_sq8") { dir =>
      Similarity.saveIvfSq8(c, "vec_id", "embedding", dir, nlist = 6)
      val decoded = assignmentsAt(dir)
        .select(col("vec_id"),
          graft.functions.Sq8.decode(spark, col("sq8")).alias("__cv"), col("cent_id"))
        .select(col("vec_id"), col("__cv"),
          Similarity.fastL2(spark, col("__cv")).alias("__cn"), col("cent_id"))
      val served = Similarity.ivfTopKSq8Indexed(Similarity.loadIvfSq8(spark, dir), q, k,
        "vec_id", "embedding", nprobe = np)
      assertSameRows(windowProbeRank(centroidsAt(dir), decoded, q, k, np, identity,
        Similarity.fastDot(spark, _, col("__cv"))), served)
    }
    withDir("graft_ivf_probe_pq") { dir =>
      Similarity.saveIvfPq(c, "vec_id", "embedding", dir, dim = 4, m = 2, ksub = 4,
        nlist = 6)
      val index = Similarity.loadIvfPq(spark, dir)
      val coded = assignmentsAt(dir)
        .select(col("vec_id"), col("codes").alias("__codes"), col("norm").alias("__cn"),
          col("cent_id"))
      val served = Similarity.ivfTopKPqIndexed(index, q, k, "vec_id", "embedding",
        nprobe = np)
      assertSameRows(windowProbeRank(centroidsAt(dir), coded, q, k, np,
        Similarity.pqLuts(index.codebook, _), Similarity.pqAdcDot(col("__codes"), _)),
        served)
    }
  }

  test("ivfTopKIndexed runs no job to build its plan and at most 4 to collect") {
    withDir("graft_ivf_jobs") { dir =>
      Similarity.saveIvf(corpus, "vec_id", "embedding", dir, nlist = 6)
      val index = Similarity.loadIvf(spark, dir)
      val q = queries
      q.schema
      // the listener bus is asynchronous: a marker job flushes it, so every
      // job started before the marker has been counted once it is seen
      val jobs = new AtomicInteger(0)
      @volatile var sawMarker = false
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit =
          if (Option(js.properties)
            .exists(_.getProperty("spark.job.description", "") == "ivf-jobs-marker"))
            sawMarker = true
          else jobs.incrementAndGet()
      }
      def jobsSoFar(): Int = {
        sawMarker = false
        spark.sparkContext.setJobDescription("ivf-jobs-marker")
        try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (!sawMarker && System.nanoTime() < deadline) Thread.sleep(20)
        assert(sawMarker, "listener bus did not deliver the marker job in 10s")
        jobs.getAndSet(0)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        jobsSoFar() // drop jobs of the build still queued on the bus
        // nprobe = 0: the width derives from the index's nlist
        val top = Similarity.ivfTopKIndexed(index, q, 5, "vec_id", "embedding")
        assert(jobsSoFar() == 0, "building the search plan must run no Spark job")
        assert(top.collect().nonEmpty)
        val collectJobs = jobsSoFar()
        assert(collectJobs <= 4, s"collect ran $collectJobs jobs; expected at most 4")
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }
}
