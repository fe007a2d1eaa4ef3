package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.ext.Similarity

/**
 * ann_serve: top-10 search over a persisted IVF index. Setup generates
 * seeded clustered embeddings and runs `saveIvf`/`loadIvf`; each operation
 * sends one batch of queries through `ivfTopKIndexed` and collects the
 * result. The only workload where the similarity kernels do the work, and
 * where every call pays the index's centroid count job.
 */
final class AnnServe(spark: SparkSession, seed: Long, workDir: String) extends Workload {
  private val NVectors = 4000
  private val Dim = 32
  private val NClusters = 16
  private val NList = 16
  private val TrainIters = 0
  private val BatchSize = 128
  private val NBatches = 4
  private val K = 10
  /** An operation fails when its batch finds fewer of the exact top 10. */
  private val MinRecall = 0.9
  val warmupOps = 6

  private val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false))))

  private var corpus: DataFrame = _
  private var index: Similarity.IvfIndex = _
  private var queries: DataFrame = _
  private var batches: IndexedSeq[DataFrame] = _
  private var setups = 0
  private var batch = 0
  private val results = mutable.ArrayBuffer.empty[(Int, Array[Row])]
  private var exact: Map[Long, Set[Long]] = Map.empty
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private var scanned, scannedQueries = 0L

  private def queryId(batch: Int, q: Int): Long = 10000000L + batch * BatchSize + q

  private def frame(vs: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      vs.map { case (id, v) => Row(id, v.toSeq) }, 4), schema)

  def setup(): Unit = {
    val rng = new SplittableRandom(seed)
    val centers = Array.fill(NClusters, Dim)(rng.nextGaussian().toFloat)
    def around(cl: Int): Array[Float] =
      Array.tabulate(Dim)(d => centers(cl)(d) + 0.35f * rng.nextGaussian().toFloat)
    // vector id i lies around cluster i mod NClusters: the clusters are
    // equal in size, and the index's untrained centroids (the NList lowest
    // ids) are one vector per cluster, so the lists each query probes hold
    // the same number of vectors whatever the seed
    val vecs = (0L until NVectors.toLong).map(id => (id, around((id % NClusters).toInt)))
    // a query lies between two clusters, at least half-way towards the
    // first, so its true neighbours can sit in two lists: a search that
    // probes fewer lists loses recall
    def between(): Array[Float] = {
      val a = rng.nextInt(NClusters)
      val b = (a + 1 + rng.nextInt(NClusters - 1)) % NClusters
      val w = 0.5f + 0.5f * rng.nextDouble().toFloat
      Array.tabulate(Dim)(d => w * centers(a)(d) + (1 - w) * centers(b)(d) +
        0.35f * rng.nextGaussian().toFloat)
    }
    val qs = (0 until NBatches).map(_ => (0 until BatchSize).map(_ => between()))
    if (queries != null) queries.unpersist(true)
    queries = spark.createDataFrame(spark.sparkContext.parallelize(
      qs.zipWithIndex.flatMap { case (b, i) => b.zipWithIndex.map { case (v, q) =>
        Row(queryId(i, q), v.toSeq, i) } }, 4),
      StructType(schema.fields :+ StructField("batch", IntegerType)))
      .persist(StorageLevel.MEMORY_ONLY)
    queries.count()
    batches = qs.indices.map(i => queries.filter(col("batch") === i).select("vec_id", "vec"))
    if (corpus != null) corpus.unpersist(true)
    corpus = frame(vecs).persist(StorageLevel.MEMORY_ONLY)
    if (setups > 0) Common.deleteRecursively(new File(s"$workDir/ivf-$setups"))
    setups += 1
    val path = s"$workDir/ivf-$setups"
    Similarity.saveIvf(corpus, "vec_id", "vec", path, nlist = NList, trainIters = TrainIters)
    index = Similarity.loadIvf(spark, path)
    exact = Map.empty
  }

  def reset(): Unit = results.clear()

  override def prepare(i: Int): Unit = batch = i % NBatches

  def input: DataFrame = batches(batch)

  def steps: Seq[(String, DataFrame => DataFrame)] = Seq(
    "Similarity.ivfTopKIndexed" -> (q => Similarity.ivfTopKIndexed(index, q, K, "vec_id", "vec")))

  def op(i: Int, tr: Tracer): Long = {
    val top = Chain.run(this, tr)
    results += ((batch, tr.span("collect")(top.collect())))
    if (tr.on) {
      scanned += PlanMetrics.joinOutputRows(top.queryExecution.executedPlan, "cent_id")
      scannedQueries += BatchSize
    }
    BatchSize.toLong
  }

  /** The exact top k of batch `b`; brute force runs once, over every
    * query of every batch. */
  private def exactTop(b: Int): Map[Long, Set[Long]] = {
    if (exact.isEmpty)
      exact = Similarity.bruteForceTopK(corpus, queries.select("vec_id", "vec"), K, "vec_id", "vec")
        .collect().groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    (0 until BatchSize).map(q => queryId(b, q) -> exact.getOrElse(queryId(b, q), Set.empty[Long])).toMap
  }

  /** Each query must return k rows, and each batch must reach `MinRecall`
    * against brute force. */
  def check(): Int = results.count { case (b, rows) =>
    val got = rows.groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val want = exactTop(b)
    val complete = got.size == BatchSize && rows.length == BatchSize * K
    val hits = want.map { case (q, ns) => (ns intersect got.getOrElse(q, Set.empty)).size }.sum
    val recall = hits.toDouble / want.values.map(_.size).sum
    recalls += recall
    !complete || recall < MinRecall
  }

  /** Share of corpus vectors scored per query in the traced operations:
    * the rows the search's `cent_id` join emitted (one per query and
    * candidate vector), divided by queries times corpus size. */
  override def layerRatios(): Map[String, Double] =
    Map("Similarity.scan_share" ->
      (if (scannedQueries == 0) 0.0 else scanned.toDouble / (scannedQueries.toDouble * NVectors)))

  override def qualityRatios(): Map[String, Double] =
    Map("Similarity.recall_at_10" -> (if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size))

  def cleanup(): Unit = {
    if (corpus != null) corpus.unpersist(true)
    if (queries != null) queries.unpersist(true)
    Common.deleteRecursively(new File(workDir))
  }
}
