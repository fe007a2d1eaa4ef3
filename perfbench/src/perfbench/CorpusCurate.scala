package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.ext.{Curation, Dedup, Layout, TextAnalysis}

/** One generated document and what the pipeline must do with it. */
final case class Doc(id: Long, domain: String, html: String, bodyLines: Int,
                     lowQuality: Boolean, cluster: Int)

/**
 * Seeded synthetic HTML corpus. Each document is a `<p>` line list joined
 * by " | " (the line separator survives `stripHtml`, which collapses
 * whitespace), wrapped in head/script/style/comment chrome. The generator
 * plants: boilerplate lines shared by many documents; near-duplicate
 * clusters (a base document plus variants with a few words changed);
 * low-quality documents (short punctuation noise); and several domains.
 */
object Corpus {
  val Domains: Seq[String] = Seq("news", "forum", "wiki", "blog", "shop")
  val LineSep = " | "
  val Boilerplate: Seq[String] = Seq(
    "Copyright 2024 Example Media Group all rights reserved",
    "Subscribe to our newsletter for weekly updates",
    "Accept cookies to continue browsing this site",
    "Follow us on social media for more stories",
    "Privacy policy and terms of service apply here")
  private val Stop = Seq("the", "a", "of", "and", "to", "in", "is", "was", "for", "on")

  def vocab(rng: SplittableRandom, n: Int): IndexedSeq[String] =
    (0 until n).map { _ =>
      val len = 4 + rng.nextInt(6)
      new String(Array.fill(len)(('a' + rng.nextInt(26)).toChar))
    }.distinct

  def generate(seed: Long, nDocs: Int, nClusters: Int): IndexedSeq[Doc] = {
    val rng = new SplittableRandom(seed)
    val words = vocab(rng, 600)
    def sentence(r: SplittableRandom): Array[String] = Array.fill(8 + r.nextInt(4)) {
      if (r.nextInt(100) < 35) Stop(r.nextInt(Stop.size)) else words(r.nextInt(words.size))
    }
    def noise(r: SplittableRandom): String = Seq.fill(3 + r.nextInt(4)) {
      "!$#%*?".charAt(r.nextInt(6)).toString * (2 + r.nextInt(3)) + r.nextInt(1000000)
    }.mkString(" ")
    // shuffled ids, so cluster members and domains are spread over the id space
    val ids = (0L until nDocs.toLong).toArray
    (ids.length - 1 to 1 by -1).foreach { i =>
      val j = rng.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val docs = mutable.ArrayBuffer.empty[Doc]
    var next = 0
    def html(body: Seq[String], r: SplittableRandom): String = {
      val lines = mutable.ArrayBuffer.empty[String]
      Boilerplate.foreach(b => if (r.nextInt(100) < 40) lines += b)
      val at = r.nextInt(lines.size + 1)
      lines.insertAll(at, body)
      "<html><head><style>p { margin: 0 }</style><script>var t = 1 < 2;</script></head>" +
        "<body><!-- generated -->" + lines.map(l => s"<p>$l</p>").mkString(LineSep) +
        "</body></html>"
    }
    // near-duplicate clusters: base plus 1 to 3 variants with 2 words changed
    (0 until nClusters).foreach { k =>
      val base = Seq.fill(5 + rng.nextInt(4))(sentence(rng))
      val size = 2 + rng.nextInt(3)
      (0 until size).foreach { v =>
        val body = base.map(_.clone())
        if (v > 0) (0 until 2).foreach { _ =>
          val s = body(rng.nextInt(body.size)); s(rng.nextInt(s.length)) = words(rng.nextInt(words.size))
        }
        val lines = body.map(_.mkString(" "))
        docs += Doc(ids(next), Domains(rng.nextInt(Domains.size)), html(lines, rng),
          lines.size, lowQuality = false, cluster = k)
        next += 1
      }
    }
    while (next < nDocs) {
      val low = rng.nextInt(100) < 15
      val lines =
        if (low) Seq.fill(1 + rng.nextInt(2))(noise(rng))
        else Seq.fill(5 + rng.nextInt(4))(sentence(rng).mkString(" "))
      docs += Doc(ids(next), Domains(rng.nextInt(Domains.size)), html(lines, rng),
        lines.size, low, cluster = -1)
      next += 1
    }
    docs.toIndexedSeq
  }

  /** The documents the pipeline must keep before sampling: every good
    * document outside a cluster, and the lowest id of each cluster. */
  def survivors(docs: Seq[Doc]): Seq[Doc] = {
    val (clustered, single) = docs.filterNot(_.lowQuality).partition(_.cluster >= 0)
    single ++ clustered.groupBy(_.cluster).values.map(_.minBy(_.id))
  }
}

/**
 * corpus_curate: the README pipeline over a seeded HTML corpus —
 * stripHtml → dropBoilerplateLines → qualityScore filter →
 * nearDupSurvivors → mixtureSample → sortedExport. The ext layers do the
 * work; dedup runs many small construction-time jobs against the
 * scheduling floor. Each operation exports to its own directory so every
 * export can be checked after the timed phase.
 */
final class CorpusCurate(spark: SparkSession, seed: Long, workDir: String) extends Workload {
  private val NDocs = 400
  private val NClusters = 30
  private val MaxDocFreq = 25
  private val QualityMin = 0.5
  private val Budgets = Map("news" -> 250L, "forum" -> 200L, "wiki" -> 100000L,
    "blog" -> 150L, "shop" -> 120L)
  private val NumFiles = 4
  val warmupOps = 2

  private var docs: DataFrame = _
  private var truth: Seq[Doc] = Nil
  private var expectedIds: Seq[(String, Long)] = Nil
  private val exports = mutable.ArrayBuffer.empty[String]
  private val cached = mutable.ArrayBuffer.empty[DataFrame]

  private val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("domain", StringType), StructField("html", StringType)))

  /** The quality-filtered documents and the dedup survivors are persisted,
    * as a pipeline author would before stages that read their input
    * several times; unpersisted, one operation recomputes the upstream
    * text kernels about ten times. */
  private def persisted(df: DataFrame): DataFrame = {
    cached += df
    df.persist(StorageLevel.MEMORY_ONLY)
  }

  def input: DataFrame = docs

  def steps: Seq[(String, DataFrame => DataFrame)] = Seq(
    "TextAnalysis.stripHtml" -> (df =>
      df.select(col("doc_id"), col("domain"), TextAnalysis.stripHtml(col("html")).alias("text"))),
    "Curation.dropBoilerplateLines" -> (df =>
      Curation.dropBoilerplateLines(df, "doc_id", "text", MaxDocFreq, Corpus.LineSep)
        .join(docs.select(col("doc_id"), col("domain")), "doc_id")),
    "TextAnalysis.qualityScore" -> (df =>
      persisted(df.filter(TextAnalysis.qualityScore(col("text_clean")) >= QualityMin))),
    "Dedup.nearDupSurvivors" -> (good => persisted(
      Dedup.nearDupSurvivors(good, "text_clean", "doc_id", threshold = 0.6,
        numHashes = 64, bands = 16).join(good, "doc_id"))),
    "Curation.mixtureSample" -> (df =>
      Curation.mixtureSample(df, "domain", "doc_id", "n_kept", Budgets)))

  override def release(): Unit = { cached.foreach(_.unpersist(true)); cached.clear() }

  def setup(): Unit = {
    if (docs != null) docs.unpersist(true)
    val gen = Corpus.generate(seed, NDocs, NClusters)
    val rows = gen.map(d => Row(d.id, d.domain, d.html))
    docs = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .persist(StorageLevel.MEMORY_ONLY)
    docs.count()
    truth = Corpus.survivors(gen)
    expectedIds = Nil
  }

  /** What every export must list: `mixtureSample` over the planted
    * survivors, sorted by (domain, doc_id). */
  private def expected(): Seq[(String, Long)] = {
    if (expectedIds.isEmpty) {
      val rows = truth.map(d => Row(d.id, d.domain, d.bodyLines.toLong)).asJava
      val truthDf = spark.createDataFrame(rows, StructType(Seq(
        StructField("doc_id", LongType), StructField("domain", StringType),
        StructField("n_kept", LongType))))
      expectedIds = Curation.mixtureSample(truthDf, "domain", "doc_id", "n_kept", Budgets)
        .collect().map(r => (r.getString(1), r.getLong(0))).sorted.toSeq
    }
    expectedIds
  }

  def reset(): Unit = { exports.foreach(p => Common.deleteRecursively(new java.io.File(p))); exports.clear() }

  def op(i: Int, tr: Tracer): Long = {
    val sample = Chain.run(this, tr)
    val path = s"$workDir/export-$i"
    tr.span("Layout.sortedExport")(Layout.sortedExport(sample, Seq("domain", "doc_id"), path, NumFiles))
    exports += path
    release()
    NDocs.toLong
  }

  /** An export passes when its part files, read in name order, list exactly
    * the expected (domain, doc_id) rows in sorted order. */
  private def exportIds(path: String): Seq[(String, Long)] =
    Common.partFiles(path).flatMap(f => spark.read.parquet(f.getPath)
      .select(col("domain"), col("doc_id")).collect().map(r => (r.getString(0), r.getLong(1))))

  /** The chain up to `nearDupSurvivors`, run once more after the timed
    * phase, must keep exactly the planted survivors: one document per
    * near-duplicate cluster and no low-quality document. */
  private def survivorsOk(): Boolean = {
    val got = try Chain.run(this, new Tracer(spark.sparkContext, on = false), 4)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    finally release()
    got == truth.map(_.id).sorted
  }

  /** Every operation fails when the survivors are wrong (each ran the same
    * chain on the same input); otherwise each export is checked. */
  def check(): Int =
    if (exports.isEmpty) 0
    else if (!survivorsOk()) exports.size
    else exports.count(p => exportIds(p) != expected())

  override def layerRatios(): Map[String, Double] = {
    val good = Chain.run(this, new Tracer(spark.sparkContext, on = false), 3)
    try {
      val verified = Dedup.minhashNearDuplicates(good, "text_clean", "doc_id", 0.6,
        numHashes = 64, bands = 16).count()
      val candidates = Dedup.minhashCandidates(good, "text_clean", "doc_id",
        numHashes = 64, bands = 16).count()
      val last = exports.lastOption
      Map("Dedup.lsh_precision" -> (if (candidates == 0) 1.0 else verified.toDouble / candidates),
        "Layout.sortedExport.mb_written" ->
          last.map(p => Common.dirBytes(new java.io.File(p)) / 1e6).getOrElse(0.0),
        "Layout.sortedExport.files" -> last.map(p => Common.partFiles(p).size.toDouble).getOrElse(0.0))
    } finally release()
  }

  def cleanup(): Unit = { reset(); release(); if (docs != null) docs.unpersist(true) }
}
