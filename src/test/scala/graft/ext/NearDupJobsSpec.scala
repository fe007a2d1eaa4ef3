package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The Spark jobs `Dedup.nearDupSurvivors` runs on a fixed corpus, split
  * into the jobs its construction launches (the hot-bucket probe and the
  * connected-components small-graph probe collect while the plan is
  * built) and the jobs of the final action. A change to the dedup chain
  * that adds or removes a job moves one of these pins. */
class NearDupJobsSpec extends SparkSpec {

  import spark.implicits._

  /** 400 docs of 30 words: docs 0..319 form 80 clusters of 4 that share a
    * base text and differ in one word each (3-shingle Jaccard ~0.8),
    * docs 320..399 are singletons. An RDD source, so no local-relation
    * folding shortens the plan. */
  private def corpus: DataFrame = {
    def words(seed: Int): Array[String] = {
      var x = seed.toLong * 2654435761L + 12345L
      Array.fill(30) {
        x = x * 6364136223846793005L + 1442695040888963407L
        s"w${(x >>> 33) % 500}"
      }
    }
    val docs = (0 until 400).map { i =>
      val (cluster, member) = if (i < 320) (i / 4, i % 4) else (i, 0)
      val w = words(cluster)
      w(7 * member + 1) = s"edit$i"
      (i.toLong, w.mkString(" "))
    }
    spark.sparkContext.parallelize(docs, 4).toDF("doc_id", "text")
  }

  test("nearDupSurvivors runs 8 jobs to build its plan and 2 to collect") {
    val docs = corpus
    docs.schema
    withJobCount { jobsSoFar =>
      jobsSoFar()
      val survivors = Dedup.nearDupSurvivors(docs, "text", "doc_id", threshold = 0.6,
        numHashes = 64, bands = 16)
      val construction = jobsSoFar()
      val kept = survivors.collect().map(_.getLong(0)).toSet
      val action = jobsSoFar()
      // every cluster keeps its lowest id; every singleton survives
      assert(kept == ((0 until 320 by 4) ++ (320 until 400)).map(_.toLong).toSet)
      assert((construction, action) == (8, 2),
        s"construction jobs $construction, action jobs $action")
    }
  }
}
