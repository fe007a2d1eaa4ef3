package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.length

/** The Spark jobs the two curation operators of the README chain run on a
  * fixed corpus, split as in NearDupJobsSpec into the jobs launched while
  * the plan is built and the jobs of the final action. `mixtureSample`
  * collects its per-(domain, bucket) sums at call time; the returned plan
  * reads its input once per branch. `dropBoilerplateLines` builds without
  * a job and reads its input twice: the line count and the rebuild. On
  * this corpus the earlier forms ran 0 + 8 jobs (a spine join back to
  * every id) and 0 + 6 (a broadcast classification table planned in both
  * branches). A change that adds or removes a job moves one of these
  * pins. */
class CurationJobsSpec extends SparkSpec {

  import spark.implicits._

  /** 300 docs over 5 domains, each of 3-8 lines drawn from 400 body lines
    * and 3 boilerplate lines every doc carries. An RDD source, so no
    * local-relation folding shortens the plan. */
  private def corpus: DataFrame = {
    val docs = (0 until 300).map { i =>
      val body = (0 until 3 + i % 6).map(k => s"line ${(i * 7 + k * 13) % 400}")
      (i.toLong, s"d${i % 5}", ("HOME | ABOUT" +: body :+ "footer" :+ "(c) 2024").mkString("\n"))
    }
    spark.sparkContext.parallelize(docs, 4).toDF("doc_id", "domain", "text")
  }

  /** (construction, action) jobs of `op` over `input`; `check` sees the
    * collected rows. */
  private def jobs(input: DataFrame)(op: DataFrame => DataFrame)(
      check: Array[Row] => Unit): (Int, Int) = {
    input.schema
    withJobCount { jobsSoFar =>
      jobsSoFar()
      val df = op(input)
      val construction = jobsSoFar()
      check(df.collect())
      (construction, jobsSoFar())
    }
  }

  test("dropBoilerplateLines builds with no job and collects in 5") {
    val counts = jobs(corpus)(Curation.dropBoilerplateLines(_, "doc_id", "text",
        maxDocFreq = 25)) { rows =>
      assert(rows.length == 300)
      assert(rows.forall(_.getLong(3) == 3L), "the three boilerplate lines drop from every doc")
    }
    assert(counts == ((0, 5)), s"construction and action jobs $counts")
  }

  test("mixtureSample collects its cut in 2 jobs and the sample in 2") {
    val docs = corpus.select($"doc_id", $"domain", length($"text").alias("n"))
    val counts = jobs(docs)(Curation.mixtureSample(_, "domain", "doc_id", "n",
        Map("d0" -> 2000L, "d1" -> 500L, "d2" -> 100000L), defaultBudget = 800L)) { rows =>
      assert(rows.map(_.getString(1)).toSet == Set("d0", "d1", "d2", "d3", "d4"))
      assert(rows.count(_.getString(1) == "d2") == 60, "d2's budget keeps it whole")
    }
    assert(counts == ((2, 2)), s"construction and action jobs $counts")
  }
}
