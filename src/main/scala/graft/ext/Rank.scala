package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Windowless per-group top-k. The textbook `row_number() OVER
 * (PARTITION BY g ORDER BY score DESC)` plan ships EVERY row of every
 * group through the exchange and sorts each group in full just to keep
 * k of them — at 100 TB the shuffle is the corpus. Here each map task
 * pre-reduces its slice to at most k candidates per group via the
 * bounded-heap [[graft.functions.TopKByScore]] aggregate (an
 * `ObjectHashAggregate` with partial merge), so the exchange carries
 * ≤ k rows per (group, map partition) and nothing is ever globally
 * sorted.
 *
 * Determinism: "best" = higher score, ties broken by SMALLER id
 * (TopKByScore's comparator) — the result is a pure function of the
 * data, reproducible across partitionings, which is what makes it
 * oracle-checkable against the window form.
 */
object Rank {

  /** Top `k` rows per group: (groupCols..., id, score, rank) with
    * rank 1 = best. `score` must be a double-compatible expression and
    * `id` a long — feed integral-derived scores (e.g. cents) when
    * bit-exact cross-engine comparison matters.
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], score: Column,
                   id: Column, k: Int): DataFrame = {
    require(groupCols.nonEmpty, "topKPerGroup: at least one group column")
    require(k >= 1, s"topKPerGroup: k must be >= 1, got $k")
    val gs = groupCols.map(graft.ColName.topCol)
    df.select(gs :+ score.cast("double").alias("__score")
        :+ id.cast("long").alias("__id"): _*)
      .groupBy(groupCols.map(graft.ColName.topCol): _*)
      .agg(graft.functions.TopKByScore.topK(col("__score"), col("__id"), k).alias("__top"))
      .select(groupCols.map(graft.ColName.topCol) :+
        posexplode(col("__top")).as(Seq("__i", "__e")): _*)
      .select(groupCols.map(graft.ColName.topCol) ++ Seq(
        col("__e.id").alias("id"), col("__e.score").alias("score"),
        (col("__i") + 1).cast("long").alias("rank")): _*)
  }
}
