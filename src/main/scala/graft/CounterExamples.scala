package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Bpe, Checkpoints, Graph}

/** The naive algorithms the production operators are measured against:
  * each one is the bench contrast arm for one design choice, and its
  * spec pins the contrast. Nothing in the library calls them. */
private[graft] object CounterExamples {

  /** Connected components by one-hop neighbor-min propagation over the
    * FIXED edge set, with its round count: O(diameter) rounds of
    * O(|E|) work each — what [[graft.ext.Dedup.connectedComponents]]'s
    * star contraction buys (scale_cc_chain_plain vs scale_cc_chain). */
  def propagationComponents(pairs: DataFrame, aCol: String, bCol: String,
                            maxIter: Int): (DataFrame, Int) =
    Checkpoints.scoped(pairs.sparkSession) { cp =>
      val edges = pairs.select(col(aCol).alias("src"), col(bCol).alias("dst"))
      val sym = cp.pin(
        edges.union(edges.select(col("dst").alias("src"), col("src").alias("dst")))).df
      var labels = cp.pin(sym.select(col("src").alias("id")).distinct()
        .select(col("id"), col("id").alias("comp")))
      // comp values only ever DECREASE, so the fixed point is "no row's
      // comp changed this round"; the flag's sum is the action that
      // materializes the lazy pin — one job per round
      var converged = false
      var i = 0
      while (!converged && i < maxIter) {
        val nbrMin = sym.join(labels.df, sym("dst") === labels.df("id"))
          .groupBy(sym("src").alias("id")).agg(min(col("comp")).alias("__nbr"))
        val propagated = cp.pin(labels.df.alias("l")
          .join(nbrMin.alias("n"), col("l.id") === col("n.id"), "left")
          .select(col("l.id").alias("id"),
            least(col("l.comp"), coalesce(col("__nbr"), col("l.comp"))).alias("comp"),
            (col("__nbr").isNotNull && col("__nbr") < col("l.comp"))
              .cast("long").alias("__chg")),
          eager = false)
        val changed = Option(propagated.df.agg(sum(col("__chg"))).collect()(0).get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        converged = changed == 0L
        cp.release(labels) // propagated fully materialized by the agg
        labels = propagated.map(_.select(col("id"), col("comp")))
        i += 1
      }
      if (!converged) throw new IllegalStateException(
        s"connectedComponents did not converge after $maxIter rounds")
      (cp.keep(labels), i)
    }

  /** Triangle count over the id-canonical wedge join (`a < b < c`).
    * Correct, but the wedge fan-out is bounded only by deg(hub)² — a hub
    * with a small id keeps its whole adjacency as out-edges. The contrast
    * for [[graft.ext.Graph.triangleStats]]'s degree ordering
    * (scale_triangle_hub_plain vs _ordered). The edge list is pinned as
    * in triangleStats (statistics carried), so the pair isolates the
    * wedge fan-out rather than edge recompute or join planning. */
  def triangleStatsIdOriented(edges: DataFrame): DataFrame =
    Checkpoints.scoped(edges.sparkSession) { cp =>
      val e = cp.pin(edges, carryStats = true).df
      val e1 = e.select(col("a").alias("x"), col("b").alias("y"))
      val e2 = e.select(col("a").alias("y"), col("b").alias("z"))
      val e3 = e.select(col("a").alias("x"), col("b").alias("z"))
      Graph.statsRow(e, e1.join(e2, "y").join(e3, Seq("x", "z")).count())
    }

  /** [[graft.ext.Bpe.encodeCounts]] with the words tokenized by K chained
    * Catalyst `aggregate` folds instead of the rank-map loop. Each
    * chained HOF costs the analyzer one Resolution iteration, so at K=128
    * Spark 4.1 fails analysis (`Max iterations (100) reached`) before
    * touching data — the contrast for the rank-map path
    * (scale_bpe_folded_64 vs scale_bpe_rankmap_512). */
  def foldedEncodeCounts(df: DataFrame, idCol: String, textCol: String,
                         merges: Seq[(String, String)]): DataFrame =
    Bpe.encodeWith(df, idCol, textCol) { words =>
      val chars = filter(split(col("__w"), ""), s => length(s) > 0)
      val folded = merges.foldLeft(chars) { case (c, (l, r)) => Bpe.applyMerge(c, l, r) }
      words.select(col("__w"), size(folded).alias("__k"))
    }
}
