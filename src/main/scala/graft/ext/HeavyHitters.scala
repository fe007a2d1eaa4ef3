package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.MisraGriesSketch

/**
 * Exact heavy hitters at corpus scale via the two-pass sketch-then-count
 * pattern:
 *
 *   pass 1  Misra–Gries sketch ([[graft.functions.MisraGriesSketch]]) —
 *           constant-memory, map-side partial aggregation, shuffle
 *           carries <= numPartitions x capacity counters. Its guarantee:
 *           the candidate set is a SUPERSET of every item with true
 *           count > n / (capacity + 1).
 *   pass 2  exact counts of the <= capacity candidates only — the
 *           candidate filter (a broadcast literal set) prunes the stream
 *           BEFORE the count shuffle, so the exchange carries
 *           numPartitions x |candidates| partial counts, never the full
 *           vocabulary.
 *
 * The final threshold filter `cnt * (capacity + 1) > n` uses EXACT
 * integer arithmetic (no float division), so the output is exactly the
 * set an all-pairs engine would produce: every item occurring more than
 * n/(capacity+1) times, with its exact count. This is what makes the
 * operator oracle-checkable against a full GROUP BY ... HAVING in DuckDB
 * despite the sketch in the middle.
 *
 * Why not just groupBy(item).count() and filter? At 100 TB the shuffle
 * is the size of the DISTINCT vocabulary (billions of n-grams); here it
 * is capacity-bounded regardless of vocabulary size.
 */
object HeavyHitters {

  /** Pass-1 candidates: one row per sketch entry, `item` + lower-bound
    * `lb`. At most `capacity` rows, superset of all items with true
    * count > n/(capacity+1). */
  def sketchCandidates(items: DataFrame, itemCol: String, capacity: Int): DataFrame = {
    items
      .agg(MisraGriesSketch.sketch(col(itemCol), capacity).alias("sk"))
      .select(explode(col("sk")).alias("e"))
      .select(col("e.item").alias("item"), col("e.lb").alias("lb"))
  }

  /** Exact heavy hitters: every distinct value of `itemCol` occurring
    * strictly more than n/(capacity+1) times (n = count of non-null
    * items), with exact counts. Columns: item, cnt. */
  def exact(items: DataFrame, itemCol: String, capacity: Int): DataFrame = {
    val src = items.select(col(itemCol).alias("item")).filter(col("item").isNotNull)
    // ONE pass-1 aggregation carries both the sketch and n (both
    // partial-aggregatable, same map-side reduce). The collect is a
    // single row whose sketch array is structurally <= capacity entries —
    // a bounded driver materialization, not data-dependent.
    val row = src.agg(
      MisraGriesSketch.sketch(col("item"), capacity).alias("sk"),
      count(lit(1)).alias("n")).collect()(0)
    val cand = row.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
    val n = row.getLong(1)
    if (cand.isEmpty) return src.groupBy("item").agg(count(lit(1)).alias("cnt")).limit(0)
    // pass 2: the literal IN-set prunes at the scan, so the count shuffle
    // carries <= numPartitions x capacity partial counts. The threshold
    // is exact integer arithmetic — no float division.
    src.filter(col("item").isInCollection(cand))
      .groupBy("item").agg(count(lit(1)).alias("cnt"))
      .filter(col("cnt") * (capacity + 1) > lit(n))
  }

  /** Convenience: exact heavy-hitter TOKENS of a text column (whitespace
    * tokens of the normalized text, the corpus-stats tokenization used by
    * q_vocab_topk). */
  def exactTokens(docs: DataFrame, textCol: String, capacity: Int): DataFrame =
    exact(
      docs.select(explode(TextAnalysis.tokens(
        TextAnalysis.normalized(col(textCol)))).alias("item")),
      "item", capacity)
}
