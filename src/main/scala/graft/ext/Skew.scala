package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim

/**
 * Skew-mitigation joins. Spark's AQE already splits skewed SHUFFLE join
 * partitions at runtime, but two shapes stay out of its reach:
 * deliberately pre-salted co-partitioning (when the same skewed key
 * distribution feeds several downstream stages and you want ONE
 * repartitioning decision, not per-join runtime splits), and engines/
 * configs with AQE off. `saltedJoin` is the classic replicate-and-salt
 * rewrite with provably identical inner-join semantics: every left row
 * gets a deterministic salt in [0, buckets); the right side is replicated
 * once per salt value; the join adds the salt to the equi-keys, so each
 * hot key's pairs spread over `buckets` reducers instead of one.
 *
 * Cost model: right side is scanned once and exploded `buckets`× through
 * the shuffle — use for hot-left/small-right joins (the exact shape where
 * one reducer otherwise strangles the stage). The replication factor is
 * explicit, not hidden.
 */
object Skew {

  private val SaltCol = "__salt"

  /** Spark's own `BloomFilterMightContain` runtime-filter expression as
    * a Column (the engine applies it internally for
    * `spark.sql.optimizer.runtime.bloomFilter`; there is no public
    * Column API). First arg: serialized `util.sketch.BloomFilter`
    * binary literal; second: the xxhash64 of the probe key. */
  private def mightContain(bloomBytes: Array[Byte], value: Column): Column =
    ColumnShim.column(BloomFilterMightContain(Literal(bloomBytes), ColumnShim.expression(value)))

  /** The probe-side predicate of [[bloomPrunedJoin]], reusable on its
    * own (e.g. prune a corpus against a key set before an expensive
    * transform without joining). Builds the Bloom filter of
    * `build`'s `buildKeys` in one partial-aggregatable pass and returns
    * a codegen'd `might_contain` Column over `probe`'s `probeKeys`.
    * GUARANTEED no false negatives (both sides hash with the same
    * xxhash64); false positives bounded by `fpp`. */
  def bloomKeyFilter(build: DataFrame, buildKeys: Seq[String],
                     expectedItems: Long, fpp: Double = 0.01)
                    (probe: DataFrame, probeKeys: Seq[String]): Column = {
    require(buildKeys.nonEmpty && probeKeys.size == buildKeys.size,
      "bloomKeyFilter: probeKeys must match buildKeys arity")
    require(expectedItems > 0, s"expectedItems must be > 0, got $expectedItems")
    val q = (n: String) => graft.ColName.quote(n)
    // sentinel row: stat.bloomFilter NPEs on a zero-row build side (its
    // aggregate evals to null). One extra hash value can only add a
    // ~2^-64 false positive — never a false negative — so correctness
    // is untouched and the empty-build case degrades gracefully.
    val hashes = build.select(
        xxhash64(buildKeys.map(k => build(q(k))): _*).alias("__h"))
      .union(build.sparkSession.range(1).select(lit(Long.MinValue).alias("__h")))
    val bf = hashes.stat.bloomFilter(col("__h"), expectedItems + 1, fpp)
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    mightContain(out.toByteArray,
      xxhash64(probeKeys.map(k => probe(q(k))): _*))
  }

  /**
   * Bloom-pruned inner equi-join: semantically EXACTLY
   * `probe.join(build, keys, "inner")` (build columns clashing with
   * probe's are prefixed `rightPrefix`), but the probe side is filtered
   * by a Bloom filter of the build side's keys BEFORE the join's
   * exchange.
   *
   * Why it matters at 100 TB: in a selective large-large join (fact
   * table vs a filtered dimension that is too big — or too late, e.g.
   * derived keys — for the optimizer's own runtime filter), the probe
   * shuffle is the dominant cost, and most probe rows have no partner.
   * The bloom predicate drops them AT THE SCAN (codegen'd, pushed below
   * the exchange), so shuffle volume scales with the MATCHING rows, not
   * the probe table. False positives only cost shuffle bytes — the join
   * itself removes them, so the result is exact (no false negatives:
   * both sides hash the key identically with xxhash64). This is the
   * explicit, deterministic form of Spark's `InjectRuntimeFilter`.
   *
   * The filter is built by ONE partial-aggregatable pass over the build
   * side (`stat.bloomFilter`) and ships as a bounded binary literal
   * (~1.2 MB at 1M expected items / 1% fpp) — sized by `expectedItems`,
   * NOT by the probe. Both multi-column keys and single keys hash
   * through the same null-skipping xxhash64, and null keys can only add
   * harmless false positives (the inner join rejects them anyway).
   */
  def bloomPrunedJoin(probe: DataFrame, build: DataFrame, keys: Seq[String],
                      expectedItems: Long, fpp: Double = 0.01,
                      rightPrefix: String = "r_"): DataFrame = {
    require(keys.nonEmpty, "bloomPrunedJoin needs at least one key column")
    val pruned = probe.filter(
      bloomKeyFilter(build, keys, expectedItems, fpp)(probe, keys))
    val clash = build.columns.filterNot(keys.contains).filter(probe.columns.contains)
    val rRenamed = clash.foldLeft(build)((df, c) =>
      df.withColumnRenamed(c, rightPrefix + c))
    pruned.join(rRenamed, keys, "inner")
  }

  /** Inner equi-join of `left` and `right` on `keys`, salted across
    * `buckets` reducers per key. Result is EXACTLY `left.join(right,
    * keys, "inner")` (row multiset; output columns = left's then right's
    * non-key columns). The salt is deterministic — `xxhash64` of the
    * left row's full column set — so retries and replays shard
    * identically. Right columns clashing with left's are prefixed with
    * `rightPrefix`. */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 buckets: Int, rightPrefix: String = "r_"): DataFrame = {
    require(keys.nonEmpty, "saltedJoin needs at least one key column")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val q = (n: String) => graft.ColName.quote(n)
    val lSalted = left.withColumn(SaltCol,
      pmod(xxhash64(left.columns.map(c => left(q(c))).toSeq: _*), lit(buckets)))
    val clash = right.columns.filterNot(keys.contains).filter(left.columns.contains)
    val rRenamed = clash.foldLeft(right)((df, c) =>
      df.withColumnRenamed(c, rightPrefix + c))
    // replicate right once per salt value; the explode is map-side and
    // feeds the shuffle already sharded
    val rSalted = rRenamed.withColumn(SaltCol,
      explode(sequence(lit(0L), lit(buckets - 1L))))
    val cond = (keys :+ SaltCol).map(k =>
      lSalted(q(k)) === rSalted(q(k))).reduce(_ && _)
    val dropped = keys.foldLeft(lSalted.join(rSalted, cond))((df, k) =>
      df.drop(rSalted(q(k))))
    dropped.drop(lSalted(q(SaltCol))).drop(rSalted(q(SaltCol)))
  }
}
