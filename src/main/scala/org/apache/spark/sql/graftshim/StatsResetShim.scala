package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, Row, classic}

/**
 * The one place this repo reaches into a `private[sql]` Spark API, and
 * why it must: a Spark 4 Dataset's local checkpoint carries the ORIGINAL
 * plan's statistics onto the checkpointed `LogicalRDD`
 * (`LogicalRDD.rewriteStatsAndConstraints`, ExistingRDD.scala:263), and
 * the size-only stats visitor estimates a join as the PRODUCT of its
 * children's `sizeInBytes` (SizeInBytesOnlyStatsPlanVisitor.visitJoin →
 * default). In an ITERATIVE join loop (connected components), each
 * round's checkpoint therefore inherits last round's product and
 * multiplies it again — the `BigInt` digit count grows geometrically
 * with the round number, and past ~10 rounds the driver disappears into
 * million-digit `BigInteger.multiplyToomCook3` calls inside stats
 * estimation (observed: a diameter-32 chain + 200k-edge noise graph hung
 * the driver for 10+ minutes at the round-10 checkpoint; jstack showed
 * the main thread in ToomCook3 under `rewriteStatsAndConstraints`).
 *
 * `resetStats` re-wraps a (typically just-checkpointed) frame's
 * execution RDD in a FRESH `LogicalRDD` built by
 * `internalCreateDataFrame`, which attaches no statistics — the leaf
 * reverts to `defaultSizeInBytes`, so each round's stats work is a
 * bounded product over ~20-digit numbers instead of a compounding one.
 * Zero data movement: the returned frame scans the same (already
 * materialized, already persisted) internal RDD; only the logical-plan
 * wrapper changes. The cast requires a classic (non-Connect) session —
 * the only kind this library runs on.
 */
object StatsResetShim {
  def resetStats(df: DataFrame): DataFrame = {
    // guarded cast (round 14): on a Connect session `df` is a
    // connect.Dataset and the cast below would surface as a raw
    // ClassCastException deep inside an iterative loop — name the actual
    // constraint instead. (Version fragility is pinned separately by
    // ShimSpec: a Spark bump that re-attaches compounding stats fails
    // that spec loudly.)
    df match {
      case ds: classic.Dataset[Row @unchecked] =>
        ds.sparkSession.internalCreateDataFrame(
          ds.queryExecution.toRdd, ds.schema, isStreaming = false)
      case other =>
        throw new UnsupportedOperationException(
          "StatsResetShim.resetStats requires a classic (non-Connect) " +
            s"SparkSession Dataset; got ${other.getClass.getName}. The " +
            "iterative-loop stats reset reaches a private[sql] API that " +
            "only exists driver-side — run this library on a classic session.")
    }
  }
}
