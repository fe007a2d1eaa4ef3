package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Data-layout optimization for scan pruning at scale: Z-ORDER clustering.
 *
 * Parquet scans skip files (and row groups) whose min/max column stats
 * exclude the predicate. A single-column sort clusters ONE column's
 * stats; a Z-order (Morton) sort interleaves the bits of several
 * columns' rank positions, so a box predicate on ANY subset of the
 * z-columns touches only the files covering that region — the standard
 * multi-dimensional layout trick (Delta/Iceberg `OPTIMIZE ZORDER BY`),
 * here as a plain Spark implementation:
 *
 *  1. per column, map values to a bounded rank in [0, 2^bits) by
 *     counting approx-quantile boundaries below the value (ONE sampling
 *     pass per column — the same cost class as repartitionByRange's
 *     sampler; distribution-robust: skew and outliers flatten out,
 *     unlike min/max scaling. NO global window — a percent_rank over
 *     the whole frame would be a single-task sort);
 *  2. interleave the rank bits into one long with closed-form shift/or
 *     expressions (codegen'd, no UDF);
 *  3. `repartitionByRange` + `sortWithinPartitions` on the z-value, so
 *     every output file owns a compact z-range.
 *
 * Everything is content-preserving — the z-value is dropped on write.
 * At 100 TB the win is at READ time: PruningSpec-style box queries open
 * O(files covering the box) instead of O(all files).
 */
object Layout {

  /** Bit-interleaved Morton code of pre-computed ranks (each in
    * [0, 2^bits)). Closed-form: z = Σ_d Σ_b bit(d,b) << (b·D + d). */
  private[ext] def mortonCode(ranks: Seq[Column], bits: Int): Column = {
    require(ranks.nonEmpty, "zorder needs at least one column")
    require(ranks.size * bits <= 62, s"${ranks.size} cols × $bits bits overflows a long")
    val d = ranks.size
    val terms = for {
      (r, di) <- ranks.zipWithIndex
      b <- 0 until bits
    } yield shiftleft(shiftright(r, b).bitwiseAND(lit(1L)), b * d + di)
    terms.reduce((a, c) => a.bitwiseOR(c))
  }

  /** Rank of `c` in [0, 2^bits): the count of quantile `boundaries`
    * strictly below the value — 2^bits−1 codegen'd comparisons per row
    * against broadcast literals, no shuffle, no window. Default bits=6
    * keeps the chain at 63 terms (well inside codegen method limits);
    * 64 buckets/dimension is ample for FILE-level stat pruning. */
  private[ext] def boundedRank(c: Column, boundaries: Array[Double]): Column =
    boundaries.foldLeft(lit(0L))((acc, b) =>
      acc + when(c > lit(b), 1L).otherwise(0L))

  /** Per-column quantile boundaries for ALL dimensions in ONE pass
    * (round 15: the multi-column `approxQuantile` overload aggregates
    * every column's QuantileSummaries in a single scan — the old
    * one-call-per-column shape paid D full corpus scans for D
    * dimensions). Driver-held: D × (2^bits−1) doubles. */
  private[ext] def zBoundariesAll(df: DataFrame, cols: Seq[String],
                                  bits: Int): Seq[Array[Double]] = {
    val n = 1 << bits
    df.stat.approxQuantile(cols.toArray,
      (1 until n).map(_.toDouble / n).toArray, 1.0 / (4 * n)).toSeq
  }

  /** The z-value column for `cols` (rank + interleave, no UDFs; runs ONE
    * quantile-sampling job over all dimensions eagerly, like packAuto's
    * probes). */
  def zValue(df: DataFrame, cols: Seq[String], bits: Int = 6): Column =
    mortonCode(cols.zip(zBoundariesAll(df, cols, bits)).map { case (c, bs) =>
      boundedRank(graft.ColName.topCol(c), bs) }, bits)

  /** Re-cluster `df` by the Z-order of `cols` into `numFiles` ranges.
    * Content-identical to the input; only physical order changes.
    *
    * The z expression stays INLINE in one projection deliberately
    * (round-15 measurement): although [[mortonCode]] references each
    * rank chain `bits` times syntactically, whole-stage codegen's
    * subexpression elimination evaluates it once — a staged-alias
    * rewrite (separate rank projection, the usual HOF idiom) measured
    * 8.2 s vs 0.7 s on the same noop materialization because the merged
    * projection lost codegen subexpression elimination. Staging helps
    * interpreted HOFs; it hurts codegen'd scalar chains. */
  def zorder(df: DataFrame, cols: Seq[String], numFiles: Int,
             bits: Int = 6): DataFrame = {
    val z = "__zorder"
    df.withColumn(z, zValue(df, cols, bits))
      .repartitionByRange(numFiles, col(z))
      .sortWithinPartitions(z)
      .drop(z)
  }

  /** Z-order `df` and write it as `numFiles` parquet files at `path`. */
  def zorderWrite(df: DataFrame, cols: Seq[String], path: String,
                  numFiles: Int, bits: Int = 6): Unit =
    zorder(df, cols, numFiles, bits).write.mode("overwrite").parquet(path)

  /** Diagnostic: how many distinct files a filtered scan actually
    * touches — the quantity z-ordering minimizes for box predicates. */
  def filesTouched(df: DataFrame, predicate: Column): Long =
    df.filter(predicate).select(input_file_name()).distinct().count()

  /** Total bytes and file count of the parquet data files under `path`
    * (recursive driver-side listing — bounded by the FILE count, which
    * is exactly what compaction exists to shrink). */
  def dirStats(spark: org.apache.spark.sql.SparkSession,
               path: String): (Long, Int) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var bytes = 0L; var n = 0
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) {
        bytes += f.getLen; n += 1
      }
    }
    (bytes, n)
  }

  /**
   * Globally-sorted export: write `df` as `numFiles` parquet files that
   * are SORTED WITHIN each file AND RANGE-PARTITIONED ACROSS files —
   * file i's keys all precede file i+1's. Readers get binary-search /
   * merge-scan access and maximal min-max stat pruning on the sort key.
   * This is `repartitionByRange` (a sampled-boundaries shuffle, NOT a
   * single-task global sort) + `sortWithinPartitions` — the only
   * scalable way to a totally ordered layout.
   */
  /**
   * Windowless GLOBAL row index: assign each row its 0-based position in
   * the total order defined by `sortCols` — stable example ids / shard
   * offsets for training exports — WITHOUT `row_number() OVER ()`, which
   * moves the whole corpus into ONE window task (the WindowExec
   * single-partition warning; a non-starter at scale). The distributed
   * zipWithIndex, kept entirely in DataFrame land:
   *
   *  1. `repartitionByRange` + `sortWithinPartitions` on the sort key —
   *     ascending key ranges land on ascending partition ids (one
   *     sampling pass, the [[sortedExport]] cost class), and that is the
   *     ONLY corpus exchange;
   *  2. `monotonically_increasing_id()` evaluated AFTER the local sort
   *     encodes exactly (partitionId << 33) | localRank — the per-
   *     partition rank for free, no second window/exchange (the
   *     nondeterministic marking pins it behind the sort, so Catalyst
   *     cannot reorder it above the ordering it must observe);
   *  3. per-partition counts (a partial-aggregatable groupBy on the id's
   *     high bits — the exchange carries ≤ `partitions` pre-aggregated
   *     rows) get cumulative offsets through one bounded window and
   *     broadcast-join back: global index = offset(pid) + localRank.
   *
   * `sortCols` must be a TOTAL order (include a unique tie-breaker like
   * the row's id): the index is partition-membership-INDEPENDENT given a
   * total order — any split of a sorted sequence into consecutive runs
   * enumerates identically (the [[graft.ext.Curation.topPByScoreBucketed]]
   * banding argument), so the range sampler's boundary choices never
   * leak into the result and it is bit-reproducible across retries,
   * partition counts, and engines (the q_global_index oracle). Ties,
   * by contrast, WOULD be numbered by sampler-chosen membership — hence
   * the total-order contract. Local ranks are 33-bit (Spark's id
   * layout): > 8.5 B rows in ONE partition would wrap — unreachable at
   * sane partition sizing.
   */
  def globalRowIndex(df: DataFrame, sortCols: Seq[String],
                     outCol: String = "row_idx",
                     partitions: Int = 0): DataFrame = {
    require(sortCols.nonEmpty, "globalRowIndex needs at least one sort column")
    val reserved = df.columns.filter(_.startsWith("__gri_"))
    require(reserved.isEmpty,
      s"globalRowIndex: input uses reserved __gri_* names: ${reserved.mkString(",")}")
    require(!df.columns.contains(outCol),
      s"globalRowIndex: output column '$outCol' already exists")
    val n = if (partitions > 0) partitions
            else df.sparkSession.sessionState.conf.numShufflePartitions
    val keys = sortCols.map(graft.ColName.topCol)
    import org.apache.spark.sql.expressions.Window
    // pin: the id column is consumed by TWO subtrees (the offsets
    // aggregation and the final join). Without a lineage pin, each
    // subtree could re-execute the range shuffle with its own boundary
    // sample and disagree on partition membership — offsets from one
    // partitioning applied to ranks from another. Materializing once
    // makes the nondeterministic id a fact, not a recipe; cost class =
    // one extra corpus write to executor-local storage. The output
    // reads the pin, so it is kept.
    val tagged = Checkpoints.scoped(df.sparkSession) { cp =>
      cp.keep(cp.pin(df.repartitionByRange(n, keys: _*)
        .sortWithinPartitions(keys: _*)
        .withColumn("__gri_mid", monotonically_increasing_id())))
    }
    val pidOf = shiftright(col("__gri_mid"), 33)
    val localOf = col("__gri_mid").bitwiseAND(lit((1L << 33) - 1))
    // offsets table: ≤ n pre-aggregated rows — the one unpartitioned
    // window is provably bounded (the seq-packing two-phase idiom)
    val offsets = tagged.groupBy(pidOf.as("__gri_pid"))
      .agg(count(lit(1)).as("__gri_cnt"))
      .withColumn("__gri_off",
        coalesce(sum(col("__gri_cnt")).over(
          Window.orderBy(col("__gri_pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__gri_cnt")
    tagged.join(broadcast(offsets), pidOf === col("__gri_pid"))
      .withColumn(outCol, col("__gri_off") + localOf)
      .drop("__gri_pid", "__gri_mid", "__gri_off")
  }

  /**
   * Deterministic GLOBAL corpus shuffle for training export: every row
   * gets its 0-based position in a pseudo-random-but-reproducible total
   * order — the "shuffle once, globally, and make it replayable" step
   * every epoch-0 training pipeline needs. The order key is
   * `md5(concat_ws(...idCols))` (cross-engine stable — any engine
   * recomputes the identical permutation from the ids alone) with the
   * ids as tie-breakers, so the order is a TOTAL one and
   * [[globalRowIndex]]'s partition-membership-independence argument
   * applies verbatim: bit-reproducible across retries, partition
   * counts, and engines; ONE corpus exchange; no row_number() OVER ()
   * single-task funnel. md5 of distinct id tuples collides only
   * cryptographically-negligibly, and the tie-breaker makes even that
   * harmless.
   *
   * Contrast with `orderBy(rand(seed))`: rand() is per-partition-seeded
   * and partition-count-DEPENDENT, so a retry or repartition reshuffles
   * the corpus — exactly the nondeterminism this operator exists to
   * remove.
   */
  def shuffledIndex(df: DataFrame, idCols: Seq[String],
                    outCol: String = "shuffle_idx",
                    partitions: Int = 0): DataFrame = {
    require(idCols.nonEmpty, "shuffledIndex needs at least one id column")
    // same total-order contract as globalRowIndex: idCols must uniquely
    // identify a row (they are the tie-breakers under the md5 key)
    val keyCol = "__shuffle_key"
    require(!df.columns.contains(keyCol),
      s"shuffledIndex: input already has a '$keyCol' column")
    // Key construction contract (both enforced, not assumed):
    //  - ids join under an explicit \u0001 separator so distinct
    //    multi-id tuples can never concatenate identically (under a
    //    bare concat, ("1","23") and ("12","3") would share a key and
    //    such colliding groups would fall back to raw-id, locally
    //    unshuffled, order);
    //  - a NULL id raises at row level: concat_ws silently DROPS nulls,
    //    which would both collide keys and break the unique-tie-breaker
    //    contract the total order rests on. DuckDB oracle form of the
    //    same derivation: md5(concat_ws(chr(1), ids...)).
    val checkedIds = idCols.map { c =>
      val cc = graft.ColName.topCol(c)
      when(cc.isNull, raise_error(lit(
        s"shuffledIndex: null id in '$c' - idCols must be non-null " +
          "unique row identifiers"))).otherwise(cc.cast("string"))
    }
    val keyed = df.withColumn(keyCol,
      md5(concat_ws("\u0001", checkedIds: _*)))
    globalRowIndex(keyed, keyCol +: idCols, outCol, partitions)
      .drop(keyCol)
  }

  def sortedExport(df: DataFrame, sortCols: Seq[String], path: String,
                   numFiles: Int): Unit = {
    require(sortCols.nonEmpty, "sortedExport needs at least one sort column")
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val keys = sortCols.map(graft.ColName.topCol)
    df.repartitionByRange(numFiles, keys: _*)
      .sortWithinPartitions(keys: _*)
      .write.mode("overwrite").parquet(path)
  }

  /**
   * Small-file compaction: rewrite the parquet directory at `inPath` to
   * `outPath` as ~`targetBytes`-sized files. THE operational fix for the
   * classic small-files problem (a streaming sink or over-parallel write
   * leaving thousands of KB-scale files whose per-file open/footer cost
   * dominates scans and floods the driver's split enumeration).
   *
   * File count = ceil(inputBytes / targetBytes), derived from the REAL
   * input byte size, not a row-count guess — compression ratios carry
   * over since the data is the same. The rewrite is ONE round-robin
   * repartition — a shuffle, but the cheap kind (no keys, no sort, no
   * skew, perfectly even output sizes). `coalesce` is deliberately NOT
   * used: it would fuse upstream scan parallelism down to the output
   * file count, serializing the read of the very many-file input being
   * fixed. Row content is preserved exactly; physical order is not
   * (compaction is order-agnostic — compose with [[zorderWrite]] when
   * clustering matters).
   *
   * Returns (files before, files after).
   */
  def compactFiles(spark: org.apache.spark.sql.SparkSession,
                   inPath: String, outPath: String,
                   targetBytes: Long = 128L << 20): (Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be > 0, got $targetBytes")
    val (bytes, nIn) = dirStats(spark, inPath)
    val nOut = math.max(1, ((bytes + targetBytes - 1) / targetBytes).toInt)
    spark.read.parquet(inPath)
      .repartition(nOut)
      .write.mode("overwrite").parquet(outPath)
    (nIn, nOut)
  }
}
