package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * One-pass data profiling at corpus scale — the "look before you train"
 * operators a 100 TB pipeline runs constantly: fixed-width histograms,
 * multi-column summary profiles, and accuracy gates for the approximate
 * sketches (HyperLogLog++ distinct counts, KLL-style approximate
 * quantiles) that replace their exact counterparts once exact becomes
 * unaffordable.
 *
 * Scale shapes: histogram = one partial-aggregatable groupBy over a
 * codegen'd bucket expression (shuffle carries ≤ `buckets` partial
 * rows per partition); columnProfile = ONE aggregation chain producing
 * a single row, unpivoted map-side; sketchAccuracy = the approx and exact
 * aggregates side by side in one pass each.
 */
object Profile {

  /**
   * Fixed-width histogram of numeric column `c` over [lo, hi]: bucket i
   * covers [lo + i·w, lo + (i+1)·w) with w = (hi−lo)/buckets; values
   * exactly equal to `hi` land in the last bucket (closed top edge, the
   * width_bucket convention). Rows outside [lo, hi] and nulls are
   * excluded. Empty buckets are absent. Output: (bucket, bucket_lo,
   * bucket_hi, cnt) — edges recomputed from the bucket index so the
   * output is self-describing.
   */
  def histogram(df: DataFrame, c: String, lo: Double, hi: Double,
                buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    require(lo < hi, s"need lo < hi, got [$lo, $hi]")
    val v = graft.ColName.topCol(c).cast("double")
    val w = (hi - lo) / buckets
    val bucket = least(floor((v - lit(lo)) / lit(w)), lit(buckets - 1L))
      .cast("long")
    df.filter(v.isNotNull && v >= lo && v <= hi)
      .groupBy(bucket.alias("bucket"))
      .agg(count(lit(1)).alias("cnt"))
      .select(col("bucket"),
        round(lit(lo) + col("bucket") * w, 6).alias("bucket_lo"),
        round(lit(lo) + (col("bucket") + 1) * w, 6).alias("bucket_hi"),
        col("cnt"))
  }

  /**
   * Long-format summary profile of `cols`: one row per column with
   * (column, n_rows, n_null, n_distinct, min_val, max_val) — min/max
   * cast to string so heterogeneous column types share one schema.
   * ONE aggregation chain computes every metric; the row→long unpivot is
   * map-side over the single result row.
   *
   * The distinct counts are rewritten by hand the way Spark rewrites
   * several `count(DISTINCT …)`s, so the plan does not depend on
   * expression ids (Spark's own rewrite orders its Expand projections by
   * them): each row is emitted once for the plain metrics (gid 0) and once
   * per column (gid i + 1, the column's value in slot i). Grouping by
   * (gid, slots) collapses each column's distinct values to one row each,
   * and one global aggregate reads every metric off those groups.
   */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "columnProfile needs at least one column")
    val q = (n: String) => graft.ColName.topCol(n)
    // float/double min/max render via format_string("%.6f"), not
    // cast("string"): Java Double.toString switches to scientific
    // notation at |x| >= 1e7 ("1.0E7") while other engines print plain
    // decimal — the fixed 6-dp form is engine-independent at every
    // magnitude (DuckDB printf('%.6f', ...) matches it)
    def asStr(dt: org.apache.spark.sql.types.DataType, e: Column): Column = dt match {
      case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType =>
        when(e.isNull, lit(null).cast("string"))
          .otherwise(format_string("%.6f", e.cast("double")))
      case _ => e.cast("string")
    }
    val dtypes = cols.map(c => c -> df.schema.fields
      .find(_.name == c).map(_.dataType)
      .getOrElse(org.apache.spark.sql.types.StringType)).toMap
    val idx = cols.indices
    def slot(i: Int) = s"__d_$i"
    def value(i: Int) = s"__r_$i"
    val copies = (0 to cols.size).map { g =>
      struct((lit(g).alias("gid") +: idx.flatMap { i =>
        val v = q(cols(i)); val none = lit(null).cast(dtypes(cols(i)))
        Seq((if (g == i + 1) v else none).alias(slot(i)), (if (g == 0) v else none).alias(value(i)))
      }): _*)
    }
    val perValue = df.select(explode(array(copies: _*)).alias("e")).select("e.*")
      .groupBy((col("gid") +: idx.map(i => col(slot(i)))): _*)
      .agg(count(lit(1)).alias("__n"), idx.flatMap(i => Seq(
        sum(when(col(value(i)).isNull, 1L).otherwise(0L)).alias(s"__nul_$i"),
        min(col(value(i))).alias(s"__mn_$i"), max(col(value(i))).alias(s"__mx_$i"))): _*)
    def plain(c: String): Column = max(when(col("gid") === 0, col(c)))
    val aggs = idx.flatMap { i =>
      val c = cols(i)
      Seq(coalesce(plain("__n"), lit(0L)).alias(s"__n_$c"),
        plain(s"__nul_$i").alias(s"__nul_$c"),
        count(when(col("gid") === i + 1, col(slot(i)))).alias(s"__nd_$c"),
        asStr(dtypes(c), plain(s"__mn_$i")).alias(s"__mn_$c"),
        asStr(dtypes(c), plain(s"__mx_$i")).alias(s"__mx_$c"))
    }
    val row = perValue.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map(c =>
      struct(lit(c).alias("column"), col(s"`__n_$c`").alias("n_rows"),
        col(s"`__nul_$c`").alias("n_null"), col(s"`__nd_$c`").alias("n_distinct"),
        col(s"`__mn_$c`").alias("min_val"), col(s"`__mx_$c`").alias("max_val")))
    row.select(explode(array(stacked: _*)).alias("p")).select("p.*")
  }

  /**
   * Robust outlier statistics per group: median and MAD (median absolute
   * deviation) of `valueCol`, plus the count of rows beyond
   * `k · MAD · 1.4826` of the median (1.4826 = the consistency constant
   * that makes MAD estimate σ under normality — the standard robust
   * z-score). Median/MAD don't move when the outliers themselves get
   * extreme, unlike mean/stddev — the point of using them for corpus
   * anomaly gates (absurd doc lengths, corrupt numeric fields).
   *
   * Scale shape (round 15): ONE pass — a fused buffered aggregate
   * ([[graft.functions.MadStats]]) computes all three chained order
   * statistics per group from one value buffer, for the same memory
   * envelope the previous first `percentile` pass already paid (exact
   * percentile buffers the group's values either way). The previous
   * three-pass chain (grouped median → broadcast → grouped MAD →
   * broadcast → outlier count) cost 3 corpus scans + 3 buffered
   * shuffles; this is 1 + 1, bit-identical by construction (the fused
   * eval reproduces Percentile's interpolation term-for-term — gated in
   * ProfileSpec). Groups are assumed low-cardinality relative to rows
   * (the profiling norm). A mostly-constant group has MAD 0 — any
   * nonzero deviation flags, matching the formula. Output: (groupCol,
   * med, mad, n, n_outliers), med/mad rounded 4 dp.
   */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
                  k: Double = 3.0): DataFrame = {
    val g = graft.ColName.topCol(groupCol)
    val v = graft.ColName.topCol(valueCol).cast("double")
    val rows = df.filter(v.isNotNull).select(g.alias("__g"), v.alias("__v"))
    rows.groupBy(col("__g").alias(groupCol))
      .agg(graft.functions.MadStats.madStats(col("__v"), k).alias("__ms"))
      .select(graft.ColName.topCol(groupCol),
        round(col("__ms").getField("med"), 4).alias("med"),
        round(col("__ms").getField("mad"), 4).alias("mad"),
        col("__ms").getField("n").alias("n"),
        col("__ms").getField("n_outliers").alias("n_outliers"))
  }

  /**
   * Per-group winsorization (percentile clipping): clip `valueCol` to its
   * group's [pLo, pHi] percentile band, appending `<valueCol>_w` with the
   * clipped value. The standard outlier-taming step before loss-weighted
   * sampling or feature normalization.
   *
   * Two aggregation passes, both group-bounded: (1) per-group percentile
   * pair; (2) a broadcast join of that tiny table back onto the rows —
   * the corpus itself is scanned once and never shuffled (profiling
   * groups are low-cardinality by assumption, as in [[madOutliers]]).
   * `exact = true` (default) buffers each group's values in the
   * percentile aggregate — right whenever per-group data fits an
   * executor; at truly unbounded group sizes pass `exact = false` for
   * the fixed-memory KLL `approx_percentile` (± `accuracy` rank error,
   * no buffering).
   *
   * Null handling: a null `valueCol` stays null in `<valueCol>_w`
   * (never silently becomes the band edge — greatest/least skip nulls,
   * which would otherwise clip null to `__lo`), and rows whose GROUP
   * key is null survive via a null-safe left join (their band comes
   * from the null-key group, which groupBy produces like any other).
   */
  def winsorize(df: DataFrame, groupCols: Seq[String], valueCol: String,
                pLo: Double = 0.01, pHi: Double = 0.99,
                exact: Boolean = true, accuracy: Int = 10000): DataFrame = {
    require(groupCols.nonEmpty, "winsorize: at least one group column")
    require(0 <= pLo && pLo < pHi && pHi <= 1,
      s"winsorize: need 0 <= pLo < pHi <= 1, got ($pLo, $pHi)")
    val v = graft.ColName.quote(valueCol)
    // ONE percentile aggregate carrying both percentages — two separate
    // calls would each buffer (exact) or sketch (KLL) the group's values
    val pcts = if (exact) expr(s"percentile($v, array($pLo, $pHi))")
      else expr(s"approx_percentile($v, array($pLo, $pHi), $accuracy)")
    val bands = df.groupBy(groupCols.map(graft.ColName.topCol): _*)
      .agg(pcts.alias("__band"))
      .select(groupCols.map(graft.ColName.topCol) ++ Seq(
        get(col("__band"), lit(0)).cast("double").alias("__lo"),
        get(col("__band"), lit(1)).cast("double").alias("__hi")): _*)
    // null-safe equality (<=>) so a null group key matches its own band
    // row instead of being dropped by the join; renamed right-side keys
    // keep the output schema single-keyed
    val bandsR = groupCols.foldLeft(bands)((b, c) =>
      b.withColumnRenamed(c, "__g_" + c))
    val cond = groupCols.map(c =>
      graft.ColName.topCol(c) <=> col("__g_" + c)).reduce(_ && _)
    val vc = graft.ColName.topCol(valueCol)
    df.join(broadcast(bandsR), cond, "left")
      .withColumn(valueCol + "_w",
        when(vc.isNull, lit(null).cast("double"))
          .otherwise(least(greatest(vc.cast("double"), col("__lo")),
            col("__hi"))))
      .drop(groupCols.map("__g_" + _) ++ Seq("__lo", "__hi"): _*)
  }

  /**
   * Count-min sketch frequency estimates for a probe set of items,
   * next to their exact counts: the point-query sketch that answers
   * "how often does THIS key occur" from O(width·depth) memory however
   * large the stream (Cormode–Muthukrishnan; Spark's own
   * `stat.countMinSketch` — a distributed partial-aggregatable build).
   *
   * The defining one-sided guarantee — the estimate can only
   * OVERcount, never undercount — is a THEOREM, so the per-item
   * `undercount` column (max(exact − estimate, 0)) is provably 0 and a
   * DuckDB oracle can restate it as the literal 0 while genuinely
   * recomputing `exact_cnt` (the strategy-equivalence idiom; the raw
   * estimate depends on the sketch's internal hashing and is not
   * cross-engine derivable). The overcount magnitude (≤ eps·n at
   * confidence `conf` per probe) is spec-gated on seeded data. Exact
   * counts come from one IN-filtered partial-agg count — probe-bounded,
   * never vocabulary-sized. Output: (item, exact_cnt, undercount).
   */
  def countMinEstimates(df: DataFrame, c: String, probes: Seq[String],
                        eps: Double = 0.001, conf: Double = 0.99,
                        seed: Int = 42): DataFrame = {
    require(probes.nonEmpty, "countMinEstimates needs at least one probe item")
    val v = graft.ColName.topCol(c)
    val cms = df.stat.countMinSketch(v, eps, conf, seed)
    val est = probes.map(p => p -> cms.estimateCount(p)).toMap
    val spark = df.sparkSession
    import spark.implicits._
    val exact = df.filter(v.isInCollection(probes))
      .groupBy(v.alias("item")).agg(count(lit(1)).alias("exact_cnt"))
    val probeDf = probes.map(p => (p, est(p))).toDF("item", "__est")
    probeDf.join(exact, Seq("item"), "left")
      .select(col("item"),
        coalesce(col("exact_cnt"), lit(0L)).alias("exact_cnt"),
        greatest(coalesce(col("exact_cnt"), lit(0L)) - col("__est"), lit(0L))
          .alias("undercount"))
  }

  /** The raw estimates (item → count) for callers that want them — the
    * sketch is built once per call; bounded by the probe list. */
  def countMinRaw(df: DataFrame, c: String, probes: Seq[String],
                  eps: Double = 0.001, conf: Double = 0.99,
                  seed: Int = 42): Map[String, Long] = {
    val v = graft.ColName.topCol(c)
    val cms = df.stat.countMinSketch(v, eps, conf, seed)
    probes.map(p => p -> cms.estimateCount(p)).toMap
  }

  /**
   * Accuracy gate for the approximate sketches: runs HyperLogLog++
   * (`approx_count_distinct` at `rsd`) and the approximate median
   * (`percentile_approx` at `accuracy`) next to their exact
   * counterparts and reports both values plus within-bound booleans.
   *
   *  - distinct: |approx − exact| / exact ≤ 4·rsd (HLL++ rsd is one
   *    standard deviation; 4σ makes the gate deterministic in practice);
   *  - median: percentile_approx's contract is a RANK guarantee — the
   *    returned value's rank is within n/accuracy of n/2 — so the gate
   *    recomputes the approx value's actual rank and checks that window
   *    (±1 for interpolation slack), NOT a value distance.
   *
   * The within-bound booleans are computed Spark-side; a DuckDB oracle
   * can restate them as literal `true` and exactly recompute the exact
   * columns (the strategy-equivalence idiom used by the LSH/IVF gates).
   */
  def sketchAccuracy(df: DataFrame, c: String, rsd: Double = 0.05,
                     accuracy: Int = 1000): DataFrame = {
    val v = graft.ColName.topCol(c)
    // Round 15 (guide §2.3 "aggregate before you shuffle"): every EXACT
    // statistic here is an order/count statistic, so it computes
    // identically over the GROUPED (value, freq) table — one scan + one
    // exchange building a table bounded by |distinct values|. That
    // replaces (a) the count_distinct Expand plan (the round-12 3-4x
    // finding that forced the old two-pass split), (b) the exact
    // percentile's row-sized aggregation buffer (now |distinct|-sized
    // with a frequency argument — same value: Spark's exact percentile
    // builds a value→count map internally anyway), and (c) the third
    // full corpus scan for the rank check (now a sum of frequencies over
    // the cached grouped table). approx_count_distinct is duplicate-
    // insensitive (HLL registers are set-maxes), so feeding it distinct
    // values yields the identical estimate; only the KLL median sketch
    // (percentile_approx) has no weighted form and keeps a raw pass.
    val grouped = df.select(v.alias("__v")).groupBy("__v")
      .agg(count(col("__v")).alias("__f"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val s0 = df.agg(
      expr(s"percentile_approx(${graft.ColName.quote(c)}, 0.5, $accuracy)")
        .alias("approx_p50")).collect()(0)
    val sG = grouped.agg(
      count(col("__v")).alias("exact_distinct"),
      approx_count_distinct(col("__v"), rsd).alias("approx_distinct"),
      expr("percentile(__v, 0.5, __f)").alias("exact_p50"),
      sum(when(col("__v").isNotNull, col("__f")).otherwise(0L)).alias("n")
    ).collect()(0)
    val (exactD, approxD) = (sG.getLong(0), sG.getLong(1))
    if (sG.isNullAt(2) || s0.isNullAt(0)) {
      // no non-null values: no median exists; bounds are vacuous
      return df.sparkSession.range(1).select(
        lit(exactD).alias("exact_distinct"),
        lit(true).alias("distinct_within_4rsd"),
        lit(null).cast("double").alias("exact_p50"),
        lit(true).alias("p50_rank_within_bound"))
    }
    val (exactP50, approxP50, n) = (sG.getDouble(2), s0.getDouble(0), sG.getLong(3))
    // the approx value's true rank RANGE: with ties the value occupies
    // ranks (count(< v), count(<= v)] — the guarantee holds iff that
    // range intersects the target window, not iff a single rank does.
    // Collected eagerly (frequency sums over the cached grouped table)
    // so the table can be released before returning.
    val sR = grouped.agg(
        sum(when(col("__v") <= approxP50, col("__f")).otherwise(0L)).alias("rank_le"),
        sum(when(col("__v") < approxP50, col("__f")).otherwise(0L)).alias("rank_lt"))
      .collect()(0)
    val (rankLe, rankLt) = (sR.getLong(0), sR.getLong(1))
    df.sparkSession.range(1).select(
        lit(exactD).alias("exact_distinct"),
        lit(math.abs(approxD - exactD).toDouble / exactD <= 4 * rsd)
          .alias("distinct_within_4rsd"),
        lit(BigDecimal(exactP50).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble).alias("exact_p50"),
        lit(rankLe >= n / 2.0 - n.toDouble / accuracy - 1 &&
            rankLt <= n / 2.0 + n.toDouble / accuracy + 1)
          .alias("p50_rank_within_bound"))
    } finally grouped.unpersist()
  }

  /**
   * Pairwise Pearson correlation matrix of N integral-valued columns in
   * ONE aggregation pass: every per-column sum (Σx, Σx²) and per-pair
   * cross-product sum (Σxy) rides a single partial-aggregatable global
   * agg — the corpus is scanned once however many pairs are requested
   * (N(N−1)/2 pairs = one extra agg expression each, not extra passes).
   * Output: one row per unordered pair (col_x < col_y positionally),
   * with `corr` rounded to 6 dp.
   *
   * Cross-engine exactness: inputs MUST be integral (scale currency to
   * cents first). Sums accumulate in decimal(38,0) — exact, order-free —
   * and the correlation (n·Σxy − Σx·Σy) / √(n·Σx²−(Σx)²) / √(n·Σy²−(Σy)²)
   * is evaluated in double from those exact sums, so any engine summing
   * the same integers reproduces the value bit-for-bit (DuckDB's HUGEINT
   * sums are the same exact integers). Rows with a null in ANY requested
   * column are excluded (complete-case, the textbook matrix convention) —
   * a single `n` makes the matrix positive semi-definite.
   *
   * Magnitude bound: products v(i)·v(j) accumulate in decimal(38,0), so
   * |v| must stay ≲ 10^14 for the cross-product sums not to overflow at
   * large n. In non-ANSI mode Spark turns decimal overflow into null —
   * the aggregated row is therefore guarded and raises
   * "corrMatrix: decimal overflow" instead of emitting null correlations.
   */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"corrMatrix needs >= 2 columns, got $cols")
    require(cols.distinct.size == cols.size, s"duplicate columns in $cols")
    val dec = "decimal(38,0)"
    val v = cols.map(c => graft.ColName.topCol(c).cast(dec))
    val complete = df.filter(cols.map(graft.ColName.topCol(_).isNotNull)
      .reduce(_ && _))
    val aggs =
      count(lit(1)).alias("__n") +:
      (cols.indices.flatMap(i => Seq(
        sum(v(i)).alias(s"__s$i"),
        sum(v(i) * v(i)).alias(s"__q$i"))) ++
       cols.indices.flatMap(i => cols.indices.drop(i + 1).map(j =>
         sum(v(i) * v(j)).alias(s"__p${i}_$j"))))
    val row = complete.agg(aggs.head, aggs.tail: _*)
    val n = col("__n").cast("double")
    def s(i: Int) = col(s"__s$i").cast("double")
    def q(i: Int) = col(s"__q$i").cast("double")
    // overflow guard: with n > 0, a null sum can only mean non-ANSI
    // decimal(38,0) overflow — fail loudly instead of emitting null corrs
    val anySumNull = row.columns.filterNot(_ == "__n").map(col(_).isNull)
      .reduce(_ || _)
    val overflow = col("__n") > 0 && anySumNull
    // one struct per pair, exploded from the single aggregated row —
    // driver-free unpivot, same idiom as columnProfile
    val pairs = cols.indices.flatMap(i => cols.indices.drop(i + 1).map { j =>
      val cov = n * col(s"__p${i}_$j").cast("double") - s(i) * s(j)
      val den = sqrt(n * q(i) - s(i) * s(i)) * sqrt(n * q(j) - s(j) * s(j))
      struct(lit(cols(i)).alias("col_x"), lit(cols(j)).alias("col_y"),
        when(overflow, raise_error(lit(
          "corrMatrix: decimal overflow — input magnitudes too large"))
          .cast("double"))
          .otherwise(round(cov / den, 6)).alias("corr"))
    })
    row.select(explode(array(pairs: _*)).alias("__pr"))
      .select(col("__pr.col_x"), col("__pr.col_y"), col("__pr.corr"))
  }

  /**
   * Equi-depth (quantile) binning: assign each row the index of the
   * percentile bucket its value falls in — the feature-discretization
   * step fixed-width [[histogram]] can't provide when the distribution
   * is skewed. Interior edges are the group's p = i/nBins percentiles;
   * bin = #(edges < value) clamped to nBins−1, so ties with an edge go
   * to the LOWER bin and every non-null value lands in [0, nBins).
   * Null values get a null bin (never silently bin 0).
   *
   * Same two-pass shape as [[winsorize]]: one group-bounded percentile
   * aggregation (exact, or fixed-memory KLL with `exact = false`), the
   * tiny edge table broadcast back onto the rows — the corpus is
   * scanned once and never shuffled. Null group keys survive via the
   * null-safe join and bin against their own group's edges.
   *
   * Output: input columns + `<valueCol>_bin` (long).
   */
  def equiDepthBins(df: DataFrame, groupCols: Seq[String], valueCol: String,
                    nBins: Int, exact: Boolean = true,
                    accuracy: Int = 10000): DataFrame = {
    require(groupCols.nonEmpty, "equiDepthBins: at least one group column")
    require(nBins >= 2, s"equiDepthBins: nBins must be >= 2, got $nBins")
    val v = graft.ColName.quote(valueCol)
    val ps = (1 until nBins).map(i => i.toDouble / nBins)
    // ONE percentile aggregate carrying every interior edge — nBins-1
    // separate calls would each buffer (exact) or sketch (KLL) the
    // group's values, multiplying the aggregation's memory by nBins
    val pcts = if (exact) expr(s"percentile($v, array(${ps.mkString(", ")}))")
      else expr(s"approx_percentile($v, array(${ps.mkString(", ")}), $accuracy)")
    val edges = df.groupBy(groupCols.map(graft.ColName.topCol): _*)
      .agg(pcts.alias("__es"))
      .select(groupCols.map(graft.ColName.topCol) ++ ps.indices.map(i =>
        get(col("__es"), lit(i)).cast("double").alias(s"__e${i + 1}")): _*)
    val edgesR = groupCols.foldLeft(edges)((b, c) =>
      b.withColumnRenamed(c, "__g_" + c))
    val cond = groupCols.map(c =>
      graft.ColName.topCol(c) <=> col("__g_" + c)).reduce(_ && _)
    val vc = graft.ColName.topCol(valueCol)
    val bin = ps.indices.map(i =>
      when(col(s"__e${i + 1}") < vc.cast("double"), 1L).otherwise(0L))
      .reduce(_ + _)
    df.join(broadcast(edgesR), cond, "left")
      .withColumn(valueCol + "_bin",
        when(vc.isNull, lit(null).cast("long")).otherwise(bin))
      .drop(groupCols.map("__g_" + _) ++ ps.indices.map(i => s"__e${i + 1}"): _*)
  }

  /**
   * Population Stability Index between a reference frame and a current
   * frame — the standard distribution-drift monitor for a feature
   * column as a corpus grows (PSI < 0.1 stable, 0.1-0.25 moderate,
   * > 0.25 major shift). Bin edges come from the REFERENCE frame's
   * equi-depth percentiles (the convention: the baseline defines the
   * bins; a drifted current distribution then concentrates in few
   * bins), each side's bin shares are Laplace-smoothed by `eps` so an
   * empty bin never yields ±∞, and
   * PSI = Σ_bins (pRef − pCur) · ln(pRef / pCur).
   *
   * Both binning passes are the [[equiDepthBins]] broadcast shape; the
   * per-bin counts are two map-combinable aggregations of ≤ nBins rows
   * each — nothing corpus-sized crosses the wire. Null values are
   * excluded from both sides (they carry no position in the value
   * distribution; monitor them with [[columnProfile]] null counts).
   *
   * Output: one row — (n_ref, n_cur, psi) with psi rounded to 6 dp.
   */
  def psiDrift(ref: DataFrame, cur: DataFrame, valueCol: String,
               nBins: Int = 10, eps: Double = 1e-4,
               exact: Boolean = true): DataFrame = {
    require(nBins >= 2, s"psiDrift: nBins must be >= 2, got $nBins")
    val vc = graft.ColName.topCol(valueCol)
    val withConst = (d: DataFrame) => d.filter(vc.isNotNull)
      .select(vc.cast("double").alias("__v"))
    // reference edges once (ONE array-percentile buffer), broadcast to
    // both sides
    val v = "__v"
    val ps = (1 until nBins).map(i => i.toDouble / nBins)
    val pcts = if (exact) expr(s"percentile($v, array(${ps.mkString(", ")}))")
      else expr(s"approx_percentile($v, array(${ps.mkString(", ")}), 10000)")
    val edges = withConst(ref).agg(pcts.alias("__es"))
      .select(ps.indices.map(i =>
        get(col("__es"), lit(i)).cast("double").alias(s"__e${i + 1}")): _*)
    def binCounts(d: DataFrame): DataFrame = {
      val bin = ps.indices.map(i =>
        when(col(s"__e${i + 1}") < col("__v"), 1L).otherwise(0L)).reduce(_ + _)
      withConst(d).crossJoin(broadcast(edges))
        .select(bin.alias("__bin"))
        .groupBy(col("__bin")).agg(count(lit(1)).alias("__c"))
    }
    val rc = binCounts(ref).select(col("__bin"), col("__c").alias("__cr"))
    val cc = binCounts(cur).select(col("__bin"), col("__c").alias("__cc"))
    // full bin spine 0..nBins-1 so bins empty on either side still
    // contribute their smoothed share
    val spine = ref.sparkSession.range(nBins).select(col("id").alias("__bin"))
    val joinedB = spine
      .join(rc, Seq("__bin"), "left").join(cc, Seq("__bin"), "left")
      .select(col("__bin"),
        coalesce(col("__cr"), lit(0L)).alias("cr"),
        coalesce(col("__cc"), lit(0L)).alias("cc"))
    // bin-ordered struct list → the float fold associates in one fixed
    // order, deterministic across runs and partitionings
    val tot = joinedB.agg(sum(col("cr")).alias("nr"), sum(col("cc")).alias("nc"),
      array_sort(collect_list(struct(col("__bin"), col("cr"), col("cc"))))
        .alias("bins"))
    tot.select(col("nr").alias("n_ref"), col("nc").alias("n_cur"),
      round(aggregate(col("bins"), lit(0.0), (acc, b) => {
        val pr = (b.getField("cr").cast("double") / col("nr") + lit(eps))
        val pc = (b.getField("cc").cast("double") / col("nc") + lit(eps))
        acc + (pr - pc) * log(pr / pc)
      }), 6).alias("psi"))
  }

  /** Declarative data-quality report (the Deequ-style constraint check a
    * pipeline gates ingestion on): one row per rule with its violation
    * count. Rule kinds:
    *  - `notNull`: column must be non-null;
    *  - `ranges` (col, lo, hi): non-null values must lie in [lo, hi]
    *    (nulls belong to the notNull rule, not this one);
    *  - `patterns` (col, regex): non-null values must rlike the regex;
    *  - `unique`: every combination of the key columns must occur once —
    *    violations = rows living in a >1 group.
    *
    * Output: (rule, n_violations, n_rows), rule labeled
    * `kind:col[,col...]`.
    *
    * 100 TB shape: ALL row-local rules (notNull/ranges/patterns) fold
    * into ONE conditional-sum aggregation — a single corpus pass, no
    * shuffle beyond the scalar agg. Each uniqueness rule adds one
    * map-side-combinable groupBy over its key (duplicate mass crosses
    * the wire as partial counts). Nothing corpus-sized reaches the
    * driver; the report is |rules| rows. */
  def qualityReport(df: DataFrame,
                    notNull: Seq[String] = Nil,
                    unique: Seq[Seq[String]] = Nil,
                    ranges: Seq[(String, Double, Double)] = Nil,
                    patterns: Seq[(String, String)] = Nil): DataFrame = {
    require(notNull.nonEmpty || unique.nonEmpty || ranges.nonEmpty ||
      patterns.nonEmpty, "qualityReport: no rules given")
    unique.foreach(u => require(u.nonEmpty, "qualityReport: empty unique key"))
    val c = graft.ColName.topCol _
    val rowLocal: Seq[(String, Column)] =
      notNull.map(n => s"not_null:$n" ->
        sum(when(c(n).isNull, 1L).otherwise(0L))) ++
      ranges.map { case (n, lo, hi) => s"range:$n" ->
        sum(when(c(n).isNotNull && (c(n) < lo || c(n) > hi), 1L).otherwise(0L)) } ++
      patterns.map { case (n, re) => s"pattern:$n" ->
        sum(when(c(n).isNotNull && !c(n).rlike(re), 1L).otherwise(0L)) }
    val rowLocalReport: Option[DataFrame] =
      if (rowLocal.isEmpty) None
      else Some {
        // indexed aliases: two rules of the same kind on the same column
        // must not collide
        val agg = df.agg(count(lit(1)).alias("__n"),
          rowLocal.zipWithIndex.map { case ((_, e), i) =>
            e.alias(s"__v_$i") }: _*)
        agg.select(explode(array(rowLocal.zipWithIndex.map { case ((name, _), i) =>
            struct(lit(name).alias("rule"),
              col(s"__v_$i").alias("n_violations"))
          }: _*)).alias("__r"), col("__n"))
          .select(col("__r.rule").alias("rule"),
            col("__r.n_violations").alias("n_violations"),
            col("__n").alias("n_rows"))
      }
    val uniqueReports = unique.map { keys =>
      val label = s"unique:${keys.mkString(",")}"
      df.groupBy(keys.map(c): _*).agg(count(lit(1)).alias("__g"))
        .agg(coalesce(sum(when(col("__g") > 1L, col("__g"))), lit(0L))
            .alias("n_violations"),
          coalesce(sum(col("__g")), lit(0L)).alias("n_rows"))
        .select(lit(label).alias("rule"), col("n_violations"), col("n_rows"))
    }
    (rowLocalReport.toSeq ++ uniqueReports).reduce(_.unionAll(_))
  }

  /** Per-group z-score standardization — the feature-normalization step
    * of a training pipeline: `<valueCol>_z = (x - mean) / stddev` with
    * population stddev, computed per group. Zero-variance groups and
    * null values yield null z-scores; rows with a null GROUP key keep
    * their own group's stats (null-safe join, the [[winsorize]]
    * contract).
    *
    * Determinism: with an INTEGRAL-VALUED measure the sums and
    * sum-of-squares are exact in any association order, so mean /
    * variance / z are bit-identical across engines with NO rounding
    * convention (same argument as [[Curation.hashedLinearScore]]'s
    * dyadic weights). Fractional measures follow the usual float-fold
    * caveat.
    *
    * 100 TB shape: ONE map-side-combinable groupBy builds the tiny
    * per-group stats table (count/sum/sumsq), broadcast back onto the
    * rows — the corpus is scanned once and never re-shuffled. */
  def standardize(df: DataFrame, groupCols: Seq[String],
                  valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "standardize: need at least one group column")
    require(!df.columns.contains(valueCol + "_z"),
      s"standardize: input already has a '${valueCol}_z' column (the output)")
    val c = graft.ColName.topCol _
    val v = c(valueCol)
    val stats = df.groupBy(groupCols.map(c): _*)
      .agg(count(v).alias("__n"), sum(v).alias("__s"),
        sum(v * v).alias("__ss"))
      .select(groupCols.map(g =>
        c(g).alias("__st_" + g.replace(".", "_"))) ++
        Seq(col("__n"), col("__s"), col("__ss")): _*)
    val cond = groupCols.map(g => c(g) <=> col("__st_" + g.replace(".", "_")))
      .reduce(_ && _)
    val mean = col("__s") / col("__n")
    val variance = col("__ss") / col("__n") - mean * mean
    // greatest(·, 0) absorbs the tiny-negative variance a rounded
    // ss/n − mean² can produce: sqrt(0) = 0 and try_divide nulls the
    // zero-variance group instead of leaking NaN (engine-consistent)
    df.join(broadcast(stats), cond, "left")
      .select(df.columns.map(c).toIndexedSeq :+
        try_divide(v - mean, sqrt(greatest(variance, lit(0.0))))
          .alias(valueCol + "_z"): _*)
  }

  /** Per-group quantile rank: ANSI `percent_rank` of `valueCol` within
    * each group — (rank−1)/(n−1), ties share a rank, single-row groups
    * rank 0. The curriculum/difficulty-percentile signal next to
    * [[equiDepthBins]]' bucketed form. Integer-ratio output → engine
    * bit-exact unrounded. ONE exchange + sort (a plain window). */
  def quantileRank(df: DataFrame, groupCols: Seq[String],
                   valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "quantileRank: need at least one group column")
    require(!df.columns.contains(valueCol + "_qrank"),
      s"quantileRank: input already has a '${valueCol}_qrank' column (the output)")
    import org.apache.spark.sql.expressions.Window
    val c = graft.ColName.topCol _
    val w = Window.partitionBy(groupCols.map(c): _*).orderBy(c(valueCol).asc)
    df.withColumn(valueCol + "_qrank", percent_rank().over(w))
  }

  /** Referential-integrity check — the cross-table rule [[qualityReport]]
    * cannot express: how many `child` rows carry a foreign key with no
    * match in `parent`. Output (one row): (n_rows, n_orphans,
    * n_null_fk) — null FKs are counted separately (SQL semantics match
    * nothing, but they are usually a not-null rule, not an orphan).
    *
    * 100 TB shape: the child aggregates to DISTINCT key values FIRST
    * (map-side combinable, bounded by key cardinality), so the anti-join
    * probes |distinct keys| rows against the parent's key projection —
    * AQE broadcast-converts whichever side is small — and the per-key
    * child counts rejoin only the orphan keys. The child table itself is
    * scanned once and never re-shuffled by the parent. */
  def fkIntegrity(child: DataFrame, childKeys: Seq[String],
                  parent: DataFrame, parentKeys: Seq[String]): DataFrame = {
    require(childKeys.nonEmpty && childKeys.size == parentKeys.size,
      s"fkIntegrity: key lists must be non-empty and same-length, " +
        s"got $childKeys vs $parentKeys")
    val c = graft.ColName.topCol _
    val anyNull = childKeys.map(k => c(k).isNull).reduce(_ || _)
    val keyed = child.select(
      childKeys.map(k => c(k).alias("__k_" + k.replace(".", "_"))) :+
        anyNull.alias("__null"): _*)
    val counts = keyed.groupBy(
        (childKeys.map(k => col("__k_" + k.replace(".", "_"))) :+
          col("__null")): _*)
      .agg(count(lit(1)).alias("__n"))
    val parentKeysDf = parent
      .select(parentKeys.zip(childKeys).map { case (p, k) =>
        c(p).alias("__k_" + k.replace(".", "_")) }: _*).distinct()
    val orphanKeys = counts.filter(!col("__null"))
      .join(parentKeysDf,
        childKeys.map(k => "__k_" + k.replace(".", "_")), "left_anti")
    val nulls = counts.filter(col("__null"))
      .agg(coalesce(sum(col("__n")), lit(0L)).alias("n_null_fk"))
    val totals = counts.agg(coalesce(sum(col("__n")), lit(0L)).alias("n_rows"))
    val orphans = orphanKeys
      .agg(coalesce(sum(col("__n")), lit(0L)).alias("n_orphans"))
    totals.crossJoin(orphans).crossJoin(nulls)
  }
}
