package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Corpus-curation operators for large-scale training-data pipelines, beyond
 * dedup/similarity: repetition-based quality filters, PII redaction,
 * benchmark-contamination detection, deterministic stratified/quota
 * sampling, and concat-and-chunk sequence packing.
 *
 * 100 TB design notes (per operator, also in each scaladoc):
 *  - repetition filters / PII / hash sampling are narrow per-row Column
 *    expressions — single scan, whole-stage codegen, zero shuffles;
 *  - contamination broadcasts the (small) benchmark n-gram set and
 *    partial-aggregates hit counts, so the corpus is scanned once and the
 *    only shuffle carries matched (doc, count) rows;
 *  - quota sampling uses the bounded-heap [[graft.functions.TopKByScore]]
 *    aggregate (map-side partial top-k, tiny merge) instead of a
 *    one-task-per-stratum `row_number` window;
 *  - sequence packing runs a prefix-sum window PER SHARD so parallelism is
 *    `numShards`, not one task per stratum.
 *
 * Everything is deterministic (md5-derived randomness, not `rand()`), so
 * every operator is DuckDB-oracle-checkable.
 */
object Curation {

  /** Truncate (not round) to 6 dp: round-half-up (Spark) vs half-even
    * (DuckDB) disagree on exact .5 ties; floor never ties. */
  private def trunc6(c: Column): Column = floor(c * 1e6) / 1e6

  // ------------------------------------------------ repetition filters

  /** `1 - distinct/total` over a precomputed gram/token array (0 for
    * null/empty) — the shared kernel behind the fraction columns.
    * Let-bound ([[graft.ColExprs.once]]): the n-gram build passed in is a
    * computed zip_with chain, and the naive form would re-evaluate it up
    * to 4 times per row (null guard, empty guard, distinct, divisor). */
  private def dupFractionOf(grams: Column): Column =
    graft.ColExprs.once(grams)(g =>
      when(g.isNull || size(g) === 0, 0.0).otherwise(
        lit(1.0) - size(array_distinct(g)).cast("double") / size(g)))

  /** One-pass repetition-stats frame: token/2-gram/3-gram duplicate
    * fractions plus a keep/drop flag at the given thresholds. Single
    * scan → project; no shuffle.
    *
    * The token array is materialized ONCE in its own projection and the
    * three fraction columns read it by reference: Spark's higher-order
    * functions are interpreted (CodegenFallback), so codegen-level
    * subexpression elimination never rescues repeated
    * `tokens(normalized(text))` subtrees — and CollapseProject keeps the
    * staging projection because the alias is referenced more than once
    * (multi-reference non-cheap aliases are not inlined). Measured ~2× on
    * the documents corpus vs the inline form. */
  def repetitionStats(df: DataFrame, textCol: String,
                      maxDupTokenFrac: Double = 0.6,
                      maxDup3gramFrac: Double = 0.3): DataFrame = {
    // staging name must not collide with a user column: withColumn would
    // silently REPLACE it and the df.columns select below would then
    // return the token array in place of the user's original data
    val toks = Iterator.from(0)
      .map(i => if (i == 0) "__rep_toks" else s"__rep_toks_$i")
      .find(n => !df.columns.contains(n)).get
    df.withColumn(toks, TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))))
      .select(df.columns.map(col).toIndexedSeq ++ Seq(
        trunc6(dupFractionOf(col(toks))).alias("dup_token_frac"),
        trunc6(dupFractionOf(TextAnalysis.ngramsOf(col(toks), 2))).alias("dup_2gram_frac"),
        trunc6(dupFractionOf(TextAnalysis.ngramsOf(col(toks), 3))).alias("dup_3gram_frac")): _*)
      .withColumn("keep",
        col("dup_token_frac") <= maxDupTokenFrac &&
          col("dup_3gram_frac") <= maxDup3gramFrac)
  }

  // --------------------------------------------------------------- PII

  /** Shared-subset regexes (Java + RE2 compatible) so redaction is
    * byte-identical between Spark and the DuckDB oracle. Order matters:
    * emails first (contain dots and digits), then IPv4 (dotted digits
    * would half-match the phone pattern), then phones. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\b[0-9]{3}-[0-9]{3,4}-[0-9]{4}\\b"

  /** Count of PII matches by kind (emails, IPv4s, phone-shaped numbers). */
  def piiCounts(text: Column): Seq[Column] = Seq(
    regexp_count(text, lit(EmailRe)).cast("long").alias("n_emails"),
    regexp_count(text, lit(Ipv4Re)).cast("long").alias("n_ips"),
    regexp_count(text, lit(PhoneRe)).cast("long").alias("n_phones"))

  /** Replace every email / IPv4 / phone-shaped substring with a typed
    * placeholder token. Pure per-row regexp chain — codegen, no shuffle,
    * trivially scan-parallel at any corpus size. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  // ----------------------------------------------------- contamination

  /**
   * Benchmark-contamination check: for every corpus document, how many of
   * its distinct word n-grams also appear in the (small) benchmark set —
   * the standard n-gram-overlap decontamination step before training.
   *
   * Plan shape at 100 TB: the benchmark side is aggregated to DISTINCT
   * n-grams and *broadcast* (eval benchmarks are MBs, corpora are TBs), so
   * the corpus is scanned exactly ONCE: the per-doc gram total rides along
   * the explode, the broadcast join is LEFT (unmatched grams keep their
   * doc), and the `groupBy(doc, total)` count partial-aggregates map-side —
   * only one small (doc, total, count) row per doc reaches the shuffle.
   * `explode_outer` rather than `explode` on purpose: a plain explode's
   * non-empty precondition is pushed down as a separate Filter that
   * re-evaluates the whole n-gram expression a second time per row.
   */
  def contamination(corpus: DataFrame, bench: DataFrame,
                    idCol: String, textCol: String, n: Int,
                    maxOverlapFrac: Double = 0.1): DataFrame = {
    val benchGrams = bench
      .select(explode(Dedup.wordShingles(col(textCol), n)).alias("gram"))
      .distinct()
      .withColumn("__hit", lit(1))
    corpus
      .select(col(idCol), Dedup.wordShingles(col(textCol), n).alias("__grams"))
      .select(col(idCol), size(col("__grams")).cast("long").alias("total_ngrams"),
        explode_outer(col("__grams")).alias("gram"))
      .join(broadcast(benchGrams), Seq("gram"), "left")
      .groupBy(col(idCol), col("total_ngrams"))
      .agg(count(col("__hit")).alias("matched_ngrams"))
      // null text -> null grams -> null total: coalesce to 0 so the doc is
      // reported NOT-contaminated (false) rather than null, which boolean
      // filters downstream would silently drop either way
      .withColumn("overlap_frac",
        coalesce(trunc6(try_divide(col("matched_ngrams").cast("double"),
          col("total_ngrams"))), lit(0.0)))
      .withColumn("contaminated", col("overlap_frac") > maxOverlapFrac)
  }

  // ---------------------------------------------- deterministic sampling

  /** Deterministic uniform draw in [0, 1): the first 12 hex digits of
    * `md5(id)` as a 48-bit integer, scaled (48 bits is the widest prefix
    * still EXACT in a double — 2^48 < 2^53). md5 is the only hash both
    * Spark and DuckDB compute identically, which makes every sample below
    * oracle-checkable — and, unlike `rand()`, stable under retries,
    * re-partitioning, and speculative execution (a correctness property
    * at 1000-executor scale, not just a testing convenience). 48 bits
    * pushes the intra-stratum birthday bound to ~2^24 (~16M) rows per
    * stratum; the earlier 24-bit draw saw likely ties at mere thousands. */
  def hashUnit(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 12), 16, 10).cast("double") / (1L << 48)

  /** The DuckDB spelling of [[hashUnit]] (DuckDB has no base-16 `conv`;
    * fold hex digits via strpos). Exposed for oracle SQL construction. */
  def hashUnitSql(idExpr: String): String = {
    val h = s"md5(CAST($idExpr AS VARCHAR))"
    val terms = (1 to 12).map { i =>
      val w = math.pow(16, 12 - i).toLong
      s"(strpos('0123456789abcdef', substring($h, $i, 1)) - 1) * $w"
    }
    s"((${terms.mkString(" + ")}) / ${(1L << 48).toDouble})"
  }

  /**
   * Stratified downsampling at per-stratum rates: keep a row iff
   * `hashUnit(id) < rate(stratum)`. The canonical corpus-rebalancing step
   * (e.g. downweight the dominant language/source). Pure per-row
   * predicate — no shuffle, no state, exact at any scale; expected kept
   * fraction per stratum = its rate.
   */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
                       rates: Map[String, Double],
                       defaultRate: Double = 1.0): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (k, r)) =>
      when(col(strataCol) === k, lit(r)).otherwise(acc)
    }
    df.filter(hashUnit(col(idCol)) < rate)
  }

  /**
   * Deterministic named-split assignment (the train/val/test step):
   * each row lands in the split whose cumulative-fraction interval
   * contains `hashUnit(id)`. Appends a `split` column.
   *
   * Membership is a pure function of the row's id — stable across runs,
   * retries, repartitioning, and INCREMENTAL ingestion (a document added
   * next month lands in the same split it would have today), which is the
   * property that keeps eval sets uncontaminated as a 100 TB corpus
   * grows. Zero shuffles: a per-row codegen'd expression chain.
   *
   * Boundary note: prefer binary-exact fractions (0.75/0.125/0.125 …) when
   * an external system must reproduce the assignment — the cumulative
   * bounds are then exactly representable and no row can straddle a
   * 1-ulp difference in how another engine sums the fractions.
   */
  def hashSplit(df: DataFrame, idCol: String,
                splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty, "hashSplit: at least one split required")
    require(splits.forall(_._2 > 0), s"hashSplit: fractions must be > 0: $splits")
    // appending, not overwriting: silently replacing an existing `split`
    // column would discard a prior assignment without a trace
    require(!df.columns.contains("split"),
      "hashSplit: input already has a 'split' column — rename or drop it first")
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9,
      s"hashSplit: fractions must sum to 1, got $total")
    val u = hashUnit(col(idCol))
    // upper cumulative bound of each split but the last; the last split
    // absorbs the remainder so u ∈ [0,1) always lands somewhere
    val bounds = splits.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    val assigned = splits.init.zip(bounds.init)
      .foldRight(lit(splits.last._1): Column) {
        case (((name, _), hi), acc) => when(u < hi, lit(name)).otherwise(acc)
      }
    df.withColumn("split", assigned)
  }

  /**
   * Leakage-safe split: [[hashSplit]] keyed by a DUPLICATE-CLUSTER label
   * instead of the row id, so near-duplicate documents can never straddle
   * train/val/test. Splitting a raw corpus by doc id silently leaks: a
   * page crawled five times lands ~once per split, and the eval set then
   * scores memorization of the training copies. Keying the draw on the
   * cluster label makes split membership a pure function of WHAT the
   * document is (its dup-cluster), not which crawl produced it.
   *
   * `clusters` is an (idCol, cluster) frame as produced by
   * [[graft.ext.Dedup.nearDupClusters]] (or exact-fingerprint grouping —
   * any labeling where duplicates share a label). The join is an
   * equi-shuffle on the id spine; the assignment itself is the same
   * zero-shuffle per-row md5 interval test as [[hashSplit]], so the
   * incremental-ingestion property carries over AT CLUSTER GRANULARITY:
   * a near-copy arriving next month joins its cluster's split, never the
   * eval set of a doc already trained on. By construction every cluster
   * maps to exactly one split (split = f(cluster)).
   *
   * Coverage: rows of `df` absent from `clusters` are NOT dropped — the
   * join is a left join and an uncovered row self-labels
   * `cluster = id`, i.e. it forms the same singleton cluster
   * [[graft.ext.Dedup.nearDupClusters]] would have assigned it (whose
   * labels are min member ids). A cluster-label type that can't
   * losslessly hold the id fails loudly rather than mislabeling (a
   * permissive cast would null-out uncovered rows into one bogus
   * shared cluster).
   *
   * Output: `df`'s columns + `cluster` + `split`.
   */
  def leakageSafeSplit(df: DataFrame, idCol: String, clusters: DataFrame,
                       splits: Seq[(String, Double)]): DataFrame = {
    require(clusters.columns.contains("cluster"),
      "leakageSafeSplit: clusters frame needs a 'cluster' column " +
        "(the Dedup.nearDupClusters contract)")
    // appending, not overwriting — mirrors hashSplit's own 'split' guard
    require(!df.columns.contains("cluster"),
      "leakageSafeSplit: input already has a 'cluster' column — rename or drop it first")
    val clusterType = clusters.schema("cluster").dataType
    val idType = df.schema(idCol).dataType
    require(idType == clusterType ||
        org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(idType, clusterType),
      s"leakageSafeSplit: id type $idType cannot losslessly self-label as " +
        s"cluster type $clusterType for rows missing from the clusters frame")
    val joined = df.join(clusters.select(graft.ColName.topCol(idCol),
        col("cluster")), Seq(idCol), "left")
      .withColumn("cluster",
        coalesce(col("cluster"), col(idCol).cast(clusterType)))
    hashSplit(joined, "cluster", splits)
  }

  /**
   * Exact-quota sampling: the k rows with the SMALLEST deterministic hash
   * per stratum (i.e. a uniform random quota, reproducible across runs).
   *
   * Implemented with the bounded-heap [[graft.functions.TopKByScore]]
   * aggregate: each map task keeps at most k entries per stratum and the
   * merge is k-sized — the scalable alternative to
   * `row_number().over(Window.partitionBy(stratum))`, which funnels every
   * row of a stratum into ONE task (the exact hazard VERDICT r1 flagged
   * in the ANN path). Output: (stratum, id, rank) with rank 1..k by hash
   * order.
   *
   * Tie handling: integral ids tie-break on the id itself inside the heap.
   * String ids tie-break on the xxhash64 surrogate — deterministic but not
   * id-lexicographic; with the 48-bit [[hashUnit]] an intra-stratum hash
   * tie needs ~2^24 rows in one stratum before it becomes likely.
   */
  def quotaSample(df: DataFrame, strataCol: String, idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = df.schema(idCol).dataType
    val integralId = Seq(ByteType, ShortType, IntegerType, LongType).contains(idType)
    if (integralId) {
      val picked = df
        .groupBy(col(strataCol))
        .agg(graft.functions.TopKByScore.topK(df.sparkSession,
          -hashUnit(col(idCol)), col(idCol).cast("long"), k).alias("__top"))
      picked.select(col(strataCol), posexplode(col("__top")))
        .select(col(strataCol), (col("pos") + 1).cast("long").alias("rank"),
          // cast back: the heap stores longs; the caller gets the input type
          col("col.id").cast(idType).alias(idCol))
    } else {
      // non-numeric ids (ANSI would crash on cast): rank a 64-bit surrogate
      // through the bounded heap, then join back to recover the real id.
      // xxhash64 collisions within a stratum are ~2^-64 per pair and would
      // only duplicate a winner, never crash.
      val keyed = df.select(col(strataCol), col(idCol),
        xxhash64(col(idCol).cast("string")).alias("__sid"))
      val picked = keyed
        .groupBy(col(strataCol))
        .agg(graft.functions.TopKByScore.topK(df.sparkSession,
          -hashUnit(col(idCol)), col("__sid"), k).alias("__top"))
        .select(col(strataCol), posexplode(col("__top")))
        .select(col(strataCol), (col("pos") + 1).cast("long").alias("rank"),
          col("col.id").alias("__sid"))
      picked.join(keyed, Seq(strataCol, "__sid")).drop("__sid")
        .select(col(strataCol), col("rank"), col(idCol))
    }
  }

  /**
   * Weight-proportional sampling WITHOUT replacement (Efraimidis &
   * Spirakis, "Weighted random sampling with a reservoir", IPL 2006 —
   * the A-Res key): each row draws the deterministic uniform
   * u = [[hashUnit]](id) and ranks by `ln(u) / w`, a monotone transform
   * of u^(1/w); the k LARGEST keys win, giving inclusion odds
   * proportional to weight. Deterministic and replay-stable like
   * [[quotaSample]] (same md5 unit), and the heavy-weight analogue of
   * its uniform draw — the canonical "sample a training mix by source
   * quality/size" primitive.
   *
   * Rows with weight <= 0 or null never win. Bounded-heap top-k per
   * stratum ([[graft.functions.TopKByScore]]) — map-side partial heaps,
   * never a single-task window. Output: (strataCol, rank, idCol) with
   * rank 1..k in descending-key order. Integral id columns only (the
   * heap stores longs); pre-surrogate other id types as in quotaSample.
   */
  def weightedSample(df: DataFrame, strataCol: String, idCol: String,
                     weightCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"weightedSample needs an integral id column, got $idType")
    val w = col(weightCol).cast("double")
    val key = log(hashUnit(col(idCol))) / w
    val picked = df
      .filter(w > 0) // null/zero/negative weight: excluded, never sampled
      .groupBy(col(strataCol))
      .agg(graft.functions.TopKByScore.topK(df.sparkSession,
        key, col(idCol).cast("long"), k).alias("__top"))
    picked.select(col(strataCol), posexplode(col("__top")))
      .select(col(strataCol), (col("pos") + 1).cast("long").alias("rank"),
        col("col.id").cast(idType).alias(idCol))
  }

  /**
   * Token-budget mixture sampling — the pretraining "data mixing" step:
   * given a per-domain budget in measure units (tokens, chars, bytes),
   * keep a deterministic uniform-random prefix of each domain until its
   * budget fills. A row is kept iff the summed measure of the rows BEFORE
   * it (in `([[hashUnit]](id), id)` order within its domain) is strictly
   * below the domain's budget — so the crossing row is kept, every domain
   * with a positive budget and any rows keeps at least one row, and the
   * selection is replay-stable across runs and engines.
   *
   * Semantically this is the windowed definition
   * `sum(measure) OVER (PARTITION BY domain ORDER BY u, id
   *  ROWS UNBOUNDED PRECEDING EXCLUDING CURRENT) < budget`
   * — which is exactly how the DuckDB oracle states it — but a window
   * partitioned by domain funnels EVERY row of a domain through one task
   * (the 100 TB killer when one domain dominates the corpus, which is the
   * normal case: web crawl >> everything else). Instead the cut point is
   * found in two scalable phases, bit-identical to the window form:
   *
   *  1. bucket each row by `floor(u * buckets)` (a pure projection) and
   *     aggregate per-(domain, bucket) measure sums — domains × buckets
   *     rows, tiny; a prefix-sum window over THIS table costs nothing and
   *     classifies each bucket as fully-kept (prefix through it < budget),
   *     fully-dropped (prefix before it >= budget), or boundary;
   *  2. rows in fully-kept buckets pass with no further work (a broadcast
   *     join against the tiny classification table); only rows in each
   *     domain's boundary bucket — an expected 1/buckets fraction — pay an
   *     exact per-bucket prefix-sum window, seeded with the bucket's
   *     prefix offset. Bucket order extends (u, id) order because the
   *     bucket id is a monotone function of u, so fully-kept + boundary
   *     winners reproduce the global window's row set exactly.
   *
   * Rows whose domain has no budget entry get `defaultBudget` (0 = drop
   * unknown domains). Null/negative measures are rejected up front: a
   * negative measure would make the prefix sum non-monotone and the
   * bucket classification unsound.
   *
   * Replay stability requires an INTEGRAL measure column (tokens, chars,
   * bytes — the normal units). With fractional double measures the
   * per-bucket partial sums associate differently per partitioning, so
   * rows at a budget boundary can drift run-to-run by 1-ulp effects;
   * integral measures sum exactly in any order and are reproduced
   * bit-for-bit by any engine (same contract as `rollingFeatures`).
   */
  def mixtureSample(df: DataFrame, domainCol: String, idCol: String,
                    measureCol: String, budgets: Map[String, Long],
                    defaultBudget: Long = 0L, buckets: Int = 1024): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    import org.apache.spark.sql.expressions.Window
    val budget = budgets.foldLeft(lit(defaultBudget.toDouble)) {
      case (acc, (k, b)) => when(col(domainCol) === k, lit(b.toDouble)).otherwise(acc)
    }
    val m = col(measureCol).cast("double")
    val checkedM = when(m.isNotNull && m >= 0, m).otherwise(raise_error(concat(
      lit("mixtureSample: null/negative measure for id "), col(idCol).cast("string"))))
    val u = hashUnit(col(idCol))
    // least(): u is in [0,1) but guard the ==1.0 edge anyway
    val bucket = least(floor(u * buckets), lit(buckets - 1)).cast("int")
    val rows = df.withColumn("__u", u).withColumn("__b", bucket)
      .withColumn("__m", checkedM).withColumn("__budget", budget)
      .filter(col("__budget") > 0)
    // phase 1: per-(domain, bucket) sums; the window below runs over
    // domains x buckets rows only (never over corpus rows)
    val perBucket = rows.groupBy(col(domainCol), col("__b"))
      .agg(sum(col("__m")).alias("__w"), first(col("__budget")).alias("__budget"))
    val bw = Window.partitionBy(col(domainCol)).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val classified = perBucket
      .withColumn("__cum_before", coalesce(sum(col("__w")).over(bw), lit(0.0)))
      .select(col(domainCol), col("__b"), col("__cum_before"),
        // fully kept: even the bucket's LAST row starts below budget for
        // every non-negative measure split; boundary when the budget lands
        // inside (or exactly on the end of) the bucket
        (col("__cum_before") + col("__w") < col("__budget")).alias("__full"),
        (col("__cum_before") >= col("__budget")).alias("__drop"))
      .filter(!col("__drop"))
    val tagged = rows.join(broadcast(classified), Seq(domainCol, "__b"))
    val kept = tagged.filter(col("__full"))
    // phase 2: the exact prefix sum, restricted to boundary buckets — the
    // partition key includes the bucket, so a task sorts ~1/buckets of a
    // domain, not the domain
    val inBw = Window.partitionBy(col(domainCol), col("__b"))
      .orderBy(col("__u"), col(idCol)).rowsBetween(Window.unboundedPreceding, -1)
    val boundary = tagged.filter(!col("__full"))
      .withColumn("__row_before",
        col("__cum_before") + coalesce(sum(col("__m")).over(inBw), lit(0.0)))
      .filter(col("__row_before") < col("__budget"))
      .drop("__row_before")
    kept.unionByName(boundary)
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /**
   * Overlapping fixed-size document chunking (the RAG / long-context
   * training shape): split each document into `chunkTokens`-token windows
   * starting every `chunkTokens - overlapTokens` tokens, so consecutive
   * chunks share `overlapTokens` tokens of context. Output one row per
   * chunk: (idCol, chunk_idx, chunk_text, n_tokens); empty/null documents
   * produce ZERO rows.
   *
   * Chunk count: 0 for empty docs, else `ceil(max(n - overlap, 1) /
   * stride)` — integer arithmetic, so the DuckDB oracle reproduces it
   * bit-exactly. The final chunk may be short (the tail), never empty.
   *
   * Scale shape: zero shuffles — tokenize is staged ONCE per row (HOFs
   * are interpreted; no codegen CSE), the chunk index explodes map-side,
   * and each chunk slices the staged array. Output size ≈ input ×
   * (1 + overlap/stride) — the inherent cost of overlap, nothing more.
   */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     chunkTokens: Int, overlapTokens: Int = 0): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"overlapTokens must be in [0, chunkTokens), got $overlapTokens")
    val stride = chunkTokens - overlapTokens
    val id = graft.ColName.topCol(idCol)
    val staged = df
      .select(id.alias(idCol), TextAnalysis.tokens(col(textCol)).alias("__toks"))
      .select(col(graft.ColName.quote(idCol)), col("__toks"),
        coalesce(size(col("__toks")), lit(0)).alias("__n"))
      .withColumn("__nch",
        when(col("__n") <= 0, lit(0)).otherwise(
          expr(s"(greatest(__n - $overlapTokens, 1) + ${stride - 1}) div $stride")))
    staged
      .select(col(graft.ColName.quote(idCol)), col("__toks"), col("__n"),
        posexplode(when(col("__nch") > 0,
          sequence(lit(0), (col("__nch") - 1).cast("int")))
          .otherwise(array().cast("array<int>"))))
      .select(col(graft.ColName.quote(idCol)),
        col("pos").cast("long").alias("chunk_idx"),
        array_join(slice(col("__toks"), col("pos") * stride + 1,
          lit(chunkTokens)), " ").alias("chunk_text"),
        least(lit(chunkTokens), col("__n") - col("pos") * stride)
          .cast("long").alias("n_tokens"))
  }

  // ----------------------------------------------- exact span dedup

  /**
   * Exact repeated-span detection — the detection half of exact
   * substring dedup (Lee et al., "Deduplicating Training Data Makes
   * Language Models Better", arXiv:2107.06499; their suffix array finds
   * arbitrary-length repeats, a sliding window hash is the
   * shuffle-friendly equivalent at a fixed span length): hash every
   * `windowTokens`-token window of every document, count each window
   * hash's document frequency across the corpus, and score each
   * document by the fraction of its DISTINCT windows that also occur in
   * at least `minDocs - 1` other documents.
   *
   * Scale shape: one explode to (16-byte md5, id) rows — ~1 row per
   * corpus token, the published algorithm's inherent cost — then a
   * map-side-combinable groupBy on the window hash and one semi-join
   * back. The token/window pipeline computes ONCE behind an id-hash
   * exchange fence reused by both consumers (the shingleFrame idiom).
   * md5, not xxhash: the result is DuckDB-oracle-checkable.
   *
   * Output: (idCol, n_windows, n_repeated, repeated_frac), one row per
   * document; docs shorter than `windowTokens` score 0 / 0 / 0.0.
   *
   * `md5Windows`: window identity is exact string equality either way;
   * the default xxhash64 key is one codegen'd 64-bit hash per window
   * (collision odds ~2^-64 per pair — a collision could only over-count
   * one window as repeated), while md5 — bit-identical in DuckDB —
   * exists for the oracle gate and pays a 128-bit hash plus a 32-char
   * hex allocation per window (~1.5× slower end-to-end, measured).
   */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    windowTokens: Int = 8, minDocs: Int = 2,
                    md5Windows: Boolean = false): DataFrame = {
    require(windowTokens >= 1, s"windowTokens must be >= 1, got $windowTokens")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val toksName = Iterator.from(0)
      .map(i => if (i == 0) "__span_toks" else s"__span_toks_$i")
      .find(n => !df.columns.contains(n)).get
    // stage tokens, then windows, each as its OWN projection: a lambda
    // may only close over staged ATTRIBUTES (closing over a derived
    // expression re-evaluates it once per element — the HOF hazard)
    val wins = df
      .withColumn(toksName, TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))))
      .select(col(idCol), array_distinct(
        when(col(textCol).isNull || size(col(toksName)) < windowTokens,
          array().cast("array<string>"))
          .otherwise(transform(
            sequence(lit(1), size(col(toksName)) - windowTokens + 1),
            i => {
              val w = concat_ws(" ", slice(col(toksName), i, lit(windowTokens)))
              if (md5Windows) md5(w) else xxhash64(w).cast("string")
            })))
        .alias("__ws"))
      .repartition(col(idCol)) // fence: tokenize+hash once, exchange reused
    // explode_OUTER, deliberately: plain explode adds an implicit
    // `size(__ws) > 0` Filter, and predicate pushdown substitutes the
    // staged aliases all the way into the parquet scan — the entire
    // tokenize+window pipeline then re-runs as an interpreted scan
    // filter (measured 10x on this operator; the round-3 staging
    // lesson). The outer variant emits one null __w row per windowless
    // doc instead; a null never equals a join key, so `repeated` and the
    // semi-join are unaffected.
    val spans = wins.select(col(idCol), explode_outer(col("__ws")).alias("__w"))
    // per-doc-distinct windows → count(*) IS the document frequency
    val repeated = spans.groupBy(col("__w"))
      .agg(count(lit(1)).alias("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__w"), lit(1).alias("__rep"))
    // BOTH per-doc counts come off the exploded side in ONE aggregation:
    // n_windows = count(__w) (count skips the windowless doc's null row),
    // n_repeated = count(__rep) after a left join against the repeated
    // set (unique __w keys — a groupBy result — so no row multiplication;
    // left join + count(marker) ≡ the former semi-join + count). The old
    // shape re-read `wins` for a size(__ws) projection and joined it back
    // — one more evaluation of the token/window pipeline when the
    // exchange is not reused, plus two extra shuffles, for nothing the
    // exploded rows don't already know. explode_outer guarantees every
    // doc at least one row, so the groupBy covers the whole corpus.
    spans.join(repeated, Seq("__w"), "left")
      .groupBy(col(idCol))
      .agg(count(col("__w")).alias("n_windows"),
        count(col("__rep")).alias("n_repeated"))
      .withColumn("repeated_frac",
        when(col("n_windows") === 0, 0.0)
          .otherwise(trunc6(col("n_repeated").cast("double") / col("n_windows"))))
  }

  /**
   * Repeated-span REMOVAL — the rewrite half of exact substring dedup
   * (Lee et al. drop every duplicated span from the corpus, not just
   * score it): every token covered by ANY window whose hash occurs in
   * at least `minDocs` documents is removed, and the document is
   * re-emitted as the surviving token sequence over normalized text.
   *
   * Same scale shape as [[repeatedSpans]] plus one bounded per-doc
   * aggregation: (window start, hash) pairs explode (~1 per corpus
   * token), document frequency is a map-side-combinable count over
   * per-doc-distinct hashes, and each doc collects only its REPEATED
   * window starts (bounded by its own window count), folded into
   * maximal MERGED spans ([[mergeStarts]]) before a per-row coverage
   * filter rebuilds the token list. The coverage test is
   * O(tokens × merged-spans) per doc; a fully-duplicated doc's windows
   * merge into ONE span, so even the degenerate case stays O(tokens)
   * (it was O(tokens²) when the filter tested raw window starts).
   *
   * Output: (idCol, n_tokens, n_kept, cleaned_text); null text stays
   * null with 0 / 0 counts.
   */
  def dropRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                        windowTokens: Int = 8, minDocs: Int = 2,
                        md5Windows: Boolean = false): DataFrame = {
    val (toksF, mergedSpans) =
      mergedSpanFrames(df, idCol, textCol, windowTokens, minDocs, md5Windows)
    toksF.join(mergedSpans, Seq(idCol), "left")
      // cheap coalesce alias: safe to reference inside the lambda (the
      // expensive merge fold stays BELOW the join, where CollapseProject
      // cannot inline it into the per-token lambda)
      .withColumn("__spans2", coalesce(col("__spans"),
        array().cast("array<struct<lo:int,hi:int>>")))
      .select(col(idCol),
        coalesce(size(col("__toks")), lit(0)).cast("long").alias("n_tokens"),
        when(col("__toks").isNull, lit(null).cast("array<string>"))
          .otherwise(filter(col("__toks"), (_, idx) =>
            not(exists(col("__spans2"), p =>
              (idx + 1 >= p.getField("lo")) && (idx + 1 < p.getField("hi"))))))
          .alias("__kept"))
      .select(col(idCol), col("n_tokens"),
        coalesce(size(col("__kept")), lit(0)).cast("long").alias("n_kept"),
        when(col("__kept").isNull, lit(null).cast("string"))
          .otherwise(concat_ws(" ", col("__kept"))).alias("cleaned_text"))
  }

  /**
   * Variable-length repeated spans: maximal merged token ranges covered
   * by ≥ `minDocs`-doc repeated windows — the fixed-window-lattice
   * approximation of Lee et al.'s maximal repeated substrings (their
   * suffix array reports arbitrary-length duplicates; overlapping and
   * adjacent fixed windows merge into the same maximal cover). One row
   * per (document, maximal span): (idCol, span_start, span_end) as
   * 1-based half-open token positions. Docs with no repeated span emit
   * no rows.
   */
  def mergedRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                          windowTokens: Int = 8, minDocs: Int = 2,
                          md5Windows: Boolean = false): DataFrame = {
    val (_, mergedSpans) =
      mergedSpanFrames(df, idCol, textCol, windowTokens, minDocs, md5Windows)
    // plain explode is safe here: below it sits an Aggregate, so the
    // implicit size>0 filter cannot push into a scan (and __spans is
    // non-empty by construction — only docs WITH repeats have rows)
    mergedSpans.select(col(idCol), explode(col("__spans")).alias("__p"))
      .select(col(idCol), col("__p.lo").alias("span_start"),
        col("__p.hi").alias("span_end"))
  }

  /** Fold a SORTED start list into maximal half-open token spans
    * [lo, hi), hi = start + windowTokens: one `aggregate` pass — a start
    * at or before the open span's end EXTENDS it (overlap or adjacency),
    * otherwise it opens a new span. Cuts the coverage filter from
    * O(tokens × repeated windows) to O(tokens × merged spans) per doc —
    * a fully-duplicated doc (every window repeated) collapses to ONE
    * span, so the old degenerate O(tokens²) case is now O(tokens). */
  private[ext] def mergeStarts(sortedStarts: Column, windowTokens: Int): Column =
    aggregate(sortedStarts,
      array().cast("array<struct<lo:int,hi:int>>"),
      (acc, s) => {
        // get(), not element_at(): ANSI mode makes element_at on the
        // empty initial accumulator a runtime error; get returns null
        val last = get(acc, size(acc) - 1)
        when(last.isNull || s > last.getField("hi"),
          concat(acc, array(struct(s.alias("lo"),
            (s + windowTokens).alias("hi")))))
          .otherwise(concat(slice(acc, lit(1), size(acc) - 1),
            array(struct(last.getField("lo").alias("lo"),
              greatest(last.getField("hi"), s + windowTokens).alias("hi")))))
      })

  /** Shared front half of the repeated-span rewrite family: the
    * normalized token frame behind the id-fence exchange, and each
    * document's MERGED maximal repeated-span list (from the sorted
    * 1-based starts of windows whose hash occurs in ≥ `minDocs` docs).
    * Same scale shape as [[repeatedSpans]]: one (start, hash) explode
    * (~1 row per corpus token), a map-side-combinable doc-frequency
    * count over per-doc-distinct hashes, and a bounded per-doc start
    * collect (≤ the doc's own window count) folded into spans. */
  private def mergedSpanFrames(df: DataFrame, idCol: String, textCol: String,
                               windowTokens: Int, minDocs: Int,
                               md5Windows: Boolean): (DataFrame, DataFrame) = {
    require(windowTokens >= 1, s"windowTokens must be >= 1, got $windowTokens")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val toksF = df
      .withColumn("__dr_toks",
        TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))))
      .select(col(idCol), col("__dr_toks").alias("__toks"))
      .repartition(col(idCol)) // fence: tokenize once, exchange reused
    val winStructs =
      when(col("__toks").isNull || size(col("__toks")) < windowTokens,
        array().cast("array<struct<s:int,h:string>>"))
        .otherwise(transform(
          sequence(lit(1), size(col("__toks")) - windowTokens + 1),
          i => {
            val w = concat_ws(" ", slice(col("__toks"), i, lit(windowTokens)))
            struct(i.cast("int").alias("s"),
              (if (md5Windows) md5(w) else xxhash64(w).cast("string")).alias("h"))
          }))
    // explode_outer: see repeatedSpans — plain explode's implicit filter
    // would re-inline the window pipeline into the scan
    val spansPos = toksF.select(col(idCol), explode_outer(winStructs).alias("__u"))
    // per-doc-distinct hashes -> count(*) is the document frequency
    val repeated = spansPos.select(col(idCol), col("__u.h").alias("__h")).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).alias("__df"))
      .filter(col("__df") >= minDocs).select(col("__h"))
    val mergedSpans = spansPos
      .select(col(idCol), col("__u.s").alias("__s"), col("__u.h").alias("__h"))
      .join(repeated, Seq("__h"), "left_semi")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__s"))).alias("__starts"))
      .select(col(idCol), mergeStarts(col("__starts"), windowTokens).alias("__spans"))
    (toksF, mergedSpans)
  }

  // ------------------------------------------------- sequence packing

  /**
   * Concat-and-chunk sequence packing: documents are (conceptually)
   * concatenated in (shard, id) order and split every `maxTokens` tokens —
   * the standard pretraining packing. Each document is assigned the chunk
   * its first token lands in: `chunk = floor(prefix_tokens_before /
   * maxTokens)`, with `bin = (shard, chunk)`.
   *
   * Scale: a single global prefix sum would serialize; instead documents
   * are deterministically sharded by `hashUnit(id)` into `numShards`
   * independent streams and the prefix-sum window runs per shard —
   * parallelism = numShards (pick ~10x executor count), each task holding
   * one shard's metadata (ids + counts only, NOT the text). Chunks never
   * cross shards, so results are independent of the physical partitioning.
   */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    maxTokens: Int, numShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shard = floor(hashUnit(col(idCol)) * numShards).cast("long")
    val w = Window.partitionBy("shard").orderBy(col(idCol))
    df.select(col(idCol), shard.alias("shard"),
      TextAnalysis.tokenCount(col(textCol)).alias("n_tokens"))
      .withColumn("prefix_before",
        coalesce(sum(col("n_tokens")).over(w) - col("n_tokens"), lit(0L)))
      .withColumn("chunk", floor(col("prefix_before") / maxTokens))
      .select(col(idCol), col("shard"), col("n_tokens"), col("chunk"))
  }

  /**
   * GPT-style global token packing (concat-and-chunk): lay every document
   * out on ONE deterministic global token axis — documents ordered by
   * `(hashUnit(id), id)` — and cut fixed `seqLen`-token training
   * sequences that CROSS document boundaries (zero padding waste; the
   * complement of [[packSequences]], which bins whole documents within
   * shards). Emits one row per (document, sequence) overlap span:
   * `(idCol, n_tokens, seq_id, doc_offset, seq_offset, span_len)` —
   * exactly what a loader needs to materialize sequence `seq_id` by
   * slicing `span_len` tokens from each contributing document at
   * `doc_offset`, placing them at `seq_offset`. Zero-token documents
   * emit no spans.
   *
   * Scale shape — the [[mixtureSample]] two-phase prefix-sum, never a
   * global single-task sort: bucket rows by `floor(u·buckets)` (pure
   * projection; the bucket id is monotone in u, so bucket order extends
   * the global (u, id) order), aggregate per-bucket token sums (tiny,
   * map-combinable), prefix over the ≤`buckets` bucket rows (trivial
   * window), then a per-bucket ROWS window seeded by the bucket's offset
   * — each task holds ~1/buckets of the corpus. The span fan-out is
   * per-row arithmetic: a document spanning k sequences explodes into k
   * rows. All outputs integral → bit-exact on any engine.
   */
  def globalTokenPack(df: DataFrame, idCol: String, textCol: String,
                      seqLen: Int, buckets: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(seqLen >= 1, s"globalTokenPack: seqLen must be >= 1, got $seqLen")
    require(buckets >= 1, s"globalTokenPack: buckets must be >= 1, got $buckets")
    val id = graft.ColName.topCol(idCol)
    val base = df
      .select(id,
        TextAnalysis.tokenCount(graft.ColName.topCol(textCol))
          .cast("long").alias("n_tokens"),
        hashUnit(id).alias("__u"))
      .filter(col("n_tokens") > 0)
      .withColumn("__b", floor(col("__u") * buckets).cast("long"))
    val bucketSums = base.groupBy(col("__b"))
      .agg(sum(col("n_tokens")).alias("__bsum"))
    val overBuckets = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketOffsets = bucketSums
      .withColumn("__boff", coalesce(sum(col("__bsum")).over(overBuckets), lit(0L)))
      .select(col("__b"), col("__boff"))
    val inBucket = Window.partitionBy(col("__b")).orderBy(col("__u"), id)
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixed = base.join(broadcast(bucketOffsets), Seq("__b"))
      .withColumn("__pb",
        col("__boff") + coalesce(sum(col("n_tokens")).over(inBucket), lit(0L)))
    val first = expr(s"__pb DIV $seqLen")
    val last = expr(s"(__pb + n_tokens - 1) DIV $seqLen")
    val seqStart = col("seq_id") * seqLen
    prefixed
      .select(id, col("n_tokens"), col("__pb"),
        explode(sequence(first, last)).alias("seq_id"))
      .select(id, col("n_tokens"), col("seq_id"),
        greatest(seqStart - col("__pb"), lit(0L)).alias("doc_offset"),
        greatest(col("__pb") - seqStart, lit(0L)).alias("seq_offset"),
        (least(col("__pb") + col("n_tokens"), seqStart + seqLen) -
          greatest(col("__pb"), seqStart)).alias("span_len"))
  }

  /**
   * Corpus-level boilerplate-line removal (the C4/RefinedWeb cleaning
   * step): delete every line that occurs in MORE than `maxDocFreq`
   * distinct documents — navigation chrome, cookie banners, footers —
   * and reassemble each document from its surviving lines in original
   * order. Line identity is the exact line string (no normalization:
   * "Accept cookies" and "accept cookies" are different lines; callers
   * wanting case-folded identity can pre-map the text).
   *
   * Scale shape: posexplode → one DISTINCT (line, doc) pass → one
   * line-frequency groupBy (both map-side combinable; a line in a
   * billion docs crosses the wire as partial counts, never a row per
   * occurrence) → anti-join of exploded lines against the over-cap line
   * set (corpus-sized but key-bounded; AQE broadcast-converts when the
   * boilerplate set is small) → per-doc regroup. The regroup's
   * collect_list buffers one DOCUMENT's lines, not a corpus partition —
   * bounded by the largest single document, same guarantee as pack.
   * Documents whose every line was boilerplate survive with empty text
   * (left join back to the id spine), so the operator never loses rows.
   *
   * Output: (idCol, text_clean, n_kept, n_dropped).
   */
  def dropBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                           maxDocFreq: Int, sep: String = "\n"): DataFrame = {
    require(maxDocFreq >= 1, s"dropBoilerplateLines: maxDocFreq >= 1, got $maxDocFreq")
    require(sep.nonEmpty, "dropBoilerplateLines: separator must be non-empty")
    val id = graft.ColName.topCol(idCol)
    val lines = df.select(id,
        posexplode(split(graft.ColName.topCol(textCol),
          java.util.regex.Pattern.quote(sep), -1)).as(Seq("__pos", "__line")))
    // doc frequency per line: dedupe (line, doc) first so an in-document
    // repeat counts once, then a plain map-combinable count
    val overCap = lines.select(col("__line"), id).distinct()
      .groupBy(col("__line")).agg(count(lit(1)).alias("__df"))
      .filter(col("__df") > maxDocFreq)
      .select(col("__line"))
    val kept = lines.join(overCap, Seq("__line"), "left_anti")
    val rebuilt = kept.groupBy(id)
      .agg(collect_list(struct(col("__pos"), col("__line"))).alias("__ls"))
      .select(id,
        array_join(transform(array_sort(col("__ls")),
          s => s.getField("__line")), sep).alias("text_clean"),
        size(col("__ls")).cast("long").alias("n_kept"))
    df.select(id,
        size(split(graft.ColName.topCol(textCol),
          java.util.regex.Pattern.quote(sep), -1)).cast("long").alias("__n"))
      .join(rebuilt, Seq(idCol), "left")
      .select(id, coalesce(col("text_clean"), lit("")).alias("text_clean"),
        coalesce(col("n_kept"), lit(0L)).alias("n_kept"),
        (col("__n") - coalesce(col("n_kept"), lit(0L))).alias("n_dropped"))
  }

  /** k-anonymity suppression: keep only rows whose quasi-identifier
    * combination (`qiCols`) is shared by at least `k` rows — the standard
    * re-identification screen before releasing or training on
    * attribute-bearing records (complements the content-level
    * [[piiRedact]]). Rows in under-k groups are SUPPRESSED (dropped);
    * generalization ladders are the caller's concern.
    *
    * Null handling: null QI values group together (groupBy semantics) and
    * survive when that null-group reaches k — the semi-join uses
    * null-safe equality so they are not silently dropped.
    *
    * 100 TB shape: one map-side-combinable groupBy over the QI key — the
    * aggregated side is bounded by DISTINCT QI combinations, tiny next to
    * the corpus, so AQE broadcast-converts the semi-join and the corpus
    * itself never re-shuffles. (A windowed count would shuffle AND sort
    * every corpus row instead.) */
  def kAnonymize(df: DataFrame, qiCols: Seq[String], k: Int): DataFrame = {
    require(qiCols.nonEmpty, "kAnonymize: need at least one QI column")
    require(k >= 1, s"kAnonymize: k must be >= 1, got $k")
    val qi = qiCols.map(graft.ColName.topCol)
    val bigEnough = df.groupBy(qi: _*)
      .agg(count(lit(1)).alias("__n"))
      .filter(col("__n") >= k)
      .select(qiCols.map(c =>
        graft.ColName.topCol(c).alias("__ka_" + c.replace(".", "_"))): _*)
    val cond = qiCols.map(c =>
      graft.ColName.topCol(c) <=> col("__ka_" + c.replace(".", "_")))
      .reduce(_ && _)
    df.join(bigEnough, cond, "left_semi")
  }

  /** l-diversity suppression — [[kAnonymize]]'s companion on the
    * SENSITIVE attribute: keep only rows whose quasi-identifier group
    * contains at least `l` DISTINCT values of `sensitiveCol` (a k-anonymous
    * group that is all one diagnosis still leaks it; distinct-l-diversity
    * is the standard next screen). Null sensitive values count as one
    * distinct value like any other (count_distinct skips nulls, so they
    * are bucketed explicitly).
    *
    * Same 100 TB shape as kAnonymize: one map-side-combinable groupBy
    * over the QI key (count_distinct partial-aggregates), tiny surviving
    * key set, AQE broadcast-converts the null-safe semi-join. */
  def lDiversify(df: DataFrame, qiCols: Seq[String], sensitiveCol: String,
                 l: Int): DataFrame = {
    require(qiCols.nonEmpty, "lDiversify: need at least one QI column")
    require(l >= 1, s"lDiversify: l must be >= 1, got $l")
    val qi = qiCols.map(graft.ColName.topCol)
    val s = graft.ColName.topCol(sensitiveCol)
    val diverse = df.groupBy(qi: _*)
      .agg((count_distinct(s) +
        max(when(s.isNull, 1L).otherwise(0L))).alias("__l"))
      .filter(col("__l") >= l)
      .select(qiCols.map(c =>
        graft.ColName.topCol(c).alias("__ld_" + c.replace(".", "_"))): _*)
    val cond = qiCols.map(c =>
      graft.ColName.topCol(c) <=> col("__ld_" + c.replace(".", "_")))
      .reduce(_ && _)
    df.join(diverse, cond, "left_semi")
  }

  /** k-anonymity by GENERALIZATION — the privacy-utility trade
    * [[kAnonymize]]'s pure suppression can't express (Samarati's global
    * recoding): walk an ordered ladder of ever-coarser quasi-identifier
    * projections (finest first) and release the FIRST state where every
    * QI group already holds ≥ k rows — no rows dropped, the QI columns
    * just get coarser. Only if even the coarsest state fails does the
    * operator fall back to suppression AT that state (the kAnonymize
    * null-safe semi-join). Output: `keep` columns + the chosen state's
    * named QI columns + `gen_level` (ladder index; ladder size = fell
    * back to suppression).
    *
    * Every state must bind the SAME output names, and each state's
    * expressions must be engine-portable (integral bucketing — shift
    * negatives non-negative first so `//`-style floor and truncating
    * DIV agree; the q_k_generalize oracle replays the whole ladder).
    *
    * 100 TB shape: ONE corpus pass computes the cross-product of ALL
    * ladder expressions into a counts table bounded by DISTINCT raw QI
    * combinations; every ladder state is then probed by re-aggregating
    * that TINY table (each state's keys are functions of the raw QI, so
    * its groups are unions of the fine groups) — the ladder walk never
    * rescans the corpus. The release projection is the only second
    * corpus touch. */
  def kGeneralize(df: DataFrame, keep: Seq[String],
                  states: Seq[Seq[(String, Column)]], k: Int): DataFrame = {
    require(states.nonEmpty, "kGeneralize: need at least one ladder state")
    require(k >= 1, s"kGeneralize: k must be >= 1, got $k")
    val names = states.head.map(_._1)
    require(names.distinct == names && names.nonEmpty,
      s"kGeneralize: state names must be non-empty and distinct: $names")
    require(states.forall(_.map(_._1) == names),
      "kGeneralize: every ladder state must bind the same output names")
    require(names.intersect(keep).isEmpty,
      s"kGeneralize: keep and state names overlap: ${names.intersect(keep)}")
    // one corpus pass: counts over the cross-product of every state's
    // expressions (bounded by distinct raw QI combos)
    val allCols = states.zipWithIndex.flatMap { case (st, i) =>
      st.map { case (n, e) => e.alias(s"__kg_${i}_$n") } }
    val staged = df.select(allCols: _*)
    val fine = staged.groupBy(staged.columns.map(graft.ColName.topCol): _*)
      .agg(count(lit(1)).alias("__kg_n"))
      .localCheckpoint(true) // the ladder walk probes this tiny table
    val chosen = states.indices.find { i =>
      val keys = states(i).map { case (n, _) => col(s"__kg_${i}_$n") }
      val m = fine.groupBy(keys: _*).agg(sum(col("__kg_n")).alias("__n"))
        .agg(min(col("__n"))).collect()(0)
      m.isNullAt(0) || m.getLong(0) >= k // empty corpus: finest state wins
    }
    def release(i: Int, level: Int): DataFrame = df.select(
      keep.map(c => graft.ColName.topCol(c)) ++
        states(i).map { case (n, e) => e.alias(n) } :+
        lit(level).alias("gen_level"): _*)
    chosen match {
      case Some(i) => release(i, i)
      case None => // coarsest state still under k: suppress at it
        kAnonymize(release(states.size - 1, states.size), names, k)
    }
  }

  /** Per-group size profile behind [[kAnonymize]]: for each group size
    * observed over the QI key, how many groups and rows carry it —
    * the histogram an anonymity policy reads to pick k. Output:
    * (group_size, n_groups, n_rows), one shuffle + a tiny second agg. */
  def anonymityProfile(df: DataFrame, qiCols: Seq[String]): DataFrame = {
    require(qiCols.nonEmpty, "anonymityProfile: need at least one QI column")
    df.groupBy(qiCols.map(graft.ColName.topCol): _*)
      .agg(count(lit(1)).alias("group_size"))
      .groupBy(col("group_size"))
      .agg(count(lit(1)).alias("n_groups"),
        sum(col("group_size")).alias("n_rows"))
  }

  /** Nucleus (top-p) selection per group: order each group's rows by
    * `scoreCol` DESC (ties broken by ascending `idCol`) and keep rows
    * while the EXCLUSIVE prefix sum of scores stays below `p` × the group
    * total — the boundary row is kept, so every group with any rows keeps
    * at least one. The per-group analogue of quality-score "keep the best
    * half of every source" curation policies.
    *
    * Scores must be NON-NEGATIVE (negative scores make a prefix-mass
    * budget meaningless). The top-ranked row of every group is kept
    * unconditionally, so an all-zero (or all-null) score group still
    * keeps its best row instead of vanishing on the 0 < 0 boundary.
    *
    * Determinism contract (same as [[mixtureSample]]): with an INTEGRAL
    * `scoreCol` the prefix sums are exact in any association order and
    * the kept set is engine-reproducible bit-for-bit; fractional scores
    * can drift on boundary rows by 1-ulp effects.
    *
    * 100 TB shape: ONE shuffle on the group key — both window frames
    * (ordered cumulative sum and unordered group total) share the same
    * partitioning, so Spark plans a single Exchange with one sort. Skewed
    * groups are the caller's concern (pre-split giant groups or raise
    * spark.sql.windowExec spill settings); there is no join. */
  def topPByScore(df: DataFrame, groupCol: String, idCol: String,
                  scoreCol: String, p: Double): DataFrame = {
    require(p > 0.0 && p <= 1.0, s"topPByScore: p must be in (0, 1], got $p")
    require(!df.columns.contains("__before") && !df.columns.contains("__total")
        && !df.columns.contains("__rn"),
      "topPByScore: input uses the reserved __before/__total/__rn staging names")
    import org.apache.spark.sql.expressions.Window
    val g = graft.ColName.topCol(groupCol)
    val score = graft.ColName.topCol(scoreCol)
    val ord = Window.partitionBy(g)
      .orderBy(score.desc, graft.ColName.topCol(idCol).asc)
    val wOrd = ord.rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(g)
    // __rn shares wOrd's partitioning AND sort, so all three window
    // functions ride the one Exchange + one Sort
    df.withColumn("__before", coalesce(sum(score).over(wOrd), lit(0L)))
      .withColumn("__total", sum(score).over(wAll))
      .withColumn("__rn", row_number().over(ord))
      .filter(col("__rn") === 1 || col("__before") < lit(p) * col("__total"))
      .drop("__before", "__total", "__rn")
  }

  /** Skew-proof [[topPByScore]]: identical kept set, but a giant group
    * never funnels into one window task. The [[mixtureSample]] two-phase
    * cut re-keyed to SCORE order: per-group [min, max] score bounds (one
    * map-combinable agg) split each group into ≤`buckets` contiguous
    * UNIFORM score bands; per-(group, band) sums classify whole bands as
    * fully-kept / dropped with a window over the ≤groups×buckets-row band
    * table; only the ONE crossing band per group runs the exact ordered
    * prefix — partitioned by (group, band), so a task sorts ~1/buckets of
    * a group, not the group. Three map-combinable shuffles + one tiny
    * window instead of one skew-prone corpus window.
    *
    * The kept set is banding-INDEPENDENT: any monotone assignment that
    * co-buckets equal scores yields the same full/drop classification
    * outcome (full bands are provably all-before-budget, dropped bands
    * provably all-at-or-past it, and the crossing band is re-checked
    * row-exactly) — so cheap codegen'd uniform arithmetic replaces
    * quantile edges with no correctness cost. Uniform bands can be
    * UNBALANCED under heavy-tailed scores; that only inflates the one
    * crossing band's sort, never the answer.
    *
    * Same determinism contract as the plain form (integral scores →
    * engine-exact boundary: double partial sums are exact below 2^53);
    * null/negative scores raise loudly (mixtureSample's contract — the
    * plain form documents the same requirement). Caveat: a group whose
    * rows mostly share one score value degenerates to the plain form's
    * one-task sort within that band (constant-score groups have no
    * distributable order anyway). */
  def topPByScoreBucketed(df: DataFrame, groupCol: String, idCol: String,
                          scoreCol: String, p: Double,
                          buckets: Int = 32): DataFrame = {
    require(p > 0.0 && p <= 1.0, s"topPByScoreBucketed: p in (0, 1], got $p")
    require(buckets >= 2 && buckets <= 4096,
      s"topPByScoreBucketed: buckets in [2, 4096], got $buckets")
    val reserved = df.columns.filter(_.startsWith("__tp_"))
    require(reserved.isEmpty,
      s"topPByScoreBucketed: input uses reserved __tp_* names: ${reserved.mkString(",")}")
    import org.apache.spark.sql.expressions.Window
    val g = graft.ColName.topCol(groupCol)
    val id = graft.ColName.topCol(idCol)
    val score = graft.ColName.topCol(scoreCol)
    val checked = when(score.isNotNull && score >= 0, score.cast("double"))
      .otherwise(raise_error(concat(
        lit("topPByScoreBucketed: null/negative score for id "),
        id.cast("string"))))
    // phase 0: per-group total + score bounds (ONE map-combinable agg;
    // the stats table is |groups| rows)
    val stats = df.groupBy(g.alias("__tp_g")).agg(
      sum(checked).alias("__tp_total"),
      min(checked).alias("__tp_min"), max(checked).alias("__tp_max"))
    // uniform band over [min, max], DESC (band 0 = top scores): pure
    // codegen'd arithmetic, a deterministic function of score alone —
    // ties co-band, so the id tie-break order never straddles a band
    val joined = df.join(broadcast(stats), g <=> col("__tp_g"))
    val span = col("__tp_max") - col("__tp_min")
    val band = when(span <= 0.0, lit(0)).otherwise(least(
      floor((col("__tp_max") - score.cast("double")) / span * buckets)
        .cast("int"), lit(buckets - 1))).alias("__tp_b")
    val rows = joined.select(df.columns.map(c => col(graft.ColName.quote(c)))
      :+ col("__tp_total") :+ band :+ checked.alias("__tp_m"): _*)
    // phase 1: per-(group, band) sums; classification windows run over
    // ≤ groups×buckets rows, never corpus rows
    val perBand = rows.groupBy(g, col("__tp_b"))
      .agg(sum(col("__tp_m")).alias("__tp_w"),
        first(col("__tp_total")).alias("__tp_total"))
    val bOrd = Window.partitionBy(g).orderBy(col("__tp_b"))
    val bw = bOrd.rowsBetween(Window.unboundedPreceding, -1)
    val budget = lit(p) * col("__tp_total")
    val classified = perBand
      .withColumn("__tp_cum", coalesce(sum(col("__tp_w")).over(bw), lit(0.0)))
      // the group's FIRST populated band is never dropped: it holds the
      // group's top-ranked row, which survives unconditionally (the
      // all-zero-score guard of the plain form)
      .withColumn("__tp_first", row_number().over(bOrd) === 1)
      .withColumn("__tp_full", col("__tp_cum") + col("__tp_w") < budget)
      .filter(col("__tp_first") || col("__tp_cum") < budget)
      .select(g.alias("__tp_gj"), col("__tp_b").alias("__tp_bj"),
        col("__tp_cum"), col("__tp_first"), col("__tp_full"),
        col("__tp_total"))
    val tagged = rows.drop("__tp_total").join(broadcast(classified),
      g <=> col("__tp_gj") && col("__tp_b") === col("__tp_bj"))
    val kept = tagged.filter(col("__tp_full"))
    // phase 2: exact ordered prefix, crossing band only — partition key
    // includes the band
    val exOrd = Window.partitionBy(g, col("__tp_b"))
      .orderBy(score.desc, id.asc)
    val exact = tagged.filter(!col("__tp_full"))
      .withColumn("__tp_before", col("__tp_cum") + coalesce(
        sum(col("__tp_m")).over(exOrd.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0.0)))
      .withColumn("__tp_rn", row_number().over(exOrd))
      .filter((col("__tp_first") && col("__tp_rn") === 1) ||
        col("__tp_before") < budget)
    kept.unionByName(exact.select(kept.columns.map(c =>
        col(graft.ColName.quote(c))): _*))
      .select(df.columns.map(c => col(graft.ColName.quote(c))).toIndexedSeq: _*)
  }

  /** Recency-decay sampling: keep a row iff
    * `hashUnit(id) < 2^(-ageBuckets)` — each age bucket HALVES the keep
    * probability (fresh rows always survive at age 0), the standard
    * recency bias of a continuously-refreshed training corpus. Base-2
    * rates on purpose: `pow(0.5, k)` is EXACT in double for any integral
    * k, so the keep decision is bit-identical across engines — an
    * `exp(-λ·age)` rate would 1-ulp-drift at libm boundaries and flip
    * boundary rows (the [[hashedLinearScore]] dyadic lesson applied to
    * sampling). `maxAge` caps the exponent so antique rows get rate
    * `2^(-maxAge)` rather than a denormal. Pure per-row expression —
    * zero shuffles, deterministic under retries/repartitioning.
    *
    * `ageBuckets` must be an integral non-negative Column (e.g.
    * `lit(currentBucket) - ts div bucketUs`); a null or negative age
    * raises at runtime (a negative age would yield rate > 1 — silently
    * keep-everything — and a null would silently drop the row). */
  def decaySample(df: DataFrame, idCol: String, ageBuckets: Column,
                  maxAge: Int = 62): DataFrame = {
    require(maxAge >= 0 && maxAge <= 62,
      s"decaySample: maxAge must be in [0, 62], got $maxAge")
    val b = ageBuckets.cast("long")
    val checked = when(b.isNull || b < 0,
        raise_error(concat(lit("decaySample: ageBuckets must be a " +
          "non-negative integral value, got "),
          coalesce(b.cast("string"), lit("null")))).cast("long"))
      .otherwise(least(b, lit(maxAge.toLong)))
    df.filter(hashUnit(graft.ColName.topCol(idCol)) < pow(lit(0.5), checked))
  }

  /** Hashing-trick linear text scorer — the shape of a fastText-style
    * quality classifier's inference pass: each token hashes (md5-derived
    * 60-bit key, engine-portable) into one of `nBuckets` feature buckets,
    * the bucket's weight comes from a deterministic integer formula
    * (stand-in for trained weights — swap in a broadcast weight map for a
    * real model; the Spark-side plumbing is identical), and the document
    * score is the mean token weight, 6-dp. Empty/whitespace docs score
    * null. Output: (`idCol`, n_tokens, score).
    *
    * 100 TB shape: pure per-row projection — tokenization evaluated once
    * (HOF child), a single left-to-right `aggregate` fold, NO shuffle,
    * no vocabulary table, no join. The hashing trick is exactly what
    * makes linear scoring join-free at scale. */
  def hashedLinearScore(df: DataFrame, idCol: String, textCol: String,
                        nBuckets: Int = 1024): DataFrame = {
    require(nBuckets >= 1, s"hashedLinearScore: nBuckets >= 1, got $nBuckets")
    // DYADIC weights (k/128, k in [-64, 64]): every weight and every
    // partial sum is exactly representable in double, so the fold is
    // order-independent and bit-identical across engines at ANY corpus
    // size (a /100 formula drifted 1 ulp on 13 of 50k docs at sf1.0)
    def weight(tok: Column): Column = {
      val bucket = conv(substring(md5(tok), 1, 15), 16, 10).cast("long") % nBuckets
      (((bucket * 37L + 11L) % 129L) - 64L).cast("double") / 128.0
    }
    val toks = TextAnalysis.tokens(TextAnalysis.normalized(
      graft.ColName.topCol(textCol)))
    df.select(graft.ColName.topCol(idCol),
        coalesce(size(toks), lit(0)).cast("long").alias("n_tokens"),
        aggregate(toks, lit(0.0), (acc, t) => acc + weight(t)).alias("__raw"))
      .select(col(idCol), col("n_tokens"),
        // UNROUNDED: the dyadic sum is bit-identical in any engine and
        // the single division preserves that; 6-dp rounding would
        // REINTRODUCE engine skew (dyadic values tie exactly at the
        // x.xxxxxx5 boundary, where round implementations disagree)
        try_divide(col("__raw"), col("n_tokens")).alias("score"))
  }

  /** Deterministic repeat-upsampling — the "epochs per domain" mixing
    * step of a pretraining run: every row is replicated
    * `factors(domain)` times, fractional parts resolved per row by the
    * stable [[hashUnit]] draw (a factor of 2.5 copies every row twice
    * and half the rows — always the SAME rows — a third time). A factor
    * of 0 drops the domain. Output: the input rows with a `copy` index
    * (0-based); downstream shuffles/splits treat copies as ordinary rows.
    *
    * 100 TB shape: pure per-row `sequence`+`explode` fan-out — no
    * shuffle, no join, replication happens map-side where the row
    * already lives. Determinism survives retries/repartitioning because
    * the extra-copy decision is a function of the id, not of RNG state. */
  def repeatUpsample(df: DataFrame, domainCol: String, idCol: String,
                     factors: Map[String, Double],
                     defaultFactor: Double = 1.0): DataFrame = {
    require(factors.values.forall(_ >= 0) && defaultFactor >= 0,
      "repeatUpsample: factors must be >= 0")
    require(!df.columns.contains("copy"),
      "repeatUpsample: input already has a 'copy' column (the output index)")
    val dom = graft.ColName.topCol(domainCol)
    val f = factors.foldLeft(lit(defaultFactor)) { case (acc, (k, v)) =>
      when(dom === k, lit(v)).otherwise(acc)
    }
    val nCopies = (floor(f).cast("long") +
      when(hashUnit(graft.ColName.topCol(idCol)) < (f - floor(f)), 1L)
        .otherwise(0L)).alias("__nc")
    df.withColumn("copy",
      explode(when(nCopies > 0L, sequence(lit(0L), nCopies - 1L))))
  }
}
