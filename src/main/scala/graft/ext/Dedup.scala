package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.SimHash

/**
 * Deduplication operators for training-data pipelines: exact,
 * MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
 *
 * 100 TB design notes:
 *  - Exact dedup is one hash shuffle on the fingerprint — the classic
 *    map-side-combinable groupBy; no row content crosses the wire beyond
 *    (fingerprint, id).
 *  - MinHash signatures are computed per-row with HOFs (no explode of
 *    shingles, no UDFs); only the LSH BAND keys are exploded — bands ×
 *    corpus rows, each a tiny (bandIdx, bandHash, id) tuple. Candidate
 *    generation is a self-equi-join on the band key: Spark shuffles both
 *    sides by (band, hash), so each bucket meets in one partition. Skewed
 *    buckets (boilerplate text) are capped by `maxBucketSize` exactly like
 *    production LSH pipelines drop degenerate buckets.
 *  - Verification (exact Jaccard / cosine) runs only on candidate pairs.
 */
object Dedup {

  /** Per-round progress of the distributed connected-components loop. */
  private lazy val ccLog = org.slf4j.LoggerFactory.getLogger(getClass.getName.stripSuffix("$"))

  // ------------------------------------------------------------- exact

  /** Exact dedup: keep one row (minimal `idCol`) per normalized-text
    * fingerprint. Deterministic winner → oracle-checkable. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    val winners = df.select(fp.alias("__fp"), col(idCol))
      .groupBy(col("__fp")).agg(min(col(idCol)).alias(idCol))
      .select(col(idCol))
    // semi-join winners back to rows: broadcast-friendly when dups are rare
    df.join(winners, Seq(idCol), "left_semi")
  }

  // --------------------------------------------------------- url dedup

  /** Canonical URL form for dedup identity: lowercase + trim, scheme
    * stripped, one leading `www.` stripped, fragment stripped, trailing
    * slashes of the PATH stripped. Query strings and ports are KEPT —
    * two URLs that differ there are different resources — which is why
    * the slash strip targets only the path portion: a slash ending a
    * kept query value (`a.com?next=/`) is query content, not a path
    * separator, and survives. Pure codegen'd regexp ops — no UDF in the
    * hot path. */
  def normalizeUrl(u: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(lower(trim(u)), "^[a-z][a-z0-9+.-]*://", ""),
          "#.*$", ""),
        "^www\\.", ""),
      "^([^?]*?)/+([?]|$)", "$1$2")

  /** Registrable domain of a URL, approximated as the last two dot-labels
    * of the (normalized, port-stripped) host. A public-suffix list is
    * deliberately not bundled, so `foo.co.uk` collapses to `co.uk` — the
    * standard closed-environment simplification; swap in a PSL lookup via
    * a broadcast map join if exactness matters. A dotless host returns
    * itself. */
  def registrableDomain(u: Column): Column = {
    val host = regexp_replace(
      regexp_extract(normalizeUrl(u), "^([^/?]+)", 1), ":[0-9]+$", "")
    val dom = regexp_extract(host, "([^.]+\\.[^.]+)$", 1)
    when(dom === "", host).otherwise(dom)
  }

  /** URL dedup: keep one row (minimal `idCol`) per [[normalizeUrl]]
    * identity — the standard pretraining-crawl dedup signal alongside
    * text fingerprints. Same shape (and scale behavior) as [[exact]]:
    * one (norm_url → min id) aggregation with map-side combine, then a
    * semi-join of winners back to rows. */
  def urlDedup(df: DataFrame, urlCol: String, idCol: String): DataFrame = {
    val winners = df.select(normalizeUrl(col(urlCol)).alias("__nu"), col(idCol))
      .groupBy(col("__nu")).agg(min(col(idCol)).alias(idCol))
      .select(col(idCol))
    df.join(winners, Seq(idCol), "left_semi")
  }

  /** Per-registrable-domain crawl profile: page count, distinct
    * normalized URLs, and the surviving (minimal) id — the groupBy feeding
    * domain-level policies (caps, blocklists, sampling weights). ONE
    * shuffle on the domain key; count_distinct of the normalized URL is
    * partial-aggregated per map task. */
  def domainStats(df: DataFrame, urlCol: String, idCol: String): DataFrame =
    df.select(registrableDomain(col(urlCol)).alias("domain"),
        normalizeUrl(col(urlCol)).alias("__nu"), col(idCol))
      .groupBy(col("domain"))
      .agg(count(lit(1)).alias("n_pages"),
        countDistinct(col("__nu")).alias("n_urls"),
        min(col(idCol)).alias("min_" + idCol))

  // ---------------------------------------------------------- shingles

  /** Word n-gram shingles (distinct), from normalized text.
    *
    * Built with iterated `zip_with` so `toks` is always a HOF *child*
    * (evaluated once per row) and never a free variable inside a lambda —
    * a `transform(sequence(...), i => slice(toks, ...))` formulation
    * re-evaluates the whole tokenization once PER ELEMENT (O(tokens²)
    * regex work; measured 10-30x slowdown on real documents). */
  def wordShingles(text: Column, n: Int): Column =
    array_distinct(TextAnalysis.ngramsAll(text, n))

  /** Corpus-level duplicated n-grams: every n-token span that appears in
    * at least `minDocs` DISTINCT documents, with its document frequency —
    * the diagnostic behind exact-substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): the
    * high-frequency spans are the boilerplate (headers, licenses,
    * navigation chrome) a pretraining corpus wants cut.
    *
    * Shape: per-doc DISTINCT shingles ([[wordShingles]] — the zip_with
    * form, tokenization evaluated once per row) explode map-side into
    * ONE partial-aggregatable groupBy — identical exchange profile to
    * the MinHash shingle pass, so what scales there scales here. The
    * `minDocs` filter lands after the partial agg; a boilerplate span in
    * a billion docs crosses the wire as one partial count per map
    * partition, never a row per occurrence. Output: (ngram, n_docs).
    */
  def crossDocNgrams(df: DataFrame, textCol: String,
                     n: Int, minDocs: Int = 2): DataFrame = {
    require(n >= 1, s"crossDocNgrams: n must be >= 1, got $n")
    require(minDocs >= 1, s"crossDocNgrams: minDocs must be >= 1, got $minDocs")
    df.select(explode(wordShingles(col(textCol), n)).alias("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).alias("n_docs"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Exact substring dedup at fixed segment granularity — the executable
    * form of the Lee et al. 2022 exact-substring pass (where
    * [[crossDocNgrams]] only diagnoses): each document is cut into
    * consecutive `segmentWords`-word segments, every segment that already
    * occurred earlier in the corpus (first occurrence = lowest
    * (`idCol`, segment index)) is removed CORPUS-WIDE, and the surviving
    * segments are re-joined in original order. A document whose every
    * segment is boilerplate drops out entirely (the C4/RefinedWeb
    * convention); a document shorter than one segment is its own single
    * segment. Null text drops like any generator input.
    *
    * Output: (`idCol`, n_segments, text_dedup).
    *
    * 100 TB shape — TWO shuffles, ZERO joins:
    *  1. segments explode map-side and shuffle once on the md5
    *     fingerprint; the winner and its text ride OUT of that
    *     aggregation as one `min(struct(id, idx, seg))` per fingerprint,
    *     so the corpus-wide duplicate mass collapses to one row per
    *     DISTINCT segment before anything else moves;
    *  2. winners shuffle once on the document id for in-order
    *     reassembly. No winner-to-corpus join is needed because the
    *     aggregation already carries the payload. */
  def segmentDedup(df: DataFrame, textCol: String, idCol: String,
                   segmentWords: Int = 10): DataFrame = {
    require(segmentWords >= 1,
      s"segmentDedup: segmentWords must be >= 1, got $segmentWords")
    val w = segmentWords
    // per-row segment array; the tokenization is let-bound so the lambda
    // reads a variable, never re-running the regex pipeline per element
    val segs = graft.ColExprs.once(
        TextAnalysis.tokens(TextAnalysis.normalized(col(textCol)))) { t =>
      val nseg = greatest(floor((size(t) + lit(w - 1)) / lit(w)), lit(1))
        .cast("int")
      transform(sequence(lit(0), nseg - 1),
        i => array_join(slice(t, i * w + 1, lit(w)), " "))
    }
    // null text -> null segment array -> the generator drops the row
    // (greatest() would otherwise skip the null size and emit one [null]
    // segment for null documents)
    val exploded = df
      .select(col(idCol),
        posexplode(when(col(textCol).isNotNull, segs)).as(Seq("__idx", "__seg")))
    val winners = exploded
      .groupBy(md5(col("__seg")).alias("__fp"))
      .agg(min(struct(col(idCol).alias("id"), col("__idx").alias("idx"),
        col("__seg").alias("seg"))).alias("__w"))
    winners
      .groupBy(col("__w.id").alias(idCol))
      .agg(sort_array(collect_list(struct(col("__w.idx").alias("idx"),
        col("__w.seg").alias("seg")))).alias("__ss"))
      .select(col(idCol),
        size(col("__ss")).cast("long").alias("n_segments"),
        array_join(transform(col("__ss"), s => s.getField("seg")), " ")
          .alias("text_dedup"))
  }

  /** Corpus-overlap (contamination) estimate between two corpora as
    * exact distinct word-n-gram set statistics: |A|, |B|, |A ∩ B| and
    * the Jaccard index — the standard train/eval leakage screen run at
    * corpus granularity (per-document screening is [[crossDocNgrams]] /
    * `Curation.contamination`).
    *
    * 100 TB shape: per-doc DISTINCT shingles explode map-side with a
    * 0/1 side flag; ONE shuffle on the gram key (max(side) partials
    * collapse each map task's duplicate mass first — a gram in a billion
    * docs crosses the wire once per map partition), the same-keyed
    * second aggregation folds to a single global row. No join, no
    * distinct-on-string materialization beyond the gram exchange. */
  def corpusOverlap(dfA: DataFrame, dfB: DataFrame, textCol: String,
                    n: Int = 3): DataFrame = {
    require(n >= 1, s"corpusOverlap: n must be >= 1, got $n")
    def side(df: DataFrame, a: Int, b: Int) =
      df.select(explode(wordShingles(col(textCol), n)).alias("__g"),
        lit(a).alias("__a"), lit(b).alias("__b"))
    side(dfA, 1, 0).unionAll(side(dfB, 0, 1))
      .groupBy(col("__g"))
      .agg(max(col("__a")).alias("__ina"), max(col("__b")).alias("__inb"))
      .agg(sum(col("__ina")).alias("n_a"), sum(col("__inb")).alias("n_b"),
        sum(col("__ina") * col("__inb")).alias("n_common"))
      .select(col("n_a"), col("n_b"), col("n_common"),
        round(col("n_common") /
          (col("n_a") + col("n_b") - col("n_common")), 6).alias("jaccard"))
  }

  /** All-pairs n-gram CONTAINMENT above a threshold — the asymmetric
    * companion to [[ngramJaccardPairs]]: containment(a in b) =
    * |grams(a) ∩ grams(b)| / |grams(a)|. Jaccard misses quote-inclusion
    * (a tweet embedded in an article scores low symmetric similarity but
    * containment ≈ 1); this is the screen for "document A is mostly
    * inside document B". Emits one row per ORDERED pair direction that
    * clears the threshold. Exact and quadratic — the correctness
    * baseline; at scale block with [[minhashCandidates]] first and
    * verify candidates with [[containment]]. */
  def containment(a: Column, b: Column): Column = graft.ColExprs.once(
      size(array_intersect(a, b)).cast("double"))(inter =>
    when(size(a) === 0, 0.0).otherwise(inter / size(a)))

  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       n: Int, threshold: Double): DataFrame = {
    require(n >= 1, s"containmentPairs: n must be >= 1, got $n")
    val withSh = df.select(col(idCol), wordShingles(col(textCol), n).alias("__sh"))
    val l = withSh.select(col(idCol).alias("id_a"), col("__sh").alias("sh_a"))
    val r = withSh.select(col(idCol).alias("id_b"), col("__sh").alias("sh_b"))
    // UNROUNDED on purpose: one division of identical ints is already
    // bit-identical cross-engine, while 6-dp rounding can tie exactly at
    // .5 for dyadic ratios (the hashedLinearScore lesson)
    l.join(r, col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        containment(col("sh_a"), col("sh_b")).alias("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Exact Jaccard similarity of two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(a) + size(b) - size(array_intersect(a, b))
    when(union === 0, 0.0).otherwise(inter / union)
  }

  /** All-pairs n-gram Jaccard above a threshold (exact, quadratic — the
    * correctness baseline; use [[minhashNearDuplicates]] at scale). */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int, threshold: Double): DataFrame = {
    val withSh = df.select(col(idCol), wordShingles(col(textCol), n).alias("__sh"))
    val l = withSh.select(col(idCol).alias("id_a"), col("__sh").alias("sh_a"))
    val r = withSh.select(col(idCol).alias("id_b"), col("__sh").alias("sh_b"))
    l.join(r, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(graft.functions.JaccardSim.jaccard(col("sh_a"), col("sh_b")), 6)
          .alias("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ----------------------------------------------------------- minhash

  /** HOF MinHash signature (reference model): per-seed minimum of seeded
    * xxhash64 over the shingles — ONE `aggregate` pass with an
    * element-wise running min, so the shingle array is evaluated once.
    * Costs k string hashes per shingle; the production path
    * ([[candidatesFromShingles]]) uses the fused one-hash
    * [[graft.functions.MinHashSignature]] expression instead (k× less
    * hashing, single codegen'd loop). Kept as the readable baseline. */
  def minhashSignature(shingles: Column, numHashes: Int): Column = {
    val seeds = sequence(lit(0), lit(numHashes - 1))
    aggregate(shingles,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, s) => zip_with(acc, seeds, (m, seed) => least(m, xxhash64(s, seed))))
  }

  /** LSH band keys: signature sliced into `bands` rows-per-band groups,
    * each hashed to one bucket key. */
  def bandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(concat_ws(",",
        transform(slice(signature, b * rowsPerBand + 1, lit(rowsPerBand)),
          x => x.cast("string")))))

  /** Tokenize+shingle into a materialization fence. The repartition is a
    * deliberate barrier, not for distribution: when every consumer — the
    * signature derivation AND both sides of the verify join — plans the
    * same subtree under it, ReuseExchange shares one id-hash exchange and
    * the regex tokenize/shingle pipeline runs once over the corpus
    * instead of once per consumer. That holds over an uncached input
    * (measured on an RDD-backed frame); over a `.cache()`d input the AQE
    * final plan of [[minhashNearDuplicates]] reuses nothing and holds four
    * `REPARTITION_BY_COL` exchanges, each tokenizing again. Its output
    * partitioning (hash on id) also satisfies the verify join's
    * distribution, so the join adds no exchange on the shingle side. */
  private[ext] def shingleFrame(df: DataFrame, textCol: String, idCol: String,
                                shingleN: Int): DataFrame =
    df.select(col(idCol), wordShingles(col(textCol), shingleN).alias("__sh"))
      .repartition(col(idCol))

  /** Drop rows of over-cap (band, bucket) groups WITHOUT a window
    * function. A `count(*) over Window.partitionBy(bucket)` guard pays
    * the very skew it guards against: a window without a frame needs
    * every row of a partition key in ONE task, so at 100 TB the
    * pathological bucket (billions of boilerplate docs sharing a band
    * hash) materializes in a single task *before* being dropped —
    * straggler/spill risk exactly on the input the cap exists for.
    * Two-pass instead: (1) `groupBy(keys).count` — map-side combinable,
    * a hot bucket contributes one partial count per input partition,
    * never its rows; (2) filter to the over-cap bucket list — tiny by
    * construction (≤ rows/cap groups, and degenerate buckets are rare
    * in real corpora); (3) broadcast LEFT ANTI join back onto the
    * banded rows — no shuffle of the banded side, so hot-bucket rows
    * are filtered wherever they already sit. Same semantics as the
    * window guard, no single-task materialization.
    *
    * Measured local trade (sf0.1 + 20k-doc clique, local[32]): the
    * two-pass guard costs ~1.6× the window form on the candidate stage
    * (3.0 s vs 1.9 s) because the banded frame is evaluated one extra
    * time for the count pass — a 640k-row hot bucket is cheap for one
    * local task. The trade is deliberate: the window's cost grows with
    * the hot bucket (billions of boilerplate rows through ONE task at
    * 100 TB — straggler + spill), the two-pass guard's does not.
    *
    * The hot-group list itself is BOUNDED before broadcasting: it is
    * collected with `limit(maxBroadcastGroups+1)` — a degenerate corpus
    * with millions of just-over-cap groups can put at most
    * maxBroadcastGroups+1 tiny key rows on the driver. Within the bound
    * (the common case: degenerate buckets are rare) the collected list
    * becomes a broadcast LOCAL relation, so the anti-join re-evaluates
    * nothing; over the bound the guard falls back to a plain shuffled
    * left_anti join — an unhinted `broadcast(hot)` there would bypass
    * autoBroadcastJoinThreshold and OOM the driver on exactly the
    * degenerate-input class this guard exists for. */
  private[ext] def dropHotBuckets(rows: DataFrame, keys: Seq[String],
                                  cap: Int,
                                  maxBroadcastGroups: Int = 100000): DataFrame =
    if (cap == Int.MaxValue) rows
    else {
      val hot = rows.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).alias("__bsize"))
        .filter(col("__bsize") > cap)
        .select(keys.map(col): _*)
      val probe = hot.limit(maxBroadcastGroups + 1).collect()
      if (probe.length <= maxBroadcastGroups) {
        val sp = rows.sparkSession
        val local = sp.createDataFrame(
          java.util.Arrays.asList(probe: _*), hot.schema)
        rows.join(broadcast(local), keys, "left_anti")
      } else rows.join(hot, keys, "left_anti")
    }

  /** Candidate pairs from MinHash LSH: docs sharing ≥1 band bucket.
    * `maxBucketSize` drops degenerate buckets (boilerplate/empty docs) —
    * the standard skew guard; at 100 TB a single hot bucket would
    * otherwise produce O(n²) pairs in one task. */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
                        shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
                        maxBucketSize: Int = 1000): DataFrame =
    candidatesFromShingles(shingleFrame(df, textCol, idCol, shingleN),
      idCol, numHashes, bands, maxBucketSize)

  private[ext] def candidatesFromShingles(sh: DataFrame, idCol: String,
                                          numHashes: Int, bands: Int,
                                          maxBucketSize: Int): DataFrame = {
    require(bands >= 1 && numHashes >= bands,
      s"need numHashes >= bands >= 1, got numHashes=$numHashes bands=$bands " +
        "(rowsPerBand = numHashes/bands would be 0: every band key would " +
        "collapse to the hash of an empty slice, all docs would share one " +
        "bucket, and the maxBucketSize prune would then emit NO candidates)")
    val rowsPerBand = numHashes / bands
    val sig = sh.select(col(idCol),
      graft.functions.MinHashSignature.signature(col("__sh"), numHashes)
        .alias("__sig"))
    val banded = sig.select(col(idCol),
        posexplode(bandKeys(col("__sig"), bands, rowsPerBand)).as(Seq("__band", "__bucket")))
    val pruned = dropHotBuckets(banded, Seq("__band", "__bucket"), maxBucketSize)
    val l = pruned.select(col("__band"), col("__bucket"), col(idCol).alias("id_a"))
    val r = pruned.select(col("__band"), col("__bucket"), col(idCol).alias("id_b"))
    l.join(r, Seq("__band", "__bucket")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** MinHash near-duplicates: LSH candidates verified with exact Jaccard.
    * The verify join re-attaches shingles only for candidate ids. Over an
    * uncached input not already partitioned on the id, it reads them from
    * the SAME shingle exchange the signatures were built from
    * ([[shingleFrame]]), so tokenize/shingle runs once. Over a cached
    * input, or one already hash-partitioned on the id (the output of a
    * join on it), the planner shares nothing and the plan tokenizes four
    * times (ROADMAP item 12). */
  def minhashNearDuplicates(df: DataFrame, textCol: String, idCol: String,
                            threshold: Double, shingleN: Int = 3,
                            numHashes: Int = 32, bands: Int = 8,
                            maxBucketSize: Int = 1000): DataFrame = {
    val sh = shingleFrame(df, textCol, idCol, shingleN)
    val cands = candidatesFromShingles(sh, idCol, numHashes, bands, maxBucketSize)
    cands
      .join(sh.select(col(idCol).alias("id_a"), col("__sh").alias("sh_a")), Seq("id_a"))
      .join(sh.select(col(idCol).alias("id_b"), col("__sh").alias("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(graft.functions.JaccardSim.jaccard(col("sh_a"), col("sh_b")), 6)
          .alias("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ------------------------------------------------------ dup clustering

  /** Connected components over an undirected pair list by iterative
    * MIN-STAR CONTRACTION (round 13; Kiveris et al., "Connected
    * Components in MapReduce and Beyond"): each round every node merges
    * into min(self, neighbors) — with one pointer-halving pass on the
    * merge map — and the EDGE SET itself is rewritten through the merge
    * map (self-loops dropped, dedup). Every non-isolated node merges with
    * at least one neighbor, so a component's node count at least HALVES
    * per round: convergence is O(log n) rounds regardless of id
    * placement, and the contracted edge frame shrinks geometrically, so
    * total work across the loop is O(|E|). (The previous label-only
    * pointer-halving loop was O(log d) ONLY when ids aligned with
    * topology — measured 75 rounds on a 200k-edge random graph; see the
    * contraction comment in the body and the scale_cc_chain bench pair.)
    * Every node's label converges to the MINIMUM id in its component —
    * the merge map is min-monotone, so the surviving root is exactly the
    * component min. Each round is map-side-combinable shuffles with
    * pinned lineage cuts ([[Checkpoints]]; only the returned labels'
    * blocks outlive the call, on every path). Throws if
    * `maxIter` rounds don't converge — a silently partial clustering
    * would under-merge and leak duplicates.
    *
    * Pair graphs of at most `smallGraphEdges` long-id edges skip the loop
    * for a driver union-find (same fixed point, 2 jobs instead of
    * 4 x rounds — see the fast-path comment in the body); set it to 0 to
    * force the distributed loop. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25,
                          smallGraphEdges: Int = 100000): DataFrame = {
    // SMALL-GRAPH FAST PATH: a dedup pair graph is usually tiny relative
    // to the corpus (it holds only the near-duplicate matches), and the
    // iterative join loop pays ~4 scheduled jobs PER ROUND — dominated by
    // the scheduling floor when the graph is a few thousand edges. The
    // probe is ONE collect-with-limit job over the persisted edge frame:
    // `limit(smallGraphEdges+1)` short-circuits an over-bound graph after
    // smallGraphEdges+1 rows, so an unexpectedly large (or
    // non-deterministically growing) pair source can NEVER materialize on
    // the driver — there is no count()-then-collect() window to grow
    // through, and the driver holds at most smallGraphEdges+1 long-id
    // edges (16 B each — 100k edges = 1.6 MB). Within the bound the
    // driver runs union-find: 1 probe job + 1 result job instead of
    // 4 x rounds. Above the bound — the 100 TB regime — the O(log n)
    // contraction loop below runs unchanged, seeding its edge frame
    // from the STILL-PERSISTED probe frame so the partitions the probe
    // already computed are served from cache, not re-derived from the
    // (expensive at scale) candidate-pair lineage; the frame unpersists
    // right after the seed checkpoints. Long-id graphs only; other id
    // types always take the distributed path. Pass smallGraphEdges = 0
    // to force the distributed loop.
    val isLongIds = {
      val f = pairs.schema
      f(aCol).dataType == org.apache.spark.sql.types.LongType &&
        f(bCol).dataType == org.apache.spark.sql.types.LongType
    }
    val edgeSrc = pairs.select(col(aCol).alias("src"), col(bCol).alias("dst"))
    if (smallGraphEdges <= 0 || !isLongIds)
      return distributedComponents(edgeSrc, None, maxIter)._1
    val edgesDf = edgeSrc.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the loop drops the probe cache once its seeds are pinned; this
    // covers every other path, a failing probe included
    try {
      val probe = edgesDf.limit(smallGraphEdges + 1).collect()
      if (probe.length <= smallGraphEdges)
        driverComponents(pairs.sparkSession, probe.map(r => (r.getLong(0), r.getLong(1))))
      else // big graph: the loop's sym build reuses the cache
        distributedComponents(edgesDf, Some(edgesDf), maxIter)._1
    } finally edgesDf.unpersist(false)
  }

  /** The distributed contraction loop behind [[connectedComponents]],
    * exposed with its ROUND COUNT (spec-locked in ExtSpec, printed by the
    * scale_cc_chain bench entry). The propagation-only counter-example it
    * is measured against lives in [[graft.CounterExamples]]. */
  private[graft] def connectedComponentsCounted(pairs: DataFrame,
      aCol: String, bCol: String, maxIter: Int): (DataFrame, Int) =
    distributedComponents(
      pairs.select(col(aCol).alias("src"), col(bCol).alias("dst")),
      None, maxIter)

  private def distributedComponents(edgeSrc: DataFrame, probedEdges: Option[DataFrame],
      maxIter: Int): (DataFrame, Int) = Checkpoints.scoped(edgeSrc.sparkSession) { cp =>
    // Every generation is a pin; a superseded one is released INSIDE the
    // loop once its successor has materialized, so only the latest
    // labels, edges and merge map are alive — not every generation until
    // GC. `eager = false` defers materialization to the next action over
    // the frame, so materialization and an aggregation share ONE job
    // (round 15: on tiny/contracted frames the loop is scheduling-bound).
    // Star contraction (round 13) rewrites the EDGE SET through the merge
    // map each round, not just the labels: label-only pointer halving
    // degraded to O(diameter) on random-id topologies (75 rounds on a
    // 200k-edge graph). Late-round skew (many labels on few roots)
    // resolves via AQE: the merge map is tiny by then and broadcasts.
    // ids BEFORE dropping self-loops: a pure self-loop id still labels
    // itself (compat with the propagation loop's sym-derived id set)
    var labels = cp.pin(
      edgeSrc.select(col("src").alias("id"))
        .union(edgeSrc.select(col("dst").alias("id"))).distinct()
        .select(col("id"), col("id").alias("comp")))
    // the edge seed's materializing count doubles as the edges-exhausted
    // probe (Pin.materialize; round 16, guide §1.2 — don't compute
    // things twice)
    var e = cp.pin(edgeSrc.filter(col("src") =!= col("dst")).distinct(),
      eager = false)
    val eRows = e.materialize()
    probedEdges.foreach(_.unpersist(false)) // both seeds pinned
    var i = 0
    var empty = eRows == 0L
    while (!empty && i < maxIter) {
      val symE = e.df.union(e.df.select(col("dst").alias("src"), col("src").alias("dst")))
      val m0 = symE.groupBy(col("src").alias("a"))
        .agg(min(col("dst")).alias("__mn"))
        .select(col("a"), least(col("a"), col("__mn")).alias("m"))
      // FULL path compression of the merge map (m ← m[m] until fixed
      // point): min(self, neighbors) on an id-ordered path produces one
      // long pointer CHAIN (m(k) = k-1), and a single halving pass only
      // shifts it — measured 16 outer rounds on a 33-node chain. Each
      // compression step is a self-join over the (shrinking) merge map
      // only, and the step count is log₂ of the longest pointer chain;
      // afterwards every surviving comp-node is a LOCAL MIN of the
      // contracted graph, so outer rounds stay logarithmic on every
      // topology. m is min-monotone (m(m(a)) ≤ m(a)), so the fixed
      // point is exactly "no row's m changed this step" — counted by a
      // `__chg` flag that rides the pinned frame, summed by the SAME
      // action that materializes the lazy pin.
      //
      // INNER-LOOP JOB PROFILE (what the Spark UI shows): each
      // compression step is ONE job — a lazy pin of the merge map
      // materialized by the changed-count aggregation over it. The
      // per-step scheduling floor is dwarfed by edge work at scale but
      // dominates tiny graphs, which is why graphs under
      // `smallGraphEdges` take the driver union-find instead. Each outer
      // round logs its step count below.
      var cl = cp.pin(m0)
      var compressed = false
      var steps = 0
      while (!compressed) {
        steps += 1
        val nxt = cp.pin(cl.df.alias("x")
          .join(cl.df.select(col("a").alias("a2"), col("m").alias("m2")).alias("y"),
            col("x.m") === col("y.a2"), "left")
          .select(col("x.a").alias("a"), coalesce(col("m2"), col("x.m")).alias("m"),
            (col("m2").isNotNull && col("m2") =!= col("x.m"))
              .cast("long").alias("__chg")),
          eager = false)
        // one action: materializes the pin AND counts changes
        val changed = Option(nxt.df.agg(sum(col("__chg"))).collect()(0).get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        compressed = changed == 0L
        cp.release(cl) // nxt fully materialized by the agg above
        cl = nxt.map(_.select(col("a"), col("m")))
      }
      // relabel the original-id labels through the merge map (isolated
      // = already-final roots pass through the coalesce)
      val newLabels = cp.pin(labels.df.alias("l")
        .join(cl.df.alias("c"), col("l.comp") === col("c.a"), "left")
        .select(col("l.id").alias("id"),
          coalesce(col("c.m"), col("l.comp")).alias("comp")),
        eager = false)
      // contract the comp graph through the same map
      val newE = cp.pin(e.df.alias("ed")
        .join(cl.df.select(col("a").alias("sa"), col("m").alias("sm")),
          col("ed.src") === col("sa"), "left")
        .join(cl.df.select(col("a").alias("da"), col("m").alias("dm")),
          col("ed.dst") === col("da"), "left")
        .select(coalesce(col("sm"), col("ed.src")).alias("src"),
          coalesce(col("dm"), col("ed.dst")).alias("dst"))
        .filter(col("src") =!= col("dst")).distinct(),
        eager = false)
      // The two end-of-round materializations are INDEPENDENT (relabel
      // reads labels+cl, contract reads e+cl), so they run OVERLAPPED
      // (round 16): pinned lazily on this thread above, materialized from
      // a two-thread pool — wall ≈ max of the two jobs, not their sum.
      // Overlap.inParallel awaits both before the releases below
      // (materialize-before-release). The contract side's count doubles
      // as the edges-exhausted probe.
      val counts = graft.Overlap.inParallel(Seq(
        () => newLabels.materialize(), () => newE.materialize()))
      cp.release(cl)
      cp.release(labels)
      cp.release(e)
      labels = newLabels
      e = newE
      i += 1
      empty = counts(1) == 0L
      // one line per outer round: convergence is watchable on a
      // long-running graph at no extra job (edges: 0 = converged; 1
      // stands for "some" when the pin spans several RDDs)
      ccLog.info(s"op=connectedComponents round=$i steps=$steps " +
        s"edges=${counts(1)} converged=$empty")
    }
    if (!empty) throw new IllegalStateException(
      s"connectedComponents did not converge after $maxIter rounds")
    (cp.keep(labels), i)
  }

  /** Driver-side union-find with path compression + union by minimum:
    * every node's root becomes the minimum id of its component — the
    * same fixed point as the distributed min-label loop (equivalence
    * spec-tested on random graphs against the forced-distributed path). */
  private def driverComponents(sp: org.apache.spark.sql.SparkSession,
                               edges: Array[(Long, Long)]): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // union by min: smaller root wins, matching min-label
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val rows = parent.keys.toSeq.sorted.map(id => (id, find(id)))
    import sp.implicits._
    rows.toDF("id", "comp")
  }

  /** Near-duplicate DEDUP (not just pair detection): MinHash pairs →
    * connected components → keep the minimum id per duplicate cluster,
    * plus every document that matched nothing. This is the operator a
    * training-data pipeline actually runs — the output is the surviving
    * corpus id set. */
  def nearDupSurvivors(df: DataFrame, textCol: String, idCol: String,
                       threshold: Double, shingleN: Int = 3,
                       numHashes: Int = 32, bands: Int = 8,
                       maxBucketSize: Int = 1000): DataFrame = {
    val pairs = minhashNearDuplicates(df, textCol, idCol, threshold, shingleN,
      numHashes, bands, maxBucketSize)
    val comps = connectedComponents(pairs, "id_a", "id_b")
    // on convergence comp == min id of the component, so survivors within
    // dup clusters are exactly the fixed points
    val keepFromClusters = comps.filter(col("id") === col("comp"))
      .select(col("id").alias(idCol))
    val singletons = df.select(col(idCol))
      .join(comps.select(col("id").alias(idCol)), Seq(idCol), "left_anti")
    singletons.union(keepFromClusters)
  }

  /** Near-duplicate CLUSTER LABELS — the grouping [[nearDupSurvivors]]
    * collapses: every document labeled with the minimal id of its
    * near-dup cluster (its own id when it has no near-duplicates). The
    * label view is what survivor-policy experiments, cluster-size
    * audits, and "keep the longest of each cluster"-style custom
    * winner rules consume; `filter(id === cluster)` recovers exactly
    * the survivor set.
    *
    * Same machinery and scale shape as nearDupSurvivors (banded LSH
    * candidates → exact-Jaccard verification → O(log d) path-halving
    * components); the only addition is a left join of the id spine onto
    * the component table, broadcast-friendly because the component
    * table holds only docs that HAVE a near-duplicate. */
  def nearDupClusters(df: DataFrame, textCol: String, idCol: String,
                      threshold: Double, shingleN: Int = 3,
                      numHashes: Int = 32, bands: Int = 8,
                      maxBucketSize: Int = 1000): DataFrame = {
    val pairs = minhashNearDuplicates(df, textCol, idCol, threshold, shingleN,
      numHashes, bands, maxBucketSize)
    val comps = connectedComponents(pairs, "id_a", "id_b")
      .select(col("id").alias(idCol), col("comp"))
    df.select(col(idCol))
      .join(comps, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("comp"), col(idCol)).alias("cluster"))
  }

  /** Quality-aware near-dup dedup: within each near-dup cluster keep the
    * document that MAXIMIZES `score` (ties broken by minimum id), rather
    * than [[nearDupSurvivors]]'s fixed min-id winner. This is the
    * production survivor policy — when a crawl holds five near-copies of
    * a page, a pipeline keeps the longest / highest-quality one, not the
    * one that happened to get the smallest id (reference analogue: the
    * keep-policy column of benchmarks/strategies.py's dedup table exposes
    * only first/min; the quality winner is the extension pipelines ask
    * for first).
    *
    * `score` is any per-row expression over `df`'s columns (length,
    * [[graft.ext.Curation.hashedLinearScore]], a model score column…).
    *
    * Scale shape: the clustering is [[nearDupClusters]] verbatim (banded
    * LSH → exact-Jaccard verify → O(log d) components). The winner
    * selection adds one equi-join of the (id, cluster) spine onto the
    * scored spine plus two MAP-COMBINABLE aggregations on the cluster
    * key (max-score, then min-id among the max-score rows) — no window
    * over the cluster, so a degenerate giant cluster (the boilerplate
    * page duplicated a billion times) still aggregates with partial
    * combine instead of funneling into one task.
    *
    * Output: one `idCol` row per survivor (same contract as
    * [[nearDupSurvivors]]; with `score` constant the result is identical
    * to it).
    *
    * Null-score semantics: a row whose score is NULL never beats a
    * non-null competitor (max ignores nulls, and `null <=> non-null` is
    * false). When EVERY member of a cluster has a NULL score, the
    * cluster's max is NULL and the null-safe match makes all members
    * candidates, so the min-id fallback elects a survivor — the cluster
    * is never silently dropped.
    */
  def bestSurvivors(df: DataFrame, textCol: String, idCol: String,
                    score: Column, threshold: Double, shingleN: Int = 3,
                    numHashes: Int = 32, bands: Int = 8,
                    maxBucketSize: Int = 1000): DataFrame = {
    val scored = df.select(col(idCol), score.alias("__bs_score"))
    val labeled = nearDupClusters(df, textCol, idCol, threshold, shingleN,
        numHashes, bands, maxBucketSize)
      .join(scored, Seq(idCol))
    val best = labeled.groupBy(col("cluster"))
      .agg(max(col("__bs_score")).alias("__bs_best"))
    labeled.join(best, Seq("cluster"))
      .filter(col("__bs_score") <=> col("__bs_best"))
      .groupBy(col("cluster"))
      .agg(min(graft.ColName.topCol(idCol)).alias(idCol))
      .select(graft.ColName.topCol(idCol))
  }

  /**
   * Incremental near-dup dedup: which docs of a NEW `delta` batch
   * survive against an already-deduped `corpus` — the daily-crawl shape,
   * where re-running all-pairs dedup over the whole corpus for every
   * arriving batch is the cost being avoided.
   *
   * Exactly equivalent to `nearDupSurvivors(corpus ∪ delta) ∩ delta`
   * under the stated precondition (corpus deduped at the same threshold,
   * every corpus id < every delta id — validated with one cheap agg),
   * but does strictly less work: corpus–corpus candidate pairs are
   * NEVER generated or verified (the corpus being deduped makes them
   * irrelevant to which delta docs survive: a mixed component always
   * keeps its corpus docs, and corpus-side edges cannot change which
   * delta doc is the component's minimum delta id... they CAN merge two
   * delta sub-components through a corpus doc — which is why
   * corpus–delta pairs ARE kept and fed to the same connected-components
   * clustering). Scale math: per batch, band-bucket join cost is
   * O(|delta| × bucket occupancy), not O(|corpus|²).
   *
   * Output: the delta rows' ids to APPEND (survivors). A delta doc
   * survives iff its component (over verified corpus–delta and
   * delta–delta pairs) contains no corpus doc and it is the minimum
   * delta id in it; pairless delta docs survive as singletons.
   */
  def incrementalNearDup(corpus: DataFrame, delta: DataFrame,
                         textCol: String, idCol: String, threshold: Double,
                         shingleN: Int = 3, numHashes: Int = 32,
                         bands: Int = 8, maxBucketSize: Int = 1000): DataFrame = {
    // one precondition job, not two: corpus-max and delta-min ride ONE
    // aggregation over the union of the two (side-tagged) id columns, so
    // both scans run — and overlap — inside a single scheduled job (a
    // crossJoin of the two single-row aggs would still pay a separate
    // AQE broadcast-build job). The per-micro-batch caller
    // (EventStreams.nearDupUpsertEachBatch) pays this on every batch.
    val pre = corpus.select(col(idCol).alias("__id"), lit(true).alias("__c"))
      .unionByName(delta.select(col(idCol).alias("__id"), lit(false).alias("__c")))
      .agg(max(when(col("__c"), col("__id"))).alias("__cmax"),
        min(when(!col("__c"), col("__id"))).alias("__dmin")).collect()(0)
    if (!pre.isNullAt(0) && !pre.isNullAt(1))
      require(pre.getLong(0) < pre.getLong(1),
        s"incrementalNearDup needs corpus ids < delta ids " +
          s"(corpus max ${pre.getLong(0)} >= delta min ${pre.getLong(1)})")
    require(bands >= 1 && numHashes >= bands,
      s"need numHashes >= bands >= 1, got numHashes=$numHashes bands=$bands")
    val rowsPerBand = numHashes / bands

    def banded(df: DataFrame) = {
      val sh = shingleFrame(df, textCol, idCol, shingleN)
      val sig = sh.select(col(idCol),
        graft.functions.MinHashSignature.signature(col("__sh"), numHashes)
          .alias("__sig"))
      (sh, sig.select(col(idCol), posexplode(
        bandKeys(col("__sig"), bands, rowsPerBand))
        .as(Seq("__band", "__bucket"))))
    }
    val (cSh, cBanded) = banded(corpus)
    val (dSh, dBanded) = banded(delta)
    // hot-bucket guard over the UNION — a boilerplate bucket is hot
    // regardless of which side its rows came from
    val all = dropHotBuckets(
      cBanded.withColumn("__c", lit(true))
        .unionByName(dBanded.withColumn("__c", lit(false))),
      Seq("__band", "__bucket"), maxBucketSize)
    // candidates: LEFT side is anything, RIGHT side is delta-only; the
    // (corpus side) OR (id order) filter keeps each pair once and skips
    // corpus-corpus pairs entirely
    val l = all.select(col("__band"), col("__bucket"),
      col(idCol).alias("id_a"), col("__c").alias("c_a"))
    val r = all.filter(!col("__c")).select(col("__band"), col("__bucket"),
      col(idCol).alias("id_b"))
    val cands = l.join(r, Seq("__band", "__bucket"))
      .filter(col("c_a") || col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val sh = cSh.unionByName(dSh)
    val verified = cands
      .join(sh.select(col(idCol).alias("id_a"), col("__sh").alias("sh_a")), Seq("id_a"))
      .join(sh.select(col(idCol).alias("id_b"), col("__sh").alias("sh_b")), Seq("id_b"))
      // round to 6 dp BEFORE thresholding — the batch path
      // ([[minhashNearDuplicates]]) and the DuckDB oracle both do, so a
      // pair within 5e-7 of the threshold must classify identically here
      // or the documented batch≡incremental equivalence breaks
      .filter(round(graft.functions.JaccardSim.jaccard(col("sh_a"), col("sh_b")), 6)
        >= threshold)
      .select("id_a", "id_b")
    val comps = connectedComponents(verified, "id_a", "id_b")
    // min-label components + the id precondition make the survivor rule
    // one filter: a delta doc survives iff its label is ITSELF (any
    // corpus doc or smaller delta id in the component would be a
    // smaller label)
    val keep = comps.filter(col("id") === col("comp"))
      .join(delta.select(col(idCol)), col("id") === col(idCol), "left_semi")
      .select(col("id").alias(idCol))
    val singletons = delta.select(col(idCol))
      .join(comps.select(col("id").alias(idCol)), Seq(idCol), "left_anti")
    singletons.union(keep)
  }

  // ----------------------------------------------------------- simhash

  /** Per-doc 64-bit SimHash over whitespace tokens (custom Catalyst
    * expression — one hash per token, single pass). */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol),
      SimHash.simhash64(TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))))
        .alias("simhash"))

  /** SimHash near-dup pairs with PIGEONHOLE blocking (Manku et al.'s
    * simhash dedup scheme): the 64-bit hash splits into maxDist+1
    * disjoint blocks; two hashes at hamming distance ≤ maxDist differ in
    * at most maxDist blocks, so at least one block matches EXACTLY —
    * candidate recall is provably total, and the hamming filter makes
    * precision exact, so blocked output ≡ the O(n²) cross join.
    * Cost: (maxDist+1) band rows per doc, self-equi-join on
    * (block_idx, block_value). `maxBucketSize` (off by default, recall
    * proof holds only when off) caps degenerate hot blocks at scale the
    * same way [[minhashCandidates]] does. */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxDist: Int = 3, maxBucketSize: Int = Int.MaxValue): DataFrame =
    hammingPairs(simhash(df, textCol, idCol), "simhash", idCol,
      maxDist, maxBucketSize)

  /** Hash-generic pigeonhole Hamming pairing — the [[simhashPairs]] core
    * factored out so ANY 64-bit fingerprint column (simhash, image
    * dHash, audio fingerprint) gets the same provably-total-recall
    * blocking: the hash splits into maxDist+1 disjoint blocks; hashes at
    * distance ≤ maxDist differ in at most maxDist blocks, so one block
    * matches exactly. Blocked output ≡ the O(n²) cross join. */
  def hammingPairs(hashed: DataFrame, hashCol: String, idCol: String,
                   maxDist: Int = 3, maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(maxDist >= 0 && maxDist < 32, s"maxDist must be in [0, 32), got $maxDist")
    val nBlocks = maxDist + 1
    val width = 64 / nBlocks
    val hc = graft.ColName.topCol(hashCol)
    // block b = bits [b*width, (b+1)*width), last block extends to bit 63
    val blockVals = (0 until nBlocks).map { b =>
      val lo = b * width
      val w = if (b == nBlocks - 1) 64 - lo else width
      val shifted = shiftrightunsigned(hc, lo)
      if (w >= 64) shifted else shifted.bitwiseAND(lit((1L << w) - 1))
    }
    // fence (same pattern as minhash): the hash computes once pre-shuffle
    // and the id-hash exchange is AQE-reused by both self-join sides
    val sh = hashed.repartition(graft.ColName.topCol(idCol))
    val blocked = sh.select(graft.ColName.topCol(idCol), hc.alias("__h"),
      posexplode(array(blockVals: _*)).as(Seq("__blk", "__bval")))
    val pruned = dropHotBuckets(blocked, Seq("__blk", "__bval"), maxBucketSize)
    val l = pruned.select(col("__blk"), col("__bval"),
      col(idCol).alias("id_a"), col("__h").alias("sh_a"))
    val r = pruned.select(col("__blk"), col("__bval"),
      col(idCol).alias("id_b"), col("__h").alias("sh_b"))
    l.join(r, Seq("__blk", "__bval")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        SimHash.hammingDist(col("sh_a"), col("sh_b")).alias("hamming"))
      // filter BEFORE distinct: only passing pairs enter the dedup shuffle
      // (a pair matching several blocks would otherwise multiply the
      // aggregate's input by up to maxDist+1)
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Exhaustive simhash pairs (quadratic; equivalence baseline for
    * [[simhashPairs]] — bounded id ranges only). */
  def simhashPairsExhaustive(df: DataFrame, textCol: String, idCol: String,
                             maxDist: Int = 3): DataFrame = {
    val sh = simhash(df, textCol, idCol)
    val l = sh.select(col(idCol).alias("id_a"), col("simhash").alias("sh_a"))
    val r = sh.select(col(idCol).alias("id_b"), col("simhash").alias("sh_b"))
    l.join(r, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        SimHash.hammingDist(col("sh_a"), col("sh_b")).alias("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  // ------------------------------------------- embedding cosine near-dup

  /** Exact embedding near-dup pairs: cosine ≥ threshold, all pairs —
    * correctness baseline (quadratic; LSH-bucketed variant in
    * [[Similarity.hyperplaneBuckets]] is the scale path). */
  def embeddingNearDupExact(df: DataFrame, vecCol: String, idCol: String,
                            threshold: Double): DataFrame = {
    val withN = df.select(col(idCol), col(vecCol),
      Similarity.fastL2(col(vecCol)).alias("__n"))
    val l = withN.select(col(idCol).alias("id_a"), col(vecCol).alias("v_a"), col("__n").alias("n_a"))
    val r = withN.select(col(idCol).alias("id_b"), col(vecCol).alias("v_b"), col("__n").alias("n_b"))
    l.join(r, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        // try_divide, not `/`: a zero-norm vector must yield null cosine
        // (dropped by the filter), not an ANSI DIVIDE_BY_ZERO crash
        round(try_divide(graft.functions.DotProduct.dot(col("v_a"), col("v_b")),
          col("n_a") * col("n_b")), 6).alias("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): k-means-cluster the embedding
    * space, near-dup prune WITHIN each cluster only, keep the minimum id
    * per duplicate group plus every unmatched document. The cross-cluster
    * pair space — the quadratic bulk — is never generated.
    *
    * Pipeline: [[Similarity.trainCentroids]] (broadcast Lloyd, two small
    * shuffles per iteration) → max_by nearest-centroid assignment
    * (map-side combinable) → within-cluster pair join on the centroid id
    * (id_a < id_b, cosine ≥ threshold) → min-label connected components →
    * survivor set.
    *
    * Equivalence gate: with `nlist = 1` the within-cluster pair set IS
    * the exact all-pairs set, so the output provably equals
    * [[embeddingNearDupExact]] → components → survivors (the oracle
    * checks this). With nlist > 1, pairs straddling a centroid boundary
    * are sacrificed for the ~nlist× candidate reduction — the paper's
    * trade; survivors is then a superset of the exact-survivor set.
    * The realistic-nlist quality gate (q_semdedup_recall): 50 planted
    * near-duplicate clones (cosine ~0.9999) must be pruned at ≥ 90%
    * under Lloyd-trained nlist=16 — a near-identical pair escapes only
    * when it straddles a centroid boundary, so sub-90% recall on
    * near-exact duplicates means the assignment (not the trade) broke.
    *
    * 100 TB: size `nlist` so clusters hold ~1k-10k docs (the paper runs
    * 50k clusters on web scale) — each cluster's all-pairs join lands in
    * the tasks holding its cent_id partition, so per-task work is
    * (corpus/nlist)² not corpus². */
  def semDedupSurvivors(df: DataFrame, vecCol: String, idCol: String,
                        threshold: Double, nlist: Int = 16,
                        trainIters: Int = 2,
                        trainSampleMult: Int = 0): DataFrame = {
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    val cents = Similarity.trainCentroids(df, idCol, vecCol, nlist, trainIters,
      trainSampleMult)
    // fence (the shingleFrame idiom): assignment + norms compute once
    // pre-shuffle and the exchange serves both self-join sides
    val withN = Similarity.nearestCentroid(df, idCol, vecCol, cents)
      .select(col(idCol), col("cent_id"), col(vecCol),
        Similarity.fastL2(col(vecCol)).alias("__n"))
      .repartition(col(idCol))
    val l = withN.select(col("cent_id"), col(idCol).alias("id_a"),
      col(vecCol).alias("v_a"), col("__n").alias("n_a"))
    val r = withN.select(col("cent_id"), col(idCol).alias("id_b"),
      col(vecCol).alias("v_b"), col("__n").alias("n_b"))
    val pairs = l.join(r, Seq("cent_id")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(try_divide(graft.functions.DotProduct.dot(col("v_a"), col("v_b")),
          col("n_a") * col("n_b")), 6).alias("cosine"))
      .filter(col("cosine") >= threshold)
    val comps = connectedComponents(pairs, "id_a", "id_b")
    val keep = comps.filter(col("id") === col("comp"))
      .select(col("id").alias(idCol))
    val singles = df.select(col(idCol))
      .join(comps.select(col("id").alias(idCol)), Seq(idCol), "left_anti")
    singles.union(keep)
  }

  /** LSH-bucketed embedding near-dup: random-hyperplane signature blocks,
    * cosine verified within blocks. Linear in corpus size per band. */
  def embeddingNearDupLsh(df: DataFrame, vecCol: String, idCol: String,
                          threshold: Double, planes: Int = 16,
                          bands: Int = 4, dim: Int = 64): DataFrame = {
    val sig = Similarity.hyperplaneBuckets(df, vecCol, idCol, planes, bands, dim)
    // fence (same pattern as minhash's shingleFrame): the (id, vec, norm)
    // exchange materializes once and AQE reuses it for BOTH verify-join
    // sides instead of re-scanning and re-deriving norms per side
    val withN = df.select(col(idCol), col(vecCol), Similarity.fastL2(col(vecCol)).alias("__n"))
      .repartition(col(idCol))
    val l = sig.select(col("__band"), col("__bucket"), col(idCol).alias("id_a"))
    val r = sig.select(col("__band"), col("__bucket"), col(idCol).alias("id_b"))
    val cands = l.join(r, Seq("__band", "__bucket")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cands
      .join(withN.select(col(idCol).alias("id_a"), col(vecCol).alias("v_a"), col("__n").alias("n_a")), Seq("id_a"))
      .join(withN.select(col(idCol).alias("id_b"), col(vecCol).alias("v_b"), col("__n").alias("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        // try_divide, not `/`: a zero-norm vector must yield null cosine
        // (dropped by the filter), not an ANSI DIVIDE_BY_ZERO crash
        round(try_divide(graft.functions.DotProduct.dot(col("v_a"), col("v_b")),
          col("n_a") * col("n_b")), 6).alias("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
