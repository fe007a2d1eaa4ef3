package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}

/**
 * Similarity search over an embedding column (Array[Float]).
 *
 * Two paths:
 *  - [[bruteForceTopK]] — exact cosine top-k; the correctness baseline.
 *    Queries are broadcast (small side), corpus streams once; the top-k
 *    is a per-query window over |Q|×|corpus| scored pairs.
 *  - [[ivfTopK]] — IVF-flat: corpus assigned to the nearest of `nlist`
 *    deterministic seed centroids (one pass), queries probe the `nprobe`
 *    nearest lists. Scan cost drops by ~nlist/nprobe; at 100 TB the
 *    centroid assignment is one narrow pass + a co-partitioned join on
 *    the centroid id.
 *
 * All arithmetic is double-precision HOFs (zip_with + aggregate) so
 * results are deterministic and oracle-checkable after 6-dp rounding.
 */
object Similarity {

  /** Dot product of two float arrays, accumulated in double (HOF form —
    * session-free and composable; the operators below use the fused
    * [[graft.functions.DotProduct]] codegen expression, which is
    * bit-identical: same left-to-right double accumulation, no
    * intermediate products array). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** L2 norm (double). */
  def l2norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Cosine similarity (null/zero-safe via try_divide: 0-norm → null). */
  def cosine(a: Column, b: Column): Column =
    try_divide(dot(a, b), l2norm(a) * l2norm(b))

  // fused custom-expression kernels (same math, single loop, no allocation)
  private[ext] def fastDot(s: org.apache.spark.sql.SparkSession, a: Column, b: Column): Column =
    graft.functions.DotProduct.dot(s, a, b)
  private[ext] def fastL2(s: org.apache.spark.sql.SparkSession, a: Column): Column =
    sqrt(graft.functions.DotProduct.dot(s, a, a))
  private[ext] def fastCosine(s: org.apache.spark.sql.SparkSession, a: Column, b: Column): Column =
    try_divide(fastDot(s, a, b), fastL2(s, a) * fastL2(s, b))

  /**
   * Final ranking of scored (query_id, vec_id, cosine) candidates via the
   * bounded-heap aggregate [[graft.functions.TopKByScore]]: map-side
   * partial top-k per partition, k-way heap merge per query — no task
   * ever holds more than numPartitions x k candidates, unlike a
   * `row_number` window which sorts ALL of a query's candidates in ONE
   * task (|corpus| rows per query at 100 TB brute force). Ordering is
   * identical to the window form: cosine DESC, vec_id ASC, null cosines
   * last (dropped, since every query here has >= k non-null candidates).
   */
  private[graft] def topKRank(scored: DataFrame, k: Int): DataFrame = {
    val sp = scored.sparkSession
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore.topK(sp, col("cosine"), col("vec_id"), k).alias("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__i", "__e")))
      .select(col("query_id"), col("__e.id").alias("vec_id"),
        col("__e.score").alias("cosine"), (col("__i") + 1).cast("long").alias("rank"))
  }

  /**
   * Exact cosine top-k: for each query vector, the k nearest corpus
   * vectors. Scores rounded to 6 dp with id tiebreak so ranking is
   * engine-independent. Excludes self-matches when ids collide.
   *
   * Null-cosine candidates (zero-norm vectors) rank LAST and are dropped;
   * a query whose candidates are ALL null-cosine returns no rows (the
   * bounded heap holds nothing, so the group vanishes — same rows as the
   * row_number window form whenever each query has >= k non-null
   * candidates, the expected regime; on a degenerate corpus with fewer,
   * the query emits fewer than k rows, never null-score rows).
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String, vecCol: String): DataFrame = {
    val sp = corpus.sparkSession
    val c = corpus.select(col(idCol).alias("vec_id"), col(vecCol).alias("__cv"),
      fastL2(sp, col(vecCol)).alias("__cn"))
    val q = queries.select(col(idCol).alias("query_id"), col(vecCol).alias("__qv"),
      fastL2(sp, col(vecCol)).alias("__qn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        round(try_divide(fastDot(sp, col("__qv"), col("__cv")), col("__qn") * col("__cn")), 6)
          .alias("cosine"))
    topKRank(scored, k)
  }

  /** SQ8-compressed corpus: (idCol, `sq8` blob) via
    * [[graft.functions.Sq8Encode]] — 16 + dim bytes per vector, ~4× less
    * to store/shuffle/cache than float32. One narrow codegen'd scan. */
  def sq8Compress(df: DataFrame, idCol: String, vecCol: String,
                  outCol: String = "sq8"): DataFrame = {
    val sp = df.sparkSession
    df.select(col(idCol),
      graft.functions.Sq8.encode(sp, graft.ColName.topCol(vecCol)).alias(outCol))
  }

  /** Brute-force cosine top-k over an SQ8-compressed corpus: asymmetric
    * search — full-precision queries against decoded (zero + code·scale)
    * corpus vectors, the FAISS SQ8 serving shape. Same join/heap plan as
    * [[bruteForceTopK]] (broadcast queries, bounded-heap top-k, 6-dp
    * rounded scores): the decode is a per-corpus-row projection BELOW
    * the broadcast join, so the blob is expanded once per corpus row,
    * never per (query, row) pair. Recall loss is bounded by the
    * quantization step (≤ scale/2 per component) — gated by q_sq8_recall
    * (the uncompressed top-1, recomputed independently by the DuckDB
    * oracle's own float ranking, must appear in the quantized top-10)
    * plus Sq8Spec's ranking-equivalence test. */
  def sq8TopK(compressed: DataFrame, queries: DataFrame, k: Int,
              idCol: String, vecCol: String, codesCol: String = "sq8"): DataFrame = {
    val sp = compressed.sparkSession
    val c = compressed
      .select(col(idCol).alias("vec_id"),
        graft.functions.Sq8.decode(sp, graft.ColName.topCol(codesCol)).alias("__cv"))
      .select(col("vec_id"), col("__cv"), fastL2(sp, col("__cv")).alias("__cn"))
    val q = queries.select(col(idCol).alias("query_id"), col(vecCol).alias("__qv"),
      fastL2(sp, col(vecCol)).alias("__qn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        round(try_divide(fastDot(sp, col("__qv"), col("__cv")), col("__qn") * col("__cn")), 6)
          .alias("cosine"))
    topKRank(scored, k)
  }

  /** Deterministic pseudo-random hyperplanes: planes × dim doubles seeded
    * from (plane, dim) — reproducible across sessions with no RNG state. */
  private[graft] def planeLiterals(planes: Int, dim: Int): Column = {
    val rnd = new scala.util.Random(42)
    val m = Array.fill(planes, dim)(rnd.nextGaussian())
    array(m.toIndexedSeq.map(row => array(row.toIndexedSeq.map(lit(_)): _*)): _*)
  }

  /** Random-hyperplane LSH: sign bits grouped into `bands` bucket keys.
    * Output: (idCol, __band, __bucket) — one row per band per vector. */
  def hyperplaneBuckets(df: DataFrame, vecCol: String, idCol: String,
                        planes: Int, bands: Int, dim: Int): DataFrame = {
    require(bands >= 1 && planes >= bands,
      s"need planes >= bands >= 1, got planes=$planes bands=$bands " +
        "(perBand = planes/bands would be 0: every band key would vanish " +
        "and the LSH would silently emit no candidates)")
    val perBand = planes / bands
    val sp = df.sparkSession
    val planesArr = planeLiterals(planes, dim)
    // a vector whose length != dim makes every plane dot null, which would
    // silently sign to all-zero bits and collapse the corpus into ONE
    // bucket (O(n^2) candidates in one task) — fail loudly instead
    val checkedVec = when(size(col(vecCol)) === dim, col(vecCol))
      .otherwise(raise_error(concat(
        lit(s"hyperplaneBuckets: embedding size != dim=$dim for id "),
        col(idCol).cast("string"))))
    val bits = transform(planesArr, p => when(fastDot(sp, p, checkedVec) >= 0, 1L).otherwise(0L))
    // ONE pass over `bits`: referencing it inside a per-band lambda (the
    // obvious transform(0..bands-1, b => fold(slice(bits, ...))) shape)
    // re-evaluates every plane dot product once per band — the HOF
    // free-variable hazard. Instead `bits` is the aggregate's CHILD and
    // the accumulator (keys so far, current key, bit index) closes a key
    // every perBand bits; trailing bits beyond bands*perBand are cut by
    // the final slice, matching the per-band slice shape.
    val emptyKeys = lit(Array.empty[Long])
    val keys = aggregate(
      bits,
      struct(emptyKeys.alias("ks"), lit(0L).alias("cur"), lit(0).alias("i")),
      (acc, x) => {
        // shiftleft|or, not *2+x: bitwise ops wrap instead of raising
        // ANSI ARITHMETIC_OVERFLOW at perBand >= 63 (a wrapped value is
        // still a valid bucket key)
        val cur2 = shiftleft(acc.getField("cur"), 1).bitwiseOR(x)
        val closes = acc.getField("i") % perBand === perBand - 1
        struct(
          when(closes, concat(acc.getField("ks"), array(cur2)))
            .otherwise(acc.getField("ks")).alias("ks"),
          when(closes, lit(0L)).otherwise(cur2).alias("cur"),
          (acc.getField("i") + 1).alias("i"))
      },
      acc => slice(acc.getField("ks"), 1, bands))
    df.select(col(idCol), posexplode(keys).as(Seq("__band", "__bucket")))
  }

  /** Cluster-count sizing rule for corpus-quadratic cluster-local work
    * (SemDeDup within-cluster all-pairs, IVF list scans): bound the
    * EXPECTED cluster size so per-cluster O(size²) stays constant as the
    * corpus grows — `ceil(rows / targetClusterSize)` clamped to
    * [minNlist, maxNlist]. A FIXED nlist is quadratic in the corpus:
    * the round-11 sweep measured scale_semdedup at 56× for 10× data
    * with nlist=16 pinned (200k vectors → 12.5k-vector clusters →
    * 1.25G within-cluster pairs); sized by this rule the same corpus
    * runs linear. The SemDeDup paper's web-scale run uses 50k clusters
    * for the same reason. Companion of [[graft.ext.Tuning
    * .partitionsForBytes]] — the same "work per unit must not grow with
    * the corpus" principle, applied to cluster population instead of
    * reducer bytes.
    *
    * Asymptotics: this rule makes within-cluster work linear but leaves
    * the assignment pass at rows×nlist = rows²/target — negligible below
    * ~target² rows (≈1M at the default), where pair rows dominate. Past
    * that, pass `targetClusterSize ≈ sqrt(rows)` so nlist ≈ sqrt(rows)
    * balances both terms at O(rows^1.5) — the FAISS `4√N..16√N` nlist
    * guideline — and train on a sample ([[trainCentroids]]
    * trainSampleMult) so the Lloyd loop never multiplies it. */
  def nlistForCorpus(rows: Long, targetClusterSize: Long = 1024L,
                     minNlist: Int = 16, maxNlist: Int = 1 << 18): Int = {
    require(rows >= 0, s"nlistForCorpus: negative row count $rows")
    require(targetClusterSize >= 1,
      s"nlistForCorpus: targetClusterSize must be >= 1, got $targetClusterSize")
    require(minNlist >= 1 && maxNlist >= minNlist,
      s"nlistForCorpus: need 1 <= min <= max, got [$minNlist, $maxNlist]")
    val raw = (rows + targetClusterSize - 1) / targetClusterSize
    math.min(maxNlist.toLong, math.max(minNlist.toLong, raw)).toInt
  }

  /** Probe-width sizing rule companion to [[nlistForCorpus]]: IVF recall
    * tracks the FRACTION of the corpus scanned (each probed list holds
    * ~rows/nlist vectors, so nprobe/nlist IS the scan fraction), so the
    * recall/latency knob should follow the cluster count instead of being
    * hand-picked per corpus — `ceil(nlist × scanFraction)` clamped to
    * [minProbe, nlist]. The default 1/16 scan fraction reproduces both
    * committed operating points: nlist=16 → nprobe=4 (q_knn_ivf_recall's
    * gated setting, total top-1 recall on the test corpora) and the sf10
    * scale arm's nlist/16 (scale_knn_ivf_1000q, 4.1× over brute force at
    * recall gated ≥ the q gate). minProbe=4 keeps small corpora honest:
    * below ~64 lists a single probe is a coin flip near centroid
    * boundaries, and 4 lists there still scans ≥ the default fraction.
    * nprobe = nlist degrades gracefully to exact search. */
  def nprobeForRecall(nlist: Int, scanFraction: Double = 1.0 / 16,
                      minProbe: Int = 4): Int = {
    require(nlist >= 1, s"nprobeForRecall: nlist must be >= 1, got $nlist")
    require(scanFraction > 0 && scanFraction <= 1.0,
      s"nprobeForRecall: scanFraction must be in (0, 1], got $scanFraction")
    require(minProbe >= 1, s"nprobeForRecall: minProbe must be >= 1, got $minProbe")
    math.min(nlist.toLong,
      math.max(minProbe.toLong, math.ceil(nlist * scanFraction).toLong)).toInt
  }

  /** Deterministic k-means (Lloyd) refinement of IVF centroids, entirely
    * in DataFrame ops: assign each vector to its nearest centroid, then
    * recompute centroids as element-wise means via
    * posexplode → groupBy(cent, pos) → avg → re-collect sorted by pos.
    * Two small shuffles per iteration; the corpus never collects to the
    * driver. Seeds = the nlist lowest-id corpus vectors.
    *
    * `trainSampleMult` > 0 trains on a deterministic, PARTITION-
    * INDEPENDENT hash-stride sample of ~nlist×mult vectors (the
    * hash-predicate sampling idiom — `xxhash64(id) % k == 0`) instead of
    * the full corpus. Every training pass is a corpus×nlist scan, so
    * with [[nlistForCorpus]]-sized nlist a full-corpus Lloyd loop is
    * quadratic in the corpus — exactly what FAISS avoids by training on
    * a bounded sample (its default is 256 points per centroid; means
    * converge on a representative sample). The final ASSIGNMENT of all
    * vectors stays exact and full-corpus in the callers. Falls back to
    * full-corpus training when the sample would under-fill the seed list
    * (< 4×nlist rows). Default 0 preserves exact legacy behavior. */
  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                     nlist: Int, iters: Int,
                     trainSampleMult: Int = 0): DataFrame = {
    val sp = corpus.sparkSession
    val train =
      if (trainSampleMult <= 0 || iters <= 0) corpus
      else {
        val n = corpus.count()
        val target = nlist.toLong * trainSampleMult
        if (n <= target) corpus
        else {
          val stride = n / target
          val sampled = corpus.filter(
            pmod(xxhash64(graft.ColName.topCol(idCol)), lit(stride)) === 0)
          if (sampled.count() < 4L * nlist) corpus else sampled
        }
      }
    var cents = train.orderBy(col(idCol).asc).limit(nlist)
      .select(col(idCol).alias("cent_id"), col(vecCol).alias("cent_vec"))
    (0 until iters).foreach { _ =>
      val assigned = nearestCentroid(sp, train, idCol, vecCol, cents)
      cents = assigned
        .select(col("cent_id"), posexplode(col(vecCol)).as(Seq("__pos", "__v")))
        .groupBy(col("cent_id"), col("__pos"))
        .agg(avg(col("__v")).alias("__m"))
        .groupBy(col("cent_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("__pos"), col("__m")))),
          x => x.getField("__m")).alias("cent_vec"))
        // truncate lineage: without this, iteration i's broadcast re-runs
        // all prior iterations' crossJoins (O(iters²) corpus scans)
        .localCheckpoint()
    }
    cents
  }

  /** Argmax centroid per vector as a map-side-combinable aggregate:
    * `max_by` over ord (sim, -cent_id) replicates the window form's
    * (sim DESC, cent_id ASC, nulls last) exactly — null sims coalesce to
    * -2.0, below any real cosine — but partial aggregation collapses each
    * partition's nlist candidate rows per vector BEFORE the shuffle, so
    * the exchange carries |corpus| rows instead of |corpus| x nlist. */
  private[ext] def nearestCentroid(sp: org.apache.spark.sql.SparkSession, vectors: DataFrame,
                                   idCol: String, vecCol: String, cents: DataFrame): DataFrame =
    vectors.crossJoin(broadcast(cents))
      .select(col(idCol), col(vecCol), col("cent_id"),
        coalesce(fastCosine(sp, col(vecCol), col("cent_vec")), lit(-2.0)).alias("__sim"))
      .groupBy(col(idCol))
      .agg(max_by(
        struct(col(vecCol).alias("v"), col("cent_id").alias("c")),
        struct(col("__sim").alias("s"), (-col("cent_id")).alias("nc"))).alias("__best"))
      .select(col(idCol), col("__best.v").alias(vecCol), col("__best.c").alias("cent_id"))

  /** K-means cluster assignment over an embedding column: every vector
    * labeled with its nearest centroid (max cosine, 6-dp rounded like the
    * knn rankers; ties and zero-norm vectors resolve to the lowest
    * centroid id). Seed centroids are the `nlist` lowest-id vectors
    * (deterministic — oracle-checkable at `trainIters = 0`);
    * `trainIters` > 0 refines them with [[trainCentroids]] Lloyd
    * iterations first. The clustering primitive behind SemDeDup-style
    * curation and IVF partition layout, exposed as a first-class label.
    *
    * Output: (`idCol`, cluster).
    *
    * 100 TB shape: the centroid table is nlist rows — driver-bounded
    * exactly like the PQ codebook — and becomes a LITERAL array, so the
    * assignment is a NARROW per-row argmax over a fused-loop dot-product
    * expression: no crossJoin row explosion, no shuffle, the scan's
    * partitioning flows straight through. ([[nearestCentroid]] keeps the
    * crossJoin+max_by shape because IVF needs the vectors regrouped by
    * centroid afterwards; a label-only pass does not.) */
  def kmeansAssign(corpus: DataFrame, idCol: String, vecCol: String,
                   nlist: Int, trainIters: Int = 0,
                   trainSampleMult: Int = 0): DataFrame = {
    require(nlist >= 1, s"kmeansAssign: nlist must be >= 1, got $nlist")
    val sp = corpus.sparkSession
    val centRows = trainCentroids(corpus, idCol, vecCol, nlist, trainIters,
      trainSampleMult)
      .select(col("cent_id").cast("long").alias("c"),
        col("cent_vec").cast("array<double>").alias("v"))
      .orderBy(col("c")).collect()
    require(centRows.nonEmpty, "kmeansAssign: corpus has no vectors to seed centroids")
    val centArr = array(centRows.map { r =>
      struct(lit(r.getLong(0)).alias("c"),
        array(r.getSeq[Double](1).map(lit(_)): _*).alias("v"))
    }: _*)
    val scored = transform(centArr, c => struct(
      (-coalesce(round(fastCosine(sp, col(vecCol), c.getField("v")), 6),
        lit(-2.0))).alias("negsim"),
      c.getField("c").alias("cid")))
    corpus.select(col(idCol),
      get(array_sort(scored), lit(0)).getField("cid").alias("cluster"))
  }

  /**
   * IVF-flat ANN. Seed centroids = the nlist lowest-id corpus vectors
   * (deterministic); `trainIters` > 0 refines them with Lloyd iterations
   * ([[trainCentroids]]). Each corpus vector is assigned to its nearest
   * centroid; each query probes the nprobe nearest centroid lists and
   * ranks exactly within.
   *
   * Same null-candidate contract as [[bruteForceTopK]]: null-cosine
   * (zero-norm) candidates are dropped, and a query with fewer than k
   * non-null candidates in its probed lists emits fewer than k rows.
   *
   * `nprobe = 0` (the default) derives the probe width from the sizing
   * rule [[nprobeForRecall]](nlist) — so a caller who sizes nlist with
   * [[nlistForCorpus]] gets a matched recall/latency operating point
   * without hand-picking the knob. Explicit values pass through.
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              idCol: String, vecCol: String,
              nlist: Int = 16, nprobe: Int = 0, trainIters: Int = 0,
              trainSampleMult: Int = 0): DataFrame = {
    val np = probeWidth("ivfTopK", nprobe, nlist)
    val sp = corpus.sparkSession
    val cents = collectCentroids(trainCentroids(corpus, idCol, vecCol, nlist,
      trainIters, trainSampleMult))
    // one-pass assignment: nearest centroid per corpus vector (max_by agg)
    val assigned = nearestCentroid(sp, corpus, idCol, vecCol, cents.table(sp))
      .select(col(idCol).alias("vec_id"), col(vecCol).alias("__cv"),
        fastL2(sp, col(vecCol)).alias("__cn"), col("cent_id"))
    probeRank(sp, cents, assigned, queries, k, idCol, vecCol, np)
  }

  /** The centroid table of an IVF search: its nlist (cent_id, cent_vec)
    * rows, collected once to the driver — the same driver bound as a
    * [[PqCodebook]]. cent_id is a long; cent_vec keeps its own element
    * type (float for seed centroids, double once trained), so probes
    * score exactly what the distributed table would. */
  final case class IvfCentroids(rows: IndexedSeq[Row], schema: StructType) {
    def nlist: Int = rows.length
    /** The rows as a local relation, for the build-side assignment. */
    private[ext] def table(sp: org.apache.spark.sql.SparkSession): DataFrame =
      sp.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private def collectCentroids(cents: DataFrame): IvfCentroids = {
    val table = cents.select(col("cent_id").cast("long"), col("cent_vec"))
    IvfCentroids(table.collect().toIndexedSeq, table.schema)
  }

  /** The probe width of every IVF entry point: `nprobe`, or
    * [[nprobeForRecall]] over `nlist` when it is 0 (derive). */
  private def probeWidth(op: String, nprobe: Int, nlist: Int): Int = {
    require(nprobe >= 0, s"$op: nprobe must be >= 0 (0 = derive), got $nprobe")
    if (nprobe > 0) nprobe else nprobeForRecall(math.max(1, nlist))
  }

  /** Candidate generation of every IVF search: (query_id, __qv, __probes)
    * per query, `__probes` the distinct cent_ids of its `nprobe` nearest
    * lists — cosine DESC with nulls last, then cent_id ASC (a zero-norm
    * query probes the lowest ids). Distinct, so a corpus whose repeated id
    * seeds two centroids under one cent_id still probes each list once.
    * A narrow projection, no shuffle: the centroid list ships to the
    * executors once per query as a one-row broadcast relation. */
  private def probeLists(sp: org.apache.spark.sql.SparkSession, cents: IvfCentroids,
                         queries: DataFrame, idCol: String, vecCol: String,
                         nprobe: Int): DataFrame = {
    val list = sp.createDataFrame(java.util.Arrays.asList(Row(cents.rows)),
      StructType(Seq(StructField("__cents", ArrayType(cents.schema)))))
    // descending (sim, -cent_id): null sims last, ties to the lower id
    val nearest = sort_array(transform(col("__cents"), c => struct(
      fastCosine(sp, col("__qv"), c.getField("cent_vec")).alias("sim"),
      (-c.getField("cent_id")).alias("neg_id"))), asc = false)
    queries.select(col(idCol).alias("query_id"), col(vecCol).alias("__qv"))
      .crossJoin(broadcast(list))
      .select(col("query_id"), col("__qv"), array_distinct(transform(
        slice(nearest, 1, nprobe), p => -p.getField("neg_id"))).alias("__probes"))
  }

  /** Probe-and-rank core of every IVF search. `inverted` is the inverted
    * file (vec_id, __cv, __cn, cent_id), or with a `codebook` the coded
    * one (vec_id, __codes, __cn, cent_id), scored by ADC against each
    * query's [[pqLuts]] so the probed scan reads codes only. */
  private def probeRank(sp: org.apache.spark.sql.SparkSession, cents: IvfCentroids,
                        inverted: DataFrame, queries: DataFrame, k: Int,
                        idCol: String, vecCol: String, nprobe: Int,
                        codebook: Option[PqCodebook] = None): DataFrame = {
    // what a probe row carries for its query; the candidate dot against it
    val (payload, dot): (Column => Column, Column => Column) = codebook match {
      case Some(cb) => (pqLuts(cb, _), pqAdcDot(col("__codes"), _))
      case None => (identity, fastDot(sp, _, col("__cv")))
    }
    // payload and norm once per query (this projection sits below the
    // explode), then one row per probed list. The probe side is
    // |Q| x nprobe rows (queries are the small side by contract, as in
    // bruteForceTopK): broadcast, so the inverted file never shuffles
    val probes = probeLists(sp, cents, queries, idCol, vecCol, nprobe)
      .select(col("query_id"), payload(col("__qv")).alias("__q"),
        fastL2(sp, col("__qv")).alias("__qn"), col("__probes"))
      // explode_outer: a plain explode gets an inferred size(__probes) > 0
      // filter that is pushed into the crossJoin, ranking every query twice
      .select(col("query_id"), col("__q"), col("__qn"),
        explode_outer(col("__probes")).alias("cent_id"))
    // a cent_id-partitioned index scan reads every list unless Spark
    // plans dynamic partition pruning from this broadcast (see saveIvf).
    // A vec_id sits in one list and a (query, list) pair is single, so no
    // pair repeats and the partial top-k runs straight on the join output
    val scored = inverted.join(broadcast(probes), Seq("cent_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        round(try_divide(dot(col("__q")), col("__qn") * col("__cn")), 6)
          .alias("cosine"))
    topKRank(scored, k)
  }

  /**
   * Metadata-filtered IVF search (the FAISS `IDSelector` / filtered-ANN
   * serving shape): rank only corpus rows satisfying `predicate` — a
   * language/domain/shard filter — while probing exactly as [[ivfTopK]]
   * does. Real pipelines search within shards constantly ("nearest
   * English docs", "same-domain near-dups"); post-filtering a top-k is
   * WRONG (k survivors of an unfiltered top-k can all be ineligible),
   * so the predicate must land INSIDE the candidate generation, below
   * the top-k aggregate.
   *
   * Centroids are trained on the FULL corpus — the index geometry is
   * shared by every predicate, matching the persisted-index serving
   * path where one inverted file answers all filters. The predicate
   * prunes the inverted-file side BEFORE the probe join (on a parquet
   * index scan it pushes down to the reader — see
   * [[ivfTopKIndexedFiltered]]), so ineligible vectors are never
   * scored. At `nprobe = nlist` the probed union is total and the
   * result must EQUAL [[bruteForceTopK]] over the filtered corpus —
   * the oracle gate.
   *
   * A query with fewer than k eligible candidates in its probed lists
   * emits fewer than k rows (same contract as the unfiltered family).
   */
  def ivfTopKFiltered(corpus: DataFrame, queries: DataFrame, k: Int,
                      idCol: String, vecCol: String, predicate: Column,
                      nlist: Int = 16, nprobe: Int = 0, trainIters: Int = 0,
                      trainSampleMult: Int = 0): DataFrame = {
    val np = probeWidth("ivfTopKFiltered", nprobe, nlist)
    val sp = corpus.sparkSession
    val cents = collectCentroids(trainCentroids(corpus, idCol, vecCol, nlist,
      trainIters, trainSampleMult))
    // per-row assignment commutes with the row filter — assigning only
    // eligible rows is identical to assigning all and filtering, minus
    // the wasted work
    val assigned = nearestCentroid(sp, corpus.filter(predicate), idCol,
        vecCol, cents.table(sp))
      .select(col(idCol).alias("vec_id"), col(vecCol).alias("__cv"),
        fastL2(sp, col(vecCol)).alias("__cn"), col("cent_id"))
    probeRank(sp, cents, assigned, queries, k, idCol, vecCol, np)
  }

  /** metaCols ride-along validation for [[saveIvf]]/[[saveIvfSq8]]: a
    * metadata column colliding with the inverted file's own schema (or
    * duplicating the id spine) would write an ambiguous column into the
    * index parquet and fail only obscurely at load or serve time — fail
    * at BUILD time with the collision named instead. */
  private def requireMetaCols(metaCols: Seq[String], idCol: String,
                              reserved: Seq[String]): Unit = {
    val bad = metaCols.filter(c => reserved.contains(c) || c == idCol)
    require(bad.isEmpty,
      s"metaCols ${bad.mkString(", ")} collide with the inverted-file " +
        s"schema (reserved: ${reserved.mkString(", ")}) or the id column " +
        s"'$idCol' — rename them in the corpus before indexing")
    val dups = metaCols.diff(metaCols.distinct).distinct
    require(dups.isEmpty, s"metaCols repeated: ${dups.mkString(", ")}")
  }

  /** A persisted IVF-flat index: `centroids` = the (cent_id, cent_vec)
    * table, held on the driver since load; `assignments` = the inverted
    * file (vec_id, vec, norm, cent_id, plus any `metaCols` passed to
    * [[saveIvf]]), cent_id-partitioned on disk. */
  final case class IvfIndex(centroids: IvfCentroids, assignments: DataFrame)

  /**
   * Build an IVF index once and persist it to `path` as two parquet
   * datasets — `$path/centroids` and `$path/assignments` (the latter
   * written `partitionBy("cent_id")`). A production retrieval loop
   * trains/assigns once here, then serves queries via [[loadIvf]] +
   * [[ivfTopKIndexed]] without re-reading the corpus. Each list is a
   * cent_id partition directory, but serving reads them all unless
   * Spark plans dynamic partition pruning on cent_id, which it does
   * only when the query frame carries a selective filter; the scan then
   * reads the union of the batch's probed lists. Either way the probe
   * join scores only the probed lists' rows. The stored
   * `norm` is the same double [[fastL2]] the in-memory path computes
   * (parquet round-trips doubles exactly), so indexed results are
   * bit-identical to [[ivfTopK]] with the same centroids. `metaCols`
   * rejoin on the id, so a corpus id that repeats keeps one inverted-file
   * row per corpus row, and a search can then return that id twice.
   */
  def saveIvf(corpus: DataFrame, idCol: String, vecCol: String, path: String,
              nlist: Int = 16, trainIters: Int = 0,
              metaCols: Seq[String] = Nil): Unit = {
    val sp = corpus.sparkSession
    writeIvf(corpus, idCol, vecCol, path, nlist, trainIters, metaCols,
      Seq("vec" -> col(vecCol), "norm" -> fastL2(sp, col(vecCol))))
  }

  /** The build of every saved IVF index: train, write `$path/centroids`,
    * assign, and write the cent_id-partitioned inverted file
    * `$path/assignments` = (vec_id, `payload`, cent_id, `metaCols`).
    * metaCols ride along so serving-time predicates
    * ([[ivfTopKIndexedFiltered]]) push down to the index scan; the
    * aggregate in nearestCentroid drops non-key columns, so they rejoin
    * on the id spine (one equi-join at BUILD time, never at serve time). */
  private def writeIvf(corpus: DataFrame, idCol: String, vecCol: String,
                       path: String, nlist: Int, trainIters: Int,
                       metaCols: Seq[String], payload: Seq[(String, Column)]): Unit = {
    requireMetaCols(metaCols, idCol, ("vec_id" +: payload.map(_._1)) :+ "cent_id")
    val cents = trainCentroids(corpus, idCol, vecCol, nlist, trainIters)
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    val assigned = nearestCentroid(corpus.sparkSession, corpus, idCol, vecCol, cents)
      .select((col(idCol).alias("vec_id") +: payload.map { case (n, c) => c.alias(n) }) :+
        col("cent_id").cast("long"): _*)
    val withMeta =
      if (metaCols.isEmpty) assigned
      else assigned.join(
        corpus.select((col(idCol).alias("vec_id") +: metaCols.map(c =>
          graft.ColName.topCol(c))): _*), Seq("vec_id"))
    withMeta.write.mode("overwrite").partitionBy("cent_id")
      .parquet(s"$path/assignments")
  }

  /** Load an index written by [[saveIvf]]: one job collects the centroid
    * table, so serving runs none before its action. cent_id is re-cast to
    * long: partition-column type inference narrows small values to int. */
  def loadIvf(sp: org.apache.spark.sql.SparkSession, path: String): IvfIndex =
    IvfIndex(collectCentroids(sp.read.parquet(s"$path/centroids")),
      sp.read.parquet(s"$path/assignments")
        .withColumn("cent_id", col("cent_id").cast("long")))

  /** [[ivfTopK]] served from a persisted index — no corpus scan, no
    * training; same null-candidate and tiebreak contract. `nprobe = 0`
    * derives from [[nprobeForRecall]] over the index's nlist, the length
    * of its held centroid table: building the plan runs no Spark job. */
  def ivfTopKIndexed(index: IvfIndex, queries: DataFrame, k: Int,
                     idCol: String, vecCol: String, nprobe: Int = 0): DataFrame = {
    val np = probeWidth("ivfTopKIndexed", nprobe, index.centroids.nlist)
    val sp = queries.sparkSession
    val assigned = index.assignments.select(col("vec_id"),
      col("vec").alias("__cv"), col("norm").alias("__cn"), col("cent_id"))
    probeRank(sp, index.centroids, assigned, queries, k, idCol, vecCol, np)
  }

  /** [[ivfTopKFiltered]] served from a persisted index whose inverted
    * file carries the predicate's metadata columns ([[saveIvf]] with
    * `metaCols`). The predicate filters the assignments BEFORE the probe
    * join, i.e. on the parquet scan itself — Catalyst pushes it into the
    * reader (`PushedFilters` on the index scan, locked by spec), so a
    * selective serving filter reads row groups, not the whole inverted
    * file. Post-filtering a top-k would be wrong AND slow; this is
    * filter-during-search. */
  def ivfTopKIndexedFiltered(index: IvfIndex, queries: DataFrame, k: Int,
                             idCol: String, vecCol: String,
                             predicate: Column, nprobe: Int = 0): DataFrame = {
    val np = probeWidth("ivfTopKIndexedFiltered", nprobe, index.centroids.nlist)
    val sp = queries.sparkSession
    val assigned = index.assignments.filter(predicate).select(col("vec_id"),
      col("vec").alias("__cv"), col("norm").alias("__cn"), col("cent_id"))
    probeRank(sp, index.centroids, assigned, queries, k, idCol, vecCol, np)
  }

  // -------------------------------------- IVF over an SQ8 inverted file

  /**
   * IVF-SQ8: IVF probing over an SQ8-QUANTIZED inverted file — the FAISS
   * `IVF<n>,SQ8` tier, and the storage shape a 100 TB serving index
   * actually wants: each probed list holds 16 + dim BYTES per vector
   * (~4× less to read/cache/shuffle than float32) and probing still
   * cuts scoring to ~nprobe/nlist of the corpus, so the two savings
   * multiply. Training and centroid assignment run on the
   * FULL-PRECISION vectors (assignment fidelity costs nothing extra —
   * the corpus is being scanned to encode anyway); scoring is the same
   * asymmetric search as [[sq8TopK]]: full-precision queries against
   * decoded (zero + code·scale) corpus vectors, decode projected once
   * per probed row.
   *
   * Provable gate (the nprobe = nlist idiom): probing every list makes
   * the candidate set total, so the result must EQUAL [[sq8TopK]] over
   * the same compressed corpus — q_knn_ivf_sq8 pins exactly that against
   * the oracle's independently recomputed quantized ranking; recall at
   * approximate nprobe is bounded by IVF recall (q_knn_ivf_recall) plus
   * the quantization step (q_sq8_recall), each gated separately.
   */
  def ivfTopKSq8(corpus: DataFrame, queries: DataFrame, k: Int,
                 idCol: String, vecCol: String,
                 nlist: Int = 16, nprobe: Int = 0, trainIters: Int = 0,
                 trainSampleMult: Int = 0): DataFrame = {
    val np = probeWidth("ivfTopKSq8", nprobe, nlist)
    val sp = corpus.sparkSession
    val cents = collectCentroids(trainCentroids(corpus, idCol, vecCol, nlist,
      trainIters, trainSampleMult))
    val inverted = nearestCentroid(sp, corpus, idCol, vecCol, cents.table(sp))
      .select(col(idCol).alias("vec_id"),
        graft.functions.Sq8.encode(sp, graft.ColName.topCol(vecCol)).alias("sq8"),
        col("cent_id"))
    probeRank(sp, cents, decodedAssignments(sp, inverted), queries, k,
      idCol, vecCol, np)
  }

  /** (vec_id, sq8, cent_id) → the probeRank-shaped (vec_id, __cv, __cn,
    * cent_id): ONE decode projection per inverted-file row, norm over the
    * decoded vector (the quantized ranking's norm, matching [[sq8TopK]]). */
  private def decodedAssignments(sp: org.apache.spark.sql.SparkSession,
                                 inverted: DataFrame): DataFrame =
    inverted
      .select(col("vec_id"),
        graft.functions.Sq8.decode(sp, col("sq8")).alias("__cv"), col("cent_id"))
      .select(col("vec_id"), col("__cv"), fastL2(sp, col("__cv")).alias("__cn"),
        col("cent_id"))

  /** Persist an IVF-SQ8 index: `$path/centroids` plus the COMPRESSED
    * inverted file `$path/assignments` = (vec_id, sq8 binary, cent_id),
    * cent_id-partitioned like [[saveIvf]]'s — a ~4×-smaller index to
    * scan (parquet round-trips the blob bytes exactly, so
    * served rankings are bit-identical to [[ivfTopKSq8]] with the same
    * centroids). */
  def saveIvfSq8(corpus: DataFrame, idCol: String, vecCol: String, path: String,
                 nlist: Int = 16, trainIters: Int = 0,
                 metaCols: Seq[String] = Nil): Unit = {
    val sp = corpus.sparkSession
    writeIvf(corpus, idCol, vecCol, path, nlist, trainIters, metaCols,
      Seq("sq8" -> graft.functions.Sq8.encode(sp, graft.ColName.topCol(vecCol))))
  }

  /** Load an index written by [[saveIvfSq8]] (the [[loadIvf]] layout).
    * The assignments frame is the compressed inverted file;
    * [[ivfTopKSq8Indexed]] decodes at probe time. */
  def loadIvfSq8(sp: org.apache.spark.sql.SparkSession, path: String): IvfIndex =
    loadIvf(sp, path)

  /** [[ivfTopKSq8]] served from a persisted compressed index — no corpus
    * scan, no training, no re-encode; `nprobe = 0` derives like
    * [[ivfTopKIndexed]]. */
  def ivfTopKSq8Indexed(index: IvfIndex, queries: DataFrame, k: Int,
                        idCol: String, vecCol: String,
                        nprobe: Int = 0): DataFrame = {
    val np = probeWidth("ivfTopKSq8Indexed", nprobe, index.centroids.nlist)
    val sp = queries.sparkSession
    probeRank(sp, index.centroids, decodedAssignments(sp, index.assignments),
      queries, k, idCol, vecCol, np)
  }

  /** [[ivfTopKIndexedFiltered]] for the COMPRESSED serving tier: the
    * predicate filters the sq8 inverted file BEFORE decode — pushed into
    * the index parquet scan, so a selective filter skips row groups AND
    * skips their decode work (the filter lands below the decode
    * projection by construction: rows are filtered, then decoded). The
    * index must carry the predicate's columns ([[saveIvfSq8]]
    * `metaCols`). Exact mode (nprobe = nlist) ≡ [[sq8TopK]] over the
    * filtered compressed corpus. */
  def ivfTopKSq8IndexedFiltered(index: IvfIndex, queries: DataFrame, k: Int,
                                idCol: String, vecCol: String,
                                predicate: Column, nprobe: Int = 0): DataFrame = {
    val np = probeWidth("ivfTopKSq8IndexedFiltered", nprobe,
      index.centroids.nlist)
    val sp = queries.sparkSession
    probeRank(sp, index.centroids,
      decodedAssignments(sp, index.assignments.filter(predicate)),
      queries, k, idCol, vecCol, np)
  }

  // ------------------------------------------------ product quantization

  /** A PQ codebook: `book(s)(j)` is the j-th centroid (dsub doubles) of
    * subspace s. Driver-bounded by construction — m × ksub × (dim/m) =
    * ksub × dim doubles (e.g. 16 × 64 = 8 KiB), broadcast into expressions
    * as literals, never a distributed dataset. */
  final case class PqCodebook(dim: Int, book: Array[Array[Array[Double]]]) {
    def m: Int = book.length
    def dsub: Int = dim / m
    def ksub: Int = book.head.length
  }

  /** The m per-subspace nearest-centroid codes of `vec` as an
    * `array<int>` — a pure projection: zero shuffles, zero lookups, so
    * encoding a 100 TB corpus is one narrow scan. Production path: the
    * codegen'd [[graft.functions.PqEncode]] fused argmin (the HOF chain
    * below is interpreted and was the dominant cost of PQ training and
    * serving). Distance ties pick the lowest code id (deterministic). */
  private[ext] def pqCodes(sp: org.apache.spark.sql.SparkSession,
                           vec: Column, cb: PqCodebook): Column =
    graft.functions.PqEncode.encode(sp, vec,
      cb.book.flatten.flatten, cb.dim, cb.m)

  /** The readable HOF reference model of [[pqCodes]] — kept for the
    * equivalence spec (PqSpec asserts codegen ≡ HOF), like
    * [[graft.ext.Dedup.minhashSignature]] next to the fused
    * MinHashSignature expression. Same semantics, including the checked
    * dim/null errors and lowest-id tie-break. */
  private[ext] def pqCodesHof(vec: Column, cb: PqCodebook): Column = {
    // null elements would leave the code at -1 (a null distance never
    // beats Double.MaxValue) and pqTopK's ADC lookup would then fail with
    // a cryptic element_at(lut, 0) index error — raise clearly instead,
    // like the dim-mismatch guard
    val checked = when(size(vec) =!= cb.dim,
        raise_error(lit(s"pq: embedding size != dim=${cb.dim}")))
      .when(!forall(vec, e => e.isNotNull),
        raise_error(lit("pq: embedding contains null elements")))
      .otherwise(vec)
    array((0 until cb.m).map { s =>
      val sub = slice(checked, s * cb.dsub + 1, cb.dsub)
      val cents = array(cb.book(s).toIndexedSeq.map(c =>
        array(c.toIndexedSeq.map(lit(_)): _*)): _*)
      val init = struct(lit(-1).alias("bi"),
        lit(Double.MaxValue).alias("bd"), lit(0).alias("i"))
      aggregate(cents, init, (acc, cent) => {
        val d = aggregate(
          zip_with(sub, cent, (a, b) => {
            val diff = a.cast("double") - b
            diff * diff
          }), lit(0.0), (x, y) => x + y)
        struct(
          when(d < acc.getField("bd"), acc.getField("i"))
            .otherwise(acc.getField("bi")).alias("bi"),
          when(d < acc.getField("bd"), d)
            .otherwise(acc.getField("bd")).alias("bd"),
          (acc.getField("i") + 1).alias("i"))
      }, acc => acc.getField("bi"))
    }: _*)
  }

  /**
   * Train a PQ codebook: split the `dim`-dimensional space into `m`
   * subspaces of dim/m and run `iters` Lloyd rounds per subspace — all
   * subspaces in ONE aggregation job per round, never m separate jobs.
   * Seeds are the subvectors of the ksub lowest-id corpus vectors (the
   * [[trainCentroids]] convention — deterministic, no RNG state).
   *
   * Each round is: encode (map-side, codebook literals), posexplode to
   * (position, value), aggregate means per (subspace, code, position) —
   * at most m × ksub × dsub = ksub × dim result rows, collected to the
   * driver to rebuild the literal codebook (bounded, like the hot-bucket
   * list in [[Dedup]]). Empty cells keep their previous centroid.
   */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
              dim: Int, m: Int = 8, ksub: Int = 16, iters: Int = 1): PqCodebook = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val dsub = dim / m
    val seedRows = corpus.orderBy(col(idCol).asc).limit(ksub)
      .select(col(vecCol).cast("array<double>")).collect()
    require(seedRows.nonEmpty, "pqTrain: empty corpus")
    val k = math.min(ksub, seedRows.length)
    var cb = PqCodebook(dim, Array.tabulate(m, k) { (s, j) =>
      seedRows(j).getSeq[Double](0).slice(s * dsub, (s + 1) * dsub).toArray })
    val sp0 = corpus.sparkSession
    (0 until iters).foreach { _ =>
      val sId = (col("__pos") / dsub).cast("int")
      val cell = corpus
        .select(col(idCol).alias("__id"), col(vecCol).alias("__v"),
          pqCodes(sp0, col(vecCol), cb).alias("__codes"))
        // fence: codes compute once per row, not once per exploded element
        .repartition(col("__id"))
        .select(col("__codes"), posexplode(col("__v")).as(Seq("__pos", "__x")))
        .groupBy(sId.alias("s"), element_at(col("__codes"), sId + 1).alias("c"),
          (col("__pos") % dsub).alias("p"))
        .agg(avg(col("__x").cast("double")).alias("mean"))
        .collect() // bounded: <= ksub x dim rows
      val next = Array.tabulate(m, k)((s, j) => cb.book(s)(j).clone())
      cell.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
      }
      cb = PqCodebook(dim, next)
    }
    cb
  }

  /**
   * PQ-ADC approximate top-k: corpus vectors are stored as m small codes
   * (+ their true norm), queries score candidates with per-subspace
   * lookup tables — `dot(q, x) ≈ Σ_s lut[s][code_s(x)]` where
   * `lut[s][j] = dot(q_sub_s, centroid_j)`. The scan reads m ints + one
   * double per candidate instead of dim floats (~dim·4/m× less IO — the
   * whole point of PQ at 100 TB), the codebook and the LUT-bearing query
   * side are broadcast, and ranking is the bounded-heap [[topKRank]].
   *
   * Exactness regime (the provable oracle gate): when every corpus
   * subvector IS a codebook centroid (corpus size <= ksub with iters=0
   * seeds, or duplicated vectors), reconstruction is exact and the result
   * EQUALS [[bruteForceTopK]]. Otherwise approximate — gate with a recall
   * check ([[ivfTopK]]'s q_knn_ivf_recall idiom).
   *
   * Same null/tiebreak contract as the other paths: zero-norm cosines go
   * null and are dropped; ties rank by vec_id.
   */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             idCol: String, vecCol: String, dim: Int,
             m: Int = 8, ksub: Int = 16, trainIters: Int = 1): DataFrame = {
    val sp = corpus.sparkSession
    val cb = pqTrain(corpus, idCol, vecCol, dim, m, ksub, trainIters)
    val enc = corpus
      .select(col(idCol).alias("vec_id"), pqCodes(sp, col(vecCol), cb).alias("__codes"),
        fastL2(sp, col(vecCol)).alias("__cn"))
      // fence: codes + norm compute once per corpus row, not once per
      // (query x candidate) pair after the broadcast join
      .repartition(col("vec_id"))
    val q = queries.select(col(idCol).alias("query_id"),
      pqLuts(cb, col(vecCol)).alias("__lut"),
      fastL2(sp, col(vecCol)).alias("__qn"))
    val scored = enc.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        round(try_divide(pqAdcDot(col("__codes"), col("__lut")),
          col("__qn") * col("__cn")), 6).alias("cosine"))
    topKRank(scored, k)
  }

  /** Per-subspace ADC lookup tables for one query vector:
    * `lut[s][j] = dot(q_sub_s, centroid_j)` — the m × ksub doubles a
    * query needs to score ANY coded candidate with m array lookups.
    * Factored so the flat scan [[pqTopK]] and the inverted-file
    * [[ivfTopKPq]] construct scores IDENTICALLY (same per-subspace
    * association order, bit-equal doubles) — the q_knn_ivf_pq exactness
    * gate pins their equality. */
  private[ext] def pqLuts(cb: PqCodebook, vec: Column): Column =
    array((0 until cb.m).map { s =>
      val qsub = slice(vec, s * cb.dsub + 1, cb.dsub)
      val cents = array(cb.book(s).toIndexedSeq.map(c =>
        array(c.toIndexedSeq.map(lit(_)): _*)): _*)
      transform(cents, cent => aggregate(
        zip_with(qsub, cent, (a, b) => a.cast("double") * b),
        lit(0.0), (x, y) => x + y))
    }: _*)

  /** The ADC dot product `Σ_s lut[s][codes[s]]` — m lookups + m adds in
    * subspace order (matches the DuckDB oracle's per-subspace sum). */
  private[ext] def pqAdcDot(codes: Column, lut: Column): Column =
    aggregate(
      zip_with(codes, lut, (c, l) => element_at(l, c + 1)),
      lit(0.0), (x, y) => x + y)

  /**
   * PQ with exact re-ranking — the standard production shape: the
   * compressed ADC scan shortlists `k * refineFactor` candidates per
   * query, then ONLY those rows are re-scored against their true vectors
   * and cut to the exact top-k. Recall is the shortlist's (ADC errors
   * inside the shortlist are repaired by the exact pass), so a modest
   * refineFactor buys back most of the quantization loss.
   *
   * Scale shape: the shortlist is |Q| × k·refineFactor ids — broadcast to
   * the corpus scan, so the refine pass reads full vectors for ONLY the
   * shortlisted rows (with parquet row-group skipping on the id, a sliver
   * of the corpus) and never shuffles the corpus.
   */
  def pqTopKRefined(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String, vecCol: String, dim: Int,
                    m: Int = 8, ksub: Int = 16, trainIters: Int = 1,
                    refineFactor: Int = 4): DataFrame = {
    require(refineFactor >= 1, s"refineFactor must be >= 1, got $refineFactor")
    val sp = corpus.sparkSession
    val shortlist = pqTopK(corpus, queries, k * refineFactor, idCol, vecCol,
      dim, m, ksub, trainIters).select(col("query_id"), col("vec_id"))
    val cv = corpus.select(col(idCol).alias("vec_id"), col(vecCol).alias("__cv"),
      fastL2(sp, col(vecCol)).alias("__cn"))
    val qv = queries.select(col(idCol).alias("query_id"), col(vecCol).alias("__qv"),
      fastL2(sp, col(vecCol)).alias("__qn"))
    val scored = cv.join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(try_divide(fastDot(sp, col("__qv"), col("__cv")),
          col("__qn") * col("__cn")), 6).alias("cosine"))
    topKRank(scored, k)
  }

  // -------------------------------------- IVF over a PQ inverted file

  /**
   * IVF-PQ: IVF probing over a PQ-CODED inverted file — the FAISS
   * `IVF<n>,PQ<m>` tier (flat encoding against a global codebook, i.e.
   * `by_residual = false`), the densest index shape of the family: each
   * probed list row is m small codes + one norm double (m=16 over
   * dim=64 floats ≈ 10× less to read/cache than float32), and probing
   * still cuts scoring to ~nprobe/nlist of the corpus. Coarse centroids
   * AND code assignment both run on the full-precision vectors in the
   * same build pass; queries score candidates with the per-subspace
   * LUTs of [[pqTopK]] (built once per query, broadcast), so the
   * probed scan does m array lookups + m adds per candidate and never
   * touches a float vector.
   *
   * Provable gate (the nprobe = nlist idiom): probing every list makes
   * the candidate set total, so the result must EQUAL [[pqTopK]] over
   * the same corpus/codebook — q_knn_ivf_pq pins exactly that against
   * the q_knn_pq_adc oracle's independently recomputed quantized
   * ranking. Recall at approximate nprobe is bounded by IVF recall
   * (q_knn_ivf_recall) plus the ADC step (q_knn_pq_recall), each gated
   * separately.
   */
  def ivfTopKPq(corpus: DataFrame, queries: DataFrame, k: Int,
                idCol: String, vecCol: String, dim: Int,
                m: Int = 8, ksub: Int = 16, nlist: Int = 16,
                nprobe: Int = 0, trainIters: Int = 0, pqIters: Int = 0,
                trainSampleMult: Int = 0): DataFrame = {
    val np = probeWidth("ivfTopKPq", nprobe, nlist)
    val sp = corpus.sparkSession
    val cents = collectCentroids(trainCentroids(corpus, idCol, vecCol, nlist,
      trainIters, trainSampleMult))
    val cb = pqTrain(corpus, idCol, vecCol, dim, m, ksub, pqIters)
    val inverted = nearestCentroid(sp, corpus, idCol, vecCol, cents.table(sp))
      .select(col(idCol).alias("vec_id"),
        pqCodes(sp, col(vecCol), cb).alias("__codes"),
        fastL2(sp, col(vecCol)).alias("__cn"), col("cent_id"))
    probeRank(sp, cents, inverted, queries, k, idCol, vecCol, np, Some(cb))
  }

  /** A persisted IVF-PQ index: coarse `centroids` and the PQ `codebook`
    * (both held on the driver since load; the codebook is ksub × dim
    * doubles), and the coded inverted file `assignments` = (vec_id,
    * codes, norm, cent_id). */
  final case class PqIvfIndex(centroids: IvfCentroids, codebook: PqCodebook,
                              assignments: DataFrame)

  /** Persist an IVF-PQ index to `path` as three parquet datasets —
    * `centroids`, `codebook` (one row per (s, j) centroid), and the
    * cent_id-partitioned coded `assignments`. Codes are exact ints and
    * the norm is the same double [[fastL2]] the in-memory path computes
    * (parquet round-trips both exactly), so served rankings are
    * bit-identical to [[ivfTopKPq]] with the same centroids/codebook. */
  def saveIvfPq(corpus: DataFrame, idCol: String, vecCol: String, path: String,
                dim: Int, m: Int = 8, ksub: Int = 16, nlist: Int = 16,
                trainIters: Int = 0, pqIters: Int = 0): Unit = {
    val sp = corpus.sparkSession
    val cb = pqTrain(corpus, idCol, vecCol, dim, m, ksub, pqIters)
    import sp.implicits._
    (for (s <- 0 until cb.m; j <- 0 until cb.ksub)
      yield (s, j, cb.dim, cb.book(s)(j).toSeq))
      .toDF("s", "j", "dim", "cent")
      .write.mode("overwrite").parquet(s"$path/codebook")
    writeIvf(corpus, idCol, vecCol, path, nlist, trainIters, Nil,
      Seq("codes" -> pqCodes(sp, col(vecCol), cb), "norm" -> fastL2(sp, col(vecCol))))
  }

  /** Load an index written by [[saveIvfPq]]. The codebook collect is
    * bounded (m × ksub rows) like [[pqTrain]]'s cell aggregation; the
    * centroids and the inverted file load as in [[loadIvf]]. */
  def loadIvfPq(sp: org.apache.spark.sql.SparkSession, path: String): PqIvfIndex = {
    val cbRows = sp.read.parquet(s"$path/codebook")
      .select(col("s"), col("j"), col("dim"), col("cent").cast("array<double>"))
      .collect()
    require(cbRows.nonEmpty, s"loadIvfPq: empty codebook at $path/codebook")
    val dim = cbRows.head.getInt(2)
    val m = cbRows.map(_.getInt(0)).max + 1
    val ksub = cbRows.map(_.getInt(1)).max + 1
    val book = Array.ofDim[Array[Double]](m, ksub)
    cbRows.foreach(r => book(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](3).toArray)
    val ivf = loadIvf(sp, path)
    PqIvfIndex(ivf.centroids, PqCodebook(dim, book), ivf.assignments)
  }

  /** [[ivfTopKPq]] served from a persisted coded index — no corpus scan,
    * no training, no re-encode; `nprobe = 0` derives like
    * [[ivfTopKIndexed]]. */
  def ivfTopKPqIndexed(index: PqIvfIndex, queries: DataFrame, k: Int,
                       idCol: String, vecCol: String,
                       nprobe: Int = 0): DataFrame = {
    val np = probeWidth("ivfTopKPqIndexed", nprobe, index.centroids.nlist)
    val sp = queries.sparkSession
    val inverted = index.assignments.select(col("vec_id"),
      col("codes").alias("__codes"), col("norm").alias("__cn"), col("cent_id"))
    probeRank(sp, index.centroids, inverted, queries, k, idCol, vecCol,
      np, Some(index.codebook))
  }
}
