package graft

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR, the
  * reference-parity presets (BASELINE.md) and the scale scenarios, writes
  * BENCH_FULL.json and BENCH_SUMMARY.json, and prints ONE compact JSON line
  * of at most 2,000 characters.
  *
  * Protocol:
  *  - timed region: every query is fully materialized through the `noop`
  *    sink (a `count()` would let Catalyst prune the projections away), GC
  *    runs before every repeat after the first, and the entry's value is
  *    the best-of-N minimum — the reference's `--warmup 1 --repeat 3`
  *    protocol (reference benchmarks/harness.py);
  *  - settings: SPARK_GRAFT_REPEAT (default 1; 3 for a reference refresh)
  *    is the base repeat, raised per entry by [[repeatFor]]; child warm-ups
  *    follow from it (one, two from repeat 3, raised by [[warmupsFor]]).
  *    SPARK_GRAFT_BUDGET_SEC (default 1320, 0 = none) is the wall budget;
  *  - one runner: `q_*` entries run in this JVM; every other entry runs in a
  *    fresh [[BenchScenario]] child JVM, one per phase in a fixed order —
  *    scale/auto, parity, then the `_2k` giants. Parity datasets are built
  *    and persisted before timing, like the reference, which excludes
  *    generation (benchmarks/README.md:113). A child's first entry reports
  *    its VmHWM; a later entry its HWM growth or live RSS, whichever is
  *    larger;
  *  - ambient canary: every entry records its run vector and an adjacent
  *    `floor_sec` probe ([[floorJob]], Spark's minimum job latency); an
  *    in-process entry reuses a probe up to 3 entries old (`floor_age`);
  *  - one adjudicator ([[adjudicate]]): an entry is flagged when it exceeds
  *    2× its committed reference (BENCH_REFERENCE.json) by more than 0.4 s
  *    AND its floor-subtracted work exceeds 2× the reference's; raw excess
  *    that the floor explains is listed in `floor_excused`. An entry that
  *    would flag gets one extra run on the spot ([[timedRuns]]); flagged
  *    entries then get one best-of-2 rerun in a fresh child, worst ratio
  *    first, behind a `__floor__` probe; the final value is
  *    min(in-process, isolated);
  *  - budget: the main pass leaves a fixed rerun slice unspent, a child
  *    skips any entry whose reference time × runs no longer fits, and every
  *    entry that did not run is listed in `skipped`. BENCH_FULL.json is
  *    rewritten after every entry, so a killed run still leaves a parseable
  *    capture.
  *
  * BENCH_REFERENCE refresh policy:
  *  - refresh only from a calm, unbudgeted capture
  *    (SPARK_GRAFT_REPEAT=3 SPARK_GRAFT_BUDGET_SEC=0) taken at HEAD after
  *    every correctness gate is green — never from a budgeted gate run,
  *    whose single-run entries carry the box's weather;
  *  - merge element-wise downward-only: a reference may tighten to a lower
  *    new value but never loosen upward (a regression must keep flagging
  *    against the old value until it is fixed or re-based with a written
  *    rationale);
  *  - the GC/spill-band giants ([[bestOf3Names]] entries with band notes in
  *    BASELINE.md) do not tighten to their observed band floor;
  *  - the refresh capture is archived under bench_history/ and the commit
  *    message names it.
  */
object Bench {

  /** The flag factor ROADMAP keeps: 2× the committed reference. */
  private[graft] val FlagFactor = 2.0

  private[graft] def setting(key: String, default: String): String =
    sys.env.getOrElse(s"SPARK_GRAFT_$key", default)
  private[graft] def sfDir: String = setting("SF_DIR", "/root/testdata/sf0.1")
  private[graft] def refPath: String = setting("REF", "BENCH_REFERENCE.json")

  /** Untimed child warm-ups per entry at a base repeat. */
  private[graft] def warmupsAt(repeat: Int): Int = if (repeat >= 3) 2 else 1

  /** The local session both runners measure in. */
  private[graft] def session(logLevel: String): SparkSession = {
    val cpus = setting("CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // SPARK_GRAFT_SHUFFLE: shuffle-partition override for sf1.0/sf10
      // sweeps; "auto" sizes it from the sf dir's bytes (ext.Tuning)
      .config("spark.sql.shuffle.partitions", ext.Tuning.resolveShuffleSetting(
        setting("SHUFFLE", cpus), sfDir, cpus.toInt))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  private[graft] def materialize(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** All N timings (not just the best) — negative entries mark failures
    * (`onError` receives the throwable so the artifact carries its message).
    * GC runs (untimed) before every repeat after the first: broadcast pieces
    * and shuffle buffers from repeat k stay reachable until a collection,
    * so without it heavy presets degrade across their own repeats (observed
    * 3.2→5.2→11.2 s on split_join parent_dominant_2k) and best-of-N
    * measures heap residue instead of the query. */
  private[graft] def runsOfN(repeat: Int, onError: Throwable => Unit = _ => ())
                            (f: => DataFrame): Seq[Double] =
    (1 to repeat).map { i =>
      if (i > 1) System.gc()
      try time(materialize(f)) catch { case e: Throwable => onError(e); -1.0 }
    }

  private[graft] def bestOfN(repeat: Int)(f: => DataFrame): Double = {
    val runs = runsOfN(repeat)(f)
    if (runs.exists(_ < 0)) -1.0 else runs.min
  }

  /** An entry's timed runs: one run, then GC-leveled repeats up to
    * [[repeatFor]] while the slowest run so far still fits `timeLeft`, then
    * ONE more when the best run would still flag ([[adjudicate]], read
    * against `floor`, the latest floor probe). A single dirty sample (a
    * cold JIT, a GC-heavy neighbour, a host burst) then settles for the
    * cost of a run: in budgeted captures the retry cleared 9-16 of the
    * 13-24 entries it retried per run, and without it a budgeted 4-core
    * run flagged 78 entries, of which its rerun child reached 37. Entries
    * with a reference under 0.7 s re-measure mostly the scheduling floor
    * and giants (5 s and over) adjudicate in the rerun child, so neither
    * retries. */
  private[graft] def timedRuns(name: String, repeat: Int, ref: Reference, floor: Double,
                               timeLeft: () => Double, onError: Throwable => Unit)
                              (f: => DataFrame): Seq[Double] = {
    var runs = runsOfN(1, onError)(f)
    def fits: Boolean = runs.forall(_ >= 0) && timeLeft() > runs.max
    def again(): Unit = { System.gc(); runs = runs ++ runsOfN(1, onError)(f) }
    while (runs.size < repeatFor(name, repeat) && fits) again()
    if (fits && ref.times.get(name).exists(r => r >= 0.7 && r < 5.0) &&
        adjudicate(Seq(name -> runs.min), Map(name -> floor), ref).flagged.nonEmpty) again()
    runs
  }

  private[graft] def errorMessage(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      .take(300).replaceAll("[\\r\\n\\t]", " ")

  /** One /proc/self/status field in MB (the one parse VmHWM and VmRSS
    * share, so they stay in sync on format quirks). −1 when unreadable. */
  private def procStatusMb(key: String): Long = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(key))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024).getOrElse(-1L)
    finally src.close()
  } catch { case _: Throwable => -1L }

  /** Linux VmHWM of this process in MB (its true peak RSS). */
  private[graft] def vmHwmMb(): Long = procStatusMb("VmHWM")

  /** Current Linux VmRSS of this process in MB. */
  private[graft] def vmRssMb(): Long = procStatusMb("VmRSS")

  private[graft] val json = new ObjectMapper()

  /** A JSON object's numeric fields in document order; empty for null. */
  private[graft] def numbers(node: JsonNode): Seq[(String, Double)] =
    if (node == null) Nil
    else node.properties().iterator().asScala.map(e => e.getKey -> e.getValue.asDouble()).toList

  /** The committed reference a run is adjudicated against. */
  private[graft] final case class Reference(times: Map[String, Double], floorSec: Double)

  /** "queries" and "floor_sec" of a bench artifact; empty / −1 on any
    * failure (no reference means nothing can flag). */
  private[graft] def readReference(f: File): Reference = try {
    val node = json.readTree(f)
    Reference(numbers(node.get("queries")).toMap,
      Option(node.get("floor_sec")).map(_.asDouble(-1.0)).getOrElse(-1.0))
  } catch { case _: Throwable => Reference(Map.empty, -1.0) }

  /** Entries that flag, and entries whose raw excess the floor excuses. */
  private[graft] final case class Verdict(flagged: Seq[String], floorExcused: Seq[String])

  /** The flag predicate, pure. An entry's RAW value exceeds its reference
    * when it is over [[FlagFactor]]× the reference and more than 0.4 s
    * above it. It FLAGS when, in addition, its floor-subtracted work (value
    * minus its adjacent floor) exceeds the factor × the reference's
    * floor-subtracted work (at least 0.05 s): a 0.5 s entry is mostly
    * scheduling floor, so a warm box (floor 0.31 → 0.39 s) would otherwise
    * push every cheap entry past 2× while the heavy ones sit at 1×. An
    * entry without a positive adjacent floor has no measurable work and
    * never flags; a reference without a floor falls back to the raw test.
    * Entries that exceed raw but do not flag are `floorExcused`. */
  private[graft] def adjudicate(values: Seq[(String, Double)],
                                floors: Map[String, Double],
                                ref: Reference): Verdict = {
    def rawExceeds(name: String, t: Double): Boolean =
      t > 0 && ref.times.get(name).exists(r => t > r * FlagFactor && t - r > 0.4)
    def flags(name: String, t: Double): Boolean =
      rawExceeds(name, t) && (ref.floorSec <= 0 || {
        val f = floors.getOrElse(name, -1.0)
        val work = if (f > 0) t - math.min(f, t) else 0.0
        work > math.max(ref.times(name) - ref.floorSec, 0.05) * FlagFactor
      })
    Verdict(values.collect { case (n, t) if flags(n, t) => n },
      values.collect { case (n, t) if rawExceeds(n, t) && !flags(n, t) => n }.distinct)
  }

  /** image -> tile -> patch flat frame in the reference's dotted-column
    * encoding (IMAGE_SPEC, reference benchmarks/data_generator.py:16-29).
    * `skewShare`: route every second row to image 0 — one hot root key
    * owning ~50% of all leaf rows (skew-guard scenario). */
  private def imageData(spark: SparkSession, images: Int, tiles: Int,
                        patches: Int, pixels: Int,
                        rootPayload: Int = 0, rootAttrs: Int = 0,
                        skewed: Boolean = false): DataFrame = {
    val n = images.toLong * tiles * patches
    val evenImage = (col("id") / (tiles.toLong * patches)).cast("long")
    val imageId = if (skewed) when(col("id") % 2 === 0, 0L).otherwise(evenImage) else evenImage
    val base = Seq(
      imageId.alias("image.image_id"),
      ((col("id") / patches) % tiles).cast("long").alias("image.tile.tile_id"),
      (col("id") % patches).cast("long").alias("image.tile.patch.patch_id"),
      transform(sequence(lit(0), lit(pixels - 1)),
        i => (i + col("id") % 7).cast("float")).alias("image.tile.patch.pixels"))
    val heavyRoot =
      if (rootPayload <= 0) Nil
      else Seq(transform(sequence(lit(0), lit(rootPayload - 1)),
        i => (i + imageId % 5).cast("float"))
        .alias("image.thumbnail"))
    val attrs = (0 until rootAttrs).map(k =>
      concat(lit(s"attr${k}_"), imageId.cast("string"))
        .alias(s"image.attr_$k"))
    spark.range(n).select(base ++ heavyRoot ++ attrs: _*)
  }

  private val imageSpec: HierarchySpec = HierarchySpec(Seq(
    LevelSpec("image", Seq(NamedField("image_id"))),
    LevelSpec("tile", Seq(NamedField("tile_id")), parentKeys = Seq("image_id")),
    LevelSpec("patch", Seq(NamedField("patch_id")), parentKeys = Seq("tile_id"))))

  private val packer = new Packer(imageSpec)
  private val noOrder = new Packer(imageSpec, preserveChildOrder = false)

  /** Parity dataset builders, keyed so the child runner
    * ([[BenchScenario]]) persists each once and shares it. "packed_large"
    * derives from "large" (for the unpack timing). */
  private[graft] def buildDataset(spark: SparkSession, key: String): DataFrame = key match {
    case "large" => imageData(spark, images = 200, tiles = 16, patches = 16, pixels = 4096)
    case "packed_large" => packer.pack(buildDataset(spark, "large"), "image")
    case "parent_dom" => imageData(spark, images = 100, tiles = 8, patches = 8,
      pixels = 64, rootPayload = 16384, rootAttrs = 16)
    case "parent_dom_2k" => imageData(spark, images = 2000, tiles = 8, patches = 8,
      pixels = 64, rootPayload = 16384, rootAttrs = 16)
    case "skewed" => imageData(spark, images = 200, tiles = 16, patches = 16,
      pixels = 4096, skewed = true)
    case "parent_heavy" => imageData(spark, images = 200, tiles = 16, patches = 16,
      pixels = 4096, rootPayload = 4096, rootAttrs = 8)
    case "very_large" => imageData(spark, images = 400, tiles = 16, patches = 16, pixels = 4096)
    case other => throw new IllegalArgumentException(s"unknown dataset '$other'")
  }

  /** (name, dataset key, query builder) for every reference-parity
    * scenario — see BASELINE.md for the targets each one answers to. */
  private[graft] val parityScenarios: Seq[(String, String, DataFrame => DataFrame)] = Seq(
    ("parity_pack_large", "large", d => packer.pack(d, "image")),
    ("parity_pack_no_child_order", "large", d => noOrder.pack(d, "image")),
    ("parity_pack_streaming_8", "large", d => packer.packStreaming(d, "image", 8)),
    ("parity_pack_streaming_32", "large", d => packer.packStreaming(d, "image", 32)),
    ("parity_pack_streaming_64", "large", d => packer.packStreaming(d, "image", 64)),
    ("parity_unpack_large", "packed_large", d => packer.unpack(d, "patch")),
    ("parity_pack_parent_dominant", "parent_dom", d => packer.pack(d, "image")),
    ("parity_pack_split_join_parent_dominant", "parent_dom",
      d => packer.pack(d, "image", parentStrategy = ParentStrategy.SplitJoin)),
    ("parity_pack_parent_dominant_2k", "parent_dom_2k", d => packer.pack(d, "image")),
    ("parity_pack_split_join_parent_dominant_2k", "parent_dom_2k",
      d => packer.pack(d, "image", parentStrategy = ParentStrategy.SplitJoin)),
    ("parity_pack_skewed", "skewed", d => packer.pack(d, "image")),
    ("parity_pack_salted_skewed", "skewed", d => packer.packSalted(d, "image", saltBuckets = 32)),
    // parent_heavy: BOTH payloads heavy — reference pack 1.34 s / split_join
    // 1.57 s (1.17x: split_join LOSES when children dominate anyway)
    ("parity_pack_parent_heavy", "parent_heavy", d => packer.pack(d, "image")),
    ("parity_pack_split_join_parent_heavy", "parent_heavy",
      d => packer.pack(d, "image", parentStrategy = ParentStrategy.SplitJoin)),
    // very_large: 2x `large` (102,400 leaf rows, ~1.6 GB) — no published
    // reference number; scale-up-linearity evidence vs parity_pack_large
    ("parity_pack_very_large", "very_large", d => packer.pack(d, "image")))

  /** Spark's minimum job latency: a trivial two-stage aggregate at the
    * parent-dominant preset's row count. Any parity target below this is
    * a scheduling-floor artifact, not an operator gap. */
  private[graft] def floorJob(spark: SparkSession): DataFrame = spark.range(6400)
    .select((col("id") % 64).alias("k"), col("id").alias("v"))
    .groupBy("k").agg(count(lit(1)).alias("n"), sum(col("v")).alias("s"))

  /** Untimed-setup handle for a scenario: `query` builds the DataFrame to
    * materialize (the TIMED part, re-planned per repeat); `cleanup`
    * unpersists whatever `prepare` cached. */
  private[graft] final case class Prepared(query: () => DataFrame,
                                           cleanup: () => Unit)

  /** Build (untimed) the named non-parity scenario against `sfDir`.
    * Scenario semantics are documented inline; BASELINE.md carries the
    * targets. Single source of truth for both runners. */
  private[graft] def prepareScale(spark: SparkSession, name: String,
                                  sfDir: String): Prepared = {
    def docs = spark.read.parquet(s"$sfDir/documents.parquet")
    name match {
      // full-corpus near-dup dedup — minhash pairs → connected components
      // → survivor set — at production-ish LSH settings (the oracle-gated
      // q_dedup_survivors covers 100 docs; this times the banded path at
      // corpus scale)
      case NmScaleDedup => Prepared(() =>
        graft.ext.Dedup.nearDupSurvivors(docs, "text", "doc_id",
          threshold = 0.5, shingleN = 3, numHashes = 128, bands = 32), () => ())
      // hot-bucket skew-guard stress: the sf corpus PLUS a degenerate
      // near-clique — 20k copies of one boilerplate doc, so every one of
      // its 32 band buckets holds 20k rows >> maxBucketSize=1000 (exactly
      // the input class the cap exists for). The two-pass groupBy+anti-join
      // guard drops the clique from partial counts without ever
      // materializing a hot bucket in one task.
      case NmScaleHotBucket => Prepared(() => {
        val corpus = docs.select(col("doc_id"), col("text"))
        val boiler = spark.range(20000).select(
          (col("id") + 10000000L).alias("doc_id"),
          lit("lorem ipsum boilerplate footer text repeated on every " +
            "page of the crawl corpus").alias("text"))
        graft.ext.Dedup.minhashCandidates(corpus.unionByName(boiler),
          "text", "doc_id", shingleN = 3, numHashes = 128, bands = 32,
          maxBucketSize = 1000)
      }, () => ())
      // exact repeated-span sweep over the full corpus: ~1 hashed window
      // per corpus token through a map-side-combinable count + semi-join
      case NmScaleSpans => Prepared(() =>
        graft.ext.Curation.repeatedSpans(docs, "doc_id", "text",
          windowTokens = 8), () => ())
      case NmScaleDropSpans => Prepared(() =>
        graft.ext.Curation.dropRepeatedSpans(docs, "doc_id", "text",
          windowTokens = 8), () => ())
      // SemDeDup at corpus scale: Lloyd-trained clusters + within-cluster
      // cosine pruning + components (the nlist=1 equivalence gate lives in
      // q_semdedup). nlist is SIZED from the corpus (nlistForCorpus — the
      // paper's bounded-cluster rule): a pinned nlist=16 measured 56× for
      // 10× data at sf10 because within-cluster all-pairs is quadratic in
      // cluster population. At the driver's sf0.1 (2k vectors) the rule
      // floors at 16, so the committed reference is unaffected.
      case NmScaleSemDedup =>
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val nlist = graft.ext.Similarity.nlistForCorpus(emb.count())
        Prepared(() =>
          graft.ext.Dedup.semDedupSurvivors(emb, "embedding",
            "vec_id", threshold = 0.5, nlist = nlist, trainIters = 2,
            trainSampleMult = 256),
          () => ())
      // packSequences shard-knob scaling: parallelism = numShards, so wall
      // time should improve 8 → 64 shards once per-shard row counts
      // dominate the scheduling floor
      case n if n.startsWith("scale_seq_packing_") =>
        val shards = n.stripPrefix("scale_seq_packing_").toInt
        Prepared(() => graft.ext.Curation.packSequences(docs,
          "doc_id", "text", maxTokens = 2048, numShards = shards), () => ())
      // the ANN scale path against the brute-force baseline above: IVF
      // with nlistForCorpus-sized lists, sampled Lloyd training, and the
      // nprobe sizing RULE (nprobeForRecall — ~1/16 of the lists, so each
      // query scans ~6% of the corpus instead of all of it; the rule owns
      // the recall/latency knob the way nlistForCorpus owns cluster
      // count). Recall-vs-brute gated at q_knn_ivf_recall; this times the
      // scale shape. MUST precede the generic scale_knn_ prefix case.
      case n if n.startsWith("scale_knn_ivf_") =>
        val nq = n.stripPrefix("scale_knn_ivf_").stripSuffix("q").toInt
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .persist(StorageLevel.MEMORY_AND_DISK)
        val cnt = emb.count()
        val nlist = graft.ext.Similarity.nlistForCorpus(cnt)
        Prepared(() => graft.ext.Similarity.ivfTopK(
            emb, emb.filter(col("vec_id") < nq), 10, "vec_id", "embedding",
            nlist = nlist, nprobe = graft.ext.Similarity.nprobeForRecall(nlist),
            trainIters = 1, trainSampleMult = 256),
          () => { emb.unpersist(); () })
      // top-k query-count scaling over a PRE-CACHED corpus: with the
      // bounded-heap TopKByScore the cost model is one corpus scan +
      // (k × queries) heap entries per partition, so time grows far
      // slower than the query count
      case n if n.startsWith("scale_knn_") =>
        val nq = n.stripPrefix("scale_knn_").stripSuffix("q").toInt
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .persist(StorageLevel.MEMORY_AND_DISK)
        emb.count()
        Prepared(() => graft.ext.Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") < nq), 10, "vec_id", "embedding"),
          () => { emb.unpersist(); () })
      // image near-dup at corpus scale (beyond the 120-image oracle
      // lattice): sfDir-proportional planted PNG corpus — documents-table
      // sizing, 50k originals + 12.5k perturbed clones at sf1.0 — with
      // REAL JDK decode. Untimed: generation + persist. Timed: the full
      // operator path — repartitionBySize hash-spread, one decode pass
      // (payload column dies there), 8-byte dhashes, pigeonhole-blocked
      // Hamming join under the production hot-block cap. Clone-pair
      // recall at this scale is gated by MultimodalCodecSpec; value-level
      // cross-engine equality stays with q_image_dhash/q_image_neardup.
      case NmScaleImageNeardup =>
        val n = math.max(1000L, math.min(docs.count(), 50000L)).toInt
        val assets = graft.ext.Multimodal.plantedImagesWithClones(
          spark, n, n / 4, cloneOffset = 1000000L, partitions = 64)
          .persist(StorageLevel.MEMORY_AND_DISK)
        assets.count()
        Prepared(() => graft.ext.Multimodal.imageNearDupPairs(
            graft.ext.Multimodal.repartitionBySize(assets, 64),
            maxDist = 2, maxBucketSize = 2000),
          () => { assets.unpersist(); () })
      // probe-sized shuffle width vs the session default, on the one pack
      // shape the sf10 sweep showed going super-linear at a fixed width
      // (q_pack_split_join): the sized arm applies planPack's
      // recommendation (a recommend-only API — applied here exactly as a
      // pipeline author would, via session conf) around the SAME pack on
      // the SAME cached input. At sf <= 1.0 the estimated payload floors
      // the recommendation at the session parallelism so the arms tie by
      // design; the separation is the sf10 sweep (BASELINE.md).
      case n @ (`NmAutoPackLineDefault` | `NmAutoPackLineSized`) =>
        val flat = Tpch.flatOrderLines(spark, sfDir)
          .persist(StorageLevel.MEMORY_AND_DISK)
        flat.count()
        val pk = Tpch.orderPacker
        val before = spark.conf.get("spark.sql.shuffle.partitions")
        if (n == NmAutoPackLineSized) {
          val plan = pk.planPack(flat)
          System.err.println(s"[bench] $n: planPack estimated " +
            s"${plan.estimatedShuffleBytes / (1 << 20)} MB -> " +
            s"${plan.recommendedPartitions} partitions (was $before)")
          spark.conf.set("spark.sql.shuffle.partitions",
            plan.recommendedPartitions.toString)
        }
        Prepared(() => pk.unpack(pk.pack(flat, "lineitem",
            parentStrategy = ParentStrategy.SplitJoin), "lineitem"),
          () => {
            spark.conf.set("spark.sql.shuffle.partitions", before)
            flat.unpersist(); ()
          })
      // auto strategy selection: the probe + the strategy it picks, on the
      // presets where the choice matters (compare the manual parity_pack_*
      // entries on the same datasets)
      case n if n.startsWith("auto_pack_") =>
        val ds = buildDataset(spark, n.stripPrefix("auto_pack_"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        ds.count()
        Prepared(() => packer.packAuto(ds, "image"),
          () => { ds.unpersist(); () })
      // incremental pack merge: a 1% delta (new tiles for 2 of 200
      // images) into the fully-packed `large` table. The untouched 99%
      // must pass through the anti-join without repack cost — compare
      // parity_pack_large, which pays the full explode+regroup+sort
      case NmScalePackMerge =>
        val packed = buildDataset(spark, "packed_large")
          .persist(StorageLevel.MEMORY_AND_DISK)
        packed.count()
        val delta = buildDataset(spark, "large")
          .filter(col("`image.image_id`") < 2)
          .withColumn("image.tile.tile_id", col("`image.tile.tile_id`") + 16)
          .persist(StorageLevel.MEMORY_AND_DISK)
        delta.count()
        Prepared(() => packer.mergePacked(packed, delta, "image"),
          () => { packed.unpersist(); delta.unpersist(); () })
      // selective large-large join, bloom-pruned vs plain, same aggregate.
      // Auto-broadcast is disabled for BOTH (at sf0.1 the 6k-row build
      // side would broadcast and hide the probe shuffle this scenario
      // exists to measure — the 100 TB shape is a build side too big or
      // too late for broadcast). The bloom variant's timed thunk INCLUDES
      // the filter-construction pass — the comparison is end-to-end.
      case n @ (NmScaleJoinPlain | NmScaleJoinBloom) =>
        val conf = spark.conf
        val prevB = conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
        val prevA = conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        Prepared(() => {
          val probe = spark.read.parquet(s"$sfDir/lineitem.parquet")
            .withColumnRenamed("l_orderkey", "okey")
          val build = spark.read.parquet(s"$sfDir/orders.parquet")
            .filter(col("o_totalprice") > 480000.0)
            .select(col("o_orderkey").alias("okey"), col("o_orderpriority"))
          val joined =
            if (n == NmScaleJoinBloom)
              graft.ext.Skew.bloomPrunedJoin(probe, build, Seq("okey"),
                expectedItems = 100000L)
            else probe.join(build, Seq("okey"), "inner")
          joined.groupBy("o_orderpriority")
            .agg(count(lit(1)).alias("n_lines"), sum("l_quantity").alias("sum_qty"))
        }, () => {
          conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
          prevA match {
            case Some(v) =>
              conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
            case None =>
              conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
          }
          ()
        })
      // segment-level exact substring dedup over the corpus PLUS 20k
      // synthetic docs whose tail segments are all identical (the
      // boilerplate mass the operator exists to collapse): the shared
      // segments must collapse to one winner per fingerprint in the
      // min(struct) aggregation, never a hot-key row explosion
      case NmScaleSegDedup => Prepared(() => {
        val boiler = spark.range(20000).select(
          (col("id") + 10000000L).alias("doc_id"),
          concat(lit("unique"), col("id").cast("string"),
            lit(" header words here for the leading segment of the page " +
              "lorem ipsum boilerplate footer text repeated on every " +
              "page of the crawl corpus")).alias("text"))
        graft.ext.Dedup.segmentDedup(
          docs.select(col("doc_id"), col("text")).unionByName(boiler),
          "text", "doc_id", segmentWords = 10)
      }, () => ())
      // nucleus selection over 1M rows x 1000 groups: times the
      // shared-exchange double-window path at row counts where the sort,
      // not the scheduling floor, dominates
      case NmScaleTopP => Prepared(() =>
        graft.ext.Curation.topPByScore(
          spark.range(1000000).select((col("id") % 1000).alias("g"),
            col("id").alias("id"), ((col("id") * 37) % 1000).alias("score")),
          "g", "id", "score", p = 0.5), () => ())
      // the skew pair: one 'mega' group holds 50% of 8M rows. The plain
      // form funnels that group into ONE window task; the bucketed form
      // sorts only the crossing band, split across 32 score bands — the
      // pair measures exactly that delta (same data, same kept set,
      // oracle-gated by q_top_p_skewed). 8M: below that, local[32]
      // in-memory sorts are so cheap the two-phase constant costs mask
      // the structural win the operator exists for.
      case n @ (NmScaleTopPSkewPlain | NmScaleTopPSkewBuck) => Prepared(() => {
        val skewed = spark.range(8000000).select(
          when(col("id") % 2 === 0, lit("mega"))
            .otherwise((col("id") % 1000).cast("string")).alias("g"),
          col("id").alias("id"), ((col("id") * 37) % 1000).alias("score"))
        if (n == NmScaleTopPSkewBuck)
          graft.ext.Curation.topPByScoreBucketed(
            skewed, "g", "id", "score", p = 0.5, buckets = 32)
        else graft.ext.Curation.topPByScore(skewed, "g", "id", "score", p = 0.5)
      }, () => ())
      // the hub pair: a co-occurrence graph with one planted hub (node
      // 12500 — a MID-RANGE id — joins 50% of the groups; everyone else
      // ~5). The id-oriented wedge join's fan-out through a middle
      // vertex v is indeg(v)×outdeg(v) under the arbitrary id order —
      // for a mid-id hub that is ~(deg/2)² wedge rows through one join
      // key; the degree-ordered form points every hub edge INTO the hub
      // (out-degree 0) so the wedge bound is Σ outdeg² over the sparse
      // background only. Same cached edge list, same exact triangle
      // count (GraphSpec hub test) — the pair measures exactly the
      // orientation delta. Round-13 sizing (VERDICT r12 #3 receipts in
      // BASELINE.md): plain 10.3 s best-of-3 / ordered 2.9 s (3.6×) —
      // the ordered arm is job-floor-bound near 3 s, which is what caps
      // the legible ratio near a ~10 s plain cost.
      case n @ (NmScaleTriPlain | NmScaleTriOrdered) =>
        // round 13 (VERDICT r12 #3): preset shrunk 30000 → 15000 groups —
        // the plain counter-example cost 14.6 s committed / 34 s on a hot
        // box to restate a known lesson every capture. At 15000 the
        // ordered/plain contrast stays ≈3× (the O(m^1.5) claim remains
        // legible) at roughly half the wall cost.
        val groups = 15000L
        val per = 5L
        val nNodes = 25000L
        val members = spark.range(groups * per).select(
          (col("id") / per).cast("long").alias("g"),
          (abs(hash(col("id"))).cast("long") % nNodes + 1L).alias("n"))
        val hub = spark.range(groups).filter(col("id") % 10 < 5)
          .select(col("id").alias("g"), lit(nNodes / 2).alias("n"))
        val edges = graft.ext.Graph.coOccurrenceEdges(
          members.unionByName(hub), "g", "n")
          .persist(StorageLevel.MEMORY_AND_DISK)
        edges.count()
        Prepared(() =>
          if (n == NmScaleTriOrdered) graft.ext.Graph.triangleStats(edges)
          else CounterExamples.triangleStatsIdOriented(edges),
          () => { edges.unpersist(); () })
      // the chain pair (round 13): connectedComponents' STAR CONTRACTION
      // (merge into min neighbor + rewrite the edge set) is what makes
      // convergence O(log n) — this pair measures it on the worst case
      // the claim is about: one diameter-16 chain (min label must cross
      // every hop) over 50k random noise edges (subcritical mean degree
      // 0.5 — tiny noise components, so the planted chain DOMINATES the
      // graph diameter and the plain arm's round count is the chain's).
      // The contraction arm converges in ~log₂ rounds over a
      // geometrically SHRINKING edge frame; the propagation-only
      // counter-example ([[CounterExamples.propagationComponents]]) pays
      // ~diameter rounds of full-edge-set work.
      // (A label-only pointer-halving middle ground measured 75 rounds =
      // O(diameter) on a random-id topology — it helps only when ids
      // align with the graph, which is why it's gone.) Round counts are
      // printed to stderr and spec-locked in ExtSpec.
      case n @ (NmScaleCcChain | NmScaleCcChainPlain) =>
        val diameter = 16
        val noiseNodes = 200000L
        val chain = spark.range(diameter).select(
          col("id").alias("a"), (col("id") + 1).alias("b"))
        val noise = spark.range(50000).select(
          (abs(hash(col("id"))).cast("long") % noiseNodes + 1000L).alias("a"),
          (abs(hash(col("id") * 7 + 1)).cast("long") % noiseNodes + 1000L).alias("b"))
        val edges = chain.unionByName(noise)
          .persist(StorageLevel.MEMORY_AND_DISK)
        edges.count()
        Prepared(() => {
          val (labels, rounds) =
            if (n == NmScaleCcChain)
              graft.ext.Dedup.connectedComponentsCounted(edges, "a", "b", maxIter = 25)
            else CounterExamples.propagationComponents(edges, "a", "b", maxIter = 40)
          System.err.println(s"[bench] $n rounds=$rounds diameter=$diameter")
          labels.agg(count(lit(1)).alias("n_nodes"),
              countDistinct(col("comp")).alias("n_components"))
            .withColumn("rounds", lit(rounds).cast("long"))
        }, () => { edges.unpersist(); () })
      // Lloyd training + narrow assignment at nlist=64: the clustering
      // cost model is iters x (broadcast crossJoin + per-centroid mean);
      // the assignment itself adds NO shuffle on top
      // trainSampleMult: Lloyd refinement runs on a bounded hash-stride
      // sample (FAISS-style ~256 points/centroid); the label assignment
      // itself stays exact and full-corpus
      // BPE-APPLY counter-example pair (VERDICT r14 #1): the apply half
      // of the tokenizer at a REALISTIC merge-table size. The rankmap arm
      // runs K=512 synthetic merges as ONE narrow mapPartitions pass over
      // the distinct-word table (per-word cost independent of K); the
      // folded-Catalyst arm is capped at K=64 because it DOES NOT RUN at
      // all past K≈100: each chained `aggregate` HOF costs the analyzer
      // an iteration, and at K=128 Spark 4.1 throws `Max iterations (100)
      // reached for batch Resolution` before touching any data
      // (spec-pinned in BpeSpec). Same idiom as cc_chain/top_p: the bad
      // arm runs at the largest size where it still completes, and the
      // hard K-ceiling is the documented finding. Both arms re-plan per
      // repeat, so the folded arm's planning cost — the scale-killer
      // axis — is inside the timed window.
      case n @ (NmScaleBpeRankmap | NmScaleBpeFolded) => Prepared(() =>
        if (n == NmScaleBpeRankmap)
          graft.ext.Bpe.encodeCounts(docs, "doc_id", "text", syntheticBpeMerges(512))
        else CounterExamples.foldedEncodeCounts(docs, "doc_id", "text",
          syntheticBpeMerges(64)), () => ())
      case NmScaleKmeans => Prepared(() =>
        graft.ext.Similarity.kmeansAssign(
          spark.read.parquet(s"$sfDir/embeddings.parquet"), "vec_id",
          "embedding", nlist = 64, trainIters = 2,
          trainSampleMult = 256), () => ())
      // constraint report over the full lineitem: every row-local rule
      // rides ONE conditional-sum pass; the uniqueness rule is the only
      // shuffle
      case NmScaleQuality => Prepared(() =>
        graft.ext.Profile.qualityReport(
          spark.read.parquet(s"$sfDir/lineitem.parquet"),
          notNull = Seq("l_shipdate", "l_returnflag"),
          unique = Seq(Seq("l_orderkey", "l_linenumber")),
          ranges = Seq(("l_quantity", 1.0, 25.0), ("l_discount", 0.0, 0.1)),
          patterns = Seq(("l_returnflag", "^[ANR]$"), ("l_linestatus", "^O$"))),
        () => ())
      case other =>
        throw new IllegalArgumentException(s"unknown scale scenario '$other'")
    }
  }

  /** Per-entry repeat tiers, raising the base repeat (SPARK_GRAFT_REPEAT):
    *  - the `_2k` giant-group presets run best-of-3 with the inter-run GC
    *    [[runsOfN]] performs — their documented 2-6x GC/spill band means a
    *    best-of-2 still samples the slow tail often enough to flag in every
    *    capture; their committed reference is refreshed from THIS protocol;
    *  - JIT-dominated q_ entries (many tiny driver-loop jobs over small
    *    data: Lloyd/label-propagation/span passes) read 3-4x their calm
    *    value on their FIRST run in any JVM — q_drop_repeated_spans measured
    *    [4.46, 1.49, 1.38] s cold — so best-of-3 settles them in the main
    *    pass and in the rerun child;
    *  - the streaming parity trio and auto_pack_skewed are GC-band bimodal
    *    (grouped-child samples read 4.7-7.9x references that an isolated
    *    rerun cleared to ~1x); their runs are cheap, so extra passes cost
    *    less than a rerun;
    *  - everything else takes the base repeat; the flag + isolated-rerun net
    *    adjudicates tail samples. */
  private[graft] val bestOf3Names = Set(
    // the giant-group _2k tier: a COLD child JVM needs the warmup plus
    // several passes to reach this preset's 8-20 s steady band — dropping
    // its warmup and third run recorded [135.9, 100.8] on a CALM floor vs
    // the 10 s reference, i.e. JVM ramp, not the operator; 1 warmup +
    // best-of-3 records ~1.1x
    "parity_pack_parent_dominant_2k", "parity_pack_split_join_parent_dominant_2k",
    "auto_pack_parent_dom_2k",
    // the JIT-dominated q_ tier: their FIRST run in any JVM reads 3-4x calm
    // deterministically (many tiny jobs), so the third pass pays for itself
    "q_drop_repeated_spans", "q_semdedup", "q_semdedup_recall",
    "q_dedup_survivors", "q_knn_ivf_trained", "q_shuffled_export",
    "q_sq8_recall",
    // same clustering machinery as q_dedup_survivors plus the
    // winner-selection aggs; calm run vector [5.31, 1.81, 1.37]
    "q_dedup_best_survivors")
  // GC-band presets (streaming trio, skew probes, large packs): best-of-2
  // samples the band
  private[graft] val bestOf2Names = Set(
    "parity_pack_large", "parity_pack_very_large",
    "auto_pack_skewed",
    "parity_pack_streaming_8", "parity_pack_streaming_32",
    "parity_pack_streaming_64",
    // giant-single-list pack (hot key owns 50% of leaf rows)
    "parity_pack_skewed")
  private[graft] def repeatFor(name: String, base: Int): Int =
    if (bestOf3Names.contains(name)) math.max(base, 3)
    else if (bestOf2Names.contains(name)) math.max(base, 2)
    else base

  /** The `_2k` giant-group presets; measured last, in their own child. */
  private[graft] val giantNames = Set("parity_pack_parent_dominant_2k",
    "parity_pack_split_join_parent_dominant_2k", "auto_pack_parent_dom_2k")

  /** Untimed child warm-ups per entry: the JIT-shaped best-of-3 entries get
    * two at any base (their first post-warm-up run otherwise still carries
    * JIT tail — an auto_pack_skewed grouped-child sample read 9.4 s vs 3.06 s
    * calm). The giants keep the base: removing their warm-up records JVM
    * ramp (135 s for a 10 s preset), while a second one buys nothing
    * best-of-3 doesn't. */
  private[graft] val extraWarmupNames: Set[String] = bestOf3Names -- giantNames
  private[graft] def warmupsFor(name: String, base: Int): Int =
    if (extraWarmupNames.contains(name)) math.max(base, 2) else base

  // Non-parity scenario names, single-sourced: the scenario blocks below
  // and the SPARK_GRAFT_ONLY typo warning both read THESE, so a renamed
  // or added scenario can't silently drift the known-name list.
  private[graft] val NmScaleDedup = "scale_neardup_survivors"
  private[graft] val NmScaleHotBucket = "scale_neardup_hotbucket"
  private[graft] val NmScaleSemDedup = "scale_semdedup"
  private[graft] val NmScaleSpans = "scale_repeated_spans"
  private[graft] val NmScaleDropSpans = "scale_drop_repeated_spans"
  private[graft] val NmScalePackMerge = "scale_pack_merge"
  private[graft] val NmScaleJoinPlain = "scale_selective_join_plain"
  private[graft] val NmScaleJoinBloom = "scale_selective_join_bloom"
  private[graft] val NmScaleSegDedup = "scale_segment_dedup"
  private[graft] val NmScaleTopP = "scale_top_p"
  private[graft] val NmScaleTopPSkewPlain = "scale_top_p_skewed_plain"
  private[graft] val NmScaleTopPSkewBuck = "scale_top_p_skewed_bucketed"
  private[graft] val NmScaleKmeans = "scale_kmeans"
  private[graft] val NmScaleQuality = "scale_quality_report"
  private[graft] val NmScaleTriPlain = "scale_triangle_hub_plain"
  private[graft] val NmScaleTriOrdered = "scale_triangle_hub_ordered"
  private[graft] val NmAutoPackLineDefault = "auto_pack_lineitem_default"
  private[graft] val NmAutoPackLineSized = "auto_pack_lineitem_sized"
  private[graft] val NmScaleImageNeardup = "scale_image_neardup"
  private[graft] val NmScaleCcChain = "scale_cc_chain"
  private[graft] val NmScaleCcChainPlain = "scale_cc_chain_plain"
  private[graft] val NmScaleBpeRankmap = "scale_bpe_rankmap_512"
  private[graft] val NmScaleBpeFolded = "scale_bpe_folded_64"

  /** Deterministic synthetic-but-valid merge table for the BPE-apply
    * counter-example arms: the first `k` of the 1296 ordered single-char
    * pairs over [a-z0-9]. Semantically a legal merge list (distinct
    * pairs); only the TIMING story needs it — training a real K=512
    * table would cost 512 sequential Spark jobs of untimed setup. */
  private[graft] def syntheticBpeMerges(k: Int): Seq[(String, String)] = {
    val alpha = ('a' to 'z').map(_.toString) ++ ('0' to '9').map(_.toString)
    (for (l <- alpha; r <- alpha) yield (l, r)).take(k)
  }
  private[graft] val seqPackingShards = Seq(8, 64)
  private[graft] val knnQueryCounts = Seq(100, 1000)
  private[graft] val autoPackKeys = Seq("parent_dom_2k", "skewed")
  private[graft] val scaleScenarioNames: Seq[String] =
    Seq(NmScaleDedup, NmScaleHotBucket, NmScaleSemDedup, NmScaleSpans,
      NmScaleDropSpans, NmScalePackMerge, NmScaleJoinPlain, NmScaleJoinBloom,
      NmScaleSegDedup, NmScaleTopP, NmScaleTopPSkewPlain, NmScaleTopPSkewBuck,
      NmScaleKmeans, NmScaleQuality,
      NmScaleTriPlain, NmScaleTriOrdered, NmScaleImageNeardup,
      NmScaleCcChain, NmScaleCcChainPlain,
      NmScaleBpeRankmap, NmScaleBpeFolded) ++
    seqPackingShards.map(s => s"scale_seq_packing_$s") ++
    knnQueryCounts.map(n => s"scale_knn_${n}q") ++
    Seq("scale_knn_ivf_1000q") ++
    autoPackKeys.map(k => s"auto_pack_$k") ++
    Seq(NmAutoPackLineDefault, NmAutoPackLineSized)

  /** Plain Scala values → Jackson-serializable Java values, order kept. */
  private def toJava(v: Any): Any = v match {
    case m: collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case x => x
  }
  private def render(fields: (String, Any)*): String =
    json.writeValueAsString(toJava(mutable.LinkedHashMap(fields: _*)))

  private def writeFile(f: File, text: String): Unit = try {
    Option(f.getAbsoluteFile.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(text) finally w.close()
  } catch { case e: Throwable =>
    System.err.println(s"[bench] cannot write $f: ${e.getMessage}")
  }

  /** One run's measurements and the three artifacts written from them:
    * BENCH_FULL.json at `out` (rewritten after every entry),
    * BENCH_SUMMARY.json beside it, and the compact stdout line. */
  private[graft] final class Capture(val sf: String, val out: File, repeat: Int,
                                     budgetSec: Double, ref: Reference,
                                     refName: String) {
    private val startNs = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - startNs) / 1e9
    /** Main-pass results (in-process or first child), in run order. */
    val entries = mutable.LinkedHashMap.empty[String, BenchScenario.ForkResult]
    val skipped = mutable.ListBuffer.empty[String]
    var verdict = Verdict(Nil, Nil)
    var isolated = Map.empty[String, Double]
    var floorSec = -1.0
    var rerunFloor = -1.0

    def record(name: String, r: BenchScenario.ForkResult): Unit = {
      if (r.err.exists(_.startsWith("budget-skipped"))) skipped += name
      else entries(name) = r
      writeFile(out, full(partial = true))
    }

    /** An entry's final value: the best of its main-pass and isolated runs. */
    def value(name: String): Double = {
      val t = entries(name).sec
      isolated.get(name).filter(v => v > 0 && (t <= 0 || v < t)).getOrElse(t)
    }
    def good: Seq[(String, Double)] =
      entries.keys.toSeq.map(n => n -> value(n)).filter(_._2 >= 0)
    def errors: Seq[(String, String)] = entries.toSeq.collect {
      case (n, r) if value(n) < 0 => n -> r.err.getOrElse("failed (no message captured)")
    }
    def total: Double = good.map(_._2).sum
    /** Calm-floor estimate the rerun probe is read against. */
    def calmFloor: Double =
      if (ref.floorSec > 0) ref.floorSec
      else (entries.values.map(_.floor).toSeq :+ floorSec).filter(_ > 0).minOption.getOrElse(-1.0)

    def full(partial: Boolean): String = {
      val calm = calmFloor
      val hot = calm > 0 && rerunFloor > calm * 1.5
      render("metric" -> "total", "value" -> total, "unit" -> "sec",
        "partial" -> partial, "repeat" -> repeat, "budget_sec" -> budgetSec,
        "elapsed_sec" -> elapsedSec, "skipped" -> skipped,
        "peak_rss_mb" -> vmHwmMb(), "floor_sec" -> floorSec,
        "n_queries" -> good.size, "flag_factor" -> FlagFactor,
        "reference" -> (if (ref.times.isEmpty) null else refName),
        "flagged" -> verdict.flagged, "floor_excused" -> verdict.floorExcused,
        "inprocess" -> verdict.flagged.map(n => n -> entries(n).sec).toMap,
        "isolated_rerun" -> isolated, "rerun_floor" -> rerunFloor,
        "rerun_floor_ratio" -> (if (calm > 0 && rerunFloor > 0)
          math.round(rerunFloor / calm * 1000) / 1000.0 else -1.0),
        "floor_hot" -> (if (hot) verdict.flagged else Nil),
        "errors" -> errors.toMap,
        "scenario_rss_mb" -> entries.collect { case (n, r) if r.rssMb >= 0 => n -> r.rssMb },
        "floors" -> entries.collect { case (n, r) if r.floor > 0 => n -> r.floor },
        "floor_age" -> entries.map { case (n, r) => n -> r.floorAge },
        "runs" -> entries.map { case (n, r) => n -> r.runs },
        "queries" -> mutable.LinkedHashMap(good: _*), "sf" -> sf)
    }

    private def headline: Seq[(String, Any)] = Seq("metric" -> "total",
      "value" -> total, "unit" -> "sec", "elapsed_sec" -> elapsedSec,
      "n_skipped" -> skipped.size, "n_errors" -> errors.size,
      "peak_rss_mb" -> vmHwmMb(), "floor_sec" -> floorSec, "n_queries" -> good.size)
    private def withQueries(head: Seq[(String, Any)],
                            queries: collection.Map[String, Double]): String =
      render(head ++ Seq("full" -> out.getPath, "queries" -> queries, "sf" -> sf): _*)

    /** BENCH_SUMMARY.json: the headline plus every final value. */
    def summary: String = withQueries(headline, mutable.LinkedHashMap(good: _*))

    /** The stdout line: parity entries first, then the slowest, as many as
      * keep the line within 2,000 characters (a log tail keeps only that
      * much, so a line carrying all 200+ timings would be cut). */
    def compact: String = {
      val (head, all) = (headline, good)
      val shown = mutable.LinkedHashMap.empty[String, Double]
      all.sortBy { case (k, v) => (if (k.startsWith("parity_")) 0 else 1, -v) }
        .foreach { case (k, v) =>
          shown(k) = v
          if (withQueries(head :+ ("queries_omitted" -> 999), shown).length > 2000)
            shown.remove(k)
        }
      withQueries(head :+ ("queries_omitted" -> (all.size - shown.size)), shown)
    }

    def finish(): Unit = {
      writeFile(out, full(partial = false))
      writeFile(new File(out.getAbsoluteFile.getParentFile, "BENCH_SUMMARY.json"), summary)
    }
  }

  /** JVM flags for a child: the parent's own `--add-opens`, heap and `-D`
    * settings, so the child runs exactly as the launcher configured it. */
  private def childJvmArgs: Seq[String] =
    ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq.filter(a =>
      a.startsWith("--add-opens=") || a.startsWith("-Xmx") || a.startsWith("-D"))

  /** Run `names` in one fresh [[BenchScenario]] JVM, handing each result to
    * `onResult` as the child prints it. A child that dies (an OutOfMemory
    * exit, say) costs only the entry it was running: that entry gets an
    * error record and the rest go to a fresh child, as do the entries a
    * child leaves after a failed entry. `budget()` <= 0 means unbounded. */
  private[graft] def runChild(names: Seq[String], repeat: Int, budget: () => Double)
                             (onResult: (String, BenchScenario.ForkResult) => Unit): Unit =
    if (names.nonEmpty) {
      val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ childJvmArgs ++
        Seq("-cp", System.getProperty("java.class.path"), "graft.BenchScenario",
          s"--repeat=$repeat", s"--budget=${budget()}") ++ names
      val seen = mutable.Set.empty[String]
      var running: Option[String] = None
      val rc = try {
        val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
        // drain to EOF: a full pipe buffer would block the child's writes
        val src = scala.io.Source.fromInputStream(proc.getInputStream)
        try src.getLines().foreach { line =>
          if (line.startsWith(BenchScenario.Start)) running = Some(line.drop(BenchScenario.Start.length))
          else BenchScenario.parseScenarioLine(line).foreach { case (n, r) =>
            seen += n; running = None; onResult(n, r)
          }
        } finally src.close()
        proc.waitFor()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] child failed: ${e.getMessage}"); -1
      }
      // the entry the child started but never reported is the one it died
      // in; a child that reported nothing at all fails its first entry
      val missing = names.filterNot(seen)
      val died = running.orElse(if (seen.isEmpty) missing.headOption else None).toSeq
      died.foreach(n => onResult(n, BenchScenario.ForkResult(
        -1.0, -1L, -1.0, Nil, Some(s"child died during this entry (rc=$rc)"))))
      runChild(missing.filterNot(died.contains), repeat, budget)(onResult)
    }

  def main(args: Array[String]): Unit = {
    val repeat = setting("REPEAT", "1").toInt
    val budgetSec = setting("BUDGET_SEC", "1320").toDouble
    val ref = readReference(new File(refPath))
    val cap = new Capture(sfDir,
      new File(setting("BENCH_OUT", "target/bench/BENCH_FULL.json")),
      repeat, budgetSec, ref, refPath)
    def budgetLeft: Double =
      if (budgetSec <= 0) Double.MaxValue else budgetSec - cap.elapsedSec
    // the fixed slice the isolated rerun keeps; without a reference
    // nothing can flag, so nothing is held
    val rerunSlice =
      if (budgetSec <= 0 || ref.times.isEmpty) 0.0 else math.min(150.0, budgetSec * 0.2)
    def mainLeft: Double = budgetLeft - rerunSlice
    // a child gets what is left less 30 s for its own start and shutdown
    def childBudget(left: Double): Double =
      if (budgetSec <= 0) 0.0 else math.max(1.0, left - 30.0)

    // SPARK_GRAFT_ONLY="q_pack,scale_": substring filter over entry names;
    // a token that matches nothing warns instead of passing silently
    val only = setting("ONLY", "").split(',').map(_.trim).filter(_.nonEmpty).toSeq
    def selected(name: String): Boolean = only.isEmpty || only.exists(name.contains)
    val known = SparkEntry.queries.keys.toSeq ++ parityScenarios.map(_._1) ++
      scaleScenarioNames
    only.filterNot(tok => known.exists(_.contains(tok))).foreach(tok =>
      System.err.println(s"[bench] WARNING: SPARK_GRAFT_ONLY token '$tok' matches NO bench entry"))

    // ---- q_* entries in this JVM ----
    val spark = session("WARN")
    // JVM + codegen warm-up on the smallest sf, and the floor job's own
    // codegen, both excluded from timings
    try materialize(SparkEntry.queries("q_enrich_aggs")(spark, "/root/testdata/sf0.001"))
    catch { case _: Throwable => }
    var floor = try time(materialize(floorJob(spark))) catch { case _: Throwable => -1.0 }
    var measured = 0
    SparkEntry.queries.toSeq.filter(e => selected(e._1)).foreach { case (name, fn) =>
      // 30 s covers the heaviest single in-process entry
      if (mainLeft < 30) cap.skipped += name
      else {
        var err: Option[String] = None
        val runs = timedRuns(name, repeat, ref, floor, () => mainLeft,
          e => err = Some(errorMessage(e)))(fn(spark, sfDir))
        // a fresh floor probe every 4th entry (~1 s each on a loaded box)
        val fresh = measured % 4 == 0 || floor < 0
        if (fresh) floor = time(materialize(floorJob(spark)))
        cap.record(name, BenchScenario.ForkResult(
          if (runs.exists(_ < 0)) -1.0 else runs.min, -1L, floor, runs, err,
          floorAge = if (fresh) 0 else measured % 4))
        measured += 1
      }
    }
    cap.floorSec = bestOfN(repeat)(floorJob(spark))
    // release the parent before any child measures beside it
    try spark.sharedState.cacheManager.clearCache() catch { case _: Throwable => }
    spark.stop()
    System.gc()

    // ---- every other entry: one child per phase, giants last ----
    val scale = scaleScenarioNames.filter(selected)
    val parity = parityScenarios.map(_._1).filter(selected)
    Seq(scale.filterNot(giantNames), parity.filterNot(giantNames),
        (parity ++ scale).filter(giantNames)).foreach { phase =>
      runChild(phase, repeat, () => childBudget(mainLeft))(cap.record)
    }

    // ---- adjudication: one best-of-2 rerun of the flags, worst first ----
    // an entry without its own floor probe is read against the run's
    cap.verdict = adjudicate(cap.entries.toSeq.map { case (n, r) => n -> r.sec },
      cap.entries.map { case (n, r) => n -> (if (r.floor > 0) r.floor else cap.floorSec) }.toMap,
      ref)
    val worstFirst = cap.verdict.flagged.sortBy(n => -cap.entries(n).sec / ref.times(n))
    if (worstFirst.nonEmpty) {
      System.err.println(s"[bench] ${worstFirst.size} entries exceed ${FlagFactor}x " +
        s"their committed reference - isolated rerun: ${worstFirst.mkString(", ")}")
      val iso = mutable.LinkedHashMap.empty[String, Double]
      runChild("__floor__" +: worstFirst, math.max(repeat, 2), () => childBudget(budgetLeft)) {
        case ("__floor__", r) => cap.rerunFloor = r.sec
        case (n, r) => if (r.sec > 0) iso(n) = r.sec
      }
      cap.isolated = iso.toMap
    }
    cap.finish()
    println(cap.compact)
  }
}

/**
 * The child entry point: runs a list of bench entries — [[Bench.parityScenarios]]
 * presets, [[Bench.prepareScale]] scenarios, `q_*` queries or the
 * `__floor__` probe — in this JVM, in order, and prints one line per entry:
 * `SCENARIO_RESULT <name> <sec> <rss_mb> <floor_sec> <r1,r2,...>[ ERR msg]`,
 * preceded by `SCENARIO_START <name>` for an entry it runs.
 * Arguments: `--repeat=N` (default SPARK_GRAFT_REPEAT) and `--budget=SEC`
 * (<= 0: unbounded), then the names.
 */
object BenchScenario {

  /** The line a child prints as it starts an entry. */
  private[graft] val Start = "SCENARIO_START "

  /** Parsed child report; `sec`<=0 with `err` set marks a failure.
    * `floorAge` is how many entries old the floor probe is (0 = adjacent). */
  private[graft] final case class ForkResult(sec: Double, rssMb: Long,
                                             floor: Double, runs: Seq[Double],
                                             err: Option[String],
                                             floorAge: Int = 0)

  /** Parse one child report line
    * `SCENARIO_RESULT name sec rss floor runsCsv[ ERR msg]` — runsCsv is
    * `-` for a run-less report (budget-skip). Spec-locked (BenchProtocolSpec)
    * because both sides of the protocol live in this file and a drifting
    * format silently drops child results. */
  private[graft] def parseScenarioLine(line: String): Option[(String, ForkResult)] = {
    val parts = line.split("\\s+", 6)
    if (parts.length < 5 || parts(0) != "SCENARIO_RESULT") None
    else {
      val tail = if (parts.length > 5) parts(5) else ""
      val (runsCsv, err) = tail.indexOf(" ERR ") match {
        case -1 => (tail, None)
        case i => (tail.take(i), Some(tail.drop(i + 5)))
      }
      val runs = runsCsv.split(",").toSeq
        .flatMap(s => scala.util.Try(s.trim.toDouble).toOption)
      scala.util.Try(ForkResult(parts(2).toDouble, parts(3).toLong,
        parts(4).toDouble, runs, err)).toOption.map(parts(1) -> _)
    }
  }

  def main(args: Array[String]): Unit = {
    val (opts, names) = args.toSeq.partition(_.startsWith("--"))
    def opt(key: String): Option[Double] = opts.collectFirst {
      case a if a.startsWith(s"--$key=") => a.drop(key.length + 3).toDouble
    }
    val repeat = opt("repeat").map(_.toInt).getOrElse(Bench.setting("REPEAT", "1").toInt)
    val warmups = Bench.warmupsAt(repeat)
    val budgetSec = opt("budget").getOrElse(0.0)
    val sfDir = Bench.sfDir
    val ref = Bench.readReference(new java.io.File(Bench.refPath))
    val startNs = System.nanoTime()
    def left: Double =
      if (budgetSec <= 0) Double.MaxValue else budgetSec - (System.nanoTime() - startNs) / 1e9
    // parity datasets, persisted once and shared by every later entry that
    // keys the same one; evicted after their last entry
    val dsCache = mutable.LinkedHashMap.empty[String, DataFrame]
    // started on the first entry the budget affords
    var started = false
    lazy val spark = { started = true; Bench.session("ERROR") }
    def dataset(key: String): DataFrame = dsCache.getOrElseUpdate(key, {
      val ds = Bench.buildDataset(spark, key).persist(StorageLevel.MEMORY_AND_DISK)
      ds.count()
      ds
    })
    def prepare(name: String): Bench.Prepared =
      if (name == "__floor__") Bench.Prepared(() => Bench.floorJob(spark), () => ())
      else if (name.startsWith("q_"))
        Bench.Prepared(() => SparkEntry.queries(name)(spark, sfDir), () => ())
      else Bench.parityScenarios.find(_._1 == name) match {
        case Some((_, key, fn)) => val ds = dataset(key); Bench.Prepared(() => fn(ds), () => ())
        case None => Bench.prepareScale(spark, name, sfDir)
      }
    def report(name: String, sec: Double, rss: Long, floor: Double,
               runs: Seq[Double], err: String): Unit =
      println(s"SCENARIO_RESULT $name $sec $rss $floor " +
        (if (runs.isEmpty) "-" else runs.mkString(",")) +
        (if (err.nonEmpty) s" ERR $err" else ""))

    var lastFloor = -1.0
    // a failed entry (an OutOfMemory, say) can leave the JVM or its
    // context broken: the child then stops, and the parent hands the rest
    // to a fresh one
    var healthy = true
    for ((name, idx) <- names.zipWithIndex if healthy) {
      // affordability: session (on the first measured entry) or dataset
      // setup, plus the reference time × every run; giants (ref >= 5 s)
      // carry a 1.5x margin because their 30-60 s passes cannot be cut short
      val first = !started
      val needSec = (if (first) 15.0 else 10.0) + ref.times.get(name)
        .map(r => r * (Bench.repeatFor(name, repeat) + Bench.warmupsFor(name, warmups)) *
          (if (r >= 5.0) 1.5 else 1.0))
        .getOrElse(10.0)
      if (left < needSec)
        report(name, -1.0, -1L, -1.0, Nil,
          s"budget-skipped (need ~${needSec.toInt} s, ${left.toInt} s left)")
      else {
        println(s"$Start$name")
        val hwmBefore = Bench.vmHwmMb()
        var err = ""
        val runs = try {
          val p = prepare(name)
          // untimed warm-ups: a cold JVM's first pass absorbs JIT and GC
          // warm-up (observed 9.1 s → 2.4 s after one), and each query
          // shape has its own codegen
          for (_ <- 1 to Bench.warmupsFor(name, warmups))
            try Bench.materialize(p.query()) catch { case _: Throwable => }
          try Bench.timedRuns(name, repeat, ref, lastFloor, () => left,
            e => err = Bench.errorMessage(e))(p.query())
          finally p.cleanup()
        } catch { case e: Throwable =>
          err = s"prepare failed: ${Bench.errorMessage(e)}"; Seq(-1.0)
        }
        // live working set right after the runs (pre-GC), then the
        // adjacent floor probe (its first pass is the probe's codegen)
        val rssAfterRuns = Bench.vmRssMb()
        try Bench.materialize(Bench.floorJob(spark)) catch { case _: Throwable => }
        val floor = Bench.bestOfN(1)(Bench.floorJob(spark))
        lastFloor = floor
        healthy = floor >= 0 && err.isEmpty
        val hwmNow = Bench.vmHwmMb()
        report(name, if (runs.exists(_ < 0)) -1.0 else runs.min,
          if (first || hwmBefore <= 0) hwmNow
          else math.max(hwmNow - hwmBefore, rssAfterRuns),
          floor, runs, err)
        val stillNeeded = names.drop(idx + 1)
          .flatMap(n => Bench.parityScenarios.find(_._1 == n).map(_._2)).toSet
        dsCache.keys.toList.filterNot(stillNeeded).foreach(k =>
          dsCache.remove(k).foreach(ds => try ds.unpersist() catch { case _: Throwable => }))
        // untimed: garbage from this entry must not inflate the next one's
        // peak or its attribution
        if (idx < names.size - 1) System.gc()
      }
    }
    if (started) spark.stop()
  }
}
