package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Benchmark main (driver contract): times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, plus parity workloads reproducing the reference's
  * benchmark presets (BASELINE.md), and prints ONE JSON line.
  *
  * Methodology:
  *  - every query is fully materialized through the `noop` sink so all
  *    columns are computed — a `count()` would let Catalyst prune the
  *    projections away and time a hollowed-out plan;
  *  - best-of-N per query, mirroring the reference's `--warmup 1
  *    --repeat 3` protocol (reference benchmarks/harness.py). TWO
  *    PROFILES (SPARK_GRAFT_PROFILE): "driver" (default) fits the
  *    grading driver's time window — q_* in-process at REPEAT=1,
  *    parity/scale forked with one child warmup, and a hard wall-clock
  *    budget (SPARK_GRAFT_BUDGET_SEC, default 1320 s) that SKIPS
  *    remaining entries rather than time out (BENCH_r06.json was rc=124
  *    with no parsed data — a partial capture always beats that);
  *    "full" is the definitive local capture (REPEAT=3, two warmups,
  *    no budget) used to refresh BENCH_REFERENCE.json. The artifact
  *    file is re-written after every entry, so even an external kill
  *    leaves parseable partial data;
  *  - PROTECTED PARITY CARVE-OUT (round 13): the driver profile runs one
  *    representative parity preset per family FIRST, in a bounded budget
  *    slice (SPARK_GRAFT_PARITY_CARVEOUT_SEC, default 360 s), so every
  *    capture carries SOME BASELINE.md-comparable evidence no matter how
  *    hot the box gets later in the run (the r12 capture budget-skipped
  *    the entire 15-entry parity family because it ran last);
  *  - PARITY ROTATION (round 14): 2-3 of the non-carved parity presets
  *    join the carve-out each round — the ones whose last driver value is
  *    oldest ([[parityRotationDefault]], updated per round; override with
  *    SPARK_GRAFT_PARITY_ROTATION) — so every preset has a driver value
  *    at most ~2 rounds old even when the main parity phase is starved;
  *  - HARD RERUN RESERVE (round 14): the isolated-rerun window at the END
  *    of the run gets the same protection the carve-out gives the start —
  *    a fixed SPARK_GRAFT_RERUN_RESERVE_SEC (default 150 s) slice the
  *    main phases can never consume whenever a committed reference
  *    exists, so flagged entries can never again ship unadjudicated
  *    merely because flags appeared late (BENCH_r13 shipped a 10.4x
  *    single-run outlier with rerun_skipped_budget:true). Heavy flags
  *    adjudicate highest-ratio-first in chunks of 3;
  *  - CALM-WINDOW DETECTOR (round 14): if the opening floor probe reads
  *    >1.5x the committed calm floor, the capture waits in 20 s steps
  *    (re-probing) up to SPARK_GRAFT_CALM_WAIT_SEC (default 180 s, and
  *    never past 25% of the budget) before measuring anything — waited
  *    seconds are disclosed as calm_wait_sec;
  *  - DRIVER-PROFILE WALL MATH (round 14, budget 1320 s): carve-out
  *    <= 420 (7 gate presets + 3 rotation) + q_ sweep ~500 (168 entries,
  *    floor-bound ones single-run with NO in-place retry — ref < 0.7 s
  *    entries re-measure mostly the scheduling floor, so their ~60-90 s
  *    of retries now fund the reserves) + scale_ ~250 + main parity
  *    remainder ~130 + hard rerun reserve 150 <= 1320, with the
  *    second-chance and final-window passes reclaiming whatever any
  *    phase leaves unspent (reserve raised 120 → 150 s in-round — a
  *    GIANT flag's rerun child needs ~110 s of clear window);
  *  - parity data generation is persisted and counted BEFORE timing, like
  *    the reference which excludes generation from timings
  *    (benchmarks/README.md:113);
  *  - per-scenario peak RSS is sampled from /proc/self/status VmRSS at
  *    50 ms during each parity scenario — the reference harness's psutil
  *    protocol (harness.py:79-118). Shared-JVM caveat: a 16g-heap JVM
  *    releases memory lazily, so per-scenario peaks are upper bounds that
  *    include residue from earlier scenarios, unlike the reference's
  *    fork-per-scenario isolation;
  *  - `floor_sec` measures Spark's minimum job latency (trivial two-stage
  *    aggregate over 6,400 rows) — the scheduling floor any sub-0.1 s
  *    Polars number has to be read against (BASELINE.md);
  *  - NOISE ROBUSTNESS (round 4): the artifact is self-describing about
  *    ambient load. Every entry records its full run vector (`runs`) and
  *    a floor sample measured immediately after it (`floors`) — a 3x
  *    floor adjacent to a slow entry says "ambient", a clean floor says
  *    "regression". Round 12 adds the IN-PLACE FLAG RETRY: any entry
  *    (in-process or forked) whose best run would flag vs the committed
  *    reference gets up to two GC-leveled extra runs on the spot, so a
  *    single dirty sample (GC residue, host-steal burst) settles for
  *    the cost of a GC instead of a child JVM — the runs vector keeps
  *    the dirty sample as evidence. On top of that, entries STILL
  *    slower than SPARK_GRAFT_FLAG_FACTOR (default 2x) times their
  *    committed reference number (BENCH_REFERENCE.json, the last
  *    known-good committed artifact) are automatically RE-RUN in a
  *    fresh isolated child JVM at the end of the run, behind a
  *    flag-count-sized budget reserve; the artifact reports the isolated
  *    number as the entry's value (best-of-all-observations, consistent
  *    with the best-of-N protocol) plus the raw in-process value and the
  *    flagged list, so a hot driver box can never masquerade as a code
  *    regression. Disable with SPARK_GRAFT_RERUN=0. Round-5 memory
  *    discipline (round 4's re-run OOM-killed its own capture): the
  *    parent unpersists + stops its SparkSession BEFORE forking, the
  *    child heap is unpinned (-Xmx only) and sized by SPARK_GRAFT_RERUN_MEM
  *    clamped to MemAvailable at fork time ([[rerunHeapMb]]);
  *  - FLOOR-EXCUSED DISCLOSURE (round 15, VERDICT r14 #3): entries whose
  *    RAW value exceeds flag_factor x their committed reference but whose
  *    floor-SUBTRACTED work is within the factor are excused by the flag
  *    predicate (correct — the excess is scheduling floor, not operator
  *    work) and now listed in `floor_excused`, so the adjudicator reads
  *    the excusal instead of recomputing it from the `floors` map.
  *
  * BENCH_REFERENCE REFRESH POLICY (round 15, VERDICT r14 #6 — the rule
  * behind the r14 refresh commit, now written down):
  *  - WHEN: refresh only from a calm-box FULL-profile capture (repeat=3,
  *    two warmups, no budget) taken at the round's HEAD after all
  *    correctness gates are green — never from a driver-profile capture,
  *    whose single-run entries carry the box's weather;
  *  - HOW: merge ELEMENT-WISE DOWNWARD-ONLY — a ref may tighten to the
  *    new capture's value when the new value is lower, but never loosen
  *    upward from noise (a slower sample is weather or a regression, and
  *    a regression must keep flagging against the OLD ref until it is
  *    fixed or explicitly re-based with a written rationale);
  *  - BAND-TIER EXEMPTION: the documented GC/spill-band giants (the _2k
  *    pair and other bestOf3Names entries with committed band notes in
  *    BASELINE.md) do NOT tighten to their observed band floor — a
  *    band-y giant pinned at its floor would flag honest in-band samples
  *    every capture and burn the retry/rerun machinery on noise;
  *  - the capture used for a refresh is archived under bench_history/ and
  *    the commit message names it (r14 example: BENCH_LOCAL_r14.json,
  *    129 refs tightened element-wise, median 0.954x).
  */
object Bench {

  private def materialize(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** All N timings (not just the best) — negative entries mark failures
    * (`onError` receives the throwable so callers can surface the MESSAGE
    * in the artifact instead of a bare sentinel).
    * GC runs (untimed) before EVERY repeat, not just the first: broadcast
    * pieces and shuffle buffers from repeat k stay strongly reachable until
    * a collection, so without the per-repeat GC heavy presets degrade
    * monotonically across their own repeats (observed 3.2→5.2→11.2 s on
    * split_join parent_dominant_2k) and the "best-of" protocol measures
    * heap residue instead of the query. */
  private[graft] def runsOfN(repeat: Int, onError: Throwable => Unit = _ => ())
                            (f: => DataFrame): Seq[Double] = {
    (1 to repeat).map { i =>
      // level the GC field between REPEATS of one query (variance
      // otherwise 5-10x on the giant-group presets). At REPEAT=1 (the
      // driver profile) there is nothing to level and the collection
      // itself costs ~2 s/entry on the grown heap — x140 q_* entries
      // that was the budget the skipped scale scenarios needed; the
      // round-9 rehearsal measured the per-entry gc NOT preventing the
      // late-run 2-3x inflation anyway (the isolated re-run protocol is
      // what adjudicates those).
      if (i > 1) System.gc()
      try time(materialize(f)) catch { case e: Throwable => onError(e); -1.0 }
    }
  }

  private[graft] def bestOfN(repeat: Int)(f: => DataFrame): Double = {
    val runs = runsOfN(repeat)(f)
    if (runs.exists(_ < 0)) -1.0 else runs.min
  }

  private[graft] def materializeDf(df: DataFrame): Unit = materialize(df)

  /** One /proc/self/status field in MB (shared parse — VmHWM and VmRSS
    * must stay in sync on format quirks). −1 when unreadable. */
  private def procStatusMb(key: String): Long = try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(key)).map(_.replaceAll("[^0-9]", "").toLong / 1024)
      .getOrElse(-1L)
  } catch { case _: Throwable => -1L }

  /** Linux VmHWM of this process in MB (true peak RSS — meaningful per
    * scenario only in a forked child process). */
  private[graft] def vmHwmMb(): Long = procStatusMb("VmHWM")

  /** Current Linux VmRSS of this process in MB (instantaneous, unlike the
    * high-water [[vmHwmMb]] — used for per-preset attribution in grouped
    * children, where the HWM ratchets across presets). */
  private[graft] def vmRssMb(): Long = procStatusMb("VmRSS")

  /** Peak VmRSS (MB) observed by a 50 ms sampler while `f` runs. */
  private def sampleRss[A](f: => A): (A, Long) = {
    @volatile var stop = false
    @volatile var peakKb = 0L
    def rssKb(): Long =
      try scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmRSS")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
      catch { case _: Throwable => 0L }
    val t = new Thread(() => {
      while (!stop) {
        peakKb = math.max(peakKb, rssKb())
        Thread.sleep(50)
      }
    })
    t.setDaemon(true)
    t.start()
    try { val a = f; (a, peakKb / 1024) } finally { stop = true; t.join(200) }
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

  /** Parity dataset builders, keyed so the in-process runner and the
    * forked per-scenario runner ([[BenchScenario]]) share one source of
    * truth. "packed_large" derives from "large" (for the unpack timing). */
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

  /** Parse the "queries" map out of a bench artifact (the committed
    * reference or a child re-run's output); empty map on any failure. */
  private[graft] def readQueryTimes(f: java.io.File): Map[String, Double] = try {
    if (!f.isFile) Map.empty
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      val q = node.get("queries")
      if (q == null) Map.empty
      else {
        val it = q.properties().iterator()
        val b = Map.newBuilder[String, Double]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble() }
        b.result()
      }
    }
  } catch { case _: Throwable => Map.empty }

  /** Parse "floor_sec" out of a bench artifact; -1 on any failure. */
  private[graft] def readFloorSec(f: java.io.File): Double = try {
    if (!f.isFile) -1.0
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      val fl = node.get("floor_sec")
      if (fl == null) -1.0 else fl.asDouble(-1.0)
    }
  } catch { case _: Throwable => -1.0 }

  /** "16g"/"512m"/"8192"(MB) heap spec → MB; -1 on parse failure. */
  private[graft] def heapMb(s: String): Long = try {
    val t = s.trim.toLowerCase
    if (t.endsWith("g")) t.dropRight(1).toLong * 1024
    else if (t.endsWith("m")) t.dropRight(1).toLong
    else if (t.endsWith("k")) t.dropRight(1).toLong / 1024
    else t.toLong
  } catch { case _: Throwable => -1L }

  /** MemAvailable from /proc/meminfo in MB; -1 if unreadable. */
  private[graft] def memAvailableMb(): Long = try {
    scala.io.Source.fromFile("/proc/meminfo").getLines()
      .find(_.startsWith("MemAvailable"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024).getOrElse(-1L)
  } catch { case _: Throwable => -1L }

  /** Child-JVM -Xmx for the isolated re-run, in MB: SPARK_GRAFT_RERUN_MEM
    * (default: the driver's heap), clamped to what the box can spare at
    * fork time (MemAvailable minus 4 GiB slack, floor 2 GiB). Round 4's
    * capture died exactly here — a -Xms-pinned 16 GiB child forked beside
    * the still-pinned 16 GiB parent got the parent SIGKILLed on a loaded
    * sandbox (BENCH_r04.json: rc 1, exit 137, parsed:null) — so the child
    * is now unpinned AND sized against reality, and [[main]] stops the
    * parent SparkSession before forking. */
  private[graft] def rerunHeapMb(): Long = {
    val requested = math.max(2048L, heapMb(sys.env.getOrElse(
      "SPARK_GRAFT_RERUN_MEM", sys.env.getOrElse("SPARK_DRIVER_MEM", "16g"))))
    val avail = memAvailableMb()
    if (avail > 0) math.min(requested, math.max(2048L, avail - 4096L))
    else requested
  }

  /** Re-run `names` in a fresh child JVM (graft.Bench filtered via
    * SPARK_GRAFT_ONLY) and return its per-entry timings — clean-room
    * measurements free of the main pass's GC residue and whatever ambient
    * load polluted it. SPARK_GRAFT_RERUN=0 in the child stops recursion.
    * The child's heap is unpinned (no -Xms) and bounded by [[rerunHeapMb]]
    * so parent + child always fit the sandbox. */
  private[graft] def runIsolated(names: Seq[String], cpus: String,
                                 repeat: Int,
                                 budgetSecLeft: Double = 0.0): Map[String, Double] = {
    val out = java.io.File.createTempFile("graft_bench_rerun", ".json")
    try {
      val javaBin = s"${System.getProperty("java.home")}/bin/java"
      val cmd = (Seq(javaBin) ++ BenchScenario.addOpensArgs ++ Seq(
        s"-Xmx${rerunHeapMb()}m", "-Dspark.ui.enabled=false",
        "-cp", System.getProperty("java.class.path"),
        "graft.Bench")).toArray
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("SPARK_GRAFT_ONLY", names.mkString(","))
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", out.getAbsolutePath)
      pb.environment().put("SPARK_GRAFT_RERUN", "0")
      // the re-run child is already a clean room — shared-JVM mode inside
      // it avoids a second layer of per-scenario JVM spawns
      pb.environment().put("SPARK_GRAFT_FORK", "0")
      // no calm-wait recursion: the PARENT already took the floor probe's
      // verdict for this window (possibly skipping its own wait to fund
      // this child) — a child that re-enters the 20 s wait loop on its
      // ~100 s budget spends the reserve on sleeping, the exact failure
      // the reserve exists to prevent
      pb.environment().put("SPARK_GRAFT_CALM_WAIT_SEC", "0")
      pb.environment().put("SPARK_GRAFT_CPUS", cpus)
      pb.environment().put("SPARK_GRAFT_REPEAT", repeat.toString)
      // hand the child what remains of the PARENT's wall-clock budget
      // (less a 30 s shutdown reserve), clamped so the child can never be
      // granted more than the parent actually has; an unbounded parent
      // (full profile) omits the env var rather than exporting MaxValue
      if (budgetSecLeft > 0 && budgetSecLeft < Double.MaxValue / 4)
        pb.environment().put("SPARK_GRAFT_BUDGET_SEC",
          math.min(budgetSecLeft, math.max(30.0, budgetSecLeft - 30.0)).toString)
      pb.redirectErrorStream(true)
      val proc = pb.start()
      // drain to EOF — a full pipe buffer would block the child's writes
      val src = scala.io.Source.fromInputStream(proc.getInputStream)
      try src.getLines().foreach(_ => ()) finally src.close()
      proc.waitFor()
      readQueryTimes(out)
    } catch { case _: Throwable => Map.empty }
    finally { out.delete(); () }
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

  /** Representative presets per parity family, run FIRST in the driver
    * profile inside the protected carve-out (VERDICT r12 #1): the
    * BASELINE.md-gate shapes (pack `large` is the 2x gate itself),
    * excluding the _2k giants, whose warmup+best-of-3 protocol is too
    * heavy for a bounded slice that must always complete. The skewed and
    * parent_dom families are carved WHOLE (both presets each): a
    * half-consumed family forces the main parity phase to rebuild the
    * family's dataset for the leftover preset — the r13 dress rehearsal
    * measured those duplicate builds costing more than the extra ~10 s
    * of carved runs. `large` stays half-carved: its remaining trio
    * (no_child_order, streaming_8/64) outweighs the slice. */
  private[graft] val parityCarveOutList: Seq[String] = Seq(
    "parity_pack_large", "parity_pack_streaming_32",
    "parity_pack_parent_dominant", "parity_pack_split_join_parent_dominant",
    "parity_pack_skewed", "parity_pack_salted_skewed",
    "parity_pack_very_large")

  /** PARITY ROTATION (VERDICT r13 #2): the carve-out guarantees the gate
    * presets a value every capture, but the NON-carved presets can go
    * stale for rounds when the main parity phase gets starved (streaming
    * 8/64 and unpack_large had no driver value for three rounds by r13).
    * Rule: each round, the 2-3 non-carved presets whose last driver value
    * is OLDEST join the carve-out for that round's capture (this list is
    * updated per round against the previous BENCH artifact; override per
    * capture with SPARK_GRAFT_PARITY_ROTATION=name,name / "none").
    * The _2k giants never rotate in — their warmup+best-of-3 protocol
    * does not fit a bounded slice that must always complete (they keep
    * the main-phase full protocol or an honest skip, r12h lesson).
    * Round 15 (VERDICT r14 #2: these three have a driver value in
    * NEITHER r13 nor r14): no_child_order (shares the already-carved
    * "large" dataset, so it costs runs only) and the parent_heavy pair
    * (one "parent_heavy" dataset build + two ~1.5 s presets). r14's
    * rotation (streaming_8/64, unpack_large) all landed in BENCH_r14, so
    * they leave the slice. */
  private[graft] val parityRotationDefault: Seq[String] = Seq(
    "parity_pack_no_child_order", "parity_pack_parent_heavy",
    "parity_pack_split_join_parent_heavy")

  /** Dataset-contiguous ordering for the carve-out child: the child pays
    * one (build + persist) per DATASET, and its dsCache evicts a dataset
    * after its last scenario — interleaving datasets would hold several
    * alive at once and re-pay builds. Gate families lead (pack `large` IS
    * the BASELINE 2x gate; `skewed` is the salting story), very_large
    * (no published reference number) goes last so a hot-box budget-skip
    * lands on the least gate-critical preset. */
  private[graft] def orderCarveOut(names: Seq[String]): Seq[String] = {
    val dsOf = parityScenarios.map(s => s._1 -> s._2).toMap
    // parent_heavy (r15 rotation pair, never driver-measured) slots just
    // before very_large: both lack r13/r14 driver values, but the
    // parent_heavy pair answers a published reference ratio (pack 1.34 s
    // vs split_join 1.57 s) while very_large is scale-up-linearity
    // evidence only — the least gate-critical preset stays the one a
    // hot-box budget-skip lands on
    val dsPriority =
      Seq("large", "skewed", "packed_large", "parent_dom", "parent_heavy",
        "very_large")
    names.sortBy { n =>
      val i = dsPriority.indexOf(dsOf.getOrElse(n, ""))
      (if (i < 0) dsPriority.size else i,
        parityScenarios.indexWhere(_._1 == n))
    }
  }

  /** Spark's minimum job latency: a trivial two-stage aggregate at the
    * parent-dominant preset's row count. Any parity target below this is
    * a scheduling-floor artifact, not an operator gap. */
  private[graft] def floorJob(spark: SparkSession): DataFrame = spark.range(6400)
    .select((col("id") % 64).alias("k"), col("id").alias("v"))
    .groupBy("k").agg(count(lit(1)).alias("n"), sum(col("v")).alias("s"))

  /** Untimed-setup handle for a scenario: `query` builds the DataFrame to
    * materialize (the TIMED part, re-planned per repeat); `cleanup`
    * unpersists whatever `prepare` cached. Shared by the in-process runner
    * and the per-scenario forked child ([[BenchScenario]]) so both paths
    * measure exactly the same work on exactly the same cached inputs. */
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

  /** Per-entry repeat tiers (round 10, closing the chronic
    * split_join_parent_dominant_2k flag; round 12 extends the tier to the
    * JIT-warmup-dominated in-process q_ entries):
    *  - the `_2k` giant-group pair runs best-of-3 with the inter-run GC
    *    [[runsOfN]] already performs — their documented 2-6x GC/spill
    *    band means a best-of-2 still samples the slow tail often enough
    *    to flag in every capture (4 consecutive rounds); their committed
    *    reference is refreshed from THIS protocol;
    *  - JIT-dominated q_ entries (many tiny driver-loop jobs over small
    *    data: Lloyd/label-propagation/span passes) read 3-4x their calm
    *    value on their FIRST run in any JVM — the round-11 adjudication
    *    measured q_drop_repeated_spans at [4.46, 1.49, 1.38] s cold.
    *    A single-run sample can only flag and then the best-of-2 rerun
    *    child re-reads the same warmup; best-of-3 settles them in the
    *    main pass AND in the rerun child (the child runs with
    *    SPARK_GRAFT_FORK=0 and lands in [[repeatFor]] too);
    *  - the streaming parity trio joined the tier in round 12: all three
    *    flagged in BENCH_r11 from grouped-child samples 4.7-7.9x their
    *    references that the isolated rerun then cleared to ~1x — their
    *    runs are ~1 s, so two extra passes cost less than one rerun child;
    *  - auto_pack_skewed was promoted best-of-2 → best-of-3 after its
    *    round-11 rerun read 18.5 s on a hot floor vs 3.06 s calm
    *    best-of-3 (probe + salted two-phase is GC-band bimodal);
    *  - everything else takes ONE timed run in the driver profile — the
    *    flag + isolated-rerun net adjudicates tail samples, and the
    *    saved pass per entry is what lets the contended driver box reach
    *    n_skipped=0 (BENCH_r09 skipped 23 entries at budget).
    * The FULL profile keeps repeat=3 everywhere (floor of these maxima). */
  private[graft] val bestOf3Names = Set(
    // the giant-group _2k tier: a COLD child JVM needs the warmup plus
    // several passes to reach this preset's 8-20 s steady band — the
    // round-12 experiment that dropped its warmup and third run recorded
    // [135.9, 100.8] on a CALM floor vs the 10 s reference, i.e. the
    // shortened protocol measured JVM ramp, not the operator. Restored
    // to the r11 protocol (1 warmup + best-of-3) that records ~1.1x.
    "parity_pack_parent_dominant_2k", "parity_pack_split_join_parent_dominant_2k",
    "auto_pack_parent_dom_2k",
    // the JIT-dominated q_ tier (VERDICT r11 #2): their FIRST run in any
    // JVM reads 3-4x calm deterministically (many tiny jobs), so the
    // third pass pays for itself every capture
    "q_drop_repeated_spans", "q_semdedup", "q_semdedup_recall",
    "q_dedup_survivors", "q_knn_ivf_trained", "q_shuffled_export",
    "q_sq8_recall",
    // round-12 addition: same clustering machinery as q_dedup_survivors
    // plus the winner-selection aggs; calm full-profile run vector
    // [5.31, 1.81, 1.37] — the first-run JIT shape of its tier
    "q_dedup_best_survivors")
  // GC-band presets (streaming trio, skew probes, large packs): best-of-2
  // samples the band, and the round-12 in-place flag retry escalates to a
  // third GC-leveled run ONLY when both samples still flag — adaptive
  // best-of-3 that costs the third pass exactly when a capture needs it.
  private[graft] val bestOf2Names = Set(
    "parity_pack_large", "parity_pack_very_large",
    "auto_pack_skewed",
    "parity_pack_streaming_8", "parity_pack_streaming_32",
    "parity_pack_streaming_64",
    // giant-single-list pack (hot key owns 50% of leaf rows) — first
    // driver measurement in round 12, so sample the band at least twice
    "parity_pack_skewed")
  private[graft] def repeatFor(name: String, base: Int): Int =
    if (bestOf3Names.contains(name)) math.max(base, 3)
    else if (bestOf2Names.contains(name)) math.max(base, 2)
    else base

  /** Untimed child warmups per forked scenario: the JIT-shaped best-of-3
    * entries get two even in the driver profile (their first post-warmup
    * run otherwise still carries JIT tail — the r11 auto_pack_skewed
    * grouped-child sample read 9.4 s vs 3.06 s calm). The _2k giants
    * keep the base single warmup: round 12 measured that removing it
    * records JVM ramp (135 s for a 10 s preset), while a SECOND warmup
    * buys nothing best-of-3 doesn't. */
  private[graft] val extraWarmupNames: Set[String] = bestOf3Names -- Set(
    "parity_pack_parent_dominant_2k", "parity_pack_split_join_parent_dominant_2k",
    "auto_pack_parent_dom_2k")
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

  def main(args: Array[String]): Unit = {
    val startNs = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // PROFILES (round 7 — BENCH_r06.json was rc=124/parsed:null: the
    // fork-everything REPEAT=3 capture cannot finish inside the driver's
    // window, so the DEFAULT must):
    //  - "driver" (default): q_* in-process at REPEAT=1 (flagged entries
    //    still recover a clean value via the isolated re-run), parity and
    //    scale scenarios forked with ONE child warmup, and a hard
    //    wall-clock budget (SPARK_GRAFT_BUDGET_SEC, default 1320 s ≈ 22
    //    min) after which remaining entries are SKIPPED (recorded in
    //    "skipped") and the artifact still emits with rc=0 — a partial
    //    parseable capture always beats a complete timed-out one.
    //  - "full": the definitive local capture (REPEAT=3, two child
    //    warmups, no budget) — use for BENCH_REFERENCE.json refreshes.
    // SPARK_GRAFT_REPEAT / SPARK_GRAFT_BUDGET_SEC / SPARK_GRAFT_WARMUP
    // override either profile's defaults.
    val profile = sys.env.getOrElse("SPARK_GRAFT_PROFILE", "driver")
    val fullProfile = profile == "full"
    val repeat = sys.env.get("SPARK_GRAFT_REPEAT").map(_.toInt)
      .getOrElse(if (fullProfile) 3 else 1)
    val childWarmups = sys.env.get("SPARK_GRAFT_WARMUP").map(_.toInt)
      .getOrElse(if (fullProfile) 2 else 1)
    val budgetSec = sys.env.get("SPARK_GRAFT_BUDGET_SEC").map(_.toDouble)
      .getOrElse(if (fullProfile) 0.0 else 1320.0)
    def elapsedSec: Double = (System.nanoTime() - startNs) / 1e9
    def budgetLeft: Double =
      if (budgetSec <= 0) Double.MaxValue else budgetSec - elapsedSec
    // Budget reserve for the END-OF-RUN isolated re-run of flagged entries:
    // round-8's capture spent its whole 1320 s on the main passes and then
    // budget-skipped the re-run, leaving every flag unadjudicated (the
    // round-7 verdict's #1 complaint). The main passes stop early enough
    // that the adjudication phase always gets its window.
    val rerunReserve = if (budgetSec <= 0) 0.0 else math.min(300.0, budgetSec * 0.2)
    // HARD RERUN RESERVE (VERDICT r13 #1): the flag-count-sized reserve
    // above only engages once something flags — but flags often appear in
    // the LAST phases (parity giants, late scale entries), after the
    // budget is spent; the r13 capture ended with six flags, 17 s of wall,
    // and `rerun_skipped_budget: true`, shipping a 10.4x outlier
    // unadjudicated. Mirror the parity carve-out at the END of the run:
    // a fixed slice (SPARK_GRAFT_RERUN_RESERVE_SEC, default 150 s — the
    // measured cost of a floor-probe child + one grouped rerun child over
    // a handful of flags) that the main phases can never consume, held
    // whenever a committed reference exists (without one nothing can
    // flag, so nothing is held). The final-window pass still reclaims
    // whatever the rerun leaves.
    // clamped to 20% of the budget so small-budget focused runs
    // (SPARK_GRAFT_ONLY regression attribution at BUDGET_SEC~120) still
    // measure instead of reserving their whole window
    // default 150 (raised from 120 in-round): a GIANT flag's rerun child
    // costs ~15 JVM + ~40 dataset build + warmup + budget-bounded runs —
    // 120 left it unaffordable in every rehearsal that flagged one
    val rerunReserveHard =
      if (budgetSec <= 0) 0.0
      else math.min(budgetSec * 0.2,
        sys.env.getOrElse("SPARK_GRAFT_RERUN_RESERVE_SEC", "150").toDouble)
    // Optional comma-separated substring filter over entry names
    // (SPARK_GRAFT_ONLY="q_pack,scale_"): focused reruns for regression
    // attribution, and sf1.0 runs that skip the sf-independent synthetic
    // parity scenarios. Default (unset) runs everything.
    val onlyFilters = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    def selected(name: String): Boolean =
      onlyFilters.isEmpty || onlyFilters.exists(name.contains)
    // a typo'd filter must fail loudly, not produce an empty-but-valid
    // artifact: warn per zero-match token and log the selected count
    val knownNames: Seq[String] = SparkEntry.queries.keys.toSeq ++
      parityScenarios.map(_._1) ++ scaleScenarioNames
    onlyFilters.filterNot(tok => knownNames.exists(_.contains(tok))).foreach(tok =>
      System.err.println(s"[bench] WARNING: SPARK_GRAFT_ONLY token '$tok' matches NO bench entry"))
    if (onlyFilters.nonEmpty)
      System.err.println(s"[bench] SPARK_GRAFT_ONLY selected " +
        s"${knownNames.count(selected)} of ${knownNames.size} entries")
    // SPARK_GRAFT_SHUFFLE: shuffle-partition override for scale runs
    // (sf1.0/sf10 proof sweeps) — at sf10 the default cpus=32 leaves ~2M
    // rows per reduce partition and the giant-list pack sorts degrade
    // super-linearly; 100 TB sizing targets ~128 MB per partition.
    // "auto" = sized from the sf dir's actual bytes (ext.Tuning).
    val shufflePartitions = ext.Tuning.resolveShuffleSetting(
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus), sfDir, cpus.toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def bestOf(f: => DataFrame): Double = bestOfN(repeat)(f)

    // JVM + codegen warmup on the smallest sf; excluded from timings
    try materialize(SparkEntry.queries("q_enrich_aggs")(spark, "/root/testdata/sf0.001"))
    catch { case _: Throwable => }

    val runsLog = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val floorsLog = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // explicit failure records (VERDICT r5 / advisor: no -1.0 sentinel in
    // the artifact) — failed entries are OMITTED from "queries" and appear
    // here as name → message instead
    val errMsgs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // entries never run because the wall-clock budget ran out — recorded,
    // not silently dropped (a skipped entry must be distinguishable from a
    // removed one when diffing against BENCH_REFERENCE.json)
    val skipped = scala.collection.mutable.ListBuffer.empty[String]
    // results accumulated so far, for the incremental partial flush
    val partialResults = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // per-entry floor-sample age in ENTRIES (0 = probed adjacent to this
    // entry; 1-3 = reused from up-to-3-entries earlier — the driver
    // profile's every-4th sampling). Emitted as "floor_age" so the
    // adjudicator can tell a live canary from a dated one.
    val floorAge = scala.collection.mutable.LinkedHashMap.empty[String, Int]

    // committed-reference artifact, read BEFORE the main pass: the flag
    // predicate now also steers the budget (see mainBudgetLeft)
    val refPath = sys.env.getOrElse("SPARK_GRAFT_REF", "BENCH_REFERENCE.json")
    val refFile = new java.io.File(refPath)
    val refTimes = readQueryTimes(refFile)
    val refFloorSec = readFloorSec(refFile)
    val flagFactor = sys.env.getOrElse("SPARK_GRAFT_FLAG_FACTOR", "2.0").toDouble
    // FLOOR-NORMALIZED flagging: a 0.5 s entry is ~60% scheduling floor,
    // so a mildly warm box (floor 0.31 → 0.39 s) pushes every cheap entry
    // past 2x its committed value while the heavy entries sit at 1x — the
    // round-6 capture reproduced exactly this signature. When the
    // committed reference records its floor, compare floor-SUBTRACTED
    // work (t - adjacentFloor vs factor × (ref - refFloor)); entries whose
    // computed work is sub-floor can never flag. Falls back to the raw
    // ratio when the reference artifact predates floor recording.
    // the RAW exceedance predicate (ratio + absolute slack) — the single
    // definition shared by entryFlagged and the floor_excused disclosure
    // below, so a tuning of the factor or slack can never diverge the two
    def rawExceeds(name: String, t: Double): Boolean =
      t > 0 && refTimes.get(name).exists(r => t > r * flagFactor && t - r > 0.4)
    def entryFlagged(name: String, t: Double, fallbackFloor: Double): Boolean =
      rawExceeds(name, t) && refTimes.get(name).exists { r =>
        if (refFloorSec <= 0) true
        else {
          val fNow = floorsLog.getOrElse(name, fallbackFloor)
          val work = t - math.min(if (fNow > 0) fNow else t, t)
          val refWork = math.max(r - refFloorSec, 0.05)
          work > refWork * flagFactor
        }
      }
    def pendingFlagCount: Int = partialResults.count { case (n, t) =>
      entryFlagged(n, t, refFloorSec) }
    // parent-measured host-speed ratio: the median of measured /
    // committed-reference over completed entries (refs > 0.2 s — below
    // that it's scheduling floor). By the first fork the parent holds
    // ~160 in-process samples; handing the ratio down seeds each child's
    // affordability calibration so even its FIRST scenario estimate
    // reflects the box (see runForkedGroup's SPARK_GRAFT_HOST_RATIO)
    def obsHostRatio: Double = {
      val rs = partialResults.toSeq.collect {
        case (n, t) if t > 0 && refTimes.get(n).exists(_ > 0.2) =>
          t / refTimes(n)
      }.sorted
      if (rs.size < 8) 1.0
      else math.min(6.0, math.max(1.0, rs(rs.size / 2)))
    }
    // Reserve release (VERDICT r10 #1): the reserve guarantees the
    // end-of-run adjudication window, but holding it while NOTHING is
    // flag-worthy starved the scale_ family two rounds running
    // (BENCH_r09/r10 n_skipped=20 with the reserve unspent). While no
    // measured entry flags, the main pass may spend the whole budget;
    // the reserve re-engages the moment a flag appears — and it is
    // SIZED BY THE FLAG COUNT (round 12): a fixed 264 s held for two
    // light flags starved the parity tail exactly like the unspent
    // reserve used to starve scale_ (the r12 rehearsal measured the
    // rerun of 33 residue flags at ~250 s; 1-3 real flags need ~100 s).
    // reserves exist to protect the END-OF-RUN rerun window — a process
    // that will never run that phase must not hold them. The r14c
    // rehearsal found the failure mode: the isolated-rerun CHILD (always
    // launched with SPARK_GRAFT_RERUN=0 and a ~110 s handed-down budget)
    // held the 120 s hard reserve itself, went budget-negative at entry
    // one, skipped every flagged entry, and returned an EMPTY artifact —
    // the reserve designed to guarantee adjudication was vetoing it.
    val holdsReserve = !sys.env.get("SPARK_GRAFT_RERUN").contains("0")
    def mainBudgetLeft: Double =
      if (budgetSec <= 0) Double.MaxValue
      else if (!holdsReserve) budgetLeft
      else pendingFlagCount match {
        // no pending flag: hold only the HARD reserve (flags routinely
        // first appear in the final phases — r13's parity giants — so
        // "nothing flagged yet" is not "nothing will need adjudication");
        // with no committed reference nothing can ever flag, hold nothing
        case 0 => budgetLeft - (if (refTimes.isEmpty) 0.0 else rerunReserveHard)
        // measured rerun cost (r12f rehearsal): 7 flags adjudicated in
        // 175 s END-TO-END — two grouped children + two floor-probe
        // children + the 30 s hot-floor calm wait ≈ 70 s fixed + ~15 s
        // per flag. The old 60+40n held 340 s for those 7 flags and
        // starved the whole parity phase; 70+20n reserves 210 s (1.2x
        // the measured cost) and frees ~130 s of real measurement. The
        // hard reserve is the floor either way.
        case n => budgetLeft - math.max(rerunReserveHard,
          math.min(rerunReserve, 70.0 + 20.0 * n))
      }
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    def writeJson(path: String, json: String): Boolean = try {
      val w = new java.io.PrintWriter(new java.io.File(path), "UTF-8")
      try w.println(json) finally w.close()
      true
    } catch { case _: Throwable => false }
    // after every entry the artifact file is rewritten with everything
    // measured so far ("partial":true) — a hard external kill mid-run
    // still leaves a parseable capture on disk
    def flushPartial(): Unit = {
      val qs = partialResults.collect { case (k, v) if v >= 0 =>
        s""""$k":$v""" }.mkString("{", ",", "}")
      val fl = floorsLog.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")
      writeJson(outPath,
        s"""{"partial":true,"profile":"$profile","elapsed_sec":$elapsedSec,""" +
          s""""n_queries":${partialResults.count(_._2 >= 0)},""" +
          s""""skipped":${skipped.map(n => s""""$n"""").mkString("[", ",", "]")},""" +
          s""""floors":$fl,"queries":$qs,"sf":"$sfDir"}""")
      ()
    }
    // every entry records its full run vector AND an adjacent floor sample
    // — the per-entry ambient-load canary (a slow entry beside a slow
    // adjacent floor is load; beside a clean floor it's a regression).
    // Driver profile: the floor job itself cost ~1.9 s/probe on the
    // contended round-9 driver box — ×151 in-process entries that was
    // ~290 s of the budget the 23 skipped entries needed. Sample every
    // 4th entry there and reuse the last probe for the ones between
    // (ambient bursts last seconds-to-minutes, so a ≤3-entry-old canary
    // still dates the burst); the full profile keeps strict per-entry
    // sampling for calm-capture adjudication.
    var floorEntryIdx = 0
    var lastFloorSample = -1.0
    def measured(name: String)(f: => DataFrame): (String, Double) = {
      // repeatFor: the variance-prone forked names keep their best-of-N
      // tier even when re-run in-process (the isolated-rerun child runs
      // with SPARK_GRAFT_FORK=0 and lands here)
      val onErr = (e: Throwable) => errMsgs(name) =
        s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)
      // BUDGET-AWARE repeats (round 14, mirroring the forked child): the
      // isolated-rerun child lands HERE (FORK=0), and a flagged giant's
      // unconditional best-of-3 ran 3 x ~39 s against a ~90 s child
      // budget in r14f — the last unbounded path in the 1430 s wall
      // overrun. Further repeats start only while the projected cost
      // (slowest observed run) fits; the full profile (budgetSec=0) and
      // the driver profile's repeat=1 entries are unchanged. Explicit GC
      // between repeats preserves runsOfN's leveling semantics.
      // gate on mainBudgetLeft, not raw budgetLeft (ADVICE r14): when the
      // PARENT runs multi-repeat entries in-process (FORK=0 with a wall
      // budget while holding the reserve), raw budgetLeft would let
      // best-of-N repeats consume the hard rerun reserve the main pass
      // must never touch; in the rerun child (holdsReserve=false)
      // mainBudgetLeft collapses to budgetLeft, so nothing changes there
      val reps = repeatFor(name, repeat)
      var runs = runsOfN(1, onErr)(f)
      var rep = 1
      while (rep < reps && runs.forall(_ >= 0) &&
          (budgetSec <= 0 || mainBudgetLeft > math.max(runs.max, 0.0))) {
        System.gc()
        runs = runs ++ runsOfN(1, onErr)(f)
        rep += 1
      }
      // IN-PLACE FLAG RETRY (round 12): a single dirty sample — shared-JVM
      // GC residue, a host-steal burst — otherwise flags the entry and
      // buys a whole child-JVM re-run at the end of the run (the r12
      // rehearsal hit a burst that flagged 33 entries; the 250 s rerun
      // phase then starved the parity tail to n_skipped=10). One leveled
      // extra run HERE settles it for the cost of a GC, while a genuine
      // regression keeps flagging after both retries and still reaches
      // the isolated-rerun net. Appended to the runs vector, so the
      // artifact shows the dirty sample AND the retry that cleared it.
      // Never in the full profile (already best-of-3 with per-repeat GC).
      // cheap entries only (committed ref < 5 s): a flagged giant-group
      // preset would burn 2 x ~40 s of retries on a band it may sit in
      // legitimately — those flags go to the end-of-run isolated rerun,
      // whose clean child is the right instrument for them.
      // FLOOR-BOUND entries (ref < 0.7 s) don't retry either (round 14,
      // VERDICT r13 #5): at a 0.53 s scheduling floor the "work" being
      // re-measured is mostly the floor itself, so a retry + System.gc()
      // buys noise, not signal — across ~80 such entries on a warm box
      // that was 60-90 s of budget, which now funds the hard rerun
      // reserve and the parity rotation. Their (rare, floor-normalized)
      // flags adjudicate nearly free in the isolated-rerun child.
      if (!fullProfile && runs.nonEmpty && runs.forall(_ >= 0) &&
          refTimes.get(name).exists(r => r >= 0.7 && r < 5.0)) {
        var retries = 0
        // observed-cost cap, ONE free retry (r12e/r12f/r12g rehearsals):
        // a <5 s-ref entry reading 15+ s is EITHER a sustained window /
        // regression (hotbucket read 35 s, retried 47 s — 82 s burned,
        // adjudicated 4.3 s by the clean rerun child) OR deterministic
        // long-JVM first-run pathology that one GC-leveled retry clears
        // for cheap (q_unnest_rename reads 33-52 s first-run EVERY
        // capture, 3.5 s after one retry). Indistinguishable up front, so
        // the first retry is always allowed — the non-improving cutoff
        // bounds the ambient case to one wasted run — and the >= 15 s
        // cap blocks only the SECOND.
        // same mainBudgetLeft gate as the repeat loop above (ADVICE r14):
        // an in-place retry must not spend the hard rerun reserve either
        while (retries < (if (runs.min < 15.0) 2 else 1) &&
            mainBudgetLeft > 60 &&
            entryFlagged(name, runs.min, lastFloorSample)) {
          System.gc()
          val prevMin = runs.min
          val extra = runsOfN(1, onErr)(f)
          // a FAILED retry must not poison a measured entry: keep the
          // good runs, stop retrying (transient exec errors re-adjudicate
          // in the isolated-rerun child if the entry stays flagged).
          // A NON-IMPROVING retry also stops: the box is in a sustained
          // load window, not a burst — further runs only burn budget
          // (a rehearsal measured a retry chain degrade 7.1 → 11.4 →
          // 18.0 → 34.3 s under one such window).
          if (extra.exists(_ < 0) || extra.min >= prevMin) retries = 2
          if (extra.forall(_ >= 0)) runs = runs ++ extra
          retries += 1
        }
      }
      runsLog(name) = runs
      val freshFloor = fullProfile || floorEntryIdx % 4 == 0 || lastFloorSample < 0
      if (freshFloor) lastFloorSample = time(materialize(floorJob(spark)))
      floorAge(name) = if (freshFloor) 0 else floorEntryIdx % 4
      floorEntryIdx += 1
      floorsLog(name) = lastFloorSample
      val v = if (runs.exists(_ < 0)) -1.0 else runs.min
      partialResults(name) = v
      flushPartial()
      name -> v
    }

    // floor-plan warmup: the first adjacent floor sample must measure
    // ambient load, not the floor job's own codegen. Timed into
    // lastFloorSample so even the FIRST entry's in-place retry has a
    // floor canary (a codegen-inflated one only under-retries, never
    // over-retries).
    try lastFloorSample = time(materialize(floorJob(spark)))
    catch { case _: Throwable => }

    // CALM-WINDOW DETECTOR (VERDICT r13 #4): three consecutive captures
    // ran on hot boxes (per-entry medians 1.12x/1.13x/1.37x vs committed
    // calm references). When the opening floor probe reads hot (>1.5x the
    // committed calm floor), WAIT — in bounded 20 s steps, re-probing,
    // up to SPARK_GRAFT_CALM_WAIT_SEC (default 180; 0 disables) and never
    // past 25% of the wall budget — rather than spend the whole window
    // measuring weather. The wait consumes the budget honestly (ambient
    // bursts on this box last seconds-to-minutes, so a short wait often
    // buys a calm capture that is worth far more than 3 extra entries);
    // waited seconds and the start/end probes are emitted as
    // calm_wait_sec / start_floor_sec so the adjudicator can see the
    // decision. The first (codegen-carrying) warmup sample above is NOT
    // the probe — a fresh timed sample is.
    val calmWaitMax = sys.env.getOrElse("SPARK_GRAFT_CALM_WAIT_SEC", "180").toDouble
    var calmWaitSec = 0.0
    var startFloorSec =
      try time(materialize(floorJob(spark))) catch { case _: Throwable => -1.0 }
    if (startFloorSec > 0) lastFloorSample = startFloorSec
    val startFloorFirst = startFloorSec
    if (!fullProfile && calmWaitMax > 0 && refFloorSec > 0 && startFloorSec > 0) {
      while (startFloorSec > refFloorSec * 1.5 && calmWaitSec < calmWaitMax &&
          (budgetSec <= 0 || elapsedSec < budgetSec * 0.25)) {
        System.err.println(f"[bench] start floor $startFloorSec%.2f s > 1.5x " +
          f"committed $refFloorSec%.2f s — waiting 20 s for a calm window " +
          f"(${calmWaitSec.toInt + 20}/${calmWaitMax.toInt} s)")
        Thread.sleep(20000)
        calmWaitSec += 20
        startFloorSec =
          try time(materialize(floorJob(spark))) catch { case _: Throwable => startFloorSec }
        if (startFloorSec > 0) lastFloorSample = startFloorSec
      }
      if (calmWaitSec > 0)
        System.err.println(f"[bench] calm wait ended after ${calmWaitSec.toInt} s " +
          f"(floor $startFloorSec%.2f s vs committed $refFloorSec%.2f s)")
    }

    // ---- forked-scenario machinery (used by the carve-out below AND the
    // parity/scale phases further down). DEFAULT: one fresh child JVM per
    // scenario (the reference harness's spawn-mode isolation,
    // harness.py:253-259) — peak_rss_mb is a true per-process VmHWM and no
    // scenario ever measures another's heap residue (round 5's in-process
    // capture peaked at 92 GB RSS and flagged 16 entries). The child
    // reports its runs vector + adjacent floor sample, so the per-entry
    // noise diagnostics survive forking. SPARK_GRAFT_FORK=0 opts back into
    // the shared-JVM runner (faster; used by the isolated re-run child,
    // which is already a clean room).
    val forkMode = !sys.env.get("SPARK_GRAFT_FORK").contains("0")
    val rss = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def record(name: String, r: BenchScenario.ForkResult): Option[(String, Double)] = {
      // a child that ran out of its handed-down wall budget reports the
      // scenario as budget-skipped — it belongs in "skipped" (same as a
      // never-started chunk), not in "errors"
      if (r.err.exists(_.startsWith("budget-skipped"))) {
        skipped += name
        flushPartial()
        return None
      }
      rss(name) = r.rssMb
      if (r.runs.nonEmpty) runsLog(name) = r.runs
      if (r.floor > 0) { floorsLog(name) = r.floor; floorAge(name) = 0 }
      r.err.foreach(m => errMsgs(name) = m)
      partialResults(name) = r.sec
      flushPartial()
      Some(name -> r.sec)
    }
    // Per-entry repeat tiers (see [[repeatFor]]): the chronic-variance
    // giant-group entries take best-of-3/2 in EVERY profile; the rest
    // take the profile's base repeat (1 in the driver profile — the
    // flag + isolated-rerun net adjudicates tail samples, and the saved
    // pass per forked entry is the driver-budget headroom that gets
    // n_skipped to 0). The child applies repeatFor per name.
    val forkRepeat = repeat
    def runForkedAndRecord(name: String): Option[(String, Double)] =
      record(name, BenchScenario.runForked(name, cpus, forkRepeat, sfDir,
        childWarmups, mainBudgetLeft, obsHostRatio))
    // a fork costs child-JVM + session startup + dataset build on top of
    // the passes themselves — reserve 90 s of fixed cost PLUS twice the
    // committed reference time of the work itself (round 12: the flat
    // 90 s let a parity chunk start at 1050 s elapsed and overrun the
    // 1320 s budget by 37 s when a host burst tripled its giant-group
    // runs; unreferenced new entries cost the fixed reserve only)
    // host-speed-aware (round 14): the flat 2x-refs estimate green-lit
    // the _2k giant chunk into a 165 s window on a degrading box whose
    // true hot cost was ~200 s (r14e overran the wall by 146 s in the
    // chain this started). Scaling by the parent's observed ratio keeps
    // calm-box behavior identical and makes a hot box skip honestly.
    def chunkBudgetNeed(names: Seq[String]): Double =
      90.0 + 2.0 * math.max(1.0, obsHostRatio) * names.flatMap(refTimes.get).sum
    def forkBudgetOk(name: String): Boolean =
      if (mainBudgetLeft >= chunkBudgetNeed(Seq(name))) true
      else { skipped += name; false }

    // ---- PROTECTED PARITY CARVE-OUT (VERDICT r12 #1) ----
    // The parity family is the only bench section that compares directly
    // against BASELINE.md, yet the r12 capture budget-skipped ALL 15 of
    // its entries: they ran last and the degradation ladder starved the
    // best-evidenced family first, exactly as designed — leaving the
    // round with zero gate evidence. Guarantee SOME parity evidence per
    // capture by running ONE representative preset per family FIRST —
    // before the q_ sweep, before any flag/reserve machinery can consume
    // the window — inside a bounded budget slice
    // (SPARK_GRAFT_PARITY_CARVEOUT_SEC, default 360 s). The child runner
    // keeps the full per-name protocol (best-of-2 tiers, warmups) and
    // degrades per-scenario within the slice if the box is hot; a preset
    // the child budget-skips gets its normal shot in the main parity
    // phase (the skip marker is dropped so it re-enters its family
    // chunk). The remaining 10 presets keep the existing
    // least-evidenced-first ordering after the scale_ phase.
    // rotation presets (VERDICT r13 #2, rule at [[parityRotationDefault]])
    // join the carve-out slice; unknown names warn instead of silently
    // carving nothing
    val rotationNames: Seq[String] = sys.env.get("SPARK_GRAFT_PARITY_ROTATION") match {
      case Some("none") => Nil
      case Some(s) => s.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      case None => parityRotationDefault
    }
    rotationNames.filterNot(n => parityScenarios.exists(_._1 == n)).foreach(n =>
      System.err.println(s"[bench] WARNING: rotation preset '$n' is not a parity scenario"))
    val parityCarveOutNames: Seq[String] =
      if (!forkMode || fullProfile || budgetSec <= 0) Nil
      else orderCarveOut((parityCarveOutList ++
        rotationNames.filter(n => parityScenarios.exists(_._1 == n)))
        .distinct.filter(selected))
    val carveOutResults: Seq[(String, Double)] =
      if (parityCarveOutNames.isEmpty) Nil
      else {
        // default raised 360 → 420 in round 14 to fund the rotation
        // presets (streaming_8/64 reuse the already-built "large" dataset
        // so they cost runs only; unpack_large adds one "packed_large"
        // build ≈ 12 s + runs) — wall math in the header scaladoc
        val carveBudget = math.min(
          sys.env.getOrElse("SPARK_GRAFT_PARITY_CARVEOUT_SEC", "420").toDouble,
          budgetLeft - 60)
        if (carveBudget < 45) Nil
        else {
          System.err.println(s"[bench] parity carve-out " +
            s"(${parityCarveOutNames.size} presets, ${carveBudget.toInt} s): " +
            parityCarveOutNames.mkString(", "))
          val results = BenchScenario.runForkedGroup(parityCarveOutNames,
            cpus, forkRepeat, sfDir, childWarmups, carveBudget, obsHostRatio)
          // a name with NO result line means the grouped child died before
          // reaching it — for carve-out names treat that like a budget-skip
          // (drop it so it re-enters its family chunk in the main parity
          // phase) rather than recording a sec=-1 error that would forfeit
          // the preset's normal shot: one child death must not cost all
          // seven gate presets their capture (ADVICE r13)
          val out = parityCarveOutNames.flatMap(n => results.get(n) match {
            case Some(r) => record(n, r)
            case None =>
              System.err.println(s"[bench] carve-out: no result line for " +
                s"$n (child died?) — deferring to the main parity phase")
              None
          })
          skipped --= parityCarveOutNames.filterNot(partialResults.contains)
          out
        }
      }

    // per-entry budget reserve: an in-process q_* entry costs its own
    // runtime plus GC + floor sample (~1 s overhead); 30 s of reserve
    // keeps the heaviest single entry from blowing the deadline
    val queryTimes = SparkEntry.queries.toSeq.flatMap {
      case (name, fn) if selected(name) =>
        if (mainBudgetLeft < 30) { skipped += name; None }
        else Some(measured(name)(fn(spark, sfDir)))
      case _ => None
    }

    def scenario(name: String)(f: => DataFrame): (String, Double) = {
      val (res, peak) = sampleRss(measured(name)(f))
      rss(name) = peak
      res
    }

    val floorSec = bestOf(floorJob(spark))

    // ---- parity workloads vs BASELINE.md (same shapes as the reference) ----
    // Datasets and scenario definitions live in [[parityScenarios]] /
    // [[buildDataset]] / [[prepareScale]]; the forked-runner machinery is
    // defined above the carve-out.
    // non-parity scale/auto scenarios (definitions + rationale in
    // [[prepareScale]]): forked per scenario by default, like parity. The
    // driver profile shares one child JVM across chunks of 8 (they don't
    // share datasets, but the ~10-15 s JVM + session startup amortizes;
    // chunking bounds what one child death can lose).
    // ORDER (VERDICT r10 #1): scale_/auto_ run BEFORE the parity family —
    // the parity entries have ten rounds of committed evidence, the scale
    // entries are the 100TB-design measurements and were the ones budget-
    // skipped two rounds running when they came last.
    val scaleResults: Seq[(String, Double)] =
      if (forkMode && !fullProfile)
        scaleScenarioNames.filter(selected).grouped(8).toSeq.flatMap { chunk =>
          if (mainBudgetLeft < chunkBudgetNeed(chunk)) { skipped ++= chunk; Nil }
          else {
            val results = BenchScenario.runForkedGroup(chunk, cpus,
              forkRepeat, sfDir, childWarmups, mainBudgetLeft, obsHostRatio)
            chunk.flatMap(n => record(n, results.getOrElse(n,
              BenchScenario.ForkResult(-1.0, -1L, -1.0, Nil,
                Some("no result line from grouped child")))))
          }
        }
      else scaleScenarioNames.filter(selected).flatMap { name =>
        if (forkMode) {
          if (forkBudgetOk(name)) runForkedAndRecord(name) else None
        } else if (mainBudgetLeft < 30) { skipped += name; None }
        else {
          val p = try prepareScale(spark, name, sfDir) catch {
            case e: Throwable =>
              errMsgs(name) = s"prepare failed: ${e.getMessage}".take(300)
              Prepared(() => throw e, () => ())
          }
          try Some(scenario(name)(p.query())) finally p.cleanup()
        }
      }


    // carve-out-measured presets don't re-run here (their value is
    // already recorded); a carve-out preset whose child budget-skipped
    // it has no partialResults entry and re-enters its family chunk
    val activeParity = parityScenarios.filter(s =>
      selected(s._1) && !partialResults.contains(s._1))
    val parityResults: Seq[(String, Double)] =
      if (forkMode && !fullProfile) {
        // driver profile: grouped children. Round 9 grouped by dataset key
        // (the 5 "large" scenarios share one JVM + session + dataset
        // build); round 12 additionally COALESCES consecutive dataset
        // groups into shared children of <= 5 scenarios — BENCH_r10/r11
        // budget-skipped exactly the 3 tail dataset groups (5 scenarios:
        // skewed/salted_skewed, parent_heavy pair, very_large) because
        // each paid its own ~15-20 s JVM + session cost. At cap 5 the
        // full family lands in THREE children and the third IS that
        // 5-scenario tail; it also keeps the GC-band skewed pack out of
        // the _2k giants' child (heap residue reads as regression).
        // BenchScenario's dsCache already shares one child across
        // datasets (and evicts a dataset once its last scenario ran, so
        // peak heap stays one dataset deep). The full profile keeps
        // strict per-scenario forks for clean per-process VmHWM.
        // CHEAP GROUPS BEFORE GIANT GROUPS (round 14): with the carve-out
        // + rotation consuming 10 presets, the whole remaining family
        // (no_child_order, the parent_heavy pair, the _2k giants)
        // coalesces into ONE child — and in first-appearance order the
        // _2k giants ran before the sub-2 s parent_heavy pair, so when
        // the giants' best-of-3 band ate the child's budget it skipped
        // the CHEAP presets (r14a rehearsal: 2 of 5 measured, the two
        // skipped parent_heavy runs would have cost ~10 s total). Sort
        // dataset groups by their cheapest-known cost so a child's
        // budget death always lands on the most expensive, best-
        // evidenced giants. (The old least-evidenced-first chunk order
        // is subsumed: post-carve-out, cost order IS evidence-need order
        // — the giants have ten rounds of committed values.)
        val groups = activeParity.groupBy(_._2).toSeq
          .sortBy { case (k, defs) =>
            (defs.map(d => refTimes.getOrElse(d._1, 10.0)).max,
              activeParity.indexWhere(_._2 == k)) }
        val chunks = groups.foldLeft(
          List.empty[Vector[(String, String, DataFrame => DataFrame)]]) {
          (acc, g) => acc match {
            case head :: tail if head.size + g._2.size <= 5 =>
              (head ++ g._2) :: tail
            case _ => g._2.toVector :: acc
          }
        }
        // CHEAPEST CHUNK FIRST (round 14, superseding round 12's
        // least-evidenced-first): the fold above prepends, so the chunk
        // list is build-reversed — reverse it back so chunks run in the
        // cost order the group sort established. If a bursty box starves
        // anything now, it's the most expensive chunk (the _2k giants),
        // which post-carve-out is also the best-evidenced one — the r12
        // starvation pattern this ordering originally fixed (the
        // skewed/parent_heavy/very_large tail skipped three rounds
        // running) is now prevented upstream by the carve-out + rotation.
        chunks.reverse.flatMap { defs =>
          val names = defs.map(_._1)
          if (mainBudgetLeft < chunkBudgetNeed(names)) { skipped ++= names; Nil }
          else {
            val results = BenchScenario.runForkedGroup(names, cpus,
              forkRepeat, sfDir, childWarmups, mainBudgetLeft, obsHostRatio)
            names.flatMap(n => record(n, results.getOrElse(n,
              BenchScenario.ForkResult(-1.0, -1L, -1.0, Nil,
                Some("no result line from grouped child")))))
          }
        }
      }
      else if (forkMode) activeParity.flatMap {
        case s if forkBudgetOk(s._1) => runForkedAndRecord(s._1)
        case _ => None
      }
      else {
        // iterate datasets in first-appearance order, persist each once
        val dsOrder = activeParity.map(_._2).distinct
        dsOrder.flatMap { dsKey =>
          // budget check BEFORE the dataset build: with the budget gone,
          // building+persisting each remaining dataset (tens of seconds)
          // just to skip its queries would overshoot the deadline the
          // budget exists to protect
          if (mainBudgetLeft < 30) {
            activeParity.filter(_._2 == dsKey).foreach(skipped += _._1)
            Nil
          } else {
          val ds = buildDataset(spark, dsKey).persist(StorageLevel.MEMORY_AND_DISK)
          ds.count()
          val defs = activeParity.filter(_._2 == dsKey)
          // one untimed warmup pass on the first dataset: the first heavy
          // job after a cache build otherwise absorbs all JIT/GC warmup
          // (measured 5-13s vs 0.7s steady)
          if (dsKey == dsOrder.head)
            try materialize(defs.head._3(ds)) catch { case _: Throwable => }
          val out = defs.flatMap { case (name, _, fn) =>
            if (mainBudgetLeft < 30) { skipped += name; None }
            else Some(scenario(name)(fn(ds)))
          }
          ds.unpersist()
          out
          }
        }
      }

    // SECOND-CHANCE PASS over budget-skipped forked scenarios (the r12e
    // rehearsal on a ~1.4x host: the chunk gate's conservative
    // 90 s + 2x-refs estimate budget-skipped 26 entries, yet the run
    // finished with usable wall left). The child runner already degrades
    // per-scenario — needSec affordability with host-speed calibration,
    // budget-bounded repeats, at-least-one-run semantics — so hand the
    // skipped scenarios one more set of grouped children with whatever
    // main budget remains: entries that fit are measured (a single-run
    // vector with its floor canary beats a skip), entries that don't are
    // re-skipped by the child's own finer per-scenario gate. Chunks of 8
    // bound what one child death can lose; original scheduling order
    // keeps least-evidenced first. The flag reserve stays subtracted
    // from mainBudgetLeft, so the end-of-run adjudication window is
    // never spent here.
    // GIANT-TIER EXCLUSION (r12h rehearsal): the bestOf3Names giants need
    // their full warmup + best-of-3 protocol — a degraded window measured
    // parity_pack_parent_dominant_2k at a single 58.5 s run (10 s ref),
    // i.e. JVM ramp, not the operator (the exact lesson of the round-12
    // warmup experiment in BASELINE.md); the garbage value then flagged,
    // inflated the reserve, budget-skipped the isolated rerun, and its
    // unabortable run overran the wall by 71 s. A degraded window takes
    // cheap entries only; a giant either gets the full protocol in its
    // normal chunk or an HONEST skip.
    def degradedEligible(n: String): Boolean =
      (scaleScenarioNames.contains(n) || parityScenarios.exists(_._1 == n)) &&
        !bestOf3Names.contains(n)
    val secondChance: Seq[(String, Double)] =
      if (forkMode && !fullProfile && skipped.nonEmpty) {
        val forkable = skipped.filter(degradedEligible).toList
        skipped --= forkable
        forkable.grouped(8).toSeq.flatMap { chunk =>
          if (mainBudgetLeft < 45) { skipped ++= chunk; Nil }
          else {
            System.err.println(s"[bench] second-chance pass (${chunk.size} " +
              s"budget-skipped scenarios, ${mainBudgetLeft.toInt} s left): " +
              chunk.mkString(", "))
            val results = BenchScenario.runForkedGroup(chunk, cpus,
              forkRepeat, sfDir, childWarmups, mainBudgetLeft, obsHostRatio)
            chunk.flatMap(n => record(n, results.getOrElse(n,
              BenchScenario.ForkResult(-1.0, -1L, -1.0, Nil,
                Some("no result line from grouped child")))))
          }
        }
      } else Nil

    val all0 = carveOutResults ++ queryTimes ++ scaleResults ++
      parityResults ++ secondChance

    // ---- noise-robust finalization (see scaladoc: NOISE ROBUSTNESS) ----
    // BENCH_REFERENCE.json is the committed known-good artifact; entries
    // slower than flagFactor x their reference (with 0.4 s absolute slack
    // so scheduling-floor entries never flag) re-run in a clean child JVM.
    // The flag predicate itself ([[entryFlagged]]) is defined up top —
    // it also steers the main pass's budget reserve.
    val rerunEnabled = holdsReserve // single-sourced with the reserve gate
    val flagged = all0.collect {
      case (name, t) if entryFlagged(name, t, floorSec) => name
    }
    // floor-gate (VERDICT r5 #4): before burning isolated re-runs, check
    // whether the BOX is hot — re-running 13 entries under the same
    // ambient burst that flagged them records noise as signal. Probe the
    // scheduling floor in a fresh child; if it exceeds 1.5× the committed
    // reference floor, wait once and re-probe. Entries whose re-run still
    // happened under a hot floor are listed in "floor_hot" so the artifact
    // distinguishes "regression" from "hot box".
    // calm-floor estimate: the committed reference's floor_sec when
    // present; otherwise the MINIMUM floor sample observed this capture
    // (the min over ~90 samples approximates the calm floor even if parts
    // of the run were hot)
    val refFloor =
      if (refFloorSec > 0) refFloorSec
      else (floorsLog.values.toSeq :+ floorSec).filter(_ > 0) match {
        case Nil => -1.0
        case xs => xs.min
      }
    var rerunFloor = -1.0
    var rerunFloorHot = false
    // the re-run needs a floor probe + one shared-JVM child over the
    // flagged list — below 180 s of remaining budget, skip it and say so
    // (the raw in-process values stay in the artifact either way)
    // the rerun needs a floor-probe child + one shared-JVM child over the
    // flagged list — ~100 s when the flags are the cheap-entry class the
    // in-place retry leaves behind. The old 180 s gate discarded a 170 s
    // tail window in the r12 rehearsal and left 4 flags unadjudicated;
    // runIsolated hands its child the remaining budget either way, so a
    // tight window degrades to a partial rerun, not an overrun.
    // (round 14: threshold 100 → 45 s — runIsolated hands the child the
    // remaining budget and the child's own affordability gate degrades to
    // a partial rerun, so even a thin window adjudicates the worst
    // offender; below ~45 s a child JVM cannot finish anything)
    val rerunSkippedBudget = flagged.nonEmpty && rerunEnabled && budgetLeft < 45
    val isolated: Map[String, Double] =
      if (flagged.isEmpty || !rerunEnabled || rerunSkippedBudget) Map.empty
      else {
        System.err.println(s"[bench] ${flagged.size} entries exceed " +
          s"${flagFactor}x their committed reference — isolated re-run: " +
          flagged.mkString(", "))
        // The in-process capture is complete — release the parent BEFORE
        // forking: drop any cached plans, stop the SparkContext (frees 32
        // executor threads + shuffle/broadcast memory, so the parent can't
        // compete with the child's measurement), and ask for a full GC so
        // the unpinned heap uncommits back to the OS before the child
        // sizes itself against MemAvailable (round-4 postmortem: the
        // re-run fork OOM-killed the capture it was trying to save).
        try spark.sharedState.cacheManager.clearCache()
        catch { case _: Throwable => }
        spark.stop()
        System.gc()
        // no absolute slack: the r11 rerun floor was 0.556 s = 1.65x the
        // committed 0.338 s floor, yet the old `> ref*1.5 + 0.05` gate
        // missed by 0.5 ms and the 9.77/18.5 s hot-child values stood
        // unannotated (VERDICT r11 "What's wrong" #1a). The ratio itself
        // is emitted as rerun_floor_ratio either way.
        def hot(f: Double): Boolean =
          refFloor > 0 && f > 0 && f > refFloor * 1.5
        rerunFloor = BenchScenario.runForked("__floor__", cpus,
          math.max(repeat, 3), sfDir, childWarmups).sec
        // the 30 s calm wait + re-probe costs ~42 s — affordable when the
        // reserve is fat, fatal when a GIANT flag needs ~110 s of the
        // 120 s hard reserve (the r14a rehearsal burned the wait and then
        // couldn't afford the flagged _2k giant's rerun child at all: an
        // empty isolated_rerun is strictly worse than a floor_hot-
        // annotated one). Below 180 s of remaining budget, take the
        // single probe's verdict and spend the window on the rerun itself.
        if (hot(rerunFloor) && budgetLeft >= 180) {
          System.err.println(s"[bench] floor probe $rerunFloor s > 1.5x " +
            s"committed floor $refFloor s — waiting 30 s for the box to calm")
          Thread.sleep(30000)
          rerunFloor = BenchScenario.runForked("__floor__", cpus,
            math.max(repeat, 3), sfDir, childWarmups).sec
        } else if (hot(rerunFloor))
          System.err.println(s"[bench] floor probe $rerunFloor s hot but " +
            s"only ${budgetLeft.toInt} s left — skipping the calm wait, " +
            "rerunning under floor_hot annotation")
        rerunFloorHot = hot(rerunFloor)
        if (rerunFloorHot)
          System.err.println(s"[bench] floor still hot ($rerunFloor s) — " +
            "re-run values will carry floor_hot annotations")
        // best-of-2 minimum in the clean room — a driver-profile
        // REPEAT=1 parent still recovers a stable value for its flags.
        // WORST offenders first, in their own child: SPARK_GRAFT_ONLY is
        // an unordered filter, so a single child would run the flags in
        // map order and could burn its whole budget on a dozen cheap
        // 2.1x floor-noise q_* flags before reaching the apparent 3-7x
        // "regressions" that actually need adjudication (the round-9 dry
        // run did exactly that, budget-cutting all five heavy parity
        // flags). Two children: heavy flags (ratio >= 3x or >= 5 s) get
        // the first claim on the remaining budget, the light ones take
        // what's left.
        val t0 = all0.toMap
        def ratio(n: String): Double =
          t0.getOrElse(n, 0.0) / math.max(refTimes.getOrElse(n, 1e9), 1e-9)
        // round 14 (VERDICT r13 #1): the heavy class also includes any
        // flag whose COMMITTED reference is >= 5 s — a big preset reading
        // "only" 2.5x is still tens of seconds of unexplained wall — and
        // heavy flags run HIGHEST-RATIO FIRST in chunks of 3 (the child
        // receives names via the unordered SPARK_GRAFT_ONLY filter, so
        // ordering must happen at the chunk boundary: if the window dies
        // mid-adjudication, the 10x outlier has its value and the 2.1x
        // one is the casualty, not the reverse).
        val (heavy0, light) = flagged.partition(n =>
          ratio(n) >= 3.0 || t0.getOrElse(n, 0.0) >= 5.0 ||
            refTimes.getOrElse(n, 0.0) >= 5.0)
        // HOMOGENEOUS chunks (ADVICE r14): sorting by ratio then grouping
        // in 3s could land a cheap high-ratio flag in the same chunk as a
        // ref>=5 s giant; the chunk then inherited the giant's need=110
        // gate and the cheap flag was skipped even when a 40 s window
        // remained that could have adjudicated it alone. Chunk giants and
        // cheap heavy flags SEPARATELY, then run chunks worst-offender-
        // first (by each chunk's max ratio) so the 10x outlier still has
        // first claim on the window.
        val (giantsH, cheapH) = heavy0.partition(n =>
          refTimes.getOrElse(n, 0.0) >= 5.0)
        val heavyChunks =
          (giantsH.sortBy(n => -ratio(n)).grouped(3).toList ++
            cheapH.sortBy(n => -ratio(n)).grouped(3).toList)
            .sortBy(grp => -grp.map(ratio).max)
        val isoHeavy = heavyChunks.foldLeft(Map.empty[String, Double]) {
          (acc, grp) =>
            // a chunk holding a GIANT (ref >= 5 s) needs the child to
            // build a giant dataset + run a warmup + best-of protocol —
            // launching one into a < 100 s window just overruns the wall
            // and returns nothing (r14e: a 45 s-budget child spent it all
            // building parent_dom_2k). Cheap flags stay viable at 40 s
            // (chunks are giant-only or cheap-only by construction now).
            val need = if (grp.exists(n => refTimes.getOrElse(n, 0.0) >= 5.0))
              110 else 40
            if (budgetLeft < need) acc
            else acc ++ runIsolated(grp, cpus, math.max(repeat, 2), budgetLeft)
        }
        val isoLight =
          if (light.isEmpty || budgetLeft < 40) Map.empty[String, Double]
          else runIsolated(light, cpus, math.max(repeat, 2), budgetLeft)
        isoHeavy ++ isoLight
      }
    // FINAL-WINDOW PASS (round 12): with the isolated rerun done, the
    // reserve has been spent or released — whatever wall remains belongs
    // to scenarios still budget-skipped (the r12f rehearsal ended with
    // 113 s unspent while 14 parity presets sat in "skipped"). Same
    // child-side degradation as the second-chance pass; runs as child
    // processes, so the stopped parent session is no obstacle. Entries
    // measured here missed the rerun window by construction — any that
    // WOULD flag are disclosed in "late_flagged" (value likely ambient,
    // no adjudication window remained) instead of standing unannotated.
    val lateResults: Seq[(String, Double)] =
      if (forkMode && !fullProfile && skipped.nonEmpty && budgetLeft > 60) {
        val names = skipped.filter(degradedEligible).toList
        skipped --= names
        names.grouped(8).toSeq.flatMap { chunk =>
          if (budgetLeft < 45) { skipped ++= chunk; Nil }
          else {
            System.err.println(s"[bench] final-window pass (${chunk.size} " +
              s"scenarios, ${budgetLeft.toInt} s left): " + chunk.mkString(", "))
            val results = BenchScenario.runForkedGroup(chunk, cpus,
              forkRepeat, sfDir, childWarmups, budgetLeft, obsHostRatio)
            chunk.flatMap(n => record(n, results.getOrElse(n,
              BenchScenario.ForkResult(-1.0, -1L, -1.0, Nil,
                Some("no result line from grouped child")))))
          }
        }
      } else Nil
    val lateFlagged = lateResults.collect {
      case (n, t) if entryFlagged(n, t, refFloor) => n
    }
    // floor_excused disclosure (VERDICT r14 #3): entries whose RAW value
    // exceeds flagFactor x their committed reference (plus the 0.4 s
    // absolute slack) but which [[entryFlagged]]'s floor-subtracted work
    // predicate excused — correct behavior (the excess is scheduling
    // floor, not operator work), but previously the reader had to
    // recompute the excusal from the "floors" map; now the artifact
    // names them (r14 capture: q_validate_uniformity 3.0x,
    // q_unpack_streaming 2.1x, q_dedup_exact 2.0x, q_multimodal_decode
    // 3.1x, scale_neardup_survivors 2.4x raw — all excused). The raw
    // predicate is [[rawExceeds]], defined ONCE next to entryFlagged
    // (round 15 — a second copy here could drift from the flag predicate
    // it excuses).
    val floorExcused = (all0 ++ lateResults).collect {
      case (n, t) if rawExceeds(n, t) && !entryFlagged(n, t, refFloor) => n
    }.distinct
    // an entry's final value is its best observation across the in-process
    // runs and the isolated re-run — consistent with the best-of-N
    // protocol; the raw in-process value for every flagged entry stays in
    // the artifact under "inprocess"
    val all = (all0 ++ lateResults).map { case (name, t) =>
      isolated.get(name).filter(_ > 0) match {
        case Some(iso) if t <= 0 || iso < t => name -> iso
        case _ => name -> t
      }
    }
    // explicit failure records: a failed entry is OMITTED from "queries"
    // and carried in "errors" with its message — no -1.0 sentinel for
    // downstream aggregations to silently include
    val (good, bad) = all.partition(_._2 >= 0)
    bad.foreach { case (name, _) =>
      if (!errMsgs.contains(name)) errMsgs(name) = "failed (no message captured)"
    }
    def jq(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val errsJson = errMsgs.filter(e => bad.exists(_._1 == e._1))
      .map { case (k, v) => s"${jq(k)}:${jq(v)}" }.mkString("{", ",", "}")
    val qs = good.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val rssJson = rss.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val runsJson = runsLog.map { case (k, v) =>
      s""""$k":[${v.mkString(",")}]""" }.mkString("{", ",", "}")
    val floorsJson = floorsLog.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    // floor-sample age per entry (0 = probed adjacent; 1-3 = reused from
    // up to 3 entries earlier) — lets the adjudicator distinguish a live
    // ambient canary from a dated one
    val floorAgeJson = floorAge.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    val isoJson = isolated.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val flaggedJson = flagged.map(n => s""""$n"""").mkString("[", ",", "]")
    val lateFlaggedJson = lateFlagged.map(n => s""""$n"""").mkString("[", ",", "]")
    val inprocJson = all0.filter(p => flagged.contains(p._1))
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val total = all.collect { case (_, v) if v >= 0 => v }.sum
    // peak RSS of this JVM (Linux VmHWM) — whole-run high-water mark
    val peakRssMb: Long = try {
      val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM")).map(_.replaceAll("[^0-9]", "").toLong)
      hwm.map(_ / 1024).getOrElse(-1L)
    } catch { case _: Throwable => -1L }
    val refJson = if (refTimes.isEmpty) "null" else s""""$refPath""""
    // floor_hot: flagged entries whose isolated re-run happened under a
    // still-hot scheduling floor — read their values as "hot box", not
    // "regression"; rerun_floor is the probe that decided it
    val floorHotJson = (if (rerunFloorHot) flagged else Nil)
      .map(n => s""""$n"""").mkString("[", ",", "]")
    val skippedJson = skipped.map(n => s""""$n"""").mkString("[", ",", "]")
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""profile":"$profile","budget_sec":$budgetSec,""" +
      s""""elapsed_sec":$elapsedSec,"skipped":$skippedJson,""" +
      s""""rerun_skipped_budget":$rerunSkippedBudget,""" +
      s""""rerun_reserve_sec":$rerunReserveHard,""" +
      s""""calm_wait_sec":$calmWaitSec,"start_floor_sec":$startFloorFirst,""" +
      s""""start_floor_after_wait_sec":$startFloorSec,""" +
      // rotation names come from an ENV VAR (SPARK_GRAFT_PARITY_ROTATION)
      // — escape them (ADVICE r14): a quote or backslash in the value
      // would otherwise emit a malformed artifact that readQueryTimes /
      // adjudication tooling cannot parse
      s""""rotation":${rotationNames.map(jq).mkString("[", ",", "]")},""" +
      s""""floor_excused":${floorExcused.map(n => s""""$n"""").mkString("[", ",", "]")},""" +
      s""""peak_rss_mb":$peakRssMb,"floor_sec":$floorSec,"fork":$forkMode,""" +
      s""""n_queries":${good.size},"scenario_rss_mb":$rssJson,""" +
      s""""flag_factor":$flagFactor,"reference":$refJson,""" +
      s""""flagged":$flaggedJson,"late_flagged":$lateFlaggedJson,""" +
      s""""inprocess":$inprocJson,""" +
      s""""isolated_rerun":$isoJson,"rerun_floor":$rerunFloor,""" +
      s""""rerun_floor_ratio":${
        if (refFloor > 0 && rerunFloor > 0)
          math.round(rerunFloor / refFloor * 1000) / 1000.0 else -1.0},""" +
      s""""floor_hot":$floorHotJson,"errors":$errsJson,""" +
      s""""floors":$floorsJson,"floor_age":$floorAgeJson,"runs":$runsJson,""" +
      s""""queries":$qs,"sf":"$sfDir"}"""
    // Full metrics go to FILES (lossless — round-2's stdout capture
    // truncated the tail, losing the total and ~15 timings):
    // BENCH_FULL.json carries everything, BENCH_SUMMARY.json the complete
    // per-query map. stdout gets ONE COMPACT line as the very last output:
    // the grading driver keeps only the final ~2000 chars of the run's
    // output and parses the summary from that tail, so a line carrying all
    // 100+ query timings (~4 KB) can never fit — rounds 1-8 all landed
    // rc=0/parsed:null for exactly this reason. The compact line keeps the
    // headline total plus the highest-signal entries (parity_* first, then
    // the slowest q_*) under a hard length budget that leaves room for
    // sbt's trailing "[success]" line inside the tail window.
    val fullSummaryJson = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""profile":"$profile","elapsed_sec":$elapsedSec,""" +
      s""""n_skipped":${skipped.size},""" +
      s""""peak_rss_mb":$peakRssMb,"floor_sec":$floorSec,"fork":$forkMode,""" +
      s""""n_queries":${good.size},"n_errors":${bad.size},""" +
      s""""full":"$outPath","queries":$qs,"sf":"$sfDir"}"""
    writeJson("BENCH_SUMMARY.json", fullSummaryJson)
    val mapBudget = 1200
    val prioritized = good.sortBy { case (k, v) =>
      (if (k.startsWith("parity_")) 0 else 1, -v)
    }
    val sb = new StringBuilder
    var omitted = 0
    prioritized.foreach { case (k, v) =>
      val frag = s""""$k":$v"""
      if (sb.length + frag.length + 1 <= mapBudget) {
        if (sb.nonEmpty) sb.append(',')
        sb.append(frag); ()
      } else omitted += 1
    }
    val compactJson = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""profile":"$profile","elapsed_sec":$elapsedSec,""" +
      s""""n_skipped":${skipped.size},"n_errors":${bad.size},""" +
      s""""peak_rss_mb":$peakRssMb,"floor_sec":$floorSec,"fork":$forkMode,""" +
      s""""n_queries":${good.size},"queries_omitted":$omitted,""" +
      s""""full":"$outPath","queries":{$sb},"sf":"$sfDir"}"""
    val fullWritten = writeJson(outPath, fullJson)
    // stop Spark BEFORE printing — any executor/shutdown log line landing
    // after the summary would push it out of the driver's 2000-char tail
    spark.stop()
    if (fullWritten) println(compactJson)
    else println(fullSummaryJson) // file write failed — emit the full map
  }
}

/**
 * Child-process entry for fork-isolated scenarios (the DEFAULT bench
 * mode): runs ONE scenario — a [[Bench.parityScenarios]] entry, a
 * [[Bench.prepareScale]] scale/auto scenario, or the `__floor__` probe —
 * in its own JVM. Its VmHWM is a clean per-scenario peak RSS, matching
 * the reference harness's spawn-mode child processes. Prints one line
 * `SCENARIO_RESULT <sec> <peak_rss_mb> <floor_sec> <r1,r2,...>` so the
 * parent keeps the per-entry runs-vector + adjacent-floor noise
 * diagnostics it records for in-process entries.
 */
object BenchScenario {

  /** Parsed child report; `sec`<=0 with `err` set marks a failure. */
  private[graft] final case class ForkResult(sec: Double, rssMb: Long,
                                             floor: Double, runs: Seq[Double],
                                             err: Option[String])

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
    val names = args.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "3").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // committed reference + flag factor for the child-side in-place flag
    // retry (cwd is inherited from the parent, so the default path
    // resolves to the same artifact the parent reads)
    val refTimes = Bench.readQueryTimes(new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_REF", "BENCH_REFERENCE.json")))
    val flagFactor = sys.env.getOrElse("SPARK_GRAFT_FLAG_FACTOR", "2.0").toDouble
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // same SPARK_GRAFT_SHUFFLE override as the parent (scale sweeps;
      // "auto" = data-proportional via ext.Tuning)
      .config("spark.sql.shuffle.partitions", ext.Tuning.resolveShuffleSetting(
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus), sfDir, cpus.toInt))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Parity datasets persisted once per child and shared by every scenario
    // in `names` that keys the same dataset — the driver profile groups
    // scenarios by dataset so the (JVM + session + build + persist) cost is
    // paid once per dataset instead of once per scenario.
    val dsCache = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
    def dataset(dsKey: String): DataFrame = dsCache.getOrElseUpdate(dsKey, {
      val ds = Bench.buildDataset(spark, dsKey).persist(StorageLevel.MEMORY_AND_DISK)
      ds.count()
      ds
    })
    val warmups = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "2").toInt
    // wall budget handed down by the parent (absent = unbounded): before
    // each scenario, check affordability — its committed reference time
    // (x repeat, plus warmups) against what's left — and report an
    // explicit budget-skip instead of overrunning the parent's deadline
    val childStartNs = System.nanoTime()
    val childBudgetSec = sys.env.get("SPARK_GRAFT_CHILD_BUDGET_SEC")
      .flatMap(s => scala.util.Try(s.toDouble).toOption)
    def childBudgetLeft: Double = childBudgetSec
      .map(_ - (System.nanoTime() - childStartNs) / 1e9)
      .getOrElse(Double.MaxValue)
    // host-speed calibration for the affordability estimate: the ratio of
    // this child's OWN measured runs to their committed references (a slow
    // or loaded host runs every preset 1.5-4x its calm reference — the
    // uncalibrated estimate let a giant-group chunk overrun the parent's
    // wall by ~190 s). Seeded from the PARENT's measured ratio when handed
    // down (SPARK_GRAFT_HOST_RATIO — the parent has ~160 in-process
    // samples before any child forks; an unseeded first estimate let a
    // final-window giant chunk overrun the wall by 57 s in the r12g
    // rehearsal), else starts at 1 (trust the reference); updated after
    // every completed scenario, clamped to [1, 6].
    var hostRatio = sys.env.get("SPARK_GRAFT_HOST_RATIO")
      .flatMap(s => scala.util.Try(s.toDouble).toOption)
      .map(r => math.min(6.0, math.max(1.0, r))).getOrElse(1.0)
    names.zipWithIndex.foreach { case (name, idx) =>
      // giant presets (ref >= 5 s) carry a 1.5x margin on top of the
      // ratio: their passes are unabortable and 30-60 s long, so an
      // estimate made under calm weather that turns loaded mid-chunk
      // overruns by a whole pass (r12j: a calm-seeded ratio let the _2k
      // giant start with ~60 s left and its first 30 s run pushed the
      // parent 25 s past the wall). Cheap entries keep the plain
      // estimate — their worst overshoot is a few seconds.
      // the fixed cost is per CHILD and per DATASET, not per scenario:
      // the first scenario pays JVM + session + build (~15 s); a later
      // parity scenario whose dataset is already cached costs only its
      // own passes (~4 s slack), a new-dataset or prepareScale scenario
      // ~12 s. The flat 15 s/scenario gate made a grouped child demand
      // 6x15 s for six sub-second presets and skip them inside a 52 s
      // window that fit them twice over (r12l rehearsal).
      val fixedSec =
        if (idx == 0) 15.0
        else Bench.parityScenarios.find(_._1 == name) match {
          case Some((_, dsKey, _)) if dsCache.contains(dsKey) => 4.0
          case _ => 12.0
        }
      val needSec = fixedSec + hostRatio * refTimes.get(name)
        .map(r => r * (Bench.repeatFor(name, repeat) +
          Bench.warmupsFor(name, warmups)) * (if (r >= 5.0) 1.5 else 1.0))
        .getOrElse(10.0)
      if (childBudgetLeft < needSec) {
        println(s"SCENARIO_RESULT $name -1.0 -1 -1.0 - ERR budget-skipped " +
          s"(need ~${needSec.toInt} s, ${childBudgetLeft.toInt} s left)")
      } else {
      // per-preset RSS attribution in GROUPED children (VERDICT r14 #3):
      // VmHWM ratchets across a grouped child's presets, so the r14 carve
      // child reported 39 GB against presets whose per-scenario forks
      // need 11-13 GB. Snapshot the HWM here (post-GC from the previous
      // preset) and report, for non-first presets, the preset's own HWM
      // GROWTH or its live working set after its runs — whichever is
      // larger — instead of the cumulative child peak. The first preset
      // keeps the plain HWM (its baseline IS the JVM + session + build,
      // same semantics as a per-scenario fork).
      val hwmBefore = if (idx > 0) Bench.vmHwmMb() else -1L
      val prepared: Bench.Prepared =
        if (name == "__floor__") Bench.Prepared(() => Bench.floorJob(spark), () => ())
        else Bench.parityScenarios.find(_._1 == name) match {
          case Some((_, dsKey, fn)) =>
            val ds = dataset(dsKey)
            Bench.Prepared(() => fn(ds), () => ())
          case None => Bench.prepareScale(spark, name, sfDir)
        }
      // Untimed warmup passes — the first scenario in a cold JVM otherwise
      // absorbs all JIT/GC warmup (observed 9.1 s → 2.4 s after one pass);
      // the definitive "full" profile uses two, the driver profile one
      // (SPARK_GRAFT_WARMUP, set by the parent; the GC-band best-of-3 tier
      // keeps two in every profile — [[Bench.warmupsFor]]). Later scenarios
      // in a grouped child still warm up: each query shape has its own
      // codegen.
      for (_ <- 1 to Bench.warmupsFor(name, warmups))
        try Bench.materializeDf(prepared.query())
        catch { case _: Throwable => }
      var errMsg = ""
      val onErr = (e: Throwable) => errMsg =
        s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
          .take(300).replaceAll("[\\r\\n\\t]", " ")
      // per-name repeat tier: the documented-variance giant-group entries
      // keep best-of-N regardless of the parent's profile repeat.
      // BUDGET-AWARE repeats (round 12): at least one timed run once the
      // scenario started; further repeats only while the handed-down wall
      // budget holds — bounds a slow-host overrun to ~one run instead of
      // a whole best-of-3 tier. The explicit GC between repeats keeps
      // [[Bench.runsOfN]]'s leveling semantics.
      val reps = Bench.repeatFor(name, repeat)
      var runs = Bench.runsOfN(1, onErr)(prepared.query())
      var rep = 1
      // PROJECTED next-run cost, not just >0 (round 14): `> 0` let a
      // best-of-3 giant start its third 40 s pass with 1 s of wall left —
      // the r14e chunk overran the parent's deadline by ~30 s exactly
      // this way. Projecting by the slowest observed run bounds the
      // overshoot to the at-least-one-run semantics of the FIRST pass.
      while (rep < reps && runs.forall(_ >= 0) &&
          childBudgetLeft > math.max(runs.max, 0.0)) {
        System.gc()
        runs = runs ++ Bench.runsOfN(1, onErr)(prepared.query())
        rep += 1
      }
      // same in-place flag retry as the parent's measured(): a grouped
      // driver-profile child absorbs its own dirty sample instead of
      // handing it to the end-of-run rerun (the r12 rehearsal child read
      // parity_pack_large at [23.8, 8.7] vs 1.16 isolated — a host burst,
      // not a regression). Raw-ratio check (no floor normalization — the
      // retry is an optimization; the parent's floor-aware predicate
      // still decides final flags). Full-profile children (repeat >= 3)
      // keep the pure best-of-N protocol.
      // same ref < 5 s cap as the parent: giant-band flags adjudicate in
      // the isolated-rerun child, not by burning 40 s retries here
      if (repeat < 3 && runs.nonEmpty && runs.forall(_ >= 0) &&
          refTimes.get(name).exists(_ < 5.0)) {
        var retries = 0
        // same observed-cost policy as the parent's measured(): one free
        // retry (clears deterministic first-run pathology for cheap, and
        // the non-improving cutoff bounds the ambient case), the >= 15 s
        // cap blocks only the second
        while (retries < (if (runs.min < 15.0) 2 else 1) &&
            childBudgetLeft > 0 &&
            refTimes.get(name).exists(r =>
            runs.min > r * flagFactor && runs.min - r > 0.4)) {
          System.gc()
          val prevMin = runs.min
          val extra = Bench.runsOfN(1, onErr)(prepared.query())
          // failed or non-improving retry stops the chain (sustained
          // load window, not a burst) — see the parent's measured()
          if (extra.exists(_ < 0) || extra.min >= prevMin) retries = 2
          if (extra.forall(_ >= 0)) runs = runs ++ extra
          retries += 1
        }
      }
      val sec = if (runs.exists(_ < 0)) -1.0 else runs.min
      // calibrate the host-speed ratio from this completed scenario
      // (references under 0.2 s are mostly scheduling floor — skip them)
      refTimes.get(name).filter(_ > 0.2).foreach { r =>
        if (sec > 0) hostRatio = math.min(6.0, math.max(1.0, sec / r))
      }
      // live working set right after the timed runs (pre-GC) — the
      // honest "this preset holds this much" number for grouped children
      val rssAfterRuns = Bench.vmRssMb()
      // adjacent floor sample — same ambient-load canary the in-process
      // runner records per entry
      try Bench.materializeDf(Bench.floorJob(spark)) catch { case _: Throwable => }
      val floor = Bench.bestOfN(1)(Bench.floorJob(spark))
      val hwmNow = Bench.vmHwmMb()
      val rssReport =
        if (idx == 0 || hwmBefore <= 0) hwmNow
        else math.max(hwmNow - hwmBefore, rssAfterRuns)
      println(s"SCENARIO_RESULT $name $sec $rssReport $floor " +
        runs.mkString(",") + (if (errMsg.nonEmpty) s" ERR $errMsg" else ""))
      prepared.cleanup()
      // evict parity datasets no later scenario in this child needs —
      // a coalesced multi-dataset child (driver profile, round 12) peaks
      // at one live dataset instead of accumulating them all in the heap
      val stillNeeded = names.drop(idx + 1)
        .flatMap(n => Bench.parityScenarios.find(_._1 == n).map(_._2)).toSet
      dsCache.keys.toList.filterNot(stillNeeded.contains).foreach { k =>
        dsCache.remove(k).foreach(df =>
          try { df.unpersist(); () } catch { case _: Throwable => })
      }
      // inter-preset GC (VERDICT r14 #3): without it a grouped child's
      // heap only collects when allocation pressure forces it, so
      // garbage from preset N inflates both the true peak and preset
      // N+1's attribution — the r14 carve child ratcheted to ~39 GB
      // this way. Untimed (after the result line), so it costs wall
      // only, not measurement.
      if (names.size > 1 && idx < names.size - 1) System.gc()
      } // childBudgetLeft else
    }
    dsCache.values.foreach(ds => try { ds.unpersist(); () } catch { case _: Throwable => })
    spark.stop()
  }

  /** Spawn a child JVM running [[main]] for `name`; returns (sec, rssMb).
    * Classpath is inherited (sbt forks `run`, so java.class.path is the
    * real application classpath) and the JDK-17 add-opens list matches
    * build.sbt. */
  /** JDK-17 --add-opens list matching build.sbt, shared by every forked
    * child JVM (per-scenario forks and the isolated bench re-run). */
  private[graft] val addOpensArgs: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private[graft] def runForked(name: String, cpus: String, repeat: Int,
                               sfDir: String, warmups: Int = 2,
                               budgetSecLeft: Double = 0.0,
                               hostRatio: Double = 1.0): ForkResult =
    runForkedGroup(Seq(name), cpus, repeat, sfDir, warmups, budgetSecLeft,
        hostRatio)
      .getOrElse(name, ForkResult(-1.0, -1L, -1.0, Nil,
        Some("forked child produced no result line")))

  /** Spawn ONE child JVM running [[main]] over all of `names` (the driver
    * profile groups parity scenarios sharing a dataset, so the JVM +
    * session + dataset-build cost is paid once per group); returns the
    * per-scenario results keyed by name. A name missing from the returned
    * map means the child died before reaching it. */
  private[graft] def runForkedGroup(names: Seq[String], cpus: String,
                                    repeat: Int, sfDir: String,
                                    warmups: Int = 2,
                                    budgetSecLeft: Double = 0.0,
                                    hostRatio: Double = 1.0): Map[String, ForkResult] = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val addOpens = addOpensArgs
    // Child heap honors SPARK_DRIVER_MEM (like build.sbt's javaOptions) so
    // fork mode can measure memory-parity envelopes at reference-like
    // heaps. -Xmx only — an -Xms-pinned child beside the live parent is
    // the exact shape that OOM-killed the round-4 capture; VmHWM measures
    // touched pages, so unpinning does not change the memory story.
    val heap = sys.env.getOrElse("SPARK_DRIVER_MEM", "16g")
    val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
      s"-Xmx$heap", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      "graft.BenchScenario") ++ names).toArray
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_CPUS", cpus)
    pb.environment().put("SPARK_GRAFT_REPEAT", repeat.toString)
    pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
    pb.environment().put("SPARK_GRAFT_WARMUP", warmups.toString)
    // hand the child what remains of the parent's wall budget (less a
    // 30 s shutdown reserve): the child skips scenarios it can no longer
    // afford EXPLICITLY (budget-skipped) instead of overrunning the
    // parent's deadline — a grouped chunk that starts in budget can no
    // longer blow through it on a loaded box
    if (budgetSecLeft > 0 && budgetSecLeft < Double.MaxValue / 4)
      pb.environment().put("SPARK_GRAFT_CHILD_BUDGET_SEC",
        math.max(30.0, budgetSecLeft - 30.0).toString)
    // the parent's measured host-speed ratio (median in-process entry /
    // its committed reference) seeds the child's affordability estimate:
    // the child's own calibration only engages AFTER its first completed
    // scenario, and an uncalibrated first estimate on a ~1.5x box let a
    // giant-group final-window chunk overrun the 1320 s wall by 57 s
    // (r12g rehearsal)
    if (hostRatio > 1.0)
      pb.environment().put("SPARK_GRAFT_HOST_RATIO", hostRatio.toString)
    pb.redirectErrorStream(true)
    try {
      val proc = pb.start()
      // drain the pipe to EOF — stopping at the last result line would let
      // a chatty Spark shutdown fill the pipe buffer and block the child's
      // writes, deadlocking waitFor()
      val lines = scala.io.Source.fromInputStream(proc.getInputStream).getLines()
        .foldLeft(List.empty[String]) { (acc, line) =>
          if (line.startsWith("SCENARIO_RESULT ")) line :: acc else acc
        }.reverse
      val rc = proc.waitFor()
      val parsed = lines.flatMap(parseScenarioLine).toMap
      if (rc == 0) parsed
      else {
        // a non-zero exit invalidates nothing that already printed, but
        // names with no line get an explicit failure record
        val missing = names.filterNot(parsed.contains)
        parsed ++ missing.map(_ -> ForkResult(-1.0, -1L, -1.0, Nil,
          Some(s"forked child failed (rc=$rc)")))
      }
    } catch { case e: Throwable =>
      names.map(_ -> ForkResult(-1.0, -1L, -1.0, Nil,
        Some(s"fork error: ${e.getMessage}".take(200)))).toMap
    }
  }
}
