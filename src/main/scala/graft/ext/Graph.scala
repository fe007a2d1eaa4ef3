package graft.ext

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/**
 * Graph analytics over relational co-occurrence graphs — the
 * entity-graph shapes a data pipeline derives from its fact tables
 * (suppliers co-serving an order, users co-editing a doc): degree
 * statistics and EXACT triangle counting.
 *
 * Triangle counting is the classic distributed-join benchmark:
 * triangles are exactly the matches of a wedge self-join plus a
 * closing-edge probe — two equi-joins, integer-exact, no iteration.
 * Scale notes: the wedge join (e ⋈ e on the pivot vertex) is the
 * quadratic step — its fan-out is Σ_v outdeg(v)², so the EDGE
 * ORIENTATION decides whether a hub explodes. Orienting each edge
 * lower-degree → higher-degree endpoint (tie-break by id) bounds
 * every out-adjacency list by O(√m) and the total wedge count by
 * O(m^1.5) — the standard degree-ordering trick. A plain id-canonical
 * `a < b` orientation does NOT have this property: a hub with a small
 * id keeps ~its full degree as out-neighbors and fans out deg(hub)²
 * (measured as the bench counter-example
 * [[graft.CounterExamples.triangleStatsIdOriented]]).
 *
 * The operators that pin go through [[Checkpoints]] and follow its one
 * block-lifetime rule.
 */
object Graph {

  /** Distinct undirected co-occurrence edges (a < b) between values of
    * `nodeCol` sharing a `groupCol` value. The pair fan-out is map-side
    * (self-join within groups), reduced by `distinct` before anything
    * downstream — bounded by groups × k² for k co-members, the
    * relational-graph norm.
    *
    * `maxGroupSize` is the per-group fan-out guard (same shape as the
    * LSH hot-bucket cap): a single 100k-member group would emit 5×10⁹
    * pairs map-side before the distinct can reduce anything. Groups
    * with more than `maxGroupSize` distinct members are DROPPED (their
    * edges are boilerplate co-membership, the graph analog of an empty-
    * doc LSH bucket) via the bounded two-pass count + anti-join guard
    * shared with [[Dedup.dropHotBuckets]]. Default keeps every group —
    * exactness first; set a cap for power-law corpora. */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, nodeCol: String,
                        maxGroupSize: Int = Int.MaxValue): DataFrame = {
    val q = (n: String) => graft.ColName.topCol(n)
    val m0 = df.select(q(groupCol).alias("__g"), q(nodeCol).alias("__n")).distinct()
    val m = Dedup.dropHotBuckets(m0, Seq("__g"), maxGroupSize)
    val l = m.select(col("__g"), col("__n").alias("a"))
    val r = m.select(col("__g"), col("__n").alias("b"))
    l.join(r, "__g").filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Edges oriented lower-degree → higher-degree endpoint (ties broken
    * by id): `(src, dst, dst_deg, dst key struct ordering material)`.
    * Every triangle then has exactly ONE pivot (the node smallest in
    * the (degree, id) total order) with out-edges to the other two, so
    * the wedge self-join on `src` counts each triangle once and its
    * fan-out is Σ outdeg² = O(m^1.5) — hub-proof by construction. */
  private[ext] def orientByDegree(edges: DataFrame): DataFrame = {
    val deg = degrees(edges)
    val da = deg.select(col("node").alias("a"), col("degree").alias("__da"))
    val db = deg.select(col("node").alias("b"), col("degree").alias("__db"))
    val j = edges.join(da, "a").join(db, "b")
    // lexicographic (degree, id) — Spark orders structs field-by-field
    val aKey = struct(col("__da"), col("a"))
    val bKey = struct(col("__db"), col("b"))
    val aFirst = aKey < bKey
    j.select(
      when(aFirst, col("a")).otherwise(col("b")).alias("src"),
      when(aFirst, col("b")).otherwise(col("a")).alias("dst"),
      when(aFirst, col("__db")).otherwise(col("__da")).alias("dst_deg"))
  }

  /** Exact triangle count plus node/edge counts, one row. Edges must be
    * canonical (a < b, distinct) — [[coOccurrenceEdges]] output.
    *
    * Degree-ordered: edges are re-oriented lower-degree → higher-degree
    * ([[orientByDegree]]) so the wedge join's fan-out is O(m^1.5)
    * regardless of hubs; the closing edge probes the same oriented list
    * (between the two wedge tips x ≺ z, the oriented edge — if present —
    * is x→z by construction). Two degree equi-joins + one wedge join +
    * one probe join, all partial-aggregation-free equi-joins. */
  def triangleStats(edges: DataFrame): DataFrame =
    Checkpoints.scoped(edges.sparkSession) { cp =>
      // pin the CANONICAL EDGE LIST once (round 15): it feeds the degree
      // aggregation + orientation joins AND both statsRow counts — without
      // the cut, nNodes and nEdges each re-ran the whole upstream edge
      // derivation (for q_triangle_count: lineitem scan → co-occurrence
      // self-join → distinct, three full times per call). Every output of
      // statsRow is a collected driver long, so no pin outlives the call.
      // Both pins carry their statistics: nothing here iterates, and the
      // degree, wedge and closing joins broadcast from them.
      val e = cp.pin(edges, carryStats = true).df
      // the oriented list feeds BOTH wedge sides and the closing probe —
      // pin it once so the degree aggregation + orientation joins run
      // once, not three times
      val o = cp.pin(orientByDegree(e), carryStats = true)
      val e1 = o.df.select(col("src"), col("dst").alias("x"), col("dst_deg").alias("__dx"))
      val e2 = o.df.select(col("src"), col("dst").alias("z"), col("dst_deg").alias("__dz"))
      // each unordered out-pair once: tips ordered by the same (deg, id) key
      val wedges = e1.join(e2, "src")
        .filter(struct(col("__dx"), col("x")) < struct(col("__dz"), col("z")))
      val closing = o.df.select(col("src").alias("x"), col("dst").alias("z"))
      val nTri = wedges.join(closing, Seq("x", "z")).count()
      cp.release(o) // the wedge count was the last consumer of o
      statsRow(e, nTri)
    }

  private[graft] def statsRow(edges: DataFrame, nTri: Long): DataFrame = {
    val nNodes = edges.select(col("a").alias("n"))
      .union(edges.select(col("b").alias("n"))).distinct().count()
    val nEdges = edges.count()
    val spark = edges.sparkSession
    import spark.implicits._
    Seq((nNodes, nEdges, nTri)).toDF("n_nodes", "n_edges", "n_triangles")
  }

  /** Per-node degree table (undirected, canonical edges in). */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(col("a").alias("node"))
      .union(edges.select(col("b").alias("node")))
      .groupBy("node").agg(count(lit(1)).alias("degree"))

  /**
   * PageRank by power iteration over the undirected graph (each edge
   * contributes both directions, so out-degree = degree):
   * `r'(v) = (1−d)/N + d · Σ_{u~v} r(u)/deg(u)`, a fixed
   * `iterations` rounds from the uniform start. Output:
   * (node, rank·6dp).
   *
   * Scale shape: per round ONE equi-join (ranks-with-degree ⋈ out-edges)
   * feeding a partial-aggregatable sum per destination, then a left join
   * back to the degree/node table so isolated-from-incoming nodes keep
   * the teleport term. Rank is referenced once per round, so lineage
   * grows linearly (NOT the [[hopDistances]] exponential hazard) and the
   * loop stays lazy; lineage is cut every `checkpointEvery` rounds to
   * bound analyzer cost on deep runs. Every node of a canonical edge
   * list has degree ≥ 1, so there is no dangling-mass correction term.
   *
   * Determinism note: the per-node neighbor sum is a float sum (order
   * differs across engines at ~1e-14 relative); 6-dp rounding on values
   * of magnitude ≥ (1−d)/N leaves orders of magnitude of slack.
   *
   * Block lifetime: the rule in [[Checkpoints]]. The returned frame reads
   * `sym`, `degN` and the latest periodic rank pin, so those are kept;
   * superseded rank pins are released inside the loop.
   */
  def pageRank(edges: DataFrame, iterations: Int = 5,
               damping: Double = 0.85, checkpointEvery: Int = 8): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1, got $checkpointEvery")
    Checkpoints.scoped(edges.sparkSession) { cp =>
      val sym = cp.keep(cp.pin(
        edges.select(col("a").alias("src"), col("b").alias("dst"))
          .union(edges.select(col("b").alias("src"), col("a").alias("dst")))))
      // the degree table doubles as the node list (canonical edges → every
      // node has deg >= 1), and `deg` RIDES the rank table through the loop
      // (round 15): the old shape joined rank ⋈ deg ⋈ sym every round —
      // carrying deg in rank removes one equi-join per iteration, and the
      // separate `nodes` checkpoint (+ its count job) collapses into degN
      val degN = cp.keep(cp.pin(
        sym.groupBy(col("src")).agg(count(lit(1)).alias("deg"))))
      val n = degN.count()
      val teleport = (1.0 - damping) / n
      var rank = degN.select(col("src").alias("node"),
        lit(1.0 / n).alias("r"), col("deg"))
      var rankPin: Option[Checkpoints.Pin] = None
      for (i <- 1 to iterations) {
        val contribs = rank.alias("__r")
          .join(sym.alias("__s"), col("__r.node") === col("__s.src"))
          .select(col("__s.dst").alias("node"),
            (col("__r.r") / col("__r.deg")).alias("c"))
          .groupBy("node").agg(sum("c").alias("in_sum"))
        rank = degN.alias("__n")
          .join(contribs.alias("__c"), col("__n.src") === col("__c.node"), "left")
          .select(col("__n.src").alias("node"),
            (lit(teleport) + lit(damping) * coalesce(col("__c.in_sum"), lit(0.0)))
              .alias("r"), col("__n.deg").alias("deg"))
        // rank is referenced ONCE per round, so lineage grows LINEARLY —
        // unlike hopDistances' twice-referenced dist there is no
        // exponential-plan hazard, and a shallow power-iteration run is
        // one lazy query instead of `iterations` eager checkpoint jobs
        // (round 15: q_pagerank ran 5 materialization jobs per call for a
        // 5-round plan the analyzer handles trivially). Deep runs still
        // cut lineage every `checkpointEvery` rounds so analyzer cost and
        // recompute-on-eviction stay bounded.
        if (i % checkpointEvery == 0 && i < iterations) {
          val p = cp.pin(rank)
          // p is eager-materialized: the previous generation is superseded
          rankPin.foreach(cp.release)
          rankPin = Some(p)
          rank = p.df
        }
      }
      rankPin.foreach(cp.keep) // the returned frame reads the latest one
      rank.select(col("node"), round(col("r"), 6).alias("rank"))
    }
  }

  /**
   * Multi-source BFS hop distances, exact: for every node within
   * `maxHops` undirected hops of a seed, the minimum hop count.
   * Unreachable (or farther) nodes are absent. Output: (node, dist).
   *
   * Each of the maxHops rounds is one equi-join (current distances →
   * neighbors at +1) plus a partial-aggregatable min — the standard
   * iterative frontier relaxation; the distance table is re-persisted
   * per round and the previous one released (O(1) lineage, like the
   * connected-components loop). Distances only shrink, so re-relaxing
   * already-settled nodes is harmless — no frontier bookkeeping needed
   * at these hop counts.
   *
   * Block lifetime: the rule in [[Checkpoints]]. The returned frame is the
   * final distance pin, so only that one is kept.
   */
  def hopDistances(edges: DataFrame, seeds: Seq[Long], maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val spark = edges.sparkSession
    import spark.implicits._
    // a pin per round: each round references the previous distance
    // table TWICE (relax source + union), so without a lineage cut the
    // logical plan doubles every round and the analyzer cost goes
    // exponential (the same hazard the connected-components loop guards
    // against). The cut also makes the releases below safe — no
    // recompute chain survives.
    Checkpoints.scoped(spark) { cp =>
      // lazy: round 1's pin materializes sym inside its own job
      val sym = cp.pin(
        edges.select(col("a").alias("src"), col("b").alias("dst"))
          .union(edges.select(col("b").alias("src"), col("a").alias("dst"))),
        eager = false).df
      // the seed table is a local relation: nothing to cut, and its
      // statistics let round 1 broadcast it
      val seedDist = seeds.toDF("node").select(col("node"), lit(0L).alias("dist"))
      (1 to maxHops).foldLeft(Option.empty[Checkpoints.Pin]) { (dist, _) =>
        val d = dist.fold(seedDist)(_.df)
        // string-qualified aliases: `d` already derives from `sym` after
        // round 1, so df(col) references would be an ambiguous self-join
        val next = d.alias("__d")
          .join(sym.alias("__s"), col("__d.node") === col("__s.src"))
          .select(col("__s.dst").alias("node"),
            (col("__d.dist") + 1L).alias("dist"))
        val nd = cp.pin(d.union(next).groupBy("node").agg(min("dist").alias("dist")))
        dist.foreach(cp.release) // nd is eager-materialized: dist is superseded
        Some(nd)
      }.fold(seedDist)(cp.keep)
    }
  }
}
