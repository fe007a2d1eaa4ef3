package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {

  import spark.implicits._

  test("coOccurrenceEdges: distinct canonical pairs within groups") {
    val df = Seq(
      (1L, 10L), (1L, 20L), (1L, 30L), // group 1: 3 nodes → 3 edges
      (2L, 10L), (2L, 20L),            // duplicates edge (10,20)
      (2L, 10L),                       // duplicate row: no self-edge
      (3L, 40L)).toDF("g", "n")        // singleton: no edges
    val e = Graph.coOccurrenceEdges(df, "g", "n")
      .as[(Long, Long)].collect().toSet
    assert(e == Set((10L, 20L), (10L, 30L), (20L, 30L)))
  }

  test("triangleStats: K4 has 4 triangles; adding a pendant edge changes none") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("a", "b")
    val s = Graph.triangleStats(k4).as[(Long, Long, Long)].collect()(0)
    assert(s == ((4L, 6L, 4L)))
    val pendant = k4.union(Seq((4L, 9L)).toDF("a", "b"))
    val s2 = Graph.triangleStats(pendant).as[(Long, Long, Long)].collect()(0)
    assert(s2 == ((5L, 7L, 4L)))
  }

  test("triangleStats matches the brute-force definition on a random graph") {
    // deterministic pseudo-random graph on 20 nodes
    val pairs = for {
      a <- 1L to 20L; b <- (a + 1) to 20L
      if java.util.Objects.hash(a, b) % 3 == 0
    } yield (a, b)
    val edges = pairs.toDF("a", "b")
    val got = Graph.triangleStats(edges).as[(Long, Long, Long)].collect()(0)._3
    val es = pairs.toSet
    val want = (for {
      a <- 1L to 20L; b <- (a + 1) to 20L; c <- (b + 1) to 20L
      if es((a, b)) && es((b, c)) && es((a, c))
    } yield 1).size.toLong
    assert(got == want, s"triangles $got != brute-force $want")
  }

  test("hopDistances: path graph, truncation, unreachable absent, multi-seed") {
    // path 1-2-3-4-5, isolated edge 8-9
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L)).toDF("a", "b")
    val d2 = Graph.hopDistances(e, Seq(1L), maxHops = 2)
      .as[(Long, Long)].collect().toMap
    assert(d2 == Map(1L -> 0L, 2L -> 1L, 3L -> 2L)) // 4, 5, 8, 9 absent
    val full = Graph.hopDistances(e, Seq(1L), maxHops = 10)
      .as[(Long, Long)].collect().toMap
    assert(full == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    // multi-source: min over seeds; seeds at both ends meet in the middle
    val meet = Graph.hopDistances(e, Seq(1L, 5L), maxHops = 10)
      .as[(Long, Long)].collect().toMap
    assert(meet == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
  }

  test("hopDistances ≡ brute-force BFS on a random graph") {
    val pairs = (for {
      a <- 1L to 15L; b <- (a + 1) to 15L
      if java.util.Objects.hash(b, a) % 4 == 0
    } yield (a, b)).toSeq
    val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    def bfs(seed: Long): Map[Long, Long] = {
      var dist = Map(seed -> 0L); var frontier = Set(seed)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
          .filterNot(dist.contains)
        next.foreach(n => dist += n -> (dist(frontier.find(f =>
          adj.getOrElse(f, Set.empty)(n)).get) + 1))
        frontier = next
      }
      dist
    }
    val want = bfs(1L).filter(_._2 <= 4L)
    val got = Graph.hopDistances(pairs.toDF("a", "b"), Seq(1L), maxHops = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == want, s"\ngot:  $got\nwant: $want")
  }

  test("pageRank: sums to 1, symmetric graph is uniform, hub outranks leaves") {
    // star: hub 1 connected to 2..5
    val star = (2L to 5L).map(x => (1L, x)).toDF("a", "b")
    val pr = Graph.pageRank(star, iterations = 10)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-4, s"ranks don't sum to 1: $pr")
    assert((2L to 5L).forall(x => pr(1L) > pr(x)), s"hub not top: $pr")
    assert((3L to 5L).forall(x => math.abs(pr(2L) - pr(x)) < 1e-9))
    // 4-cycle: perfect symmetry → exactly uniform at every iteration
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a", "b")
    val u = Graph.pageRank(cycle, iterations = 3).as[(Long, Double)].collect()
    u.foreach { case (_, r) => assert(math.abs(r - 0.25) < 1e-9, u.toSeq) }
  }

  test("pageRank matches a sequential reference on a random graph") {
    val pairs = (for {
      a <- 1L to 12L; b <- (a + 1) to 12L
      if java.util.Objects.hash(a * 7 + b) % 3 == 0
    } yield (a, b)).toSeq
    val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    val nodes = adj.keys.toSeq.sorted
    val n = nodes.size
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 5) {
      val contrib = scala.collection.mutable.Map[Long, Double]()
        .withDefaultValue(0.0)
      for (u <- nodes; v <- adj(u)) contrib(v) += r(u) / adj(u).size
      r = nodes.map(v => v -> (0.15 / n + 0.85 * contrib(v))).toMap
    }
    val got = Graph.pageRank(pairs.toDF("a", "b"), iterations = 5)
      .as[(Long, Double)].collect().toMap
    assert(got.keySet == r.keySet)
    got.foreach { case (v, x) =>
      assert(math.abs(x - r(v)) < 1e-6, s"node $v: $x vs ${r(v)}") }
  }

  test("coOccurrenceEdges: maxGroupSize drops oversized groups only") {
    val df = Seq(
      (1L, 10L), (1L, 20L), (1L, 30L), (1L, 40L), // group 1: 4 members
      (2L, 10L), (2L, 20L),                       // group 2: 2 members
      (3L, 20L), (3L, 30L)).toDF("g", "n")        // group 3: 2 members
    val capped = Graph.coOccurrenceEdges(df, "g", "n", maxGroupSize = 3)
      .as[(Long, Long)].collect().toSet
    assert(capped == Set((10L, 20L), (20L, 30L)), capped)
    // default cap keeps everything
    val full = Graph.coOccurrenceEdges(df, "g", "n")
      .as[(Long, Long)].collect().toSet
    assert(full.size == 6 + 2 - 2 + 0, full) // C(4,2)=6 ∪ {(10,20),(20,30)}
  }

  test("orientByDegree: lower-degree endpoint first, ties broken by id") {
    // star 1-{2,3} plus edge 2-3: deg(1)=2, deg(2)=2, deg(3)=2 → all ties,
    // orientation falls back to id order
    val tie = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("a", "b")
    val ot = Graph.orientByDegree(tie).select("src", "dst")
      .as[(Long, Long)].collect().toSet
    assert(ot == Set((1L, 2L), (1L, 3L), (2L, 3L)), ot)
    // hub 1 (degree 3) vs leaves (degree 1) + pendant: edges point AT the hub
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val os = Graph.orientByDegree(star).select("src", "dst")
      .as[(Long, Long)].collect().toSet
    assert(os == Set((2L, 1L), (3L, 1L), (4L, 1L)), os)
  }

  test("degree-ordered triangleStats ≡ id-oriented form on a hub graph") {
    // hub 0 connected to everyone + a sparse ring: the exact shape where
    // the id-canonical wedge join fans out deg(hub)²
    val n = 40L
    val hub = (1L to n).map(x => (0L, x))
    val ring = (1L until n).map(x => (x, x + 1))
    val edges = (hub ++ ring).toDF("a", "b")
    val fast = Graph.triangleStats(edges).as[(Long, Long, Long)].collect()(0)
    val slow = graft.CounterExamples.triangleStatsIdOriented(edges)
      .as[(Long, Long, Long)].collect()(0)
    assert(fast == slow, s"ordered $fast != id-oriented $slow")
    assert(fast._3 == n - 1) // each ring edge closes with the hub
  }

  test("degrees: undirected degree per node") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val d = Graph.degrees(e).as[(Long, Long)].collect().toMap
    assert(d == Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 1L))
  }
}
