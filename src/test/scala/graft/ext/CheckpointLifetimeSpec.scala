package graft.ext

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.CacheEntries

/** A test UDF that throws on its Nth call: the injected mid-operator
  * failure. Executors are threads of the test JVM, so one counter sees
  * every call. */
object FailOnNthCall {
  val calls = new AtomicInteger(0)
  @volatile var n: Int = Int.MaxValue

  def arm(nth: Int): Unit = { calls.set(0); n = nth }
  def disarm(): Unit = n = Int.MaxValue

  val udfLong = udf { (x: Long) =>
    if (calls.incrementAndGet() == n) throw new IllegalStateException("injected failure")
    x
  }
}

/** The block-lifetime rule of [[Checkpoints]], checked from outside by
  * diffing the persisted-RDD registry around each pinning operator: on
  * success exactly the pins the returned frame reads remain; on failure
  * none do. */
class CheckpointLifetimeSpec extends SparkSpec {

  import spark.implicits._

  private def registry: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** RDDs an operator leaves persisted after its frame is collected. The
    * frame stays reachable until the count is taken, so the
    * ContextCleaner cannot free a kept pin early. */
  private def pinsLeft(op: => DataFrame): Int = {
    val before = registry
    val df = op
    df.collect()
    val left = (registry -- before).size
    java.lang.ref.Reference.reachabilityFence(df)
    left
  }

  /** RDDs left persisted by an operator call that must throw. */
  private def pinsLeftAfterFailure(expected: String)(op: => DataFrame): Int = {
    val before = registry
    val e = intercept[Exception](op.collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains(expected))), e)
    (registry -- before).size
  }

  private def chain(n: Int, a: Column = col("id")): DataFrame =
    spark.range(n).select(a.alias("a"), (col("id") + 1).alias("b"))

  private val vectors = (0 until 40).map(i =>
    (i.toLong, Seq(math.cos(i * 0.3), math.sin(i * 0.3), (i % 5).toDouble)))
    .toDF("id", "vec")

  test("connected components: only the returned labels stay pinned") {
    assert(pinsLeft(Dedup.connectedComponents(chain(32), "a", "b",
      smallGraphEdges = 0)) == 1)
  }

  test("connected components that do not converge leave nothing pinned") {
    // a 33-node chain whose ids are a fixed permutation: local minima
    // survive the first contraction round (an id-ordered chain would
    // collapse in one)
    val perm = new scala.util.Random(7).shuffle((0L until 33L).toVector)
    val edges = perm.zip(perm.tail).toDF("a", "b")
    assert(pinsLeftAfterFailure("did not converge")(
      Dedup.connectedComponents(edges, "a", "b", maxIter = 1,
        smallGraphEdges = 0)) == 0)
  }

  test("a failing small-graph probe leaves no cache behind") {
    // the probe persists the edge frame, then collects it: the UDF throws
    // inside that collect
    val cachedBefore = CacheEntries.count(spark)
    FailOnNthCall.arm(10)
    try assert(pinsLeftAfterFailure("injected failure")(Dedup.connectedComponents(
      chain(20, FailOnNthCall.udfLong(col("id"))), "a", "b")) == 0)
    finally FailOnNthCall.disarm()
    assert(FailOnNthCall.calls.get >= 10, "the injected failure never fired")
    assert(CacheEntries.count(spark) == cachedBefore, "the probe's cache is still registered")
  }

  test("hopDistances keeps only the final distance table") {
    assert(pinsLeft(Graph.hopDistances(chain(20), Seq(0L), maxHops = 4)) == 1)
  }

  test("a failure raised inside the hopDistances loop leaves nothing pinned") {
    // the edge UDF first runs in round 1's pin: the symmetric edge list
    // is pinned lazily, so both pins are live when the failure hits
    FailOnNthCall.arm(30)
    try assert(pinsLeftAfterFailure("injected failure")(Graph.hopDistances(
      chain(20, FailOnNthCall.udfLong(col("id"))), Seq(0L), maxHops = 4)) == 0)
    finally FailOnNthCall.disarm()
    assert(FailOnNthCall.calls.get >= 30, "the injected failure never fired")
  }

  test("pageRank keeps sym, degN and at most the latest rank generation") {
    val edges = chain(20)
    // no periodic checkpoint: sym + degN
    assert(pinsLeft(Graph.pageRank(edges, iterations = 5)) == 2)
    // checkpoints at rounds 2 and 4: the round-2 generation is released
    assert(pinsLeft(Graph.pageRank(edges, iterations = 5, checkpointEvery = 2)) == 3)
  }

  test("a failure inside pageRank's first pin leaves nothing pinned") {
    FailOnNthCall.arm(10)
    try assert(pinsLeftAfterFailure("injected failure")(Graph.pageRank(
      chain(20, FailOnNthCall.udfLong(col("id"))), iterations = 3)) == 0)
    finally FailOnNthCall.disarm()
  }

  test("trainCentroids keeps only the last Lloyd generation") {
    assert(pinsLeft(Similarity.trainCentroids(vectors, "id", "vec",
      nlist = 4, iters = 3)) == 1)
  }

  test("globalRowIndex keeps the tagged table its output reads") {
    assert(pinsLeft(Layout.globalRowIndex(vectors.select("id"), Seq("id"))) == 1)
  }

  test("triangleStats and kGeneralize leave nothing pinned") {
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    assert(pinsLeft(Graph.triangleStats(tri)) == 0)
    val people = (0 until 30).map(i => (i.toLong, 20 + i, i % 3)).toDF("id", "age", "zip")
    assert(pinsLeft(Curation.kGeneralize(people, Seq("id"),
      Seq(Seq("age_b" -> col("age")), Seq("age_b" -> (col("age") / 10).cast("int"))),
      k = 5)) == 0)
  }

  test("no file in src/main but Checkpoints.scala calls localCheckpoint") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val offenders = files(root).filter(_.getName.endsWith(".scala"))
      .filterNot(_.getPath.endsWith("graft/ext/Checkpoints.scala"))
      .filter { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.mkString.contains("localCheckpoint") finally src.close()
      }
    assert(offenders.isEmpty,
      s"pin through graft.ext.Checkpoints instead: ${offenders.mkString(", ")}")
  }
}
