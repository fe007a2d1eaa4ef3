package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-16 buffer-internals gates for the count-compressed
  * [[MadStats.Buf]]: compression math, partial merge, the distinct-count
  * guard, and the duplicate-insensitivity of memory — complementing
  * ProfileSpec's adversarial fused ≡ three-pass equivalence test, which
  * exercises the full aggregate through Spark. */
class MadStatsSpec extends SparkSpec {

  import spark.implicits._

  private def evalOf(values: Seq[Double], k: Double = 3.0)
      : (Double, Double, Long, Long) = {
    val df = values.map(v => ("g", v)).toDF("g", "v").repartition(7)
    val r = df.groupBy("g")
      .agg(MadStats.madStats(col("v"), k).alias("s"))
      .select(col("s.med"), col("s.mad"), col("s.n"), col("s.n_outliers"))
      .as[(Double, Double, Long, Long)].collect()(0)
    r
  }

  private def rawReference(values: Seq[Double], k: Double = 3.0)
      : (Double, Double, Long, Long) = {
    // the pre-round-16 raw-array formulation, verbatim
    val sorted = values.toArray.sorted(Ordering.Double.TotalOrdering)
    val med = MadStats.percentileSorted(sorted, 0.5)
    val devs = values.map(v => math.abs(v - med)).toArray
      .sorted(Ordering.Double.TotalOrdering)
    val mad = MadStats.percentileSorted(devs, 0.5)
    val t = (k * 1.4826) * mad
    (med, mad, values.size.toLong, devs.count(_ > t).toLong)
  }

  test("count-compressed buffer ≡ raw-array formulation across the " +
    "compression boundary (> TailCap values, duplicate-heavy)") {
    val rnd = new scala.util.Random(11)
    // > 2 × TailCap rows from 37 distinct values: several in-task
    // compressions plus shuffle-partial merges, buffer stays tiny
    val dups = Seq.fill(2 * MadStats.TailCap + 123)(
      (rnd.nextInt(37) - 18).toDouble * 0.25)
    assert(evalOf(dups) == rawReference(dups))
    // continuous (all-distinct) values across the boundary
    val cont = Seq.fill(MadStats.TailCap + 517)(rnd.nextGaussian() * 100)
    assert(evalOf(cont) == rawReference(cont))
  }

  test("buffer compress/merge: counts, order, NaN and -0.0/0.0 identity") {
    val b = new MadStats.Buf()
    val values = Seq(3.0, 1.0, 3.0, Double.NaN, -0.0, 0.0, 1.0, Double.NaN, 2.0)
    values.foreach(b.add)
    b.compress()
    // Double.compare order: -0.0 < 0.0 kept DISTINCT, NaNs merged at the end
    assert(b.total == values.size.toLong)
    val run = (0 until b.m).map(i => (b.vals(i), b.cnts(i)))
    assert(run.map(_._2).sum == values.size.toLong)
    assert(java.lang.Double.compare(run.head._1, -0.0) == 0 ||
      run.exists(p => java.lang.Double.compare(p._1, -0.0) == 0))
    assert(run.count(p => java.lang.Double.compare(p._1, 0.0) == 0) == 1)
    assert(run.count(_._1.isNaN) == 1 && run.filter(_._1.isNaN).head._2 == 2L)
    assert(run.map(_._1).sliding(2).filter(_.size == 2)
      .forall(p => java.lang.Double.compare(p(0), p(1)) < 0))
    // merge with another partial: counts add, order holds
    val o = new MadStats.Buf()
    Seq(3.0, 4.0, Double.NaN).foreach(o.add)
    b.addAll(o)
    assert(b.total == values.size.toLong + 3L)
    val merged = (0 until b.m).map(i => (b.vals(i), b.cnts(i))).toMap
    assert(merged(3.0) == 3L && merged(4.0) == 1L)
  }

  test("serialize/deserialize roundtrip is count-compressed and Long-sized") {
    val agg = MadStats(
      org.apache.spark.sql.catalyst.expressions.Literal(0.0),
      org.apache.spark.sql.catalyst.expressions.Literal(3.0))
    val b = new MadStats.Buf()
    (0 until 10000).foreach(i => b.add((i % 5).toDouble))
    val bytes = agg.serialize(b)
    // 5 distinct values → 5 + 5×16 bytes, NOT 4 + 8×10000 (the round-15
    // raw buffer): partial shuffle bytes track distinct count
    assert(bytes.length == 5 + 5 * 16, s"serialized ${bytes.length} bytes")
    val back = agg.deserialize(bytes)
    assert(back.total == 10000L && back.m == 5)
    val b2 = new MadStats.Buf()
    b2.add(1.5)
    b2.addAll(back)
    assert(b2.total == 10001L && b2.m == 6)
    // all-distinct partial → values-only form (8 bytes/entry + flag),
    // the same bytes/row the raw buffer paid where compression can't help
    val bd = new MadStats.Buf()
    (0 until 1000).foreach(i => bd.add(i.toDouble))
    val bytesD = agg.serialize(bd)
    assert(bytesD.length == 5 + 1000 * 8, s"serialized ${bytesD.length} bytes")
    val backD = agg.deserialize(bytesD)
    assert(backD.total == 1000L && backD.m == 1000 &&
      (0 until 1000).forall(i => backD.cnts(i) == 1L))
  }

  test("distinct-count guard fails loudly past the documented envelope " +
    "with the approx-path message") {
    val prev = MadStats.MaxExactDistinctPerGroup
    try {
      MadStats.MaxExactDistinctPerGroup = 1000
      val b = new MadStats.Buf()
      val e = intercept[IllegalStateException] {
        (0 until 10000).foreach(i => b.add(i.toDouble))
        b.compress()
      }
      assert(e.getMessage.contains("approx"), e.getMessage)
      // and through the full aggregate: the query fails, not the executor
      MadStats.MaxExactDistinctPerGroup = 100
      val df = spark.range(5000).select(lit("g").alias("g"),
        col("id").cast("double").alias("v"))
      val thrown = intercept[Throwable] {
        df.groupBy("g").agg(MadStats.madStats(col("v"), 3.0).alias("s"))
          .collect()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(thrown).exists(_.contains("distinct")),
        messages(thrown).mkString(" | "))
    } finally MadStats.MaxExactDistinctPerGroup = prev
  }

  test("duplicate-heavy group under the guard passes where raw row count " +
    "would have tripped an equivalent row bound") {
    val prev = MadStats.MaxExactDistinctPerGroup
    try {
      MadStats.MaxExactDistinctPerGroup = 64
      // 20k rows, 7 distinct values — the round-15 raw buffer held 20k
      // doubles; the compressed buffer holds 7 entries and sails through
      val values = (0 until 20000).map(i => (i % 7).toDouble)
      assert(evalOf(values) == rawReference(values))
    } finally MadStats.MaxExactDistinctPerGroup = prev
  }
}
