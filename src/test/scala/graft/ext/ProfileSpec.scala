package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ProfileSpec extends SparkSpec {

  import spark.implicits._

  test("histogram: bucket edges, closed top edge, out-of-range and null exclusion") {
    val df = Seq(Some(0.0), Some(0.5), Some(1.0), Some(2.5), Some(9.9),
      Some(10.0), Some(-0.1), Some(10.1), None)
      .toDF("v")
    val h = Profile.histogram(df, "v", lo = 0.0, hi = 10.0, buckets = 4)
      .as[(Long, Double, Double, Long)].collect().sortBy(_._1).toSeq
    // buckets of width 2.5: [0,2.5)->{0,0.5,1.0}, [2.5,5)->{2.5},
    // [7.5,10]->{9.9,10.0 (closed top)}; -0.1/10.1/null excluded
    assert(h == Seq((0L, 0.0, 2.5, 3L), (1L, 2.5, 5.0, 1L), (3L, 7.5, 10.0, 2L)))
  }

  test("histogram matches a groupBy re-derivation on a bigger frame") {
    val df = spark.range(10000).select((col("id") % 97).cast("double").alias("v"))
    val h = Profile.histogram(df, "v", 0.0, 97.0, 10)
      .as[(Long, Double, Double, Long)].collect().map(r => r._1 -> r._4).toMap
    val want = (0L until 10000L).map(_ % 97)
      .groupBy(v => math.min(math.floor(v / 9.7).toLong, 9L))
      .view.mapValues(_.size.toLong).toMap
    assert(h == want)
  }

  test("columnProfile: one row per column with exact stats") {
    val df = Seq((1L, Some("a"), 1.5), (2L, Some("b"), 2.5),
      (3L, None, 1.5), (4L, Some("a"), 0.5)).toDF("id", "s", "v")
    val p = Profile.columnProfile(df, Seq("id", "s", "v"))
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(p("id") == ("id", 4L, 0L, 4L, "1", "4"))
    assert(p("s") == ("s", 4L, 1L, 2L, "a", "b"))
    // doubles render as fixed 6-dp (engine-independent at every magnitude;
    // Double.toString would flip to scientific notation at |x| >= 1e7)
    assert(p("v") == ("v", 4L, 0L, 3L, "0.500000", "2.500000"))
  }

  test("columnProfile double min/max stay plain decimal above 1e7") {
    val df = Seq(12345678.25, 1.0).toDF("v")
    val p = Profile.columnProfile(df, Seq("v"))
      .as[(String, Long, Long, Long, String, String)].collect().head
    assert(p._5 == "1.000000" && p._6 == "12345678.250000")
  }

  test("columnProfile stays a single aggregation (one result row unpivoted)") {
    val df = spark.range(100).select(col("id"), (col("id") % 3).alias("g"))
    val plan = Profile.columnProfile(df, Seq("id", "g"))
      .queryExecution.executedPlan.toString
    // multi-column distinct counts plan via Expand in ONE aggregate chain;
    // no join of per-column subplans
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
  }

  test("sketchAccuracy: gates hold and exact columns are exact") {
    val df = spark.range(20000).select(
      ((col("id") * 7919) % 5000).cast("double").alias("v"))
    val r = Profile.sketchAccuracy(df, "v", rsd = 0.05, accuracy = 1000)
      .as[(Long, Boolean, Double, Boolean)].collect()(0)
    assert(r._1 == 5000L) // exact distinct
    assert(r._2, "HLL outside 4*rsd")
    assert(r._4, "approx median rank outside contract window")
  }

  test("madOutliers: hand-computed median/MAD and planted outlier") {
    // group a: values 1..7 plus outlier 1000 → med 4.5, deviations
    // {3.5,2.5,1.5,0.5,0.5,1.5,2.5,995.5} → mad 2.0; threshold
    // 3*1.4826*2.0 = 8.8956 → only 1000 flags
    // group b: constant 5 with one 6 → med 5, mad 0 → the 6 flags
    val df = ((1 to 7).map(i => ("a", i.toDouble)) :+ ("a", 1000.0)) ++
      Seq.fill(9)(("b", 5.0)) :+ ("b", 6.0)
    val r = Profile.madOutliers(df.toDF("g", "v"), "g", "v", k = 3.0)
      .as[(String, Double, Double, Long, Long)].collect().map(x => x._1 -> x).toMap
    assert(r("a") == ("a", 4.5, 2.0, 8L, 1L))
    assert(r("b") == ("b", 5.0, 0.0, 10L, 1L))
  }

  test("madOutliers is robust: moving the outlier further changes nothing but itself") {
    val base = (1 to 99).map(i => ("g", i.toDouble))
    val near = (base :+ ("g", 500.0)).toDF("g", "v")
    val far = (base :+ ("g", 5000000.0)).toDF("g", "v")
    val a = Profile.madOutliers(near, "g", "v").as[(String, Double, Double, Long, Long)].collect()(0)
    val b = Profile.madOutliers(far, "g", "v").as[(String, Double, Double, Long, Long)].collect()(0)
    // med, mad, n, n_outliers all identical — mean/stddev would have moved
    assert(a == b)
    assert(a._5 == 1L)
  }

  test("madOutliers fused aggregate ≡ the three-pass percentile chain, " +
    "bit-exact on raw (unrounded) med/mad") {
    // adversarial shapes: odd and even counts (interpolated median),
    // heavy duplicates (equal-boundary-key short-circuit), two-value and
    // constant groups, planted outliers, values crossing zero
    val rnd = new scala.util.Random(7)
    val data = (0 until 5000).map { i =>
      val g = s"g${i % 7}"
      val v = (i % 7) match {
        case 0 => (rnd.nextInt(5) + 1).toDouble          // heavy dups
        case 1 => rnd.nextDouble() * 100 - 50            // continuous
        case 2 => if (i % 50 == 0) 1e6 else rnd.nextGaussian()
        case 3 => 42.0                                   // constant
        case 4 => if (i % 2 == 0) 1.0 else 2.0           // two-value
        case _ => rnd.nextDouble() * 1e-3
      }
      (g, v)
    } ++ Seq(("odd", 1.0), ("odd", 2.0), ("odd", 10.0))  // size-3 group
    val df = data.toDF("g", "v").repartition(13)
    val k = 3.0
    // three-pass reference: the pre-round-15 formulation, verbatim
    val rows = df.filter(col("v").isNotNull)
      .select(col("g").alias("__g"), col("v").cast("double").alias("__v"))
    val med = rows.groupBy("__g").agg(expr("percentile(__v, 0.5)").alias("__med"))
    val mad = rows.join(broadcast(med), "__g").groupBy("__g")
      .agg(first(col("__med")).alias("__med"),
        expr("percentile(abs(__v - __med), 0.5)").alias("__mad"),
        count(lit(1)).alias("n"))
    val want = rows.join(broadcast(mad), "__g").groupBy(col("__g"))
      .agg(first(col("__med")).alias("med"), first(col("__mad")).alias("mad"),
        first(col("n")).alias("n"),
        sum(when(abs(col("__v") - col("__med")) >
          lit(k * 1.4826) * col("__mad"), 1L).otherwise(0L)).alias("n_outliers"))
      .as[(String, Double, Double, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // fused path, UNROUNDED (reach the struct directly for bit-exactness)
    val got = rows.groupBy(col("__g"))
      .agg(graft.functions.MadStats.madStats(col("__v"), k).alias("s"))
      .select(col("__g"), col("s.med"), col("s.mad"), col("s.n"), col("s.n_outliers"))
      .as[(String, Double, Double, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet == want.keySet)
    got.keySet.foreach { g =>
      assert(got(g) == want(g), s"group $g: fused=${got(g)} threePass=${want(g)}")
    }
  }

  test("countMin: never undercounts, overcount within eps*n, absent probe = 0") {
    val stream = (Seq.fill(500)("hot") ++ (1 to 2000).map(i => s"u${i % 400}"))
    val df = stream.toDF("item").repartition(7)
    val probes = Seq("hot", "u1", "u399", "ghost")
    val r = Profile.countMinEstimates(df, "item", probes, eps = 0.01)
      .as[(String, Long, Long)].collect().map(x => x._1 -> (x._2, x._3)).toMap
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(r.keySet == probes.toSet)
    probes.foreach { p =>
      assert(r(p)._1 == exact.getOrElse(p, 0L), s"$p exact wrong")
      assert(r(p)._2 == 0L, s"$p undercounted by ${r(p)._2}")
    }
    // overcount bound at eps=0.01: est - exact <= eps * n (2500 * 0.01 = 25)
    val est = Profile.countMinRaw(df, "item", probes, eps = 0.01)
    probes.foreach { p =>
      val over = est(p) - exact.getOrElse(p, 0L)
      assert(over >= 0 && over <= 25L, s"$p overcount $over outside eps*n")
    }
  }

  test("sketchAccuracy: constant column (total ties) stays within the rank window") {
    val df = spark.range(1000).select(lit(7.0).alias("v"))
    val r = Profile.sketchAccuracy(df, "v").as[(Long, Boolean, Double, Boolean)]
      .collect()(0)
    assert(r._1 == 1L && r._2 && r._3 == 7.0 && r._4)
  }

  // --------------------------------------------------------- equiDepthBins

  test("equiDepthBins: quartiles of 1..8, edge ties go LOW") {
    // exact percentile over 1..8: p=.25 → 2.75, p=.5 → 4.5, p=.75 → 6.25
    val df = (1 to 8).map(v => ("g", v.toDouble)).toDF("g", "v")
    val got = Profile.equiDepthBins(df, Seq("g"), "v", nBins = 4)
      .select(col("v"), col("v_bin")).as[(Double, Long)].collect().toMap
    assert(got == Map(1.0 -> 0L, 2.0 -> 0L, 3.0 -> 1L, 4.0 -> 1L,
      5.0 -> 2L, 6.0 -> 2L, 7.0 -> 3L, 8.0 -> 3L), got.toString)
    // edge tie: with 1..9, p=.5 → exactly 5.0; 5.0 is NOT > its own edge → bin 1
    val df9 = (1 to 9).map(v => ("g", v.toDouble)).toDF("g", "v")
    val tie = Profile.equiDepthBins(df9, Seq("g"), "v", nBins = 2)
      .filter(col("v") === 5.0).select("v_bin").as[Long].head()
    assert(tie == 0L, "value equal to an edge stays in the lower bin")
  }

  test("equiDepthBins: nulls stay null, null group keys survive, groups independent") {
    val df = Seq(
      (Option("a"), Option(1.0)), (Option("a"), Option(2.0)),
      (Option("a"), Option(3.0)), (Option("a"), Option(4.0)),
      (Option("a"), Option.empty[Double]),
      (Option.empty[String], Option(100.0)), (Option.empty[String], Option(200.0))
    ).toDF("g", "v")
    val got = Profile.equiDepthBins(df, Seq("g"), "v", nBins = 2)
    assert(got.count() == 7, "no row loss")
    assert(got.filter(col("v").isNull && col("v_bin").isNotNull).count() == 0)
    val nullG = got.filter(col("g").isNull)
      .select("v", "v_bin").as[(Double, Long)].collect().toMap
    assert(nullG == Map(100.0 -> 0L, 200.0 -> 1L), nullG.toString)
  }

  // -------------------------------------------------------------- psiDrift

  test("psiDrift: identical distributions score ~0; disjoint shift scores large") {
    val ref = spark.range(1000).select((col("id") % 100).cast("double").alias("v"))
    val same = Profile.psiDrift(ref, ref, "v", nBins = 10)
      .as[(Long, Long, Double)].head()
    assert(same._1 == 1000L && same._2 == 1000L)
    assert(math.abs(same._3) < 1e-9, s"identical dist must be ~0, got ${same._3}")
    // shifted far right: everything lands in the top bin
    val cur = spark.range(1000).select((col("id") % 100 + 10000).cast("double").alias("v"))
    val drift = Profile.psiDrift(ref, cur, "v", nBins = 10)
      .as[(Long, Long, Double)].head()
    assert(drift._3 > 0.25, s"major shift must exceed 0.25, got ${drift._3}")
  }

  test("psiDrift: hand-computed two-bin case") {
    // ref: 50/50 across the median edge; cur: 80/20 → known PSI
    val ref = ((1 to 50).map(_ => 1.0) ++ (1 to 50).map(_ => 3.0)).toDF("v")
    val cur = ((1 to 80).map(_ => 1.0) ++ (1 to 20).map(_ => 3.0)).toDF("v")
    val got = Profile.psiDrift(ref, cur, "v", nBins = 2, eps = 0.0)
      .as[(Long, Long, Double)].head()
    val expected = (0.5 - 0.8) * math.log(0.5 / 0.8) +
      (0.5 - 0.2) * math.log(0.5 / 0.2)
    assert(got._1 == 100L && got._2 == 100L)
    assert(math.abs(got._3 - expected) < 1e-6, s"${got._3} vs $expected")
  }

  test("psiDrift: empty bins on one side stay finite via smoothing") {
    val ref = spark.range(100).select((col("id") % 10).cast("double").alias("v"))
    val cur = spark.range(100).select(lit(0.0).alias("v")) // all in bin 0
    val got = Profile.psiDrift(ref, cur, "v", nBins = 10)
      .as[(Long, Long, Double)].head()
    assert(!got._3.isNaN && !got._3.isInfinite, s"psi must be finite, got ${got._3}")
    assert(got._3 > 0.25)
  }
}
