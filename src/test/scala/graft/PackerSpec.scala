package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Fixtures from the reference test suite (FIXTURES.md §1-§2;
  * tests/test_hierarchical_packer.py:20-60, tests/test_streaming.py:14-52). */
object Fixtures {
  /** Five-level apartment hierarchy spec with a key alias. */
  val apartmentSpec: HierarchySpec = HierarchySpec(
    levels = Seq(
      LevelSpec("country", Seq(NamedField("code"))),
      LevelSpec("city", Seq(NamedField("id"), NamedField("name"))),
      LevelSpec("street", Seq(NamedField("name"))),
      LevelSpec("building", Seq(NamedField("number"))),
      LevelSpec("apartment", Seq(NamedField("id")), requiredFields = Seq("id"))),
    keyAliases = Map("country.code" -> "country.city.id"))

  def apartmentDf(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("country.code", StringType),
      StructField("country.city.id", StringType),
      StructField("country.city.name", StringType),
      StructField("country.city.street.name", StringType),
      StructField("country.city.street.building.number", LongType),
      StructField("country.city.street.building.id", StringType),
      StructField("country.city.street.building.apartment.id", StringType),
      StructField("country.city.street.building.apartment.area", DoubleType)))
    val rows = Seq(
      Row("US", "NYC", "New York", "Main St", 100L, "bldg-100", "apt-1", 50.5),
      Row("US", "NYC", "New York", "Main St", 100L, "bldg-100", "apt-2", 75.0),
      Row("US", "NYC", "New York", "Main St", 101L, "bldg-101", "apt-3", 90.2),
      Row("CA", "TOR", "Toronto", "Queen St", 200L, "bldg-200", "apt-4", 60.8))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Three-level country→city→street spec with parent keys. */
  val streamingSpec: HierarchySpec = HierarchySpec(Seq(
    LevelSpec("country", Seq(NamedField("id"))),
    LevelSpec("city", Seq(NamedField("id")), parentKeys = Seq("country_id")),
    LevelSpec("street", Seq(NamedField("id")), parentKeys = Seq("city_id"))))

  /** 13 rows: 6 cities with street counts 1,3,2,4,1,2 across 3 countries. */
  def streamingDf(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("country.id", StringType),
      StructField("country.city.id", StringType),
      StructField("country.city.country_id", StringType),
      StructField("country.city.street.id", StringType),
      StructField("country.city.street.city_id", StringType)))
    val counts = Seq(1, 3, 2, 4, 1, 2)
    val rows = counts.zipWithIndex.flatMap { case (n, ci) =>
      val country = s"C${ci % 3}"
      (0 until n).map(si => Row(country, s"city$ci", country, s"s${ci}_$si", s"city$ci"))
    }
    spark.createDataFrame(rows.asJava, schema)
  }
}

class PackerSpec extends SparkSpec {
  import Fixtures._

  lazy val packer = new Packer(apartmentSpec)

  test("pack to street produces the nested street column") {
    val packed = packer.pack(apartmentDf(spark), "street")
    assert(packed.schema.fieldNames.contains("country.city.street"))
    // rows now at city granularity: NYC + TOR
    assert(packed.count() == 2)
    val st = packed.schema("country.city.street").dataType
    assert(st.isInstanceOf[ArrayType])
    val inner = st.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    assert(inner.fieldNames.toSet == Set("name", "building"))
  }

  test("pack/unpack roundtrip is lossless (reference test_pack_unpack_roundtrip)") {
    val df = apartmentDf(spark)
    val packed = packer.pack(df, "street")
    val unpacked = packer.unpack(packed, "apartment")
    assertSameRows(unpacked, df)
  }

  test("pack to root folds everything into one struct per entity") {
    val df = apartmentDf(spark)
    val packed = packer.pack(df, "country")
    assert(packed.schema.fieldNames.toSeq == Seq("country"))
    assert(packed.count() == 2)
    val unpacked = packer.unpack(packed, "apartment")
    assertSameRows(unpacked, df)
  }

  test("split_join strategy equals aggregate strategy (reference test_pack_split_join_matches_aggregate)") {
    val isUs = ColName.topCol("country.code") === "US"
    val df = apartmentDf(spark)
      .withColumn("country.name", when(isUs, "United States").otherwise("Canada"))
      .withColumn("country.population", when(isUs, 331L).otherwise(38L))
    val agg = packer.pack(df, "street")
    val sj = packer.pack(df, "street", parentStrategy = ParentStrategy.SplitJoin)
    assertSameRows(agg, sj)
    // and packing to root re-injects attrs as struct fields
    val aggRoot = packer.pack(df, "country")
    val sjRoot = packer.pack(df, "country", parentStrategy = ParentStrategy.SplitJoin)
    assertSameRows(aggRoot, sjRoot)
  }

  test("split_join output order equals aggregate: top-level columns AND root " +
    "struct fields (positional consumers must be able to union the two)") {
    val isUs = ColName.topCol("country.code") === "US"
    val df = apartmentDf(spark)
      .withColumn("country.name", when(isUs, "United States").otherwise("Canada"))
      .withColumn("country.population", when(isUs, 331L).otherwise(38L))
    val agg = packer.pack(df, "street")
    val sj = packer.pack(df, "street", parentStrategy = ParentStrategy.SplitJoin)
    assert(sj.columns.toSeq == agg.columns.toSeq,
      s"column order diverged:\n  sj=${sj.columns.toSeq}\n  agg=${agg.columns.toSeq}")
    val aggRoot = packer.pack(df, "country")
    val sjRoot = packer.pack(df, "country", parentStrategy = ParentStrategy.SplitJoin)
    assert(sjRoot.schema("country").dataType == aggRoot.schema("country").dataType,
      "root struct field order diverged")
    // positional interchangeability is the point
    assert(aggRoot.union(sjRoot).count() == 4)
  }

  test("map-typed level attribute packs and unpacks (non-orderable payload " +
    "sorts by keys only)") {
    val spec = HierarchySpec(Seq(
      LevelSpec("p", Seq(NamedField("id"))),
      LevelSpec("c", Seq(NamedField("id")))))
    val pk = new Packer(spec)
    val df = spark.range(6).select(
      (col("id") / 3).cast("long").cast("string").alias("p.id"),
      col("id").cast("string").alias("p.c.id"),
      map(lit("k"), col("id").cast("string")).alias("p.c.tags"))
    val packed = pk.pack(df, "p")
    assert(packed.count() == 2)
    val back = pk.unpack(packed, "c")
    assert(back.count() == 6)
    // child order preserved despite the comparator path (packed to root:
    // the child list is a field of the root struct)
    val kids = packed.filter(ColName.topCol("p.id") === "0")
      .select(col("p").getField("c")).collect()(0).getSeq[Row](0)
      .map(_.getAs[String]("id"))
    assert(kids == Seq("0", "1", "2"))
    // salted path handles the same payload
    assertSameRows(pk.packSalted(df, "p", saltBuckets = 4), packed)
  }

  test("packStreaming honors the partitions knob on a 3-level hierarchy " +
    "(regression: inner coarsest-key repartition overrode it)") {
    val p = new Packer(streamingSpec)
    val out = p.packStreaming(streamingDf(spark), "country", partitions = 7)
    assert(out.rdd.getNumPartitions == 7,
      s"expected 7 partitions, got ${out.rdd.getNumPartitions}")
    assertSameRows(out, p.pack(streamingDf(spark), "country"))
  }

  test("split_join without root attributes falls back to the aggregate path " +
    "(reference test_pack_split_join_without_root_attrs_falls_back)") {
    // apartmentDf has NO non-key root attributes → nothing to split off;
    // split_join must equal aggregate exactly.
    val df = apartmentDf(spark)
    assertSameRows(
      packer.pack(df, "street", parentStrategy = ParentStrategy.SplitJoin),
      packer.pack(df, "street"))
  }

  test("pack handles a dropped aliased key column: alias synthesizes it, " +
    "roundtrip omits it (reference test_pack_handles_missing_country_code_alias)") {
    // country.code is aliased to country.city.id; dropping the physical
    // column must still pack (key recovered via the alias) and the
    // roundtrip must NOT re-materialize the dropped column.
    val df = apartmentDf(spark).drop(ColName.topCol("country.code"))
    val packed = packer.pack(df, "street")
    assert(!packed.columns.contains("country.code"))
    val roundtrip = packer.unpack(packed, "apartment")
    assert(!roundtrip.columns.contains("country.code"))
    assertSameRows(roundtrip, df)
  }

  test("child order preserved within parent lists (reference test_streaming.py:99-108)") {
    val p = new Packer(streamingSpec)
    val packed = p.pack(streamingDf(spark), "street")
    val row = packed.filter(ColName.topCol("country.city.id") === "city1")
      .select(ColName.topCol("country.city.street")).collect()(0)
    val streets = row.getSeq[Row](0).map(_.getAs[String]("id"))
    assert(streets == Seq("s1_0", "s1_1", "s1_2"))
  }

  test("pack is order-independent for contents; null parent attrs recover first non-null") {
    val p = new Packer(streamingSpec)
    val base = streamingDf(spark)
      .withColumn("country.name",
        when(ColName.topCol("country.city.street.id") === "s0_0", lit(null: String))
          .otherwise(concat(lit("name-"), ColName.topCol("country.id"))))
    val packed = p.pack(base, "city")
    val names = packed.select(ColName.topCol("country.id"), ColName.topCol("country.name"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(names("C0") == "name-C0") // recovered despite the null row
  }

  test("order_by packs children in explicit order regardless of row order") {
    val spec = HierarchySpec(Seq(
      LevelSpec("country", Seq(NamedField("id"))),
      LevelSpec("city", Seq(NamedField("id")),
        orderBy = Seq(ColName.topCol("country.city.id")))))
    val p = new Packer(spec)
    val schema = StructType(Seq(
      StructField("country.id", StringType), StructField("country.city.id", StringType)))
    val rows = Seq(Row("X", "c"), Row("X", "a"), Row("X", "b"))
    val df = spark.createDataFrame(rows.asJava, schema)
    val packed = p.pack(df, "city")
    val ids = packed.select(ColName.topCol("country.city")).collect()(0)
      .getSeq[Row](0).map(_.getAs[String]("id"))
    assert(ids == Seq("a", "b", "c"))
  }

  test("pack_streaming parity: repartitioned pack equals pack") {
    val p = new Packer(streamingSpec)
    val df = streamingDf(spark)
    val plain = p.pack(df, "city")
    Seq(1, 4, 64).foreach { parts =>
      assertSameRows(p.packStreaming(df, "city", parts), plain)
    }
  }

  test("pack_streaming to an intermediate level equals plain pack " +
    "(reference test_pack_streaming_to_intermediate_level)") {
    val p = new Packer(streamingSpec)
    val df = streamingDf(spark)
    assertSameRows(p.packStreaming(df, "country", 8), p.pack(df, "country"))
  }

  test("pack_streaming rejects negative partitions " +
    "(reference test_pack_streaming_rejects_bad_partitions; 0 = derive)") {
    val p = new Packer(streamingSpec)
    val df = streamingDf(spark)
    assertThrows[HierarchyConfigError](p.packStreaming(df, "city", -3))
  }

  test("pack_streaming default width derives from the estimated shuffle " +
    "payload, falling back to 64 only when the probe is disabled") {
    val p = new Packer(streamingSpec)
    val df = streamingDf(spark)
    // decision rule: tiny frame → estimate floors at session parallelism,
    // never at the reference's literal 64
    val (est, rec) = p.estimatedShuffle(df, sampleFraction = 1.0)
    assert(est > 0, s"width probe estimated no bytes on a non-empty frame ($est)")
    assert(rec == spark.sparkContext.defaultParallelism,
      s"tiny frame should floor at parallelism, got $rec")
    // derived default (partitions = 0 + probe) lands on the probe's
    // recommendation; contents still equal plain pack
    val derived = p.packStreaming(df, "country", sampleFraction = 1.0)
    assert(derived.rdd.getNumPartitions == rec,
      s"derived width ${derived.rdd.getNumPartitions} != probe rec $rec")
    assertSameRows(derived, p.pack(df, "country"))
    // probe disabled (sampleFraction <= 0) → the reference's literal 64
    val fallback = p.packStreaming(df, "country", sampleFraction = 0.0)
    assert(fallback.rdd.getNumPartitions == Packer.DefaultStreamingPartitions,
      s"probe-disabled width should be 64, got ${fallback.rdd.getNumPartitions}")
    // a synthetic ~wide frame recommends MORE than parallelism once the
    // estimated payload crosses the 128 MB target (pure rule check via
    // Tuning — the probe feeds the same arithmetic)
    assert(graft.ext.Tuning.partitionsForBytes(90L << 30,
      minPartitions = spark.sparkContext.defaultParallelism) == 720)
  }

  test("pack_streaming parquet source and eager sink both equal plain pack " +
    "(reference test_pack_streaming_accepts_parquet_path / _eager_sink_returns_scan)") {
    val p = new Packer(streamingSpec)
    val df = streamingDf(spark)
    val ref = p.pack(df, "country")
    val tmp = java.nio.file.Files.createTempDirectory("pack_stream").toString
    df.write.mode("overwrite").parquet(s"$tmp/src")
    val fromPath = p.packStreaming(spark, s"$tmp/src", "country", 4,
      ExtraColumns.Preserve, sinkPath = None)
    // "input order" for a path source is the parquet SCAN order (file
    // listing, not write order) — compare against a pack of the same scan
    assertSameRows(fromPath, p.pack(spark.read.parquet(s"$tmp/src"), "country"))
    val sunk = p.packStreaming(df, "country", 4, sinkPath = Some(s"$tmp/sink"))
    assertSameRows(sunk, ref)
    // the returned frame is the RE-SCAN of the sink
    assert(spark.read.parquet(s"$tmp/sink").count() == ref.count())
  }

  test("unpack_streaming with a parquet sink stages to disk and re-scans losslessly " +
    "(reference test_unpack_streaming_parquet_source_and_sink)") {
    val p = new Packer(streamingSpec)
    val df = streamingDf(spark)
    val packed = p.pack(df, "city")
    val sink = java.nio.file.Files.createTempDirectory("unpack_stage").toString + "/out"
    val staged = p.unpackStreaming(packed, "street", sinkPath = Some(sink))
    assertSameRows(staged, p.unpack(packed, "street"))
    // the returned frame is the RE-SCAN of the sink, not the in-memory plan
    assert(spark.read.parquet(sink).count() == staged.count())
  }

  test("null children survive pack/unpack roundtrip (explode_outer semantics)") {
    // parent row whose child columns are entirely null
    val schema = StructType(Seq(
      StructField("country.id", StringType),
      StructField("country.city.id", StringType),
      StructField("country.city.country_id", StringType),
      StructField("country.city.street.id", StringType),
      StructField("country.city.street.city_id", StringType)))
    val rows = Seq(
      Row("C0", "city0", "C0", "s0", "city0"),
      Row("C1", null, null, null, null)) // country with no city at all
    val df = spark.createDataFrame(rows.asJava, schema)
    val p = new Packer(streamingSpec)
    val packed = p.pack(df, "city")
    assert(packed.count() == 2)
    val unpacked = p.unpack(packed, "street")
    assertSameRows(unpacked, df)
  }

  test("extra columns: preserve keeps, drop drops, error raises") {
    val df = apartmentDf(spark).withColumn("not_hierarchy", lit(7))
    val kept = packer.pack(df, "street")
    assert(kept.schema.fieldNames.contains("not_hierarchy"))
    val dropped = packer.pack(df, "street", ExtraColumns.Drop)
    assert(!dropped.schema.fieldNames.contains("not_hierarchy"))
    assertThrows[HierarchyValidationError] {
      packer.pack(df, "street", ExtraColumns.Error)
    }
  }

  test("validateOnPack rejects non-uniform parent attributes") {
    val df = apartmentDf(spark)
      // a non-key city attribute that differs within NYC → non-uniform
      .withColumn("country.city.population",
        when(ColName.topCol("country.city.street.building.apartment.id") === "apt-1", 1L)
          .otherwise(2L))
    val strict = new Packer(apartmentSpec, validateOnPack = true)
    assertThrows[HierarchyValidationError] {
      strict.pack(df, "street").collect()
    }
    // the salted path honors the same gate
    assertThrows[HierarchyValidationError] {
      strict.packSalted(df, "street", saltBuckets = 4).collect()
    }
  }

  test("a failing validating pack names the leaf-most violating level and its " +
    "first violating column") {
    val strict = new Packer(apartmentSpec, validateOnPack = true)
    def error(df: DataFrame): HierarchyValidationError =
      intercept[HierarchyValidationError](strict.pack(df, "street"))
    // differs within building 100: the apartment fold is the first to see it
    val inBuilding = error(apartmentDf(spark).withColumn("country.city.population",
      when(ColName.topCol("country.city.street.building.apartment.id") === "apt-1", 1L)
        .otherwise(2L)))
    assert(inBuilding.level.contains("apartment"))
    assert(inBuilding.details == Map("column" -> "country.city.population"))
    assert(inBuilding.getMessage == "Column 'country.city.population' has non-uniform values " +
      "within groups at level 'apartment'. Values at coarser granularity should be identical " +
      "within each group. [Level: apartment]")
    // uniform within each building, two values across NYC's buildings: the
    // building fold sees both columns, and the first one is named
    val byBuilding = when(ColName.topCol("country.city.street.building.number") === 100L, 1L)
      .otherwise(2L)
    val acrossBuildings = error(apartmentDf(spark)
      .withColumn("country.city.a1", byBuilding).withColumn("country.city.a2", byBuilding))
    assert(acrossBuildings.level.contains("building"))
    assert(acrossBuildings.details == Map("column" -> "country.city.a1"))
  }

  test("a validating pack checks the coarsest level's carried columns by min/max, " +
    "not row by row, and still names the level a violation first shows at") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import graft.functions.PackFold
    val strict = new Packer(apartmentSpec, validateOnPack = true)
    val broadway = spark.createDataFrame(Seq(Row("US", "NYC", "New York", "Broadway", 300L,
      "bldg-300", "apt-5", 40.0)).asJava, apartmentDf(spark).schema)
    // uniform within each street, two values across NYC's streets
    val byStreet = when(ColName.topCol("country.city.street.name") === "Main St", 1L)
      .otherwise(2L)
    val acrossStreets = intercept[HierarchyValidationError](strict.pack(
      apartmentDf(spark).union(broadway).withColumn("country.city.population", byStreet),
      "street"))
    assert(acrossStreets.level.contains("street"))
    assert(acrossStreets.details == Map("column" -> "country.city.population"))
    val packed = strict.pack(
      apartmentDf(spark).withColumn("country.city.population", lit(8L)), "street")
    val buffered = packed.queryExecution.analyzed.collect { case a: Aggregate => a }
      .flatMap(_.aggregateExpressions.flatMap(_.collect { case f: PackFold => f.children }))
      .flatten.flatMap(_.references.map(_.name))
    strict.releaseAuditCaches()
    assert(buffered.contains("country.city.street.building.apartment.id"), buffered)
    assert(!buffered.contains("country.city.population"), buffered)
  }

  test("a passing validating pack runs one audit check, however many levels it folds") {
    val df = apartmentDf(spark)
      .withColumn("country.city.population",
        when(ColName.topCol("country.city.id") === "NYC", 8L).otherwise(3L))
    val strict = new Packer(apartmentSpec, validateOnPack = true)
    val jobs = withJobCount { jobsSoFar =>
      jobsSoFar()
      Seq("apartment", "building", "street").map { target =>
        strict.pack(df, target)
        jobsSoFar()
      }
    }
    strict.releaseAuditCaches()
    // one check of 4 jobs under AQE; the level-by-level audit ran one
    // check per folded level, 4, 7 and 10 jobs here
    assert(jobs == Seq(4, 4, 4), s"check jobs for 1, 2 and 3 folded levels: $jobs")
  }

  test("a 3-level pack plans one shuffle and one partial/final aggregate pair, " +
    "with no collect_list or sort_array") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
    object Walk extends AdaptiveSparkPlanHelper
    val spec = streamingSpec.copy(levels = streamingSpec.levels.init :+
      streamingSpec.levels.last.copy(orderBy = Seq(ColName.topCol("country.city.street.id"))))
    val flat = streamingDf(spark)
    val rdd = spark.createDataFrame(flat.rdd, flat.schema)
    val packed = new Packer(spec).pack(rdd, "country")
    packed.collect()
    val plan = packed.queryExecution.executedPlan
    assert(Walk.collect(plan) { case e: ShuffleExchangeExec => e }.size == 1, plan)
    val modes = Walk.collect(plan) { case a: ObjectHashAggregateExec =>
      a.aggregateExpressions.map(_.mode).distinct }
    assert(modes == Seq(Seq(Final), Seq(Partial)), plan)
    val text = packed.queryExecution.toString
    assert(text.contains("pack_fold") && !text.contains("collect_list") &&
      !text.contains("sort_array"), text)
  }

  test("uniformityReport counts violating groups per column, nulls ignored") {
    import spark.implicits._
    val spec = HierarchySpec(Seq(
      LevelSpec("p", Seq(NamedField("id"))),
      LevelSpec("c", Seq(NamedField("cid")), parentKeys = Seq("pid"))))
    val df = Seq(
      (1L, 10L, Option(5L), 1L), (1L, 10L, None, 2L),      // uniform; nulls-uniform
      (2L, 20L, None, 3L), (2L, 21L, None, 4L),            // attr violates
      (3L, 30L, Option(7L), 5L), (3L, 30L, Option(8L), 6L) // sparse violates
    ).toDF("p.id", "p.attr", "p.sparse", "p.c.cid")
    val rep = new Packer(spec).uniformityReport(df, "c")
      .as[(String, Long)].collect().toMap
    assert(rep == Map("p.attr" -> 1L, "p.sparse" -> 1L))
    // the root level has no parent group to be uniform within
    assertThrows[IllegalArgumentException] {
      new Packer(spec).uniformityReport(df, "p")
    }
  }

  test("separator-escaped level and field names pack/unpack losslessly") {
    import spark.implicits._
    val spec = HierarchySpec(Seq(
      LevelSpec("ord.h", Seq(NamedField("k"))),
      LevelSpec("line.i", Seq(NamedField("n")), parentKeys = Seq("pk"))))
    val flat = Seq((1L, 1L, 1L, 2.0), (1L, 1L, 2L, 3.0), (2L, 2L, 1L, 4.0))
      .toDF("ord\\.h.k", "ord\\.h.line\\.i.pk",
        "ord\\.h.line\\.i.n", "ord\\.h.line\\.i.q\\.ty")
    val p = new Packer(spec)
    val packed = p.pack(flat, "line.i")
    // the packed list column's name is the ESCAPED joined path
    assert(packed.schema.fieldNames.contains("ord\\.h.line\\.i"))
    val back = p.unpack(packed, "line.i")
      .select(flat.schema.fieldNames.toIndexedSeq.map(ColName.topCol): _*)
    assert(back.collect().map(_.toSeq).toSet == flat.collect().map(_.toSeq).toSet)
  }

  test("validateOnPack on uniform data is invisible: equals the unvalidated " +
    "pack, audit columns stripped, multi-level and salted") {
    val df = apartmentDf(spark)
      .withColumn("country.city.population",
        when(ColName.topCol("country.city.id") === "NYC", 8L).otherwise(3L))
    val strict = new Packer(apartmentSpec, validateOnPack = true)
    // multi-level: audits run (and cache-chain) at every level with attrs
    val validated = strict.pack(df, "street")
    assertSameRows(validated, packer.pack(df, "street"))
    assert(!validated.columns.exists(_.startsWith(Packer.AuditPrefix)))
    val salted = strict.packSalted(df, "street", saltBuckets = 4)
    assertSameRows(salted, packer.pack(df, "street"))
    assert(!salted.columns.exists(_.startsWith(Packer.AuditPrefix)))
    // packing to ROOT validates the root-attr level too
    assertSameRows(strict.pack(df, "country"), packer.pack(df, "country"))
  }

  test("empty DataFrame pack/unpack") {
    val df = apartmentDf(spark).filter(lit(false))
    val packed = packer.pack(df, "street")
    assert(packed.count() == 0)
    val unpacked = packer.unpack(packed, "apartment")
    assert(unpacked.count() == 0)
    assert(unpacked.schema.fieldNames.sorted.toSeq ==
      apartmentDf(spark).schema.fieldNames.sorted.toSeq)
  }

  test("empty frames across EVERY pack strategy: plain/salted/streaming/" +
    "split_join/auto all yield 0 rows with the packed schema " +
    "(reference TestEmptyDataFrames, test_hierarchical_packer.py:472-524)") {
    val df = apartmentDf(spark).filter(lit(false))
    val expected = packer.pack(apartmentDf(spark), "country").schema
    val variants: Seq[(String, DataFrame)] = Seq(
      "plain" -> packer.pack(df, "country"),
      "salted" -> packer.packSalted(df, "country", saltBuckets = 4),
      "streaming" -> packer.packStreaming(df, "country", partitions = 4),
      "split_join" -> packer.pack(df, "country", parentStrategy = ParentStrategy.SplitJoin),
      "auto" -> packer.packAuto(df, "country"))
    variants.foreach { case (name, packed) =>
      assert(packed.count() == 0, s"$name: expected 0 rows")
      assert(packed.schema == expected, s"$name: schema diverged on empty input")
    }
    // validateOnPack on an empty frame is a no-op, not a failure (agg over
    // zero rows yields null audit evidence = no violations)
    val strict = new Packer(apartmentSpec, validateOnPack = true)
    assert(strict.pack(df, "street").count() == 0)
  }

  test("validate on an empty frame reports zero null counts, not an error") {
    val empty = streamingDf(spark).filter(lit(false))
    val p = new Packer(streamingSpec)
    val counts = p.validate(empty, "street", raiseOnError = true)
    assert(counts.nonEmpty && counts.values.forall(_ == 0L))
  }

  test("synthesized key-alias columns do not leak from streaming/split_join packs") {
    // drop the alias target so prepareFrame must synthesize it
    val df = apartmentDf(spark).drop("country.code")
    val p = new Packer(apartmentSpec)
    val plain = p.pack(df, "street").schema.fieldNames.sorted.toSeq
    val stream = p.packStreaming(df, "street", partitions = 4).schema.fieldNames.sorted.toSeq
    val split = p.pack(df, "street", parentStrategy = ParentStrategy.SplitJoin)
      .schema.fieldNames.sorted.toSeq
    assert(stream == plain, s"packStreaming schema diverged: $stream vs $plain")
    assert(split == plain, s"split_join schema diverged: $split vs $plain")
  }

  test("packAuto probes leaf skew and stays content-identical to pack") {
    val p = new Packer(streamingSpec)
    val base = streamingDf(spark)
    // uniform-ish: max streets per city 4, median 2 → factor 2
    assert(p.leafSkewFactor(base, sampleFraction = 1.0) < 8.0)
    val hotRows = (0 until 500).map(i => Row("C0", "city0", "C0", s"hot_$i", "city0"))
    val skewed = base.union(spark.createDataFrame(hotRows.asJava, base.schema))
    // hot city owns 501 leaf rows, median city ~2 → factor ~200
    assert(p.leafSkewFactor(skewed, sampleFraction = 1.0) > 8.0)
    // skew alone does not change the pick: the pack's partial aggregation
    // spreads the hot city's streets; no root attributes at all → plain
    assert(p.choosePackStrategy(skewed, sampleFraction = 1.0) == PackStrategy.Plain)
    assert(p.choosePackStrategy(base, sampleFraction = 1.0) == PackStrategy.Plain)
    assertSameRows(p.packAuto(skewed, "city", sampleFraction = 1.0), p.pack(skewed, "city"))
    assertSameRows(p.packAuto(base, "city", sampleFraction = 1.0), p.pack(base, "city"))
  }

  test("choosePackStrategy picks split_join on parent-dominant payloads only") {
    val p = new Packer(streamingSpec)
    // a fat root attribute (~1 KB per row) duplicated across ~2 children
    // per country... first make children-per-root high enough: country C0
    // already has multiple cities/streets in streamingDf (13 rows over 3
    // countries ≈ 4.3 children per root)
    val fat = streamingDf(spark).withColumn("country.blob",
      concat_ws("", (0 until 256).map(_ => ColName.topCol("country.id")): _*))
    assert(p.choosePackStrategy(fat, sampleFraction = 1.0) == PackStrategy.SplitJoin)
    // same shape but a TINY root attribute → plain aggregate wins
    val thin = streamingDf(spark).withColumn("country.tag",
      ColName.topCol("country.id"))
    assert(p.choosePackStrategy(thin, sampleFraction = 1.0) == PackStrategy.Plain)
    // and the dispatched pack stays content-identical
    assertSameRows(p.packAuto(fat, "city", sampleFraction = 1.0), p.pack(fat, "city"))
  }

  test("planPack recommends bytes-proportional partitions alongside the strategy") {
    val spec = HierarchySpec(Seq(
      LevelSpec("p", Seq(NamedField("id"))),
      LevelSpec("c", Seq(NamedField("id")))))
    val pk = new Packer(spec)
    // 2000 rows x ~1 KB payload ≈ 2 MB estimated shuffle
    val df = spark.range(2000).select(
      (col("id") / 20).cast("long").cast("string").alias("p.id"),
      concat_ws("", (0 until 1024).map(_ => lit("x")): _*).alias("p.c.payload"),
      col("id").cast("string").alias("p.c.id"))
    // 64 KB per partition -> bytes drive the count past the parallelism
    // floor: ~2 MB / 64 KB = ~32+, capped at 40
    val plan = pk.planPack(df, sampleFraction = 1.0,
      bytesPerPartition = 64L << 10, maxPartitions = 40)
    assert(plan.strategy == PackStrategy.Plain, plan)
    assert(plan.estimatedShuffleBytes > 1900000L &&
      plan.estimatedShuffleBytes < 2600000L, plan)
    val expected = math.min(40L, math.max(
      spark.sparkContext.defaultParallelism.toLong,
      math.ceil(plan.estimatedShuffleBytes / (64.0 * 1024)).toLong))
    assert(plan.recommendedPartitions == expected, plan)
    // big per-partition target floors at the session parallelism
    val floored = pk.planPack(df, sampleFraction = 1.0)
    assert(floored.recommendedPartitions ==
      spark.sparkContext.defaultParallelism, floored)
    // strategy pick matches the strategy-only probe
    assert(floored.strategy == pk.choosePackStrategy(df, sampleFraction = 1.0))
  }

  test("choosePackStrategy children-per-root survives a small sample " +
    "(regression: sampled ratio collapses toward 1)") {
    val spec = HierarchySpec(Seq(
      LevelSpec("p", Seq(NamedField("id"))),
      LevelSpec("c", Seq(NamedField("id")))))
    val pk = new Packer(spec)
    // 500 roots x 20 children; a 1% sample sees ~0.2 children per root —
    // the full-frame count/distinct must still report 20
    val df = spark.range(10000).select(
      (col("id") / 20).cast("long").cast("string").alias("p.id"),
      concat_ws("", (0 until 128).map(_ => lit("x")): _*).alias("p.payload"),
      col("id").cast("string").alias("p.c.id"))
    assert(pk.choosePackStrategy(df, sampleFraction = 0.01) == PackStrategy.SplitJoin)
  }

  test("packSalted equals pack, including on a skewed hot key") {
    val spec = streamingSpec
    val p = new Packer(spec)
    // skew: city0 owns 500 streets, every other city ≤ 4
    val base = streamingDf(spark)
    val hotSchema = base.schema
    val hotRows = (0 until 500).map(i =>
      Row("C0", "city0", "C0", s"hot_$i", "city0"))
    val hot = spark.createDataFrame(
      new java.util.ArrayList(hotRows.asJava), hotSchema)
    val df = base.union(hot)

    val spec2 = HierarchySpec(Seq(
      spec.levels(0), spec.levels(1),
      spec.levels(2).copy(orderBy =
        Seq(ColName.topCol("country.city.street.id")))))
    val ordered = new Packer(spec2)
    for (target <- Seq("country", "city")) {
      assertSameRows(ordered.packSalted(df, target, saltBuckets = 8),
        ordered.pack(df, target))
    }
    // unordered variant (no orderBy, rowId path) — contents equal after unpack
    assertSameRows(
      p.unpack(p.packSalted(df, "country", saltBuckets = 8), "street"),
      p.unpack(p.pack(df, "country"), "street"))
  }
}
