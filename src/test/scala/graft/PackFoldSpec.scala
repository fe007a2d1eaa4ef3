package graft

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The level-by-level pack that `PackFold` replaced, kept as the reference
  * it must equal: one `groupBy(ancestorKeys)` per level, collecting
  * `struct(orderKeys…, rowId, payload)`, sorting that list and stripping it
  * back to the payload. Expects the prepared frame (row ids present when
  * the pack preserves child order). */
object LevelByLevelPack {
  import Packer.RowIdCol

  private def topCol(c: String): Column = ColName.topCol(c)

  def pack(spec: HierarchySpec, preserveChildOrder: Boolean, df: DataFrame,
           toLevel: String): DataFrame = {
    val metas = spec.metadata
    val folded = (metas.size - 1 to spec.levelIndex(toLevel) by -1)
      .foldLeft(df)((d, i) => level(d, metas(i), preserveChildOrder))
    if (folded.columns.contains(RowIdCol)) folded.drop(RowIdCol) else folded
  }

  private def level(df0: DataFrame, meta: LevelMetadata, preserve: Boolean): DataFrame = {
    val levelCols = df0.columns.toIndexedSeq.filter(_.startsWith(meta.prefix))
    if (levelCols.isEmpty) return df0
    val groupKeys = meta.ancestorKeys
    val orderTemp =
      if (meta.spec.orderBy.nonEmpty && groupKeys.nonEmpty)
        meta.spec.orderBy.indices.map(i => s"__ref_order_$i")
      else Nil
    val withOrder = meta.spec.orderBy.zip(orderTemp).foldLeft(df0) {
      case (d, (e, a)) => d.withColumn(a, e) }
    val others = withOrder.columns.toIndexedSeq.filterNot(levelCols.contains)
    val df = withOrder.select((others.map(topCol) :+ struct(levelCols.map(c =>
      topCol(c).alias(c.substring(meta.prefix.length))): _*).alias(meta.path)): _*)
    if (groupKeys.isEmpty) return df

    val rowId = preserve && df.columns.contains(RowIdCol)
    val excluded = groupKeys.toSet ++ orderTemp + meta.path + RowIdCol
    val remaining = df.columns.toIndexedSeq.filterNot(excluded.contains)
    val sortBy = orderTemp ++ (if (rowId) Seq(RowIdCol) else Nil)
    val list =
      if (sortBy.isEmpty) collect_list(topCol(meta.path))
      else {
        val keyed = collect_list(struct((sortBy.zipWithIndex.map { case (c, i) =>
          topCol(c).alias(s"__k$i") } :+ topCol(meta.path).alias("__payload")): _*))
        // a non-orderable payload (a map) sorts on the key fields alone
        val sorted =
          if (RowOrdering.isOrderable(df.schema(meta.path).dataType)) sort_array(keyed)
          else array_sort(keyed, (l, r) =>
            sortBy.indices.foldRight(lit(0): Column) { (i, acc) =>
              val lf = l.getField(s"__k$i"); val rf = r.getField(s"__k$i")
              when(lf.isNull && rf.isNull, acc).when(lf.isNull, -1).when(rf.isNull, 1)
                .when(lf < rf, -1).when(lf > rf, 1).otherwise(acc)
            })
        transform(sorted, x => x.getField("__payload"))
      }
    val aggs = remaining.map(c => first(topCol(c), ignoreNulls = true).alias(c)) ++
      Seq(list.alias(meta.path)) ++
      (if (rowId) Seq(min(topCol(RowIdCol)).alias(RowIdCol)) else Nil)
    df.groupBy(groupKeys.map(topCol): _*).agg(aggs.head, aggs.tail: _*)
  }
}

/** `Packer.pack`'s one-aggregate fold equals the level-by-level pack on
  * random hierarchies: schema, rows and child-list order. */
class PackFoldSpec extends SparkSpec {
  import Packer.RowIdCol

  private def c(name: String): Column = ColName.topCol(name)

  /** a → b → c → d, or a → b → c when `levels` = 3. Keys: a long, b a
    * string, c a double (with −0.0, 0.0 and NaN), d a long; every level's
    * key is sometimes null. The leaf carries a map. */
  private def spec(levels: Int, leafOrder: Boolean, innerOrder: Boolean): HierarchySpec = {
    val leafOrderBy = if (levels == 4) Seq(c("a.b.c.d.v")) else Seq(c("a.b.c.x"))
    val all = Seq(
      LevelSpec("a", Seq(NamedField("id"))),
      LevelSpec("b", Seq(NamedField("id")),
        orderBy = if (innerOrder) Seq(c("a.b.attr")) else Nil),
      LevelSpec("c", Seq(NamedField("id")),
        orderBy = if (innerOrder && levels == 4) Seq(size(c("a.b.c.d")), c("a.b.c.x"))
                  else Nil),
      LevelSpec("d", Seq(NamedField("id"))))
    val kept = all.take(levels)
    HierarchySpec(kept.init :+ kept.last.copy(orderBy = if (leafOrder) leafOrderBy else Nil))
  }

  /** Flat rows in one partition, row ids in input order. `nonUniform`
    * lets the leaf's parent level vary its attributes within an entity;
    * every coarser attribute is uniform within its entity or null. */
  private def flat(seed: Int, levels: Int, nonUniform: Boolean, partitions: Int = 1): DataFrame = {
    val rnd = new Random(seed)
    def maybe[T](p: Double)(v: => T): Any = if (rnd.nextDouble() < p) null else v
    val cKeys = Seq(0.0, -0.0, Double.NaN, 1.5, -2.0)
    val rows = (0 until 40 + rnd.nextInt(40)).map { _ =>
      val a: Any = maybe(0.1)(rnd.nextInt(4).toLong)
      val b: Any = maybe(0.1)(s"b${rnd.nextInt(3)}")
      val cId: Any = maybe(0.1)(cKeys(rnd.nextInt(cKeys.size)))
      val hb = (a, b).toString.hashCode
      val h = (a, b, cId).toString.hashCode
      val aName: Any = if (a == null || rnd.nextDouble() < 0.3) null else s"name$a"
      val bAttr: Any =
        if (rnd.nextDouble() < 0.3) null
        else if (nonUniform && levels == 3) rnd.nextInt(3)
        else (hb % 3 + 3) % 3
      val cx: Any =
        if (rnd.nextDouble() < 0.2) null
        else if (nonUniform && levels == 4) rnd.nextInt(3).toDouble - 1.0
        else if (levels == 4) ((h % 5 + 5) % 5).toDouble - 2.0
        else maybe(0.2)(rnd.nextInt(3).toDouble)
      val extra: Any = if (a == null || rnd.nextDouble() < 0.5) null else s"x$a"
      val leaf: Seq[Any] =
        if (levels == 4) Seq(maybe(0.1)(rnd.nextInt(5).toLong), maybe(0.3)(rnd.nextInt(3).toLong),
          maybe(0.2)(Map("k" -> rnd.nextInt(9).toLong)))
        else Seq(maybe(0.2)(Map("k" -> rnd.nextInt(9).toLong)))
      Seq(a, aName, b, leaf.last, bAttr, cId, cx) ++ leaf.init ++
        Seq(Seq(1, 2).take((hb & 1) + 1), extra)
    }
    val leafFields =
      if (levels == 4) Seq(StructField("a.b.c.d.id", LongType), StructField("a.b.c.d.v", LongType))
      else Nil
    val mapField = StructField(if (levels == 4) "a.b.c.d.m" else "a.b.c.m",
      MapType(StringType, LongType))
    val schema = StructType(Seq(StructField("a.id", LongType), StructField("a.name", StringType),
        StructField("a.b.id", StringType), mapField, StructField("a.b.attr", IntegerType),
        StructField("a.b.c.id", DoubleType), StructField("a.b.c.x", DoubleType)) ++ leafFields ++
      Seq(StructField("a.b.tags", ArrayType(IntegerType)), StructField("extra", StringType),
        StructField(RowIdCol, LongType, nullable = false)))
    val numbered = rows.zipWithIndex.map { case (r, i) => Row.fromSeq(r :+ i.toLong) }
    spark.createDataFrame(spark.sparkContext.parallelize(numbered, partitions), schema)
  }

  /** A row as text, lists in order (or sorted when `multiset`); doubles
    * print −0.0 apart from 0.0. */
  private def canon(v: Any, multiset: Boolean): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(canon(_, multiset)).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k, multiset) + "->" + canon(x, multiset) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] =>
      val xs = s.map(canon(_, multiset)).toSeq
      (if (multiset) xs.sorted else xs).mkString("<", ",", ">")
    case d: Double => java.lang.Double.toString(d)
    case other => other.toString
  }

  private def assertFoldEqualsReference(sp: HierarchySpec, df: DataFrame, target: String,
                                        preserve: Boolean = true): Unit = {
    val folded = new Packer(sp, preserveChildOrder = preserve).pack(df, target)
    val reference = LevelByLevelPack.pack(sp, preserve, df, target)
    assert(folded.schema == reference.schema,
      s"to $target:\n${folded.schema.treeString}\n${reference.schema.treeString}")
    def rows(d: DataFrame) = d.collect().map(canon(_, !preserve)).toSeq.sorted
    val (got, want) = (rows(folded), rows(reference))
    assert(got == want, s"to $target:\n${got.mkString("\n")}\n---\n${want.mkString("\n")}")
  }

  test("4 levels, leaf and intermediate orderBy, null and float keys, map payload, " +
    "non-uniform parent attributes: every target equals the level-by-level pack") {
    val sp = spec(4, leafOrder = true, innerOrder = true)
    for (seed <- 1 to 3; target <- Seq("a", "b", "c", "d"))
      assertFoldEqualsReference(sp, flat(seed, 4, nonUniform = true), target)
  }

  test("4 levels ordered by row id alone, input over 3 partitions") {
    val sp = spec(4, leafOrder = false, innerOrder = false)
    for (seed <- 4 to 5; target <- Seq("a", "b", "d"))
      assertFoldEqualsReference(sp, flat(seed, 4, nonUniform = false, partitions = 3), target)
  }

  test("3 levels with a leaf orderBy: every target equals the level-by-level pack") {
    val sp = spec(3, leafOrder = true, innerOrder = false)
    for (seed <- 6 to 8; target <- Seq("a", "b", "c"))
      assertFoldEqualsReference(sp, flat(seed, 3, nonUniform = true), target)
  }

  test("preserveChildOrder = false: the same lists as multisets") {
    for ((levels, inner) <- Seq((4, true), (3, false)); target <- Seq("a", "b")) {
      val sp = spec(levels, leafOrder = true, innerOrder = inner)
      assertFoldEqualsReference(sp, flat(9, levels, nonUniform = false), target, preserve = false)
    }
  }

  /** `spec(levels, leafOrder = true, innerOrder = false)` with `orders`
    * as the orderBy of the named intermediate levels. */
  private def innerOrdered(levels: Int, orders: Map[String, Seq[Column]]): HierarchySpec = {
    val base = spec(levels, leafOrder = true, innerOrder = false)
    base.copy(levels = base.levels.map(l => orders.get(l.name).fold(l)(o => l.copy(orderBy = o))))
  }

  test("an intermediate orderBy of runtime-replaceable functions (nvl, nullif, " +
    "array_size) equals the level-by-level pack") {
    val sp = innerOrdered(4, Map(
      "b" -> Seq(nvl(c("a.b.attr"), lit(5))),
      "c" -> Seq(array_size(c("a.b.c.d")), nullif(c("a.b.c.x"), lit(0.0)))))
    for (seed <- 11 to 12; target <- Seq("a", "b"))
      assertFoldEqualsReference(sp, flat(seed, 4, nonUniform = false), target)
  }

  test("a nondeterministic intermediate orderBy is rejected when the pack is built") {
    val sp = innerOrdered(3, Map("b" -> Seq(rand(1))))
    val e = intercept[HierarchyConfigError](
      new Packer(sp).pack(flat(13, 3, nonUniform = false), "a"))
    assert(e.getMessage.contains("level 'b'"), e.getMessage)
  }

  test("float keys group as groupBy groups them: -0.0 with 0.0 and NaN with NaN, " +
    "under the normalized key") {
    val sp = spec(4, leafOrder = false, innerOrder = false)
    val ids = new Packer(sp).pack(flat(10, 4, nonUniform = false), "b")
      .select(explode(c("a.b")).alias("b"))
      .select(transform(col("b.c"), x => x.getField("id").cast("string")))
      .collect().map(_.getSeq[String](0))
    val all = ids.flatten
    assert(all.contains("0.0") && all.contains("NaN") && !all.contains("-0.0"), all.mkString(","))
    ids.foreach(cs => assert(cs.distinct.size == cs.size, cs.mkString(",")))
  }
}
