package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft._
import perfbench.Common.c

/** The customer → order → lineitem hierarchy hier_reshape packs.
  * Lines are ordered by `l_id` inside their order, so a packed table has one
  * canonical form however its flat rows were ordered. */
object Orders {
  val spec: HierarchySpec = HierarchySpec(Seq(
    LevelSpec("customer", Seq(NamedField("c_id"))),
    LevelSpec("order", Seq(NamedField("o_id"))),
    LevelSpec("lineitem", Seq(NamedField("l_id")),
      orderBy = Seq(c("customer.order.lineitem.l_id")))))

  val Segments: Seq[String] = Seq("auto", "building", "furniture", "machinery", "household")

  /** Seeded flat table over `nOrders` orders spread across `nCustomers`
    * customers, 1 to 7 lines per order; each line has scalar fields and a
    * 0 to 3 element tag array. Prices are multiples of 0.25, so every sum
    * the workloads compare is exact in double arithmetic. */
  def flat(spark: SparkSession, seed: Long, nOrders: Long, nCustomers: Long): DataFrame = {
    def h(parts: Column*): Column = xxhash64((lit(seed) +: parts): _*)
    def pick(parts: Column*)(n: Long): Column = pmod(h(parts: _*), lit(n))
    val o = col("o")
    spark.range(nOrders).select(col("id").alias("o"))
      .select(o, pick(o, lit(1))(nCustomers).alias("cust"),
        explode(sequence(lit(1), (pick(o, lit(2))(7) + 1).cast("int"))).alias("l"))
      .select(
        col("cust").alias("customer.c_id"),
        concat(lit("cust-"), col("cust").cast("string")).alias("customer.c_name"),
        element_at(array(Segments.map(lit): _*),
          (pick(col("cust"), lit(3))(Segments.size.toLong) + 1).cast("int"))
          .alias("customer.c_segment"),
        o.alias("customer.order.o_id"),
        pick(o, lit(4))(2000).cast("int").alias("customer.order.o_date"),
        (pick(o, lit(5))(5) + 1).cast("int").alias("customer.order.o_priority"),
        col("l").alias("customer.order.lineitem.l_id"),
        (pick(o, col("l"), lit(6))(50) + 1).cast("int").alias("customer.order.lineitem.l_qty"),
        (pick(o, col("l"), lit(7))(40000) / 4.0).alias("customer.order.lineitem.l_price"),
        slice(array(Seq(8, 9, 10).map(k => pick(o, col("l"), lit(k))(100).cast("int")): _*),
          lit(1), pick(o, col("l"), lit(11))(4).cast("int"))
          .alias("customer.order.lineitem.l_tags"))
  }
}

/**
 * hier_reshape: the nested-core batch chain over one seeded flat table —
 * pack to customer granularity, rewrite lineitem fields inside the nested
 * lists, enrich customers with cross-level aggregates, keep customers with
 * a priority-1 order, unpack to lines, and digest the result. Packing and
 * the nested rewrites do nearly all the work.
 */
final class HierReshape(spark: SparkSession, seed: Long) extends Workload {
  private val NOrders = 40000L
  private val NCustomers = 8000L
  private val packer = new Packer(Orders.spec)
  val warmupOps = 5
  private var flat: DataFrame = _
  private var leafRows = 0L
  private var expected: (Long, Long, Long) = _
  private var outCols: Seq[String] = Nil
  private val got = mutable.ArrayBuffer.empty[(Long, Long, Long)]

  private def isPriority1(order: Column): Column = order.getField("o_priority") === 1

  private val rewrite: Seq[(String, FieldValue)] = Seq("customer.order" -> Nested(
    "lineitem" -> Nested(
      "l_price" -> Fn(p => p * 2),
      "l_tags" -> Fn(a => transform(a, x => x + 1)),
      "l_net" -> Derive(l => l.getField("l_qty") * l.getField("l_price")))))

  def input: DataFrame = flat

  def steps: Seq[(String, DataFrame => DataFrame)] = Seq(
    "Packer.pack" -> (df => packer.pack(df, "order")),
    "NestedExprs.apply" -> (df => NestedExprs.apply(df, rewrite, WithFieldsMode)),
    "CrossLevel.enrich" -> (df => packer.enrich(df, "customer",
      LevelAttribute("o_id", "order", Agg.Count, Some("n_orders")),
      LevelAttribute("l_net", "lineitem", Agg.Sum, Some("line_sum")))),
    "CrossLevel.anyChildSatisfies" -> (df =>
      packer.anyChildSatisfies(df, "order", "customer", isPriority1)),
    "Packer.unpack" -> (df => packer.unpack(df, "lineitem")))

  /** The same result computed on the flat rows with plain Spark. */
  private def expectedFrame(): DataFrame = {
    val perCustomer = flat.groupBy(c("customer.c_id"))
      .agg(countDistinct(c("customer.order.o_id")).alias("n_orders"),
        sum(c("customer.order.lineitem.l_qty") * c("customer.order.lineitem.l_price"))
          .alias("line_sum"),
        max(when(c("customer.order.o_priority") === 1, 1).otherwise(0)).alias("keep"))
      .filter(col("keep") === 1)
    flat.join(perCustomer.withColumnRenamed("customer.c_id", "__cid"),
        c("customer.c_id") === col("__cid"))
      .withColumn("customer.order.lineitem.l_net",
        c("customer.order.lineitem.l_qty") * c("customer.order.lineitem.l_price"))
      .withColumn("customer.order.lineitem.l_price", c("customer.order.lineitem.l_price") * 2)
      .withColumn("customer.order.lineitem.l_tags",
        transform(c("customer.order.lineitem.l_tags"), x => x + 1))
      .withColumnRenamed("n_orders", "customer.n_orders")
      .withColumnRenamed("line_sum", "customer.line_sum")
  }

  def setup(): Unit = {
    if (flat != null) flat.unpersist(true)
    flat = Orders.flat(spark, seed, NOrders, NCustomers).persist(StorageLevel.MEMORY_ONLY)
    leafRows = flat.count()
    expected = null
  }

  def reset(): Unit = got.clear()

  def op(i: Int, tr: Tracer): Long = {
    val out = Chain.run(this, tr)
    outCols = out.columns.toSeq
    got += tr.span("sink")(Common.digest(out, outCols))
    leafRows
  }

  def check(): Int = {
    if (expected == null && got.nonEmpty) {
      val out = Chain.run(this, new Tracer(spark.sparkContext, on = false))
      expected = Common.digest(Common.alignTypes(expectedFrame(), out), outCols)
    }
    got.count(_ != expected)
  }

  def cleanup(): Unit = if (flat != null) flat.unpersist(true)
}
