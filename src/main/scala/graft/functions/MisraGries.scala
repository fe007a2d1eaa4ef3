package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.ColumnShim.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Misra–Gries frequent-items sketch as a Catalyst aggregate (the
 * "mergeable summaries" form of Agarwal et al., PODS'12): at most
 * `capacity` counters per aggregation buffer, constant memory however
 * many rows stream through.
 *
 * Guarantee (the reason this scales): for a stream of n items, every
 * item whose true frequency exceeds n / (capacity + 1) is GUARANTEED to
 * be present in the final summary, and each reported count is a lower
 * bound within n / (capacity + 1) of the true count. The merge operation
 * (sum counts, then subtract the (capacity+1)-th largest combined count
 * and drop non-positive counters) preserves exactly this error bound, so
 * the sketch is safe under Spark's partial aggregation: each input
 * partition reduces to one <= capacity-entry map BEFORE the shuffle, the
 * exchange carries numPartitions x capacity tiny entries total, and the
 * final merge is associative. Compare the exact alternative — groupBy
 * over every distinct token of a 100 TB corpus — whose shuffle is the
 * size of the vocabulary, not the sketch.
 *
 * This sketch is the candidate-generation half of exact heavy hitters:
 * see [[graft.ext.HeavyHitters]] for the two-pass operator that turns
 * the guaranteed superset into exact counts.
 */
case class MisraGriesSketch(
    item: Expression,
    capacityExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.HashMap[String, Long]] {

  private lazy val capacity: Int =
    capacityExpr.eval().asInstanceOf[Number].intValue()

  override def children: Seq[Expression] = Seq(item, capacityExpr)

  override def checkInputDataTypes(): TypeCheckResult = {
    if (item.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"misra_gries: item must be string, got ${item.dataType.simpleString}")
    else if (!capacityExpr.foldable || capacityExpr.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure("misra_gries: capacity must be an int literal")
    else if (capacityExpr.eval() == null ||
             capacityExpr.eval().asInstanceOf[Number].intValue() < 1)
      TypeCheckResult.TypeCheckFailure("misra_gries: capacity must be >= 1")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("lb", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false

  override def createAggregationBuffer(): java.util.HashMap[String, Long] =
    new java.util.HashMap[String, Long](capacity * 2)

  override def update(buf: java.util.HashMap[String, Long],
                      input: InternalRow): java.util.HashMap[String, Long] = {
    val v = item.eval(input)
    if (v == null) return buf // nulls carry no frequency information
    val key = v.asInstanceOf[UTF8String].toString
    val cur = buf.get(key)
    if (cur != 0L || buf.containsKey(key)) buf.put(key, cur + 1L)
    else if (buf.size < capacity) buf.put(key, 1L)
    else {
      // classic MG step: no free counter — decrement ALL, evict zeros.
      // O(capacity) but amortized O(1) per stream item (each decrement
      // pays back an earlier increment).
      val it = buf.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue == 1L) it.remove() else e.setValue(e.getValue - 1L)
      }
    }
    buf
  }

  override def merge(buf: java.util.HashMap[String, Long],
                     other: java.util.HashMap[String, Long]): java.util.HashMap[String, Long] = {
    val it = other.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cur = buf.get(e.getKey)
      buf.put(e.getKey, cur + e.getValue)
    }
    if (buf.size > capacity) {
      // mergeable-summaries reduction: subtract the (capacity+1)-th
      // largest count from every counter, drop non-positives → <= capacity
      // survivors, error bound still n / (capacity + 1).
      val counts = new Array[Long](buf.size)
      var i = 0
      val vit = buf.values().iterator()
      while (vit.hasNext) { counts(i) = vit.next(); i += 1 }
      java.util.Arrays.sort(counts)
      val sub = counts(counts.length - capacity - 1) // (capacity+1)-th largest
      val eit = buf.entrySet().iterator()
      while (eit.hasNext) {
        val e = eit.next()
        if (e.getValue <= sub) eit.remove() else e.setValue(e.getValue - sub)
      }
    }
    buf
  }

  override def eval(buf: java.util.HashMap[String, Long]): Any = {
    import scala.jdk.CollectionConverters._
    val entries = buf.entrySet().asScala.toArray
      .sortBy(e => (-e.getValue, e.getKey)) // count desc, item asc: stable
    new GenericArrayData(entries.map(e =>
      InternalRow(UTF8String.fromString(e.getKey), e.getValue): Any))
  }

  override def serialize(buf: java.util.HashMap[String, Long]): Array[Byte] = {
    import scala.jdk.CollectionConverters._
    val items = buf.entrySet().asScala.toArray
    val bytes = items.map(e => e.getKey.getBytes(StandardCharsets.UTF_8))
    val size = 4 + items.indices.map(i => 4 + bytes(i).length + 8).sum
    val bb = ByteBuffer.allocate(size)
    bb.putInt(items.length)
    items.indices.foreach { i =>
      bb.putInt(bytes(i).length); bb.put(bytes(i)); bb.putLong(items(i).getValue)
    }
    bb.array()
  }

  override def deserialize(b: Array[Byte]): java.util.HashMap[String, Long] = {
    val bb = ByteBuffer.wrap(b)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    (0 until n).foreach { _ =>
      val len = bb.getInt
      val arr = new Array[Byte](len)
      bb.get(arr)
      buf.put(new String(arr, StandardCharsets.UTF_8), bb.getLong)
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): MisraGriesSketch =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MisraGriesSketch =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): MisraGriesSketch =
    copy(item = c(0), capacityExpr = c(1))
  override def prettyName: String = "misra_gries"
}

object MisraGriesSketch {
  /** Aggregate Column: array of (item, lb) structs, count-descending.
    * `lb` is a LOWER BOUND on the item's true count, within
    * n/(capacity+1) of exact. */
  def sketch(item: Column, capacity: Int): Column =
    column(MisraGriesSketch(expression(item), Literal(capacity)))
}
