package graft.functions

import java.nio.ByteBuffer
import java.util.{Comparator, PriorityQueue}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.ColumnShim.{column, expression}
import org.apache.spark.sql.types._

/**
 * Bounded-heap top-k aggregate: keeps the k best (score, id) pairs per
 * group, ordered by (score DESC, id ASC).
 *
 * This is the scale-correct replacement for
 * `row_number().over(Window.partitionBy(groupKey).orderBy(...)) <= k`:
 * the window form funnels EVERY candidate row of a group into one task
 * and sorts them all (at 100 TB brute-force ANN that is |corpus| rows
 * into a single sort per query). As a TypedImperativeAggregate this
 * runs with map-side partial aggregation — each input partition reduces
 * its rows to one k-entry heap per group BEFORE the shuffle, so the
 * exchange carries only numPartitions x k tiny entries per group and
 * the final merge is a k-way heap union, never a full sort.
 *
 * Null scores are skipped (the window form ranks them after all
 * non-null scores, so results are identical whenever a group has >= k
 * non-null candidates — ANN corpora always do).
 */
case class TopKByScore(
    score: Expression,
    id: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PriorityQueue[TopKByScore.Entry]] {

  import TopKByScore.Entry

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()

  override def children: Seq[Expression] = Seq(score, id, kExpr)

  override def checkInputDataTypes(): TypeCheckResult = {
    if (score.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"top_k_by_score: score must be double, got ${score.dataType.simpleString}")
    else if (id.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"top_k_by_score: id must be bigint, got ${id.dataType.simpleString}")
    else if (!kExpr.foldable || kExpr.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure("top_k_by_score: k must be an int literal")
    else if (kExpr.eval() == null || kExpr.eval().asInstanceOf[Number].intValue() < 1)
      TypeCheckResult.TypeCheckFailure("top_k_by_score: k must be >= 1")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false

  // head of the queue = WORST retained entry (lowest score, then largest id)
  override def createAggregationBuffer(): PriorityQueue[Entry] =
    new PriorityQueue[Entry](math.max(k, 1), TopKByScore.worstFirst)

  private def insert(buf: PriorityQueue[Entry], e: Entry): Unit = {
    if (buf.size < k) buf.add(e)
    else if (TopKByScore.worstFirst.compare(e, buf.peek()) > 0) {
      buf.poll(); buf.add(e)
    }
  }

  override def update(buf: PriorityQueue[Entry], input: InternalRow): PriorityQueue[Entry] = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      insert(buf, Entry(s.asInstanceOf[Double], i.asInstanceOf[Long]))
    buf
  }

  override def merge(buf: PriorityQueue[Entry], other: PriorityQueue[Entry]): PriorityQueue[Entry] = {
    val it = other.iterator()
    while (it.hasNext) insert(buf, it.next())
    buf
  }

  override def eval(buf: PriorityQueue[Entry]): Any = {
    val arr = new Array[Entry](buf.size)
    var i = arr.length - 1
    // drain worst-first → array ends up best-first
    while (i >= 0) { arr(i) = buf.poll(); i -= 1 }
    arr.foreach(buf.add) // restore: eval must not destroy the buffer
    new GenericArrayData(arr.map(e => InternalRow(e.id, e.score)): Array[Any])
  }

  override def serialize(buf: PriorityQueue[Entry]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) { val e = it.next(); bb.putDouble(e.score); bb.putLong(e.id) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): PriorityQueue[Entry] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    (0 until n).foreach(_ => buf.add(Entry(bb.getDouble, bb.getLong)))
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKByScore =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKByScore =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TopKByScore =
    copy(score = c(0), id = c(1), kExpr = c(2))
  override def prettyName: String = "top_k_by_score"
}

object TopKByScore {
  final case class Entry(score: Double, id: Long)

  /** "Better" = higher score, ties broken by SMALLER id. Comparator sorts
    * worst-first so a PriorityQueue head is the eviction candidate. */
  val worstFirst: Comparator[Entry] = new Comparator[Entry] {
    override def compare(a: Entry, b: Entry): Int = {
      val c = java.lang.Double.compare(a.score, b.score)
      if (c != 0) c else java.lang.Long.compare(b.id, a.id)
    }
  }

  /** Aggregate Column: array of the k best (id, score) structs, best first. */
  def topK(score: Column, id: Column, k: Int): Column =
    column(TopKByScore(expression(score), expression(id), Literal(k)))
}
