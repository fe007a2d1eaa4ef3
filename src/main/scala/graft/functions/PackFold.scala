package graft.functions

import java.nio.ByteBuffer
import java.util.Comparator

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Expression,
  GenericInternalRow, InterpretedOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnShim.{column, expression, normalizedKey}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/**
 * Folds the flat rows of one group into the nested child lists of every
 * hierarchy level below it, in one aggregate.
 *
 * A hierarchical pack groups by the target level's ancestor keys; each
 * group is one parent entity, and its value is the list of that parent's
 * children, each child holding the list of its own children and so on
 * down to the finest folded level. The per-level alternative (one
 * `collect_list` → `sort_array` → `transform` aggregation per level) builds,
 * serializes and re-sorts every level's buffers again at the next level up;
 * this aggregate keeps one `UnsafeRow` copy of each input row and builds
 * every level from those rows once, at `eval`.
 *
 * As a TypedImperativeAggregate it runs map-side partial aggregation: a hot
 * parent's rows are buffered across all input tasks before the exchange,
 * and the final task only concatenates the partial buffers. `serialize`
 * writes the rows as length-prefixed bytes, and `deserialize` points rows
 * into those bytes without copying them.
 *
 * `eval` sorts the group's rows by the keys of every level between the
 * group and the finest level, so each entity is a run of equal keys inside
 * its parent's run. Within a level, an entity's
 *  - fields take the first non-null value of their column over the
 *    entity's rows (the row with the smallest row id first, when the rows
 *    carry one); a key is the same on every row of its entity;
 *  - row id is the smallest row id among its rows;
 *  - position in its parent's list follows the level's order values, then
 *    the row id, ascending with nulls first. Only these keys are compared,
 *    so the payload need not be orderable.
 *
 * At the finest level each row is one entity and its order values are
 * evaluated on the input row (they are children of this aggregate). At a
 * coarser level they are evaluated on the entity's folded row: the columns
 * the level folds from, as a per-level pack would have produced them.
 * Ancestor-key values are normalized (−0.0 → 0.0, one NaN) the way
 * `groupBy` normalizes its keys, so null keys and float keys group exactly
 * as a per-level pack's `groupBy`s would.
 *
 * With audit columns in the layout the fold also reports, per group, the
 * first column that is not uniform within an entity of the level that
 * audits it (at most one distinct non-null value): the evidence of a
 * pack's uniformity check. The result is `struct<list, audit>`; `audit` is
 * the smallest violating (level, column) pair index, null when there is
 * none. Uniformity within the whole group is the caller's to check.
 */
case class PackFold(
    children: Seq[Expression],
    layout: PackFold.Layout,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArrayBuffer[UnsafeRow]] {

  import PackFold._

  override def dataType: DataType = StructType(Seq(
    StructField("list", ArrayType(layout.levels.head.structType, containsNull = false),
      nullable = false),
    StructField("audit", IntegerType)))

  override def nullable: Boolean = false

  @transient private lazy val types: Array[DataType] = children.map(_.dataType).toArray

  // the aggregate's children are bound to its input when update runs
  @transient private lazy val project: UnsafeProjection = UnsafeProjection.create(
    children.zipWithIndex.map { case (c, i) =>
      if (layout.normalize.contains(i)) normalizedKey(c) else c })

  private def ordering(ordinals: Seq[Int]): InterpretedOrdering =
    new InterpretedOrdering(ordinals.map(o =>
      SortOrder(BoundReference(o, types(o), nullable = true), Ascending)))

  /** Orders rows so that every level's entities are runs inside their
    * parent's run: by the keys of each level, coarsest first. */
  @transient private lazy val groupOrdering: Option[InterpretedOrdering] = {
    val keys = layout.levels.flatMap(_.keys)
    if (keys.isEmpty) None else Some(ordering(keys))
  }
  @transient private lazy val levels: Array[LevelPlan] = layout.levels.map { l =>
    val keyTypes = l.orderOrdinals.map(types(_)) ++ l.orderBy.map(_.dataType)
    val sortTypes = keyTypes ++ (if (layout.rowId >= 0) Seq(LongType) else Nil)
    val byKey = InterpretedOrdering.forSchema(sortTypes)
    new LevelPlan(l.fields.toArray, ordering(l.keys), l.orderOrdinals.toArray, l.orderBy.toArray,
      l.frame.toArray, sortTypes.size,
      if (sortTypes.isEmpty) null
      else new Comparator[Entity] {
        override def compare(a: Entity, b: Entity): Int = byKey.compare(a.sortKey, b.sortKey)
      },
      l.audit.map { case (o, pair) => (o, pair, ordering(Seq(o))) }.toArray)
  }.toArray

  override def createAggregationBuffer(): ArrayBuffer[UnsafeRow] = new ArrayBuffer[UnsafeRow]()

  override def update(buf: ArrayBuffer[UnsafeRow], input: InternalRow): ArrayBuffer[UnsafeRow] = {
    buf += project(input).copy()
    buf
  }

  override def merge(buf: ArrayBuffer[UnsafeRow],
                     other: ArrayBuffer[UnsafeRow]): ArrayBuffer[UnsafeRow] = {
    buf ++= other
    buf
  }

  override def eval(buf: ArrayBuffer[UnsafeRow]): Any = {
    val rows = buf.toArray
    groupOrdering.foreach(o => java.util.Arrays.sort(rows, o: Comparator[InternalRow]))
    val fold = new Fold(rows)
    val list = fold.list(0, 0, rows.length)
    InternalRow(list, if (fold.violation == Int.MaxValue) null else fold.violation)
  }

  /** The folding of one group's sorted rows. */
  private final class Fold(rows: Array[UnsafeRow]) {
    var violation: Int = Int.MaxValue
    private val withRowId = layout.rowId >= 0

    private def rowIdOf(i: Int): Long = rows(i).getLong(layout.rowId)

    /** The first non-null value of `ordinal` over rows [from, until). */
    private def firstOf(ordinal: Int, from: Int, until: Int): Any = {
      var best = -1
      var i = from
      while (i < until) {
        if (!rows(i).isNullAt(ordinal) && (best < 0 || (withRowId && rowIdOf(i) < rowIdOf(best)))) {
          best = i
          if (!withRowId) i = until
        }
        i += 1
      }
      if (best < 0) null else rows(best).get(ordinal, types(ordinal))
    }

    /** Records the smallest violating pair among `columns` (ascending pair
      * indices) over rows [from, until): a column with two distinct
      * non-null values. */
    def audit(columns: Array[(Int, Int, InterpretedOrdering)], from: Int, until: Int): Unit = {
      var k = 0
      while (k < columns.length && columns(k)._2 < violation) {
        val (o, pair, ord) = columns(k)
        var first = -1
        var i = from
        while (i < until) {
          if (!rows(i).isNullAt(o)) {
            if (first < 0) first = i
            else if (ord.compare(rows(first), rows(i)) != 0) {
              violation = pair
              i = until
            }
          }
          i += 1
        }
        k += 1
      }
    }

    /** The sorted child list of level `l` over rows [from, until). */
    def list(l: Int, from: Int, until: Int): ArrayData = {
      val level = levels(l)
      val finest = l == levels.length - 1
      val entities = new ArrayBuffer[Entity](if (finest) until - from else 16)
      var start = from
      while (start < until) {
        var end = start + 1
        if (!finest) while (end < until && level.keys.compare(rows(start), rows(end)) == 0)
          end += 1
        val kids = if (finest) null else list(l + 1, start, end)
        var rowId = 0L
        if (withRowId) {
          rowId = rowIdOf(start)
          var i = start + 1
          while (i < end) { rowId = math.min(rowId, rowIdOf(i)); i += 1 }
        }
        def values(sources: Array[Source]): Array[Any] = {
          val out = new Array[Any](sources.length)
          var f = 0
          while (f < out.length) {
            out(f) = sources(f) match {
              case FirstOf(o) =>
                if (finest) rows(start).get(o, types(o)) else firstOf(o, start, end)
              case Children => kids
              case MinRowId => rowId
            }
            f += 1
          }
          out
        }
        var sortKey: InternalRow = null
        if (level.sortKeys > 0) {
          val k = new Array[Any](level.sortKeys)
          var i = 0
          while (i < level.orderOrdinals.length) {
            val o = level.orderOrdinals(i)
            k(i) = rows(start).get(o, types(o))
            i += 1
          }
          if (level.orderBy.nonEmpty) {
            val frame = new GenericInternalRow(values(level.frame))
            level.orderBy.foreach { e => k(i) = e.eval(frame); i += 1 }
          }
          if (withRowId) k(k.length - 1) = rowId
          sortKey = new GenericInternalRow(k)
        }
        if (!finest) audit(level.audit, start, end)
        entities += Entity(new GenericInternalRow(values(level.fields)), sortKey)
        start = end
      }
      val sorted = entities.toArray
      if (level.entityOrder != null) java.util.Arrays.sort(sorted, level.entityOrder)
      val out = new Array[Any](sorted.length)
      var i = 0
      while (i < out.length) { out(i) = sorted(i).value; i += 1 }
      new GenericArrayData(out)
    }
  }

  override def serialize(buf: ArrayBuffer[UnsafeRow]): Array[Byte] = {
    val size = buf.foldLeft(8L)((n, r) => n + 8 + r.getSizeInBytes)
    require(size <= Int.MaxValue - 16, s"pack_fold: a group's rows exceed 2 GB ($size bytes)")
    val bb = ByteBuffer.wrap(new Array[Byte](size.toInt))
    bb.putLong(buf.size.toLong)
    buf.foreach { r => bb.putLong(r.getSizeInBytes.toLong); r.writeTo(bb) }
    bb.array()
  }

  // lengths are 8-byte prefixes, so every row stays 8-byte aligned
  override def deserialize(bytes: Array[Byte]): ArrayBuffer[UnsafeRow] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getLong(0).toInt
    val buf = new ArrayBuffer[UnsafeRow](n)
    var pos = 8
    while (buf.size < n) {
      val len = bb.getLong(pos).toInt
      val r = new UnsafeRow(children.size)
      r.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + pos + 8, len)
      buf += r
      pos += 8 + len
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): PackFold = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): PackFold = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): PackFold =
    copy(children = c)
  override protected def stringArgs: Iterator[Any] = children.iterator
  override def prettyName: String = "pack_fold"
}

object PackFold {

  /** Where a value of a folded entity comes from. */
  sealed trait Source
  /** The first non-null value of buffered column `ordinal` over the
    * entity's rows. */
  final case class FirstOf(ordinal: Int) extends Source
  /** The entity's child list. */
  case object Children extends Source
  /** The entity's smallest row id. */
  case object MinRowId extends Source

  /** One folded level.
    *
    * @param structType    the level's struct, one field per `fields` entry
    * @param keys          ordinals of the level's keys; empty at the finest
    *                      level, where each row is one entity
    * @param orderOrdinals the finest level's order values, evaluated on
    *                      the input row
    * @param orderBy       a coarser level's order expressions, bound over
    *                      the row `frame` builds for each entity from the
    *                      values they read
    * @param audit         (ordinal, pair index) of the columns that must be
    *                      uniform within each entity, pair indices ascending
    */
  final case class Level(
      fields: Seq[Source],
      structType: StructType,
      keys: Seq[Int] = Nil,
      orderOrdinals: Seq[Int] = Nil,
      orderBy: Seq[Expression] = Nil,
      frame: Seq[Source] = Nil,
      audit: Seq[(Int, Int)] = Nil)

  /** Levels coarsest first; the group itself is the coarsest level's
    * parent. `rowId` is the row-id ordinal (-1 when rows carry none) and
    * `normalize` the ordinals of ancestor keys. */
  final case class Layout(levels: Seq[Level], rowId: Int, normalize: Set[Int])

  private final case class Entity(value: InternalRow, sortKey: InternalRow)

  /** A [[Level]] as `eval` walks it. */
  private final class LevelPlan(
      val fields: Array[Source],
      val keys: InterpretedOrdering,
      val orderOrdinals: Array[Int],
      val orderBy: Array[Expression],
      val frame: Array[Source],
      val sortKeys: Int,
      val entityOrder: Comparator[Entity],
      val audit: Array[(Int, Int, InterpretedOrdering)])

  /** Aggregate Column: `struct<list, audit>` for the group; `inputs` are
    * the buffered columns in ordinal order. */
  def fold(inputs: Seq[Column], layout: Layout): Column =
    column(PackFold(inputs.map(expression), layout))
}
