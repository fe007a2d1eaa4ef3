package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graftshim.ColumnShim.{column, expression}
import org.apache.spark.sql.types._

/**
 * Fused robust-outlier statistics: exact median, exact MAD (median
 * absolute deviation), row count, and the count of rows beyond
 * `k · 1.4826 · MAD` of the median — in ONE buffered aggregation pass.
 *
 * The chained formulation ([[graft.ext.Profile.madOutliers]]'s previous
 * body) needed THREE corpus passes because each exact order statistic
 * depends on the previous one: median → MAD(|v − median|) → outlier
 * count. One buffer of the group's values supports all three statistics
 * at eval time: 3 scans + 3 buffered shuffles → 1 scan + 1 buffered
 * shuffle.
 *
 * BUFFER MEMORY (round 16): the buffer is COUNT-COMPRESSED — a sorted
 * (value, count) run, matching Spark's own exact `percentile` (whose
 * buffer is a value → count map), so per-group memory and partial-buffer
 * shuffle bytes grow with the group's DISTINCT-value count, not its row
 * count. Raw appends land in a tail that merges into the sorted run when
 * full; the tail's cap adapts from [[MadStats.TailCap]] up to the
 * compressed size (geometric compress points), so per-row cost is O(1)
 * amortized copies + O(log) sort work on every data shape and resident
 * memory stays O(distinct + TailCap). On truly unbounded
 * DISTINCT counts per group the exact formulation is inherently
 * buffered (same envelope as Spark's `percentile`); the documented
 * guard [[MadStats.MaxExactDistinctPerGroup]] fails such a group loudly
 * with a pointer to the approx escape hatch instead of overflowing
 * (guide §5: state a bound), and `serialize` sizes its output in Long
 * arithmetic so an over-large partial fails with that message, never an
 * Int-wrap `IllegalArgumentException`.
 *
 * Value identity with the chained form is BIT-EXACT by construction:
 * `percentileCompressed` reproduces `Percentile.getPercentile`'s
 * cumulative-count lookup and interpolation formula term-for-term
 * (`(higher − pos) · lowerKey + (pos − lower) · higherKey`, with the
 * equal-key and integral-position short-circuits — count-compression
 * cannot change WHICH keys the positions select, only how they are
 * found), deviations are the same `math.abs(v − med)` double arithmetic,
 * and the outlier threshold multiplies in the same order
 * (`(k · 1.4826) · mad`). Deviations need NO sort: over the sorted value
 * run, |v − med| is non-increasing up to the median and non-decreasing
 * after it, so the sorted deviation run is a two-run merge. Gated ≡ the
 * three-pass DataFrame form in ProfileSpec (odd/even counts, duplicate
 * values, constant and two-value groups, planted outliers).
 *
 * Null values must be filtered by the caller (matching the previous
 * `filter(v.isNotNull)` shape); value ordering/equality is
 * `java.lang.Double.compare`'s total order — the SAME total order
 * `java.util.Arrays.sort(double[])` used on the previous raw buffer
 * (NaN greatest and self-equal, −0.0 < 0.0), so compression groups
 * exactly the values adjacent sorting made adjacent. NaN never counts
 * as an outlier (`NaN > t` is false), identical to the chained form.
 *
 * Output: struct(med double, mad double, n long, n_outliers long);
 * an empty group evals to null (groupBy never produces one — an empty
 * input produces no group — but partial frames can).
 */
case class MadStats(
    value: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MadStats.Buf] {

  private lazy val kTimesC: Double =
    kExpr.eval().asInstanceOf[Number].doubleValue() * 1.4826

  override def children: Seq[Expression] = Seq(value, kExpr)

  override def checkInputDataTypes(): TypeCheckResult = {
    if (value.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"mad_stats: value must be double, got ${value.dataType.simpleString}")
    else if (!kExpr.foldable || kExpr.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure("mad_stats: k must be a double literal")
    else if (kExpr.eval() == null ||
      kExpr.eval().asInstanceOf[Number].doubleValue() < 0.0)
      TypeCheckResult.TypeCheckFailure("mad_stats: k must be >= 0")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = StructType(Seq(
    StructField("med", DoubleType, nullable = true),
    StructField("mad", DoubleType, nullable = true),
    StructField("n", LongType, nullable = true),
    StructField("n_outliers", LongType, nullable = true)))

  override def nullable: Boolean = true

  override def createAggregationBuffer(): MadStats.Buf = new MadStats.Buf()

  override def update(buf: MadStats.Buf, input: InternalRow): MadStats.Buf = {
    val v = value.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Double])
    buf
  }

  override def merge(buf: MadStats.Buf, other: MadStats.Buf): MadStats.Buf = {
    buf.addAll(other); buf
  }

  override def eval(buf: MadStats.Buf): Any = {
    buf.compress()
    val total = buf.total
    if (total == 0L) return null
    val vals = buf.vals
    val cnts = buf.cnts
    val m = buf.m
    val med = MadStats.percentileCompressed(vals, cnts, m, total, 0.5)
    // sorted deviations by TWO-RUN MERGE (no sort): |v − med| decreases
    // over vals(i) < med and increases over vals(i) >= med. Values are
    // ascending, so walk the left run backwards and the right run
    // forwards. NaN values sit at the tail of vals (Double.compare
    // order) and produce NaN deviations, which the merge puts last —
    // exactly where Arrays.sort put them in the raw formulation. A NaN
    // median makes every deviation NaN; any merge order of equal keys is
    // the same run.
    val devs = new Array[Double](m)
    val devCnts = new Array[Long](m)
    // split: first index whose value is >= med in Double.compare order
    var lo = 0
    var hi = m
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (java.lang.Double.compare(vals(mid), med) < 0) lo = mid + 1 else hi = mid
    }
    var left = lo - 1 // walks down: deviations increase as value decreases
    var right = lo // walks up: deviations increase as value increases
    var o = 0
    while (o < m) {
      val takeLeft = left >= 0 && (right >= m ||
        java.lang.Double.compare(math.abs(vals(left) - med),
          math.abs(vals(right) - med)) <= 0)
      if (takeLeft) {
        devs(o) = math.abs(vals(left) - med); devCnts(o) = cnts(left); left -= 1
      } else {
        devs(o) = math.abs(vals(right) - med); devCnts(o) = cnts(right); right += 1
      }
      o += 1
    }
    val mad = MadStats.percentileCompressed(devs, devCnts, m, total, 0.5)
    val threshold = kTimesC * mad
    var outliers = 0L
    var i = 0
    while (i < m) { if (devs(i) > threshold) outliers += devCnts(i); i += 1 }
    InternalRow(med, mad, total, outliers)
  }

  override def serialize(buf: MadStats.Buf): Array[Byte] = {
    buf.compress()
    // all-ones counts (continuous metrics — the common profiling shape)
    // serialize as values only behind a flag byte: halves partial shuffle
    // bytes exactly where count-compression can't help (guide §2.3)
    var allOnes = true
    var i = 0
    while (allOnes && i < buf.m) { allOnes = buf.cnts(i) == 1L; i += 1 }
    // Long arithmetic + explicit guard: an over-large partial fails with
    // the actionable message, never an Int-wrapped negative allocation
    val size = 5L + (if (allOnes) 8L else 16L) * buf.m
    if (size > Int.MaxValue - 8L)
      throw new IllegalStateException(
        s"mad_stats: partial buffer holds ${buf.m} distinct values — too " +
          "large to serialize; this group exceeds the exact formulation's " +
          "envelope, use the approx-percentile path instead")
    val bb = ByteBuffer.allocate(size.toInt)
    bb.putInt(buf.m)
    bb.put(if (allOnes) 1.toByte else 0.toByte)
    i = 0
    if (allOnes) while (i < buf.m) { bb.putDouble(buf.vals(i)); i += 1 }
    else while (i < buf.m) { bb.putDouble(buf.vals(i)); bb.putLong(buf.cnts(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): MadStats.Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val m = bb.getInt
    val allOnes = bb.get() == 1.toByte
    val buf = new MadStats.Buf()
    val vals = new Array[Double](m)
    val cnts = new Array[Long](m)
    var i = 0
    var total = 0L
    if (allOnes) {
      while (i < m) { vals(i) = bb.getDouble; cnts(i) = 1L; i += 1 }
      total = m.toLong
    } else {
      while (i < m) { vals(i) = bb.getDouble; cnts(i) = bb.getLong; total += cnts(i); i += 1 }
    }
    buf.setCompressed(vals, cnts, m, total)
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): MadStats =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MadStats =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): MadStats =
    copy(value = c(0), kExpr = c(1))
  override def prettyName: String = "mad_stats"
}

object MadStats {

  /** Raw-append tail size at which the tail merges into the sorted
    * compressed run (32 KB of doubles — large enough to amortize the
    * merge, small enough to bound the uncompressed resident slack).
    * ADAPTIVE: the tail is allowed to grow past this floor up to the
    * current compressed size `m`, so compress points are GEOMETRIC in
    * the distinct count — on distinct-heavy data (583k distinct prices
    * in q_mad_outliers's 600k rows) a fixed cap re-merged the whole
    * O(m) run every 4096 rows (measured +0.2 s on a serial scan task),
    * while the adaptive cap pays O(1) amortized copies per row. Resident
    * memory stays O(distinct): tail ≤ max(TailCap, 2·m). */
  val TailCap = 4096

  /** Documented per-group DISTINCT-value bound for the exact
    * formulation (guide §5: state the envelope). At the default
    * (2²⁶ ≈ 67M distinct values ≈ 1 GiB of (value, count) buffer per
    * group) the group has outgrown exact order statistics on an
    * executor; [[Buf.compress]] fails it loudly with a pointer to the
    * approx escape hatch (the winsorize-style message) instead of
    * OOM-ing the executor. `private[graft] var` so specs can exercise
    * the guard without building a 67M-distinct group. */
  private[graft] var MaxExactDistinctPerGroup: Int = 1 << 26

  /** Count-compressed value buffer: a sorted (value, count) run under
    * `java.lang.Double.compare`'s total order, plus a bounded raw-append
    * tail. Unboxed throughout (a Map[Double, Long] would box every key). */
  final class Buf {
    // compressed region: vals(0 until m) strictly increasing under
    // Double.compare, cnts(i) > 0; total = Σ cnts + tail size
    var vals: Array[Double] = Array.emptyDoubleArray
    var cnts: Array[Long] = Array.emptyLongArray
    var m: Int = 0
    var total: Long = 0L
    private var tail: Array[Double] = new Array[Double](8)
    private var tn: Int = 0

    def add(v: Double): Unit = {
      if (tn == tail.length) {
        // adaptive cap (see TailCap): grow while under max(TailCap, m)
        if (tail.length < math.max(TailCap, m))
          tail = java.util.Arrays.copyOf(tail, tail.length * 2)
        else compress()
      }
      tail(tn) = v; tn += 1; total += 1L
    }

    def addAll(o: Buf): Unit = {
      o.compress()
      if (o.m == 0) return
      compress()
      val nv = new Array[Double](m + o.m)
      val nc = new Array[Long](m + o.m)
      var i = 0
      var j = 0
      var k = 0
      while (i < m && j < o.m) {
        val c = java.lang.Double.compare(vals(i), o.vals(j))
        if (c < 0) { nv(k) = vals(i); nc(k) = cnts(i); i += 1 }
        else if (c > 0) { nv(k) = o.vals(j); nc(k) = o.cnts(j); j += 1 }
        else { nv(k) = vals(i); nc(k) = cnts(i) + o.cnts(j); i += 1; j += 1 }
        k += 1
      }
      while (i < m) { nv(k) = vals(i); nc(k) = cnts(i); i += 1; k += 1 }
      while (j < o.m) { nv(k) = o.vals(j); nc(k) = o.cnts(j); j += 1; k += 1 }
      setCompressed(nv, nc, k, total + o.total)
      guard()
    }

    /** Fold the raw tail into the sorted run. Idempotent; called before
      * every serialize/merge/eval. */
    def compress(): Unit = {
      if (tn == 0) return
      // Arrays.sort(double[]) orders by the same total order
      // Double.compare defines (NaN last and self-equal, -0.0 < 0.0),
      // so run-merge equality below groups exactly what it groups
      java.util.Arrays.sort(tail, 0, tn)
      val nv = new Array[Double](m + tn)
      val nc = new Array[Long](m + tn)
      var i = 0 // compressed run
      var j = 0 // sorted tail
      var k = 0
      while (i < m && j < tn) {
        val c = java.lang.Double.compare(vals(i), tail(j))
        if (c < 0) { nv(k) = vals(i); nc(k) = cnts(i); i += 1; k += 1 }
        else if (c > 0) {
          nv(k) = tail(j); nc(k) = 1L; j += 1; k += 1
          while (j < tn && java.lang.Double.compare(nv(k - 1), tail(j)) == 0) {
            nc(k - 1) += 1L; j += 1
          }
        } else {
          nv(k) = vals(i); nc(k) = cnts(i); i += 1; k += 1
          while (j < tn && java.lang.Double.compare(nv(k - 1), tail(j)) == 0) {
            nc(k - 1) += 1L; j += 1
          }
        }
      }
      while (i < m) { nv(k) = vals(i); nc(k) = cnts(i); i += 1; k += 1 }
      while (j < tn) {
        nv(k) = tail(j); nc(k) = 1L; j += 1; k += 1
        while (j < tn && java.lang.Double.compare(nv(k - 1), tail(j)) == 0) {
          nc(k - 1) += 1L; j += 1
        }
      }
      vals = nv; cnts = nc; m = k; tn = 0
      guard()
    }

    private[functions] def setCompressed(nv: Array[Double], nc: Array[Long],
                                         nm: Int, nTotal: Long): Unit = {
      vals = nv; cnts = nc; m = nm; total = nTotal; tn = 0
    }

    private def guard(): Unit =
      if (m > MaxExactDistinctPerGroup)
        throw new IllegalStateException(
          s"mad_stats: group exceeds $MaxExactDistinctPerGroup distinct " +
            "values — beyond the exact formulation's documented per-group " +
            "envelope. Use the approx-percentile formulation for unbounded " +
            "groups (see Profile.winsorize's exact=false escape hatch).")
  }

  /** Spark `Percentile.getPercentile` over a count-compressed SORTED run,
    * formula reproduced term-for-term: position = p · (N − 1); the lower/
    * higher keys are the values whose 1-based cumulative-count ranges
    * cover floor(position)+1 / ceil(position)+1 (identical to indexing a
    * raw sorted array at floor/ceil); integral position or equal boundary
    * keys return the lower key without interpolation; otherwise
    * `(higher − pos) · lowerKey + (pos − lower) · higherKey`. */
  def percentileCompressed(vals: Array[Double], cnts: Array[Long], m: Int,
                           total: Long, p: Double): Double = {
    val pos = (total - 1) * p
    val lower = math.floor(pos).toLong
    val higher = math.ceil(pos).toLong
    // one cumulative walk finds both (higher <= lower + 1)
    var i = 0
    var cum = 0L
    while (cum + cnts(i) < lower + 1) { cum += cnts(i); i += 1 }
    val lowerKey = vals(i)
    if (lower == higher) return lowerKey
    if (cum + cnts(i) < higher + 1) i += 1
    val higherKey = vals(i)
    if (higherKey == lowerKey) return lowerKey
    (higher - pos) * lowerKey + (pos - lower) * higherKey
  }

  /** Spark `Percentile.getPercentile` over a SORTED array with unit
    * frequencies (kept for spec cross-checks), formula reproduced
    * term-for-term: position = p · (N − 1); integral position or equal
    * boundary keys return the lower key without interpolation; otherwise
    * `(higher − pos) · lowerKey + (pos − lower) · higherKey`. */
  def percentileSorted(sorted: Array[Double], p: Double): Double = {
    val pos = (sorted.length - 1) * p
    val lower = math.floor(pos).toLong
    val higher = math.ceil(pos).toLong
    val lowerKey = sorted(lower.toInt)
    if (lower == higher) return lowerKey
    val higherKey = sorted(higher.toInt)
    if (higherKey == lowerKey) return lowerKey
    (higher - pos) * lowerKey + (pos - lower) * higherKey
  }

  /** Aggregate Column: struct(med, mad, n, n_outliers) per group. */
  def madStats(value: Column, k: Double): Column =
    column(MadStats(expression(value), Literal(k)))
}
