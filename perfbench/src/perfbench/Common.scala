package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** What one workload does. The main loop calls `setup` several times,
  * then `prepare(i)` (untimed) and `op(i)` (timed) for each operation, and
  * `check` after the timed phase. */
trait Workload {
  /** Generates the seeded inputs, persists them and builds whatever the
    * operations read. A later call replaces what an earlier call built. */
  def setup(): Unit
  /** Returns mutable state (tables written by operations) to how `setup`
    * left it, and forgets the outputs recorded for `check`. */
  def reset(): Unit
  /** Operations run untimed in set-up before the timed phase: enough
    * that operation times have stopped falling. */
  def warmupOps: Int
  /** Untimed preparation of operation `i` (e.g. choosing its query batch). */
  def prepare(i: Int): Unit = ()
  /** The frame the operation's chain starts from. */
  def input: DataFrame
  /** The chain: one call into a library layer per step, in order. */
  def steps: Seq[(String, DataFrame => DataFrame)]
  /** Unpersists whatever the steps persisted. */
  def release(): Unit = ()
  /** One operation; spans go through `tr`. Returns the input units it
    * completed (leaf rows, documents or queries). */
  def op(i: Int, tr: Tracer): Long
  /** Checks every operation since the last `reset`; returns the number of
    * operations whose output was wrong. */
  def check(): Int
  /** Per-layer ratios measured outside the operations (trace runs only). */
  def layerRatios(): Map[String, Double] = Map.empty
  /** Ratios that also gate correctness, reported in every run. */
  def qualityRatios(): Map[String, Double] = Map.empty
  /** Deletes files the workload wrote. */
  def cleanup(): Unit
}

object Chain {
  /** Builds the first `upTo` steps of the chain, each inside its span. */
  def run(w: Workload, tr: Tracer, upTo: Int = Int.MaxValue): DataFrame =
    w.steps.take(upTo).foldLeft(w.input) { case (df, (layer, f)) => tr.span(layer)(f(df)) }
}

object Common {
  /** A column by its literal (possibly dotted) name. */
  def c(name: String): Column = col("`" + name.replace("`", "``") + "`")

  /** Materializes a frame through Spark's no-op sink. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Order-independent multiset digest of a frame over the given columns:
    * (row count, sum of the low 32 bits of xxhash64, sum of murmur3 as
    * unsigned 31 bits). Equal multisets give equal digests. */
  def digest(df: DataFrame, cols: Seq[String]): (Long, Long, Long) = {
    val cs = cols.sorted.map(c)
    val r = df.select(
        xxhash64(cs: _*).bitwiseAND(lit(0xffffffffL)).alias("h1"),
        hash(cs: _*).cast(LongType).bitwiseAND(lit(0x7fffffffL)).alias("h2"))
      .agg(count(lit(1)), coalesce(sum(col("h1")), lit(0L)),
        coalesce(sum(col("h2")), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Casts `expected` column by column to the types `actual` has, so that
    * digests of the two compare values, not representations. */
  def alignTypes(expected: DataFrame, actual: DataFrame): DataFrame =
    expected.select(actual.schema.fields.toIndexedSeq.map(f =>
      c(f.name).cast(f.dataType).alias(f.name)): _*)

  def deleteRecursively(f: File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete()
    ()
  }

  /** Parquet part files under a directory, in name order. */
  def partFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
}

/** SQL metrics read from an executed physical plan. */
object PlanMetrics extends AdaptiveSparkPlanHelper {
  /** Rows emitted by the equi-joins on `key`, summed over the final plan
    * (through adaptive query stages). */
  def joinOutputRows(plan: SparkPlan, key: String): Long =
    collect(plan) {
      case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(_.name == key)) =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
}
