package graft.ext

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.StatsResetShim

/** Owner of the localCheckpoint blocks the iterative operators pin — the
  * only place in the library that calls `localCheckpoint`.
  *
  * One lifetime rule for every operator: a pin that the RETURNED frame
  * reads is handed to it ([[Scope.keep]]) and freed by the
  * ContextCleaner once that frame is unreachable; every other pin is
  * released before the call returns, on success and on failure alike.
  * A superseded loop generation is released ([[Scope.release]]) only
  * after its successor has fully materialized (a full-scan action, not
  * a limit probe): a truncated-lineage predecessor cannot be recomputed. */
private[graft] object Checkpoints {

  /** A pinned frame and the RDDs its checkpoint registered
    * (Dataset.unpersist() targets the CacheManager, not checkpoint
    * blocks, so the owner tracks the RDDs). */
  final case class Pin(df: DataFrame, rdds: Seq[RDD[_]]) {
    /** The same blocks under a derived frame (e.g. a projection). */
    def map(f: DataFrame => DataFrame): Pin = copy(df = f(df))

    /** Materialize a lazy pin and return its row count: the
      * materializing RDD.count() IS the row count, so a caller needing
      * both pays one job. If the checkpoint registered other than one
      * RDD, every RDD is scanned and the result only tells empty (0)
      * from non-empty (1). */
    def materialize(): Long = rdds match {
      case Seq(only) => only.count()
      case many => many.foreach(_.count()); if (df.isEmpty) 0L else 1L
    }
  }

  /** The pins of one operator call. Driver-thread only: [[pin]]
    * attributes RDDs by diffing the persisted-RDD registry, which is not
    * safe under concurrent checkpoints; other threads may only
    * materialize pins. */
  final class Scope private[Checkpoints] (sc: SparkContext) {
    private val live = mutable.LinkedHashSet.empty[RDD[_]]
    private val kept = mutable.HashSet.empty[RDD[_]]

    /** `localCheckpoint(eager)` plus the stats reset. `eager = false`
      * defers materialization to the next action over the frame, so it
      * can share that action's job. The reset ([[StatsResetShim]])
      * drops the carried pre-checkpoint estimates, which in a join loop
      * compound across rounds until estimation hangs the driver.
      * `carryStats` skips the reset, for a pin outside any loop whose
      * joins need the estimates to broadcast statically (triangleStats:
      * without them its joins plan as sort-merge and AQE converts them
      * only after shuffling both sides). */
    def pin(df: DataFrame, eager: Boolean = true, carryStats: Boolean = false): Pin = {
      val before = sc.getPersistentRDDs.keySet
      def registered() = sc.getPersistentRDDs
        .collect { case (k, r) if !before.contains(k) => r }.toSeq
      // a failed eager materialization has already registered its RDD
      val out = try df.localCheckpoint(eager)
        catch { case t: Throwable => live ++= registered(); throw t }
      val rdds = registered()
      live ++= rdds
      Pin(if (carryStats) out else StatsResetShim.resetStats(out), rdds)
    }

    /** Drop a pin nothing will read again. */
    def release(p: Pin): Unit = {
      unpersist(p.rdds)
      live --= p.rdds
    }

    /** Hand a pin to the returned frame; returns its frame. */
    def keep(p: Pin): DataFrame = {
      kept ++= p.rdds
      p.df
    }

    private[Checkpoints] def close(failed: Boolean): Unit = {
      unpersist(live.filter(r => failed || !kept(r)).toSeq)
      live.clear()
    }
  }

  /** Run `body` with a fresh [[Scope]]; on exit release every pin not
    * kept, or every pin when `body` throws. */
  def scoped[T](spark: SparkSession)(body: Scope => T): T = {
    val scope = new Scope(spark.sparkContext)
    val out = try body(scope)
      catch { case t: Throwable => scope.close(failed = true); throw t }
    scope.close(failed = false)
    out
  }

  /** Unpersist without blocking. A non-fatal failure (say, an executor
    * already gone) only leaves the blocks to the ContextCleaner; an
    * interrupt or a fatal error propagates. */
  private def unpersist(rdds: Seq[RDD[_]]): Unit =
    rdds.foreach(r => try r.unpersist(blocking = false) catch { case NonFatal(_) => () })
}
