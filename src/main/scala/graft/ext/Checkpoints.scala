package graft.ext

import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD

/** Lifetime of the localCheckpoint blocks the iterative operators pin. */
private[graft] object Checkpoints {

  /** Unpersist each RDD without blocking. Dataset.unpersist() targets the
    * CacheManager, not checkpoint blocks, so callers track the RDDs a
    * checkpoint registered and hand them here once every consumer has
    * run. A non-fatal failure (say, an executor already gone) only leaves
    * the blocks to the ContextCleaner; an interrupt or a fatal error
    * propagates. */
  def release(rdds: Seq[RDD[_]]): Unit =
    rdds.foreach(r => try r.unpersist(blocking = false) catch { case NonFatal(_) => () })
}
