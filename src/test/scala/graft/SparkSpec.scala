package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared session + the reference suite's order-independent golden
  * comparison: canonicalize rows to sorted JSON with sorted keys, compare as
  * sorted lists (reference: _canonical_rows/_assert_same_rows,
  * test_hierarchical_packer.py:70-81). Top-level order is unguaranteed;
  * child-list order IS significant (JSON preserves it). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Rebuild a column with all nested struct fields sorted by name, so
    * to_json output is key-order-canonical (json.dumps(sort_keys=True)
    * equivalent). */
  private def sortedCol(c: org.apache.spark.sql.Column,
                        dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types.{ArrayType, StructType}
    dt match {
      case st: StructType =>
        struct(st.fields.sortBy(_.name).toIndexedSeq.map(f =>
          sortedCol(c.getField(f.name), f.dataType).alias(f.name)): _*)
      case ArrayType(et, _) => transform(c, x => sortedCol(x, et))
      case _ => c
    }
  }

  /** Canonical per-row JSON: columns sorted, nested struct keys sorted,
    * rows sorted. Child-list order remains significant. */
  def canonicalRows(df: DataFrame): Seq[String] = {
    val cols = df.schema.fields.sortBy(_.name).toIndexedSeq.map(f =>
      sortedCol(ColName.topCol(f.name), f.dataType).alias(f.name))
    val js = df.select(to_json(struct(cols: _*))).collect().map(_.getString(0))
    js.toIndexedSeq.sorted
  }

  /** Runs `body` with a `jobsSoFar()` that returns, and resets, the
    * number of Spark jobs started since its previous call. The listener
    * bus is asynchronous: a marker job flushes it, so every job started
    * before the marker has been counted once the marker is seen. */
  def withJobCount[T](body: (() => Int) => T): T = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var sawMarker = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties)
          .exists(_.getProperty("spark.job.description", "") == "graft-jobs-marker"))
          sawMarker = true
        else jobs.incrementAndGet()
    }
    def jobsSoFar(): Int = {
      sawMarker = false
      spark.sparkContext.setJobDescription("graft-jobs-marker")
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!sawMarker && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sawMarker, "listener bus did not deliver the marker job in 10s")
      jobs.getAndSet(0)
    }
    spark.sparkContext.addSparkListener(listener)
    try body(() => jobsSoFar())
    finally spark.sparkContext.removeSparkListener(listener)
  }

  def assertSameRows(left: DataFrame, right: DataFrame): Unit = {
    val l = canonicalRows(left)
    val r = canonicalRows(right)
    assert(l == r, s"\nleft (${l.size} rows):\n${l.take(5).mkString("\n")}\n" +
      s"right (${r.size} rows):\n${r.take(5).mkString("\n")}")
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
