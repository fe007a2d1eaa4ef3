package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Benchmark entry point: one workload, one seed, one closed-loop client.
 *
 * {{{
 * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
 * }}}
 *
 * Untraced (`--trace 0`): set up several times (the median is `setup_s`),
 * run operations back to back for `--seconds`, then check every output.
 * Traced (`--trace 1`): the same set-up, half the time untraced, then a
 * fixed number of traced operations with listeners installed, then one
 * materialization of each chain prefix for `incr_s`. The last stdout line
 * is `PERFBENCH_RESULT <json>` with every measured metric by name.
 */
object Main {
  val Cores = 4
  private val SetupReps = 3
  private val TracedOps = 2
  private val FloorProbes = 2

  private def now(): Long = System.nanoTime()
  private def secs(ns: Long): Double = ns / 1e9
  private def timed(body: => Unit): Double = { val s = now(); body; secs(now() - s) }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  private def peakRssMb(): Double =
    Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)

  /** The scheduling floor: a trivial two-stage aggregate, timed. */
  def floorProbe(spark: SparkSession): Double = timed {
    spark.range(6400).select((col("id") % 64).alias("k"), col("id").alias("v"))
      .groupBy("k").agg(count(lit(1)).alias("n"), sum(col("v")).alias("s")).collect()
    ()
  }

  /** The benchmark's session: `local[4]`, shuffles at one partition per
    * core, and every file Spark writes kept under `work`. */
  def session(work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  final case class Phase(times: Seq[Double], units: Long, attempted: Int, failed: Int)

  /** Runs operations back to back (at least `minOps`, at most `maxOps`)
    * while the next one, at the mean time so far, still ends within
    * `budgetS`; then checks them. */
  private def loop(w: Workload, tr: Tracer, budgetS: Double, minOps: Int,
                   maxOps: Int): Phase = {
    val times = mutable.ArrayBuffer.empty[Double]
    var units, errors = 0L
    val start = now()
    var i = 0
    def nextFits: Boolean = secs(now() - start) + times.sum / times.size <= budgetS
    while (i < minOps || (i < maxOps && nextFits)) {
      w.prepare(i)
      val s = now()
      try units += tr.operation(i)(w.op(i, tr))
      catch { case e: Exception =>
        errors += 1
        System.err.println(s"[perfbench] operation $i failed: $e")
      }
      times += secs(now() - s)
      i += 1
    }
    val wrong = try w.check() catch { case e: Exception =>
      System.err.println(s"[perfbench] check failed: $e"); i
    }
    Phase(times.toSeq, units, i, math.min(i, (errors + wrong).toInt))
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val out = new File(opts("out")).getAbsoluteFile
    val work = new File(out, s"work-$name-${ProcessHandle.current().pid()}")
    work.mkdirs()

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val dataDir = new File(work, "data").getPath
    val w: Workload = name match {
      case "hier_reshape" => new HierReshape(spark, seed)
      case "corpus_curate" => new CorpusCurate(spark, seed, dataDir)
      case "ann_serve" => new AnnServe(spark, seed, dataDir)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val off = new Tracer(spark.sparkContext, on = false)
    val code =
      try {
        // set-up = session start, the median of several input builds, and
        // the workload's fixed number of warm-up operations, which pay JIT
        // and codegen warm-up (the first operation runs 2-5x slower)
        val setupReps = (1 to SetupReps).map(_ => timed(w.setup()))
        val warm = mutable.ArrayBuffer.empty[Double]
        val warmS = timed {
          (0 until w.warmupOps).foreach { i =>
            w.prepare(i)
            warm += timed(w.op(i, off))
          }
          w.reset()
        }
        val floors = (1 to FloorProbes).map(_ => floorProbe(spark))
        val m = mutable.LinkedHashMap.empty[String, Double]
        m("setup_s") = sessionS + median(setupReps) + warmS
        val plain = loop(w, off, if (trace) seconds / 2 else seconds, 1, Int.MaxValue)
        val floorS = median(floors ++ (1 to FloorProbes).map(_ => floorProbe(spark)))
        val p50 = median(plain.times)
        m("op_p50_s") = p50
        m("rows_per_s") = ratio(plain.units, plain.times.sum)
        var attempted = plain.attempted
        var failed = plain.failed
        w.qualityRatios().foreach { case (k, v) => m(k) = v }

        val n = plain.times.size
        val tail =
          if (n >= 11) {
            val pct = 100.0 * (n - 10) / n
            f"op_tail_s=${plain.times.sorted.apply(n - 11)}%.4f (p$pct%.0f, $n ops, 10 beyond)"
          } else s"op_tail_s omitted ($n ops; needs 11)"
        println(f"[perfbench] $name seed=$seed trace=${if (trace) 1 else 0} " +
          f"setup_s=${m("setup_s")}%.3f (session $sessionS%.2f s, inputs ${setupReps.map(x => f"$x%.2f").mkString("/")} s, warm-up ${warm.map(x => f"$x%.2f").mkString("/")} s) " +
          f"op_p50_s=$p50%.4f $tail rows_per_s=${m("rows_per_s")}%.1f " +
          s"ops_s=${plain.times.map(x => f"$x%.2f").mkString("/")} " +
          f"driver.floor_s=$floorS%.3f fail_share=${ratio(failed, attempted)}%.3f" +
          w.qualityRatios().map { case (k, v) => f" $k=$v%.4f" }.mkString)

        if (trace) {
          w.reset()
          val collector = Tracer.install(spark)
          val tr = new Tracer(spark.sparkContext, on = true)
          tr.span("floor")(floorProbe(spark))
          val traced = loop(w, tr, 0.0, TracedOps, TracedOps)
          attempted += traced.attempted
          failed += traced.failed
          // each prefix is built and materialized from scratch, so its time
          // includes the construction jobs of the calls it contains
          val incr = mutable.LinkedHashMap.empty[String, Double]
          val layers = "input" +: w.steps.map(_._1)
          w.prepare(TracedOps)
          var prev = 0.0
          layers.indices.foreach { k =>
            w.release()
            val t = timed(tr.span(s"prefix:${layers(k)}")(Common.noop(Chain.run(w, off, k))))
            if (k > 0) incr(layers(k)) = t - prev
            prev = t
          }
          w.release()
          collector.drain(spark, tr)
          m ++= LayerReport(tr.recorded, collector.perSpan(), TracedOps, floorS, p50,
            traced.times, incr.toMap)
          m("driver.floor_s") = floorS
          m ++= w.layerRatios()
          m ++= w.qualityRatios()
          val file = new File(out, s"traces/$name-seed$seed-${System.currentTimeMillis()}.jsonl")
          LayerReport.writeSpans(file, tr.recorded, collector.perSpan())
          println(s"[perfbench] spans written to ${file.getPath}")
          println(s"[perfbench] " + LayerReport.label(m))
        }
        m("peak_rss_mb") = peakRssMb()
        val metrics = m.map { case (k, v) => "\"" + k + "\": " + (if (v.isNaN || v.isInfinite) "0.0" else v.toString) }
        println(s"""PERFBENCH_RESULT {"correct": ${failed == 0}, "attempted": $attempted, """ +
          s""""failed": $failed, "metrics": {${metrics.mkString(", ")}}}""")
        0
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        1
      } finally {
        try w.cleanup() catch { case _: Throwable => () }
        spark.stop()
        Common.deleteRecursively(work)
      }
    sys.exit(code)
  }
}

/** Per-layer metrics from one traced run, averaged per operation. */
object LayerReport {
  /** Spans that run the chain's final action rather than build it. */
  private val ActionSpans = Set("op", "sink", "collect", "Layout.sortedExport")

  def apply(spans: Seq[Span], acc: Map[Long, SparkAcc], ops: Int, floorS: Double,
            untracedP50: Double, tracedTimes: Seq[Double],
            incr: Map[String, Double]): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val inOps = spans.filter(s => s.op >= 0)
    def per(x: Double): Double = x / ops
    val opS = per(inOps.filter(_.name == "op").map(_.seconds).sum)
    val total = new SparkAcc
    inOps.flatMap(s => acc.get(s.id)).foreach(total.add)
    inOps.filterNot(s => ActionSpans(s.name) && s.name != "Layout.sortedExport")
      .groupBy(_.name).foreach { case (layer, ss) =>
        m(s"$layer.call_s") = per(ss.map(_.seconds).sum)
        m(s"$layer.jobs") = per(ss.flatMap(s => acc.get(s.id)).map(_.jobs).sum.toDouble)
      }
    m("Layout.sortedExport.s") = m.getOrElse("Layout.sortedExport.call_s", 0.0)
    incr.foreach { case (layer, v) => m(s"$layer.incr_s") = v }
    val callJobs = inOps.filterNot(s => ActionSpans(s.name))
      .flatMap(s => acc.get(s.id)).map(_.jobs).sum
    m("spark.jobs") = per(total.jobs.toDouble)
    m("spark.jobs_call") = per(callJobs.toDouble)
    m("spark.stages") = per(total.stages.toDouble)
    m("spark.tasks") = per(total.tasks.toDouble)
    m("spark.task_fail_share") = if (total.tasks == 0) 0.0 else total.failedTasks.toDouble / total.tasks
    m("spark.exec_run_s") = per(total.runMs / 1e3)
    m("spark.exec_cpu_s") = per(total.cpuNs / 1e9)
    m("spark.sched_delay_s") = per(total.schedMs / 1e3)
    m("spark.gc_s") = per(total.gcMs / 1e3)
    m("spark.shuffle_write_mb") = per(total.shuffleWriteB / 1e6)
    m("spark.shuffle_read_mb") = per(total.shuffleReadB / 1e6)
    m("spark.spill_mb") = per(total.spillB / 1e6)
    m("catalyst.analysis_ms") = per(total.analysisMs)
    m("catalyst.optimization_ms") = per(total.optimizationMs)
    m("catalyst.planning_ms") = per(total.planningMs)
    def share(x: Double): Double = if (opS == 0) 0.0 else x / opS
    // the floor probe runs as several jobs (one per stage under adaptive
    // execution); the model charges each job its share of the probe
    val probeJobs = spans.filter(_.name == "floor").flatMap(s => acc.get(s.id)).map(_.jobs).sum
    val floorShare = share(m("spark.jobs") * floorS / math.max(1L, probeJobs))
    val computeShare = share(m("spark.exec_run_s") / Main.Cores)
    val catalystShare = share((m("catalyst.analysis_ms") + m("catalyst.optimization_ms") +
      m("catalyst.planning_ms")) / 1e3)
    m("model.floor_share") = floorShare
    m("model.compute_share") = computeShare
    m("model.shuffle_share") = share(per(total.shuffleIoNs / 1e9) / Main.Cores)
    m("model.catalyst_share") = catalystShare
    m("model.residual_share") = 1.0 - floorShare - computeShare - catalystShare
    val tracedP50 = Main.median(tracedTimes)
    m("trace.op_p50_s") = tracedP50
    m("trace.overhead_s") = tracedP50 - untracedP50
    m("trace.overhead_share") = if (untracedP50 == 0) 0.0 else (tracedP50 - untracedP50) / untracedP50
    m.toMap
  }

  /** FLOOR, COMPUTE, SHUFFLE or PLANNER: the largest measured share of an
    * operation, with the shares and the unexplained residual. */
  def label(m: collection.Map[String, Double]): String = {
    val compute = m("model.compute_share")
    val shuffle = m("model.shuffle_share")
    val parts = Seq("FLOOR" -> m("model.floor_share"), "COMPUTE" -> (compute - shuffle),
      "SHUFFLE" -> shuffle, "PLANNER" -> m("model.catalyst_share"))
    f"bound=${parts.maxBy(_._2)._1} " + parts.map { case (k, v) => f"$k=$v%.3f" }.mkString(" ") +
      f" residual=${m("model.residual_share")}%.3f"
  }

  /** One JSON object per span, with the Spark work attributed to it. */
  def writeSpans(file: File, spans: Seq[Span], acc: Map[Long, SparkAcc]): Unit = {
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file)
    try spans.sortBy(_.start).foreach { s =>
      val a = acc.getOrElse(s.id, new SparkAcc)
      w.println(s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "op": ${s.op}, """ +
        s""""start_ns": ${s.start}, "end_ns": ${s.end}, "jobs": ${a.jobs}, "stages": ${a.stages}, """ +
        s""""tasks": ${a.tasks}, "exec_run_ms": ${a.runMs}, "exec_cpu_ns": ${a.cpuNs}, """ +
        s""""shuffle_write_b": ${a.shuffleWriteB}, "shuffle_read_b": ${a.shuffleReadB}, """ +
        s""""spill_b": ${a.spillB}, "analysis_ms": ${a.analysisMs}, """ +
        s""""optimization_ms": ${a.optimizationMs}, "planning_ms": ${a.planningMs}}""")
    } finally w.close()
  }
}
