package graft.tools

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Inspects named SparkEntry queries under one `local[4]` session:
  *
  * `sbt "runMain graft.tools.Inspect <mode> <sfDir> [<outDir> <tag>] <name>..."`
  *
  *  - `jobs`: the Spark jobs, stages and tasks a query runs end to end
  *    (construction + a noop write) — the measure for queries whose cost
  *    is CONSTRUCTION-TIME jobs (iterative trainers, eager checkpoints,
  *    streaming fixtures) that no plan can show.
  *  - `executed`: collects, then counts exchanges, reused exchanges,
  *    broadcasts, sorts and codegen stages in the executed plan;
  *    `executed:full` also prints the plan.
  *  - `explain <outDir> <tag>`: writes `explain("formatted")` to
  *    `<outDir>/<name>_<tag>.txt`, the per-round plan-evidence artifact.
  *    `explain:final` collects first, so the file shows the AQE FINAL
  *    plan (`isFinalPlan=true`) — the only place runtime rewrites like
  *    ReusedExchange / AQEShuffleRead are visible. It materializes with
  *    collect(), not the noop sink: a write builds a SEPARATE
  *    QueryExecution, so the dumped one would still read
  *    isFinalPlan=false. Use only on queries with bounded results.
  *
  * Queries that EXECUTE at construction (streaming fixtures, staging
  * writes, eager probes) pay that cost in every mode; a plan mode shows
  * the plan of the RETURNED DataFrame only. */
object Inspect {
  private val usage = "usage: Inspect jobs|executed|executed:full <sfDir> <name>... | " +
    "Inspect explain|explain:final <sfDir> <outDir> <tag> <name>..."

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val nFixed = mode match {
      case "jobs" | "executed" | "executed:full" => 2
      case "explain" | "explain:final" => 4
      case _ => throw new IllegalArgumentException(usage)
    }
    require(args.length > nFixed, usage)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs, stages, tasks = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(s.stageInfo.numTasks.toLong)
      }
    })
    try args.drop(nFixed).foreach { n =>
      Seq(jobs, stages, tasks).foreach(_.set(0L))
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(n)(spark, args(1))
      mode match {
        case "jobs" =>
          df.write.mode("overwrite").format("noop").save()
          val sec = (System.nanoTime() - t0) / 1e9
          // listener events are async — wait until the counters are STABLE
          // across consecutive samples (a fixed beat raced late events into
          // the next query's freshly-reset counters on a loaded box), with
          // a hard 5 s cap so a wedged bus can't hang the tool
          var prev = Seq(-1L)
          var waited = 0
          while (prev != Seq(jobs.get, stages.get, tasks.get) && waited < 5000) {
            prev = Seq(jobs.get, stages.get, tasks.get)
            Thread.sleep(250); waited += 250
          }
          println(f"[jobcount] $n%-28s jobs=${jobs.get}%-4d stages=${stages.get}%-4d tasks=${tasks.get}%-6d sec=$sec%.2f")
        case "executed" | "executed:full" =>
          df.collect()
          val plan = df.queryExecution.executedPlan.toString
          def cnt(re: String) = re.r.findAllIn(plan).length
          println(s"==== $n ====")
          println(s"  exchanges=${cnt("Exchange hashpartitioning|Exchange rangepartitioning")}" +
            s" reused=${cnt("ReusedExchange")} broadcasts=${cnt("BroadcastExchange")}" +
            s" sorts=${cnt("Sort \\[")} wscg=${cnt("WholeStageCodegen")}")
          if (mode == "executed:full") println(plan)
        case _ =>
          if (mode == "explain:final") { df.collect(); () }
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val f = new java.io.File(args(2), s"${n}_${args(3)}.txt")
          f.getParentFile.mkdirs()
          val w = new java.io.PrintWriter(f, "UTF-8")
          try w.write(txt) finally w.close()
          println(s"[explain] wrote ${f.getPath} (${txt.length} chars)")
      }
    } finally spark.stop()
  }
}
