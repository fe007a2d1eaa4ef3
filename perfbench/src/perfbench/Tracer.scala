package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region: a call into a library layer, a sink, or a whole
  * operation. `parent` is -1 for a root; `op` is the operation index. */
final case class Span(id: Long, name: String, parent: Long, op: Int,
                      start: Long, var end: Long = 0L) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark work attributed to one span. Times are in the units Spark reports
  * them in: run/GC/scheduler-delay ms, CPU ns, sizes bytes. */
final class SparkAcc {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, schedMs, shuffleIoNs = 0L
  var shuffleWriteB, shuffleReadB, spillB = 0L
  var analysisMs, optimizationMs, planningMs = 0.0

  def add(o: SparkAcc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; schedMs += o.schedMs
    shuffleIoNs += o.shuffleIoNs; shuffleWriteB += o.shuffleWriteB
    shuffleReadB += o.shuffleReadB; spillB += o.spillB
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs
  }
}

/**
 * Outside-in tracer. Spans are recorded by the benchmark around each call
 * into a library layer; Spark jobs are attributed to the innermost open span
 * through the local property [[Tracer.SpanKey]]. Local properties are
 * inheritable, so jobs the library submits from its own thread pools carry
 * the span of the call that created the pool. The job group and
 * `spark.job.description` stay untouched: the library uses them to cancel
 * jobs.
 *
 * When `on` is false every method runs its body and records nothing.
 */
final class Tracer(sc: SparkContext, val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0L
  private var currentOp = -1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(nextId, name, stack.headOption.map(_.id).getOrElse(-1L),
        currentOp, System.nanoTime())
      nextId += 1
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      stack = s :: stack
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, prev)
        spans += s
      }
    }

  /** Root span of operation `i`; spans opened inside belong to it. */
  def operation[T](i: Int)(body: => T): T = {
    currentOp = i
    try span("op")(body) finally currentOp = -1
  }

  def recorded: Seq[Span] = spans.toSeq
}

object Tracer {
  /** Local property naming the span that submitted a job. */
  val SpanKey = "perfbench.span"

  private val installed = new ConcurrentHashMap[SparkContext, Collector]()

  /** Registers the listeners once per context and returns the collector;
    * a second call returns the first collector instead of adding another
    * pair of listeners. */
  def install(spark: SparkSession): Collector =
    installed.computeIfAbsent(spark.sparkContext, { sc =>
      val c = new Collector
      sc.addSparkListener(c)
      spark.listenerManager.register(c)
      c
    })
}

/** Records jobs, stages, tasks and Catalyst phases per span. Listener
  * callbacks arrive on Spark's listener-bus thread; [[drain]] waits until
  * every event submitted before it has been delivered. */
final class Collector extends SparkListener with QueryExecutionListener {
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  private val execPhases = new ConcurrentHashMap[Long, (Double, Double, Double)]()
  private val acc = new ConcurrentHashMap[Long, SparkAcc]()
  @volatile private var lastEnded = -1L
  /** Phases of the query whose execution-end event is being delivered. */
  private var pending: Option[(Double, Double, Double)] = None

  private def accOf(span: Long): SparkAcc = acc.computeIfAbsent(span, _ => new SparkAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).foreach { s =>
      val span = s.toLong
      accOf(span).jobs += 1
      e.stageIds.foreach(stageSpan.put(_, span))
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execSpan.putIfAbsent(x.toLong, span))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => accOf(s).stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val a = accOf(s)
      a.tasks += 1
      if (!e.taskInfo.successful) a.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (e.taskInfo.gettingResult) e.taskInfo.finishTime - e.taskInfo.gettingResultTime
           else 0L))
        a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        a.shuffleIoNs += m.shuffleWriteMetrics.writeTime +
          m.shuffleReadMetrics.fetchWaitTime * 1000000L
        a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  // Spark numbers SQL executions apart from QueryExecution.id, so phases
  // are paired with the execution id by delivery order: the session's
  // QueryExecutionListener bus sits on the same listener queue as this
  // collector, registered before it, and calls back while delivering the
  // execution-end event that this collector receives right after.
  private def phases(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ms(k: String): Double = p.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    pending = Some((ms("analysis"), ms("optimization"), ms("planning")))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      pending.foreach(execPhases.put(end.executionId, _))
      pending = None
      lastEnded = math.max(lastEnded, end.executionId)
    case _ =>
  }

  /** Runs a marker query and waits until both listeners have seen it, so
    * every earlier event has been delivered (the bus keeps order). */
  def drain(spark: SparkSession, tracer: Tracer): Unit = {
    val marker = tracer.span("drain")(spark.range(1).collect())
    require(marker.length == 1)
    val markerSpan = tracer.recorded.last.id
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def seen: Boolean = {
      val exec = execSpan.asScala.collectFirst { case (x, s) if s == markerSpan => x }
      exec.exists(x => lastEnded >= x)
    }
    while (!seen && System.nanoTime() < deadline) Thread.sleep(20)
    require(seen, "listener bus did not deliver the marker query within 30 s")
  }

  /** Spark work per span id, Catalyst phases folded in by execution id. */
  def perSpan(): Map[Long, SparkAcc] = {
    execSpan.asScala.foreach { case (exec, span) =>
      Option(execPhases.remove(exec)).foreach { case (a, o, p) =>
        val x = accOf(span)
        x.analysisMs += a; x.optimizationMs += o; x.planningMs += p
      }
    }
    acc.asScala.toMap
  }
}
