package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** The traced run's recorder. Everything here observes the library from
  * outside: spans wrap the benchmark's own calls into it, Spark jobs are
  * attributed to ops by the job group the benchmark sets per op, and
  * Catalyst phase times come from a registered QueryExecutionListener.
  * Spans stay in memory and are written once at exit.
  *
  * An untraced run never creates one of these; [[Trace.off]] makes every
  * hook a no-op.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val t0 = System.nanoTime()
  private def now: Long = System.nanoTime() - t0

  // ---------------------------------------------------------------- spans
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var opId: String = ""

  /** Nanoseconds the tracer itself spent: its synchronous hooks on the
    * driver thread plus its listener callbacks on Spark's bus thread.
    */
  val overheadNs = new java.util.concurrent.atomic.AtomicLong(0L)

  def cost[A](f: => A): A = {
    val t = System.nanoTime()
    try f finally overheadNs.addAndGet(System.nanoTime() - t)
  }

  def span[A](name: String)(f: => A): A = {
    val id = cost {
      val id = spans.size
      spans += Span(id, name, opId, stack.headOption.getOrElse(-1), now, -1L)
      stack = id :: stack
      id
    }
    try f
    finally cost {
      stack = stack.tail
      spans(id) = spans(id).copy(endNs = now)
    }
  }

  /** Run one op under its own job group; the group id is the op key. */
  def op[A](key: String, name: String)(f: => A): A = {
    val sc = spark.sparkContext
    opId = key
    sc.setJobGroup(key, name, interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    try span("op")(f)
    finally {
      opWindows += ((key, startMs, System.currentTimeMillis()))
      sc.clearJobGroup()
      opId = ""
    }
  }

  /** Tag the jobs a block starts with `phase` (build, materialize). */
  def phase[A](p: String)(f: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(PhaseKey, p)
    try f finally sc.setLocalProperty(PhaseKey, null)
  }

  val opWindows = mutable.ArrayBuffer.empty[(String, Long, Long)]

  // ------------------------------------------------- spark job accounting
  val jobs = mutable.Map.empty[Int, Job]
  private val stageGroup = mutable.Map.empty[Int, String]
  val perGroup = mutable.Map.empty[String, Acc]
  def acc(g: String): Acc = perGroup.getOrElseUpdate(g, new Acc)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = cost(synchronized {
      val props = Option(e.properties)
      val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val ph = props.flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("")
      jobs(e.jobId) = Job(g, e.time, -1L)
      e.stageIds.foreach(s => stageGroup(s) = g)
      val a = acc(g)
      a.jobs += 1
      if (ph == "build") a.buildJobs += 1
    })
    override def onJobEnd(e: SparkListenerJobEnd): Unit = cost(synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
    })
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = cost(synchronized {
      acc(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
    })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = cost(synchronized {
      val a = acc(stageGroup.getOrElse(e.stageId, ""))
      a.tasks += 1
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.deserMs += m.executorDeserializeTime
        a.resultBytes += m.resultSize
        a.bytesRead += m.inputMetrics.bytesRead
        a.rowsRead += m.inputMetrics.recordsRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.bytesWritten += m.outputMetrics.bytesWritten
        a.rowsWritten += m.outputMetrics.recordsWritten
        if (info != null) {
          val other = m.executorRunTime + m.executorDeserializeTime +
            m.resultSerializationTime + (if (info.gettingResult) info.gettingResultTime else 0L)
          a.schedDelayMs += math.max(0L, info.duration - other)
        }
      }
    })
  }

  // --------------------------------------------------- catalyst phases
  /** (analysis start epoch ms, analysis, optimization, planning ms). */
  val executions = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = cost(executions.synchronized {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
      val start = ph.get("analysis").map(_.startTimeMs).getOrElse(0L)
      executions += ((start, ms("analysis"), ms("optimization"), ms("planning")))
    })
  }

  /** Listeners are attached only around the traced pass, so setup pays
    * for none of them.
    */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    cost(org.apache.spark.PerfbenchBus.drain(spark.sparkContext))
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Trace {
  val PhaseKey = "perfbench.phase"

  final case class Span(id: Int, name: String, op: String, parent: Int,
      startNs: Long, endNs: Long)
  final case class Job(group: String, startMs: Long, endMs: Long)

  final class Acc {
    var jobs, buildJobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, deserMs, resultBytes = 0L
    var bytesRead, rowsRead, shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
    var bytesWritten, rowsWritten, schedDelayMs = 0L
  }

  /** Hooks for code that runs traced or not. */
  trait Hooks {
    def span[A](name: String)(f: => A): A
    def phase[A](p: String)(f: => A): A
  }

  object off extends Hooks {
    def span[A](name: String)(f: => A): A = f
    def phase[A](p: String)(f: => A): A = f
  }

  def hooks(t: Trace): Hooks = new Hooks {
    def span[A](name: String)(f: => A): A = t.span(name)(f)
    def phase[A](p: String)(f: => A): A = t.phase(p)(f)
  }
}
