package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters at one instant; `-` gives the work done between two
  * snapshots. Units run one at a time in a traced run, so the difference
  * of two snapshots taken around a unit is that unit's work. */
final case class Counters(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
    inputBytes: Long, shuffleBytes: Long, spillBytes: Long, jobBusyMs: Long,
    analysisMs: Long, optimizeMs: Long, planMs: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskMs - o.taskMs, inputBytes - o.inputBytes,
    shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes,
    jobBusyMs - o.jobBusyMs, analysisMs - o.analysisMs,
    optimizeMs - o.optimizeMs, planMs - o.planMs)

  def toMap: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "task_ms" -> taskMs, "input_bytes" -> inputBytes,
    "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
    "job_busy_ms" -> jobBusyMs, "analysis_ms" -> analysisMs,
    "optimize_ms" -> optimizeMs, "planning_ms" -> planMs)
}

/** The traced run's recorder: a SparkListener for jobs, stages and task
  * metrics, and a QueryExecutionListener for Catalyst phase times. It is
  * registered (`start`) only on traced runs, so the untraced runs measure
  * the program without it. */
final class Trace(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  private val jobs, stages, tasks, taskMs, inputBytes, shuffleBytes,
    spillBytes, analysisMs, optimizeMs, planMs, busyMs = new AtomicLong()
  // wall time during which at least one job ran (event timestamps, ms)
  private var running = 0
  private var busySince = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs.incrementAndGet()
    if (running == 0) busySince = e.time
    running += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running -= 1
    if (running == 0) busyMs.addAndGet(e.time - busySince)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    ph.get("analysis").foreach(p => analysisMs.addAndGet(p.durationMs))
    ph.get("optimization").foreach(p => optimizeMs.addAndGet(p.durationMs))
    ph.get("planning").foreach(p => planMs.addAndGet(p.durationMs))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Counters after every event posted so far has been handled. */
  def snapshot(): Counters = {
    org.apache.spark.BusDrain(spark.sparkContext)
    synchronized {
      Counters(jobs.get, stages.get, tasks.get, taskMs.get, inputBytes.get,
        shuffleBytes.get, spillBytes.get, busyMs.get, analysisMs.get,
        optimizeMs.get, planMs.get)
    }
  }

  def start(): Trace = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def stop(): Unit = {
    org.apache.spark.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}
