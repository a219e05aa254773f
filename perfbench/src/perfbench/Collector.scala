package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}

/** The benchmark's own SparkListener (layer `spark`).
  *
  * Unlike a sum of job walls, busy time is the UNION of job intervals,
  * so overlapping jobs are not double-counted and the driver gap
  * (window wall minus busy time) can never go negative. A stage's wall
  * counts only when both its submission and completion times exist.
  * Readers call [[drain]] first: it blocks until the listener bus is
  * empty instead of sleeping and hoping. */
final class Collector(spark: SparkSession) extends SparkListener {
  private val jobStart = new ConcurrentHashMap[Int, (Long, String)]()
  private val intervals = ArrayBuffer.empty[(Long, Long, String)] // guarded by `this`
  private val stageSubmit = new ConcurrentHashMap[(Int, Int), java.lang.Long]()

  val jobs, jobMs, stages, stageWallMs, tasks, taskMs, taskCpuMs, taskWaitMs,
    shuffleReadBytes, shuffleWriteBytes, inputBytes, outputBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val what = props.flatMap(p => Option(p.getProperty("spark.job.description")))
      .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
      .getOrElse("").takeWhile(_ != '\n').take(80)
    jobStart.put(e.jobId, (e.time, what))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, what) =>
      jobs.incrementAndGet()
      jobMs.addAndGet(e.time - t0)
      synchronized { intervals += ((t0, e.time, what)) }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach { t =>
      stageSubmit.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), t)
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageSubmit.get((e.stageId, e.stageAttemptId))).foreach { t =>
      taskWaitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - t))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      taskMs.addAndGet(m.executorRunTime)
      taskCpuMs.addAndGet(m.executorCpuTime / 1000000L)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    stages.incrementAndGet()
    stageSubmit.remove((si.stageId, si.attemptNumber()))
    for (s <- si.submissionTime; c <- si.completionTime) stageWallMs.addAndGet(c - s)
  }

  def drain(): Unit = GraftSqlBridge.awaitListenerBus(spark)

  /** Descriptions of the jobs that started inside [from, to] (epoch millis). */
  def jobsStartedIn(from: Long, to: Long): Seq[String] =
    synchronized(intervals.collect { case (s, _, what) if s >= from && s <= to => what }.toSeq)

  /** Milliseconds of [from, to] covered by at least one job. */
  def busyMs(from: Long, to: Long): Long = {
    val clipped = synchronized(intervals.toSeq)
      .map { case (s, e, _) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy + (curE - curS)
  }

  def counters: Map[String, Long] = Map(
    "jobs" -> jobs.get, "job_ms" -> jobMs.get, "stages" -> stages.get,
    "stage_wall_ms" -> stageWallMs.get, "tasks" -> tasks.get,
    "task_ms" -> taskMs.get, "task_cpu_ms" -> taskCpuMs.get,
    "task_wait_ms" -> taskWaitMs.get,
    "shuffle_read_bytes" -> shuffleReadBytes.get,
    "shuffle_write_bytes" -> shuffleWriteBytes.get,
    "input_bytes" -> inputBytes.get, "output_bytes" -> outputBytes.get)
}

/** In-memory spans around every call the benchmark makes into a layer.
  * Disabled, it only runs the body; enabled, it keeps (name, start,
  * end, parent, run id) and writes them out once, when the run ends. */
final class Tracer(val enabled: Boolean, runId: String) {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int)
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1
  private val t0 = System.nanoTime()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val s = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, s - t0, System.nanoTime() - t0, parent)
      }
    }

  def write(path: String): Unit = if (enabled) {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"run":"$runId","id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_us":${s.startNs / 1000},"end_us":${s.endNs / 1000}}""")
    } finally w.close()
  }
}
