package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

/** Wall clock in epoch nanoseconds with nanoTime resolution, so benchmark
  * spans and Spark's epoch-millisecond job/task times share one axis. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)
}

final class Span(val id: Int, val parent: Int, val name: String,
                 val layer: String, val start: Long) {
  var end: Long = 0L
  val attrs = mutable.LinkedHashMap[String, Any]()
}

/** In-memory spans around the benchmark's calls into the program. One
  * client thread opens them, so the current span is a plain stack. When
  * tracing is off, `span` only runs its body. */
final class Tracer {
  var on = false
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()

  def span[T](name: String, layer: String, attrs: (String, Any)*)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), name, layer, Clock.now())
      attrs.foreach { case (k, v) => s.attrs(k) = v }
      spans += s
      stack.push(s)
      try body
      finally { s.end = Clock.now(); stack.pop(); () }
    }

  /** A child span of the current one whose interval is known only after
    * the fact (the ETL phase spans the orchestrator reports by duration). */
  def placed(name: String, layer: String, start: Long, end: Long): Unit =
    if (on) {
      val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), name, layer, start)
      s.end = end
      s.attrs("placed") = true
      spans += s
    }
}

/** One Spark job as the listener saw it: its interval, stage count, and
  * the metrics of its tasks. Task intervals are kept so the time during
  * which no task ran can be computed per operation. */
final class JobRec(val id: Int, val startMs: Long) {
  @volatile var endMs: Long = 0L
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var readBytes = 0L
  var readRecords = 0L
  var writeBytes = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val taskIntervals = mutable.ArrayBuffer[(Long, Long)]()
}

final class JobListener extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = new JobRec(e.jobId, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(stageToJob.put(_, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageToJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized { j.stages += 1 })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageToJob.get(e.stageId)
    val m = e.taskMetrics
    if (j != null && m != null) j.synchronized {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.readBytes += m.inputMetrics.bytesRead
      j.readRecords += m.inputMetrics.recordsRead
      j.writeBytes += m.outputMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }
}
