package graftbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Task counters summed over one Spark job (or over the whole run). */
final class JobAcc {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L
  var peakExecBytes = 0L
  var recordsRead = 0L

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    runMs += m.executorRunTime
    cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    outputBytes += m.outputMetrics.bytesWritten
    spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
    peakExecBytes = math.max(peakExecBytes, m.peakExecutionMemory)
    recordsRead += m.inputMetrics.recordsRead
  }

  def addAll(o: JobAcc): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; outputBytes += o.outputBytes
    spillBytes += o.spillBytes; peakExecBytes = math.max(peakExecBytes, o.peakExecBytes)
    recordsRead += o.recordsRead
  }
}

/** One Spark job as the listener saw it (epoch milliseconds). */
final case class JobRec(jobId: Int, span: Int, startMs: Long, var endMs: Long,
    acc: JobAcc)

/** The benchmark's own SparkListener. It sums task metrics per job and
  * for the run, tracks the bytes of cached blocks held in memory, and
  * keeps the job list that the trace attributes to spans. Counting can
  * be switched off around set-up with [[armed]].
  */
final class Probe extends SparkListener {
  @volatile var armed = false
  val total = new JobAcc
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val blockMem = mutable.HashMap.empty[String, Long]
  private var storageNow = 0L
  private var storagePeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (armed) {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.SpanKey)))
        .map(_.toInt).getOrElse(0)
      jobs(e.jobId) = JobRec(e.jobId, span, e.time, -1L, new JobAcc)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.acc.add(m)
      total.add(m)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val id = info.blockId.name
    val mem = if (info.storageLevel.isValid) info.memSize else 0L
    storageNow += mem - blockMem.getOrElse(id, 0L)
    if (mem > 0) blockMem(id) = mem else blockMem.remove(id)
    if (armed) storagePeak = math.max(storagePeak, storageNow)
  }

  /** Peak Spark-managed memory: cached blocks plus the largest task's
    * execution memory, in bytes.
    */
  def memPeakBytes: Long = synchronized(storagePeak + total.peakExecBytes)

  def jobList: Seq[JobRec] = synchronized(jobs.values.toVector)

  def arm(): Unit = synchronized {
    armed = true
    storagePeak = storageNow
  }
}

object Probe {
  /** Local property naming the span that submitted a job. */
  val SpanKey = "graftbench.span"
}

/** A timed span: a workload operation or a public call inside one. */
final case class Span(id: Int, name: String, parent: Int, startMs: Double, endMs: Double) {
  def wallMs: Double = endMs - startMs
}

/** Records spans in memory on the single client thread, and tags the
  * Spark jobs each span submits through [[Probe.SpanKey]]. With tracing
  * off it records nothing.
  */
final class Spans(val enabled: Boolean, sc: org.apache.spark.SparkContext) {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Double)] = Nil
  private var nextId = 1

  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def apply[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      stack = (id, name, nowMs()) :: stack
      sc.setLocalProperty(Probe.SpanKey, id.toString)
      try f
      finally {
        val (_, _, start) = stack.head
        stack = stack.tail
        done += Span(id, name, parent, start, nowMs())
        sc.setLocalProperty(Probe.SpanKey,
          stack.headOption.map(_._1.toString).orNull)
      }
    }

  def all: Seq[Span] = done.toVector
}
