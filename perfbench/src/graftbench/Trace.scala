package graftbench

import scala.collection.mutable

/** Span-tree rollup. Each Spark job is attributed to one span: the span
  * named by the job's local property when that span was open at the
  * job's start, else the innermost span open at that time (the client
  * is one closed loop, so at most one chain of spans is open). Self
  * time of a span is its wall time minus the part covered by its child
  * spans and its own jobs; driver time is its wall time minus the part
  * covered by any job in its subtree.
  */
final class Trace(spans: Seq[Span], jobs: Seq[JobRec]) {
  private val byId = spans.map(s => s.id -> s).toMap
  private val children = spans.groupBy(_.parent)

  private def contains(s: Span, t: Double) = s.startMs - 1.0 <= t && t <= s.endMs + 1.0

  val owner: Map[Int, Int] = jobs.map { j =>
    val t = j.startMs.toDouble
    val tagged = byId.get(j.span).filter(contains(_, t))
    val id = tagged.map(_.id).getOrElse {
      val open = spans.filter(contains(_, t))
      if (open.isEmpty) 0 else open.minBy(_.wallMs).id
    }
    j.jobId -> id
  }.toMap

  private val ownJobs: Map[Int, Seq[JobRec]] = jobs.groupBy(j => owner(j.jobId))

  def subtreeJobs(s: Span): Seq[JobRec] =
    ownJobs.getOrElse(s.id, Nil) ++ children.getOrElse(s.id, Nil).flatMap(subtreeJobs)

  private def jobIv(j: JobRec) = (j.startMs.toDouble, if (j.endMs < 0) j.startMs.toDouble else j.endMs.toDouble)

  def jobMs(s: Span): Double = Trace.covered(subtreeJobs(s).map(jobIv), s.startMs, s.endMs)
  def driverMs(s: Span): Double = s.wallMs - jobMs(s)
  def selfMs(s: Span): Double = s.wallMs - Trace.covered(
    children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)) ++
      ownJobs.getOrElse(s.id, Nil).map(jobIv), s.startMs, s.endMs)

  def acc(s: Span): JobAcc = {
    val a = new JobAcc
    subtreeJobs(s).foreach(j => a.addAll(j.acc))
    a
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  private def subtreeIds(s: Span): Set[Int] =
    children.getOrElse(s.id, Nil).flatMap(subtreeIds).toSet + s.id

  /** Share of `s`'s wall time that its driver time plus the jobs tagged
    * with a span of its subtree account for: 1 minus the time covered
    * only by jobs that carry no such tag (jobs submitted from a thread
    * that did not inherit the span property, or other concurrent work)
    * over its wall time.
    */
  def accountedShare(s: Span): Double = {
    val ids = subtreeIds(s)
    val all = Trace.covered(jobs.map(jobIv), s.startMs, s.endMs)
    val tagged = Trace.covered(jobs.filter(j => ids.contains(j.span)).map(jobIv), s.startMs, s.endMs)
    1.0 - (all - tagged) / math.max(1e-9, s.wallMs)
  }

  /** Spans with no parent: the client's operations. */
  def roots: Seq[Span] = spans.filter(_.parent == 0)

  /** Per span name: calls, wall, self, job-covered and driver seconds. */
  def rollup: Seq[Map[String, Any]] =
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val a = new JobAcc
      ss.foreach(s => a.addAll(acc(s)))
      Map[String, Any](
        "span" -> name, "calls" -> ss.size,
        "wall_s" -> ss.map(_.wallMs).sum / 1e3,
        "self_s" -> ss.map(selfMs).sum / 1e3,
        "job_s" -> ss.map(jobMs).sum / 1e3,
        "driver_s" -> ss.map(driverMs).sum / 1e3,
        "jobs" -> ss.map(subtreeJobs(_).size).sum,
        "executor_cpu_s" -> a.cpuNs / 1e9)
    }

  /** One JSON object per span, then one per job as a child span. */
  def lines: Iterator[String] =
    spans.iterator.map(s => Json(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs))) ++
      jobs.iterator.map(j => Json(Map("name" -> s"spark.job.${j.jobId}",
        "parent" -> owner(j.jobId), "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "tasks" -> j.acc.tasks, "executor_run_ms" -> j.acc.runMs,
        "executor_cpu_ms" -> j.acc.cpuNs / 1e6, "gc_ms" -> j.acc.gcMs,
        "shuffle_write_bytes" -> j.acc.shuffleWriteBytes,
        "output_bytes" -> j.acc.outputBytes, "spill_bytes" -> j.acc.spillBytes,
        "peak_execution_bytes" -> j.acc.peakExecBytes)))
}

object Trace {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curLo = Double.NaN
    var curHi = Double.NaN
    for ((a0, b0) <- iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)) {
      if (curLo.isNaN || a0 > curHi) {
        if (!curLo.isNaN) total += curHi - curLo
        curLo = a0; curHi = b0
      } else curHi = math.max(curHi, b0)
    }
    if (!curLo.isNaN) total += curHi - curLo
    total
  }
}

/** Minimal JSON rendering for the benchmark's own output. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new mutable.StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
