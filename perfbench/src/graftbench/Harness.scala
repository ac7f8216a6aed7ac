package graftbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed client operation. */
final case class OpRec(kind: String, ms: Double, ok: Boolean)

/** Raised by a workload when an output disagrees with its model. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Everything a workload needs: the session, its data directory, the
  * seed, the timed-op log and the metric sink. The client is a single
  * closed loop: one operation at a time, on the calling thread.
  */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val seconds: Int, val cores: Int, val probe: Probe, val spans: Spans) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  var failure: Option[String] = None
  private var deadlineNs = Long.MaxValue

  def startClock(): Unit = deadlineNs = System.nanoTime() + seconds * 1000000000L
  def timeLeft: Boolean = failure.isEmpty && System.nanoTime() < deadlineNs

  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p.getParent)
    p.toString
  }

  /** Runs one client operation: times `f`, then runs `check` on its
    * result outside the timing. An exception or a failed check marks
    * the op failed and stops the workload loop.
    */
  def op[A](kind: String)(f: => A)(check: A => Unit): Option[A] = {
    if (failure.nonEmpty) return None
    val t0 = System.nanoTime()
    val r = try Right(spans(kind)(f)) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    // Recorded before the check runs, so the check can relabel it.
    val i = ops.size
    ops += OpRec(kind, ms, ok = false)
    val ok = r match {
      case Right(v) =>
        try { check(v); true }
        catch { case e: Throwable => fail(kind, e); false }
      case Left(e) => fail(kind, e); false
    }
    ops(i) = ops(i).copy(ok = ok)
    r.toOption.filter(_ => ok)
  }

  private def fail(kind: String, e: Throwable): Unit = {
    val msg = s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"
    System.err.println(s"[perfbench] FAILED $msg")
    if (!e.isInstanceOf[CheckFailed]) e.printStackTrace()
    failure = Some(msg)
  }

  /** A set-up or verification step that must not fail. */
  def require(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new CheckFailed(msg)

  /** Renames the kind of the op just recorded, once its outcome is known. */
  def relabelLast(kind: String): Unit = ops(ops.size - 1) = ops.last.copy(kind = kind)

  def times(kind: String): Seq[Double] = ops.filter(o => o.kind == kind && o.ok).map(_.ms).toSeq
}

object Stats {
  /** Percentile with linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** Order-free content fingerprint of a multiset of token rows: the
  * row count, two independent row-hash sums mod P, the logical user
  * bytes and the token count. Fingerprints of disjoint row sets add.
  */
final case class Fp(rows: Long, a: Long, b: Long, bytes: Long, tokens: Long) {
  def +(o: Fp): Fp = Fp(rows + o.rows, Math.floorMod(a + o.a, Fp.P), Math.floorMod(b + o.b, Fp.P),
    bytes + o.bytes, tokens + o.tokens)
}

/** Fingerprints computed by plain Spark expressions (not engine code). */
object Fp {
  val P = 1000000007L
  val Zero: Fp = Fp(0, 0, 0, 0, 0)

  /** 4 B per token plus the UTF-8 bytes of doc_id and source. */
  val logicalBytes: org.apache.spark.sql.Column = col("n_tok").cast("long") * 4L +
    octet_length(col("doc_id")).cast("long") + octet_length(col("source")).cast("long")

  private val aggs = Seq(
    count(lit(1)),
    sum(pmod(xxhash64(col("doc_id"), col("tokens"), col("n_tok"), col("source")), lit(P))),
    sum(pmod(hash(col("source"), col("tokens"), col("doc_id"), col("n_tok")).cast("long"), lit(P))),
    sum(logicalBytes),
    sum(col("n_tok").cast("long")))

  private def of(r: org.apache.spark.sql.Row, from: Int): Fp = {
    def l(i: Int) = if (r.isNullAt(from + i)) 0L else r.getLong(from + i)
    Fp(l(0), Math.floorMod(l(1), P), Math.floorMod(l(2), P), l(3), l(4))
  }

  def apply(df: DataFrame): Fp = of(df.agg(aggs.head, aggs.tail: _*).head(), 0)

  /** One pass: a fingerprint per value of the string column `tag`. */
  def byTag(df: DataFrame, tag: String): Map[String, Fp] =
    df.groupBy(col(tag)).agg(aggs.head, aggs.tail: _*).collect()
      .map(r => r.getString(0) -> of(r, 1)).toMap
}

/** Write accounting for one table directory: every data file,
  * manifest and snapshot file that appears is counted once as written
  * (checksum side files and lineage records are not).
  */
final class DirBytes(root: String) {
  private val seen = mutable.HashMap.empty[String, Long]
  var written = 0L

  /** Lists the directory and adds the bytes of files not seen before. */
  def update(): Unit = {
    val p = java.nio.file.Paths.get(root)
    if (!Files.exists(p)) return
    val st = Files.walk(p)
    try st.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
      val k = p.relativize(f).toString
      val name = f.getFileName.toString
      val counted = (k.startsWith("data/") || k.startsWith("metadata/")) &&
        !name.startsWith(".") && !name.startsWith("_")
      if (counted && !seen.contains(k)) {
        val b = Files.size(f)
        seen(k) = b
        written += b
      }
    }
    finally st.close()
  }

  /** Marks everything present now as already counted. */
  def baseline(): Unit = { update(); written = 0L }
}

/** Table-layer size and amplification metrics at the end of a run. */
object TableMetrics {
  /** `written`: bytes of files the timed part added; `changed`: logical
    * bytes of the rows it changed; `liveLogical`: logical bytes of the
    * rows live at the end; `commits`: snapshots it created.
    */
  def put(ctx: Ctx, t: graft.table.TokenTable, written: Long, changed: Long,
      liveLogical: Long, commits: Long): Unit = {
    val s = t.current
    val files = t.filesLocal(s)
    val manifestBytes = s.manifests.map(m => treeBytes(java.nio.file.Paths.get(t.location, m))).sum
    val snapBytes = Files.size(graft.table.Format.versionFile(t.location, s.version))
    val m = ctx.metrics
    m("table.commits") = commits
    m("table.live_files") = files.size
    m("table.live_manifests") = s.manifests.size
    m("table.manifest_bytes") = manifestBytes
    m("table.bytes_written") = written
    m("table.user_bytes") = changed
    m("write_amp") = written.toDouble / math.max(1L, changed)
    m("space_amp") = (files.map(_.bytes).sum + manifestBytes + snapBytes).toDouble /
      math.max(1L, liveLogical)
  }

  def treeBytes(p: Path): Long = {
    if (!Files.exists(p)) return 0L
    val st = Files.walk(p)
    try st.iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith(".")).map(Files.size).sum
    finally st.close()
  }
}
