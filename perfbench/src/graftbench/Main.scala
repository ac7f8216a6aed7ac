package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** A benchmark workload. `prepare` builds the inputs and base state
  * from the seed and must be repeatable: it replaces what an earlier
  * call built. `warmUp` runs the hot code once untimed; `run` is the
  * timed closed loop; `finish` verifies the end state and fills the
  * workload's metrics.
  */
trait Workload {
  def prepare(ctx: Ctx): Unit
  def warmUp(ctx: Ctx): Unit
  def run(ctx: Ctx): Unit
  def finish(ctx: Ctx, trace: Option[Trace]): Unit
  /** How many timed operations `run` issues when none fails. */
  def plannedOps: Int
  /** How many times set-up is repeated to report its median. */
  def setupReps: Int = 3
}

/** Benchmark JVM entry point; see perfbench/README.md.
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --work <dir>
  *
  * `<work>` must be an empty directory. Writes `<work>/result.json`
  * and exits 0 when every operation succeeded and every output matched
  * its model, 1 otherwise.
  */
object Main {
  /** Spark runs `local[n]` with n = min(MaxCores, nproc). */
  val MaxCores = 4
  /** A traced run fails when, for some client operation, driver time
    * plus the time of the jobs tagged with its spans accounts for less
    * than this share of its wall time.
    */
  val MinAccountedShare = 0.95

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = a.getOrElse(k, sys.error(s"--$k is required"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") == "1"
    val work = Paths.get(arg("work")).toAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors()
    val cores = math.min(MaxCores, nproc)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val wl: Workload = workload match {
      case "ingest_stream" => new IngestStream
      case "maintain_cycle" => new MaintainCycle
      case other => sys.error(s"unknown workload '$other'")
    }
    Files.createDirectories(work)
    val load0 = graft.Bench.loadavg()
    val spark = session(work, cores)
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    val sessionMs = System.currentTimeMillis() - jvmStartMs
    val ctx = new Ctx(spark, work, seed, seconds, cores, probe,
      new Spans(trace, spark.sparkContext))

    val code = try {
      val prepMs = (1 to wl.setupReps).map { _ =>
        val t0 = System.nanoTime()
        wl.prepare(ctx)
        (System.nanoTime() - t0) / 1e6
      }
      val t1 = System.nanoTime()
      wl.warmUp(ctx)
      val warmMs = (System.nanoTime() - t1) / 1e6
      val setupS = (sessionMs + Stats.median(prepMs) + warmMs) / 1e3

      org.apache.spark.BenchBridge.drain(spark.sparkContext)
      probe.arm()
      val tRun = System.nanoTime()
      ctx.startClock()
      wl.run(ctx)
      val runS = (System.nanoTime() - tRun) / 1e9
      org.apache.spark.BenchBridge.drain(spark.sparkContext)
      // Operations the run did not reach before --seconds ran out count
      // as failed: a cut sequence would change the mix behind the metrics.
      val missing = math.max(0, wl.plannedOps - ctx.ops.size)
      if (missing > 0 && ctx.failure.isEmpty)
        ctx.failure = Some(s"--seconds ran out after ${ctx.ops.size} of ${wl.plannedOps} operations")
      val tr = if (trace) Some(new Trace(ctx.spans.all, probe.jobList)) else None
      if (ctx.failure.isEmpty)
        try wl.finish(ctx, tr)
        catch { case e: Throwable =>
          e.printStackTrace()
          ctx.failure = Some(s"finish: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      tr.foreach { t =>
        val share = t.roots.map(t.accountedShare).minOption.getOrElse(1.0)
        ctx.metrics("trace.accounted_share") = share
        if (share < MinAccountedShare && ctx.failure.isEmpty)
          ctx.failure = Some(f"trace: an operation's driver and tagged job time account for only $share%.3f of its wall time")
      }

      val okMs = ctx.ops.filter(_.ok).map(_.ms).toSeq
      val failed = ctx.ops.count(!_.ok) + missing +
        (if (ctx.failure.nonEmpty && missing == 0 && ctx.ops.forall(_.ok)) 1 else 0)
      val attempted = math.max(1, ctx.ops.size + missing)
      addSparkMetrics(ctx, runS)
      // Per op kind the median latency; their geometric mean over kinds.
      val kindMedians = ctx.ops.filter(_.ok).groupBy(_.kind).values.map(os => Stats.median(os.map(_.ms).toSeq))
      val e2e = Map(
        "setup_s" -> setupS,
        "op_p50_ms" -> math.exp(kindMedians.map(math.log).sum / math.max(1, kindMedians.size)),
        "ops_per_s" -> okMs.size / math.max(1e-9, okMs.sum / 1e3),
        "write_amp" -> ctx.metrics.getOrElse("write_amp", 0.0),
        "space_amp" -> ctx.metrics.getOrElse("space_amp", 0.0))
      ctx.metrics("ops_failed_share") = failed.toDouble / attempted
      tr.foreach { t =>
        Files.write(work.resolve("spans.jsonl"),
          (t.lines.mkString("\n") + "\n").getBytes("UTF-8"))
      }

      val calib = graft.Bench.calibrate()
      val context = Map(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
        "trace" -> trace, "nproc" -> nproc, "spark_master" -> s"local[$cores]",
        "calib_ms" -> calib, "loadavg_before" -> load0,
        "loadavg_after" -> graft.Bench.loadavg(), "data_dir" -> work.toString,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
        "ops" -> ctx.ops.size, "planned_ops" -> wl.plannedOps, "op_ms" -> ctx.ops.map(o => math.round(o.ms)), "prepare_ms" -> prepMs, "warmup_ms" -> warmMs,
        "session_ms" -> sessionMs, "timed_s" -> runS)
      val result = Map(
        "correct" -> ctx.failure.isEmpty, "attempted" -> attempted, "failed" -> failed,
        "failure" -> ctx.failure.orNull, "end_to_end" -> e2e,
        "per_layer" -> ctx.metrics, "context" -> context,
        "rollup" -> tr.map(_.rollup).getOrElse(Nil))
      Files.write(work.resolve("result.json"), Json(result).getBytes("UTF-8"))
      if (ctx.failure.isEmpty) 0 else 1
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        2
    } finally spark.stop()
    sys.exit(code)
  }

  /** Whole-run Spark engine counters. */
  private def addSparkMetrics(ctx: Ctx, runS: Double): Unit = {
    val t = ctx.probe.total
    ctx.metrics("spark.jobs") = ctx.probe.jobList.size
    ctx.metrics("spark.tasks") = t.tasks
    ctx.metrics("spark.cpu_util") = t.runMs / 1e3 / (runS * ctx.cores)
    ctx.metrics("spark.gc_s") = t.gcMs / 1e3
    ctx.metrics("spark.mem_peak_mb") = ctx.probe.memPeakBytes / 1048576.0
  }

  private def session(work: Path, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def wipe(p: Path): Unit = graft.Bench.wipeDir(p.toString)
}
