package graftbench

import graft.ingest.{Ingest, RawMessage}
import graft.streaming.{MaintenancePolicy, StreamingIngest}
import graft.table.TokenTable
import org.apache.spark.sql.Dataset
import scala.collection.mutable

/** `ingest_stream`: replays six pre-generated Kafka-style batches over
  * four topic-partitions through `Ingest.ingestBatch`, one snapshot per
  * batch, each followed by the streaming inline-maintenance policy
  * (compact at four small files, expire at eight live snapshots). The
  * fourth batch replays the third (all offsets already committed). Ops
  * are labelled `batch`, `batch.replay` or `batch.maintain` (a batch
  * whose inline maintenance compacted or expired). The model is the reference's first-wins rule, computed
  * here from the generator's own records.
  */
final class IngestStream extends Workload {
  import IngestStream._

  private var batches: Array[Dataset[RawMessage]] = Array.empty
  private var expects: Array[Expect] = Array.empty
  private var table: TokenTable = _
  private var dlq: String = _
  private var bytes: DirBytes = _
  private var done = 0
  private var startVersion = 0L

  def plannedOps: Int = TimedBatches

  private val policy = MaintenancePolicy(
    smallFileBytes = 256L * 1024, maxSmallFiles = 4, targetBytes = 1L << 20,
    maxLiveVersions = 8, retainVersions = 2, gcGraceMs = 0L)

  def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val (msgs, exp) = generate(ctx.seed, TimedBatches)
    batches = msgs.map(m => spark.createDataset(m))
    expects = exp
  }

  def warmUp(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    // Two small batches warm the batch path. More would also warm the
    // first compaction and expiry, but each costs seconds of set-up; the
    // timed sequence pays those once, in the same place every run.
    val (msgs, exp) = generate(ctx.seed + 7919L, 2, perPartition = 10)
    val t = TokenTable.create(spark, ctx.dir("warm/table"))
    msgs.zip(exp).foreach { case (m, e) =>
      val r = Ingest.ingestBatch(t, spark.createDataset(m), Some(ctx.dir("warm/dlq")))
      ctx.require(r.appended == e.appended, s"warm-up batch appended ${r.appended}, model ${e.appended}")
      StreamingIngest.maybeCompact(t, policy, s"warm-${r.snapshot.version}")
      StreamingIngest.maybeExpire(t, policy)
    }
    Main.wipe(ctx.work.resolve("warm"))
    table = TokenTable.create(spark, ctx.dir("table"))
    dlq = ctx.dir("dlq")
    bytes = new DirBytes(table.location)
    bytes.baseline()
    startVersion = table.currentVersion
  }

  def run(ctx: Ctx): Unit = {
    while (ctx.timeLeft && done < batches.length) {
      val i = done
      val e = expects(i)
      ctx.op("batch") {
        val r = ctx.spans("ingest.ingestBatch")(Ingest.ingestBatch(table, batches(i), Some(dlq)))
        val c = ctx.spans("streaming.maybeCompact")(
          StreamingIngest.maybeCompact(table, policy, s"auto-compact-${r.snapshot.version}"))
        val x = ctx.spans("streaming.maybeExpire")(StreamingIngest.maybeExpire(table, policy))
        (r, c, x)
      } { case (r, c, x) =>
        ctx.require(r.appended == e.appended && r.deadLettered == e.dead &&
          r.replayFiltered == e.replay && r.deduped == e.deduped,
          s"batch $i: engine (appended ${r.appended}, dead ${r.deadLettered}, " +
            s"replay ${r.replayFiltered}, deduped ${r.deduped}) vs model " +
            s"(${e.appended}, ${e.dead}, ${e.replay}, ${e.deduped})")
        compactions += c.size
        rewritten += c.map(_.bytesIn).sum
        expires += x.size
        if (e.replay > 0) ctx.relabelLast("batch.replay")
        else if (c.nonEmpty || x.nonEmpty) ctx.relabelLast("batch.maintain")
      }
      ctx.spans("table.current")(table.current)
      bytes.update()
      done += 1
    }
  }

  private var compactions = 0
  private var expires = 0
  private var rewritten = 0L

  def finish(ctx: Ctx, trace: Option[Trace]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val exp = expects.take(done)
    val model = exp.flatMap(_.rows).toSeq
      .toDF("doc_id", "tokens", "n_tok", "source")
    val want = Fp(model)
    val got = Fp(table.scan())
    ctx.require(got == want, s"table fingerprint $got, model $want")
    val deadStored = spark.read.option("recursiveFileLookup", "true").parquet(dlq).count()
    ctx.require(deadStored == exp.map(_.dead).sum,
      s"dead-letter store holds $deadStored rows, model ${exp.map(_.dead).sum}")

    val m = ctx.metrics
    val batchMs = ctx.ops.filter(_.ok).map(_.ms).toSeq
    val offered = exp.map(_.offered.toLong).sum
    m("ingest_msgs_per_s") = offered / (batchMs.sum / 1e3)
    m("ingest_batch_p90_ms") = Stats.pct(batchMs, 90)
    m("ingest.appended_rows") = exp.map(_.appended).sum
    m("ingest.deduped_rows") = exp.map(_.deduped).sum
    m("ingest.dead_letters") = exp.map(_.dead).sum
    m("ingest.replay_filtered") = exp.map(_.replay).sum
    m("ingest.append_ratio") = exp.map(_.appended).sum.toDouble / offered
    m("streaming.compactions") = compactions
    m("streaming.expires") = expires
    m("streaming.rewritten_bytes") = rewritten
    TableMetrics.put(ctx, table, bytes.written, want.bytes, want.bytes,
      table.currentVersion - startVersion)
    trace.foreach { t =>
      val calls = t.named("ingest.ingestBatch")
      m("ingest.batch_s") = Stats.median(calls.map(_.wallMs / 1e3))
      m("ingest.driver_s") = Stats.median(calls.map(t.driverMs(_) / 1e3))
      m("ingest.executor_cpu_s") = Stats.median(calls.map(t.acc(_).cpuNs / 1e9))
      m("ingest.jobs_per_batch") = Stats.median(calls.map(t.subtreeJobs(_).size.toDouble))
      m("ingest.shuffle_write_bytes") = Stats.median(calls.map(t.acc(_).shuffleWriteBytes.toDouble))
      m("streaming.maint_s") = (t.named("streaming.maybeCompact") ++
        t.named("streaming.maybeExpire")).map(_.wallMs).sum / 1e3
      m("table.snapshot_read_ms") = Stats.median(t.named("table.current").map(_.wallMs))
    }
  }
}

object IngestStream {
  val Partitions: Seq[(String, Int)] = Seq(("orders", 0), ("orders", 1), ("clicks", 0), ("clicks", 1))
  val PerPartition = 250
  val TimedBatches = 6
  val ReplayEvery = 4
  private val Sources = Array("web", "books", "code", "wiki", "forums")

  /** Expected outcome of one batch under the first-wins model. */
  final case class Expect(offered: Int, appended: Long, deduped: Long, dead: Long,
      replay: Long, rows: Seq[(String, Array[Int], Int, String)])

  private final case class Valid(topic: String, partition: Int, offset: Long,
      docId: String, tokens: Array[Int], source: String)

  /** `n` batches from `seed`. Per message: 2% unparseable, 1% missing
    * field, 1% type mismatch, 1% empty object, 3% a doc_id already used
    * earlier in the batch; then 5% of messages are redelivered
    * verbatim. Every [[ReplayEvery]]-th batch is the previous batch
    * again.
    */
  def generate(seed: Long, n: Int, perPartition: Int = PerPartition)
      : (Array[Seq[RawMessage]], Array[Expect]) = {
    val rnd = new scala.util.Random(seed)
    val cursor = mutable.Map(Partitions.map(_ -> 0L): _*)
    var docSeq = 0L
    val out = mutable.ArrayBuffer.empty[(Seq[RawMessage], Expect)]
    for (b <- 0 until n) {
      if (b % ReplayEvery == ReplayEvery - 1 && out.nonEmpty) {
        val prev = out.last._1
        out += ((prev, Expect(prev.size, 0, 0, 0, prev.size, Nil)))
      } else {
        val msgs = mutable.ArrayBuffer.empty[RawMessage]
        val valid = mutable.ArrayBuffer.empty[Valid]
        var dead = 0L
        var validCount = 0L
        for ((topic, part) <- Partitions; _ <- 0 until perPartition) {
          val off = cursor((topic, part))
          cursor((topic, part)) = off + 1
          val key = if (rnd.nextInt(10) == 0) None else Some(s"k${rnd.nextInt(1000)}")
          val r = rnd.nextInt(100)
          val docId =
            if (r >= 5 && r < 8 && valid.nonEmpty) valid(rnd.nextInt(valid.size)).docId
            else { docSeq += 1; f"s$seed%d-$docSeq%09d" }
          val len = 8 + rnd.nextInt(33)
          val tokens = Array.fill(len)(rnd.nextInt(graft.ingest.TokenGen.Vocab))
          val source = Sources(rnd.nextInt(Sources.length))
          val tok = tokens.mkString("[", ",", "]")
          val (value, ok) = r match {
            case 0 => (s"""{"doc_id":"$docId","tokens":$tok""", false)
            case 1 => (tok, false)
            case 2 => (s"""{"doc_id":"$docId","tokens":$tok,"n_tok":$len}""", false)
            case 3 => (s"""{"doc_id":"$docId","tokens":$tok,"n_tok":"many","source":"$source"}""", false)
            case 4 => ("{}", true)
            case _ => (s"""{"doc_id":"$docId","tokens":$tok,"n_tok":$len,"source":"$source"}""", true)
          }
          val copies = if (rnd.nextInt(100) < 5) 2 else 1
          for (_ <- 0 until copies) {
            msgs += RawMessage(topic, part, off, key, value)
            if (!ok) dead += 1
            else if (r != 4) validCount += 1
          }
          if (ok && r != 4) valid += Valid(topic, part, off, docId, tokens, source)
        }
        // First wins per doc_id by (offset, topic, partition).
        val winners = valid.groupBy(_.docId).values
          .map(_.minBy(v => (v.offset, v.topic, v.partition))).toSeq
        val rows = winners.map(v => (v.docId, v.tokens, v.tokens.length, v.source))
        out += ((msgs.toSeq,
          Expect(msgs.size, rows.size, validCount - rows.size, dead, 0L, rows)))
      }
    }
    (out.map(_._1).toArray, out.map(_._2).toArray)
  }
}
