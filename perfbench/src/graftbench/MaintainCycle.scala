package graftbench

import graft.ingest.TokenGen
import graft.maintain.{Cluster, Compact, Delete, Expire, Merge}
import graft.table.TokenTable
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `maintain_cycle`: set-up builds a TokenGen table from two appends.
  * The timed part runs, on a fresh copy of it, compact -> Z-order
  * cluster -> MERGE (5% updates that change tokens, 2% inserts) -> 2%
  * doc_id-range DELETE -> expire -> one full token scan; then the SQL
  * statements of [[Serve]] against the same table; then the
  * [[Curate]] query. After every maintenance op the table's content
  * fingerprint must equal the model's for that point (base, merged, or
  * merged-and-deleted); the serving statements are checked row by row
  * and the curation output against its own model.
  */
final class MaintainCycle extends Workload {
  import MaintainCycle._

  private var n = 0L
  private var idOff = 0L
  private var template: String = _
  private var source: String = _
  private var corpus: String = _
  private var fpBase, fpSource, fpMerged, fpFinal: Fp = _
  private var range: (String, String) = _
  private var model: mutable.TreeMap[String, Serve.Cell] = _
  private var serve: Serve = _
  private var curated: Seq[(Long, Long, Long, String)] = Nil
  private val c = new Cycle
  private var bytes: DirBytes = _

  override def setupReps: Int = 1
  def plannedOps: Int = Ops.size + Serve.Pattern.length + 1

  def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    n = BaseRows
    idOff = (ctx.seed % 1000) * 100000000L
    template = ctx.dir("template")
    source = ctx.dir("merge_source")
    corpus = ctx.dir("corpus")
    Main.wipe(Paths.get(template))
    val t = TokenTable.create(spark, template)
    for (c <- 0 until Appends) {
      val per = n / Appends
      t.append(TokenGen.asTokenRows(base(ctx, per, idOff + c * per)))
    }
    val upd = updates(ctx)
    val ins = TokenGen.generate(spark, n / 50, idOffset = idOff + n * 10,
      minLen = MinLen, maxLen = MaxLen, numPartitions = ctx.cores)
    upd.unionByName(ins).write.mode("overwrite").parquet(source)

    val lo = f"doc_${idOff + n / 4}%012d"
    val hi = f"doc_${idOff + n / 4 + n / 50}%012d"
    range = (lo, hi)
    // One pass over the generated rows: base rows the MERGE replaces,
    // base rows the DELETE removes, the other base rows, and the source.
    val updHi = f"doc_${idOff + n / 20}%012d"
    val tagged = TokenGen.asTokenRows(base(ctx, n, idOff)).withColumn("tag",
      when(col("doc_id") < updHi, "base_upd")
        .when(col("doc_id") >= lo && col("doc_id") < hi, "base_del").otherwise("base_keep"))
      .unionByName(TokenGen.asTokenRows(upd).withColumn("tag", lit("src")))
      .unionByName(TokenGen.asTokenRows(ins).withColumn("tag", lit("src")))
    val fp = Fp.byTag(tagged, "tag").withDefaultValue(Fp.Zero)
    fpBase = fp("base_upd") + fp("base_del") + fp("base_keep")
    fpSource = fp("src")
    fpMerged = fp("base_del") + fp("base_keep") + fp("src")
    fpFinal = fp("base_keep") + fp("src")
    // The row-level model the serving statements start from: the rows
    // live after the cycle.
    model = mutable.TreeMap.empty[String, Serve.Cell] ++
      tagged.filter(col("tag").isin("base_keep", "src")).select("doc_id", "tokens", "n_tok", "source")
        .rdd.map(r => r.getString(0) -> Serve.cell(r)).collect()
    serve = new Serve(ctx, model, Serve.Keys(idOff, n, n * 10, n * 10 + n / 50))
    curated = Curate.prepare(spark, corpus, ctx.seed)
  }

  private def base(ctx: Ctx, rows: Long, offset: Long): DataFrame =
    TokenGen.generate(ctx.spark, rows, idOffset = offset, minLen = MinLen, maxLen = MaxLen,
      numPartitions = ctx.cores)

  /** The first 5% of the keyspace with new token content: a different
    * length and tokens drawn from a different hash stream.
    */
  private def updates(ctx: Ctx): DataFrame =
    base(ctx, n / 20, idOff)
      .withColumn("n_tok", (col("n_tok") % 37 + 8).cast("int"))
      .withColumn("tokens", graft.functions.GenOps.tokenSeq(
        concat(col("doc_id"), lit("/u")), col("n_tok"), TokenGen.Vocab))

  /** One untimed cycle on a small table built like the template, each
    * serving statement kind once on the table it leaves, and the
    * curation query on a small corpus.
    */
  def warmUp(ctx: Ctx): Unit = {
    val small = ctx.dir("warm_template")
    val smallCorpus = ctx.dir("warm_corpus")
    Main.wipe(Paths.get(small))
    TokenTable.create(ctx.spark, small).append(TokenGen.asTokenRows(base(ctx, n / 4, idOff)))
    serve.warmUp(cycle(ctx, small, warm = true).location)
    Curate.prepare(ctx.spark, smallCorpus, ctx.seed + 1, docs = Curate.Docs / 8)
    Curate.run(ctx.spark, smallCorpus)
    Main.wipe(Paths.get(small))
    Main.wipe(Paths.get(smallCorpus))
  }

  def run(ctx: Ctx): Unit = {
    val t = cycle(ctx, template, warm = false)
    if (ctx.timeLeft) serve.run(t)
    if (ctx.timeLeft)
      ctx.op(s"curate.${Curate.Query}")(Curate.run(ctx.spark, corpus)) { got =>
        ctx.require(got == curated, s"${Curate.Query}: ${got.size} output rows differ from the model's ${curated.size}")
      }
    bytes.update()
    c.table = t
  }

  /** One maintenance cycle on a fresh copy of `from`; returns the table. */
  private def cycle(ctx: Ctx, from: String, warm: Boolean): TokenTable = {
    val spark = ctx.spark
    val loc = ctx.dir("cycle")
    Main.wipe(Paths.get(loc))
    copyTree(from, loc)
    val t = TokenTable.open(spark, loc)
    if (!warm) {
      bytes = new DirBytes(loc)
      bytes.baseline()
    }
    // Compaction packs the appends' files into about two; clustering
    // then lays the table out in about eight files, so MERGE and DELETE
    // have files to prune.
    val tableBytes = t.filesLocal(t.current).map(_.bytes).sum
    val compactBytes = tableBytes / 2 + 1
    val clusterBytes = tableBytes / 8 + 1
    def check(stage: String, want: Fp): Unit = {
      val got = Fp(t.scan())
      ctx.require(got == want, s"after $stage: table fingerprint $got, model $want")
    }
    def step[A](name: String)(f: => A)(after: A => Unit): Unit =
      if (warm) f
      else ctx.op(s"maintain.$name")(f)(after).foreach(_ => ())
    val jobBase = s"bench-${if (warm) "w" else "t"}"
    step("compact")(Compact.run(t, compactBytes, s"$jobBase-compact", parallelism = ctx.cores)) { r =>
      c.compact = r; check("compact", fpBase)
    }
    step("cluster")(Cluster.run(t, Cluster.ZOrder, s"$jobBase-cluster", targetBytes = clusterBytes)) { r =>
      c.cluster = r; check("cluster", fpBase)
    }
    step("merge")(Merge.mergeInto(t, spark.read.parquet(source), "offset", s"$jobBase-merge")) { r =>
      c.merge = r; check("merge", fpMerged)
    }
    step("delete")(Delete.deleteWhere(t,
      col("doc_id") >= range._1 && col("doc_id") < range._2, s"$jobBase-delete")) { r =>
      c.delete = r
      ctx.require(r.deletedRows == fpMerged.rows - fpFinal.rows,
        s"delete removed ${r.deletedRows} rows, model ${fpMerged.rows - fpFinal.rows}")
      check("delete", fpFinal)
    }
    step("expire")(Expire.run(t, retainLast = 1, graceMs = 0L)) { r =>
      c.expire = r; check("expire", fpFinal)
    }
    step("scan")(Fp(t.scan())) { got =>
      ctx.require(got == fpFinal, s"scan fingerprint $got, model $fpFinal")
    }
    t
  }

  def finish(ctx: Ctx, trace: Option[Trace]): Unit = {
    val t = c.table
    serve.finish(t, trace)
    val m = ctx.metrics
    def sec(kind: String) = ctx.times(kind).sum / 1e3
    m("maintain_s") = Ops.filterNot(_ == "scan").map(op => sec(s"maintain.$op")).sum
    m("cluster_s") = sec("maintain.cluster")
    m("merge_s") = sec("maintain.merge")
    m("scan_tokens_per_s") = fpFinal.tokens / sec("maintain.scan")
    m("curate_s") = sec(s"curate.${Curate.Query}")
    m("maintain.compact.files_in") = c.compact.filesIn
    m("maintain.compact.files_out") = c.compact.filesOut
    m("maintain.cluster.rewritten_bytes") = c.cluster.rewrittenBytes.toDouble
    m("maintain.cluster.salted_buckets") = c.cluster.saltedBuckets
    m("maintain.merge.touched_files") = c.merge.touchedFiles
    m("maintain.merge.decoded_bytes") = c.merge.decodedBytes.toDouble
    m("maintain.merge.cold_copied_bytes") = c.merge.coldCopiedBytes.toDouble
    m("maintain.delete.rewritten_files") = c.delete.rewrittenFiles
    m("maintain.delete.decoded_bytes") = c.delete.decodedBytes.toDouble
    m("maintain.delete.cold_copied_bytes") = c.delete.coldCopiedBytes.toDouble
    m("maintain.expire.deleted_files") = c.expire.deletedFiles.toDouble
    m("lineage.resumed_tasks") = c.compact.resumedTasks
    // User bytes changed: the rows MERGE writes, the rows DELETE
    // removes, and the rows the serving statements write or remove.
    val changed = fpSource.bytes + (fpMerged.bytes - fpFinal.bytes) + serve.changed
    TableMetrics.put(ctx, t, bytes.written, changed, model.values.map(_.bytes.toLong).sum,
      t.currentVersion - Appends)
    trace.foreach { tr =>
      for (op <- Ops) {
        val ss = tr.named(s"maintain.$op")
        val p = s"maintain.$op"
        m(s"$p.wall_s") = ss.map(_.wallMs / 1e3).sum
        m(s"$p.driver_s") = ss.map(tr.driverMs(_) / 1e3).sum
        m(s"$p.executor_cpu_s") = ss.map(tr.acc(_).cpuNs / 1e9).sum
        m(s"$p.shuffle_write_bytes") = ss.map(tr.acc(_).shuffleWriteBytes.toDouble).sum
        m(s"$p.output_bytes") = ss.map(tr.acc(_).outputBytes.toDouble).sum
        m(s"$p.spill_bytes") = ss.map(tr.acc(_).spillBytes.toDouble).sum
      }
      // Whether the maintenance ops are bound by fixed driver-side cost
      // (planning, footers, manifests, commits) or by data-path work.
      m("maintain.driver_share") = Ops.map(op => m(s"maintain.$op.driver_s")).sum /
        Ops.map(op => m(s"maintain.$op.wall_s")).sum
      val q = tr.named(s"curate.${Curate.Query}")
      m(s"ops.${Curate.Query}.wall_s") = q.map(_.wallMs / 1e3).sum
      m(s"ops.${Curate.Query}.executor_cpu_s") = q.map(tr.acc(_).cpuNs / 1e9).sum
      m(s"ops.${Curate.Query}.shuffle_write_bytes") = q.map(tr.acc(_).shuffleWriteBytes.toDouble).sum
    }
  }

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    val st = Files.walk(src)
    try st.iterator().asScala.foreach { p =>
      val q = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }
    finally st.close()
  }
}

object MaintainCycle {
  val BaseRows = 48000L
  val Appends = 2
  val MinLen = 32
  val MaxLen = 160
  val Ops: Seq[String] = Seq("compact", "cluster", "merge", "delete", "expire", "scan")

  final class Cycle {
    var compact: Compact.Result = _
    var cluster: Cluster.Result = _
    var merge: Merge.Result = _
    var delete: Delete.Result = _
    var expire: Expire.Result = _
    var table: TokenTable = _
  }
}
