package graftbench

import graft.ingest.TokenGen
import graft.table.TokenTable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.util.hashing.MurmurHash3
import Serve.Cell

/** The serving part of `maintain_cycle`: one client issues SQL through
  * the `graft` catalog against the table the maintenance cycle left.
  * Selective lookups (`WHERE doc_id BETWEEN`), 80% on the most recently
  * inserted keys and 20% uniform over the base keys, are interleaved
  * with small `MERGE INTO` upserts (updates that change tokens plus
  * inserts above the keyspace) and `DELETE FROM` of short id ranges,
  * followed by one incremental `CALL graft.system.cluster(...,
  * 'by_doc_id')`. Every lookup must return exactly the model's rows at
  * that point of the sequence; every DML statement must report the
  * model's row counts.
  *
  * `model` maps each live doc_id to [[Serve.cell]] of its row; the
  * statement sequence is planned from the seed against a copy of it.
  */
final class Serve(ctx: Ctx, model: mutable.TreeMap[String, Cell], keys: Serve.Keys) {
  import Serve._

  val ops: Array[Op] = plan()
  /** Logical bytes of the rows the statements wrote or removed. */
  var changed = 0L
  private val lookupRows = mutable.ArrayBuffer.empty[Double]
  private val dml = mutable.ArrayBuffer.empty[Map[String, String]]
  private var carried = 0.0
  private var filesRead = 0L

  private def plan(): Array[Op] = {
    val rnd = new scala.util.Random(ctx.seed * 31 + 5)
    val sim = model.clone()
    var nextInsert = keys.insertHi
    def hot(): Long = keys.insertLo + rnd.nextLong(math.max(1L, nextInsert - keys.insertLo))
    def lookup(): Op = {
      val start = if (rnd.nextInt(10) < 8) hot() else rnd.nextLong(keys.baseRows)
      Lookup(keys.id(start), keys.id(start + LookupIds - 1))
    }
    Pattern.map {
      case 'L' => lookup()
      case 'U' =>
        val live = sim.keysIteratorFrom(keys.id(hot())).take(UpsertUpdates * 3).toVector
        val upd = rnd.shuffle(live).take(UpsertUpdates)
        val ins = (0 until UpsertInserts).map(k => keys.id(nextInsert + k))
        nextInsert += UpsertInserts
        val rows = (upd ++ ins).map { d =>
          val n = 8 + rnd.nextInt(33)
          Row(d, (0 until n).map(_ => rnd.nextInt(TokenGen.Vocab)).toArray.toSeq, n, "serve")
        }
        val u = Upsert(rows)
        applyTo(sim, u)
        u
      case 'D' =>
        val start = hot()
        val d = Delete(keys.id(start), keys.id(start + DeleteIds - 1))
        applyTo(sim, d)
        d
      case 'C' => Recluster
    }.toArray
  }

  /** Each statement kind once against `loc`, untimed and unchecked. */
  def warmUp(loc: String): Unit = {
    val spark = ctx.spark
    for (op <- ops.distinctBy(_.getClass)) op match {
      case Lookup(a, b) => lookupSql(spark, loc, a, b).collect()
      case u: Upsert => spark.sql(upsertSql(loc, u.rows)).collect()
      case Delete(a, b) => spark.sql(deleteSql(loc, a, b)).collect()
      case Recluster => spark.sql(reclusterSql(loc)).collect()
    }
  }

  /** Runs the planned statements in order as timed ops against `table`. */
  def run(table: TokenTable): Unit = {
    val spark = ctx.spark
    val loc = table.location
    var i = 0
    while (ctx.timeLeft && i < ops.length) {
      ops(i) match {
        case Lookup(a, b) =>
          ctx.op("serve.lookup") {
            val df = ctx.spans("sql.analyze")(lookupSql(spark, loc, a, b))
            ctx.spans("table.lookup_plan")(df.queryExecution.executedPlan)
            ctx.spans("table.lookup_exec")(df.collect())
          } { rows =>
            val want = model.range(a, b + "\u0000").toSeq
            val got = rows.map(r => r.getString(0) -> cell(r)).sortBy(_._1).toSeq
            ctx.require(got == want, s"lookup [$a, $b]: ${got.size} rows differ from the model's ${want.size}")
            lookupRows += rows.length
          }
          if (ctx.spans.enabled) filesRead += filesFor(table, a, b)
        case u @ Upsert(rows) =>
          ctx.op("serve.upsert")(spark.sql(upsertSql(loc, rows)).collect()) { res =>
            ctx.require(res.head.getLong(3) == rows.size,
              s"upsert: source_rows ${res.head.getLong(3)}, model ${rows.size}")
            changed += rows.map(cell(_).bytes).sum
            applyTo(model, u)
            dml += table.current.summary
          }
        case d @ Delete(a, b) =>
          val gone = model.range(a, b + "\u0000").values.toSeq
          val want = gone.size
          ctx.op("serve.delete")(spark.sql(deleteSql(loc, a, b)).collect()) { res =>
            ctx.require(res.head.getLong(1) == want,
              s"delete [$a, $b]: deleted ${res.head.getLong(1)} rows, model $want")
            changed += gone.map(_.bytes).sum
            applyTo(model, d)
            dml += table.current.summary
          }
        case Recluster =>
          ctx.op("serve.recluster")(spark.sql(reclusterSql(loc)).collect()) { res =>
            carried += res.head.getInt(3)
          }
      }
      i += 1
    }
  }

  /** Files the engine's manifest pruning selects for a lookup range. */
  private def filesFor(table: TokenTable, a: String, b: String): Long = {
    val plan = table.scan().filter(col("doc_id").between(a, b)).queryExecution.executedPlan
    plan.collect { case s: FileSourceScanExec =>
      s.relation.location.listFiles(s.partitionFilters, s.dataFilters).map(_.files.size.toLong).sum
    }.sum
  }

  /** Checks the whole table against the model and fills the metrics. */
  def finish(table: TokenTable, trace: Option[Trace]): Unit = {
    val got = table.scan().collect().map(r => r.getString(0) -> cell(r)).sortBy(_._1).toSeq
    ctx.require(got == model.toSeq,
      s"table after serving (${got.size} rows) differs from the model (${model.size} rows)")
    val m = ctx.metrics
    val lookups = ctx.times("serve.lookup")
    val dmls = ctx.times("serve.upsert") ++ ctx.times("serve.delete")
    m("lookup_p50_ms") = Stats.pct(lookups, 50)
    m("lookup_p90_ms") = Stats.pct(lookups, 90)
    m("dml_p50_ms") = Stats.pct(dmls, 50)
    m("dml_p90_ms") = Stats.pct(dmls, 90)
    def sumKey(k: String) = dml.map(_.get(k).map(_.toDouble).getOrElse(0.0)).sum
    m("maintain.dml.touched_files") = sumKey("touched-files") + sumKey("rewritten-files")
    m("maintain.dml.decoded_bytes") = sumKey("decoded-bytes")
    m("maintain.dml.cold_copied_bytes") = sumKey("cold-copied-bytes")
    m("maintain.recluster.carried_files") = carried
    m("maintain.recluster.wall_s") = ctx.times("serve.recluster").sum / 1e3
    trace.foreach { t =>
      val calls = t.named("serve.lookup")
      m("sql.analyze_ms") = Stats.median(t.named("sql.analyze").map(_.wallMs))
      m("table.lookup_plan_ms") = Stats.median(t.named("table.lookup_plan").map(_.wallMs))
      m("table.lookup_exec_ms") = Stats.median(t.named("table.lookup_exec").map(_.wallMs))
      m("table.files_read_per_lookup") = filesRead.toDouble / math.max(1, calls.size)
      m("table.rows_scanned_per_row_returned") =
        calls.map(t.acc(_).recordsRead).sum.toDouble / math.max(1.0, lookupRows.sum)
    }
  }
}

object Serve {
  /** The statement sequence: L lookup, U upsert, D delete, C recluster. */
  val Pattern = "LLLULLLDLLLULLLDCLLLL"
  val LookupIds = 20
  val UpsertUpdates = 12
  val UpsertInserts = 4
  val DeleteIds = 8
  val TargetBytes: Long = 512L * 1024

  /** The keyspace: doc ids `doc_<idOff + i>`; base keys are
    * i in [0, baseRows), the most recent inserts i in [insertLo, insertHi).
    */
  final case class Keys(idOff: Long, baseRows: Long, insertLo: Long, insertHi: Long) {
    def id(i: Long): String = f"doc_${idOff + i}%012d"
  }

  sealed trait Op
  final case class Lookup(lo: String, hi: String) extends Op
  final case class Upsert(rows: Seq[Row]) extends Op
  final case class Delete(lo: String, hi: String) extends Op
  case object Recluster extends Op

  /** What the model keeps of a row: a hash of its content and its
    * logical bytes (4 B per token plus doc_id and source UTF-8).
    */
  final case class Cell(hash: Int, bytes: Int)

  /** The [[Cell]] of a (doc_id, tokens, n_tok, source) row. */
  def cell(r: Row): Cell = {
    val toks = r.getAs[scala.collection.Seq[Int]](1)
    Cell(MurmurHash3.productHash((r.getString(0), MurmurHash3.orderedHash(toks), r.getInt(2), r.getString(3))),
      4 * r.getInt(2) + r.getString(0).getBytes("UTF-8").length + r.getString(3).getBytes("UTF-8").length)
  }

  def applyTo(model: mutable.TreeMap[String, Cell], op: Op): Unit = op match {
    case Upsert(rows) => rows.foreach(r => model(r.getString(0)) = cell(r))
    case Delete(a, b) => model --= model.range(a, b + "\u0000").keys.toVector
    case _ =>
  }

  def lookupSql(spark: SparkSession, loc: String, a: String, b: String) =
    spark.sql(s"SELECT doc_id, tokens, n_tok, source FROM graft.`$loc` WHERE doc_id BETWEEN '$a' AND '$b'")

  /** The upsert as one self-contained statement: its source rows are
    * an inline VALUES list.
    */
  def upsertSql(loc: String, rows: Seq[Row]): String = {
    val values = rows.map { r =>
      val toks = r.getAs[scala.collection.Seq[Int]](1).mkString("array(", ",", ")")
      s"('${r.getString(0)}', $toks, ${r.getInt(2)}, '${r.getString(3)}')"
    }.mkString(", ")
    s"""MERGE INTO graft.`$loc` AS t
       |USING (SELECT * FROM VALUES $values AS v(doc_id, tokens, n_tok, source)) AS s
       |ON t.doc_id = s.doc_id
       |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin
  }

  /** `BETWEEN` is not used: `DELETE FROM graft.t WHERE doc_id BETWEEN a
    * AND b` fails in analysis (UnresolvedException from
    * TokenTableResolution.convertDelete).
    */
  def deleteSql(loc: String, a: String, b: String): String =
    s"DELETE FROM graft.`$loc` WHERE doc_id >= '$a' AND doc_id <= '$b'"

  def reclusterSql(loc: String): String =
    s"CALL graft.system.cluster(table => '$loc', curve => 'by_doc_id', target_bytes => $TargetBytes)"
}
