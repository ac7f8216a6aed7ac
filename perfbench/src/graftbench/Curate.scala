package graftbench

import java.security.MessageDigest
import org.apache.spark.sql.SparkSession

/** The curation part of `maintain_cycle`: `SparkEntry.queries`'s
  * `dedup_lines` (line-level first-wins dedup: the `TextGrams.tumbling`
  * kernel, two window passes and a local checkpoint) over a corpus
  * generated from the seed, fully collected and compared row by row
  * with a plain-Scala model of the query.
  *
  * Each document is a run of 10-word blocks drawn from a shared pool
  * (so whole chunks repeat across documents) plus a short unique tail;
  * the query's own input augmentation adds exact and near duplicates.
  */
object Curate {
  val Query = "dedup_lines"
  val Docs = 1500
  val PoolBlocks = 400
  private val Words = Array("the", "data", "token", "merge", "table", "spark", "file", "row",
    "scan", "commit", "graft", "lake", "page", "byte", "sort", "key", "log", "batch", "x1", "y2")

  /** Writes `<dir>/documents.parquet` and returns the model's rows
    * (doc_id, n_lines, n_kept, text_hash) sorted by doc_id.
    */
  def prepare(spark: SparkSession, dir: String, seed: Long, docs: Int = Docs): Seq[(Long, Long, Long, String)] = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed * 17 + 3)
    def word() = Words(rnd.nextInt(Words.length)) + (if (rnd.nextInt(4) == 0) rnd.nextInt(100).toString else "")
    val pool = Array.fill(PoolBlocks)(Seq.fill(10)(word()).mkString(" "))
    val corpus = (1 to docs).map { id =>
      val blocks = Seq.fill(2 + rnd.nextInt(6))(
        if (rnd.nextInt(3) == 0) Seq.fill(10)(word()).mkString(" ") else pool(rnd.nextInt(PoolBlocks)))
      val tail = Seq.fill(rnd.nextInt(10))(word())
      val text = (blocks ++ tail).mkString(" ").capitalize + "."
      (id.toLong, text, "en", "bench", text.length.toLong)
    }
    corpus.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    model(corpus.map(c => (c._1, c._2)))
  }

  /** `dedup_lines` in plain Scala: the documents augmented as
    * `Dedup.augmented` does, split into lowercase `[a-z0-9]+` words and
    * tumbling 10-word lines; a line is kept at its first occurrence in
    * (doc_id, position) order; per document the line count, the kept
    * count and the md5 of the kept lines joined by spaces.
    */
  def model(docs: Seq[(Long, String)]): Seq[(Long, Long, Long, String)] = {
    val aug = docs ++
      docs.filter(_._1 % 4 == 0).map { case (id, t) => (id + 200000, t) } ++
      docs.filter(_._1 % 5 == 0).map { case (id, t) => (id + 100000, t + " zzduplicatemarker") }
    val wordRe = "[a-z0-9]+".r
    val seen = scala.collection.mutable.HashSet.empty[String]
    aug.sortBy(_._1).flatMap { case (id, text) =>
      val lines = wordRe.findAllIn(text.toLowerCase).toVector.grouped(10).map(_.mkString(" ")).toVector
      if (lines.isEmpty) None
      else {
        val kept = lines.filter(seen.add)
        Some((id, lines.size.toLong, kept.size.toLong, md5(kept.mkString(" "))))
      }
    }
  }

  private def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  /** Runs the query over `<dir>` and collects every output row. */
  def run(spark: SparkSession, dir: String): Seq[(Long, Long, Long, String)] =
    graft.SparkEntry.queries(Query)(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).sortBy(_._1).toSeq
}
