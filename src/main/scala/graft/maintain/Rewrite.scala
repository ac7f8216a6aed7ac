package graft.maintain

import graft.lineage.Lineage
import graft.table.{DataFile, Format, ManifestFileIndex, RowGroupCopy, Snapshot, TokenTable}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Filter

/** The copy-on-write core shared by the row-level DML operators
  * ([[Delete]], [[Update]], [[Merge]]). Each operator classifies files
  * from manifest stats and plans the row-group cold copy; [[run]] then
  * does the common tail once: read the decode set at the parent's
  * pinned physical schema, apply the operator's row transform, write
  * `data/$jobId-v$version` sorted by doc_id, record lineage, write the
  * survivor manifest, CAS-commit, and drop the hot extracts.
  */
private[maintain] object Rewrite {

  /** Result of row-group cold-copy planning over a copy-on-write DML
    * rewrite's grazed files. `fullyCold` files stay in the snapshot
    * verbatim (the predicate provably touches none of their row groups
    * despite the file-level stats saying "maybe" — possible when the
    * file's [min,max] spans a gap between row groups); `coldFiles` are
    * the bytewise column-chunk copies of cold runs inside mixed files;
    * `decodeRels` is what the rewrite must actually decode.
    */
  case class ColdPlan(
      splits: Seq[RowGroupCopy.Split],
      fullyCold: Seq[DataFile],
      coldFiles: Seq[DataFile],
      decodeRels: Seq[String],
      decodedBytes: Long) {
    def coldCopiedBytes: Long = coldFiles.map(_.bytes).sum
    /** Hot extracts served only the rewrite; drop them eagerly (orphan
      * GC would collect them, but leaving temporaries to GC hides bugs).
      */
    def dropHotExtracts(table: TokenTable, hotxDir: String): Unit =
      if (splits.exists(s => !s.allCold && s.coldFiles.nonEmpty)) {
        val hx = new org.apache.hadoop.fs.Path(s"${table.location}/$hotxDir")
        hx.getFileSystem(table.spark.sessionState.newHadoopConf())
          .delete(hx, true)
      }
  }

  /** Table-relative (cold copy, hot extract) directories of one rewrite. */
  def dirs(jobId: String, parent: Snapshot): (String, String) =
    (s"data/$jobId-v${parent.version}-cold", s"data/$jobId-v${parent.version}-hotx")

  /** Plan the row-group-level cold copy for `rw` (the partially-matching
    * files a DML rewrite would otherwise decode in full): row groups
    * whose footer stats PROVE the predicate cannot hold for any of their
    * rows ([[ManifestFileIndex.mightMatch]] applied per group — the SAME
    * decision procedure the file-level classification and the scan
    * planner use, over ALL stats columns: doc_id, source, n_tok) carry
    * over as bytewise column-chunk copies; only possibly-matching groups
    * decode. Cost then tracks the PREDICATE'S FOOTPRINT, not the grazed
    * files' full size. A predicate that can never prune a group
    * ([[ManifestFileIndex.canPrune]] false — no stats-column term, or
    * every OR arm not prunable) skips the footer reads and decodes
    * everything grazed (sound, never wrong).
    */
  def planCold(table: TokenTable, cond: Expression,
      rw: Seq[DataFile], coldDir: String, hotxDir: String): ColdPlan = {
    val splits: Seq[RowGroupCopy.Split] =
      if (rw.nonEmpty && ManifestFileIndex.canPrune(cond))
        RowGroupCopy.planAllByPredicate(table.spark,
          table.location, rw.map(_.path), coldDir, hotxDir, cond)
      else Nil
    fromSplits(splits, rw)
  }

  /** The same cold-copy planning keyed on sorted, disjoint doc_id
    * extents (MERGE's source keys, a big-list DELETE's ids): row groups
    * intersecting no extent provably hold no key. No extents = decode
    * every grazed file.
    */
  def planColdByExtents(table: TokenTable, rw: Seq[DataFile],
      extLo: Array[String], extHi: Array[String],
      coldDir: String, hotxDir: String): ColdPlan =
    fromSplits(
      if (extLo.isEmpty) Nil
      else RowGroupCopy.planAll(table.spark, table.location, rw.map(_.path),
        coldDir, hotxDir, extLo, extHi),
      rw)

  /** Assemble a [[ColdPlan]] from per-file splits; empty splits = the
    * unbounded degenerate plan (decode every grazed file).
    */
  def fromSplits(splits: Seq[RowGroupCopy.Split],
      rw: Seq[DataFile]): ColdPlan = {
    val byPath = rw.map(f => f.path -> f).toMap
    if (splits.nonEmpty)
      ColdPlan(splits,
        fullyCold = splits.filter(_.allCold).map(s => byPath(s.origPath)),
        coldFiles = splits.flatMap(_.coldFiles),
        decodeRels = splits.flatMap(_.decodeRel),
        decodedBytes = splits.map(_.decodeBytes).sum)
    else
      ColdPlan(Nil, Nil, Nil, rw.map(_.path), rw.map(_.bytes).sum)
  }

  /** Resolve + normalize a DML predicate against the table schema once,
    * on a scan plan, so classification sees bound AttributeReferences
    * (names + types checked here — an unknown column fails loudly now,
    * not mid-rewrite). ConstantFolding + NullPropagation +
    * LikeSimplification normalize the shapes the classifier recognizes
    * (LIKE 'p%' → StartsWith, literal arithmetic folded, null-literal
    * comparisons → Literal(null) so `n_tok = CAST(NULL AS INT)` and
    * `WHERE 1=0` short-circuit to the untouched class) without running
    * the full optimizer, whose other rules could dissolve the Filter
    * node itself. Shared by DELETE and UPDATE.
    */
  def resolveCondition(table: TokenTable,
      parent: Snapshot, predicate: Column): Expression = {
    import org.apache.spark.sql.catalyst.optimizer.{ConstantFolding, LikeSimplification, NullPropagation}
    val analyzed = table.scan(parent).filter(predicate).queryExecution.analyzed
    val simplified =
      LikeSimplification(ConstantFolding(NullPropagation(ConstantFolding(analyzed))))
    simplified.collectFirst { case f: Filter => f.condition }
      .getOrElse(sys.error(s"unexpected analyzed DML plan: $simplified"))
  }

  /** The committed snapshot and the files the commit added (cold copies
    * followed by the rewrite output).
    */
  case class Committed(snapshot: Snapshot, added: Seq[DataFile])

  /** Commit one copy-on-write rewrite of `parent` as operation `op`.
    *
    * `inputs` are the files the operator classified as leaving the
    * snapshot; the plan's fully-cold files among them stay. `transform`
    * maps the decoded rows to the rows to write plus the write's
    * partition columns. An empty decode set writes nothing unless the
    * transform `inserts` rows of its own (MERGE's source), in which case
    * it runs over an empty frame. `summary` receives the added files and
    * supplies the operator's own summary keys; `decoded-bytes` and
    * `cold-copied-bytes` are common to every operator and added here.
    */
  def run(table: TokenTable, parent: Snapshot, op: String, jobId: String,
      inputs: Seq[DataFile], plan: ColdPlan, inserts: Boolean = false)(
      transform: DataFrame => (DataFrame, Seq[String]))(
      summary: Seq[DataFile] => Map[String, String]): Committed = {
    val spark = table.spark
    val out =
      if (plan.decodeRels.isEmpty && !inserts) Nil
      else {
        val schema = Format.schemaOf(parent)
        val decoded =
          if (plan.decodeRels.isEmpty)
            spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
          else spark.read.schema(schema)
            .parquet(plan.decodeRels.map(p => s"${table.location}/$p"): _*)
        val (rows, partitionBy) = transform(decoded)
        // Version-scoped output dir: re-running a jobId after its commit
        // must never overwrite files the current snapshot references.
        table.writeDataFilesTo(rows, s"data/$jobId-v${parent.version}",
          overwrite = true, sortBy = Some("doc_id"), partitionBy = partitionBy)
      }
    val added = plan.coldFiles ++ out
    Lineage.completeTask(table, Lineage.TaskRecord(
      jobId, op, inputs.map(_.path), added,
      rows = added.map(_.rows).sum, tokenCount = added.map(_.sumNtok).sum,
      status = "done", durationMs = 0L))
    // Survivors = all - removed (untouched + fully-cold originals kept
    // verbatim), plus the added files — written without materializing
    // the survivor list on the driver.
    val removed = inputs.map(_.path).toSet -- plan.fullyCold.map(_.path)
    val manifest = table.writeSurvivorManifest(parent, removed, added)
    val snap = table.commit(Some(parent), op,
      addManifests = Seq(manifest), keepManifests = Nil,
      removedPaths = removed,
      summary = summary(added) ++ Map(
        "decoded-bytes" -> plan.decodedBytes.toString,
        "cold-copied-bytes" -> plan.coldCopiedBytes.toString))
    plan.dropHotExtracts(table, dirs(jobId, parent)._2)
    Committed(snap, added)
  }
}
