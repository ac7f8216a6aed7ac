package graft.plans

import graft.table.TokenTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.EqualTo
import org.apache.spark.sql.catalyst.plans.logical.{InsertStarAction, LogicalPlan, MergeIntoTable, UpdateStarAction}
import org.apache.spark.sql.catalyst.rules.Rule

/** Catalyst resolution rule: `SELECT ... FROM graft.`/path/to/table``
  * resolves to the TokenTable's current-snapshot scan,
  * `graft_v<N>.`/path`` time-travels to version N, and
  * `MERGE INTO graft.`/path`` compiles to [[GraftMergeCommand]], and
  * `DELETE FROM graft.`/path` WHERE ...` to [[GraftDeleteCommand]] — so
  * read, upsert and row-delete SQL text all reach the table format
  * without a full DSv2 catalog (SURVEY.md §4.2 lists the DSv2 catalog
  * as a stretch goal; this rule is the Catalyst-native middle step and
  * exercises the `Rule[LogicalPlan]` extension point).
  *
  * Injected via [[graft.GraftExtensions]] (`injectResolutionRule`).
  * Traversal is TOP-DOWN: a MergeIntoTable must convert as a whole
  * before the bottom-up relation rewrite would dissolve its target
  * UnresolvedRelation into a scan (losing the table path).
  */
case class TokenTableResolution(spark: SparkSession) extends Rule[LogicalPlan] {
  private val Versioned = "graft_v(\\d+)".r
  private val Changes = "graft_changes_v(\\d+)_v(\\d+)".r

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsDown {
    case d: org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable =>
      stripAlias(d.table) match {
        case UnresolvedRelation(Seq(ns, path), _, _) if ns == "graft" && TokenTable.exists(path) =>
          convertDelete(d.condition, path)
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
            if r.table.isInstanceOf[graft.sql.GraftTable] =>
          convertDelete(d.condition, r.table.asInstanceOf[graft.sql.GraftTable].location)
        case _ => d
      }
    case u: org.apache.spark.sql.catalyst.plans.logical.UpdateTable =>
      stripAlias(u.table) match {
        case UnresolvedRelation(Seq(ns, path), _, _) if ns == "graft" && TokenTable.exists(path) =>
          convertUpdate(u, path)
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
            if r.table.isInstanceOf[graft.sql.GraftTable] =>
          convertUpdate(u, r.table.asInstanceOf[graft.sql.GraftTable].location)
        case _ => u
      }
    case m: MergeIntoTable =>
      stripAlias(m.targetTable) match {
        case UnresolvedRelation(Seq(ns, path), _, _) if ns == "graft" && TokenTable.exists(path) =>
          convertMerge(m, path)
        // A session with the graft DSv2 catalog registered resolves the
        // target through the catalog before this rule sees it — accept
        // the catalog-resolved relation too, so MERGE works with catalog
        // + extensions without SupportsRowLevelOperations machinery.
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
            if r.table.isInstanceOf[graft.sql.GraftTable] =>
          convertMerge(m, r.table.asInstanceOf[graft.sql.GraftTable].location)
        case _ => m
      }
    case UnresolvedRelation(Seq(ns, path), _, _) if isGraft(ns) && TokenTable.exists(path) =>
      val t = TokenTable.open(spark, path)
      ns match {
        // Incremental append delta: rows added in (vA, vB]. The logical
        // re-labelling uses the TO-snapshot's schema (the view a
        // consumer of that version sees).
        case Changes(a, b) =>
          graft.table.SchemaEvolution.aliasToLogical(
            t.scanChanges(a.toLong, b.toLong),
            graft.table.Format.schemaOf(t.snapshotAt(b.toLong)))
            .queryExecution.analyzed
        case Versioned(v) =>
          t.scanLogical(t.snapshotAt(v.toLong)).queryExecution.analyzed
        case _ => t.scanLogical(t.current).queryExecution.analyzed
      }
    case u => u
  }

  /** Supported MERGE shape — the engine's dedup-upsert (north-star M6):
    * `ON t.doc_id = s.doc_id WHEN MATCHED THEN UPDATE SET * WHEN NOT
    * MATCHED THEN INSERT *`, both clauses unconditional. Anything else
    * (conditional clauses, DELETE, explicit assignments, by-source
    * clauses, non-doc_id keys) fails loudly rather than silently
    * diverging from ANSI MERGE semantics.
    */
  private def convertMerge(m: MergeIntoTable, path: String): LogicalPlan = {
    def bad(reason: String): Nothing =
      throw new UnsupportedOperationException(
        s"MERGE INTO graft.`$path`: $reason (supported form: ON t.doc_id = " +
          "s.doc_id WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *)")
    // Attributes may arrive unresolved (manual rule application on the
    // parsed plan) or resolved (an analyzer pass in a catalog session
    // resolved references — and expanded star actions — before this
    // extension rule ran). Accept both spellings of the same shape.
    def attrName(e: org.apache.spark.sql.catalyst.expressions.Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.nameParts.last)
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => Some(a.name)
      // Star expansion wraps values for non-null targets / type coercion.
      case org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull(child, _) =>
        attrName(child)
      case c: org.apache.spark.sql.catalyst.expressions.Cast => attrName(c.child)
      case a: org.apache.spark.sql.catalyst.expressions.Alias => attrName(a.child)
      case _ => None
    }
    // Star-expanded assignments are `t.col = s.col` per column, names
    // pairwise equal — semantically SET *.
    def isStarAssignments(as: Seq[org.apache.spark.sql.catalyst.plans.logical.Assignment]): Boolean =
      as.nonEmpty && as.forall(a =>
        (attrName(a.key), attrName(a.value)) match {
          case (Some(k), Some(v)) => k == v
          case _ => false
        })
    // ON-clause key validation is LENIENT about stale/storage-name
    // spellings, unlike DELETE/UPDATE's strict translator: the
    // condition is never bound (the command always merges on the
    // physical doc_id key), and one side of the EqualTo is the SOURCE
    // relation's own column — which may legitimately be named doc_id
    // even when the target renamed its key — so strict rejection here
    // would break valid statements it cannot distinguish.
    val l2p = graft.table.SchemaEvolution
      .logicalToPhysical(TokenTable.open(spark, path).schema)
    def toPhys(n: String): String = l2p.getOrElse(n.toLowerCase, n)
    m.mergeCondition match {
      // Both sides must be the merge key — mapped through the rename
      // table so `ON t.id = s.id` works after RENAME doc_id TO id
      // (source columns mirror the target's logical names in the star
      // form this engine supports).
      case EqualTo(l, r)
        if attrName(l).map(toPhys).contains("doc_id") &&
           attrName(r).map(toPhys).contains("doc_id") => ()
      case other => bad(s"unsupported merge condition $other")
    }
    m.matchedActions match {
      case Seq(UpdateStarAction(None)) => ()
      case Seq(org.apache.spark.sql.catalyst.plans.logical.UpdateAction(None, as, _))
        if isStarAssignments(as) => ()
      case other => bad(s"unsupported matched actions $other")
    }
    m.notMatchedActions match {
      case Seq(InsertStarAction(None)) => ()
      case Seq(org.apache.spark.sql.catalyst.plans.logical.InsertAction(None, as))
        if isStarAssignments(as) => ()
      case other => bad(s"unsupported not-matched actions $other")
    }
    if (m.notMatchedBySourceActions.nonEmpty)
      bad("not-matched-by-source clauses are unsupported")
    GraftMergeCommand(path, m.sourceTable)
  }

  /** `DELETE FROM graft.\`path\` WHERE cond` → [[GraftDeleteCommand]].
    * The stored condition must be RESOLVED (the analyzer rejects a
    * command carrying unresolved expressions), so it is bound here
    * against the table's own scan — re-anchored by name first, because
    * a catalog session's analyzer may already have bound it to the DSv2
    * relation's attribute ids. Unknown columns fail loudly here, at
    * analysis time.
    */
  /** User SQL addresses LOGICAL column names; the DML machinery and the
    * physical scan it binds against use PHYSICAL names. Built ONCE per
    * statement (one snapshot read), not per attribute. Names that are
    * not logical names of the CURRENT schema are rejected when they
    * collide with a storage name — otherwise a stale pre-rename name
    * would silently keep working in DML while SELECT rejects it — and
    * passed through (to fail loudly at bind) when they match nothing.
    */
  private def translator(path: String): String => String = {
    val phys = TokenTable.open(spark, path).schema
    val l2p = graft.table.SchemaEvolution.logicalToPhysical(phys)
    val storageNames = phys.fieldNames.map(_.toLowerCase).toSet
    (name: String) => l2p.get(name.toLowerCase) match {
      case Some(p) => p
      case None if storageNames(name.toLowerCase) =>
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "UNRESOLVED_COLUMN.WITH_SUGGESTION",
          messageParameters = Map(
            "objectName" -> s"`$name`",
            "proposal" -> l2p.keys.map(k => s"`$k`").mkString(", ")))
      case None => name // unknown: binding against the scan fails loudly
    }
  }

  /** Catalyst's own lowering of RuntimeReplaceable wrappers (what the
    * optimizer's ReplaceExpressions does, plus inlining the `With` a
    * wrapper may build). An analyzed `x BETWEEN a AND b` holds a `With`
    * whose references cache their definition's data type, so replacing
    * its resolved attribute by an unresolved name — the by-name
    * re-anchoring below — cannot rebuild it. The lowered form
    * `x >= a AND x <= b` means the same and re-anchors cleanly. A `With`
    * over a nondeterministic definition stays (inlining would evaluate
    * it twice).
    */
  private def lowered(e: org.apache.spark.sql.catalyst.expressions.Expression) = {
    import org.apache.spark.sql.catalyst.expressions.{CommonExpressionRef, RuntimeReplaceable, With}
    e.transformUp {
      case w: With if w.defs.forall(_.child.deterministic) =>
        val defs = w.defs.map(d => d.id -> d.child).toMap
        w.child.transform { case r: CommonExpressionRef => defs(r.id) }
      case r: RuntimeReplaceable => r.replacement
    }
  }

  private def convertDelete(condition: org.apache.spark.sql.catalyst.expressions.Expression,
      path: String): LogicalPlan = {
    val toPhys = translator(path)
    val byName = lowered(condition).transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        UnresolvedAttribute(Seq(toPhys(a.name)))
      case a: UnresolvedAttribute =>
        UnresolvedAttribute(Seq(toPhys(a.nameParts.last)))
    }
    val bound = TokenTable.open(spark, path).scan()
      .filter(org.apache.spark.sql.GraftSqlBridge.column(byName))
      .queryExecution.analyzed
      .collectFirst { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }
      .getOrElse(throw new IllegalStateException(
        s"DELETE FROM graft.`$path`: condition did not analyze to a filter"))
    GraftDeleteCommand(path, bound)
  }

  /** `UPDATE graft.\`path\` SET c = e, ... [WHERE cond]` →
    * [[GraftUpdateCommand]]. Assignment values and the condition are
    * bound against the table's scan (the analyzer rejects commands with
    * unresolved expressions; Update re-anchors by name at run time).
    * Assignment KEYS must be plain columns — and not doc_id, which
    * [[graft.maintain.Update]] rejects as the clustering key.
    */
  private def convertUpdate(u: org.apache.spark.sql.catalyst.plans.logical.UpdateTable,
      path: String): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Literal}
    import org.apache.spark.sql.GraftSqlBridge
    val toPhys = translator(path)
    def keyName(e: org.apache.spark.sql.catalyst.expressions.Expression): String = e match {
      case a: UnresolvedAttribute => toPhys(a.nameParts.last)
      case a: AttributeReference => toPhys(a.name)
      case other => throw new UnsupportedOperationException(
        s"UPDATE graft.`$path`: unsupported assignment target $other (plain columns only)")
    }
    def byName(e: org.apache.spark.sql.catalyst.expressions.Expression) = lowered(e).transform {
      case a: AttributeReference => UnresolvedAttribute(Seq(toPhys(a.name)))
      case a: UnresolvedAttribute =>
        UnresolvedAttribute(Seq(toPhys(a.nameParts.last)))
    }
    val scan = TokenTable.open(spark, path).scan()
    // Bind each value expression by projecting it over the scan.
    val boundAssigns = u.assignments.map { a =>
      val name = keyName(a.key)
      val bound = scan.select(GraftSqlBridge.column(byName(a.value)).as("__v"))
        .queryExecution.analyzed
        .collectFirst {
          case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
            p.projectList.head match {
              case al: org.apache.spark.sql.catalyst.expressions.Alias => al.child
              case e => e
            }
        }
        .getOrElse(throw new IllegalStateException(
          s"UPDATE graft.`$path`: assignment to `$name` did not analyze"))
      name -> bound
    }
    val cond = u.condition.getOrElse(Literal.TrueLiteral)
    val boundCond = scan.filter(GraftSqlBridge.column(byName(cond)))
      .queryExecution.analyzed
      .collectFirst { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }
      .getOrElse(Literal.TrueLiteral)
    GraftUpdateCommand(path, boundAssigns, boundCond)
  }

  /** `MERGE INTO x AS t` parses the target as SubqueryAlias(t, rel). */
  private def stripAlias(p: LogicalPlan): LogicalPlan = p match {
    case org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(_, child) =>
      stripAlias(child)
    case other => other
  }

  private def isGraft(ns: String): Boolean =
    ns == "graft" || Versioned.pattern.matcher(ns).matches() ||
      Changes.pattern.matcher(ns).matches()
}
