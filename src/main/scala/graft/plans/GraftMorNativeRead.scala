package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.sources.{Filter => SourceFilter}
import org.apache.spark.sql.{functions => F, GraftColumnBridge}
import graft.sources.{FilterTranslation, GraftSqlTable}

/**
 * The SQL read path of every DataFrame-backed graft relation: splices the
 * relation's reader plan — for MoR-pending snapshots the distributed
 * merge LogicalPlan (keep-latest-per-key + tombstone anti-join, the plan
 * [[graft.sources.GraftCatalog.read]] builds), for `t$audit_log` the
 * changelog plan — DIRECTLY under the query in place of the
 * `DataSourceV2Relation`, so a SQL read of an uncompacted PK table
 * executes as ordinary Catalyst operators: vectorized parquet scans,
 * whole-stage codegen, real statistics. The reference hands its engine
 * columnar pages with merge-at-read (TrinoPageSourceBase.java); this is
 * the Spark-native equivalent of that parity point.
 *
 * Injected at PRE-CBO: after the operator-optimization fixed point, so
 * filters sit adjacent to the relation (the rule sees the final pushable
 * set — bucket point-lookups and zone pruning keep working), and before
 * V2ScanRelationPushDown, so the relation's own scan is never built. The
 * spliced subtree is pre-optimized in isolation (the same nested-
 * optimizer pattern as Catalyst's own OptimizeSubqueries), which prunes
 * its columns to the outer query's requirement and normalizes any
 * operator the remaining batches no longer rewrite.
 *
 * Read-position relations only: `DeleteFromTable` keeps its relation —
 * DataSourceV2Strategy resolves the SupportsDelete pushdown from the
 * relation node itself. UPDATE/MERGE were already rewritten to leaf
 * commands at resolution (GraftDml) whose carried plans re-enter the
 * optimizer — and get this splice — when the command executes. There is
 * no other read path: a relation left unspliced (no extension in the
 * session) plans a scan that fails when executed, and a reader plan
 * whose columns do not line up with the relation's fails the query.
 */
class GraftMorNativeRead extends Rule[LogicalPlan] with PredicateHelper {

  private def morTable(rel: DataSourceV2Relation): Option[GraftSqlTable] =
    rel.table match {
      case t: GraftSqlTable if t.morReader.isDefined => Some(t)
      case _ => None
    }

  override def apply(p: LogicalPlan): LogicalPlan = p match {
    // DELETE pushdown hangs off the relation node — leave the whole
    // subtree alone (its condition is delta-sized work anyway).
    case d: DeleteFromTable => d
    case proj @ Project(_, f @ Filter(cond, rel: DataSourceV2Relation))
        if morTable(rel).isDefined =>
      proj.copy(child = f.copy(child = splice(rel, Some(cond),
        (proj.references ++ cond.references).toSeq.filter(rel.outputSet.contains))))
    case f @ Filter(cond, rel: DataSourceV2Relation) if morTable(rel).isDefined =>
      f.copy(child = splice(rel, Some(cond), rel.output))
    case proj @ Project(_, rel: DataSourceV2Relation) if morTable(rel).isDefined =>
      proj.copy(child = splice(rel, None,
        proj.references.toSeq.filter(rel.outputSet.contains)))
    case rel: DataSourceV2Relation if morTable(rel).isDefined =>
      splice(rel, None, rel.output)
    case other => other.mapChildren(apply)
  }

  /** The reader plan for `rel`, pruned to `required` and re-keyed to the
    * relation's exprIds. The enclosing Filter/Project stay on top
    * unchanged — the reader's superset contract (bucket routing, zone
    * pruning) needs the re-application. */
  private def splice(rel: DataSourceV2Relation, cond: Option[Expression],
      required: Seq[Attribute]): LogicalPlan = {
    val table = morTable(rel).get
    // the final pushable set: deterministic conjuncts with a source-
    // filter translation
    val pushed: Array[SourceFilter] = cond.toSeq
      .flatMap(splitConjunctivePredicates).filter(_.deterministic)
      .flatMap(e => GraftColumnBridge.translateFilter(e))
      .filter(f => FilterTranslation.toColumn(f).isDefined)
      .toArray
    val merged = table.morReader.get(pushed)
    // bake the pushable predicate into the subtree so its OWN optimizer
    // pass drives it into the parquet scans where legal (the outer Filter
    // re-applies it regardless — required for the superset contract)
    val filtered = FilterTranslation.toCondition(pushed) match {
      case Some(c) if pushed.nonEmpty => merged.filter(c)
      case _ => merged
    }
    val pruned = filtered.select(required.map(a => F.col(a.name)): _*)
    // nested optimization, the OptimizeSubqueries pattern: prunes the
    // merge plan's columns/filters before it joins the outer tree (the
    // outer optimizer batches that do that work have already run)
    val sub = pruned.queryExecution.optimizedPlan
    // name resolution follows the SESSION's case sensitivity; a name
    // that is missing, ambiguous or of another type would bind the wrong
    // column — fail the query with both schemas named
    val caseSensitive =
      org.apache.spark.sql.internal.SQLConf.get.caseSensitiveAnalysis
    def nameKey(n: String): String =
      if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)
    val byName = sub.output.groupBy(a => nameKey(a.name))
    val aligned = required.map { o =>
      byName.get(nameKey(o.name)).collect {
        case Seq(a) if GraftColumnBridge.compatibleType(a.dataType, o.dataType) =>
          Alias(a, o.name)(exprId = o.exprId, qualifier = o.qualifier,
            explicitMetadata = Some(o.metadata))
      }.getOrElse(throw new IllegalStateException(
        s"${table.name()}: the reader plan's columns " +
          s"${sub.schema.simpleString} do not line up with the relation's " +
          s"${rel.schema.simpleString} at column `${o.name}`"))
    }
    val projected = Project(aligned, sub)
    // ANALYZE statistics for the scanned snapshot, pinned onto the
    // spliced subtree (r15): the subtree's own estimate is compressed
    // version-file bytes through join/window propagation — neither the
    // post-merge row count nor the logical width. With the pin, a
    // logically-small MoR dim auto-broadcasts and CBO sees rows/NDV
    // exactly as on raw-file scans. The analyzed-snapshot ==
    // scanned-snapshot gate lives in GraftSqlTable.cboStats (stale stats
    // are never served).
    table.cboStats match {
      case Some((rows, cols)) =>
        GraftStatsPin(projected, graft.sources.GraftCboStats
          .toCatalyst(rows, projected.output, cols))
      case None => projected
    }
  }
}
