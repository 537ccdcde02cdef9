package graft.plans

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Expression, KnownNotNull, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.arrow.{ArrowDataSource, ArrowTable}

/** Materialized-view QUERY REWRITE over the incrementally maintained
  * views ([[graft.streaming.IncrementalView]]) — the optimizer half of
  * the warehouse MV contract: a registered view answers the aggregate
  * it maintains without touching the fact table.
  *
  * A registry entry records `view = SELECT groupCols, COUNT(*) AS n,
  * SUM(col) AS alias… FROM src GROUP BY groupCols` plus the source
  * epoch the view is SYNCED THROUGH. [[RewriteToMaterializedView]]
  * then replaces any logical `Aggregate` of exactly that shape over
  * the source's relation with a scan of the view — but ONLY while the
  * source's latest committed epoch still equals the synced epoch: a
  * stale view silently falls back to the fact scan (correctness
  * before speed; re-refresh to re-arm). At 100 TB this is the
  * difference between a dashboard group-by costing a petabyte scan
  * and costing a few-row view read, with staleness decided by the
  * table log, not by trust.
  *
  * Matching is deliberately STRICT — grouping columns must be bare
  * attributes, aggregates must be `count(*)`/`count(1)` or
  * `sum(col)` over a registered measure column, and the aggregate's
  * child must be the source relation (possibly behind a pure-attribute
  * Project). Anything else falls through untouched. NOTE the
  * maintained-view contract: SUM state treats all-NULL groups as 0
  * (integral-units contract documented on IncrementalView), so
  * register only measures that are non-null by construction.
  */
object MaterializedViews {
  final case class Entry(srcDir: String, viewDir: String,
      groupCols: Seq[String], sums: Seq[(String, String)],
      syncedEpoch: Long)

  private val entries =
    scala.collection.concurrent.TrieMap.empty[String, Entry]

  private def norm(p: String): String =
    Paths.get(p).toAbsolutePath.normalize.toString

  def register(srcDir: String, viewDir: String, groupCols: Seq[String],
      sums: Seq[(String, String)], syncedEpoch: Long): Unit = {
    entries.put(norm(srcDir),
      Entry(norm(srcDir), norm(viewDir), groupCols, sums, syncedEpoch))
    ()
  }

  def deregister(srcDir: String): Unit = { entries.remove(norm(srcDir)); () }
  def clear(): Unit = entries.clear()
  def isEmpty: Boolean = entries.isEmpty
  def lookup(srcDir: String): Option[Entry] = entries.get(norm(srcDir))

  /** Drain the source's change feed into the view, then (re-)register
    * it synced through the epoch observed BEFORE the drain started —
    * conservative: epochs committed mid-drain leave the view
    * registered stale and the rewrite disarmed until the next refresh. */
  def refreshAndRegister(spark: SparkSession, srcDir: String,
      viewDir: String, groupCols: Seq[String],
      sums: Seq[(String, String)], checkpoint: String): Unit = {
    val e0 = ArrowDataSource.latestCommittedEpoch(
      Paths.get(srcDir).toAbsolutePath.normalize)
    val q = graft.streaming.IncrementalView.maintain(spark, srcDir,
      viewDir, groupCols, sums, checkpoint)
    try q.processAllAvailable() finally q.stop()
    register(srcDir, viewDir, groupCols, sums, e0)
  }
}

/** The injected `Rule[LogicalPlan]` (see [[MaterializedViews]]). */
object RewriteToMaterializedView extends Rule[LogicalPlan] {
  import MaterializedViews._

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (MaterializedViews.isEmpty) plan
    else plan.transformUp {
      case agg @ Aggregate(groups, aggExprs, child, _) =>
        tryRewrite(groups, aggExprs, child).getOrElse(agg)
    }

  /** The arrow relation's normalized path, when `plan` is one (or a
    * pure-attribute Project over one) reading the table's CURRENT
    * state. A relation carrying time-travel, change-feed, or
    * explicit-file options answers a DIFFERENT question than the
    * maintained view — the rewrite must never touch it. */
  private def relationPath(plan: LogicalPlan): Option[String] = plan match {
    case Project(ps, inner) if ps.forall(_.isInstanceOf[AttributeReference]) =>
      relationPath(inner)
    case r: DataSourceV2Relation =>
      val opts = r.options
      val nonCurrent = Seq("epochAsOf", "timestampAsOf", "readChangeFeed",
        "files", "startingEpoch", "endingEpoch", "startingTimestamp",
        "endingTimestamp").exists(k => opts.containsKey(k))
      if (nonCurrent) None
      else Option(r.table.name).filter(_.startsWith("arrow:"))
        .map(n => java.nio.file.Paths.get(n.stripPrefix("arrow:"))
          .toAbsolutePath.normalize.toString)
    case _ => None
  }

  private def tryRewrite(groups: Seq[Expression],
      aggExprs: Seq[NamedExpression], child: LogicalPlan)
      : Option[LogicalPlan] = {
    val path = relationPath(child).getOrElse(return None)
    val e = lookup(path).getOrElse(return None)
    // freshness gate: the table log decides, not trust
    if (ArrowDataSource.latestCommittedEpoch(
        java.nio.file.Paths.get(e.srcDir)) != e.syncedEpoch) return None
    // grouping must be bare attributes; EXACT key match reads the view
    // straight, a SUBSET (incl. global) ROLLS UP from it — counts and
    // integral sums re-aggregate losslessly from the finer grain
    val groupAttrs = groups.map {
      case a: AttributeReference => a
      case _ => return None
    }
    val names = groupAttrs.map(_.name).toSet
    if (names == e.groupCols.toSet)
      rewriteExact(aggExprs, e)
    else if (names.subsetOf(e.groupCols.toSet))
      rewriteRollup(groupAttrs, aggExprs, e)
    else None
  }

  private def viewRelation(e: Entry): DataSourceV2Relation =
    DataSourceV2Relation.create(ArrowTable.load(e.viewDir), None, None,
      new CaseInsensitiveStringMap(Map("path" -> e.viewDir).asJava))

  /** sum(measure) pattern → measure name, when registered. */
  private def sumMeasure(e: Entry, x: Expression): Option[String] = {
    val sumAlias = e.sums.toMap
    x match {
      case a: AttributeReference => sumAlias.get(a.name).map(_ => a.name)
      case Cast(a: AttributeReference, LongType, _, _) =>
        sumAlias.get(a.name).map(_ => a.name)
      case _ => None
    }
  }

  /** Exact-grain rewrite: Project straight off the view. */
  private def rewriteExact(aggExprs: Seq[NamedExpression], e: Entry)
      : Option[LogicalPlan] = {
    val viewRel = viewRelation(e)
    val viewCol = viewRel.output.map(a => a.name -> a).toMap
    val sumAlias = e.sums.toMap

    def asView(col: String, nonNull: Boolean,
        name: String, id: org.apache.spark.sql.catalyst.expressions.ExprId,
        qual: Seq[String]): NamedExpression = {
      val v = viewCol.getOrElse(col, return null)
      Alias(if (nonNull) KnownNotNull(v) else v, name)(exprId = id,
        qualifier = qual)
    }

    val out = aggExprs.map {
      case a: AttributeReference if e.groupCols.contains(a.name) =>
        asView(a.name, !a.nullable, a.name, a.exprId, a.qualifier)
      case al @ Alias(a: AttributeReference, _)
          if e.groupCols.contains(a.name) =>
        asView(a.name, !a.nullable, al.name, al.exprId, al.qualifier)
      case al @ Alias(AggregateExpression(
          Count(Seq(Literal(1, _))), _, false, None, _), _) =>
        asView("n", nonNull = true, al.name, al.exprId, al.qualifier)
      case al @ Alias(AggregateExpression(
          Sum(x, _), _, false, None, _), _) =>
        sumMeasure(e, x) match {
          case Some(m) =>
            asView(sumAlias(m), nonNull = false, al.name, al.exprId,
              al.qualifier)
          case None => return None
        }
      case _ => return None
    }
    if (out.contains(null)) return None
    logInfo(s"rewriting aggregate over ${e.srcDir} to materialized " +
      s"view ${e.viewDir} (synced epoch ${e.syncedEpoch})")
    Some(Project(out, viewRel))
  }

  /** Coarser-grain rewrite: re-aggregate the view — `count(*)` becomes
    * `sum(n)` and `sum(m)` becomes `sum(view alias)`, both lossless
    * for counts/integral sums. The empty-relation edge is honored:
    * a GLOBAL count over an empty view must be 0, not NULL, so the
    * rolled-up count wraps in coalesce. */
  private def rewriteRollup(groupAttrs: Seq[AttributeReference],
      aggExprs: Seq[NamedExpression], e: Entry): Option[LogicalPlan] = {
    val viewRel = viewRelation(e)
    val viewCol = viewRel.output.map(a => a.name -> a).toMap
    val sumAlias = e.sums.toMap

    def vcol(c: String): AttributeReference =
      viewCol.getOrElse(c, return null)
    def sumOf(c: String): Expression = AggregateExpression(
      Sum(vcol(c)), org.apache.spark.sql.catalyst.expressions.aggregate
        .Complete, isDistinct = false)

    val newGroups: Seq[Expression] = groupAttrs.map(a => vcol(a.name))
    if (newGroups.contains(null)) return None
    // group keys keep their original nullability: a nullable group key
    // really can be NULL in the view (NULL groups are maintained), so
    // KnownNotNull only when the source attribute proved non-null
    def groupOut(a: AttributeReference): Expression =
      if (a.nullable) vcol(a.name) else KnownNotNull(vcol(a.name))
    val out = aggExprs.map {
      case a: AttributeReference if a.name != "n" &&
          e.groupCols.contains(a.name) =>
        Alias(groupOut(a), a.name)(exprId = a.exprId,
          qualifier = a.qualifier)
      case al @ Alias(a: AttributeReference, _)
          if e.groupCols.contains(a.name) =>
        Alias(groupOut(a), al.name)(exprId = al.exprId,
          qualifier = al.qualifier)
      case al @ Alias(AggregateExpression(
          Count(Seq(Literal(1, _))), _, false, None, _), _) =>
        Alias(KnownNotNull(org.apache.spark.sql.catalyst.expressions
          .Coalesce(Seq(sumOf("n"), Literal(0L)))), al.name)(
          exprId = al.exprId, qualifier = al.qualifier)
      case al @ Alias(AggregateExpression(
          Sum(x, _), _, false, None, _), _) =>
        sumMeasure(e, x) match {
          case Some(m) =>
            Alias(sumOf(sumAlias(m)), al.name)(exprId = al.exprId,
              qualifier = al.qualifier)
          case None => return None
        }
      case _ => return None
    }
    if (out.contains(null)) return None
    logInfo(s"rolling up aggregate over ${e.srcDir} from materialized " +
      s"view ${e.viewDir} (synced epoch ${e.syncedEpoch})")
    Some(Aggregate(newGroups, out, viewRel))
  }
}
