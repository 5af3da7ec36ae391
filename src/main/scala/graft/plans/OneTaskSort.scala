package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeSet, Expression}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** Optimizer rule: an ordered frame that ends in one partition is sorted
  * inside that partition's task.
  *
  * `df.orderBy(k).coalesce(1)` is the shape of every single-file report
  * ([[graft.sinks.Sinks.writeCsv]]) and of an ordered report collected to
  * the driver. Spark plans it as a range exchange: a sampling job re-runs
  * the sort's input to pick range bounds, the rows are shuffled into
  * sorted ranges, and the coalesce then funnels the ranges back into one
  * task anyway. Sorting inside that one task gives the same rows in the
  * same order with no range exchange and no sampling job:
  * {{{
  * Repartition(1, shuffle = false,          Project*(
  *   Project*(                         =>     Sort(order, global = false,
  *     Sort(order, global = true, x)))          Repartition(1, shuffle, x)))
  * }}}
  * The projections move above the sort, so they must be deterministic (a
  * nondeterministic one may read the partition id or the row position).
  *
  * How the rows reach the one task depends on where `x`'s last stage
  * starts:
  *  - at an exchange that an `Aggregate` or a partitioned `Window` plans
  *    for itself, or at a repartition: the stage only merges partial
  *    results or reads shuffled rows, so the coalesce stays
  *    (`shuffle = false`) and that stage runs in the one task;
  *  - at an exchange below operators that plan none of their own (an
  *    aggregate or window over rows already clustered on its keys): the
  *    stage may hold row-sized work, so it keeps its parallel tasks and
  *    its output crosses one more exchange, into one partition
  *    (`shuffle = true`);
  *  - at a scan, a cache build or an RDD (the variant caller), or at an
  *    aggregate or window over a leaf that may already be partitioned on
  *    its keys (a bucketed table, a cache or checkpoint with a known
  *    partitioning, a key-grouped v2 scan): the rule does not fire, and
  *    the range exchange keeps those stages parallel. A `LocalRelation` or
  *    `Range` under the broadcast threshold counts as a merge.
  *
  * Idempotent: the produced sort is partition-local and sits above the
  * coalesce or the one-partition exchange.
  */
object OneTaskSort extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case r @ Repartition(1, false, child) if !child.isStreaming =>
      sortInside(r, child).getOrElse(r)
  }

  private def sortInside(r: Repartition, p: LogicalPlan): Option[LogicalPlan] = p match {
    case proj @ Project(list, child) if list.forall(_.deterministic) =>
      sortInside(r, child).map(s => proj.copy(child = s))
    case s @ Sort(_, true, child, _) => start(child) match {
      case Merge => Some(s.copy(global = false, child = r.copy(child = child)))
      case Rows => Some(s.copy(global = false, child = r.copy(shuffle = true, child = child)))
      case Scan => None
    }
    case _ => None
  }

  /** Where the last stage of a plan starts, from the cheapest to run in
    * one task to the costliest. */
  private sealed abstract class Start(val rank: Int)
  private case object Merge extends Start(0)
  private case object Rows extends Start(1)
  private case object Scan extends Start(2)

  private def start(p: LogicalPlan): Start = p match {
    case a: Aggregate => keyed(a, a.groupingExpressions, a.child)
    case w: Window if w.partitionSpec.nonEmpty => keyed(w, w.partitionSpec, w.child)
    case r: Repartition => if (r.shuffle) Merge else start(r.child)
    case _: RepartitionByExpression | _: RebalancePartitions => Merge
    case l @ (_: LocalRelation | _: Range) =>
      if (l.stats.sizeInBytes <= conf.autoBroadcastJoinThreshold) Merge else Scan
    case _: LeafNode => Scan
    case other => other.children.map(start).maxByOption(_.rank).getOrElse(Scan)
  }

  /** An aggregate or window `op` on `keys`: it plans its own exchange
    * unless a leaf or an operator below may already cluster its rows on
    * those keys. */
  private def keyed(op: LogicalPlan, keys: Seq[Expression], child: LogicalPlan): Start =
    if (op.exists(mayBePartitioned)) Scan
    else if (!clusteredOn(child, AttributeSet(keys.flatMap(_.references)))) Merge
    else start(child) match { case Scan => Scan; case _ => Rows }

  /** Whether `p`'s rows may be hash- or range-clustered on a subset of
    * `refs` (or be one partition) by an operator in `p`: an exchange for
    * such keys then satisfies an aggregate or window over `p`, and the
    * planner adds none. Errs towards "may". */
  private def clusteredOn(p: LogicalPlan, refs: AttributeSet): Boolean = {
    def within(es: Seq[Expression]) =
      es.nonEmpty && es.forall(_.references.subsetOf(refs))
    p match {
      // one partition satisfies every key
      case Repartition(1, _, _) | _: GlobalLimit => true
      case a: Aggregate if a.groupingExpressions.isEmpty => true
      case w: Window if w.partitionSpec.isEmpty => true
      case r: RepartitionByExpression => within(r.partitionExpressions)
      case r: RebalancePartitions => within(r.partitionExpressions)
      case s: Sort if s.global => within(s.order) || clusteredOn(s.child, refs)
      case a: Aggregate => within(a.groupingExpressions) || clusteredOn(a.child, refs)
      case w: Window => within(w.partitionSpec) || clusteredOn(w.child, refs)
      case j @ ExtractEquiJoinKeys(_, lk, rk, _, _, _, _, _) =>
        within(lk) || within(rk) || j.children.exists(clusteredOn(_, refs))
      case Project(list, child) =>
        // an alias of a key clusters the child on what it renames
        clusteredOn(child, refs ++ list.collect {
          case a: Alias if refs.contains(a.toAttribute) => a.child.references
        }.foldLeft(AttributeSet.empty)(_ ++ _))
      case other => other.children.exists(clusteredOn(_, refs))
    }
  }

  /** A leaf whose rows may already be clustered on an aggregate's or a
    * window's keys, so that operator plans no exchange over it. */
  private def mayBePartitioned(p: LogicalPlan): Boolean = p match {
    case l: LogicalRelation => l.relation match {
      case fs: HadoopFsRelation => fs.bucketSpec.isDefined
      case _ => false
    }
    case m: InMemoryRelation =>
      !m.cacheBuilder.cachedPlan.outputPartitioning.isInstanceOf[UnknownPartitioning]
    case r: LogicalRDD => !r.outputPartitioning.isInstanceOf[UnknownPartitioning]
    case v: DataSourceV2ScanRelation => v.keyGroupedPartitioning.isDefined
    case _ => false
  }
}
