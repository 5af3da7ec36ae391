package graft.plans

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
  * same order with no exchange and no sampling job:
  * {{{
  * Repartition(1, shuffle = false,          Project*(
  *   Project*(                         =>     Sort(order, global = false,
  *     Sort(order, global = true, x)))          Repartition(1, shuffle = false, x)))
  * }}}
  * The projections move above the sort, so they must be deterministic (a
  * nondeterministic one may read the partition id or the row position).
  *
  * The rewrite also moves `x`'s last stage into the one task, so it fires
  * only when that stage is post-shuffle, report-sized work: every path
  * from `x` down to a leaf must first cross an operator that plans its own
  * exchange — an `Aggregate`, a partitioned `Window` or a shuffling
  * repartition — or end at a `LocalRelation` or `Range` under the
  * broadcast threshold. A scan, a cache build or an RDD (the variant
  * caller) reached any other way keeps the range exchange and its
  * parallel stages. An aggregate or window counts only when no leaf under
  * it may already be partitioned on its keys (a bucketed table, a cache or
  * checkpoint with a known partitioning, a key-grouped v2 scan): it plans
  * no exchange over such a leaf, which would then be read in the one task.
  *
  * Idempotent: the produced sort is partition-local and sits above the
  * coalesce.
  */
object OneTaskSort extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case r @ Repartition(1, false, child) if !child.isStreaming =>
      sortInside(r, child).getOrElse(r)
  }

  private def sortInside(r: Repartition, p: LogicalPlan): Option[LogicalPlan] = p match {
    case proj @ Project(list, child) if list.forall(_.deterministic) =>
      sortInside(r, child).map(s => proj.copy(child = s))
    case s @ Sort(_, true, child, _) if postShuffle(child) =>
      Some(s.copy(global = false, child = r.copy(child = child)))
    case _ => None
  }

  /** Every path from `p` to a leaf first crosses an exchange or ends at a
    * small local leaf. */
  private def postShuffle(p: LogicalPlan): Boolean = p match {
    case a: Aggregate => !a.exists(mayBePartitioned)
    case w: Window if w.partitionSpec.nonEmpty => !w.exists(mayBePartitioned)
    case r: Repartition => r.shuffle || postShuffle(r.child)
    case _: RepartitionByExpression | _: RebalancePartitions => true
    case l @ (_: LocalRelation | _: Range) =>
      l.stats.sizeInBytes <= conf.autoBroadcastJoinThreshold
    case _: LeafNode => false
    case other => other.children.forall(postShuffle)
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
