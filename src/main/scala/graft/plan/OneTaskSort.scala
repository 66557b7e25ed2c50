package graft.plan

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** A final `ORDER BY` over a small input sorts in one task, with no
  * range exchange. Spark plans a global `Sort` as a range-partitioning
  * exchange: a `RangePartitioner` job that samples (reads) the whole
  * input, then a shuffle map job — both paid even when AQE coalesces
  * the result into one task. When the sort's input fits in one
  * advisory partition (`spark.sql.adaptive.advisoryPartitionSizeInBytes`,
  * the most AQE coalescing puts in one reducer), this puts
  * `Repartition(1, shuffle = false)` directly under the sort:
  * `CoalesceExec(1)` reports `SinglePartition`, so `EnsureRequirements`
  * plans no exchange and the sort runs in the task of the operator
  * below it. Rows and their order are unchanged.
  *
  * Installed twice by [[graft.functions.GraftExtensions]]: in the static
  * optimizer (scan → filter → sort) and in AQE's runtime optimizer
  * (sorts above joins or aggregates whose static estimate is too large
  * but whose materialized query stages are small). It fires only where
  * every operator down to the leaves (or query stages) has a size
  * estimate that bounds its output — not over `Generate`, typed or
  * Python map operators, or nondeterministic expressions (a file
  * relation's estimate is its on-disk bytes) — and never under a
  * limit, which Spark plans as a top-k with no range exchange.
  * Idempotent: a sort already over a one-partition repartition is left.
  */
object OneTaskSort extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan = {
    val topK = plan.collect {
      case LocalLimit(_, s: Sort) => s
      case LocalLimit(_, Project(_, s: Sort)) => s
    }
    val advisory = BigInt(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    plan.transformDown {
      case s @ Sort(_, true, child, _) if !topK.exists(_ eq s) && !oneTask(child) &&
          bounded(child) && child.stats.sizeInBytes <= advisory =>
        s.copy(child = Repartition(1, shuffle = false, child))
    }
  }

  private def oneTask(p: LogicalPlan): Boolean = p match {
    case r: RepartitionOperation => r.numPartitions == 1
    case _ => false
  }

  /** The subtree's size estimate is an upper bound on its output. */
  private def bounded(p: LogicalPlan): Boolean = (p match {
    case _: LeafNode | _: Project | _: Filter | _: Aggregate | _: Window | _: Join |
        _: Union | _: GlobalLimit | _: LocalLimit | _: Deduplicate |
        _: RepartitionOperation | _: SubqueryAlias => true
    case _ => false
  }) && p.expressions.forall(_.deterministic) && p.children.forall(bounded)
}
