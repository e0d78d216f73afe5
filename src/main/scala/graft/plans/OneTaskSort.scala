package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SortExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, BroadcastQueryStageExec, CoalesceShufflePartitions, OptimizeShuffleWithLocalRead, OptimizeSkewInRebalancePartitions, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE stage-preparation rule: a global sort whose input already runs as
  * ONE task sorts that task's output in place.
  *
  * `orderBy` plans `Sort(global) ← Exchange(rangepartitioning)`. The range
  * exchange costs three Spark jobs: a sampling job that recomputes the
  * child to find the range bounds, the map stage, and the result stage
  * that reads it. When the child runs as one task, AQE then reads the
  * whole range shuffle as one partition anyway, so all three only move
  * rows from one task to another. This rule replaces such an exchange
  * with `Coalesce 1`: the sort runs in the stage that computes its input,
  * with no sampling job, no range map stage and no shuffle. The rows, and
  * their order, are the same.
  *
  * INVARIANT: it fires only when the input already runs as one task at
  * the parent plan, so no stage runs with fewer tasks than it would
  * without the rule. All of these must hold of the exchange's child:
  *
  *   - no exchange under it is still unmaterialized (its size is known);
  *   - AQE's own shuffle-read rules, run with the session's confs on the
  *     child as AQE runs them when it plans the stage (skew split of
  *     rebalances, [[CoalesceShufflePartitions]], local reads), read every
  *     shuffle stage under it as one partition. With default confs that
  *     means at most `spark.sql.adaptive.coalescePartitions.minPartitionSize`
  *     (1 MiB) of map output; with coalescing disabled it never holds;
  *   - every file scan under it plans one split, read from the scan's
  *     file listing without starting a job; a scan that carries a
  *     dynamic-pruning filter does not count as one split;
  *   - broadcast stages add no task, and a `Union` adds its children's.
  *
  * Anything else — a leaf it cannot size, a join of unsized inputs, final-
  * stage shuffle optimisations turned off — leaves the plan alone. Only
  * exchanges that `EnsureRequirements` added for the sort are touched:
  * range partitioning a user asked for (`repartitionByRange`) has another
  * shuffle origin and keeps its exchange.
  */
case class OneTaskSort(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.getConf(SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS)) plan
    else plan.transformUp {
      case s @ SortExec(_, true,
          ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _)
          if runsAsOneTask(child) =>
        s.withNewChildren(Seq(CoalesceExec(1, child)))
    }

  private def runsAsOneTask(child: SparkPlan): Boolean =
    !child.exists {
      case _: Exchange => true
      case q: QueryStageExec => !q.isMaterialized
      case _ => false
    } && tasks(readRules.foldLeft(child)((p, r) => r(p))).contains(1)

  // the shuffle-read rules of AQE's query-stage optimizer, in its order
  private val readRules: Seq[Rule[SparkPlan]] = Seq(OptimizeSkewInRebalancePartitions,
    CoalesceShufflePartitions(session), OptimizeShuffleWithLocalRead)

  /** Tasks `p` runs as, or None where it cannot be told without a job. */
  private def tasks(p: SparkPlan): Option[Int] = p match {
    case r: AQEShuffleReadExec => Some(r.partitionSpecs.size)
    case s: ShuffleQueryStageExec => Some(s.shuffle.numPartitions)
    case f: FileSourceScanExec =>
      if (f.partitionFilters.exists(_.exists(_.isInstanceOf[PlanExpression[_]]))) None
      else Some(f.inputRDD.getNumPartitions)
    case c: CoalesceExec => tasks(c.child).map(_ min c.numPartitions)
    case u: UnionExec =>
      val n = u.children.map(tasks)
      if (n.forall(_.isDefined)) Some(n.flatten.sum) else None
    case _ if p.children.size == 1 => tasks(p.children.head)
    case _ =>
      // a join zips or broadcasts: one task iff every non-broadcast input is one
      val n = p.children.filterNot(_.isInstanceOf[BroadcastQueryStageExec]).map(tasks)
      if (n.nonEmpty && n.forall(_.contains(1))) Some(1) else None
  }
}
