package graft.plans

import org.apache.spark.sql.catalyst.expressions.DynamicPruningSubquery
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Filter, HintInfo, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.dynamicpruning.PartitionPruning

/** Run-time partition pruning from an EXPLICIT broadcast: an inner
  * equi-join whose right side carries a `broadcast()` hint and whose
  * left side's key is a partition column of a file scan gets a
  * dynamic partition filter on that scan, fed by the join's own
  * broadcast (`onlyInBroadcast`: the filter reads the keys out of the
  * broadcast relation the join builds anyway, so pruning costs no job;
  * if the broadcast cannot be reused, Spark drops the filter and the
  * scan reads every partition, with the same answer).
  *
  * Spark's own `PartitionPruning` inserts the same filter only when
  * the build side holds a filter it guesses to be selective (a
  * comparison, an IN, a LIKE). A build side whose selectivity comes
  * from a top-k or an explode — the ANN probe set, each query's
  * nProbe nearest cells (`llm/AnnIndex.probedTier`) — shows it no such
  * filter, and the scan reads every cell. An explicit broadcast hint
  * already says the build side is small; that is the one condition
  * here.
  *
  * Injected as a pre-CBO rule: after the operator optimizations, so the
  * build side it records as the filter's subquery is the plan the join
  * broadcasts, which is what lets physical planning reuse that
  * broadcast. Adaptive execution must also plan that build side as it
  * was planned up front: a join inside it without a hint can be
  * re-planned from run-time sizes, and the filter then falls back to
  * reading every partition. */
object BroadcastPartitionPruning extends Rule[LogicalPlan] {

  private def broadcastHinted(h: Option[HintInfo]): Boolean =
    h.exists(_.strategy.contains(BROADCAST))

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.dynamicPartitionPruningEnabled || !conf.exchangeReuseEnabled) plan
    else plan.transformUp {
      case j @ Join(Filter(_: DynamicPruningSubquery, _), _, _, _, _) => j
      case j: Join => j match {
        case ExtractEquiJoinKeys(Inner, leftKeys, rightKeys, _, _, left, right, hint)
            if broadcastHinted(hint.rightHint) && !broadcastHinted(hint.leftHint) =>
          // the first key that is a partition column of a file scan on the left
          leftKeys.indices
            .find(i => PartitionPruning.getFilterableTableScan(leftKeys(i), left).isDefined)
            .map(i => j.copy(left = Filter(DynamicPruningSubquery(
              leftKeys(i), right, rightKeys, Seq(i), onlyInBroadcast = true), left)))
            .getOrElse(j)
        case _ => j
      }
    }
}
