package graft.plans

import org.apache.spark.sql.execution.{ExpandExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec,
  SortMergeJoinExec}

/** The operators that set a physical plan's cost shape, each node
  * counted once: shuffle and broadcast exchanges, sort-merge and
  * shuffled-hash joins, sort aggregates (planned when the hash aggregate
  * cannot hold the buffer) and expands (each multiplies its input rows).
  */
final case class PlanFacts(shuffles: Int, broadcasts: Int,
    sortMergeJoins: Int, shuffledHashJoins: Int, sortAggregates: Int,
    expands: Int)

object PlanFacts extends AdaptiveSparkPlanHelper {

  /** Counts over `qe.executedPlan`, subqueries included. Before the query
    * runs, that is AQE's initial plan: the planner's choices plus the
    * exchanges EnsureRequirements inserts, which `qe.sparkPlan` lacks.
    */
  def of(qe: QueryExecution): PlanFacts = {
    val nodes = collectWithSubqueries(qe.executedPlan) { case p => p }
    PlanFacts(
      nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
      nodes.count(_.isInstanceOf[BroadcastExchangeExec]),
      nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      nodes.count(_.isInstanceOf[ShuffledHashJoinExec]),
      nodes.count(_.isInstanceOf[SortAggregateExec]),
      nodes.count(_.isInstanceOf[ExpandExec]))
  }
}
