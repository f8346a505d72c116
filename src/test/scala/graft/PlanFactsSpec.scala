package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.PlanFacts

/** [[PlanFacts]] on small frames of known shape: each operator counts
  * once, through AQE (before and after it runs) and inside a subquery.
  */
class PlanFactsSpec extends AnyFunSuite with SparkTestBase
    with AdaptiveSparkPlanHelper {

  /** Facts of `df`'s initial plan, then checks the final plan after it
    * runs has the same facts: AQE's query stages hide no node and
    * count none twice.
    */
  private def factsOf(df: DataFrame): PlanFacts = {
    val initial = PlanFacts.of(df.queryExecution)
    assert(df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
    df.collect()
    assert(PlanFacts.of(df.queryExecution) == initial)
    initial
  }

  private def keyed(n: Int): DataFrame =
    spark.range(n).select((col("id") % 10).as("k"), col("id").as("v"),
      (col("id") * 0.5).as("d"))

  test("a join that may not broadcast: one sort-merge join, two shuffles") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = keyed(100).join(keyed(50).select(col("k"),
        col("v").as("w")), "k")
      assert(factsOf(df) == PlanFacts(shuffles = 2, broadcasts = 0,
        sortMergeJoins = 1, shuffledHashJoins = 0, sortAggregates = 0,
        expands = 0))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("two distinct counts beside a sum expand the input; one does not") {
    val two = keyed(100).groupBy("k")
      .agg(countDistinct("v"), countDistinct("d"), sum("v"))
    assert(factsOf(two) == PlanFacts(shuffles = 2, broadcasts = 0,
      sortMergeJoins = 0, shuffledHashJoins = 0, sortAggregates = 0,
      expands = 1))
    // one distinct group plans as nested hash aggregates instead
    val one = keyed(100).groupBy("k").agg(countDistinct("v"), sum("d"))
    assert(factsOf(one).expands == 0)
  }

  test("max(struct(double, long)) plans partial and final sort aggregates") {
    val df = keyed(100).groupBy("k").agg(max(struct(col("d"), col("v"))))
    assert(factsOf(df) == PlanFacts(shuffles = 1, broadcasts = 0,
      sortMergeJoins = 0, shuffledHashJoins = 0, sortAggregates = 2,
      expands = 0))
  }

  test("a scalar subquery's shuffles count, once") {
    val df = spark.sql("""SELECT id FROM range(100) WHERE id >
      (SELECT avg(c) FROM (SELECT id % 7 AS k, count(*) AS c
       FROM range(1000) GROUP BY id % 7))""")
    val outer = collect(df.queryExecution.executedPlan) {
      case s: ShuffleExchangeExec => s }
    assert(outer.isEmpty, "the outer query itself must not shuffle")
    // the group-by's hash exchange and the global average's single one
    assert(factsOf(df) == PlanFacts(shuffles = 2, broadcasts = 0,
      sortMergeJoins = 0, shuffledHashJoins = 0, sortAggregates = 0,
      expands = 0))
  }
}
