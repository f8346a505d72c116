package graft

import org.apache.spark.sql.catalyst.expressions.{Expression,
  ExpressionSet, LambdaFunction, NamedLambdaVariable}
import org.apache.spark.sql.catalyst.optimizer.CollapseProject
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.scalatest.funsuite.AnyFunSuite

/** Global plan guard: every declared query's physical plan is screened
  * for the two shapes that silently kill a 100 TB run — an unbounded
  * cartesian product, and a nested-loop join that isn't one of the
  * documented 1-row broadcast query-vector joins — and its optimized
  * plan for per-element re-evaluation of a lambda invariant. Every
  * future query addition is screened automatically by being declared.
  */
class PlanGuardSpec extends AnyFunSuite with SparkTestBase {

  /** Queries whose plan legitimately contains BroadcastNestedLoopJoin:
    * a broadcast side of exactly ONE row (the ANN query vector / the
    * theta-range small build side) — constant work per stream row.
    */
  private val bnljAllowed = Set(
    "q_join_theta_range",  // non-equi range join, tiny broadcast side
    "q_embed_topk",        // 1-row query-vector crossJoin
    "q_ann_filtered",      // 1-row query-vector crossJoin
    "q_ann_ivf",           // 1-row query-vector crossJoin
    "q_ann_incremental",   // 1-row query-vector crossJoin
    "q_ann_kmeans",        // 1-row query-vector crossJoin
    "q_ann_pq",            // 1-row query-vector crossJoin (LUT build)
    "q_ann_ivfpq",         // 1-row query-vector crossJoins (probe + LUT)
    "q_mixture_temperature", // 1-row broadcast max-tokens aggregate
    "q_bm25_topk",         // 1-row corpus-stats crossJoin
    "q_bm25_incremental",  // 1-row corpus-stats crossJoin (rollup)
    "q_dsir_weights",      // two 1-row vocabulary-size crossJoins
                           // (one per bigram model, the q_lm_score V)
    "q_hybrid_search",     // inherits both runs' 1-row crossJoins
    "q_subquery_scalar",   // 1-row broadcast scalar-threshold aggregate
    "q_pmi_terms",         // 1-row broadcast corpus-total aggregate
    "q_lm_score",          // 1-row broadcast vocabulary-size aggregate
    "q_hard_negatives")    // bounded anchor-batch broadcast (k rows,
                           // a training batch — never the corpus);
                           // both appear only on a cold artifact cache
                           // (a warm run serves the persisted table)

  /** Queries whose plan legitimately contains an UNPARTITIONED window:
    * the window's input is already metadata-sized (never the data).
    */
  private val globalWindowAllowed = Set(
    "q_pack_sequences",    // offsets window: one row per partition
    "q_hybrid_search")     // run ranking: window over <= k top-k rows

  /** Every declared query's physical plan, built once and shared by
    * both checks: building them is most of this suite's cost. A query
    * whose plan depends on its artifact cache is checked on the plan
    * of its first, cold run.
    */
  private lazy val executions: Seq[(String, QueryExecution)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> (try {
        val qe = fn(spark, sfDir).queryExecution
        qe.sparkPlan
        qe
      } catch { case e: Throwable =>
          fail(s"$name failed to plan: ${e.getMessage}")
      })
    }

  private def plans: Seq[(String, SparkPlan)] =
    executions.map { case (name, qe) => name -> qe.sparkPlan }

  test("no declared query runs an unpartitioned window over data") {
    import org.apache.spark.sql.execution.window.WindowExec
    val offenders = plans.flatMap {
      case (name, plan) if !globalWindowAllowed(name) =>
        plan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty =>
            s"$name: single-partition window"
        }.headOption
      case _ => None
    }
    assert(offenders.isEmpty,
      s"every row funnels through ONE reducer in:\n" +
        offenders.mkString("\n"))
  }

  test("no declared query plans a cartesian product or a stray NL join") {
    val offenders = plans.flatMap { case (name, sparkPlan) =>
      val plan = sparkPlan.toString
      val cartesian =
        if (plan.contains("CartesianProduct")) Seq(s"$name: cartesian")
        else Seq.empty
      val bnlj =
        if (plan.contains("BroadcastNestedLoopJoin") &&
          !bnljAllowed(name)) Seq(s"$name: nested-loop join")
        else Seq.empty
      cartesian ++ bnlj
    }
    assert(offenders.isEmpty,
      s"scale-hostile plan shapes:\n${offenders.mkString("\n")}")
  }

  /** Lambda-free (no free lambda variable), non-leaf, deterministic,
    * non-constant subexpressions of `op`'s lambda bodies that `op` also
    * evaluates unconditionally outside every lambda: each one runs again
    * for every element. A field read of an attribute is exempt: it
    * costs a pointer read, and Catalyst inlines it wherever it is bound.
    */
  private def perElementInvariants(exprs: Seq[Expression]): Seq[Expression] = {
    val outside = ExpressionSet(
      exprs.flatMap(graft.plans.HoistLambdaInvariants.unconditional))
    def lambdaFree(e: Expression): Boolean = {
      val bound = e.collect { case l: LambdaFunction => l.arguments }
        .flatten.collect { case v: NamedLambdaVariable => v.exprId }.toSet
      !e.exists {
        case v: NamedLambdaVariable => !bound(v.exprId)
        case _ => false
      }
    }
    exprs.flatMap(_.collect { case l: LambdaFunction => l.function })
      .flatMap(_.collect {
        case e if e.children.nonEmpty && e.deterministic && !e.foldable &&
          !CollapseProject.isCheap(e) && lambdaFree(e) &&
          outside.contains(e) => e
      })
  }

  test("no optimized plan re-evaluates a lambda invariant per element") {
    val offenders = executions.flatMap { case (name, qe) =>
      qe.optimizedPlan.collectWithSubqueries { case op =>
        perElementInvariants(op.expressions)
          .map(e => s"$name: ${op.nodeName} re-evaluates $e")
      }.flatten.distinct
    }
    assert(offenders.isEmpty,
      s"lambda invariants evaluated per element:\n${offenders.mkString("\n")}")
  }
}
