package graft

import org.apache.spark.sql.catalyst.expressions.{Expression,
  ExpressionSet, LambdaFunction, NamedLambdaVariable}
import org.apache.spark.sql.catalyst.optimizer.CollapseProject
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec,
  CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.PlanFacts

/** Global plan guard: every declared query's executed plan (AQE's
  * initial plan, subqueries included) is screened for the two shapes
  * that silently kill a 100 TB run — an unbounded cartesian product,
  * and a nested-loop join that isn't one of the documented 1-row
  * broadcast query-vector joins — and its optimized plan for
  * per-element re-evaluation of a lambda invariant. Every future query
  * addition is screened automatically by being declared. The headline
  * queries' plan shapes are pinned as exact [[PlanFacts]].
  */
class PlanGuardSpec extends AnyFunSuite with SparkTestBase
    with AdaptiveSparkPlanHelper {

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

  /** Exact plan shapes of the headline queries at sf0.001 and 4 shuffle
    * partitions: PlanFacts(shuffles, broadcasts, sortMergeJoins,
    * shuffledHashJoins, sortAggregates, expands). A plan change that
    * moves a count fails "headline plan shapes", which prints the new
    * rows to paste here.
    */
  private val facts: Map[String, PlanFacts] = Map(
    "q_agg_cube" -> PlanFacts(3, 0, 0, 0, 0, 1),
    "q_agg_multi" -> PlanFacts(5, 1, 0, 0, 0, 0),
    "q_agg_rollup" -> PlanFacts(3, 0, 0, 0, 0, 1),
    "q_ann_filtered" -> PlanFacts(0, 1, 0, 0, 0, 0),
    "q_ann_incremental" -> PlanFacts(2, 2, 0, 0, 0, 0),
    "q_ann_ivf" -> PlanFacts(0, 1, 0, 0, 0, 0),
    "q_ann_ivfpq" -> PlanFacts(1, 4, 0, 0, 0, 0),
    "q_audio_neardup" -> PlanFacts(3, 0, 0, 0, 0, 0),
    "q_bloom_decontaminate" -> PlanFacts(3, 0, 0, 0, 0, 0),
    "q_bm25_incremental" -> PlanFacts(7, 4, 0, 0, 0, 0),
    "q_bm25_topk" -> PlanFacts(3, 2, 0, 0, 0, 0),
    "q_bpe_pairs" -> PlanFacts(2, 0, 0, 0, 0, 0),
    "q_cbo_join" -> PlanFacts(2, 5, 0, 0, 0, 0),
    "q_cdc_asof" -> PlanFacts(2, 0, 0, 0, 0, 0),
    "q_cdc_chain" -> PlanFacts(2, 0, 0, 0, 0, 0),
    "q_cdc_changes" -> PlanFacts(1, 0, 0, 0, 0, 0),
    "q_cdc_compact" -> PlanFacts(2, 0, 0, 0, 0, 0),
    "q_cdc_diff" -> PlanFacts(1, 0, 0, 0, 0, 0),
    "q_cdc_governed" -> PlanFacts(2, 0, 0, 0, 0, 0),
    "q_cdc_merge" -> PlanFacts(2, 0, 0, 0, 0, 0),
    "q_cdc_mirror" -> PlanFacts(2, 0, 0, 0, 0, 0),
    "q_cdc_mor" -> PlanFacts(3, 0, 0, 0, 0, 0),
    "q_cdc_restore" -> PlanFacts(1, 0, 0, 0, 0, 0),
    "q_cdc_rollup" -> PlanFacts(2, 0, 0, 0, 0, 0),
    "q_cdc_schema_evo" -> PlanFacts(2, 0, 0, 0, 0, 0),
    "q_chunk_dedup" -> PlanFacts(3, 1, 0, 0, 0, 0),
    "q_cms_freq" -> PlanFacts(2, 1, 0, 0, 0, 0),
    "q_composite_topk" -> PlanFacts(1, 2, 0, 0, 0, 0),
    "q_corpus_overlap" -> PlanFacts(4, 3, 0, 0, 0, 0),
    "q_corr_moments" -> PlanFacts(2, 0, 0, 0, 0, 0),
    "q_decontaminate" -> PlanFacts(4, 1, 0, 0, 0, 0),
    "q_dedup_clusters" -> PlanFacts(1, 0, 0, 0, 0, 0),
    "q_dedup_incremental" -> PlanFacts(2, 0, 0, 0, 0, 0),
    "q_delta_export" -> PlanFacts(2, 0, 0, 0, 0, 0),
    "q_delta_export_mor" -> PlanFacts(2, 1, 0, 0, 0, 0),
    "q_dpp_join" -> PlanFacts(2, 1, 0, 0, 0, 0),
    "q_dsir_weights" -> PlanFacts(9, 6, 0, 0, 0, 0),
    "q_edit_simjoin" -> PlanFacts(4, 2, 1, 0, 0, 0),
    "q_entity_clusters" -> PlanFacts(3, 0, 1, 0, 0, 0),
    "q_entity_incremental" -> PlanFacts(2, 0, 0, 0, 0, 0),
    "q_gopher_filter" -> PlanFacts(2, 0, 0, 0, 0, 0),
    "q_group_sample" -> PlanFacts(3, 0, 0, 0, 0, 0),
    "q_hard_negatives" -> PlanFacts(3, 1, 0, 0, 0, 0),
    "q_hybrid_search" -> PlanFacts(4, 3, 1, 0, 0, 0),
    "q_iceberg_export" -> PlanFacts(2, 0, 0, 0, 0, 0),
    "q_iceberg_v2" -> PlanFacts(3, 1, 0, 0, 0, 0),
    "q_image_neardup" -> PlanFacts(3, 0, 0, 0, 0, 0),
    "q_jaccard_simjoin" -> PlanFacts(2, 3, 0, 0, 0, 0),
    "q_jaccard_simjoin_hi" -> PlanFacts(2, 3, 0, 0, 0, 0),
    "q_join_asof" -> PlanFacts(3, 0, 0, 0, 0, 0),
    "q_join_bucketed" -> PlanFacts(2, 0, 1, 0, 0, 0),
    "q_join_inner_hash" -> PlanFacts(2, 1, 0, 0, 0, 0),
    "q_lang_id_learned" -> PlanFacts(3, 1, 0, 0, 0, 0),
    "q_leakage_split" -> PlanFacts(3, 0, 0, 0, 0, 0),
    "q_line_boilerplate" -> PlanFacts(4, 2, 0, 0, 0, 0),
    "q_line_dedup" -> PlanFacts(3, 1, 0, 0, 0, 0),
    "q_lm_score" -> PlanFacts(6, 3, 0, 0, 0, 0),
    "q_lookup" -> PlanFacts(1, 0, 0, 0, 0, 0),
    "q_lookup_by" -> PlanFacts(1, 1, 0, 0, 0, 0),
    "q_merge_upsert" -> PlanFacts(3, 0, 0, 0, 0, 0),
    "q_minhash_dup" -> PlanFacts(2, 2, 0, 0, 0, 0),
    "q_neardup_incremental" -> PlanFacts(2, 0, 0, 0, 0, 0),
    "q_neardup_keep_best" -> PlanFacts(2, 1, 0, 0, 0, 0),
    "q_pack_sequences" -> PlanFacts(4, 1, 0, 0, 0, 0),
    "q_pagerank" -> PlanFacts(13, 0, 0, 9, 0, 0),
    "q_paragraph_neardup" -> PlanFacts(14, 9, 3, 0, 0, 0),
    "q_partition_prune" -> PlanFacts(2, 0, 0, 0, 0, 0),
    "q_pmi_terms" -> PlanFacts(10, 3, 0, 0, 0, 0),
    "q_quality_gate" -> PlanFacts(2, 0, 0, 0, 0, 0),
    "q_quality_regression" -> PlanFacts(2, 0, 0, 0, 0, 0),
    "q_quarantine" -> PlanFacts(1, 0, 0, 0, 0, 0),
    "q_rebucket" -> PlanFacts(2, 0, 0, 0, 0, 0),
    "q_repeated_spans" -> PlanFacts(4, 1, 0, 0, 0, 0),
    "q_semantic_dedup" -> PlanFacts(4, 1, 1, 0, 0, 0),
    "q_skew_salted_agg" -> PlanFacts(3, 0, 0, 0, 0, 0),
    "q_sort_topk" -> PlanFacts(0, 0, 0, 0, 0, 0),
    "q_sql_cdc" -> PlanFacts(2, 0, 0, 0, 0, 0),
    "q_sql_cdc_changes" -> PlanFacts(1, 0, 0, 0, 0, 0),
    "q_sql_cdc_timetravel" -> PlanFacts(2, 0, 0, 0, 0, 0),
    "q_sql_delta_scan" -> PlanFacts(2, 0, 0, 0, 0, 0),
    "q_sql_delta_scan_where" -> PlanFacts(2, 0, 0, 0, 0, 0),
    "q_sql_governed" -> PlanFacts(1, 0, 0, 0, 0, 0),
    "q_sql_iceberg_scan" -> PlanFacts(2, 0, 0, 0, 0, 0),
    "q_stream_window" -> PlanFacts(2, 0, 0, 0, 0, 0),
    "q_substr_dedup" -> PlanFacts(5, 1, 0, 0, 0, 0),
    "q_train_split" -> PlanFacts(2, 0, 0, 0, 0, 0),
    "q_zorder" -> PlanFacts(3, 0, 0, 0, 0, 0))

  /** Every declared query's plans, built once and shared by all checks:
    * building them is most of this suite's cost. A query whose plan
    * depends on its artifact cache is checked on the plan of its first,
    * cold run.
    */
  private lazy val executions: Seq[(String, QueryExecution)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> (try {
        val qe = fn(spark, sfDir).queryExecution
        qe.executedPlan
        qe
      } catch { case e: Throwable =>
          fail(s"$name failed to plan: ${e.getMessage}")
      })
    }

  /** Every node of each executed plan, through AQE and into subqueries. */
  private def nodes: Seq[(String, SparkPlan)] =
    executions.flatMap { case (name, qe) =>
      collectWithSubqueries(qe.executedPlan) { case p => name -> p }
    }

  test("no declared query runs an unpartitioned window over data") {
    val offenders = nodes.collect {
      case (name, w: WindowExec)
          if w.partitionSpec.isEmpty && !globalWindowAllowed(name) =>
        s"$name: single-partition window"
    }.distinct
    assert(offenders.isEmpty,
      s"every row funnels through ONE reducer in:\n" +
        offenders.mkString("\n"))
  }

  test("no declared query plans a cartesian product or a stray NL join") {
    val offenders = nodes.collect {
      case (name, _: CartesianProductExec) => s"$name: cartesian"
      case (name, _: BroadcastNestedLoopJoinExec) if !bnljAllowed(name) =>
        s"$name: nested-loop join"
    }.distinct
    assert(offenders.isEmpty,
      s"scale-hostile plan shapes:\n${offenders.mkString("\n")}")
  }

  private def row(name: String, f: PlanFacts): String =
    s""""$name" -> ${f.productIterator.mkString("PlanFacts(", ", ", ")")},"""

  test("headline plan shapes") {
    val actual = executions.toMap
    val stale = facts.keySet -- actual.keySet
    assert(stale.isEmpty,
      s"rows for queries that are not declared: ${stale.toSeq.sorted}")
    val moved = facts.toSeq.sortBy(_._1).flatMap { case (name, had) =>
      val now = PlanFacts.of(actual(name))
      if (now == had) None else Some((row(name, now), row(name, had)))
    }
    if (moved.nonEmpty) fail(
      "plan shapes moved; the rows to paste into `facts`:\n" +
        moved.map(_._1).mkString("\n") + "\nwhere the table had:\n" +
        moved.map(_._2).mkString("\n"))
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
