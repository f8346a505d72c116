package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Cut

/** Distributed PageRank (Page et al. 1999) in EXACT integer
  * arithmetic, so a fixed-iteration run is bit-identical on every
  * engine, partitioning and run — the floating-point formulation is
  * not (per-key contribution sums reassociate across partitions), so
  * it could never be hash-checked against an independent engine.
  *
  * Ranks are scaled by `scale` (default 1e9, i.e. 9 fractional
  * digits); each iteration computes
  *
  *   rank'(v) = ((den-num)·scale + num·Σ_{u→v} rank(u) div outdeg(u))
  *                div den
  *
  * with `num/den` the damping factor (default 85/100) and `div` floor
  * division — every operation is a 64-bit integer op and the inbound
  * sum is order-independent, so the result is exact by construction.
  * The quantization error vs real-valued PageRank is < outdeg/scale
  * per node per iteration — at scale=1e9 that is ~1e-9 relative,
  * far below anything a ranking consumer can observe.
  *
  * Contract: `edges` is a DISTINCT directed edge list (src, dst); the
  * node set is the distinct src set, i.e. the graph must have no
  * dangling nodes (a co-occurrence graph is symmetric, so this holds
  * by construction; for general graphs, pre-drop sinks or add
  * self-loops — the standard dangling-node simplifications).
  *
  * Scale shape: degrees attach to the edge list ONCE (one groupBy +
  * one equi-join, both on src); each iteration is then one equi-join
  * of the rank table against that edge list on src plus one groupBy
  * dst — two shuffles per iteration, shuffling only (long, long)
  * pairs, never payloads. On a real cluster, pre-partitioning the
  * edge list by src makes the per-iteration join co-located so only
  * the contribution aggregate shuffles. Overflow headroom: the
  * inbound sum stays below 2^63/num as long as in-degree × scale <
  * 1e17 — i.e. in-degrees up to ~1e8 at the default scale.
  *
  * Lineage cuts ([[graft.Cut]], which picks local or reliable) land
  * every `cutEvery` iterations rather than every iteration (r21): each rank
  * reference is linear (used once by the next iteration), so an uncut
  * stretch executes exactly once at the next materialization — the cut
  * only bounds PLAN depth and recompute-on-executor-loss, while each
  * eager cut costs a full materialization job. Short runs between cuts
  * therefore execute as one job; a failure replays at most `cutEvery`
  * iterations.
  */
object PageRank {

  /** Fixed-iteration integer PageRank. `edges` must be distinct
    * (src, dst) pairs with no dangling nodes (see object doc).
    * Returns (id, rank) with rank on the `scale` fixed-point grid.
    */
  def run(edges: DataFrame, iters: Int, scale: Long = 1000000000L,
      dampNum: Long = 85, dampDen: Long = 100,
      cutEvery: Int = 1): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampNum > 0 && dampNum < dampDen,
      s"damping must satisfy 0 < num < den, got $dampNum/$dampDen")
    require(cutEvery >= 1, s"cutEvery must be >= 1, got $cutEvery")
    // loop INVARIANTS (r22 shape): the edge list materializes as
    // (src, dst) ONLY and the degrees live in a separate one-row-per-
    // node table derived from it — the r21 form carried outdeg on
    // every edge row (+50% materialized bytes) and spent a second
    // full pass over the big table to distinct the node set, which
    // here is the degree table's key set for free. Per iteration the
    // per-node quotient rank div outdeg forms on the SMALL table and
    // attaches to the edges in one equi-join (broadcast under AQE),
    // so the big table is never joined twice — contributions are
    // unchanged (the same integer quotient per src rides every edge).
    val edgesCut = Cut(edges.select(col("src"), col("dst")))
    val deg = Cut(edgesCut.groupBy(col("src"))
      .agg(count(lit(1)).cast(LongType).as("outdeg")))
    val nodes = deg.select(col("src").as("id"))
    val base = (dampDen - dampNum) * scale
    var ranks = nodes.select(col("id"), lit(scale).as("rank"))
    // SHUFFLE_HASH hints (r22, guide §3.1): every per-iteration join
    // pairs the edge/node stream with a NODE-sized side; the
    // checkpointed leaves carry no stats, so the planner falls back to
    // sort-merge and SORTS the 2.39M-edge table (and both node tables)
    // once per iteration. Hash-building the node-sized side skips
    // every sort; per partition the build is nodes/shuffle-partitions
    // rows of two longs — the standard SHJ fit at any scale (and the
    // hint leaves AQE free to upgrade to broadcast when a side is
    // tiny at runtime).
    for (i <- 1 to iters) {
      val quot = ranks
        .join(deg.hint("SHUFFLE_HASH"), ranks("id") === deg("src"))
        .select(col("src").as("qsrc"), expr("rank div outdeg").as("q"))
      val contribs = edgesCut
        .join(quot.hint("SHUFFLE_HASH"), col("src") === col("qsrc"))
        .select(col("dst").as("id"), col("q").as("c"))
        .groupBy(col("id"))
        .agg(sum(col("c")).as("contrib"))
      // `div` (not `/`): long / long is a DOUBLE division in Spark,
      // which silently loses integer precision past 2^53
      val next = nodes.join(contribs.hint("SHUFFLE_HASH"), Seq("id"),
          "left")
        .select(col("id"),
          expr(s"(${base}L + ${dampNum}L * coalesce(contrib, 0L)) " +
            s"div ${dampDen}L").as("rank"))
      // the final iteration never cuts — the caller's action is its
      // materialization; intermediate cuts land on the interval
      ranks = if (i < iters && i % cutEvery == 0) Cut(next) else next
    }
    ranks
  }
}
