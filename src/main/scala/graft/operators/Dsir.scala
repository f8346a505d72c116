package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * NeurIPS: select pretraining data distributed like a TARGET domain
  * by resampling the raw pool under importance weights
  * w(x) = p_target(x) / q_raw(x), both densities estimated with cheap
  * hashed n-gram models). The widely-used LLM-curation move for
  * "give me web data that looks like Wikipedia/books/code".
  *
  * This engine's formulation keeps every stage oracle-checkable:
  *
  *  - both densities are [[NgramLm]]'s Laplace-smoothed POOLED bigram
  *    estimators — exact-integer sufficient statistics (Σ(c12+1),
  *    Σ(c1+V)) per document under each model;
  *  - the importance weight is the RATIO of the two pooled
  *    probability estimates, (t_num/t_den) / (r_num/r_den), evaluated
  *    as (double(t_num) · double(r_den)) / (double(t_den) ·
  *    double(r_num)) — four exact long→double casts and three
  *    correctly-rounded IEEE ops in a fixed order, so DuckDB
  *    reproduces the weight bit-for-bit (the textbook form
  *    exponentiates a log-likelihood-ratio sum — libm, unhashable;
  *    the ratio of pooled estimates is the same monotone signal);
  *  - selection is [[Sampling.prioritySample]] over the weight:
  *    weight-proportional inclusion WITHOUT replacement. DSIR's
  *    Gumbel-top-k and priority sampling are both
  *    weight-proportional-without-replacement schemes; priority
  *    sampling keeps the engine's id-derived determinism contract
  *    (reproducible, engine-neutral — a Gumbel draw is neither).
  *
  * Scale: two NgramLm scorings — each two explode → two-phase hash
  * aggregates whose counts shuffle as (term, long), never text, plus
  * one term-keyed join — then ONE primary-key join of the two
  * four-long score rows (O(docs), AQE-broadcast while either side
  * fits), a map-side weight projection, and a TakeOrdered top-k.
  * Nothing collects; no step is quadratic. Reference analog: the
  * delegated engine class (`outputs.tf:57-97`) would run this as two
  * CTEs + a join; the curated-zone story is the same as `q_lm_score`.
  */
object Dsir {

  /** Per-document importance weights under a target-domain bigram LM
    * vs a raw-pool bigram LM. Output: idCol, keep..., t_num, t_den,
    * r_num, r_den (the exact pooled sufficient statistics under each
    * model), weight (> 0 always — smoothing keeps every sum >= 1).
    */
  def weights(docs: DataFrame, idCol: String, textCol: String,
      target: DataFrame, raw: DataFrame,
      keep: Seq[String] = Nil): DataFrame = {
    import graft.functions.{TextFunctions => T}
    import org.apache.spark.sql.types.LongType
    // ONE doc-side bigram explode scores BOTH models (r22): the
    // two NgramLm.score calls each re-tokenized and re-exploded the
    // SAME documents, ran separate per-doc aggregates and joined the
    // two four-long tables back on the id. Here the exploded bigram
    // stream left-joins all four count tables (term-keyed — AQE
    // broadcasts while they fit, shuffle-hash at scale, exactly as
    // in NgramLm.joined) and ONE aggregate emits all four pooled
    // sufficient statistics. Same per-bigram values into the same
    // exact-integer sums — bit-identical output, half the doc-side
    // work, one fewer per-doc shuffle, no id join.
    val tc12 = NgramLm.bigramCounts(target, textCol)
      .withColumnRenamed("c12", "t_c12")
    val tc1 = NgramLm.unigramCounts(target, textCol)
      .select(col("w").as("t_w"), col("c1").as("t_c1"))
    val tv = tc1.agg(count(lit(1)).cast(LongType).as("t_v"))
    val rc12 = NgramLm.bigramCounts(raw, textCol)
      .withColumnRenamed("c12", "r_c12")
    val rc1 = NgramLm.unigramCounts(raw, textCol)
      .select(col("w").as("r_w"), col("c1").as("r_c1"))
    val rv = rc1.agg(count(lit(1)).cast(LongType).as("r_v"))
    docs
      .select((col(idCol) +: keep.map(col) :+
        explode(T.shingles(col(textCol), 2)).as("bigram")): _*)
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .join(tc12, Seq("bigram"), "left")
      .join(tc1, col("w1") === col("t_w"), "left")
      .join(rc12, Seq("bigram"), "left")
      .join(rc1, col("w1") === col("r_w"), "left")
      .crossJoin(broadcast(tv))
      .crossJoin(broadcast(rv))
      .groupBy(idCol, keep: _*)
      .agg(
        sum(coalesce(col("t_c12"), lit(0L)) + lit(1L)).as("t_num"),
        sum(coalesce(col("t_c1"), lit(0L)) + col("t_v")).as("t_den"),
        sum(coalesce(col("r_c12"), lit(0L)) + lit(1L)).as("r_num"),
        sum(coalesce(col("r_c1"), lit(0L)) + col("r_v")).as("r_den"))
      .withColumn("weight",
        (col("t_num").cast(DoubleType) * col("r_den").cast(DoubleType)) /
          (col("t_den").cast(DoubleType) * col("r_num").cast(DoubleType)))
  }

  /** Weight-proportional selection of `k` documents from a
    * [[weights]] frame — the resampling half of DSIR, inheriting
    * [[Sampling.prioritySample]]'s determinism and top-k plan shape
    * (per-partition heaps, never a global sort).
    */
  def resample(weighted: DataFrame, idCol: String, k: Int): DataFrame =
    Sampling.prioritySample(weighted, idCol, col("weight"), k)
}
