package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.{TextFunctions => T}

/** Bigram language-model document scoring — the CCNet move (Wenzek et
  * al. 2020: score every candidate document under a language model
  * trained on a trusted reference corpus; low-likelihood documents are
  * boilerplate, gibberish or the wrong language) for the reference's
  * curated zone (`generate_sample_data.py` plants a labeled `lang`
  * column exactly so a curation pass can key on it).
  *
  * The model is a Laplace-smoothed conditional bigram LM:
  * p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V). Two scores are offered:
  *
  *  - [[score]] — the ORACLE-SAFE pooled form. Per document it emits
  *    exact-integer sufficient statistics (Σ numerators, Σ denominators
  *    over the doc's bigrams) and ONE IEEE division of the two exact
  *    longs. Like BM25's rational idf, the libm-free formulation keeps
  *    the score bit-identical across engines, so the whole pipeline —
  *    training counts, smoothing, OOV handling — is hash-checked by a
  *    DuckDB twin. `ppl_proxy` = Σ(c1+V) / Σ(c12+1) is the inverse of
  *    the pooled probability estimate — it ranks documents the way
  *    perplexity does (familiar bigrams → small, unseen-heavy → large).
  *  - [[crossEntropy]] — the textbook log-space form,
  *    −(1/n)·Σ ln p(w2|w1). `ln` is libm (not correctly-rounded, so
  *    outside the oracle contract — the same house rule that makes HLL
  *    and the sketches rows-only); it is pinned exactly by LmSpec
  *    against a sequential fold in the same summation order
  *    (sort_array → left fold ⇔ sorted foldLeft, both on
  *    java.lang.Math.log).
  *
  * Scale: training is two explode → two-phase hash aggregates (counts
  * shuffle as (term, long), never text); V travels as a broadcast 1-row
  * frame; scoring joins the exploded corpus against the count tables on
  * the term key (AQE broadcasts them while they fit, shuffle-hash on
  * the term at 100 TB) and reduces to four longs per document on the
  * final shuffle. No step is quadratic and nothing collects.
  */
object NgramLm {

  /** Bigram counts c(w1 w2) over the reference corpus — the codegen'd
    * Shingles kernel (n=2), one two-phase hash aggregate.
    */
  def bigramCounts(ref: DataFrame, textCol: String): DataFrame = {
    ref.select(explode(T.shingles(col(textCol), 2)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("c12"))
  }

  /** Unigram (history) counts c(w1) over the reference corpus. */
  def unigramCounts(ref: DataFrame, textCol: String): DataFrame =
    ref.select(explode(T.tokens(col(textCol))).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("c1"))

  /** The exploded corpus joined to the model counts: one row per
    * document bigram with its smoothing numerator c12 (null when
    * unseen) and history count c1 (null when the history word is
    * unseen), plus the broadcast vocabulary size `v`.
    */
  private def joined(docs: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, keep: Seq[String]): DataFrame = {
    val c12 = bigramCounts(ref, textCol)
    val c1 = unigramCounts(ref, textCol)
    val v = c1.agg(count(lit(1)).cast(LongType).as("v"))
    val x = docs
      .select((col(idCol) +: keep.map(col) :+
        explode(T.shingles(col(textCol), 2)).as("bigram")): _*)
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
    x.join(c12, Seq("bigram"), "left")
      .join(c1, col("w1") === c1("w"), "left")
      .crossJoin(broadcast(v))
  }

  /** Pooled LM familiarity per document (oracle-safe; see object doc).
    * Output: idCol, keep..., n_bigrams, n_unseen, sum_num, sum_den,
    * ppl_proxy.
    */
  def score(docs: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, keep: Seq[String] = Nil): DataFrame =
    joined(docs, idCol, textCol, ref, keep)
      .groupBy(idCol, keep: _*)
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("c12").isNull, 1L).otherwise(0L)).as("n_unseen"),
        sum(coalesce(col("c12"), lit(0L)) + lit(1L)).as("sum_num"),
        sum(coalesce(col("c1"), lit(0L)) + col("v")).as("sum_den"))
      .withColumn("ppl_proxy",
        col("sum_den").cast(DoubleType) / col("sum_num").cast(DoubleType))

  /** Per-document cross-entropy −(1/n)·Σ ln p(w2|w1) under the same
    * smoothed bigram model (log-space; LmSpec-pinned, not declared with
    * an oracle). The per-term logs are sorted before the fold so the
    * double summation order is deterministic regardless of partitioning.
    */
  def crossEntropy(docs: DataFrame, idCol: String, textCol: String,
      ref: DataFrame): DataFrame =
    joined(docs, idCol, textCol, ref, Nil)
      .select(col(idCol),
        log((coalesce(col("c12"), lit(0L)) + lit(1L)).cast(DoubleType) /
          (coalesce(col("c1"), lit(0L)) + col("v")).cast(DoubleType))
          .as("lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        sort_array(collect_list(col("lp"))).as("lps"))
      .select(col(idCol), col("n_bigrams"),
        (-aggregate(col("lps"), lit(0.0), (acc, x) => acc + x) /
          col("n_bigrams").cast(DoubleType)).as("cross_entropy"))
}
