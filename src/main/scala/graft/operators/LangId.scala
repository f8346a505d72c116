package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** LEARNED character-n-gram language identification — the trainable
  * upgrade of [[graft.functions.TextFunctions.langId]]'s fixed
  * stopword argmax (the fastText-class surface a curation pipeline
  * needs; reference analog: a classifier a lake user would train by
  * exporting aggregates out of Athena, `outputs.tf:57-97`'s delegated
  * class).
  *
  * Scheme: the rank-profile method of Cavnar & Trenkle 1994 ("N-Gram-
  * Based Text Categorization"), kept fully integer so the fit and the
  * prediction are bit-reproducible across engines (the
  * [[Regression]]/[[NgramLm]] exact-moment stance — no logs, no
  * floating accumulation order):
  *
  *  - TRAIN: per language, count every character 1- and 2-gram of the
  *    lowercased labeled text (exact integer counts, order-free);
  *    keep the top `m` grams by (count desc, gram asc); the gram at
  *    rank r carries integer weight m - r + 1.
  *  - PREDICT: score(doc, lang) = Σ over the doc grams of
  *    tf(doc, gram) · weight(lang, gram); argmax with ties broken by
  *    language code — a deterministic integer argmax, exactly
  *    SQL-expressible, so the declared query is DuckDB hash-checked
  *    end to end (training INCLUDED).
  *
  * Scale shape: training is one explode + two-phase hash aggregate on
  * (lang, gram) — the shuffle carries 2-char grams with long counts —
  * plus a per-language top-m window over ≤ |langs|·|distinct grams|
  * rows. The learned profile is ≤ m rows per language, so prediction
  * collects it to the driver and scores each document in ONE row
  * kernel ([[graft.functions.LangArgmax]]) with the profile as a plan
  * literal: the spread is the only exchange, and no shuffle ever
  * carries document text or per-gram rows. The 100 TB cost is one map
  * pass over the documents.
  */
object LangId {

  /** The lowercased text as a character ARRAY — materialized once per
    * row by the callers so gram extraction is O(1) array accesses.
    * (`substr(i, n)` inside a `transform` re-scans the string for the
    * byte offset of position i on EVERY element — O(len²) per
    * document, measured 10 s on the 5k-doc bench corpus; the split
    * form is linear.) Split of an empty string yields a phantom ""
    * element, filtered here.
    */
  private def charsOf(text: Column): Column =
    filter(split(lower(text), ""), c => c =!= lit(""))

  /** The full 1+2-gram stream in ONE codegen'd pass
    * ([[graft.functions.CharGrams]], r22): the split("") + two
    * interpreted transform lambdas with per-element `element_at`
    * (the [[charsOf]]/[[gramsFromChars]] chain) cost ~µs per CHARACTER
    * of every document; the kernel lowercases once and emits zero-copy
    * slices. Bit-identical gram stream (CharGramsSpec pins it).
    */
  private def gramsOf(text: Column): Column =
    graft.functions.GraftFunctions.charGrams(text)

  /** Character 1- and 2-grams over a materialized char array
    * (Cavnar-Trenkle profiles mix n-gram orders; unigrams carry the
    * load for scripts where two-character collocations rarely repeat —
    * a held-out Chinese sentence shares single characters with
    * training text far more reliably than character PAIRS). Empty
    * text yields the empty array (never a phantom gram).
    */
  private def gramsFromChars(ch: Column): Column = {
    val bis = when(size(ch) >= 2,
      transform(sequence(lit(1), size(ch) - 1),
        i => concat(element_at(ch, i), element_at(ch, i + 1))))
      .otherwise(array().cast("array<string>"))
    concat(ch, bis)
  }

  /** Character 1- and 2-grams of the lowercased text — the one-shot
    * form for ad-hoc use; [[trainProfiles]]/[[classify]] project the
    * char array first so the split runs once per row.
    */
  def charGrams(text: Column): Column = gramsFromChars(charsOf(text))

  /** The learned profile: (lang, gram, w) — the top `m` grams per
    * language by exact count (ties by gram), rank r weighing m-r+1.
    */
  def trainProfiles(labeled: DataFrame, langCol: String, textCol: String,
      m: Int = 100): DataFrame = {
    require(m >= 1, "m must be >= 1")
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("cnt").desc, col("gram"))
    labeled
      .select(col(langCol).as("lang"),
        explode(gramsOf(col(textCol))).as("gram"))
      .groupBy(col("lang"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= m)
      .select(col("lang"), col("gram"),
        (lit(m) - col("rn") + 1).cast(LongType).as("w"))
  }

  /** Predicted language per document: (idCol, pred_lang), one row per
    * input row. Every profile language is a candidate (score 0 on zero
    * overlap, and for null or empty text); argmax by (score desc, lang
    * asc). An empty profile yields no rows. Ids must be unique: the
    * kernel scores each row on its own text, where a relational
    * group-by would merge the grams of rows sharing an id.
    */
  def classify(docs: DataFrame, idCol: String, textCol: String,
      profiles: DataFrame): DataFrame = {
    val profile = profiles
      .select(col("lang"), col("gram"), col("w").cast(LongType))
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) 0L else r.getLong(2)))
    // char-gram scoring is compute-dense map work: spread an
    // under-split doc layout first (guide §2.5; no-op at production
    // file counts) so the gram pass runs on every core
    val pred = graft.sources.Tables.spread(
      docs.select(col(idCol), col(textCol)))
      .select(col(idCol),
        graft.functions.GraftFunctions.langArgmax(
          gramsOf(col(textCol)), typedLit(profile)).as("pred_lang"))
    if (profile.isEmpty) pred.filter(lit(false)) else pred
  }
}
