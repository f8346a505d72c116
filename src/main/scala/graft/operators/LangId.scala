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
  * rows. The learned profile is ≤ m rows per language: BROADCAST by
  * construction. Prediction is one explode + aggregate on the doc's
  * own grams and one broadcast join against the profile — no shuffle
  * ever carries document text, and the 100 TB cost is the one
  * tf-aggregate pass.
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

  /** Predicted language per document: (idCol, pred_lang). Every
    * profile language is a candidate (score 0 on zero overlap);
    * argmax by (score desc, lang asc) via a single min-struct.
    */
  def classify(docs: DataFrame, idCol: String, textCol: String,
      profiles: DataFrame): DataFrame = {
    // char-gram explosion is compute-dense map work: spread an
    // under-split doc layout first (guide §2.5; no-op at production
    // file counts) so the split + gram pass runs on every core
    val tf = graft.sources.Tables.spread(
      docs.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(gramsOf(col(textCol))).as("gram"))
      .groupBy(col(idCol), col("gram"))
      .agg(count(lit(1)).as("tf"))
    val scores = tf.join(broadcast(profiles), "gram")
      .groupBy(col(idCol), col("lang"))
      .agg(sum(col("tf") * col("w")).as("score"))
    // argmax by (score desc, lang asc) over ONE packed long per
    // candidate row (r22): min over a STRUCT falls back to
    // SortAggregate (struct buffers are not hash-aggregable), sorting
    // every (doc, lang) row on both sides of the exchange. The
    // language dimension is bounded (a learned profile has a handful
    // of languages), so rank each lang once (tiny single-partition
    // window — |langs| rows) and pack score·2¹⁶ + (2¹⁶-1 - rank):
    // max(packed) = highest score, ties to the LOWEST rank = lexically
    // smallest lang, exactly the old struct order. Scores are
    // non-negative integer rank-weights sums; out-of-range packing
    // (score >= 2⁴⁶ or > 2¹⁶ languages) REFUSES in-plan (raise_error)
    // rather than mis-ranking.
    val langs = profiles.select(col("lang")).distinct()
      .withColumn("lidx",
        row_number().over(Window.orderBy(col("lang"))).cast(LongType) - 1)
    val enc = {
      val s = coalesce(col("score"), lit(0L))
      when(s >= 0 && s < (1L << 46) && col("lidx") < (1L << 16),
        shiftleft(s, 16) + (lit((1L << 16) - 1) - col("lidx")))
        .otherwise(raise_error(concat(
          lit("lang-id argmax packing out of range: score="),
          s.cast("string"), lit(" lidx="), col("lidx").cast("string"))))
    }
    docs.select(col(idCol))
      .crossJoin(broadcast(langs))
      .join(scores, Seq(idCol, "lang"), "left")
      .groupBy(col(idCol))
      .agg(max(enc).as("best"))
      .select(col(idCol),
        ((lit(1L << 16) - 1) - col("best").bitwiseAND(lit(0xFFFFL)))
          .as("lidx"))
      .join(broadcast(langs), "lidx")
      .select(col(idCol), col("lang").as("pred_lang"))
  }
}
