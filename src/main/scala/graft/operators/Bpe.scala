package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Cut

/** Byte-pair-encoding tokenizer training and encoding (Sennrich,
  * Haddow & Birch 2016, "Neural Machine Translation of Rare Words with
  * Subword Units") — the learned-vocabulary twin of the regex token
  * counter in [[graft.functions.TextFunctions]], and the missing
  * middle of the training-data pipeline: mixture weights, packing and
  * length histograms all want counts under the ACTUAL tokenizer, not a
  * whitespace proxy.
  *
  * Scale shape (the part that matters at 100 TB): BPE never iterates
  * over the corpus. ONE distributed pass builds the distinct-word
  * frequency table ([[wordTable]]) — Heaps'-law bounded, orders of
  * magnitude smaller than the corpus — and every merge iteration is an
  * aggregation over THAT table: pair counts (one shuffle of
  * (pair, cnt) rows), a 1-row argmax collect (the same documented
  * driver hop as the kmeans/IVF builders), and a map-side fold
  * applying the merge. Lineage is cut every few iterations exactly
  * like [[graft.ann.Ann.kmeans]]. Training is one-time index
  * construction — the merge table and word→tokens vocabulary persist
  * via the standard fingerprint-keyed artifact cache, and encoding is
  * a broadcast/equi join of corpus words against the vocabulary.
  *
  * Determinism contract (what makes the result checkable): words are
  * whitespace-split as-is, symbols are per-character with a final
  * `</w>` end-of-word marker, merges apply greedily left-to-right,
  * and the best-pair argmax breaks count ties lexicographically on
  * (left, right) — so the merge sequence is a pure function of the
  * corpus, bit-identical across runs, partitionings and engines
  * (BpeSpec pins it against an independent sequential reference).
  */
object Bpe {

  /** Distinct-word frequency table: (word, syms, cnt), symbols being
    * the word's characters plus the `</w>` marker. The one corpus
    * scan; everything after runs on this Heaps'-law-bounded table.
    */
  def wordTable(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(col("word"),
        concat(
          transform(sequence(lit(1), length(col("word"))),
            i => col("word").substr(i, lit(1))),
          array(lit("</w>"))).as("syms"),
        col("cnt"))

  /** Adjacent symbol-pair counts over a (syms, cnt) table, weighted by
    * word frequency: (l, r, pair_cnt). Map-side pair explosion (the
    * sequence/transform never leaves the row), one shuffle keyed on
    * the pair.
    */
  def pairCounts(words: DataFrame): DataFrame =
    words
      // slice+zip_with (not sequence(1, n-1), which DESCENDS when a
      // fully-merged word leaves n = 1): a 1-symbol word zips two
      // empty slices and explode drops it
      .select(explode(zip_with(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1),
        (l, r) => struct(l.as("l"), r.as("r"))))
        .as("p"), col("cnt"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("pair_cnt"))

  /** One greedy left-to-right merge of the adjacent pair (l, r) into
    * the single symbol l+r, as a fold over the symbol array: standard
    * BPE application order — after "aa" merges in "aaa" the survivor
    * is ["aa", "a"], never ["a", "aa"]. Pure map-side.
    */
  def applyMerge(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1),
            array(lit(l + r))))
          .otherwise(concat(acc, array(x))))

  /** Learned merges + final vocabulary. Returns (merges, vocab):
    * merges = (rank, left, right, merged) in application order, vocab
    * = (word, tokens) — every distinct corpus word's tokenization
    * under the full merge sequence. `numMerges` is the vocabulary
    * budget (an index-build parameter, not convergence-chased); the
    * loop stops early when no adjacent pair occurs twice.
    */
  def train(docs: DataFrame, textCol: String,
      numMerges: Int): (Seq[(Int, String, String)], DataFrame) = {
    var words = Cut(wordTable(docs, textCol))
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String)]()
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      // 1-row argmax — the documented driver hop (pair table rows,
      // never corpus rows); ties break lexicographically so the merge
      // sequence is engine-independent
      val best = pairCounts(words)
        .filter(col("pair_cnt") >= 2)
        .orderBy(col("pair_cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val (l, r) = (best.head.getAs[String]("l"),
          best.head.getAs[String]("r"))
        merges += ((rank, l, r))
        words = words.select(col("word"),
          applyMerge(col("syms"), l, r).as("syms"), col("cnt"))
        // cut lineage like the kmeans loop — each iteration's frame is
        // vocabulary-sized, so the checkpoint is cheap
        if (rank % 8 == 7) words = Cut(words)
        rank += 1
      }
    }
    (merges.toSeq,
      words.select(col("word"), col("syms").as("tokens")))
  }

  /** Persisted trainer: merges and vocabulary committed once per
    * (dataset, numMerges) key — training is a one-time batch job, and
    * every encode thereafter reads the artifact. Returns (merges df
    * with columns rank/left/right/merged, vocab df word/tokens).
    */
  def persistedBpe(docs: DataFrame, textCol: String, numMerges: Int,
      path: String): (DataFrame, DataFrame) = synchronized {
    val spark = docs.sparkSession
    import spark.implicits._
    val mDir = new java.io.File(s"${path}_${textCol}_m${numMerges}_bpe1")
    val vDir = new java.io.File(s"${path}_${textCol}_v${numMerges}_bpe1")
    if (!new java.io.File(mDir, "_SUCCESS").exists ||
        !new java.io.File(vDir, "_SUCCESS").exists) {
      val (merges, vocab) = train(docs, textCol, numMerges)
      graft.sources.Artifacts.commitOnce(spark, mDir.getAbsolutePath)(
        tmp => merges.toDF("rank", "left", "right")
          .withColumn("merged", concat(col("left"), col("right")))
          .repartition(1)
          .write.mode("overwrite").parquet(tmp))
      graft.sources.Artifacts.commitOnce(spark, vDir.getAbsolutePath)(
        tmp => vocab.write.mode("overwrite").parquet(tmp))
    }
    (spark.read.parquet(mDir.getAbsolutePath),
      spark.read.parquet(vDir.getAbsolutePath))
  }

  /** Token counts per document under a trained vocabulary: corpus
    * words equi-join the (word → token count) map — no per-row merge
    * replay, no driver hop; the vocabulary side aggregates to one int
    * per distinct word, broadcastable for any realistic vocab and an
    * ordinary shuffle join beyond that. Words absent from the
    * vocabulary (none when encoding the training corpus itself) fall
    * back to their character count — the always-defined base
    * segmentation.
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame = {
    val counts = vocab.select(col("word"),
      size(col("tokens")).as("word_tokens"))
    docs.select(col(idCol),
        explode(split(col(textCol), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .join(broadcast(counts), Seq("word"), "left")
      .groupBy(col(idCol))
      .agg(sum(coalesce(col("word_tokens"),
        length(col("word")) + 1)).as("n_tokens"))
  }
}
