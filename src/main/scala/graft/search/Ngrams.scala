package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.TextFunctions

/** Corpus-level n-gram statistics for training-data curation — the
  * shingle-frequency view of the corpus that quality filtering and
  * cross-source contamination auditing read (reference analog: the
  * corpus profiling a lake user scripts over Athena full scans,
  * `outputs.tf:41-97`; here each statistic is one declarative plan).
  *
  * All counts are exact integers (distinct-shingle document
  * frequencies), so every derived ratio is one correctly-rounded IEEE
  * division over exact inputs — any engine reproduces the numbers
  * bit-for-bit, which keeps the whole family oracle-checkable (the same
  * design contract as [[Bm25]]'s rational idf).
  *
  * Scale posture: shingling is a map-side codegen'd expression
  * ([[graft.functions.Shingles]]); every aggregation below is a
  * two-phase hash aggregate keyed on the shingle (partial map-side
  * combine before the one shuffle), and nothing ever joins text to
  * text — after the explode, only 3-word shingle strings and counts
  * move. No all-pairs comparison anywhere: the cross-source join is
  * keyed on the shingle, so a shingle shared by g sources costs
  * O(g²) rows for that shingle only, bounded by the (small) source
  * count, never by corpus size.
  */
object Ngrams {

  /** Distinct `(doc, shingle)` pairs — each document's shingle SET
    * (duplicates within a document collapse, the same contract as
    * MinHash/Jaccard dedup). The explode fans out ~|tokens| rows per
    * document but carries only the shingle string and the id.
    */
  def docShingles(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(TextFunctions.shingles(col(textCol), n)))
        .as("shingle"))
  }

  /** Document frequency per shingle: in how many documents does each
    * distinct shingle appear. One two-phase count over [[docShingles]];
    * the result is the corpus-wide boilerplate table (df ≈ n_docs marks
    * template text, df = 1 marks unique content).
    */
  def shingleDf(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    docShingles(docs, idCol, textCol, n)
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))

  /** Per-document commonness score against the corpus: for each
    * document, the exact sum and mean of its distinct shingles'
    * document frequencies. High mean_df = stereotyped/boilerplate text
    * (every shingle appears in many other documents); mean_df ~ 1 =
    * novel text. The n-gram-LM flavor of quality scoring with exact
    * integer accumulation: `sum_df` and `n_shingles` are BIGINTs
    * (order-independent sums), and the one double division happens
    * per output row, so results are bit-stable under any partitioning.
    *
    * Two shuffles at scale: the df table build (shingle-keyed) and the
    * probe join back (shingle-keyed again, then doc-keyed partial agg).
    * Text never shuffles.
    */
  def commonness(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, stagingDir: Option[String] = None): DataFrame = {
    // the (doc, shingle) explode feeds both the df build and the probe
    // join; `stagingDir` materializes it once (see [[groupOverlap]])
    val ds = stagingDir.fold(docShingles(docs, idCol, textCol, n)) {
      dir =>
        val s = docs.sparkSession
        graft.sources.Artifacts.commitOnce(s, dir)(tmp =>
          docShingles(docs, idCol, textCol, n)
            .write.mode("overwrite").parquet(tmp))
        s.read.parquet(dir)
    }
    val df = ds.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    ds.join(df, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), sum(col("df")).as("sum_df"))
      .select(col("doc_id"), col("n_shingles"), col("sum_df"),
        (col("sum_df").cast(DoubleType) /
          col("n_shingles").cast(DoubleType)).as("mean_df"))
  }

  /** Cross-document repeated spans — the repetition-analysis stage of
    * corpus curation (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better": verbatim multi-document spans are
    * the memorization hazard): every `spanTokens`-token window
    * (stride 1) that appears in at least `minDocs` DISTINCT documents,
    * with its document count — ranked most-repeated first, `span`
    * tiebreak, top `topK`.
    *
    * Two-pass scale shape: pass 1 counts DISTINCT documents per span
    * FINGERPRINT (xxhash64) — the shuffle carries 16 bytes per window,
    * never span text; pass 2 re-derives spans map-side and joins the
    * surviving fingerprints (n_docs ≥ minDocs) to attach text, so only
    * survivors' text ever shuffles (the count-on-hashes /
    * materialize-only-survivors pattern the MinHash verify stage
    * uses). A 64-bit fingerprint collision would merge two spans'
    * counts — probability ~n²/2⁶⁵, the same accepted contract as
    * [[graft.dedup.Dedup]]'s content fingerprints.
    */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 10, minDocs: Int = 2,
      topK: Int = 25): DataFrame = {
    require(spanTokens >= 2 && minDocs >= 2 && topK >= 1,
      s"invalid repeatedSpans params ($spanTokens, $minDocs, $topK)")
    val toks = TextFunctions.tokens(col(textCol))
    // per-doc distinct span windows via the codegen'd [[Shingles]]
    // kernel (the interpreted transform/slice/concat_ws form costs
    // seconds per corpus scan — see Shingles' scaladoc); docs under
    // spanTokens explode nothing, so its under-n whole-text fallback
    // never fires
    // scan-spread (guide §2.5; no-op at production file counts): the
    // window explode runs once per consumer (count pass + text join)
    // and is the dominant map work — an under-split layout would run
    // both passes on one core. The spread frame carries the raw columns
    // only, and the short-doc test sits inside the generator: as a
    // filter, the optimizer would push it (and the tokenizer with it)
    // through the spread onto the under-split scan (see Tables.spread)
    def docSpans = graft.sources.Tables.spread(
      docs.select(col(idCol).as("doc_id"), col(textCol)))
      .select(col("doc_id"),
        explode(when(size(toks) >= spanTokens, array_distinct(
          TextFunctions.shingles(col(textCol), spanTokens)))).as("span"))
    val counts = docSpans
      .select(xxhash64(col("span")).as("h"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
    docSpans
      .withColumn("h", xxhash64(col("span")))
      .join(counts, "h")
      .select(col("span"), col("n_docs"))
      .distinct()
      .orderBy(col("n_docs").desc, col("span"))
      .limit(topK)
  }

  /** Pairwise shingle-set overlap between corpus slices — the
    * cross-source contamination matrix (how much of source A's content
    * also appears in source B): for each group pair `a < b`,
    * `n_common = |shingles(a) ∩ shingles(b)|`, both set sizes, and the
    * exact Jaccard. The inputs to the division are exact BIGINTs, so
    * the matrix is oracle-reproducible.
    *
    * The intersection join is keyed on the SHINGLE (never all-pairs
    * over documents): a shingle present in g groups contributes
    * C(g, 2) rows — bounded by the group count squared per shingle,
    * independent of corpus size. Group set sizes are a handful of rows
    * and broadcast onto the pair counts. Pairs sharing NO shingle are
    * absent from the result (an inner intersection join; a zero row
    * carries no curation signal).
    */
  def groupOverlap(docs: DataFrame, groupCol: String, textCol: String,
      n: Int = 3, stagingDir: Option[String] = None): DataFrame = {
    // distinct (group, shingle): the per-group shingle SET. The frame
    // feeds THREE plan subtrees (both sides of the intersection join +
    // the set sizes) and Spark does not share subtrees, so without
    // staging the corpus is scanned and shingled three times —
    // `stagingDir` materializes the set once (fingerprint-keyed
    // artifact, the same staging pattern as Packing.packBins) and the
    // three consumers read the tiny staged parquet instead.
    val fresh = docs.select(col(groupCol).as("g"),
      explode(array_distinct(TextFunctions.shingles(col(textCol), n)))
        .as("shingle"))
      .distinct()
    val gs = stagingDir.fold(fresh) { dir =>
      val s = docs.sparkSession
      graft.sources.Artifacts.commitOnce(s, dir)(tmp =>
        fresh.write.mode("overwrite").parquet(tmp))
      s.read.parquet(dir)
    }
    val sizes = gs.groupBy(col("g")).agg(count(lit(1)).as("n"))
    val inter = gs.alias("a")
      .join(gs.alias("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("group_a"), col("b.g").as("group_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select(col("g").as("group_a"),
        col("n").as("n_a"))), Seq("group_a"))
      .join(broadcast(sizes.select(col("g").as("group_b"),
        col("n").as("n_b"))), Seq("group_b"))
      .select(col("group_a"), col("group_b"), col("n_common"),
        col("n_a").cast(LongType).as("n_a"),
        col("n_b").cast(LongType).as("n_b"),
        (col("n_common").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_common")).cast(DoubleType))
          .as("jaccard"))
  }
}
