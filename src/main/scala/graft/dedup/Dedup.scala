package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.Cut
import graft.functions.TextFunctions

/** Deduplication operators for training-data pipelines, all expressed as
  * distributed dataflow (no driver-side loops):
  *
  *  - exact: content-hash group-by (shuffles 32-byte hashes, never text)
  *  - MinHash+LSH: shingle → k minhashes → banded buckets → per-bucket
  *    pair explosion, so the quadratic all-pairs comparison never
  *    materializes (Broder 1997 "On the resemblance and containment of
  *    documents"; banding per Mining of Massive Datasets §3.4)
  *  - SimHash: 64-bit fingerprint, Hamming-ball candidate join via the
  *    pigeonhole chunk trick (Manku, Jain, Sarma, WWW 2007)
  *  - exact n-gram Jaccard verification of candidate pairs
  *
  * Scale shape shared by the LSH paths: ONE shuffle keyed on the bucket
  * key (a groupBy → collect_list of ids), a bucket-size cap that drops
  * degenerate hot buckets (boilerplate shingles / all-zero chunks would
  * otherwise go O(n²) on one reducer), then map-side pair explosion within
  * each ≤cap bucket. Compared to the naïve keyed self-join this removes a
  * second full shuffle AND bounds the worst-case reducer to cap²/2 pairs.
  */
object Dedup {

  // ---- exact -------------------------------------------------------------

  /** One row per distinct content: keeper id (min), copy count. The join
    * key is sha256(text) so the shuffle carries 64 hex chars per doc, not
    * document bodies — at 100 TB the shuffle is ~0.1% of input size.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), sha2(col(textCol), 256).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Streaming exact dedup for ingest pipelines: the first occurrence of
    * each content hash passes; later copies are dropped while their hash
    * is still in state, and the watermark bounds that state — a duplicate
    * arriving more than `delay` after the original is treated as new
    * (the standard bounded-state tradeoff; unbounded exact dedup over an
    * infinite stream is impossible).
    */
  def exactStreaming(docs: DataFrame, textCol: String, tsCol: String,
      delay: String): DataFrame =
    docs.withColumn("content_hash", sha2(col(textCol), 256))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Incremental exact dedup against a PERSISTED corpus index — the
    * continuous-ingest form of [[exact]]: each arriving batch is deduped
    * against every batch seen before it without rescanning the corpus,
    * and the index of seen hashes updates atomically with the answer.
    *
    * The index is a [[graft.streaming.CdcApply]] table keyed on the
    * content hash with a CONSTANT version — first-wins falls out of the
    * CDC machinery with no special casing: copy-on-write drops a
    * re-delivered (hash, version) via its anti-join, merge-on-read
    * resolves the tie to the first-applied row, so in both modes a hash
    * keeps its original batch stamp forever. Survivors are then READ
    * BACK from the index's own change feed (`changesSince(batchId - 1)`
    * restricted to this batch's stamp) rather than computed before the
    * commit — which makes the whole operation idempotent: a crashed or
    * replayed batch no-ops the apply (replay guard) and the feed still
    * serves exactly the rows that batch admitted.
    *
    * Returns one row per ADMITTED (first-ever-seen) hash:
    * (content_hash, idCol) with idCol = the smallest id carrying that
    * hash within the batch. At 100 TB: the batch shuffles 64-hex-char
    * hashes (never text), the index apply is O(touched buckets) — or
    * O(batch) with `maxDeltas > 0`, the right mode for a large index
    * fed by trickle batches — and the survivor read is manifest-pruned
    * to the directories this batch wrote.
    */
  def incrementalExact(batch: DataFrame, indexRoot: String, idCol: String,
      textCol: String, batchId: Long, numBuckets: Int = 16,
      maxDeltas: Int = 0): DataFrame = {
    import graft.streaming.CdcApply
    val spark = batch.sparkSession
    val hashes = batch
      .select(sha2(col(textCol), 256).as("content_hash"), col(idCol))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as(idCol))
      .withColumn("first_seen", lit(1L))
    CdcApply.applyBatch(hashes, batchId, indexRoot, Seq("content_hash"),
      "first_seen", None, numBuckets = numBuckets, maxDeltas = maxDeltas)
    CdcApply.changesSince(spark, indexRoot, batchId - 1)
      .getOrElse(throw new IllegalStateException(
        s"dedup index missing after apply: $indexRoot"))
      .filter(col(CdcApply.ChangeBatchCol) === batchId)
      .select(col("content_hash"), col(idCol))
  }

  // ---- chunk-level (line/paragraph) dedup --------------------------------

  /** Fixed token-budget segmentation as one map-side array expression:
    * `array<struct<chunk_idx, chunk_text, chunk_tokens>>`, tail chunk
    * short, zero-token text → empty array (never a phantom chunk). The
    * segmentation UNIT for [[chunkDedup]]/[[boilerplateStrip]] — the
    * corpus carries no newlines, so the chunker plays the role line/
    * paragraph boundaries play in C4/CCNet; swap the splitter and the
    * operators below are line-level verbatim.
    */
  def chunkArray(text: Column, chunkLen: Int): Column = {
    val toks = TextFunctions.tokens(text)
    when(size(toks) > 0, transform(
      sequence(lit(0),
        ceil(size(toks) / lit(chunkLen.toDouble)).cast("int") - 1),
      i => struct(
        i.cast(LongType).as("chunk_idx"),
        concat_ws(" ", slice(toks, i * chunkLen + 1, lit(chunkLen)))
          .as("chunk_text"),
        least(lit(chunkLen), size(toks) - i * chunkLen)
          .cast(LongType).as("chunk_tokens"))))
      .otherwise(array().cast(
        "array<struct<chunk_idx:bigint,chunk_text:string,chunk_tokens:bigint>>"))
  }

  /** Line segmentation — the LITERAL C4/CCNet unit: one element per
    * NON-BLANK line (trimmed), `chunk_idx` = the original 0-based line
    * number so rebuild order survives dropped blanks. Newline-free
    * text is one line; empty text is an empty array.
    *
    * r22: the struct is (chunk_idx, chunk_text) ONLY — the old third
    * field (`chunk_tokens`, the line's whitespace token count) cost a
    * full per-line tokenization on EVERY evaluation of every line
    * query (twice per lineDedup run, three times per boilerplate run)
    * and had no consumer anywhere; the dedup/boilerplate/near-dup
    * machinery reads exactly chunk_idx + chunk_text.
    */
  def lineArray(text: Column): Column =
    filter(
      transform(split(text, "\n"), (l, i) => struct(
        i.cast(LongType).as("chunk_idx"),
        trim(l).as("chunk_text"))),
      s => s("chunk_text") =!= "")

  /** Corpus-wide FIRST-OCCURRENCE chunk dedup (the line-level exact
    * dedup of C4/CCNet, at chunk granularity): a chunk survives iff no
    * identical chunk appears earlier in corpus order (id, chunk_idx);
    * each document is rebuilt from its surviving chunks in order.
    * Returns (id, n_chunks, n_kept, clean_text) — clean_text is ""
    * when every chunk of a document was seen before.
    *
    * Scale shape: the first-occurrence resolution shuffles ONLY
    * (sha256, id, chunk_idx) — 48 bytes per chunk, never text — through
    * ONE hash-keyed min-aggregate; the surviving set IS the firsts (a
    * chunk occurrence is kept iff it is its hash's corpus-order
    * minimum), so no join on the hash ever forms, partial aggregation
    * absorbs a boilerplate chunk repeated 10⁹ times map-side, and the
    * firsts fold straight to one int-array row per document.
    * Reconstruction re-chunks the document MAP-SIDE and keeps the
    * flagged indexes, so document text crosses the wire only in the
    * final O(docs) join on the primary key. Ties are impossible
    * (a (id, chunk_idx) key is unique), so min-struct is deterministic.
    */
  def chunkDedup(docs: DataFrame, idCol: String, textCol: String,
      chunkLen: Int = 16): DataFrame =
    segmentDedup(docs, idCol, textCol, chunkArray(_, chunkLen), " ")

  /** LINE-LEVEL first-occurrence dedup — [[chunkDedup]] with the
    * [[lineArray]] splitter and newline rebuild: the literal C4/CCNet
    * move on real multiline text. Same plan shape (hashes on the
    * wire, firsts-only, map-side rebuild).
    */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    segmentDedup(docs, idCol, textCol, lineArray, "\n")

  /** PARAGRAPH-GRANULAR near-dup dedup — the CCNet/RefinedWeb move
    * the per-document MinHash path cannot express: near-duplicate
    * SEGMENTS (newline paragraphs) are removed even when their host
    * documents are globally dissimilar. A segment occurrence survives
    * iff no EARLIER segment (corpus order = (id, segment index)) is
    * near-identical: identical earlier ⇒ dropped (exact stage),
    * exact shingle-Jaccard >= `threshold` to an earlier FIRST
    * occurrence ⇒ dropped (near stage). Documents rebuild from their
    * surviving segments, [[lineDedup]]'s contract: (id, n_chunks,
    * n_kept, clean_text).
    *
    * Two-stage shape — the identical-segment mass never reaches the
    * pair machinery: stage 1 is [[lineDedup]]'s hash-keyed min-struct
    * (first occurrence per distinct text; a boilerplate line repeated
    * 10⁹ times folds map-side and contributes ONE representative),
    * stage 2 runs MinHash banding + exact-Jaccard verification over
    * the DISTINCT representatives only (signature per segment,
    * band-bucket per segment — [[minhashCandidatesFromSigs]] /
    * [[verifyJaccard]] reused verbatim, never all-pairs). Dropping
    * later-first representatives of verified pairs is equivalent to
    * the per-occurrence rule: any non-first occurrence has its own
    * first (similarity 1) earlier, and a first's earlier near-dups
    * have even earlier firsts. Representative order rides one long:
    * id·2²⁰ + segment index (indexes above 2²⁰ refuse in-plan).
    *
    * Recall is LSH-statistical (bands=16, r=2 ⇒ a 0.8-similar pair
    * collides with p ≈ 1−1.7e-8); precision is exact (verification).
    */
  def paragraphNearDup(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, k: Int = 32, bands: Int = 16,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    // the representative long encodes corpus order as id*2^20 + idx —
    // a non-integral id would silently coerce to double arithmetic
    // and lose ordering precision past 2^52; refuse instead
    docs.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => ()
      case dt => throw new IllegalArgumentException(
        s"paragraphNearDup needs an integral id column; '$idCol' is " +
          s"${dt.simpleString}")
    }
    val segs = docs
      .select(col(idCol).as("_cd_id"),
        explode(lineArray(col(textCol))).as("c"))
      .select(col("_cd_id"), col("c.chunk_idx"), col("c.chunk_text"))
    // stage 1: corpus-order-first occurrence per distinct segment
    // text. The packed (id, idx) key (packFirst — min-struct would
    // SortAggregate, r22) IS the representative long id·2²⁰ + idx the
    // stage-2 ordering rides: min(packed) = corpus-order min = rep,
    // one aggregate, guards in-plan (index >= 2²⁰ refuses — the same
    // contract the old post-aggregate guard enforced, now checked on
    // every occurrence rather than only the winning one).
    // MATERIALIZED with a lineage cut (r21; the clusters/pagerank
    // Cut pattern — recomputed from the inputs on every
    // invocation): the firsts aggregate feeds the signature build,
    // both sides of the banding self-join, the verification shingle
    // sets AND the kept fold — seven plan subtrees that would each
    // re-run the segment explode + firsts aggregate uncut
    // (measured: the uncut plan carried 70 Exchanges).
    val firsts = Cut(segs
      .groupBy(col("chunk_text"))
      .agg(min(packFirst(col("_cd_id"), col("chunk_idx"))).as("rep"))
      .select(col("chunk_text"), packedId(col("rep")).as("_f_id"),
        packedIdx(col("rep")).as("_f_idx"), col("rep")))
    // stage 2: banded candidates + exact verification over DISTINCT
    // representatives; a verified pair drops its LATER side. The sig
    // table is cut too — the banding keyed explode and both join-backs
    // consume it, and each would otherwise recompute the k-minhash
    // pass over every distinct segment.
    val sigs = Cut(firsts.select(col("rep").as("doc_id"),
      minhashSignature(col("chunk_text"), k).as("sig")))
    val dropped = verifyJaccard(
      firsts.select(col("rep"), col("chunk_text")), "rep", "chunk_text",
      minhashCandidatesFromSigs(sigs, k, bands, bucketCap)
        .select(col("id_a"), col("id_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_b").as("rep")).distinct()
    val kept = firsts.join(dropped, Seq("rep"), "left_anti")
      .groupBy(col("_f_id").as("_cd_id"))
      .agg(sort_array(collect_list(col("_f_idx"))).as("_cd_kept"))
    rebuildFromKept(docs, idCol, textCol, lineArray, "\n", kept)
  }

  /** Scan-spread narrow (id, text) projection for the WINDOW-dense
    * operators ([[substrDedup]]'s per-token sha256 pass, the minhash
    * signature build): map work there is compute-dense enough that an
    * under-parallelized file layout (guide §2.5) is worth one narrow
    * round-robin of the doc rows — a no-op at production file counts
    * ([[graft.sources.Tables.spread]]). The CHUNK-granularity family
    * (segmentDedup/segmentBoilerplate: one hash per ~16-token chunk)
    * measured FASTER without it — the added exchange outweighs its
    * light map work — so it deliberately reads the scan as-is.
    */
  private def spreadDocs(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    graft.sources.Tables.spread(docs.select(col(idCol).as("_cd_id"),
      col(textCol).as("_cd_text")))

  // ---- packed corpus-order key -------------------------------------------
  //
  // Every firsts aggregate below resolves "corpus-order-first
  // occurrence" as a minimum over (id, index) pairs. min over a STRUCT
  // falls back to SortAggregate (struct buffers are not hash-
  // aggregable), which SORTS every (hash, id, index) row on both sides
  // of the exchange; packing the pair into ONE long (mixed radix:
  // id·2²⁰ + index) keeps the identical lexicographic order and the
  // aggregate a HashAggregate. The packing is order-preserving and
  // shiftright-decodable for ANY id in [-2⁴², 2⁴²) (arithmetic shift =
  // floor division by 2²⁰; the index field is always non-negative);
  // out-of-range ids or indexes >= 2²⁰ REFUSE IN-PLAN (raise_error —
  // the paragraphNearDup representative-encoding posture, now shared):
  // loud, never a silently wrong order.

  private[graft] val FirstIdxBits = 20
  private[graft] val FirstIdxCap = 1L << FirstIdxBits

  private def packFirst(id: Column, idx: Column): Column =
    when(idx >= 0 && idx < FirstIdxCap &&
        id >= -(1L << 42) && id < (1L << 42),
      shiftleft(id, FirstIdxBits) + idx)
      .otherwise(raise_error(concat(
        lit(s"packed corpus-order key out of range (idx < $FirstIdxCap, " +
          "|id| < 2^42 required): id="), id.cast("string"),
        lit(" idx="), idx.cast("string"))))

  private def packedId(enc: Column): Column =
    shiftright(enc, FirstIdxBits)

  private def packedIdx(enc: Column): Column =
    enc.bitwiseAND(lit(FirstIdxCap - 1))

  private def segmentDedup(docs: DataFrame, idCol: String,
      textCol: String, seg: Column => Column, sep: String): DataFrame = {
    val keys = docs
      .select(col(idCol).as("_cd_id"),
        explode(seg(col(textCol))).as("c"))
      .select(col("_cd_id"), col("c.chunk_idx"),
        sha2(col("c.chunk_text"), 256).as("h"))
    val kept = keys.groupBy(col("h"))
      .agg(min(packFirst(col("_cd_id"), col("chunk_idx"))).as("first"))
      .groupBy(packedId(col("first")).as("_cd_id"))
      .agg(sort_array(collect_list(packedIdx(col("first"))))
        .as("_cd_kept"))
    rebuildFromKept(docs, idCol, textCol, seg, sep, kept)
  }

  /** EXACT-SUBSTRING dedup (the ExactSubstr pipeline of Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better",
    * at token granularity): remove EVERY repeat of length >= k tokens,
    * wherever it starts — the guarantee neither fixed-chunk form gives
    * (a repeat straddling a chunk boundary survives [[chunkDedup]]).
    *
    * Semantics, pinned for the oracle: every k-token window of every
    * document is fingerprinted; a window OCCURRENCE is a hit iff an
    * identical window occurs EARLIER in corpus order (doc, position) —
    * so the corpus-order-first occurrence of any repeated substring is
    * kept, all later ones are cut (the first-occurrence policy of
    * [[chunkDedup]], generalized to every alignment). A token is
    * removed iff ANY hit window covers it, which merges overlapping
    * hits into maximal spans across window boundaries for free: a
    * repeat of length L >= k produces L-k+1 consecutive hit windows
    * whose union is exactly the repeat.
    *
    * Returns (id, n_tokens, n_removed, clean_text), clean_text = the
    * kept tokens in order ("" when everything was cut).
    *
    * Scale shape: the window pass shuffles (sha256, id, pos) — ~48 B
    * per TOKEN (each position opens one window) — into ONE hash-keyed
    * min-struct aggregate whose partial aggregation absorbs even a
    * boilerplate fingerprint repeated 10⁹ times map-side; the hit set
    * derives per doc from the firsts alone (every window position is
    * either its fingerprint's corpus-order-first or a hit), so nothing
    * ever joins on the hash, covered indexes expand MAP-SIDE, and the
    * only text-bearing join is O(docs) on the primary key.
    */
  def substrDedup(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    require(k >= 2, "k must be >= 2 (a 1-token repeat is a stopword)")
    val toks = TextFunctions.tokens(col(textCol))
    val base = spreadDocs(docs, idCol, textCol)
      .select(col("_cd_id").as("_sd_id"),
        TextFunctions.tokens(col("_cd_text")).as("toks"))
    val wins = base.filter(size(col("toks")) >= k)
      .select(col("_sd_id"), explode(transform(
        sequence(lit(0), size(col("toks")) - k),
        i => struct(i.cast(LongType).as("pos"),
          sha2(concat_ws(" ", slice(col("toks"), i + 1, lit(k))), 256)
            .as("h")))).as("w"))
      .select(col("_sd_id"), col("w.pos"), col("w.h"))
    // Every window position of a doc is either the corpus-order-FIRST
    // of its fingerprint or a hit — so the hit set is derivable from
    // the firsts ALONE: per doc, hits = all window positions minus the
    // doc's own first-positions. That keeps the resolution to ONE
    // packed-min HashAggregate on the hash (the packed (id, pos) key —
    // see packFirst — r22: the min-struct form fell back to
    // SortAggregate, sorting every window row on both sides of the
    // exchange; partial aggregation absorbs a boilerplate fingerprint
    // repeated 10⁹ times map-side, where a row_number window would
    // pile the hot hash on one reducer) plus one per-doc fold — the
    // fingerprint subtree evaluates once and nothing ever joins on
    // the hash.
    val firstPos = wins.groupBy(col("h"))
      .agg(min(packFirst(col("_sd_id"), col("pos"))).as("first"))
      .groupBy(packedId(col("first")).as("_sd_id"))
      .agg(collect_list(packedIdx(col("first"))).as("_sd_first"))
    // window count n-k+1 when n >= k (guarded: sequence would descend)
    val nWins = size(col("toks")).cast(LongType) - (k - 1)
    val hitArr = when(size(col("toks")) >= k,
      array_except(sequence(lit(0L), nWins - 1),
        coalesce(col("_sd_first"), array().cast("array<bigint>"))))
      .otherwise(array().cast("array<bigint>"))
    val covered = array_distinct(flatten(transform(
      hitArr, p => sequence(p, p + (k - 1)))))
    graft.sources.Tables.spread(
      docs.select(col(idCol), col(textCol)))
      .select(col(idCol), toks.as("toks"))
      .join(firstPos, col(idCol) === col("_sd_id"), "left")
      .select(col(idCol),
        size(col("toks")).cast(LongType).as("n_tokens"),
        size(covered).cast(LongType).as("n_removed"),
        // kept indexes via array_except — hash-based O(n + |covered|)
        // and order-preserving, where a filter + array_contains scan
        // is O(n·|covered|): quadratic for a heavily-duplicated
        // 10⁵-token document. Guard the empty doc: sequence(0, -1)
        // would DESCEND, not return empty (the chunkArray lesson).
        when(size(col("toks")) > 0, concat_ws(" ", transform(
          array_except(
            sequence(lit(0L), size(col("toks")).cast(LongType) - 1),
            covered),
          i => element_at(col("toks"), (i + 1).cast("int")))))
          .otherwise("").as("clean_text"))
  }

  /** CCNet-style boilerplate removal: drop every chunk whose DISTINCT-
    * document frequency reaches `minDocs` (navigation bars, license
    * footers, template headers — content that repeats ACROSS documents,
    * which first-occurrence dedup would keep once). Returns the same
    * (id, n_chunks, n_kept, clean_text) shape as [[chunkDedup]].
    *
    * Scale shape: the doc-frequency pass shuffles hashes only; the hot
    * set is by definition a tiny fraction of distinct chunks (broadcast
    * it when small, semi-join on the 32-byte hash otherwise — the form
    * below lets AQE pick), and survivors rebuild map-side exactly as in
    * [[chunkDedup]].
    */
  def boilerplateStrip(docs: DataFrame, idCol: String, textCol: String,
      chunkLen: Int = 16, minDocs: Int = 3): DataFrame =
    segmentBoilerplate(docs, idCol, textCol, chunkArray(_, chunkLen),
      " ", minDocs)

  /** LINE-LEVEL boilerplate strip — [[boilerplateStrip]] with the
    * [[lineArray]] splitter: the CCNet hot-line removal on real
    * multiline text.
    */
  def lineBoilerplateStrip(docs: DataFrame, idCol: String,
      textCol: String, minDocs: Int = 3): DataFrame =
    segmentBoilerplate(docs, idCol, textCol, lineArray, "\n", minDocs)

  private def segmentBoilerplate(docs: DataFrame, idCol: String,
      textCol: String, seg: Column => Column, sep: String,
      minDocs: Int): DataFrame = {
    // MATERIALIZED with a lineage cut (r22; the clusters/pagerank
    // Cut pattern — recomputed from the inputs on every
    // invocation): BOTH the hot-set aggregate and the left_anti join
    // consume the keys, and uncut each re-ran the segment explode +
    // per-chunk sha256 over the whole corpus. The cut carries
    // (id, chunk_idx, sha256) only — ~48 B per chunk, never text —
    // so it is scale-safe where cutting the segmented corpus itself
    // would not be.
    val keys = Cut(docs
      .select(col(idCol).as("_cd_id"),
        explode(seg(col(textCol))).as("c"))
      .select(col("_cd_id"), col("c.chunk_idx"),
        sha2(col("c.chunk_text"), 256).as("h")))
    val hot = keys.groupBy(col("h"))
      .agg(countDistinct(col("_cd_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("h"))
    val kept = keys.join(hot, Seq("h"), "left_anti")
      .groupBy(col("_cd_id"))
      .agg(sort_array(collect_list(col("chunk_idx"))).as("_cd_kept"))
    rebuildFromKept(docs, idCol, textCol, seg, sep, kept)
  }

  /** Shared reconstruction tail: attach each document's surviving
    * segment-index array (absent row = nothing survived) and rebuild
    * the cleaned text by re-segmenting map-side — the only join that
    * ever sees text, O(docs) rows on the primary key.
    */
  private def rebuildFromKept(docs: DataFrame, idCol: String,
      textCol: String, seg: Column => Column, sep: String,
      kept: DataFrame): DataFrame = {
    val keptIdx = coalesce(col("_cd_kept"),
      array().cast("array<bigint>"))
    docs
      .select(col(idCol), seg(col(textCol)).as("chs"))
      .join(kept, col(idCol) === col("_cd_id"), "left")
      .select(col(idCol),
        size(col("chs")).cast(LongType).as("n_chunks"),
        size(keptIdx).cast(LongType).as("n_kept"),
        concat_ws(sep, transform(
          filter(col("chs"), c => array_contains(keptIdx, c("chunk_idx"))),
          c => c("chunk_text"))).as("clean_text"))
  }

  /** Incremental NEAR-dup dedup against a persisted MinHash signature
    * index — the fuzzy sibling of [[incrementalExact]]: each arriving
    * batch is deduped against every doc ADMITTED before it (exact
    * shingle-Jaccard at or above `threshold` to any prior keeper drops
    * the newcomer), and the survivors' signatures join the index.
    * Within-batch near-dups are deliberately NOT resolved here — all
    * non-corpus-duplicate rows are admitted, and the caller composes
    * the batch-level pipeline ([[persistedVerifiedPairs]] →
    * [[clusters]] → [[keepers]]) when within-batch resolution is
    * wanted; that keeps these semantics order-free and SQL-checkable.
    *
    * Index = a [[graft.streaming.CdcApply]] table of (id, sig) keyed on
    * the id (constant version; `maxDeltas > 0` for O(batch) index
    * writes). The probe explodes band keys on BOTH sides and joins —
    * one shuffle of the batch's band keys against the index's, then
    * exact verification only for candidate pairs, with the corpus text
    * read semi-join-pruned to candidate ids. At 100 TB the index
    * carries k longs per doc (~0.3% of corpus bytes) and the per-batch
    * probe cost is O(index signatures + candidate texts), never
    * O(corpus text).
    *
    * Ids must be globally unique across batches (the standard ingest
    * contract): replay safety comes from excluding the batch's own ids
    * from the prior-keeper side, so a crashed/replayed batch recomputes
    * the same survivor set and the index apply no-ops on the guard.
    * Returns the admitted ids (one column, `idCol`).
    */
  def incrementalNearDup(batch: DataFrame, corpus: DataFrame,
      indexRoot: String, idCol: String, textCol: String, batchId: Long,
      k: Int = 32, bands: Int = 16, threshold: Double = 0.5,
      numBuckets: Int = 16, maxDeltas: Int = 0): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    import graft.streaming.CdcApply
    val spark = batch.sparkSession
    val rowsPerBand = k / bands
    // the batch's signature pass is window-dense map work — spread it
    // when the batch arrives as an under-split file (guide §2.5;
    // no-op at production layouts)
    val newSigs = spreadDocs(batch, idCol, textCol)
      .select(col("_cd_id").as(idCol),
        minhashSignature(col("_cd_text"), k).as("sig"))
    // REPLAY FAST PATH (r21): when the index head already covers this
    // batch, the apply below no-ops on its replay guard and the
    // declared answer comes from the change feed alone — so the probe
    // plan (signatures, band join, coverage check, verification) is
    // never needed and is skipped outright. One driver-side metadata
    // read; applyBatch still re-checks the guard authoritatively, so
    // a race merely builds an unused plan.
    val replay = CdcApply.currentVersion(spark, indexRoot)
      .exists(_ >= batchId)
    // prior keepers = the index minus this batch's own ids — the
    // exclusion is what makes a replayed batch see the same world it
    // saw the first time
    val prior = if (replay) None
      else CdcApply.readSnapshot(spark, indexRoot)
        .map(_.join(batch.select(col(idCol)), Seq(idCol), "left_anti"))
    val droppedIds = prior.map { idx =>
      def explodeBands(sigs: DataFrame, out: String): DataFrame =
        sigs.select(col(idCol).as(out),
          explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      // the candidate set is MATERIALIZED (lineage cut, recomputed per
      // invocation): the coverage check below and the verification
      // both consume it, and uncut each would re-run the band-key
      // join + both signature passes (r21 — the check used to cost a
      // full second candidate join per batch)
      val cand = Cut(explodeBands(newSigs, "id_a")
        .join(explodeBands(idx, "id_b"), "bk")
        .select(col("id_a"), col("id_b")).distinct())
      // fail-closed on the corpus contract: a candidate prior-keeper
      // id with no text in `corpus` would silently vanish from the
      // verification join — an under-drop that admits a near-dup.
      // One tiny job bounded by the CANDIDATE id count, not the corpus
      val missing = cand.select(col("id_b")).distinct()
        .join(corpus.select(col(idCol).as("id_b")), Seq("id_b"),
          "left_anti").limit(1).count()
      require(missing == 0L,
        "corpus is missing text for candidate prior-keeper ids — " +
          "pass a corpus covering every previously admitted id, or " +
          "the near-dup check silently under-drops")
      val docsAll = batch.select(col(idCol), col(textCol))
        .unionByName(corpus.select(col(idCol), col(textCol)))
      verifyJaccard(docsAll, idCol, textCol, cand)
        .filter(col("jaccard") >= threshold)
        .select(col("id_a").as(idCol)).distinct()
    }
    val survivors = droppedIds.fold(batch)(dr =>
      batch.join(dr, Seq(idCol), "left_anti"))
    val sigRows = newSigs
      .join(survivors.select(col(idCol)), Seq(idCol))
      .withColumn("first_seen", lit(1L))
    CdcApply.applyBatch(sigRows, batchId, indexRoot, Seq(idCol),
      "first_seen", None, numBuckets = numBuckets, maxDeltas = maxDeltas)
    // admitted ids read BACK from the index's change feed, exactly as
    // [[incrementalExact]] does: the index is the record of what each
    // batch admitted, the read is manifest-pruned to this batch's own
    // directories, and a replayed batch (apply no-ops on the guard)
    // serves the identical answer without re-running the probe plan
    CdcApply.changesSince(spark, indexRoot, batchId - 1)
      .getOrElse(throw new IllegalStateException(
        s"near-dup index missing after apply: $indexRoot"))
      .filter(col(CdcApply.ChangeBatchCol) === batchId)
      .select(col(idCol))
  }

  // ---- shared: capped-bucket pair generation ------------------------------

  /** Cap on all-pairs expansion per LSH bucket. Buckets at or under the
    * cap expand to all n·(n-1)/2 pairs; buckets OVER the cap fall back to
    * linear "star" pairs (every member paired with the bucket minimum),
    * bounding per-bucket work at O(n) while keeping every member of an
    * oversized bucket reachable from its anchor — a genuine mega-cluster
    * of duplicates (the case a drop-the-bucket policy silently loses) is
    * still recovered via connected components over the star edges, and a
    * degenerate hot key (boilerplate shingles) costs n rows instead of
    * an O(n²) skew reducer.
    */
  val DefaultBucketCap = 1000

  /** All ordered (id_a < id_b) pairs within one id array, map-side.
    * Input arrays are capped, so the per-row expansion is bounded by
    * cap·(cap-1)/2 — no single reducer ever sees unbounded work.
    */
  private def pairsWithin(ids: Column): Column = {
    val sorted = array_sort(ids)
    flatten(transform(sequence(lit(1), size(sorted) - 1),
      i => transform(slice(sorted, i + 1, size(sorted) - i),
        b => struct(element_at(sorted, i).as("a"), b.as("b")))))
  }

  /** Linear star pairs for an oversized bucket: (min, member) for every
    * other member — O(n) edges that keep the cluster connected.
    */
  private def starPairs(ids: Column): Column = {
    val sorted = array_sort(ids)
    transform(slice(sorted, lit(2), size(sorted) - 1),
      b => struct(element_at(sorted, 1).as("a"), b.as("b")))
  }

  /** Distinct candidate pairs from (bucketKey..., member) rows: group by
    * the bucket key, then all-pairs expansion up to the cap and star
    * expansion beyond it. `member` may be a plain id or a struct (sorted
    * by its first field).
    */
  private[graft] def cappedPairs(keyed: DataFrame, keyCols: Seq[String],
      memberCol: String, bucketCap: Int): DataFrame =
    keyed
      .groupBy(keyCols.map(col): _*)
      .agg(collect_list(col(memberCol)).as("members"))
      .filter(size(col("members")) >= 2)
      .select(explode(
        when(size(col("members")) <= bucketCap,
          pairsWithin(col("members")))
          .otherwise(starPairs(col("members")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()

  // ---- MinHash -----------------------------------------------------------

  val ShingleSize = 3

  /** array<long> of k MinHash signature values for a text column, via the
    * codegen'd [[graft.functions.MinHashSig]] expression: shingle hashes
    * are computed ONCE per row and update all k running minima in a single
    * pass. (The higher-order-function formulation — k separate
    * `array_min(transform(...))` — re-evaluates the shingle array per
    * component and is interpreted, ~30× slower.) The function comes
    * with `GraftExtensions`.
    */
  def minhashSignature(text: Column, k: Int): Column =
    graft.functions.GraftFunctions
      .minhash32(TextFunctions.tokens(text), ShingleSize, k)

  /** array<long> of band keys: signature split into `bands` contiguous
    * groups, each hashed to one join key.
    */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      xxhash64(lit(b), slice(sig, b * rowsPerBand + 1, rowsPerBand))
    }: _*)

  /** Candidate near-dup pairs (idA < idB) with estimated Jaccard =
    * fraction of agreeing signature components.
    *
    * Banding math: a pair with true Jaccard s becomes a candidate with
    * probability 1-(1-s^r)^bands where r = k/bands; the defaults
    * (k=32, bands=8, r=4) put the S-curve threshold at (1/8)^(1/4) ≈ 0.59
    * — pairs below ~0.4 essentially never collide, pairs above ~0.8
    * essentially always do. (1-row bands would make ANY single agreeing
    * component a candidate and degenerate toward all-pairs.)
    *
    * Scale shape: explode docs×bands → ONE shuffle on (band, key) → capped
    * per-bucket pair explosion → distinct pairs → join signatures back for
    * the estimate. Only ids and 8-byte keys ride the candidate shuffle;
    * signatures (k longs) are joined back only for surviving pairs.
    */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 32, bands: Int = 8,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    minhashCandidatesFromSigs(
      spreadDocs(docs, idCol, textCol)
        .select(col("_cd_id").as("doc_id"),
          minhashSignature(col("_cd_text"), k).as("sig")),
      k, bands, bucketCap)
  }

  /** Signature table (doc_id, sig) computed once and persisted — the
    * 100 TB shape: the signature index is a BUILD ARTIFACT shared by
    * every downstream dedup query (candidate generation, verification,
    * re-runs), not per-query work. The in-plan alternative evaluates the
    * signature subtree once per use (keyed + two join-backs = 3×) and
    * again for every query that needs it.
    */
  def persistedSignatures(docs: DataFrame, idCol: String, textCol: String,
      k: Int, path: String): DataFrame = synchronized {
    // every parameter that changes the signature is part of the cache
    // key: a stale index with a different k would make band slicing read
    // past the array (identical empty-slice keys for every doc), and one
    // built over a different text/id column would silently poison
    // candidates (same bug class as the centroid-index key)
    val dir = new java.io.File(
      s"${path}_${idCol}_${textCol}_s${ShingleSize}_k$k")
    graft.sources.Artifacts.commitOnce(docs.sparkSession,
      dir.getAbsolutePath)(tmp =>
      docs.select(col(idCol).as("doc_id"),
          minhashSignature(col(textCol), k).as("sig"))
        .write.mode("overwrite").parquet(tmp))
    docs.sparkSession.read.parquet(dir.getAbsolutePath)
  }

  /** Largest LSH band bucket over a (doc_id, sig) signature table — the
    * occupancy probe behind [[persistedVerifiedPairs]]'s `assertUncapped`
    * contract: buckets at or under the cap expand to ALL their pairs, so
    * `maxBandBucketSize <= bucketCap` proves no star fallback fired and
    * the candidate set is exactly the banding-theory one. One extra
    * aggregation job, run only at index-build time.
    */
  def maxBandBucketSize(sigs: DataFrame, k: Int, bands: Int): Long = {
    require(k % bands == 0, "bands must divide k")
    val rowsPerBand = k / bands
    val m = sigs
      .select(posexplode(bandKeys(col("sig"), bands, rowsPerBand))
        .as(Seq("band", "band_key")))
      .groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("n"))
      .agg(max(col("n")))
      .head().get(0)
    if (m == null) 0L else m.asInstanceOf[Long]
  }

  /** Candidate pairs from a prebuilt (doc_id, sig) signature table. */
  def minhashCandidatesFromSigs(sigs: DataFrame, k: Int, bands: Int,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rowsPerBand = k / bands
    val keyed = sigs
      .select(col("doc_id"),
        posexplode(bandKeys(col("sig"), bands, rowsPerBand))
          .as(Seq("band", "band_key")))
    val pairs = cappedPairs(keyed, Seq("band", "band_key"), "doc_id",
      bucketCap)
      .select(col("a").as("id_a"), col("b").as("id_b"))
    pairs
      .join(sigs.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("sig", "sig_a"), "id_a")
      .join(sigs.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("sig", "sig_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => x === y), b => b)).cast(DoubleType) / k)
          .as("est_jaccard"))
  }

  /** Exact shingle-set Jaccard for given candidate pairs. The docs table is
    * pruned to candidate ids FIRST (semi-join on the exploded pair-id set),
    * so shingle arrays are built for only the |candidates| docs — at 100 TB
    * the shingle materialization is proportional to the candidate set,
    * never the corpus. No broadcast hint on the joins: Spark's size-based
    * planning (plus AQE) broadcasts the pruned side when it is small and
    * falls back to a shuffle join when a high-dup corpus makes the
    * candidate set large — a mandatory hint would force the large case
    * through the driver and OOM.
    */
  def verifyJaccard(docs: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame): DataFrame = {
    val candIds = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("cand_id"))
      .distinct()
    val sets = docs
      .join(candIds, col(idCol) === col("cand_id"), "left_semi")
      .select(col(idCol).as("doc_id"),
        array_distinct(TextFunctions.shingles(col(textCol), ShingleSize))
          .as("sh"))
    pairs
      .join(sets.select(col("doc_id").as("id_a"),
        col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"),
        col("sh").as("sh_b")), "id_b")
      // union size by arithmetic (r22): the shingle arrays are distinct
      // by construction, so |A∪B| = |A| + |B| - |A∩B| — the per-pair
      // array_union hash build + result-array allocation goes away and
      // the division sees the SAME exact integers (bit-identical
      // jaccard). The intersect appears twice textually; whole-stage
      // codegen's subexpression elimination evaluates it once.
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          (size(col("sh_a")) + size(col("sh_b")) -
            size(array_intersect(col("sh_a"), col("sh_b")))))
          .as("jaccard"))
  }

  /** Verified duplicate pairs — exact Jaccard at or above `threshold`
    * over the MinHash candidate set — persisted as a build artifact: at
    * 100 TB the candidate + verification pass is one-time corpus index
    * construction shared by every downstream consumer (cluster
    * resolution, keeper selection, audits, re-runs), not per-query work.
    * The cache key embeds every parameter that changes the pair set —
    * including the shingle size and the bucket cap (same contract as
    * [[persistedSignatures]]): a non-default cap changes which pairs an
    * oversized bucket emits, so reusing an index built under another cap
    * would silently serve the wrong pair set.
    *
    * `assertUncapped = true` additionally proves, at build time, that no
    * band bucket exceeded `bucketCap` (see [[maxBandBucketSize]]) — the
    * precondition for comparing the pair set to an exhaustive all-pairs
    * oracle, since the star fallback drops non-anchor pairs from
    * oversized buckets.
    */
  def persistedVerifiedPairs(docs: DataFrame, idCol: String,
      textCol: String, sigs: DataFrame, k: Int, bands: Int,
      threshold: Double, path: String,
      bucketCap: Int = DefaultBucketCap,
      assertUncapped: Boolean = false): DataFrame = synchronized {
    val dir = new java.io.File(
      s"${path}_${idCol}_${textCol}_s${ShingleSize}_k${k}_b${bands}" +
        s"_t${math.round(threshold * 1000)}_c$bucketCap")
    graft.sources.Artifacts.commitOnce(docs.sparkSession,
      dir.getAbsolutePath) { tmp =>
      if (assertUncapped) {
        val m = maxBandBucketSize(sigs, k, bands)
        require(m <= bucketCap,
          s"band bucket of $m docs exceeds bucketCap=$bucketCap: star " +
            "fallback would drop pairs, so the verified-pair set is no " +
            "longer comparable to an exhaustive all-pairs oracle")
      }
      verifyJaccard(docs, idCol, textCol,
        minhashCandidatesFromSigs(sigs, k, bands, bucketCap)
          .select("id_a", "id_b"))
        .filter(col("jaccard") >= threshold)
        .write.mode("overwrite").parquet(tmp)
    }
    docs.sparkSession.read.parquet(dir.getAbsolutePath)
  }

  // ---- cluster resolution ------------------------------------------------

  /** Connected components over duplicate pairs (`id_a`, `id_b` columns):
    * one row per member node, labeled with its component MINIMUM id as
    * `cluster_id`. This is the resolution stage the star-fallback design
    * depends on (see [[DefaultBucketCap]]): an oversized bucket emits only
    * O(n) anchor edges, and the full mega-cluster is recovered here.
    *
    * All dataflow: per pass, every node takes the minimum of its own label
    * and its neighbors' labels (join + groupBy-min = one shuffle), then a
    * pointer-jumping shortcut replaces each label by THAT node's label —
    * the classic shortcutting step that turns O(diameter) propagation into
    * O(log n) passes (labels are always node ids, so the self-join always
    * hits). Each pass ends in a checkpoint, cutting lineage so pass N
    * never re-executes passes 1..N-1, and convergence is checked by an
    * anti-join-style changed-row probe — no driver-side graph state; the
    * driver only counts passes.
    *
    * Each cut is a [[graft.Cut]], so a context checkpoint dir makes
    * every pass survive executor loss.
    */
  def clusters(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    // materialize the incoming pair pipeline ONCE: the symmetric edge
    // union references it twice, and the upstream (LSH + verification)
    // is the expensive part of the whole job — without this it runs twice
    val p = Cut(pairs.select(col("id_a"), col("id_b")))
    // the symmetric edge view stays UNCUT and UNDEDUPLICATED (r22):
    // it is a narrow union+project over the materialized `p` (each
    // pass re-derives it map-side from p's blocks — no shuffle, no
    // extra materialization job), and the old `.distinct()` was a
    // full edge-set shuffle buying nothing — every consumer is a MIN
    // aggregate, which duplicate edges cannot perturb (and map-side
    // partial aggregation absorbs them)
    val edgesCut = p
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
    var labels = Cut(edgesCut.select(col("src").as("id"))
      .distinct()
      .select(col("id"), col("id").as("cluster_id")))
    var converged = labels.isEmpty
    var pass = 0
    while (!converged && pass < maxIters) {
      // no Union here: unioning a checkpointed frame trips Spark 4.1's
      // Union constraint rewrite ("key not found" on the LogicalRDD's
      // carried constraints) — a left join + least() expresses
      // min(self, neighbors) without it, and is materialized before the
      // self-join below so the pointer-jump sees stable attribute ids
      // SHUFFLE_HASH on the node-sized label side (r22, guide §3.1):
      // the checkpointed leaves carry no stats, so the planner would
      // sort-merge — sorting the full edge table EVERY pass; the hash
      // build is labels/shuffle-partitions rows per partition at any
      // scale
      val nbrMin = edgesCut.alias("e")
        .join(labels.alias("l").hint("SHUFFLE_HASH"),
          col("e.dst") === col("l.id"))
        .groupBy(col("e.src").as("nid"))
        .agg(min(col("l.cluster_id")).as("nmin"))
      // `prev` (the pass-start label) rides the pass's frames so the
      // convergence check is a FILTER over the already-materialized
      // `next` — a narrow take(1) scan — instead of the r21 shape's
      // extra shuffle join of next against labels (one whole job per
      // pass at any scale; the label comparison is the same either way)
      val neighborMin = labels.alias("l0")
        .join(nbrMin, col("l0.id") === col("nid"), "left")
        .select(col("l0.id").as("id"),
          col("l0.cluster_id").as("prev"),
          least(col("l0.cluster_id"),
            coalesce(col("nmin"), col("l0.cluster_id"))).as("mid"))
      // pointer-jump through the PASS-START labels (r22): the jump
      // table is the already-materialized `labels`, so the whole pass
      // is ONE materialization job (the r21/r22-start shape cut
      // neighborMin first and self-joined the cut — two jobs per
      // pass). Correctness: every label value is a node id with
      // l(x) <= x (init l(x) = x; updates only assign other labels),
      // so new(v) = l(mid(v)) <= mid(v) <= l(v) — labels decrease
      // monotonically to the component-min fixpoint (at fixpoint
      // neighbors share labels on a symmetric edge set, and the min
      // node keeps itself). The jump still COMPOUNDS the shortcut
      // (deficit ~doubles per pass on a path), so pass count stays
      // O(log diameter) — at most one pass more than jumping through
      // the fresh neighbor-min, for one fewer shuffle+materialization
      // per pass at any scale. DedupSpec/EntityResolutionSpec pin the
      // labels; the exhaustive closure oracle gates the fixpoint.
      val next = Cut(neighborMin.alias("n")
        .join(labels.select(col("id").as("jid"),
          col("cluster_id").as("jlbl")).alias("j"),
          col("n.mid") === col("j.jid"), "left")
        .select(col("n.id").as("id"),
          coalesce(col("j.jlbl"), col("n.mid")).as("cluster_id"),
          (coalesce(col("j.jlbl"), col("n.mid")) =!=
            col("n.prev")).as("changed")))
      converged = next.filter(col("changed")).isEmpty
      labels = next.select(col("id"), col("cluster_id"))
      pass += 1
    }
    require(converged,
      s"cluster label propagation did not converge in $maxIters passes")
    labels
  }

  /** Keeper selection — the end-user deliverable of the dedup pipeline:
    * one row per document with its resolved `cluster_id` and `is_keeper`
    * (deterministic min-id policy). Documents in no duplicate pair are
    * their own single-member cluster. Filtering `is_keeper` materializes
    * the deduplicated corpus.
    */
  def keepers(docs: DataFrame, idCol: String,
      clustered: DataFrame): DataFrame =
    docs.select(col(idCol))
      .join(clustered.select(col("id").as(idCol), col("cluster_id")),
        Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
      .withColumn("is_keeper", col(idCol) === col("cluster_id"))

  /** Persisted cluster MEMBERSHIP — [[keepers]] over [[clusters]],
    * committed once per corpus ([[graft.sources.Artifacts]] dir
    * convention: key the path on the source fingerprint): the
    * O(log n) pointer-jumping passes are a one-time resolution build,
    * and every consumer (cluster listing, keeper filtering, the
    * leakage-safe split) reads the tiny (id, cluster_id, is_keeper)
    * parquet instead of re-running the fixpoint — the same
    * build-once/read-many posture as the signature and verified-pair
    * indexes upstream of it.
    */
  def persistedMembership(docs: DataFrame, idCol: String,
      pairs: DataFrame, path: String): DataFrame = synchronized {
    val s = docs.sparkSession
    val dir = new java.io.File(s"${path}_membership_$idCol")
    graft.sources.Artifacts.commitOnce(s, dir.getAbsolutePath)(tmp =>
      keepers(docs, idCol, clusters(pairs))
        .write.mode("overwrite").parquet(tmp))
    s.read.parquet(dir.getAbsolutePath)
  }

  /** Leakage-safe train/val/test split: assignment is a deterministic
    * function of the CLUSTER id, not the document id, so every member
    * of a near-dup cluster lands in the SAME split — a near-duplicate
    * of a training document can never leak into the held-out sets
    * (the standard eval-integrity requirement a per-document split
    * silently violates). `membership` is [[keepers]]' output (or any
    * frame with `idCol` + `cluster_id`); `scrambled` is the caller's
    * deterministic scramble of `cluster_id` (id-derived, so the same
    * corpus splits identically on every run and engine — a seeded
    * randomSplit is neither). Percent bounds: `[0, trainPct)` train,
    * `[trainPct, trainPct + valPct)` val, rest test, over the
    * scramble mod 100.
    *
    * Scale: one map-side projection — assigning the split shuffles
    * nothing; cluster resolution ([[clusters]]) already paid its
    * O(log n) passes.
    */
  def splitByCluster(membership: DataFrame,
      scrambled: org.apache.spark.sql.Column, trainPct: Int = 80,
      valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      s"invalid split percents ($trainPct, $valPct)")
    val bucket = pmod(scrambled, lit(100L))
    membership.withColumn("split",
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test"))
  }

  // ---- SimHash -----------------------------------------------------------

  /** Candidate near-dup pairs by SimHash, with Hamming distance attached.
    * The 64-bit fingerprint is split into `64 / chunkBits` chunks; a pair
    * within Hamming ≤ (nChunks - 1) agrees on at least one chunk
    * (pigeonhole), so a chunk-equality bucket join finds every such pair
    * without an all-pairs scan. Callers filter/rank on `hamming`.
    *
    * chunkBits=16 → 4 chunks (Hamming ≤ 3 guaranteed recall) and 65,536
    * bucket values per chunk position, so expected bucket size is n/65,536
    * — 8-bit chunks would give 256-value buckets and O(n²/65k) candidate
    * pairs, quadratic at scale.
    */
  def simhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      chunkBits: Int = 16,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    hammingCandidates(
      docs.select(col(idCol).as("doc_id"),
        graft.functions.GraftFunctions
          .simhash64(TextFunctions.tokens(col(textCol))).as("fp")),
      chunkBits, bucketCap)
  }

  /** Candidate near-dup pairs over ANY precomputed 64-bit fingerprint
    * frame (`doc_id`, `fp`) — the chunk-banding core of
    * [[simhashCandidates]], shared with perceptual-image-hash dedup
    * (dHash fingerprints band exactly like SimHash ones: a pair within
    * Hamming ≤ nChunks−1 agrees on at least one chunk by pigeonhole).
    * Null fingerprints (e.g. undecodable payloads) are skipped.
    */
  def hammingCandidates(fps: DataFrame, chunkBits: Int = 16,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    require(64 % chunkBits == 0, "chunkBits must divide 64")
    val nChunks = 64 / chunkBits
    val mask = (1L << chunkBits) - 1
    // null fingerprints are skipped via a WHEN-guarded explode (an
    // empty chunk array generates no rows) rather than a Filter: a
    // filter on isnotnull(fp) gets pushed below the fingerprint
    // projection, re-evaluating the (codec-expensive) fingerprint
    // expression once in the pushed filter and again in the projection
    // — the optimizer-duplication pathology of guide §4.4, measured at
    // 3× on the audio/image dedup queries (r21). The guard keeps the
    // fingerprint a single projected evaluation; pair semantics are
    // identical (a chunkless row enters no bucket).
    val chunked = fps.select(
      struct(col("doc_id"), col("fp")).as("m"),
      posexplode(when(col("fp").isNotNull, array((0 until nChunks).map {
        c =>
          shiftrightunsigned(col("fp"), c * chunkBits)
            .bitwiseAND(lit(mask))
      }: _*)).otherwise(array().cast("array<bigint>")))
        .as(Seq("chunk", "chunk_val")))
    cappedPairs(chunked, Seq("chunk", "chunk_val"), "m", bucketCap)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).cast(LongType)
          .as("hamming"))
  }
}
