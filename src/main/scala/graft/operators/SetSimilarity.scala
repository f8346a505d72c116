package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.Cut
import graft.sources.Tables

/** EXACT Jaccard set-similarity SELF-JOIN — the lossless complement
  * to the MinHash+LSH near-dup path ([[graft.dedup.Dedup]]): LSH can
  * miss a true pair (bounded, spec-pinned probability); this operator
  * finds EVERY pair with Jaccard >= t, scalably, via the AllPairs /
  * PPJoin prefix filter (Bayardo et al., WWW 2007; Xiao et al., WWW
  * 2008 — public literature):
  *
  *  1. each record's distinct token set is ordered by GLOBAL token
  *     frequency (rarest first);
  *  2. a record of size s keeps only its first s - ceil(t*s) + 1
  *     tokens (the "prefix") — two sets with J >= t overlap in at
  *     least ceil(t/(1+t)*(s_a+s_b)) tokens, too many to avoid both
  *     prefixes (pigeonhole — lossless);
  *  3. candidates = equi-join on prefix tokens + the size window
  *     ceil(t*s_a) <= s_b <= floor(s_a/t);
  *  4. verify exact |A∩B| / |A∪B| on candidates only, via codegen'd
  *     array intersection over the (rarity-ordered, distinct) token
  *     arrays — intersection/union sizes are order-independent, so
  *     the ranked aggregate serves verification too.
  *
  * Hot tokens land in nobody's prefix (frequency ranking), so the
  * candidate join never degenerates to all-pairs on stopwords — the
  * failure mode a naive token join has on any natural corpus.
  *
  * Plan shape: the raw input is spread first and tokenized ONCE above
  * the spread, into a lineage cut of (id, toks, sz); then one
  * token-frequency aggregate, one vocabulary range exchange for the
  * rank ids, a second cut of the ranked arrays, one shuffle keyed on
  * (rare) prefix tokens, and verify on the surviving candidates.
  */
object SetSimilarity {

  /** All id pairs (id_a < id_b) with Jaccard(tokens_a, tokens_b) >= t,
    * with the exact intersection/union sizes and similarity. `tokens`
    * is an array column; duplicates within a record are ignored (set
    * semantics).
    */
  def jaccardSelfJoin(df: DataFrame, idCol: String, tokens: Column,
      t: Double): DataFrame = {
    require(t > 0.0 && t <= 1.0, s"threshold out of (0, 1]: $t")
    // spread the RAW input, id leading, and tokenize above it: an
    // expression inside the spread frame would run on the under-split
    // scan (see Tables.spread). No `sz > 0` filter: explode below drops
    // empty and null sets, and the optimizer would push such a filter
    // (and the tokenizer with it) under the spread's exchange. The cut
    // evaluates the tokenizer ONCE for both consumers of `toks` (the
    // frequency aggregate and the rank join).
    val spread = Tables.spread(df.select(
      col(idCol) +: df.columns.toSeq.filter(_ != idCol).map(col): _*))
    val base = Cut(spread
      .select(col(idCol).cast(LongType).as("id"),
        array_distinct(tokens).as("toks"))
      .withColumn("sz", size(col("toks")).cast(LongType)))
    val toks = base.select(col("id"), col("sz"),
      explode(col("toks")).as("tok"))
    val freq = toks.groupBy(col("tok"))
      .agg(count(lit(1)).as("f"))
    // DENSE-RANK TOKEN ENCODING (r22): embed the global rarity order
    // (f, tok) into ONE long per distinct token, so every structure
    // downstream of the frequency join — the per-record ranked
    // arrays, their lineage-cut materialization, the prefix-token
    // join keys, and the verification merges — carries 8-byte ranks
    // instead of strings. The verify stage is pair-bound (pairs ≫
    // records, and one token array must travel to every pair row),
    // so array bytes are its floor; ranks cut them ~3-4× and turn
    // the intersection merge into single-long compares.
    //
    // The embedding: range-partition the vocabulary by (f, tok),
    // sort within partitions, and take monotonically_increasing_id —
    // partition index is monotone in the range order and the
    // within-partition index is monotone in the sort, so r preserves
    // the exact (f, tok) total order with NO global window, no
    // single-partition sort, and no driver state; one vocabulary-
    // sized exchange is the entire cost at any scale. Rank values
    // are partitioning-dependent, but every consumer reads them
    // through the single checkpointed `ranked` aggregate below, so
    // one invocation sees one consistent assignment, and the
    // operator's OUTPUT (verified pairs + exact sizes) is invariant
    // to the assignment — any consistent rarity-order embedding
    // yields the same verified set (candidates may differ on f-ties;
    // verification is exact either way; the exhaustive DuckDB oracle
    // gates it end to end).
    val rankTbl = freq
      .repartitionByRange(col("f"), col("tok"))
      .sortWithinPartitions(col("f"), col("tok"))
      .select(col("tok"), monotonically_increasing_id().as("r"))
    // ranked = each record's tokens total-ordered by global rarity —
    // ONE aggregate that feeds BOTH the prefix explosion and the
    // verification arrays below (r21). The aggregate is MATERIALIZED
    // with a lineage cut (the clusters/pagerank Cut pattern —
    // recomputed from the parquet inputs on every invocation, never
    // across runs): four plan subtrees consume it (prefix self-join
    // ×2, verify sets ×2), and uncut each would re-run the
    // frequency-join → collect pipeline.
    val ranked = Cut(toks.join(rankTbl, "tok")
      .groupBy(col("id"), col("sz"))
      .agg(sort_array(collect_list(col("r"))).as("ranked")))
    // prefix = the sz - ceil(t*sz) + 1 globally-rarest tokens.
    // posexplode keeps each prefix token's POSITION in the record's
    // full frequency-sorted token list (a prefix IS that list's head,
    // so prefix position = global position) for the PPJoin positional
    // filter below.
    val prefix = ranked
      .select(col("id"), col("sz"),
        // EPSILON-SAFE ceiling: IEEE can round t*sz a hair ABOVE the
        // exact product (5 * 0.6 = 3.000…04), and a too-large ceil
        // SHRINKS the prefix — the lossy direction. Subtracting an
        // epsilon can only lengthen the prefix: more candidates,
        // never a missed pair (verification is exact).
        posexplode(slice(col("ranked"), lit(1),
          (col("sz") - ceil(col("sz") * lit(t) - lit(1e-9)) + 1)
            .cast("int")))
          .as(Seq("pos", "tok")))
    // POSITIONAL filter (PPJoin, Xiao et al. 2008): a shared prefix
    // token at 0-based positions (i, j) caps the possible overlap at
    // min(sz_a - i, sz_b - j) — everything before the shared token on
    // either side plus the token itself is the best case. Pairs whose
    // cap misses the required overlap ceil(t/(1+t)·(sz_a+sz_b)) are
    // dropped BEFORE the distinct/verify stages; epsilon keeps the
    // bound loose-side (more candidates, never a missed pair), and
    // the exhaustive oracle gates losslessness end to end. On
    // low-threshold prose corpora this is the difference between
    // near-all-pairs and a working candidate set.
    //
    // INDEX-PREFIX reduction (AllPairs, Bayardo et al. WWW 2007 —
    // r22, guide §3 "reduce the join input"): orient each pair so `a`
    // is the SMALLER set (ties by id). A qualifying pair overlaps in
    // O >= ceil(t/(1+t)·(sz_a+sz_b)) >= ceil(2t/(1+t)·sz_a) tokens;
    // were its GLOBALLY-RAREST shared token outside a's first
    // sz_a - ceil(2t/(1+t)·sz_a) + 1 tokens, all O shared tokens
    // would sit in a's tail of ceil(2t/(1+t)·sz_a) - 1 positions
    // (shared tokens are order-consistent on both sides) —
    // pigeonhole contradiction. So the `a` side of the candidate
    // join carries ONLY its index-prefix rows (~(1-2t/(1+t))·sz vs
    // the probe prefix's (1-t)·sz: 41% fewer rows at t = 0.7, 44%
    // at 0.8), while `b` keeps the full probe prefix the rarest
    // shared token is also guaranteed to hit. Epsilon loosens the
    // ceil in the keep direction (longer prefix, never a missed
    // pair); losslessness stays oracle-gated end to end.
    val idxPrefix = prefix.filter(
      col("pos") <
        col("sz") - ceil(col("sz").cast(DoubleType) *
          lit(2 * t / (1 + t)) - lit(1e-9)) + 1)
    val cand = idxPrefix.as("a")
      .join(prefix.as("b"),
        col("a.tok") === col("b.tok") &&
          (col("a.sz") < col("b.sz") ||
            (col("a.sz") === col("b.sz") && col("a.id") < col("b.id"))) &&
          // size window, epsilon-loose for the same reason (the
          // orientation makes b.sz >= t·a.sz automatic for t <= 1)
          col("a.sz").cast(DoubleType) >=
            col("b.sz") * lit(t) - lit(1e-9) &&
          least(col("a.sz") - col("a.pos"),
            col("b.sz") - col("b.pos")).cast(DoubleType) >=
            ceil((col("a.sz") + col("b.sz")).cast(DoubleType) *
              lit(t / (1 + t)) - lit(1e-9)))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    // verification sets come from the SAME ranked aggregate as the
    // prefixes (its exchange is reused for both join-backs), never
    // from a fresh source scan. The ranked LONG arrays ride the
    // join-backs (8 bytes/token — the pair-bound stage's byte floor),
    // and the intersection size is ONE allocation-free linear merge
    // over the shared rank order
    // ([[graft.functions.RankedIntersectCount]], r22) —
    // array_intersect hash-built one side and hashed every element of
    // the other per pair.
    val sets = ranked.select(col("id"), col("ranked"), col("sz"))
    cand
      .join(sets.select(col("id").as("id_a"), col("ranked").as("ra"),
        col("sz").as("sa")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("ranked").as("rb"),
        col("sz").as("sb")), "id_b")
      .withColumn("inter",
        graft.functions.GraftFunctions.rankedIntersectCount(
          col("ra"), col("rb")))
      .withColumn("uni", col("sa") + col("sb") - col("inter"))
      .withColumn("jaccard",
        col("inter").cast(DoubleType) / col("uni").cast(DoubleType))
      .filter(col("jaccard") >= t)
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"),
        col("jaccard"))
  }
}
