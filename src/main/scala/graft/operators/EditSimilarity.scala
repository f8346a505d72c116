package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Cut

/** Edit-distance similarity SELF-JOIN: all pairs within Levenshtein
  * distance `d` — the string-matching workhorse behind fuzzy entity
  * resolution over a crawl (near-identical titles, URLs, author
  * strings). The reference's delegated engine exposes `levenshtein`
  * but can only apply it all-pairs; the scalable formulation here is
  * the q-gram PREFIX FILTER of the PPJoin/Ed-Join family (Xiao et al.,
  * WWW 2008 / VLDB 2008 — public literature):
  *
  *  1. q-gram the strings; rank every gram by GLOBAL frequency;
  *  2. each string keeps only its q·d+1 RAREST grams (the "prefix") —
  *     two strings within edit distance d differ in at most d edits,
  *     each destroying at most q grams, so they MUST share a gram in
  *     either's prefix (pigeonhole — the filter is lossless);
  *  3. candidate pairs = equi-join on prefix grams (+ length window
  *     |len(a)-len(b)| <= d), deduplicated;
  *  4. verify with the exact codegen'd `levenshtein` on candidates
  *     only.
  *
  * Never all-pairs: the equi-join is keyed on RARE grams by
  * construction, so hot grams ("th", "er") carry no pairs — the
  * frequency ranking pushes them out of every prefix. Strings shorter
  * than q·(d+1) characters cannot be prefix-filtered against each
  * other (too few grams survive d edits); those SHORT×SHORT pairs are
  * verified via a length-bucket join over the (by-construction tiny
  * at any corpus scale) short set — SHORT×LONG pairs are impossible
  * within d when the length gap exceeds d.
  *
  * Plan shape: one small gram-frequency aggregate (broadcast), one
  * shuffle keyed on prefix grams, one semi-bounded verify projection.
  */
object EditSimilarity {

  /** All id pairs (id_a < id_b) with levenshtein(s_a, s_b) <= d, with
    * the exact distance. `q` is the gram width (2 fits short keys,
    * 3 reduces candidates on prose).
    */
  def selfJoin(df: DataFrame, idCol: String, strCol: String, d: Int,
      q: Int = 2): DataFrame = {
    require(d >= 1, "d must be >= 1")
    require(q >= 1, "q must be >= 1")
    val base = df.select(col(idCol).cast(LongType).as("id"),
      col(strCol).as("s"), length(col(strCol)).as("len"))
    val minLong = q * (d + 1)
    val long = base.filter(col("len") >= minLong)
    val short = base.filter(col("len") < minLong)

    // grams of the long strings, globally frequency-ranked. The
    // per-string gram SET forms map-side (array_distinct before the
    // explode) — no dedup shuffle ever carries the gram table.
    val grams = long.select(col("id"), col("len"),
        explode(array_distinct(
          transform(sequence(lit(1), col("len") - (q - 1)),
            i => substring(col("s"), i, lit(q))))).as("g"))
    val freq = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("f"))
    // each string's q*d+1 rarest grams (total order (f, g) — the
    // collect order never shows). The string itself attaches to the
    // per-id aggregate with ONE primary-key join and rides the (tiny)
    // prefix rows into the candidate join, so the verify stage reads
    // s_a/s_b off the candidate row directly — the r21 restructure
    // replacing TWO post-candidate join-backs (each a fresh source
    // scan) with one O(strings) join here.
    // the prefix aggregate is MATERIALIZED with a lineage cut (the
    // clusters/pagerank Cut pattern — recomputed from the
    // inputs on every invocation): both sides of the candidate
    // self-join consume it, and uncut each would re-run the gram
    // explode → frequency join → collect pipeline
    val prefix = Cut(grams.join(freq, "g")
      .groupBy(col("id"), col("len"))
      .agg(slice(array_sort(collect_list(struct(col("f"), col("g")))),
        1, q * d + 1).as("pfx"))
      .join(long.select(col("id"), col("s")), "id"))
      .select(col("id"), col("len"), col("s"),
        explode(col("pfx")).as("e"))
      .select(col("id"), col("len"), col("s"), col("e.g").as("g"))
    // NO pre-verify distinct (r22): a pair sharing k prefix grams is
    // emitted k times (k <= q·d+1), and deduplicating here shuffles
    // every candidate's STRINGS; verifying first costs only the few
    // duplicate banded-levenshtein evals (O(len·d) each) and the
    // final distinct then dedups the (id_a, id_b, dist) survivors —
    // a fraction of the candidates, carrying no strings at all.
    val candLong = prefix.as("a")
      .join(prefix.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
          abs(col("a.len") - col("b.len")) <= d)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.s").as("s_a"), col("b.s").as("s_b"))

    // short strings: too few grams to prefix-filter — verify the
    // (tiny) short set pairwise within the length window. The band
    // |len_a - len_b| <= d becomes an EQUI-join by exploding one side
    // into its 2d+1 admissible partner lengths (each true pair
    // matches on exactly one key) — a hash join, never a nested loop.
    val shortKeyed = short.select(col("id"), col("len"), col("s"),
      explode(sequence(col("len") - d, col("len") + d)).as("lk"))
    val candShort = shortKeyed.as("a")
      .join(short.select(col("id"), col("len"), col("s")).as("b"),
        col("a.lk") === col("b.len") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.s").as("s_a"), col("b.s").as("s_b"))
    // short x long: only longs in the d-wide length band above the
    // short cutoff can pair with a short string — both sides tiny.
    // (id, s) swap together so s_a always names id_a's string.
    val candMixed = shortKeyed.as("a")
      .join(long.filter(col("len") < minLong + d)
          .select(col("id"), col("len"), col("s")).as("b"),
        col("a.lk") === col("b.len"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"),
        when(col("a.id") < col("b.id"), col("a.s"))
          .otherwise(col("b.s")).as("s_a"),
        when(col("a.id") < col("b.id"), col("b.s"))
          .otherwise(col("a.s")).as("s_b"))

    // threshold-banded levenshtein (O(len·d) per pair, not O(len²));
    // it returns -1 past the threshold, so the BETWEEN keeps exactly
    // the pairs the unbanded `dist <= d` filter kept, with identical
    // distances. The distinct lands AFTER verification (see candLong):
    // duplicate candidate rows verify to identical (id_a, id_b, dist)
    // rows, so the result set is unchanged while the dedup shuffle
    // shrinks from every candidate (with strings) to the survivors
    // (12 bytes each). Short/mixed branches emit each pair once by
    // construction (single admissible length key) — the distinct is
    // idempotent on them.
    candLong.unionByName(candShort).unionByName(candMixed)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("s_a"), col("s_b"), d).as("dist"))
      .filter(col("dist").between(0, d))
      .distinct()
  }
}
