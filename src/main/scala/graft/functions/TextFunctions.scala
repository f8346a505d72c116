package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Text-analysis primitives for large-scale training-data pipelines
  * (BASELINE.json north star). Everything here is built from codegen'd
  * `org.apache.spark.sql.functions` — no Scala UDFs in the hot path — so
  * whole-stage codegen spans stay wide and the ops scale linearly with
  * input splits (pure map-side work, no shuffle).
  */
object TextFunctions {

  /** Whitespace tokens. Empty/whitespace-only text yields an EMPTY array.
    * Codegen'd single-pass kernel ([[WsTokens]]) — bit-identical to the
    * builtin `filter(split(trim(text), "\\s+"), t => t =!= "")` chain it
    * replaces (WsTokensSpec pins the equivalence), without that chain's
    * per-row `Pattern.compile` + UTF-16 round-trip + interpreted filter
    * lambda. The function comes with `GraftExtensions`.
    */
  def tokens(text: Column): Column = GraftFunctions.wsTokens(text)

  /** Whitespace token count (long). */
  def tokenCount(text: Column): Column = size(tokens(text)).cast(LongType)

  /** BPE-ish subword segmentation regex: letter runs, digit runs, single
    * punctuation — a cheap deterministic stand-in for a learned tokenizer's
    * pre-tokenization pass.
    */
  val subTokenPattern: String = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def subTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(subTokenPattern), lit(0)))
      .cast(LongType)

  /** Character-class counts (long). */
  def alphaChars(text: Column): Column =
    length(regexp_replace(text, "[^A-Za-z]", "")).cast(LongType)
  def punctChars(text: Column): Column =
    length(regexp_replace(text, "[A-Za-z0-9\\s]", "")).cast(LongType)

  /** Heuristic quality score in [0,1]: favors alphabetic content, penalizes
    * punctuation soup. Deterministic double arithmetic (left-assoc, same
    * shape as the SQL oracle). Empty text scores 0.0 — without the guard
    * the ratios divide by zero and return NaN.
    */
  def qualityScore(text: Column): Column = {
    val len = length(text).cast(DoubleType)
    val alphaRatio = alphaChars(text).cast(DoubleType) / len
    val punctRatio = punctChars(text).cast(DoubleType) / len
    when(length(text) === 0, lit(0.0))
      .otherwise(lit(0.6) * alphaRatio + lit(0.4) * (lit(1.0) - punctRatio))
  }

  /** Tiny per-language stopword profiles for n-gram-free language ID.
    * Deterministic heuristic: score = |tokens ∩ profile|, argmax with
    * lexicographic tie-break (via max over (score, lang) structs).
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit"),
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "est"),
    "zh" -> Seq("de", "le", "shi", "bu", "wo", "you", "zai", "ta"))

  /** Predicted language code for a text column. */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val scored = langProfiles.map { case (lang, words) =>
      struct(
        size(array_intersect(toks, array(words.map(lit): _*))).as("score"),
        lit(lang).as("lang"))
    }
    // struct ordering: by score, then lang — deterministic argmax.
    array_max(array(scored: _*)).getField("lang")
  }

  /** 64-bit rolling-hash document fingerprint over token hashes:
    * fp = fold(tokens, 0; rotl(acc, 5) XOR xxhash64(token)). Order-
    * sensitive (same bag, different order → different fp) and built from
    * bitwise ops only, so it is exact under ANSI mode (no overflow).
    */
  def fingerprint(text: Column): Column =
    aggregate(
      transform(tokens(text), t => xxhash64(t)),
      lit(0L),
      (acc, h) =>
        (shiftleft(acc, 5).bitwiseOR(shiftrightunsigned(acc, 59)))
          .bitwiseXOR(h))

  /** Free-text PII redaction for corpus egress. The reference masks its
    * PII COLUMNS at query time (`outputs.tf:48-49` — email local-part and
    * SSN digit masks); a training-data pipeline must also redact PII
    * EMBEDDED IN UNSTRUCTURED TEXT before a corpus leaves the governed
    * zone. Email addresses and SSN-shaped ids become stable placeholder
    * tokens (not deletions — downstream token counts and dedup stay
    * deterministic, and the placeholders are countable for audit). Both
    * rewrites are codegen'd `regexp_replace` — pure map-side, no shuffle,
    * linear in input splits. Patterns stay inside the RE2-compatible
    * subset (no backrefs/lookaround) so the identical regex runs in any
    * engine's scrubber.
    */
  val emailPattern: String =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ssnPattern: String = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"

  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "<EMAIL>"),
      ssnPattern, "<ID>")

  /** The accented probe suffix `q_text_normalize` plants on every row
    * (the corpus itself is ASCII, where normalization is the
    * identity): composed accents, DECOMPOSED accents (e + combining
    * acute — NFC must recompose them), uppercase umlauts for the
    * casefold stage, and the non-decomposable letters ñ-adjacent
    * pipelines get wrong (ø, ß pass strip_accents unchanged; ñ loses
    * its tilde). One Scala constant interpolates into BOTH the Spark
    * plan and the DuckDB oracle, so the two can never drift. (No
    * Turkish İ: Java and utf8proc disagree on its lowercase — the one
    * documented divergence.)
    */
  val accentProbe: String =
    " Caf\u00e9 na\u00efve re\u0301sume\u0301 " + // composed; decomposed e+U+0301
      "\u00dcBERM\u00c4SSIG \u00f1 \u00f8 \u00df" // UEBERMAESSIG n-tilde o-slash sharp-s

  /** Canonical NFC composition (codegen'd [[NfcNormalize]]). */
  def nfc(text: Column): Column = GraftFunctions.nfcNormalize(text)

  /** Combining-mark removal (codegen'd [[StripAccents]]). */
  def stripAccents(text: Column): Column =
    GraftFunctions.stripAccents(text)

  /** The full normalization pipeline: compose, de-accent, casefold. */
  def normalizeText(text: Column): Column =
    lower(stripAccents(nfc(text)))

  /** Deterministic token masking for denoising-LM training pairs
    * (BERT/T5-style corruption, id-derived instead of sampled so every
    * run and engine builds the SAME pairs): token `i` of document `id`
    * is masked iff `(id * 131 + i) % cycle < rate`. Returns the token
    * array with masked positions replaced by `<mask>`; pair it with
    * [[maskedTargets]] for the supervision side. Pure map-side lambda
    * over the token array — no shuffle, linear in splits.
    */
  def maskTokens(id: Column, text: Column, rate: Int = 2,
      cycle: Int = 10): Column =
    transform(tokens(text),
      (t, i) => when(pmod(id * lit(131L) + i, lit(cycle)) < rate,
        lit("<mask>")).otherwise(t))

  /** The masked-out tokens, in order — the target side of the
    * denoising pair built by [[maskTokens]].
    */
  def maskedTargets(id: Column, text: Column, rate: Int = 2,
      cycle: Int = 10): Column =
    filter(
      transform(tokens(text),
        (t, i) => when(pmod(id * lit(131L) + i, lit(cycle)) < rate, t)),
      x => x.isNotNull)

  /** `n`-word shingles, the unit for MinHash/Jaccard near-dup detection —
    * the codegen'd [[Shingles]] kernel (the higher-order formulation is
    * interpreted and re-evaluates the token split per branch, ~50×
    * slower on a corpus scan). The function comes with `GraftExtensions`.
    */
  def shingles(text: Column, n: Int): Column =
    GraftFunctions.shingles(tokens(text), n)
}
