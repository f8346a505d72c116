package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.ann.Ann
import graft.dedup.Dedup
import graft.functions.{TextFunctions => T}
import graft.multimodal.{Multimodal => M}
import graft.operators.Profile
import graft.search.Bm25
import graft.sources.Tables

import graft.queries.TierCHelpers._

/** Tier C — text analysis (stats, tokens, quality scoring and
  * regression, language ID, fingerprints, vocab/TF-IDF, repetition
  * filters, column profiling). Split from the
  * single TierC file (r16, maintainability); assembled with its
  * siblings at the [[TierC]] edge — keys, bodies and oracles are
  * verbatim, so the declared-query surface is unchanged.
  */
private[queries] object TierCText {

  val queries: Map[String, TierC.Q] = Map(

    // C2 — corpus stats by language: pure map-side text measures + one agg.
    "q_text_stats" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), col("n_chars"),
          T.tokenCount(col("text")).as("n_tokens"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("n_tokens")).as("total_tokens"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          (sum(col("n_chars")).cast(DoubleType) / count(lit(1)))
            .as("avg_chars"))
        .orderBy(col("lang"))),

    // C2b — per-document token counting: whitespace + BPE-ish subword regex.
    "q_token_count" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(col("doc_id") < 500)
        .select(col("doc_id"),
          T.tokenCount(col("text")).as("ws_tokens"),
          T.subTokenCount(col("text")).as("sub_tokens"))
        .orderBy(col("doc_id"))),

    // C2b' — sequence-length histogram: the batching/packing planner's
    // first question ("how many docs land in each 16-token bucket")
    // as one map-side bucket projection + two-phase count — one scan
    // at any corpus size, the same shape the packing operator's
    // capacity planning reads.
    "q_length_histogram" -> ((s, d) =>
      Tables.documents(s, d)
        .select((floor(T.tokenCount(col("text")) / lit(16)) * 16)
          .cast(LongType).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("bucket"))),

    // C2c — heuristic quality scoring (length / char-class ratios).
    "q_quality_score" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(col("doc_id") < 500)
        .select(col("doc_id"),
          length(col("text")).cast(LongType).as("char_len"),
          (T.alphaChars(col("text")).cast(DoubleType) /
            length(col("text")).cast(DoubleType)).as("alpha_ratio"),
          T.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))),

    // C2r — Gopher-style REPETITION filter (Rae et al. 2021 §A1.1:
    // documents dominated by repeated fragments are low-quality
    // training data), token-granular and fully EXACT: dup_token_frac
    // = (n - distinct)/n, top_bigram_frac = 2·(max bigram count)/n
    // ("fraction of tokens in the most common 2-gram"),
    // dup_trigram_frac = (trigram occurrences - distinct)/occurrences;
    // keep = top-2-gram < 0.20 AND dup-3-gram < 0.30 (the published
    // threshold family). Counts are exact longs, each fraction ONE
    // IEEE division — hash-checkable. Scale: two (doc, gram)
    // two-phase aggregates (grams + longs on the wire, never text) +
    // two O(docs) primary-key joins; everything else map-side.
    "q_gopher_filter" -> ((s, d) => {
      // r22: every statistic here is a pure function of ONE document's
      // tokens, so the whole filter is a MAP-ONLY plan — one codegen'd
      // per-row kernel ([[graft.functions.GramRepStats]]: dense-id
      // n-gram counting, no per-window strings) replaces the r21
      // explode → (doc,k,gram) aggregate → per-doc rollup → primary-
      // key join-back, whose two exchanges and join only regrouped
      // rows that started out grouped. tri occurrences = n-2 by
      // construction; values are identical (oracle-gated), and at
      // 100 TB the corpus-wide bigram/trigram shuffle disappears
      // outright.
      val toks = T.tokens(col("text"))
      Tables.spread(
        Tables.documents(s, d).select(col("doc_id"), col("text")))
        .select(col("doc_id"), toks.as("toks"))
        .withColumn("n", size(col("toks")).cast(LongType))
        .withColumn("st",
          graft.functions.GraftFunctions.gramRepStats(col("toks")))
        .withColumn("tri_occ",
          when(col("n") >= 3, col("n") - 2).otherwise(0L))
        .select(col("doc_id"), col("n").as("n_tokens"),
          when(col("n") > 0,
            (col("n") - col("st.n_distinct"))
              .cast(DoubleType) / col("n").cast(DoubleType))
            .otherwise(0.0).as("dup_token_frac"),
          when(col("n") > 0,
            col("st.max_bigram").cast(DoubleType) *
              lit(2.0) / col("n").cast(DoubleType))
            .otherwise(0.0).as("top_bigram_frac"),
          when(col("tri_occ") > 0,
            (col("tri_occ") - col("st.tri_distinct")).cast(DoubleType) /
              col("tri_occ").cast(DoubleType))
            .otherwise(0.0).as("dup_trigram_frac"))
        .withColumn("keep",
          col("top_bigram_frac") < 0.20 &&
            col("dup_trigram_frac") < 0.30)
        .orderBy(col("doc_id"))
    }),

    // C2 + governance composite — free-text PII redaction at corpus
    // scale. The reference masks PII COLUMNS at query time
    // (outputs.tf:48-49); a training pipeline must also scrub PII
    // embedded in the text itself before the corpus leaves the governed
    // zone. The synthetic corpus is word soup, so deterministic PII is
    // planted per row — with the identical construction in the oracle —
    // and the per-language char/placeholder sums hash-prove the scrub
    // byte-for-byte. Pure map-side regexp_replace + one aggregation.
    "q_pii_scrub" -> ((s, d) => {
      val ssn = concat(
        lpad(pmod(col("doc_id") * 7, lit(1000)).cast("string"), 3, "0"),
        lit("-"),
        lpad(pmod(col("doc_id") * 13, lit(100)).cast("string"), 2, "0"),
        lit("-"),
        lpad(pmod(col("doc_id") * 31, lit(10000)).cast("string"), 4, "0"))
      val planted = concat(substring(col("text"), 1, 40),
        lit(" reach user"), col("doc_id").cast("string"),
        lit("@example.com id "), ssn, lit(" end"))
      def marks(c: Column, tok: String): Column =
        sum(length(c) - length(regexp_replace(c, tok, "")))
          .cast(LongType)
      Tables.documents(s, d)
        .select(col("lang"), planted.as("planted"),
          T.scrubPii(planted).as("scrubbed"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("planted"))).cast(LongType).as("raw_chars"),
          sum(length(col("scrubbed"))).cast(LongType).as("scrubbed_chars"),
          marks(col("scrubbed"), "<EMAIL>").as("email_mark_chars"),
          marks(col("scrubbed"), "<ID>").as("id_mark_chars"))
        .orderBy(col("lang"))
    }),

    // Language-ID heuristic vs the labeled lang column (confusion counts).
    // Deterministic (stopword-profile argmax, lexicographic tie-break) and
    // SQL-expressible, so it is oracle-checked despite being a heuristic.
    "q_lang_id" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), T.langId(col("text")).as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("lang"), col("pred_lang"))),

    // LEARNED language-ID (Cavnar-Trenkle rank profiles): char-bigram
    // top-100 profiles trained on the 80% slice (doc_id % 5 != 0),
    // integer tf·weight argmax on the held-out 20% — training AND
    // prediction are exact integer arithmetic, so the whole learned
    // pipeline is DuckDB hash-checked. Confusion counts vs labels.
    // (The driver corpus's lang labels are uncorrelated with its
    // English-vocabulary text — measured — so the matrix here pins
    // pipeline determinism; MODEL QUALITY is pinned by LangIdSpec on
    // a five-language corpus with genuine signal: 100% held-out.)
    "q_lang_id_learned" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val train = docs.filter(col("doc_id") % 5 =!= 0)
      val test = docs.filter(col("doc_id") % 5 === 0)
      // the learned profile is a PERSISTED ARTIFACT keyed on the
      // dataset (the IVF-centroid/signature-index pattern): training
      // is a deterministic pure function of the corpus, so it builds
      // once and every later run measures prediction steady-state —
      // exactly how a deployed language-ID model is used
      val profDir = new java.io.File(
        "target/graft-data/langid_profile/" +
        graft.sources.Artifacts.datasetKey(d, s"$d/documents.parquet") +
        "_m100").getAbsolutePath
      synchronized {
        graft.sources.Artifacts.commitOnce(s, profDir) { tmp =>
          graft.operators.LangId.trainProfiles(train, "lang", "text", 100)
            .coalesce(1).write.parquet(tmp)
        }
      }
      val prof = s.read.parquet(profDir)
      graft.operators.LangId.classify(test, "doc_id", "text", prof)
        .join(test.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("lang"), col("pred_lang"))
    }),

    // Rolling-hash document fingerprints.
    "q_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(col("doc_id") < 500)
        .select(col("doc_id"), T.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))),

    // C2d — vocabulary building: corpus-wide token frequencies, top 50.
    // Explode is map-side; the count is a two-phase hash aggregate on the
    // token — the standard first step of tokenizer training.
    "q_vocab_topk" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(T.tokens(col("text"))).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(50)),

    // C2f — TF-IDF-style top terms per document: term frequency × a
    // rational inverse-document-frequency (tf·N/df — a RATIO of exact
    // integers, one IEEE division, so the score is bit-identical across
    // engines; a libm log() would not be). N is the doc_id slice bound,
    // a FIXED scale constant — tf/df rankings are invariant to it, so it
    // need not equal the live corpus count. Explode is map-side; tf and
    // df are two-phase hash aggregates; top-3 per doc via a rank window.
    "q_tfidf_topk" -> ((s, d) => {
      val nDocs = 200L
      val tf = Tables.documents(s, d)
        .filter(col("doc_id") < nDocs)
        .select(col("doc_id"), explode(T.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      tf.join(df, "term")
        .withColumn("score",
          (col("tf") * lit(nDocs)).cast(DoubleType) / col("df"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("score"))
        .orderBy(col("doc_id"), col("score").desc, col("term"))
    }),

    // C2e — C4-style quality gate: language + quality score + token-count
    // band. Pure map-side predicates over the corpus — the shape of every
    // large-scale pretraining-data filter.
    "q_quality_filter" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(col("lang") === "en")
        .filter(T.qualityScore(col("text")) > 0.75)
        .filter(T.tokenCount(col("text")).between(20, 60))
        .select(col("doc_id"), col("lang"),
          T.tokenCount(col("text")).as("n_tokens"),
          T.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))),

    // C2h — repetition-based quality gate (the "fraction of duplicate
    // n-grams" family of pretraining filters): per document, the share
    // of bigram occurrences that are repeats. Pure map-side arithmetic
    // on exact integers (one IEEE division), so it is bit-stable and
    // oracle-checked despite being a heuristic.
    "q_repetition_filter" -> ((s, d) => {
      Tables.documents(s, d)
        .filter(col("doc_id") < 500)
        .select(col("doc_id"),
          size(T.shingles(col("text"), 2)).cast(LongType)
            .as("n_bigrams"),
          size(array_distinct(T.shingles(col("text"), 2))).cast(LongType)
            .as("n_distinct"))
        .withColumn("dup_frac",
          (col("n_bigrams") - col("n_distinct")).cast(DoubleType) /
            col("n_bigrams"))
        .withColumn("keep", col("dup_frac") <= lit(0.2))
        .orderBy(col("doc_id"))
    }),

    // C1+C2 composite — the cleaning-pipeline yield metric: exact-dedup
    // keepers that pass the quality gate, and how many tokens survive.
    "q_pipeline_tokens" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val keepers = Dedup.exact(docs, "doc_id", "text")
        .select(col("doc_id"))
      docs.join(keepers, "doc_id")
        .filter(T.qualityScore(col("text")) > 0.7)
        .agg(count(lit(1)).as("n_docs"),
          sum(T.tokenCount(col("text"))).as("surviving_tokens"))
    }),

    // C14 — column-level data profiling (the Glue-crawler/table-stats
    // analog, reference main.tf:291-300): one aggregation pass emits
    // per-column rows/nulls/exact-distinct/min/max in long format. The
    // nullif() input derives a genuinely NULL-bearing column so the
    // null accounting is exercised; min/max compare on the NATIVE type
    // before the uniform string cast.
    "q_profile" -> ((s, d) =>
      Profile.profile(
        Tables.customer(s, d).select(col("c_custkey"),
          col("c_nationkey").cast(LongType).as("c_nationkey"),
          nullif(col("c_mktsegment"), lit("BUILDING")).as("segment")),
        Seq("c_custkey", "c_nationkey", "segment"))),

    // C16c — learned linear quality scorer, closed-form: per-language
    // fit of token count ~ char length + alpha-char count from exact
    // integer moments (Regression.fitTwoFeature — one pass, ten longs
    // per group on the shuffle, Cramer solve as a shared-SQL fixed
    // expression tree, R² included). The trainable flavor of
    // q_quality_score's hand weights.
    "q_quality_regression" -> ((s, d) =>
      graft.operators.Regression.fitTwoFeature(
        Tables.documents(s, d), Seq("lang"),
        length(col("text")),
        length(regexp_replace(col("text"), "[^A-Za-z]", "")),
        T.tokenCount(col("text")))
        .orderBy(col("lang"))),

    // C18 — BPE tokenizer training (Sennrich 2016), three stages:
    // q_bpe_pairs is the trainer's first iteration (adjacent-pair
    // counts over the distinct-word table) — single-pass, DuckDB
    // hash-checked; q_bpe_train is the full iterative merge loop
    // (global argmax per round — not single-pass-SQL-expressible, so
    // rows-only with the BpeSpec sequential-reference twin pinning
    // the exact merge sequence); q_bpe_tokens re-counts the corpus
    // under the LEARNED vocabulary (per-lang totals) — the number the
    // mixture/packing planners actually want.
    "q_bpe_pairs" -> ((s, d) =>
      graft.operators.Bpe.pairCounts(
        graft.operators.Bpe.wordTable(Tables.documents(s, d), "text"))
        .orderBy(col("pair_cnt").desc, col("l"), col("r"))
        .limit(20)),

    "q_bpe_train" -> ((s, d) =>
      bpeArtifacts(s, d)._1.orderBy(col("rank"))),

    "q_bpe_tokens" -> ((s, d) =>
      graft.operators.Bpe.tokenCounts(
        Tables.documents(s, d), "doc_id", "text", bpeArtifacts(s, d)._2)
        .join(Tables.documents(s, d).select(col("doc_id"), col("lang")),
          Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"))
        .orderBy(col("lang"))),

    // C21 — distinctive vocabulary per language by PMI lift:
    // lift(w, lang) = P(w|lang) / P(w) = (c_wl · N) / (c_w · N_l),
    // the pointwise-mutual-information ranking behind every
    // "characteristic terms of this source/domain" corpus report.
    // Kept RATIONAL (two exact long products, one IEEE division — the
    // BM25 rational-idf house rule: the log in textbook PMI is
    // monotone, so the ranking is identical and the score is
    // bit-exact across engines). One token explode feeds all four
    // counts; totals ride broadcast 1-row/5-row frames; min-support
    // c_wl >= 20 kills noise words. Top-5 per language by a rank
    // window.
    "q_pmi_terms" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("lang"), explode(T.tokens(col("text"))).as("w"))
      val cwl = toks.groupBy(col("lang"), col("w"))
        .agg(count(lit(1)).as("c_wl"))
      val cw = cwl.groupBy(col("w")).agg(sum(col("c_wl")).as("c_w"))
      val nl = cwl.groupBy(col("lang")).agg(sum(col("c_wl")).as("n_l"))
      val n = cw.agg(sum(col("c_w")).as("n"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("lift").desc, col("w"))
      cwl.filter(col("c_wl") >= 20)
        .join(cw, "w")
        .join(broadcast(nl), "lang")
        .crossJoin(broadcast(n))
        .withColumn("lift",
          (col("c_wl") * col("n")).cast(DoubleType) /
            (col("c_w") * col("n_l")).cast(DoubleType))
        .withColumn("rn", row_number().over(win))
        .filter(col("rn") <= 5)
        .select(col("lang"), col("w").as("term"), col("c_wl"),
          col("c_w"), col("lift"))
        .orderBy(col("lang"), col("lift").desc, col("term"))
    }),

    // C20 — unicode normalization, the FIRST pass of a real ingestion
    // pipeline (mixed NFC/NFD crawl text makes dedup, token counts and
    // vocab all see phantom variants). The corpus is ASCII (where
    // normalization is the identity), so every row plants the shared
    // accentProbe — composed accents, decomposed e+U+0301 that NFC
    // must recompose, umlauts for the casefold, and the
    // non-decomposables (ø ß) that must PASS strip_accents — and the
    // DuckDB twin (utf8proc nfc_normalize/strip_accents) hash-checks
    // the full compose → de-accent → casefold pipeline byte-for-byte.
    "q_text_normalize" -> ((s, d) => {
      Tables.documents(s, d).filter(col("doc_id") < 300)
        .select(col("doc_id"),
          concat(substring(col("text"), 1, 20), lit(T.accentProbe))
            .as("planted"))
        .select(col("doc_id"),
          length(col("planted")).cast(LongType).as("raw_len"),
          length(T.nfc(col("planted"))).cast(LongType).as("nfc_len"),
          T.normalizeText(col("planted")).as("normalized"))
        .orderBy(col("doc_id"))
    }),

    // C19 — bigram-LM document scoring (CCNet, Wenzek 2020): train a
    // Laplace-smoothed bigram model on the trusted `lang='en'` slice,
    // score every candidate document's familiarity under it. The
    // declared form is the RATIONAL pooled score (exact-integer
    // sufficient statistics + one IEEE division — the BM25 rational-idf
    // house rule), so training counts, smoothing and OOV handling are
    // all inside the DuckDB hash; the textbook log-space cross-entropy
    // is NgramLm.crossEntropy, pinned exactly by LmSpec.
    "q_lm_score" -> ((s, d) =>
      graft.operators.NgramLm.score(
        Tables.documents(s, d).filter(col("doc_id") < 500),
        "doc_id", "text",
        Tables.documents(s, d).filter(col("lang") === "en"),
        keep = Seq("lang"))
        .orderBy(col("doc_id"))),

    // C20 — DSIR importance resampling (Xie et al. 2023): select the
    // 50 documents distributed like the `lang='en'` target domain by
    // resampling the WHOLE raw pool under importance weights
    // p_target/q_raw — the ratio of two pooled bigram-LM estimates
    // (exact-integer sufficient statistics under each model, three
    // fixed-order IEEE ops for the ratio), selection via the
    // id-derived priority sample. Training, smoothing, the weight,
    // and the selection are ALL inside the DuckDB hash.
    "q_dsir_weights" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("lang"))
      graft.operators.Dsir.resample(
        graft.operators.Dsir.weights(docs, "doc_id", "text",
          target = docs.filter(col("lang") === "en"), raw = docs),
        "doc_id", 50)
        .select(col("doc_id"), col("t_num"), col("t_den"),
          col("r_num"), col("r_den"), col("weight"), col("priority"))
    })
  )

  /** Persisted 40-merge BPE build over the documents table — one-time
    * index construction (Bench warms it), keyed like every artifact.
    */
  private def bpeArtifacts(s: SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
    graft.operators.Bpe.persistedBpe(
      Tables.documents(s, d).select(col("doc_id"), col("text")),
      "text", 40,
      new java.io.File("target/graft-data/bpe/" +
        graft.sources.Artifacts.datasetKey(d, s"$d/documents.parquet"))
        .getAbsolutePath)

  val oracles: Map[String, String] = Map(
    "q_tfidf_topk" ->
      ("WITH t AS (SELECT doc_id, unnest(list_filter(" +
        "regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) " +
        "AS term FROM documents WHERE doc_id < 200), " +
        "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t " +
        "GROUP BY doc_id, term), " +
        "df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), " +
        "sc AS (SELECT doc_id, term, tf, df, " +
        "CAST(tf * 200 AS DOUBLE) / df AS score " +
        "FROM tf JOIN df USING (term)), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY score DESC, term) AS rn FROM sc) " +
        "SELECT doc_id, term, tf, df, score FROM r WHERE rn <= 3 " +
        "ORDER BY doc_id, score DESC, term"),
    "q_lang_id" ->
      ("WITH t AS (SELECT lang, list_filter(regexp_split_to_array(" +
        "trim(text), '\\s+'), x -> x <> '') AS toks FROM documents), " +
        "p AS (SELECT lang, list_max([" + langIdStructs + "]).lang " +
        "AS pred_lang FROM t) " +
        "SELECT lang, pred_lang, COUNT(*) AS cnt FROM p " +
        "GROUP BY lang, pred_lang ORDER BY lang, pred_lang"),
    // same split, same integer rank-profile model: top-100 bigrams per
    // lang by (count desc, gram), weight 100-rn+1; score = Σ tf·w;
    // argmax ties by lang — training included in the checked SQL
    "q_lang_id_learned" ->
      ("WITH train AS (SELECT doc_id, lang, lower(text) AS s " +
        "FROM documents WHERE doc_id % 5 <> 0), " +
        "test AS (SELECT doc_id, lang, lower(text) AS s " +
        "FROM documents WHERE doc_id % 5 = 0), " +
        "tg AS (SELECT lang, substring(s, CAST(i AS INT), 1) AS gram " +
        "FROM train, unnest(range(1, len(s) + 1)) AS u(i) " +
        "UNION ALL SELECT lang, substring(s, CAST(i AS INT), 2) " +
        "FROM train, unnest(range(1, len(s))) AS u(i)), " +
        "cnts AS (SELECT lang, gram, COUNT(*) AS cnt FROM tg " +
        "GROUP BY lang, gram), " +
        "prof0 AS (SELECT lang, gram, row_number() OVER " +
        "(PARTITION BY lang ORDER BY cnt DESC, gram) AS rn FROM cnts), " +
        "prof AS (SELECT lang, gram, CAST(100 - rn + 1 AS BIGINT) AS w " +
        "FROM prof0 WHERE rn <= 100), " +
        "tfg AS (SELECT doc_id, gram, COUNT(*) AS tf FROM " +
        "(SELECT doc_id, substring(s, CAST(i AS INT), 1) AS gram " +
        "FROM test, unnest(range(1, len(s) + 1)) AS u(i) " +
        "UNION ALL SELECT doc_id, substring(s, CAST(i AS INT), 2) " +
        "FROM test, unnest(range(1, len(s))) AS u(i)) " +
        "GROUP BY doc_id, gram), " +
        "sc AS (SELECT tfg.doc_id, prof.lang, SUM(tf * w) AS score " +
        "FROM tfg JOIN prof USING (gram) GROUP BY tfg.doc_id, prof.lang), " +
        "langs AS (SELECT DISTINCT lang FROM train), " +
        "allsc AS (SELECT t.doc_id, l.lang, COALESCE(sc.score, 0) " +
        "AS score FROM test t CROSS JOIN langs l LEFT JOIN sc " +
        "ON sc.doc_id = t.doc_id AND sc.lang = l.lang), " +
        "pred AS (SELECT doc_id, lang AS pred_lang FROM " +
        "(SELECT doc_id, lang, row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY score DESC, lang) AS rn FROM allsc) WHERE rn = 1) " +
        "SELECT t.lang, p.pred_lang, COUNT(*) AS cnt FROM test t " +
        "JOIN pred p USING (doc_id) GROUP BY t.lang, p.pred_lang " +
        "ORDER BY t.lang, p.pred_lang"),
    // identical exact counts + single-division fractions; keep
    // recomputed over the named fractions in the outer select
    "q_gopher_filter" ->
      ("WITH t AS (SELECT doc_id, list_filter(" +
        "regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') " +
        "AS toks FROM documents), " +
        "nn AS (SELECT doc_id, toks, len(toks) AS n FROM t), " +
        "bg AS (SELECT doc_id, MAX(c) AS max_bg FROM " +
        "(SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS g, " +
        "COUNT(*) AS c FROM nn, unnest(range(1, n)) AS u(i) " +
        "WHERE n >= 2 GROUP BY doc_id, g) GROUP BY doc_id), " +
        "tg AS (SELECT doc_id, COUNT(*) AS tri_occ, " +
        "COUNT(DISTINCT g) AS tri_distinct FROM " +
        "(SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS g " +
        "FROM nn, unnest(range(1, n - 1)) AS u(i) WHERE n >= 3) " +
        "GROUP BY doc_id), " +
        "m AS (SELECT nn.doc_id, CAST(nn.n AS BIGINT) AS n_tokens, " +
        "CASE WHEN nn.n > 0 THEN " +
        "CAST(nn.n - len(list_distinct(toks)) AS DOUBLE) / " +
        "CAST(nn.n AS DOUBLE) ELSE 0.0 END AS dup_token_frac, " +
        "CASE WHEN nn.n > 0 THEN " +
        "CAST(COALESCE(bg.max_bg, 0) AS DOUBLE) * 2.0 / " +
        "CAST(nn.n AS DOUBLE) ELSE 0.0 END AS top_bigram_frac, " +
        "CASE WHEN COALESCE(tg.tri_occ, 0) > 0 THEN " +
        "CAST(tg.tri_occ - tg.tri_distinct AS DOUBLE) / " +
        "CAST(tg.tri_occ AS DOUBLE) ELSE 0.0 END AS dup_trigram_frac " +
        "FROM nn LEFT JOIN bg USING (doc_id) " +
        "LEFT JOIN tg USING (doc_id)) " +
        "SELECT doc_id, n_tokens, dup_token_frac, top_bigram_frac, " +
        "dup_trigram_frac, (top_bigram_frac < 0.20 AND " +
        "dup_trigram_frac < 0.30) AS keep FROM m ORDER BY doc_id"),
    "q_text_stats" ->
      ("SELECT lang, COUNT(*) AS n_docs, " +
        "CAST(SUM(n_chars) AS BIGINT) AS total_chars, " +
        "CAST(SUM(len(list_filter(regexp_split_to_array(trim(text), " +
        "'\\s+'), t -> t <> ''))) AS BIGINT) " +
        "AS total_tokens, MIN(n_chars) AS min_chars, " +
        "MAX(n_chars) AS max_chars, " +
        "CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars " +
        "FROM documents GROUP BY lang ORDER BY lang"),
    "q_token_count" ->
      ("SELECT doc_id, " +
        "CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), " +
        "t -> t <> '')) AS BIGINT) AS ws_tokens, " +
        "CAST(len(regexp_extract_all(text, " +
        "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS sub_tokens " +
        "FROM documents WHERE doc_id < 500 ORDER BY doc_id"),
    "q_length_histogram" ->
      ("SELECT CAST(FLOOR(len(list_filter(regexp_split_to_array(" +
        "trim(text), '\\s+'), t -> t <> '')) / 16) * 16 AS BIGINT) AS " +
        "bucket, COUNT(*) AS n_docs FROM documents GROUP BY bucket " +
        "ORDER BY bucket"),
    "q_quality_score" ->
      ("SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS char_len, " +
        "CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)" +
        " / CAST(LENGTH(text) AS DOUBLE) AS alpha_ratio, " +
        "CASE WHEN LENGTH(text) = 0 THEN 0.0 ELSE " +
        "0.6 * (CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) " +
        "AS DOUBLE) / CAST(LENGTH(text) AS DOUBLE)) + 0.4 * (1.0 - " +
        "CAST(LENGTH(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) " +
        "AS DOUBLE) / CAST(LENGTH(text) AS DOUBLE)) END AS quality " +
        "FROM documents WHERE doc_id < 500 ORDER BY doc_id"),
    // the regex patterns interpolate from TextFunctions so the oracle can
    // never drift from the engine's scrubber (SQL string literals pass
    // backslashes through untouched; both engines speak the RE2 subset)
    "q_pii_scrub" ->
      ("WITH t AS (SELECT lang, " +
        "substr(text, 1, 40) || ' reach user' || " +
        "CAST(doc_id AS VARCHAR) || '@example.com id ' || " +
        "lpad(CAST(doc_id * 7 % 1000 AS VARCHAR), 3, '0') || '-' || " +
        "lpad(CAST(doc_id * 13 % 100 AS VARCHAR), 2, '0') || '-' || " +
        "lpad(CAST(doc_id * 31 % 10000 AS VARCHAR), 4, '0') || ' end' " +
        "AS planted FROM documents), " +
        "u AS (SELECT lang, planted, " +
        s"regexp_replace(regexp_replace(planted, '${T.emailPattern}', " +
        s"'<EMAIL>', 'g'), '${T.ssnPattern}', '<ID>', 'g') AS scrubbed " +
        "FROM t) " +
        "SELECT lang, COUNT(*) AS n_docs, " +
        "CAST(SUM(LENGTH(planted)) AS BIGINT) AS raw_chars, " +
        "CAST(SUM(LENGTH(scrubbed)) AS BIGINT) AS scrubbed_chars, " +
        "CAST(SUM(LENGTH(scrubbed) - LENGTH(regexp_replace(scrubbed, " +
        "'<EMAIL>', '', 'g'))) AS BIGINT) AS email_mark_chars, " +
        "CAST(SUM(LENGTH(scrubbed) - LENGTH(regexp_replace(scrubbed, " +
        "'<ID>', '', 'g'))) AS BIGINT) AS id_mark_chars " +
        "FROM u GROUP BY lang ORDER BY lang"),
    "q_vocab_topk" ->
      ("SELECT u.word AS word, COUNT(*) AS cnt FROM (SELECT " +
        "unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), " +
        "t -> t <> '')) AS word FROM documents) u " +
        "GROUP BY u.word ORDER BY cnt DESC, word LIMIT 50"),
    "q_quality_filter" ->
      ("SELECT doc_id, lang, " +
        "CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+')," +
        " t -> t <> '')) AS BIGINT) AS n_tokens, " +
        qualitySql + " AS quality FROM documents " +
        "WHERE lang = 'en' AND " + qualitySql + " > 0.75 AND " +
        "len(list_filter(regexp_split_to_array(trim(text), '\\s+'), " +
        "t -> t <> '')) BETWEEN 20 AND 60 ORDER BY doc_id"),
    "q_pipeline_tokens" ->
      ("WITH keepers AS (SELECT MIN(doc_id) AS doc_id FROM documents " +
        "GROUP BY sha256(text)) " +
        "SELECT COUNT(*) AS n_docs, " +
        "CAST(SUM(len(list_filter(regexp_split_to_array(trim(text), " +
        "'\\s+'), t -> t <> ''))) AS BIGINT) AS surviving_tokens " +
        "FROM documents JOIN keepers USING (doc_id) WHERE " +
        qualitySql + " > 0.7"),
    "q_repetition_filter" ->
      ("WITH bg AS (SELECT doc_id, CASE WHEN len(toks) < 2 " +
        "THEN [array_to_string(toks, ' ')] " +
        "ELSE list_transform(range(1, len(toks)), " +
        "i -> toks[i] || ' ' || toks[i+1]) END AS b " +
        "FROM (SELECT doc_id, list_filter(regexp_split_to_array(" +
        "trim(text), '\\s+'), t -> t <> '') AS toks FROM documents " +
        "WHERE doc_id < 500)) " +
        "SELECT doc_id, CAST(len(b) AS BIGINT) AS n_bigrams, " +
        "CAST(len(list_distinct(b)) AS BIGINT) AS n_distinct, " +
        "CAST(len(b) - len(list_distinct(b)) AS DOUBLE) / len(b) " +
        "AS dup_frac, " +
        "(CAST(len(b) - len(list_distinct(b)) AS DOUBLE) / len(b)) " +
        "<= 0.2 AS keep FROM bg ORDER BY doc_id"),

    // the coefficient expressions come verbatim from
    // Regression.coefExprs — the SAME strings Spark's expr() parses
    "q_quality_regression" ->
      (graft.operators.Regression.oracleSql(
        "SELECT lang, CAST(LENGTH(text) AS BIGINT) AS x1, " +
          "CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) " +
          "AS BIGINT) AS x2, " +
          "CAST(len(list_filter(regexp_split_to_array(trim(text), " +
          "'\\s+'), t -> t <> '')) AS BIGINT) AS y FROM documents",
        Seq("lang")) + " ORDER BY lang"),

    "q_profile" ->
      ("WITH src AS (SELECT c_custkey, " +
        "CAST(c_nationkey AS BIGINT) AS c_nationkey, " +
        "nullif(c_mktsegment, 'BUILDING') AS segment FROM customer), " +
        "p AS (SELECT 'c_custkey' AS col_name, COUNT(*) AS n_rows, " +
        "COUNT(c_custkey) AS n_nonnull, " +
        "COUNT(DISTINCT c_custkey) AS n_distinct, " +
        "CAST(MIN(c_custkey) AS VARCHAR) AS min_val, " +
        "CAST(MAX(c_custkey) AS VARCHAR) AS max_val FROM src " +
        "UNION ALL SELECT 'c_nationkey', COUNT(*), COUNT(c_nationkey), " +
        "COUNT(DISTINCT c_nationkey), CAST(MIN(c_nationkey) AS VARCHAR), " +
        "CAST(MAX(c_nationkey) AS VARCHAR) FROM src " +
        "UNION ALL SELECT 'segment', COUNT(*), COUNT(segment), " +
        "COUNT(DISTINCT segment), CAST(MIN(segment) AS VARCHAR), " +
        "CAST(MAX(segment) AS VARCHAR) FROM src) " +
        "SELECT col_name, n_rows, n_nonnull, n_distinct, min_val, " +
        "max_val FROM p ORDER BY col_name"),

    // the trainer's first iteration: pair counts over the
    // distinct-word table (list_zip of equal-length slices — DuckDB
    // pads unequal zips with NULL, and a fully-split 1-char word must
    // contribute (char, </w>), not a padded row)
    "q_bpe_pairs" ->
      ("SELECT pr[1] AS l, pr[2] AS r, " +
        "CAST(SUM(cnt) AS BIGINT) AS pair_cnt " +
        "FROM (SELECT unnest(list_zip(syms[1:len(syms)-1], " +
        "syms[2:len(syms)])) AS pr, cnt " +
        "FROM (SELECT list_append(string_split(w, ''), '</w>') AS syms, " +
        "cnt FROM (SELECT w, COUNT(*) AS cnt " +
        "FROM (SELECT unnest(list_filter(" +
        "regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS w " +
        "FROM documents) GROUP BY w))) " +
        "GROUP BY 1, 2 ORDER BY pair_cnt DESC, l, r LIMIT 20"),

    // the same exact-integer lift over the same explode; SUM(...)
    // casts pin DuckDB's HUGEINT sums back to the engine's longs
    "q_pmi_terms" ->
      ("WITH toks AS (SELECT lang, unnest(list_filter(" +
        "regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) " +
        "AS w FROM documents), " +
        "cwl AS (SELECT lang, w, COUNT(*) AS c_wl FROM toks " +
        "GROUP BY lang, w), " +
        "cw AS (SELECT w, CAST(SUM(c_wl) AS BIGINT) AS c_w FROM cwl " +
        "GROUP BY w), " +
        "nl AS (SELECT lang, CAST(SUM(c_wl) AS BIGINT) AS n_l FROM cwl " +
        "GROUP BY lang), " +
        "n AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n FROM cw), " +
        "sc AS (SELECT cwl.lang, cwl.w, cwl.c_wl, cw.c_w, " +
        "CAST(cwl.c_wl * n.n AS DOUBLE) / " +
        "CAST(cw.c_w * nl.n_l AS DOUBLE) AS lift " +
        "FROM cwl JOIN cw USING (w) JOIN nl ON cwl.lang = nl.lang " +
        "CROSS JOIN n WHERE cwl.c_wl >= 20), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY lang " +
        "ORDER BY lift DESC, w) AS rn FROM sc) " +
        "SELECT lang, w AS term, c_wl, c_w, lift FROM r WHERE rn <= 5 " +
        "ORDER BY lang, lift DESC, term"),

    // the probe literal interpolates from TextFunctions.accentProbe —
    // the SAME string the Spark plan plants, so the two cannot drift
    "q_text_normalize" ->
      ("WITH t AS (SELECT doc_id, substr(text, 1, 20) || " +
        s"'${T.accentProbe}' AS planted FROM documents " +
        "WHERE doc_id < 300) " +
        "SELECT doc_id, CAST(LENGTH(planted) AS BIGINT) AS raw_len, " +
        "CAST(LENGTH(nfc_normalize(planted)) AS BIGINT) AS nfc_len, " +
        "lower(strip_accents(nfc_normalize(planted))) AS normalized " +
        "FROM t ORDER BY doc_id"),

    // bigram construction mirrors the q_repetition_filter CTE (whole
    // text as the single "bigram" under 2 tokens — the Shingles kernel
    // contract); counts and the smoothing arithmetic are exact
    // integers, the score is one double division of two exact longs
    "q_lm_score" ->
      ("WITH t AS (SELECT doc_id, lang, list_filter(" +
        "regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') " +
        "AS toks FROM documents), " +
        "bg AS (SELECT doc_id, lang, CASE WHEN len(toks) < 2 " +
        "THEN [array_to_string(toks, ' ')] " +
        "ELSE list_transform(range(1, len(toks)), " +
        "i -> toks[i] || ' ' || toks[i+1]) END AS b FROM t), " +
        "c12 AS (SELECT bigram, COUNT(*) AS c12 FROM " +
        "(SELECT unnest(b) AS bigram FROM bg WHERE lang = 'en') " +
        "GROUP BY bigram), " +
        "c1 AS (SELECT w, COUNT(*) AS c1 FROM " +
        "(SELECT unnest(toks) AS w FROM t WHERE lang = 'en') " +
        "GROUP BY w), " +
        "v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM c1), " +
        "x AS (SELECT doc_id, lang, unnest(b) AS bigram FROM bg " +
        "WHERE doc_id < 500), " +
        "j AS (SELECT x.doc_id, x.lang, c12.c12, c1.c1, v.v FROM x " +
        "LEFT JOIN c12 USING (bigram) " +
        "LEFT JOIN c1 ON string_split(x.bigram, ' ')[1] = c1.w " +
        "CROSS JOIN v) " +
        "SELECT doc_id, lang, COUNT(*) AS n_bigrams, " +
        "CAST(SUM(CASE WHEN c12 IS NULL THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_unseen, " +
        "CAST(SUM(COALESCE(c12, 0) + 1) AS BIGINT) AS sum_num, " +
        "CAST(SUM(COALESCE(c1, 0) + v) AS BIGINT) AS sum_den, " +
        "CAST(SUM(COALESCE(c1, 0) + v) AS DOUBLE) / " +
        "CAST(SUM(COALESCE(c12, 0) + 1) AS DOUBLE) AS ppl_proxy " +
        "FROM j GROUP BY doc_id, lang ORDER BY doc_id"),

    // DSIR: the q_lm_score model CTEs instantiated TWICE (target =
    // lang='en', raw = whole corpus), weight = the ratio of pooled
    // estimates in the same fixed IEEE op order as the engine, then
    // the q_weighted_sample priority formula over the weight
    "q_dsir_weights" ->
      ("WITH t AS (SELECT doc_id, lang, list_filter(" +
        "regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') " +
        "AS toks FROM documents), " +
        "bg AS (SELECT doc_id, lang, CASE WHEN len(toks) < 2 " +
        "THEN [array_to_string(toks, ' ')] " +
        "ELSE list_transform(range(1, len(toks)), " +
        "i -> toks[i] || ' ' || toks[i+1]) END AS b FROM t), " +
        "c12t AS (SELECT bigram, COUNT(*) AS c12 FROM " +
        "(SELECT unnest(b) AS bigram FROM bg WHERE lang = 'en') " +
        "GROUP BY bigram), " +
        "c1t AS (SELECT w, COUNT(*) AS c1 FROM " +
        "(SELECT unnest(toks) AS w FROM t WHERE lang = 'en') " +
        "GROUP BY w), " +
        "vt AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM c1t), " +
        "c12r AS (SELECT bigram, COUNT(*) AS c12 FROM " +
        "(SELECT unnest(b) AS bigram FROM bg) GROUP BY bigram), " +
        "c1r AS (SELECT w, COUNT(*) AS c1 FROM " +
        "(SELECT unnest(toks) AS w FROM t) GROUP BY w), " +
        "vr AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM c1r), " +
        "x AS (SELECT doc_id, unnest(b) AS bigram FROM bg), " +
        "jt AS (SELECT x.doc_id, " +
        "CAST(SUM(COALESCE(c12t.c12, 0) + 1) AS BIGINT) AS t_num, " +
        "CAST(SUM(COALESCE(c1t.c1, 0) + vt.v) AS BIGINT) AS t_den " +
        "FROM x LEFT JOIN c12t USING (bigram) " +
        "LEFT JOIN c1t ON string_split(x.bigram, ' ')[1] = c1t.w " +
        "CROSS JOIN vt GROUP BY x.doc_id), " +
        "jr AS (SELECT x.doc_id, " +
        "CAST(SUM(COALESCE(c12r.c12, 0) + 1) AS BIGINT) AS r_num, " +
        "CAST(SUM(COALESCE(c1r.c1, 0) + vr.v) AS BIGINT) AS r_den " +
        "FROM x LEFT JOIN c12r USING (bigram) " +
        "LEFT JOIN c1r ON string_split(x.bigram, ' ')[1] = c1r.w " +
        "CROSS JOIN vr GROUP BY x.doc_id), " +
        "w AS (SELECT jt.doc_id, t_num, t_den, r_num, r_den, " +
        "(CAST(t_num AS DOUBLE) * CAST(r_den AS DOUBLE)) / " +
        "(CAST(t_den AS DOUBLE) * CAST(r_num AS DOUBLE)) AS weight " +
        "FROM jt JOIN jr ON jt.doc_id = jr.doc_id) " +
        "SELECT doc_id, t_num, t_den, r_num, r_den, weight, " +
        "((CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE) + 0.5) " +
        "/ 4294967296.0) / weight AS priority " +
        "FROM w ORDER BY priority, doc_id LIMIT 50")
  )
}
