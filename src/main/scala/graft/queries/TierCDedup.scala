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

/** Tier C — deduplication and decontamination (exact, MinHash/
  * SimHash/n-gram-Jaccard near-dup, similarity self-joins, duplicate
  * clusters, leakage-safe splits, SemDeDup, Bloom decontamination,
  * and the incremental dedup indexes). Split from the
  * single TierC file (r16, maintainability); assembled with its
  * siblings at the [[TierC]] edge — keys, bodies and oracles are
  * verbatim, so the declared-query surface is unchanged.
  */
private[queries] object TierCDedup {

  val queries: Map[String, TierC.Q] = Map(

    // C1 — exact dedup: content-hash group-by; shuffles hashes, not text.
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exact(Tables.documents(s, d), "doc_id", "text")
        .select(col("content_hash"), col("doc_id"), col("n_copies"))
        .orderBy(col("doc_id"))),

    // C1f — EXACT Jaccard similarity self-join (AllPairs/PPJoin
    // prefix filter): every document pair with token-set Jaccard
    // >= 0.4 — the LOSSLESS complement of the MinHash path (LSH can
    // miss a pair; this cannot, proven by the naive quadratic
    // oracle). Candidates join only on each set's rarest tokens, so
    // stopwords never explode the join.
    "q_jaccard_simjoin" -> ((s, d) =>
      graft.operators.SetSimilarity.jaccardSelfJoin(
        Tables.documents(s, d).filter(col("doc_id") < 400),
        "doc_id",
        filter(split(trim(col("text")), "\\s+"), x => x =!= ""),
        t = 0.4)
        .orderBy(col("id_a"), col("id_b"))),

    // C1d2 — the SAME exact simjoin over the FULL corpus at t=0.8, on
    // SHINGLE sets: the production posture (no doc_id slice). The
    // word-soup corpus draws from a ~31-word vocabulary, so unigram
    // token SETS are degenerate (most long docs sit above 0.8 of each
    // other — quadratic OUTPUT by construction, which is why the
    // t=0.4 unigram query above keeps its slice); 3-gram shingles are
    // near-unique per document, the high threshold keeps the PPJoin
    // prefix at ceil((1-t)·|set|)+1 ≈ 1/5th of each set, and the 25
    // surviving pairs are exactly the planted near-dups — the
    // benched, hash-checked proof that "never all-pairs" holds
    // corpus-wide against an exhaustive quadratic oracle.
    "q_jaccard_simjoin_hi" -> ((s, d) =>
      graft.operators.SetSimilarity.jaccardSelfJoin(
        Tables.documents(s, d),
        "doc_id",
        T.shingles(col("text"), 3),
        t = 0.8)
        .orderBy(col("id_a"), col("id_b"))),

    // C1e — edit-distance similarity SELF-JOIN (Ed-Join/PPJoin prefix
    // filter): all customer-name pairs within Levenshtein 1, found by
    // joining only on each string's q·d+1 RAREST q-grams — hot grams
    // carry no pairs, so the join never goes all-pairs; the oracle is
    // the naive quadratic levenshtein, which proves the filter
    // LOSSLESS (a pruned true pair would hash-mismatch).
    "q_edit_simjoin" -> ((s, d) =>
      graft.operators.EditSimilarity.selfJoin(
        Tables.customer(s, d).filter(col("c_custkey") <= 2000)
          .select(col("c_custkey"), col("c_name")),
        "c_custkey", "c_name", d = 1, q = 2)
        .select(col("id_a"), col("id_b"),
          col("dist").cast(LongType).as("dist"))
        .orderBy(col("id_a"), col("id_b"))),

    // C1e — fuzzy ENTITY RESOLUTION, the canonical composition of two
    // operators this engine already has: edit-distance match edges
    // (EditSimilarity.selfJoin — prefix-filtered, never all-pairs)
    // feed the pointer-jumping connected components (Dedup.clusters,
    // O(log n) passes), and every record maps to its entity's minimum
    // id. The same shape resolves author/title/URL variants over a
    // crawl at 100 TB: edge generation is the bounded-candidate join,
    // CC shuffles only (id, label) pairs. Oracle: exhaustive
    // levenshtein pairs + recursive-CTE closure (the all-pairs O(n²)
    // exists only in DuckDB), so a wrong edge, a lost component
    // member or a wrong canonical id all hash-mismatch.
    "q_entity_clusters" -> ((s, d) => {
      val custs = Tables.customer(s, d)
        .filter(col("c_custkey") <= 500)
        .select(col("c_custkey"), col("c_name"))
      val edges = graft.operators.EditSimilarity.selfJoin(
        custs, "c_custkey", "c_name", d = 1, q = 2)
        .select(col("id_a"), col("id_b"))
      val comp = Dedup.clusters(edges)
      custs.select(col("c_custkey").cast(LongType).as("id"))
        .join(comp, Seq("id"), "left")
        .select(col("id").as("c_custkey"),
          coalesce(col("cluster_id"), col("id")).as("entity_id"))
        .withColumn("is_canonical",
          col("c_custkey") === col("entity_id"))
        .orderBy(col("c_custkey"))
    }),

    // C1f — INCREMENTAL entity resolution: the same record→canonical
    // map as q_entity_clusters, built by feeding the corpus in TWO
    // batches through the persisted gram-postings index
    // (EntityResolution.resolveBatch — probe reads only the batch's
    // prefix grams' bucket families, running union-find with entity
    // merges through the CDC update path). The incremental assignment
    // provably equals batch connected components (spec-pinned after
    // every batch), so this query shares q_entity_clusters' exhaustive
    // recursive-closure ORACLE VERBATIM — the incremental path is
    // hash-checked against the closed-form batch ground truth.
    "q_entity_incremental" -> ((s, d) => {
      val root = new java.io.File("target/graft-data/er/" +
        graft.sources.Artifacts.datasetKey(d, s"$d/customer.parquet") +
        "_er1").getAbsolutePath
      if (graft.operators.EntityResolution.entities(s, root).isEmpty) {
        val custs = Tables.customer(s, d)
          .filter(col("c_custkey") <= 500)
          .select(col("c_custkey"), col("c_name"))
        graft.operators.EntityResolution.resolveBatch(s, root,
          custs.filter(col("c_custkey") <= 250), "c_custkey", "c_name",
          d = 1, q = 2, batchId = 0L)
        graft.operators.EntityResolution.resolveBatch(s, root,
          custs.filter(col("c_custkey") > 250), "c_custkey", "c_name",
          d = 1, q = 2, batchId = 1L)
      }
      graft.operators.EntityResolution.entities(s, root).get
        .select(col("id").as("c_custkey"),
          col("entity_id"),
          (col("id") === col("entity_id")).as("is_canonical"))
        .orderBy(col("c_custkey"))
    }),

    // C4 — MinHash+LSH near-dup candidates: top pairs by estimated Jaccard.
    // k=32, bands=8 (r=4) puts the banding S-curve threshold near
    // Jaccard 0.59 — the planted near-dups (J ≈ 0.98) always collide,
    // random word-soup pairs (J ≈ 0.05) essentially never do. Signatures
    // come from the persisted per-dataset index (built once, shared with
    // q_ngram_jaccard and re-runs).
    "q_minhash_dup" -> ((s, d) =>
      Dedup.minhashCandidatesFromSigs(minhashSigs(s, d), k = 32, bands = 8)
        .orderBy(col("est_jaccard").desc, col("id_a"), col("id_b"))
        .limit(50)),

    // SimHash near-dup candidates: closest pairs by Hamming distance.
    // 16-bit chunks → 4 chunks (Hamming ≤ 3 recall), 65,536-way buckets.
    // bucketCap=100: this small-vocab corpus clusters fingerprints (top
    // chunk buckets reach ~200 docs ⇒ 250k candidate pairs); capping
    // drops only clustered-but-unrelated buckets — true near-dups sit at
    // Hamming 0-1 and re-collide in all 4 chunk buckets, so recall holds.
    // The declared query takes a doc_id slice like its siblings (the
    // fingerprint clustering made the full-corpus form ~15% of the whole
    // bench total, drowning the signal of every other query); the
    // full-corpus form stays exercised by DedupSpec and the pigeonhole
    // contract in ToleranceSpec.
    "q_simhash_dup" -> ((s, d) =>
      Dedup.simhashCandidates(
        Tables.documents(s, d).filter(col("doc_id") < 2000),
        "doc_id", "text", chunkBits = 16, bucketCap = 100)
        .orderBy(col("hamming"), col("id_a"), col("id_b"))
        .limit(20)),

    // Exact n-gram Jaccard verification of the MinHash candidates — the
    // dedup pipeline's verify stage, served from the persisted verified-
    // pair index (built once per corpus: signatures → banded candidates →
    // semi-join-pruned shingles → exact Jaccard >= 0.5).
    // Oracle-checked against a DuckDB ALL-pairs exact-Jaccard scan: the
    // banding parameters (k=32, bands=8, r=4) collide a J>=0.9 pair with
    // probability 1-(1-0.9^4)^8 ~ 0.9998 and the corpus is bimodal (every
    // pair is J>=0.9 or J<0.2, no mid-band pairs), so the candidate set
    // provably contains every pair the threshold keeps — making the
    // LSH-pruned pipeline hash-comparable to the exhaustive oracle.
    // Second precondition: no band bucket may exceed the bucket cap
    // (star fallback would drop non-anchor pairs from the verified set);
    // the index build asserts this (persistedVerifiedPairs
    // assertUncapped), so a denser corpus fails loudly at build time
    // instead of confusingly at oracle compare.
    "q_ngram_jaccard" -> ((s, d) =>
      verifiedPairs(s, d).orderBy(col("id_a"), col("id_b"))),

    // Duplicate-cluster resolution over the verified near-dup pairs:
    // connected components (min-label propagation with pointer-jumping —
    // Dedup.clusters) + keeper selection, one row per document. The
    // star-fallback candidate design depends on exactly this stage to
    // recover mega-clusters from their O(n) anchor edges. Oracle: DuckDB
    // recursive-CTE transitive closure over the same thresholded pair set.
    // Served from the PERSISTED membership artifact (the pointer-
    // jumping fixpoint is a one-time resolution build, like the
    // signature/verified-pair indexes it reads).
    "q_dedup_clusters" -> ((s, d) =>
      membership(s, d).orderBy(col("doc_id"))),

    // C1c — leakage-safe train/val/test split: the split key is the
    // near-dup CLUSTER id, so a near-duplicate of a training document
    // can never land in val/test (the eval-integrity property a
    // per-document split silently violates — Dedup.splitByCluster).
    // Cluster resolution reuses the verified-pair index; the split
    // itself is a map-side projection (shuffles nothing). Oracle:
    // recursive-CTE transitive closure + the shared scramble formula,
    // so a wrong cluster id or a drifted scramble both hash-mismatch
    // the per-split census.
    "q_leakage_split" -> ((s, d) =>
      Dedup.splitByCluster(membership(s, d),
        trainShuffleKey(col("cluster_id")))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_id")).as("n_clusters"))
        .orderBy(col("split"))),

    // Embedding-cosine near-dup via hyperplane LSH buckets.
    "q_embed_neardup" -> ((s, d) =>
      Ann.lshNearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
        bits = 12)
        .orderBy(col("sim").desc, col("id_a"), col("id_b"))
        .limit(20)),

    // C2g — benchmark decontamination: flag corpus documents sharing
    // 3-gram shingles with a held-out eval set (here: docs 0-9 stand in
    // for the benchmark). The eval shingle set is tiny by construction →
    // broadcast, so the corpus side never shuffles: explode shingles
    // map-side, hash-join against the broadcast set, one agg. At 100 TB
    // the eval set stays a few MB (real benchmarks are) and the scan is
    // embarrassingly parallel — the standard pretraining decontamination
    // shape (n-gram overlap against eval data).
    "q_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val evalShingles = docs.filter(col("doc_id") < 10)
        .select(explode(array_distinct(T.shingles(col("text"), 3)))
          .as("shingle"))
        .distinct()
      Tables.spread(docs.filter(col("doc_id") >= 10)
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          explode(array_distinct(T.shingles(col("text"), 3)))
            .as("shingle"))
        .join(broadcast(evalShingles), "shingle")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_overlap"))
        .withColumn("contaminated", col("n_overlap") >= 5)
        .orderBy(col("doc_id"))
    }),

    // C2g-scale — the same decontamination through a distributed BLOOM
    // filter: the eval set becomes a bounded bit table (<= m rows,
    // broadcast) instead of a broadcast of the shingles themselves —
    // the path for eval sets too large to broadcast (multi-benchmark
    // unions, dedup-against-prior-corpus). No false negatives by
    // construction (every truly contaminated doc flags); rows-only
    // (xxhash64 bit placement; false positives possible by design),
    // with the exact broadcast twin q_decontaminate oracle-checked and
    // ToleranceSpec pinning the no-false-negative + FP-rate bounds.
    "q_bloom_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val eval = docs.filter(col("doc_id") < 10)
        .select(explode(array_distinct(T.shingles(col("text"), 3)))
          .as("shingle"))
      // the bit table is a persisted artifact keyed on the eval corpus
      // fingerprint + (m, k): re-runs and later corpus batches probe
      // the committed sketch instead of re-shingling the eval set
      val bits = graft.operators.Bloom.persistedBuild(eval, "shingle",
        m = 1L << 16, k = 5,
        path = new java.io.File("target/graft-data/bloom/eval_" +
          graft.sources.Artifacts.datasetKey(d,
            s"$d/documents.parquet")).getAbsolutePath)
      // probe side scan-spread (guide §2.5; no-op at production file
      // counts): the shingle + k-hash probe explosion is the map-heavy
      // half of the query
      val probes = Tables.spread(docs.filter(col("doc_id") >= 10)
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          explode(array_distinct(T.shingles(col("text"), 3)))
            .as("shingle"))
      graft.operators.Bloom
        .mightContain(bits, probes, "shingle", m = 1L << 16, k = 5)
        .groupBy(col("doc_id"))
        .agg(sum(when(col("might_contain"), 1L).otherwise(0L))
          .as("n_maybe"))
        .filter(col("n_maybe") >= 1)
        .withColumn("contaminated", col("n_maybe") >= 5)
        .orderBy(col("doc_id"))
    }),

    // C1d — INCREMENTAL NEAR-DUP DEDUP under the hash gate: batch 1
    // deduped against a persisted MinHash signature index of the
    // corpus — verbatim re-ingests AND lightly-edited (" v2") copies
    // both drop (exact shingle-Jaccard >= 0.5 to a prior keeper,
    // verified only for banding candidates), while genuinely fresh
    // synthetic docs survive. The " v2" arm is what distinguishes this
    // from q_dedup_incremental: the exact index admits an edit, the
    // near-dup index catches it. Oracle: exhaustive NOT EXISTS
    // anti-join over exact Jaccard between the reconstructed batch and
    // the full corpus — hash-matching it proves the banded probe
    // missed no true pair at this scale.
    "q_neardup_incremental" -> ((s, d) => {
      val root = new java.io.File("target/graft-data/neardup_incr_q/" +
        graft.sources.Artifacts.datasetKey(d, s"$d/documents.parquet") +
        "_rev1").getAbsolutePath
      synchronized {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        Dedup.incrementalNearDup(docs, docs, root, "doc_id", "text", 0L,
          maxDeltas = 4)
        Dedup.incrementalNearDup(nearDupBatch1(s, d), docs, root,
          "doc_id", "text", 1L, maxDeltas = 4)
          .orderBy(col("doc_id"))
      }
    }),

    // C1c — INCREMENTAL CORPUS DEDUP under the hash gate: batch 1
    // (verbatim re-ingests + edited copies, both reconstructible in
    // SQL) deduped against a PERSISTED index built from batch 0 —
    // the continuous-ingest form of exact dedup, no corpus rescan. The
    // index is a merge-on-read CDC table (O(batch) writes — the right
    // mode for a trickle-fed 100 TB index); survivors are read back
    // from the index's own change feed, so the declared result is the
    // index's testimony of what batch 1 admitted: every re-ingested
    // hash dropped (first-wins across batches via the CDC tie rules),
    // every edited doc admitted under its smallest batch id. The
    // oracle recomputes the survivor set with an anti-semi-join over
    // the reconstructed batches.
    "q_dedup_incremental" -> ((s, d) => {
      val root = new java.io.File("target/graft-data/dedup_incr_q/" +
        graft.sources.Artifacts.datasetKey(d, s"$d/documents.parquet") +
        "_rev1").getAbsolutePath
      synchronized {
        val (b0, b1) = incrDedupBatches(s, d)
        Dedup.incrementalExact(b0, root, "doc_id", "text", 0L,
          maxDeltas = 4)
        Dedup.incrementalExact(b1, root, "doc_id", "text", 1L,
          maxDeltas = 4)
          .orderBy(col("doc_id"))
      }
    }),

    // C15 — SemDeDup semantic dedup: within-cluster (label) cosine
    // >= 0.25 drops the higher id; survivors hash-checked. The
    // quadratic comparison is confined per cluster (the paper's move),
    // the similarity is the codegen'd integer-quantized CosineQuant
    // (bit-identical in DuckDB — same contract as q_embed_topk), and
    // the keep rule is the deterministic lowest-id witness, so the
    // full dedup decision — clustering pruning included — is in the
    // hash, not just the pair counts.
    "q_semantic_dedup" -> ((s, d) =>
      Ann.semanticDedup(Tables.embeddings(s, d), "vec_id", "embedding",
        "label", 0.25)
        .select(col("vec_id"), col("label").cast(LongType).as("label"))
        .orderBy(col("vec_id"))),

    // C1g — QUALITY-AWARE canonical selection: within each near-dup
    // cluster keep the HIGHEST-QUALITY member, not the lowest id — the
    // curation refinement of q_dedup_clusters' keeper rule (near-dup
    // members genuinely differ, so "which copy survives" matters for
    // the training corpus; min-id keeps whichever crawled first).
    // Reads the persisted membership artifact, joins the per-doc
    // quality score (map-side arithmetic), and resolves one argmax
    // window per cluster. Oracle: the same recursive-CTE closure +
    // the shared qualitySql + an identical rank window — so cluster
    // resolution AND the quality tie-break are both in the hash.
    "q_neardup_keep_best" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id"))
        .orderBy(col("quality").desc, col("doc_id"))
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id"))
      membership(s, d).select(col("doc_id"), col("cluster_id"))
        .join(Tables.documents(s, d)
          .select(col("doc_id"), T.qualityScore(col("text")).as("quality")),
          Seq("doc_id"))
        .withColumn("n_members", count(lit(1)).over(wc))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("n_members"),
          col("doc_id").as("best_doc"), col("quality").as("best_quality"))
        .orderBy(col("cluster_id"))
    }),

    // C1g — chunk-level first-occurrence dedup (the C4/CCNet
    // line-dedup move at 16-token chunk granularity — the corpus
    // carries no newlines, so the chunker IS the line boundary): a
    // chunk survives iff no identical chunk appears earlier in
    // (doc_id, chunk_idx) corpus order, and each document is rebuilt
    // from its survivors. Resolution shuffles (sha256, id, idx) only
    // — 48 B/chunk, never text; reconstruction re-chunks map-side and
    // the one text-bearing join is O(docs) on the primary key.
    "q_chunk_dedup" -> ((s, d) =>
      Dedup.chunkDedup(Tables.documents(s, d), "doc_id", "text", 16)
        .orderBy(col("doc_id"))),

    // C1g2 — LINE-LEVEL first-occurrence dedup, the literal C4/CCNet
    // move on real multiline text: the corpus carries no newlines, so
    // the fixture plants deterministic ones (every 8 tokens becomes a
    // line — a pure function of the text both engines derive
    // identically), then Dedup.lineDedup splits on \n, trims, drops
    // blanks, and keeps each line's corpus-order first occurrence.
    // Same firsts-only plan as q_chunk_dedup (sha256+idx on the wire,
    // map-side newline rebuild); the rebuilt multiline text is
    // hash-checked verbatim.
    "q_line_dedup" -> ((s, d) =>
      Dedup.lineDedup(multilineDocs(s, d), "doc_id", "text")
        .select(col("doc_id"), col("n_chunks").as("n_lines"),
          col("n_kept"), col("clean_text"))
        .orderBy(col("doc_id"))),

    // C1h2 — LINE-LEVEL boilerplate strip on the same multiline
    // fixture: every line whose distinct-document frequency reaches 3
    // is removed EVERYWHERE (the CCNet hot-line sweep), survivors
    // rebuild joined by newline.
    "q_line_boilerplate" -> ((s, d) =>
      Dedup.lineBoilerplateStrip(multilineDocs(s, d), "doc_id", "text", 3)
        .select(col("doc_id"), col("n_chunks").as("n_lines"),
          col("n_kept"), col("clean_text"))
        .orderBy(col("doc_id"))),

    // C1h3 — PARAGRAPH-GRANULAR near-dup dedup (the CCNet/RefinedWeb
    // segment-level sweep): a 32-token paragraph is removed when an
    // EARLIER paragraph anywhere in the corpus is identical (exact
    // stage, hash min-struct — no pairs) or >= 0.8 shingle-Jaccard
    // similar (MinHash banding over DISTINCT representatives + exact
    // verification). The slice bounds the oracle's quadratic
    // all-pairs check, not the operator (which is banded by
    // construction). 32-token paragraphs make one-token edits land
    // at ~0.82 Jaccard — above the threshold, the planted near-dup
    // docs' edited paragraphs drop while unrelated paragraphs stay.
    "q_paragraph_neardup" -> ((s, d) =>
      Dedup.paragraphNearDup(
        Tables.documents(s, d).filter(col("doc_id") < 400)
          .withColumn("text", concat_ws("\n",
            transform(Dedup.chunkArray(col("text"), 32),
              c => c("chunk_text")))),
        "doc_id", "text", threshold = 0.8, bucketCap = 4096)
        .select(col("doc_id"), col("n_chunks").as("n_paragraphs"),
          col("n_kept"), col("clean_text"))
        .orderBy(col("doc_id"))),

    // C1i — exact-substring dedup (ExactSubstr, Lee et al. 2022):
    // remove EVERY repeat of >= 8 tokens at ANY alignment — the
    // guarantee chunk-granularity dedup cannot give (a repeat
    // straddling a chunk boundary survives q_chunk_dedup). Window
    // resolution shuffles (sha256, id, pos) — ~48 B/token; hit spans
    // merge map-side; the one text join is O(docs) on the key.
    "q_substr_dedup" -> ((s, d) =>
      Dedup.substrDedup(Tables.documents(s, d), "doc_id", "text", 8)
        .orderBy(col("doc_id"))),

    // C1h — CCNet boilerplate strip: drop every chunk whose
    // DISTINCT-document frequency reaches 3 (template headers /
    // footers repeat ACROSS documents — first-occurrence dedup would
    // keep one copy; this removes all of them). Same rebuild tail as
    // q_chunk_dedup; the hot set is tiny by definition and prunes
    // via a hash-keyed anti-join.
    "q_boilerplate_strip" -> ((s, d) =>
      Dedup.boilerplateStrip(Tables.documents(s, d), "doc_id", "text",
        16, 3)
        .orderBy(col("doc_id")))
  )

  /** Shared by q_entity_clusters AND q_entity_incremental — the
    * incremental path provably equals batch connected components
    * (EntityResolutionSpec), so one exhaustive-closure oracle checks
    * both.
    */
  private val entityOracle: String =
    "WITH RECURSIVE " +
      "c AS (SELECT c_custkey AS id, c_name AS s FROM customer " +
      "WHERE c_custkey <= 500), " +
      "pairs AS (SELECT a.id AS id_a, b.id AS id_b FROM c a JOIN c b " +
      "ON a.id < b.id AND abs(length(a.s) - length(b.s)) <= 1 " +
      "AND levenshtein(a.s, b.s) <= 1), " +
      "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
      "UNION SELECT id_b, id_a FROM pairs), " +
      "reach(src, dst) AS (SELECT src, dst FROM edges UNION " +
      "SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src), " +
      "comp AS (SELECT src AS id, least(src, MIN(dst)) AS entity_id " +
      "FROM reach GROUP BY src) " +
      "SELECT c.id AS c_custkey, " +
      "COALESCE(comp.entity_id, c.id) AS entity_id, " +
      "c.id = COALESCE(comp.entity_id, c.id) AS is_canonical " +
      "FROM c LEFT JOIN comp USING (id) ORDER BY c_custkey"

  val oracles: Map[String, String] = Map(
    "q_entity_incremental" -> entityOracle,
    "q_ngram_jaccard" ->
      ("WITH " + shingleCte + " " + dupPairsSql + " ORDER BY id_a, id_b"),
    "q_dedup_clusters" ->
      ("WITH RECURSIVE " + shingleCte + ", " +
        "pairs AS (" + dupPairsSql + "), " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
        "UNION SELECT id_b, id_a FROM pairs), " +
        "reach(src, dst) AS (SELECT src, dst FROM edges UNION " +
        "SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src), " +
        "comp AS (SELECT src AS doc_id, least(src, MIN(dst)) AS cluster_id " +
        "FROM reach GROUP BY src) " +
        "SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id, " +
        "d.doc_id = COALESCE(c.cluster_id, d.doc_id) AS is_keeper " +
        "FROM documents d LEFT JOIN comp c USING (doc_id) " +
        "ORDER BY d.doc_id"),
    "q_dedup_exact" ->
      ("SELECT sha256(text) AS content_hash, MIN(doc_id) AS doc_id, " +
        "COUNT(*) AS n_copies FROM documents GROUP BY sha256(text) " +
        "ORDER BY doc_id"),
    "q_jaccard_simjoin" ->
      ("WITH d AS (SELECT doc_id, list_distinct(list_filter(" +
        "regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) " +
        "AS toks FROM documents WHERE doc_id < 400) " +
        "SELECT id_a, id_b, inter, uni, " +
        "CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jaccard " +
        "FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter, " +
        "CAST(len(a.toks) + len(b.toks) - " +
        "len(list_intersect(a.toks, b.toks)) AS BIGINT) AS uni " +
        "FROM d a, d b WHERE a.doc_id < b.doc_id) " +
        "WHERE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= 0.4 " +
        "ORDER BY id_a, id_b"),
    // full-corpus quadratic ground truth at t=0.8 over the shared
    // 3-gram shingle derivation — losslessness of the
    // prefix+positional filter with NO slice
    "q_jaccard_simjoin_hi" ->
      ("WITH " + shingleCte + " " +
        "SELECT id_a, id_b, inter, uni, " +
        "CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jaccard " +
        "FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter, " +
        "CAST(len(a.s) + len(b.s) - " +
        "len(list_intersect(a.s, b.s)) AS BIGINT) AS uni " +
        "FROM sh a, sh b WHERE a.doc_id < b.doc_id) " +
        "WHERE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= 0.8 " +
        "ORDER BY id_a, id_b"),
    "q_edit_simjoin" ->
      ("SELECT a.c_custkey AS id_a, b.c_custkey AS id_b, " +
        "CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist " +
        "FROM customer a, customer b " +
        "WHERE a.c_custkey < b.c_custkey AND a.c_custkey <= 2000 " +
        "AND b.c_custkey <= 2000 " +
        "AND levenshtein(a.c_name, b.c_name) <= 1 " +
        "ORDER BY id_a, id_b"),
    "q_entity_clusters" -> entityOracle,
    "q_decontaminate" ->
      ("WITH " + shingleCte + ", " +
        "ev AS (SELECT DISTINCT unnest(s) AS shingle FROM sh " +
        "WHERE doc_id < 10), " +
        "c AS (SELECT doc_id, unnest(s) AS shingle FROM sh " +
        "WHERE doc_id >= 10) " +
        "SELECT c.doc_id, COUNT(*) AS n_overlap, " +
        "COUNT(*) >= 5 AS contaminated " +
        "FROM c JOIN ev USING (shingle) GROUP BY c.doc_id " +
        "ORDER BY c.doc_id"),
    // batch-1 survivors of the incremental index: hashes never seen in
    // batch 0, keeping the smallest batch-1 id per hash — re-ingested
    // texts drop, edited (" v2") texts survive
    "q_dedup_incremental" ->
      ("WITH b1 AS (" +
        "SELECT doc_id + 1000000 AS doc_id, text FROM documents " +
        "WHERE doc_id % 5 = 0 " +
        "UNION ALL " +
        "SELECT doc_id + 1000000 AS doc_id, text || ' v2' AS text " +
        "FROM documents WHERE doc_id % 5 = 1) " +
        "SELECT sha256(text) AS content_hash, MIN(doc_id) AS doc_id " +
        "FROM b1 WHERE sha256(text) NOT IN " +
        "(SELECT sha256(text) FROM documents) " +
        "GROUP BY sha256(text) ORDER BY doc_id"),
    // batch-1 survivors of the near-dup index: docs with exact
    // shingle-Jaccard >= 0.5 to ANY corpus doc drop (re-ingests and
    // " v2" edits alike); fresh synthetic docs survive
    "q_neardup_incremental" ->
      ("WITH b1 AS (" +
        "SELECT doc_id + 1000000 AS doc_id, text FROM documents " +
        "WHERE doc_id % 5 = 0 " +
        "UNION ALL " +
        "SELECT doc_id + 1000000 AS doc_id, text || ' v2' AS text " +
        "FROM documents WHERE doc_id % 5 = 1 " +
        "UNION ALL " +
        "SELECT doc_id + 1000000 AS doc_id, 'fresh synthetic doc ' || " +
        "doc_id || ' alpha beta gamma delta epsilon zeta' AS text " +
        "FROM documents WHERE doc_id % 5 = 2), " +
        shingleCteFor("shb", "b1") + ", " + shingleCte + " " +
        "SELECT doc_id FROM shb WHERE doc_id NOT IN (" +
        "SELECT b.doc_id FROM shb b JOIN sh a ON " +
        "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / " +
        "len(list_distinct(a.s || b.s)) >= 0.5) " +
        "ORDER BY doc_id"),

    // the q_dedup_clusters closure + the shared scramble on CLUSTER id:
    // a per-split census (doc and cluster counts)
    "q_leakage_split" ->
      ("WITH RECURSIVE " + shingleCte + ", " +
        "pairs AS (" + dupPairsSql + "), " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
        "UNION SELECT id_b, id_a FROM pairs), " +
        "reach(src, dst) AS (SELECT src, dst FROM edges UNION " +
        "SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src), " +
        "comp AS (SELECT src AS doc_id, least(src, MIN(dst)) " +
        "AS cluster_id FROM reach GROUP BY src), " +
        "m AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) " +
        "AS cluster_id FROM documents d LEFT JOIN comp c USING (doc_id)), " +
        s"sp AS (SELECT doc_id, cluster_id, CASE " +
        s"WHEN (${scrambleSql("cluster_id")}) % 100 < 80 THEN 'train' " +
        s"WHEN (${scrambleSql("cluster_id")}) % 100 < 90 THEN 'val' " +
        "ELSE 'test' END AS split FROM m) " +
        "SELECT split, COUNT(*) AS n_docs, " +
        "COUNT(DISTINCT cluster_id) AS n_clusters " +
        "FROM sp GROUP BY split ORDER BY split"),

    // Same quantized-cosine formulation as the q_embed_topk oracle.
    "q_semantic_dedup" ->
      ("WITH e AS (SELECT vec_id, label, " + quantSql + " AS v " +
        "FROM embeddings), " +
        "d AS (SELECT DISTINCT b.vec_id FROM e a JOIN e b " +
        "ON a.label = b.label AND a.vec_id < b.vec_id " +
        "AND CAST(list_sum(list_transform(list_zip(a.v, b.v), " +
        "p -> p[1] * p[2])) AS DOUBLE) / " +
        "(sqrt(CAST(list_sum(list_transform(a.v, x -> x * x)) " +
        "AS DOUBLE)) * " +
        "sqrt(CAST(list_sum(list_transform(b.v, x -> x * x)) " +
        "AS DOUBLE))) >= 0.25) " +
        "SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings " +
        "WHERE vec_id NOT IN (SELECT vec_id FROM d) ORDER BY vec_id"),

    // the q_dedup_clusters closure + qualitySql + the same argmax
    // window (quality DESC, doc_id) the Spark side ranks with
    "q_neardup_keep_best" ->
      ("WITH RECURSIVE " + shingleCte + ", " +
        "pairs AS (" + dupPairsSql + "), " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
        "UNION SELECT id_b, id_a FROM pairs), " +
        "reach(src, dst) AS (SELECT src, dst FROM edges UNION " +
        "SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src), " +
        "comp AS (SELECT src AS doc_id, least(src, MIN(dst)) " +
        "AS cluster_id FROM reach GROUP BY src), " +
        "m AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) " +
        "AS cluster_id, " + qualitySql + " AS quality " +
        "FROM documents d LEFT JOIN comp c USING (doc_id)), " +
        "r AS (SELECT *, COUNT(*) OVER (PARTITION BY cluster_id) " +
        "AS n_members, row_number() OVER (PARTITION BY cluster_id " +
        "ORDER BY quality DESC, doc_id) AS rn FROM m) " +
        "SELECT cluster_id, n_members, doc_id AS best_doc, " +
        "quality AS best_quality FROM r WHERE rn = 1 ORDER BY cluster_id"),

    // the same 16-token chunker; first occurrence = row_number over
    // (doc_id, chunk_idx) order, rebuild = ordered string_agg
    "q_chunk_dedup" ->
      (chunkCte +
        "k AS (SELECT doc_id, chunk_idx, chunk_text, row_number() " +
        "OVER (PARTITION BY chunk_text ORDER BY doc_id, chunk_idx) " +
        "AS rn FROM ch), " +
        "s AS (SELECT doc_id, COUNT(*) AS n_kept, " +
        "string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS clean_text " +
        "FROM k WHERE rn = 1 GROUP BY doc_id) " +
        chunkRebuildSql),

    // the 8-token lines; first occurrence = row_number over
    // (doc_id, line_idx) order, rebuild = newline-joined string_agg
    "q_line_dedup" ->
      (lineCte +
        "k AS (SELECT doc_id, line_idx, line_text, row_number() " +
        "OVER (PARTITION BY line_text ORDER BY doc_id, line_idx) " +
        "AS rn FROM ln), " +
        "s AS (SELECT doc_id, COUNT(*) AS n_kept, " +
        "string_agg(line_text, chr(10) ORDER BY line_idx) AS clean_text " +
        "FROM k WHERE rn = 1 GROUP BY doc_id) " +
        lineRebuildSql),

    // 32-token paragraphs; firsts = row_number 1 per distinct text in
    // (doc_id, line_idx) order; the drop set is the EXHAUSTIVE
    // all-pairs shingle-Jaccard >= 0.8 join over firsts (later side
    // drops); rebuild = newline-joined survivors
    "q_paragraph_neardup" ->
      ("WITH t AS (SELECT doc_id, list_filter(" +
        "regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') " +
        "AS toks FROM documents WHERE doc_id < 400), " +
        "ln AS (SELECT doc_id, i AS line_idx, " +
        "array_to_string(toks[(i*32+1):(i*32+32)], ' ') AS line_text " +
        "FROM t, unnest(range(0, CAST(ceil(len(toks)/32.0) AS INT))) " +
        "AS u(i) WHERE len(toks) > 0), " +
        "f AS (SELECT doc_id, line_idx, line_text, row_number() " +
        "OVER (PARTITION BY line_text ORDER BY doc_id, line_idx) " +
        "AS rn FROM ln), " +
        "firsts AS (SELECT doc_id, line_idx, line_text, " +
        "doc_id * 1048576 + line_idx AS rep FROM f WHERE rn = 1), " +
        "shp AS (SELECT rep, list_distinct(CASE WHEN len(lt) < 3 " +
        "THEN [array_to_string(lt, ' ')] " +
        "ELSE list_transform(range(1, len(lt)-1), " +
        "i -> lt[i] || ' ' || lt[i+1] || ' ' || lt[i+2]) END) AS s " +
        "FROM (SELECT rep, list_filter(regexp_split_to_array(" +
        "trim(line_text), '\\s+'), x -> x <> '') AS lt FROM firsts)), " +
        "drops AS (SELECT DISTINCT b.rep FROM shp a JOIN shp b " +
        "ON a.rep < b.rep WHERE " +
        "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / " +
        "len(list_distinct(a.s || b.s)) >= 0.8), " +
        "kept AS (SELECT firsts.* FROM firsts LEFT JOIN drops " +
        "ON firsts.rep = drops.rep WHERE drops.rep IS NULL), " +
        "s AS (SELECT doc_id, COUNT(*) AS n_kept, " +
        "string_agg(line_text, chr(10) ORDER BY line_idx) " +
        "AS clean_text FROM kept GROUP BY doc_id) " +
        "SELECT t.doc_id, CAST(CASE WHEN len(toks) = 0 THEN 0 ELSE " +
        "ceil(len(toks)/32.0) END AS BIGINT) AS n_paragraphs, " +
        "CAST(COALESCE(s.n_kept, 0) AS BIGINT) AS n_kept, " +
        "COALESCE(s.clean_text, '') AS clean_text " +
        "FROM t LEFT JOIN s USING (doc_id) ORDER BY t.doc_id"),

    // identical line derivation; the kept set is every line OUTSIDE
    // the >= 3-distinct-doc hot set
    "q_line_boilerplate" ->
      (lineCte +
        "hot AS (SELECT line_text FROM ln GROUP BY 1 " +
        "HAVING COUNT(DISTINCT doc_id) >= 3), " +
        "s AS (SELECT doc_id, COUNT(*) AS n_kept, " +
        "string_agg(line_text, chr(10) ORDER BY line_idx) AS clean_text " +
        "FROM ln WHERE line_text NOT IN (SELECT line_text FROM hot) " +
        "GROUP BY doc_id) " +
        lineRebuildSql),

    // every 8-token window; an occurrence is a hit iff an identical
    // window occurs earlier in (doc_id, pos) order (row_number > 1);
    // a token is cut iff any hit window covers it — the same
    // first-occurrence policy as q_chunk_dedup, at every alignment
    "q_substr_dedup" ->
      ("WITH t AS (SELECT doc_id, list_filter(" +
        "regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') " +
        "AS toks FROM documents), " +
        "w AS (SELECT doc_id, i AS pos, " +
        "array_to_string(toks[(i+1):(i+8)], ' ') AS win " +
        "FROM t, unnest(range(0, len(toks) - 7)) AS u(i) " +
        "WHERE len(toks) >= 8), " +
        "h AS (SELECT doc_id, pos, row_number() OVER " +
        "(PARTITION BY win ORDER BY doc_id, pos) AS rn FROM w), " +
        "cov AS (SELECT DISTINCT doc_id, pos + j AS idx FROM h, " +
        "unnest(range(0, 8)) AS u(j) WHERE rn > 1), " +
        "tok AS (SELECT t.doc_id, i AS idx, " +
        "toks[CAST(i + 1 AS INT)] AS tk FROM t, " +
        "unnest(range(0, len(toks))) AS u(i)), " +
        "kept AS (SELECT tok.doc_id, tok.idx, tok.tk FROM tok " +
        "LEFT JOIN cov ON tok.doc_id = cov.doc_id " +
        "AND tok.idx = cov.idx WHERE cov.idx IS NULL), " +
        "s AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY idx) " +
        "AS clean_text FROM kept GROUP BY doc_id), " +
        "c AS (SELECT doc_id, COUNT(*) AS n_removed FROM cov " +
        "GROUP BY doc_id) " +
        "SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, " +
        "CAST(COALESCE(c.n_removed, 0) AS BIGINT) AS n_removed, " +
        "COALESCE(s.clean_text, '') AS clean_text " +
        "FROM t LEFT JOIN s USING (doc_id) LEFT JOIN c USING (doc_id) " +
        "ORDER BY t.doc_id"),

    // identical chunker + rebuild; the kept set is instead every chunk
    // OUTSIDE the >= 3-distinct-doc hot set
    "q_boilerplate_strip" ->
      (chunkCte +
        "hot AS (SELECT chunk_text FROM ch GROUP BY 1 " +
        "HAVING COUNT(DISTINCT doc_id) >= 3), " +
        "s AS (SELECT doc_id, COUNT(*) AS n_kept, " +
        "string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS clean_text " +
        "FROM ch WHERE chunk_text NOT IN (SELECT chunk_text FROM hot) " +
        "GROUP BY doc_id) " +
        chunkRebuildSql)
  )

  /** The 16-token chunker both chunk-granularity curation oracles
    * share — the SQL twin of [[Dedup.chunkArray]] (1-based DuckDB list
    * slicing re-zero-based via `i*16+1`).
    */
  /** The multiline fixture behind the line-level queries: every 8
    * tokens becomes one line — a pure function of the text (the same
    * derivation the DuckDB oracles make with [[lineCte]]), planting
    * deterministic newlines in a corpus that ships none.
    */
  private def multilineDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).withColumn("text",
      concat_ws("\n", transform(Dedup.chunkArray(col("text"), 8),
        c => c("chunk_text"))))

  /** The 8-token line derivation both line-level oracles share — the
    * SQL twin of [[multilineDocs]] + [[Dedup.lineArray]] (each 8-token
    * chunk IS one non-blank line).
    */
  private def lineCte: String =
    "WITH t AS (SELECT doc_id, list_filter(" +
      "regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') " +
      "AS toks FROM documents), " +
      "ln AS (SELECT doc_id, i AS line_idx, " +
      "array_to_string(toks[(i*8+1):(i*8+8)], ' ') AS line_text " +
      "FROM t, unnest(range(0, CAST(ceil(len(toks)/8.0) AS INT))) " +
      "AS u(i) WHERE len(toks) > 0), "

  /** Shared line-level rebuild tail ([[chunkRebuildSql]] at line
    * granularity, newline-joined).
    */
  private def lineRebuildSql: String =
    "SELECT t.doc_id, CAST(CASE WHEN len(toks) = 0 THEN 0 ELSE " +
      "ceil(len(toks)/8.0) END AS BIGINT) AS n_lines, " +
      "CAST(COALESCE(s.n_kept, 0) AS BIGINT) AS n_kept, " +
      "COALESCE(s.clean_text, '') AS clean_text " +
      "FROM t LEFT JOIN s USING (doc_id) ORDER BY t.doc_id"

  private def chunkCte: String =
    "WITH t AS (SELECT doc_id, list_filter(" +
      "regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') " +
      "AS toks FROM documents), " +
      "ch AS (SELECT doc_id, i AS chunk_idx, " +
      "array_to_string(toks[(i*16+1):(i*16+16)], ' ') AS chunk_text " +
      "FROM t, unnest(range(0, CAST(ceil(len(toks)/16.0) AS INT))) " +
      "AS u(i) WHERE len(toks) > 0), "

  /** Shared rebuild tail: every document reports its chunk count and
    * whatever the query's `s` CTE kept (absent row = nothing kept).
    */
  private def chunkRebuildSql: String =
    "SELECT t.doc_id, CAST(CASE WHEN len(toks) = 0 THEN 0 ELSE " +
      "ceil(len(toks)/16.0) END AS BIGINT) AS n_chunks, " +
      "CAST(COALESCE(s.n_kept, 0) AS BIGINT) AS n_kept, " +
      "COALESCE(s.clean_text, '') AS clean_text " +
      "FROM t LEFT JOIN s USING (doc_id) ORDER BY t.doc_id"
}
