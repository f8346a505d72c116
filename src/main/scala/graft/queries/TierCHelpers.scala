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

/** Shared helpers behind the Tier C declared queries — artifact-root
  * construction for the CDC fixtures, the persisted dedup/near-dup
  * index builders, deterministic scramble keys, and the DuckDB SQL
  * fragments the oracles compose. Moved verbatim out of the single
  * TierC file in the r16 domain split; `private` became
  * `private[queries]` so the domain objects keep compiling unchanged.
  */
private[queries] object TierCHelpers {

  private[queries] val dec = DecimalType(18, 2)
  private[queries] def dsum(c: Column): Column = sum(c.cast(dec)).cast(DoubleType)

  /** Shared snapshot root for the declared CDC queries: a deterministic
    * two-batch change stream (full supplier insert load, then updates +
    * delete-wins) merged via [[graft.streaming.CdcApply]]. The root is
    * fingerprint-keyed on the input dataset (the
    * [[Tables.eventsByDate]] artifact pattern) and the change stream is
    * a pure function of the supplier table, so the snapshot is built
    * ONCE per input dataset — the replay guard (`head >= v<batchId>`)
    * turns every later invocation's re-applies into no-op manifest
    * reads.
    */
  /** Recipe/format version token folded into every CDC artifact root's
    * path — the repo-wide cache-key convention (Packing hashes its
    * preparation recipe, Dedup embeds every index parameter): a change
    * to the change-stream recipe in [[applySupplierCdc]] OR to
    * CdcApply's stored format must bump this, or the replay guard would
    * no-op the re-applies and every CDC query would silently read the
    * stale old snapshot. rev2 = the change-feed stamp column.
    */
  private[queries] val CdcRecipeRev = "rev2"

  /** Shared path construction + build for the supplier CDC roots: one
    * place to key them, so a keying change cannot silently diverge
    * across the six roots.
    */
  private[queries] def supplierCdcRoot(s: SparkSession, d: String,
      subdir: String, maxDeltas: Int = 0): String = {
    val root = new java.io.File(s"target/graft-data/$subdir/" +
      graft.sources.Artifacts.datasetKey(d, s"$d/supplier.parquet") +
      s"_$CdcRecipeRev").getAbsolutePath
    applySupplierCdc(s, d, root, maxDeltas)
    root
  }

  private[queries] def cdcQueryRoot(s: SparkSession, d: String): String =
    synchronized { supplierCdcRoot(s, d, "cdc_merge_q") }

  /** The two batches of the deterministic supplier change stream:
    * full insert load (batch 0), then updates + delete-wins (batch 1).
    * Exposed separately from [[applySupplierCdc]] so the rollup
    * artifact can INTERLEAVE them with its syncs (apply → sync →
    * apply → sync) and genuinely exercise the trickle path.
    */
  private[queries] def supplierCdcBatches(s: SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val sup = Tables.supplier(s, d)
    val b0 = sup.withColumn("version", lit(1L))
      .withColumn("deleted", lit(false))
    val updates = sup.filter(col("s_suppkey") % 5 === 0)
      .withColumn("s_acctbal", col("s_acctbal") + lit(100.0))
      .withColumn("version", lit(2L))
      .withColumn("deleted", lit(false))
    val deletes = sup.filter(col("s_suppkey") % 7 === 0)
      .withColumn("version", lit(3L))
      .withColumn("deleted", lit(true))
    (b0, updates.unionByName(deletes))
  }

  /** Apply the deterministic supplier change stream behind every
    * declared CDC query. Shared so the governed / rebucketed snapshot
    * roots are provably the SAME logical table as `cdcQueryRoot` and
    * reuse the q_cdc_merge net-state oracle.
    */
  private[queries] def applySupplierCdc(s: SparkSession, d: String,
      root: String, maxDeltas: Int = 0): Unit = {
    import graft.streaming.CdcApply
    val (b0, b1) = supplierCdcBatches(s, d)
    // logical commit timestamps (1000, 2000) rather than wall clock:
    // q_cdc_asof resolves "as of t=1500" to batch 0 deterministically,
    // so the artifact's answer is a pure function of the input dataset
    CdcApply.applyBatch(b0, 0L, root, Seq("s_suppkey"), "version",
      Some("deleted"), commitTs = Some(1000L), maxDeltas = maxDeltas)
    CdcApply.applyBatch(b1, 1L, root,
      Seq("s_suppkey"), "version", Some("deleted"),
      commitTs = Some(2000L), maxDeltas = maxDeltas)
  }

  /** Snapshot root for `q_cdc_mor`: the same two-batch change stream
    * under the MERGE-ON-READ layout (`maxDeltas = 4`), so batch 1 lands
    * as pending delta directories and the declared read genuinely pays
    * the per-key latest-wins resolution across base + deltas. Its own
    * artifact dir: the copy-on-write roots must keep proving the
    * rewrite path.
    */
  private[queries] def cdcMorRoot(s: SparkSession, d: String): String =
    synchronized { supplierCdcRoot(s, d, "cdc_mor_q", maxDeltas = 4) }

  /** Snapshot root for `q_cdc_compact`: the merge-on-read stream of
    * [[cdcMorRoot]] in its own dir, then [[CdcApply.compactBuckets]]
    * folds every pending delta back into single bases. Idempotent:
    * replayed applies no-op on the guard and a re-compaction finds no
    * pending delta and returns false.
    */
  private[queries] def cdcCompactRoot(s: SparkSession, d: String): String =
    synchronized {
      val root = supplierCdcRoot(s, d, "cdc_compact_q", maxDeltas = 4)
      graft.streaming.CdcApply.compactBuckets(s, root)
      root
    }

  /** Snapshot root for `q_cdc_restore`: the two-batch stream applied,
    * then [[graft.streaming.CdcApply.restore]] rolls the table back to
    * batch 0 as a NEW commit (head 1 → 2) — reverted updates,
    * resurrected deletes, monotone watermark. Idempotent: replayed
    * applies no-op on the guard, and a repeat restore finds the state
    * already equal to the target and commits nothing.
    */
  private[queries] def cdcRestoreRoot(s: SparkSession, d: String): String =
    synchronized {
      val root = supplierCdcRoot(s, d, "cdc_restore_q")
      graft.streaming.CdcApply.restore(s, root, 0L,
        commitTs = Some(3000L))
      root
    }

  /** Snapshot root for `q_cdc_delete`: the two-batch stream applied,
    * then [[graft.streaming.CdcApply.deleteWhere]] tombstones every
    * `s_suppkey % 3 = 0` survivor in one administrative batch.
    * Idempotent: the replayed delete finds no live matching row (all
    * tombstoned) and commits nothing.
    */
  private[queries] def cdcDeleteRoot(s: SparkSession, d: String): String =
    synchronized {
      val root = supplierCdcRoot(s, d, "cdc_delete_q")
      graft.streaming.CdcApply.deleteWhere(s, root,
        col("s_suppkey") % 3 === 0, commitTs = Some(3000L))
      root
    }

  /** Snapshot root for `q_cdc_update`: the two-batch stream applied,
    * then [[graft.streaming.CdcApply.updateWhere]] posts a correction
    * (+1000 balance for nation 3) as one administrative batch.
    * Idempotent via a no-second-run guard: a re-run's updateWhere
    * would re-match and bump again, so the root applies it only when
    * the head is still 1 (the replay-guard pattern, driver-side).
    */
  private[queries] def cdcUpdateRoot(s: SparkSession, d: String): String =
    synchronized {
      val root = supplierCdcRoot(s, d, "cdc_update_q")
      if (graft.streaming.CdcApply.currentVersion(s, root).contains(1L))
        graft.streaming.CdcApply.updateWhere(s, root,
          col("s_nationkey") === 3,
          Map("s_acctbal" -> (col("s_acctbal") + lit(1000.0))),
          commitTs = Some(3000L))
      root
    }

  /** Snapshot root for `q_cdc_governed` — its own artifact dir (NOT
    * `cdcQueryRoot`): registering a location governs it for the whole
    * session, and the ungoverned CDC queries must keep reading their
    * root under the open default.
    */
  private[queries] def cdcGovRoot(s: SparkSession, d: String): String =
    synchronized { supplierCdcRoot(s, d, "cdc_gov_q") }

  /** Snapshot root for `q_cdc_changes` — its own artifact dir rather
    * than `cdcQueryRoot`: the change-feed stamp is stored at WRITE
    * time, so the feed query must build its snapshot with the current
    * build (a cached pre-stamp root would feed back empty).
    */
  private[queries] def cdcChangesRoot(s: SparkSession, d: String): String =
    synchronized { supplierCdcRoot(s, d, "cdc_changes_q") }

  /** Mirror root for `q_cdc_mirror`: an incremental replica of
    * [[cdcChangesRoot]] built through `syncMirror` (the change feed
    * applied under the mirror's replay-guard watermark). Idempotent:
    * once the mirror watermark reaches the source's current batch,
    * re-syncs are no-ops.
    */
  private[queries] def cdcMirrorRoot(s: SparkSession, d: String): String =
    synchronized {
      val src = cdcChangesRoot(s, d)
      val root = new java.io.File("target/graft-data/cdc_mirror_q/" +
        graft.sources.Artifacts.datasetKey(d, s"$d/supplier.parquet") +
        s"_$CdcRecipeRev").getAbsolutePath
      graft.streaming.CdcApply.syncMirror(s, src, root, numBuckets = 4)
      root
    }

  /** Snapshot root for `q_cdc_schema_evo`: batch 0 delivers three
    * columns, batch 1 delivers a FOURTH (`s_bonus`, exact-integer
    * valued so the oracle is arithmetic-hazard-free) on a subset of
    * keys — additive schema evolution mid-stream. The merged snapshot
    * must surface NULL bonus on every pre-evolution row.
    */
  private[queries] def cdcSchemaEvoRoot(s: SparkSession, d: String): String =
    synchronized {
      import graft.streaming.CdcApply
      val root = new java.io.File("target/graft-data/cdc_evo_q/" +
        graft.sources.Artifacts.datasetKey(d, s"$d/supplier.parquet") +
        s"_$CdcRecipeRev").getAbsolutePath
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
      CdcApply.applyBatch(sup.withColumn("version", lit(1L)), 0L, root,
        Seq("s_suppkey"), "version", None, commitTs = Some(1000L))
      CdcApply.applyBatch(
        sup.filter(col("s_suppkey") % 3 === 0)
          .withColumn("s_bonus", col("s_suppkey") % 10)
          .withColumn("version", lit(2L)),
        1L, root, Seq("s_suppkey"), "version", None,
        commitTs = Some(2000L))
      root
    }

  /** Snapshot root for `q_rebucket`: the same two-batch change stream,
    * then a bucket-count evolution (creation-time 16 → 5). Idempotent
    * like every artifact build — the replay guard no-ops the re-applies
    * and `rebucket` no-ops once the manifest already records 5.
    */
  private[queries] def cdcRebucketRoot(s: SparkSession, d: String): String =
    synchronized {
      val root = supplierCdcRoot(s, d, "cdc_rebucket_q")
      graft.streaming.CdcApply.rebucket(s, root, 5)
      root
    }

  /** The aggregate list behind `q_cdc_rollup` — dsum so the partial-
    * then-combine total is decimal-exact (FP order never bleeds into
    * the hash), max to exercise a non-decremental aggregate that only
    * stays exact because the sync RECOMPUTES touched buckets.
    */
  private[queries] def rollupAggs = Seq(
    graft.streaming.Rollup.Agg("cnt", "count"),
    graft.streaming.Rollup.Agg("total_bal", "dsum", "s_acctbal"),
    graft.streaming.Rollup.Agg("max_bal", "max", "s_acctbal"))

  /** Rollup root for `q_cdc_rollup`: the supplier change stream applied
    * INTERLEAVED with rollup syncs (batch 0 → sync → batch 1 → sync),
    * so the artifact's second sync is a genuine trickle refresh — only
    * the buckets batch 1 rewrote are recomputed, every other partial
    * is carried forward by the rollup table's own manifest. Idempotent
    * like every CDC artifact: replay guards no-op the re-applies and
    * re-syncs on rebuild.
    */
  private[queries] def cdcRollupRoot(s: SparkSession, d: String): String =
    synchronized {
      import graft.streaming.{CdcApply, Rollup}
      val key = graft.sources.Artifacts.datasetKey(d,
        s"$d/supplier.parquet") + s"_$CdcRecipeRev"
      val src = new java.io.File(
        s"target/graft-data/cdc_rollup_src/$key").getAbsolutePath
      val roll = new java.io.File(
        s"target/graft-data/cdc_rollup_q/$key").getAbsolutePath
      val (b0, b1) = supplierCdcBatches(s, d)
      CdcApply.applyBatch(b0, 0L, src, Seq("s_suppkey"), "version",
        Some("deleted"), commitTs = Some(1000L))
      Rollup.syncRollup(s, src, roll, Seq("s_nationkey"), rollupAggs,
        numBuckets = 4, commitTs = Some(1100L))
      CdcApply.applyBatch(b1, 1L, src, Seq("s_suppkey"), "version",
        Some("deleted"), commitTs = Some(2000L))
      Rollup.syncRollup(s, src, roll, Seq("s_nationkey"), rollupAggs,
        numBuckets = 4, commitTs = Some(2100L))
      roll
    }

  /** (source, index) roots for `q_lookup_by`: the supplier change
    * stream applied INTERLEAVED with secondary-index syncs (batch 0 →
    * sync → batch 1 → sync) on `s_nationkey`, so the second sync is a
    * genuine incremental refresh — only the source buckets batch 1
    * rewrote are recomputed, every other index entry carried forward,
    * and batch 1's deletes must TOMBSTONE their index pairs (a %7
    * supplier that stayed indexed would surface in the lookup and
    * hash-mismatch). Idempotent via the replay guards, as every CDC
    * artifact.
    */
  private[queries] def cdcIndexRoots(s: SparkSession, d: String): (String, String) =
    synchronized {
      import graft.streaming.{CdcApply, SecondaryIndex}
      val key = graft.sources.Artifacts.datasetKey(d,
        s"$d/supplier.parquet") + s"_$CdcRecipeRev"
      val src = new java.io.File(
        s"target/graft-data/cdc_index_src/$key").getAbsolutePath
      val idx = new java.io.File(
        s"target/graft-data/cdc_index_q/$key").getAbsolutePath
      val (b0, b1) = supplierCdcBatches(s, d)
      CdcApply.applyBatch(b0, 0L, src, Seq("s_suppkey"), "version",
        Some("deleted"), commitTs = Some(1000L))
      SecondaryIndex.syncIndex(s, src, idx, Seq("s_nationkey"),
        numBuckets = 4, commitTs = Some(1100L))
      CdcApply.applyBatch(b1, 1L, src, Seq("s_suppkey"), "version",
        Some("deleted"), commitTs = Some(2000L))
      SecondaryIndex.syncIndex(s, src, idx, Seq("s_nationkey"),
        numBuckets = 4, commitTs = Some(2100L))
      (src, idx)
    }

  /** Roots for the quality-gate queries (`q_quality_gate`,
    * `q_quarantine`): the supplier stream routed through
    * [[graft.streaming.Quality.applyChecked]] under two expectations —
    * `acctbal_nonneg` (s_acctbal >= 0; the raw data violates it
    * naturally at sf >= 0.01) and `name_present` (non-empty s_name;
    * batch 1 deterministically corrupts the name of every
    * s_suppkey % 4 == 0 update to NULL, so the gate provably fires at
    * EVERY scale factor and the NULL-fails-closed rule is in the
    * declared artifact, not just the spec). Batch 1 updates every
    * s_suppkey % 2 == 0 supplier (s_acctbal - 500, pushing some
    * balances negative) and deletes every % 7 == 0 key — deletes
    * bypass the gate by contract. The main snapshot therefore serves
    * "the latest ADMITTED version per key" and the quarantine table
    * "the latest REJECTED version per key with its reasons" — both
    * closed-form over the supplier table, so both are hash-checked.
    * Idempotent via both tables' replay guards.
    */
  private[queries] def cdcGateRoots(s: SparkSession, d: String): (String, String) =
    synchronized {
      import graft.streaming.Quality
      val key = graft.sources.Artifacts.datasetKey(d,
        s"$d/supplier.parquet") + s"_$CdcRecipeRev"
      val main = new java.io.File(
        s"target/graft-data/cdc_gate_q/$key").getAbsolutePath
      val quar = new java.io.File(
        s"target/graft-data/cdc_gate_quar/$key").getAbsolutePath
      val exps = Seq(
        Quality.Expectation("acctbal_nonneg", col("s_acctbal") >= 0),
        Quality.Expectation("name_present",
          col("s_name").isNotNull && length(col("s_name")) > 0))
      val sup = Tables.supplier(s, d)
      val b0 = sup.withColumn("version", lit(1L))
        .withColumn("deleted", lit(false))
      val updates = sup.filter(col("s_suppkey") % 2 === 0)
        .withColumn("s_acctbal", col("s_acctbal") - lit(500.0))
        .withColumn("s_name",
          when(col("s_suppkey") % 4 === 0, lit(null).cast("string"))
            .otherwise(col("s_name")))
        .withColumn("version", lit(2L))
        .withColumn("deleted", lit(false))
      val deletes = sup.filter(col("s_suppkey") % 7 === 0)
        .withColumn("version", lit(3L))
        .withColumn("deleted", lit(true))
      def gate(b: org.apache.spark.sql.DataFrame, id: Long, ts: Long) =
        Quality.applyChecked(b, id, main, quar, Seq("s_suppkey"),
          "version", Some("deleted"), exps, numBuckets = 4,
          commitTs = Some(ts))
      gate(b0, 0L, 1000L)
      gate(updates.unionByName(deletes), 1L, 2000L)
      (main, quar)
    }

  /** Chain root for `q_cdc_chain`: a mirror OF THE MIRROR — the
    * replication-chain claim made concrete. The chain syncs from
    * [[cdcMirrorRoot]]'s own change feed (the mirror is a full CDC
    * table), so the second hop exercises stamps written by a sync, not
    * by an original apply.
    */
  private[queries] def cdcChainRoot(s: SparkSession, d: String): String =
    synchronized {
      val mir = cdcMirrorRoot(s, d)
      val root = new java.io.File("target/graft-data/cdc_chain_q/" +
        graft.sources.Artifacts.datasetKey(d, s"$d/supplier.parquet") +
        s"_$CdcRecipeRev").getAbsolutePath
      graft.streaming.CdcApply.syncMirror(s, mir, root, numBuckets = 4)
      root
    }

  /** Knuth multiplicative scramble (id mod 2^32) * 2654435761 mod 2^32,
    * overflow-free for ANY long id: the multiplier is split into
    * 40503 * 2^16 + 31153 so every intermediate product stays under
    * 2^48. Public for the overflow unit test (OperatorsSpec).
    */
  private[queries] def trainShuffleKey(id: Column): Column = {
    val m = lit(4294967296L) // 2^32
    val a = pmod(id, m)
    val hi = pmod(a * lit(40503L), lit(65536L)) * lit(65536L)
    pmod(hi + a * lit(31153L), m)
  }

  /** DuckDB SQL twin of [[trainShuffleKey]], built ONCE so the five
    * oracle queries that scramble cannot drift from the Spark form (or
    * from each other) when the formula changes.
    */
  private[queries] def scrambleSql(e: String): String =
    s"((($e % 4294967296) * 40503 % 65536) * 65536 + " +
      s"($e % 4294967296) * 31153) % 4294967296"

  /** Per-dataset persisted MinHash signature index (k=32); the path
    * embeds the source fingerprint so regenerated data rebuilds it.
    */
  private[queries] def minhashSigs(s: SparkSession, d: String) =
    Dedup.persistedSignatures(Tables.documents(s, d), "doc_id", "text",
      k = 32, "target/graft-data/minhash_sigs/" +
        graft.sources.Artifacts.datasetKey(d, s"$d/documents.parquet"))

  /** Per-dataset persisted VERIFIED near-dup pair index (exact Jaccard
    * >= 0.5 over the MinHash candidates): one-time build shared by the
    * verification query and cluster resolution. `assertUncapped` makes
    * the build fail loudly if any LSH band bucket exceeds the cap — the
    * second precondition (besides banding recall) for comparing this
    * pair set to the exhaustive all-pairs oracle below.
    */
  private[queries] def verifiedPairs(s: SparkSession, d: String) =
    Dedup.persistedVerifiedPairs(Tables.documents(s, d), "doc_id", "text",
      minhashSigs(s, d), k = 32, bands = 8, threshold = 0.5,
      "target/graft-data/verified_pairs/" +
        graft.sources.Artifacts.datasetKey(d, s"$d/documents.parquet"),
      assertUncapped = true)

  /** Persisted near-dup cluster membership (keepers over the
    * transitive closure of the verified pairs) — the one-time
    * resolution build shared by the cluster listing and the
    * leakage-safe split.
    */
  private[queries] def membership(s: SparkSession, d: String) =
    Dedup.persistedMembership(Tables.documents(s, d), "doc_id",
      verifiedPairs(s, d).select("id_a", "id_b"),
      "target/graft-data/dedup_clusters/" +
        graft.sources.Artifacts.datasetKey(d, s"$d/documents.parquet"))

  /** The two document batches behind `q_dedup_incremental`, both pure
    * functions of the `documents` table so DuckDB reconstructs them
    * exactly: batch 0 is the corpus as-is; batch 1 re-ingests every
    * doc_id % 5 == 0 document VERBATIM under a new id (must be dropped
    * by the index) and ships an EDITED copy (` v2` suffix) of every
    * doc_id % 5 == 1 document (genuinely new content — must survive).
    */
  private[queries] def incrDedupBatches(s: SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val reingested = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val edited = docs.filter(col("doc_id") % 5 === 1)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" v2")).as("text"))
    (docs, reingested.unionByName(edited))
  }

  /** Batch 1 behind `q_neardup_incremental` — a pure function of the
    * `documents` table (DuckDB reconstructs it): verbatim re-ingests
    * (% 5 == 0, J = 1 to their source → drop), edited copies
    * (% 5 == 1, ` v2` suffix, J ≈ 0.95+ → drop: the case exact dedup
    * misses), and synthetic fresh docs (% 5 == 2, no shingle overlap
    * with any corpus doc → survive).
    */
  private[queries] def nearDupBatch1(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val reingested = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val edited = docs.filter(col("doc_id") % 5 === 1)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" v2")).as("text"))
    val fresh = docs.filter(col("doc_id") % 5 === 2)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("fresh synthetic doc "), col("doc_id").cast("string"),
          lit(" alpha beta gamma delta epsilon zeta")).as("text"))
    reingested.unionByName(edited).unionByName(fresh)
  }

  private[queries] val quantSql =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"

  /** SQL twin of TextFunctions.qualityScore (non-empty text). */
  private[queries] val qualitySql: String =
    "(0.6 * (CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) " +
      "AS DOUBLE) / CAST(LENGTH(text) AS DOUBLE)) + 0.4 * (1.0 - " +
      "CAST(LENGTH(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) " +
      "AS DOUBLE) / CAST(LENGTH(text) AS DOUBLE)))"

  /** Gaps-and-islands sessionization, the SQL twin of session_window with
    * a 30-minute gap: a session breaks only when the inter-event gap
    * STRICTLY exceeds 30 minutes (session_window merges adjacent [t,t+g]
    * intervals, so an exactly-gap-length pause stays in-session).
    */
  private[queries] val sessionOracle: String =
    "WITH x AS (SELECT user_id, ts, value, CASE WHEN " +
      "LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL OR " +
      "ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) > " +
      "INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess FROM events), " +
      "y AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id " +
      "ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM x) " +
      "SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events, " +
      "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value " +
      "FROM y GROUP BY user_id, sid ORDER BY user_id, session_start"

  /** DuckDB twin of `array_distinct(TextFunctions.shingles(text, 3))`:
    * whitespace tokens → 3-gram shingles (whole text when under 3 tokens),
    * deduplicated. Used by the exhaustive all-pairs Jaccard oracles.
    */
  /** Shingle CTE over an arbitrary (doc_id, text) relation — the SQL
    * twin of `array_distinct(shingles(text, 3))`, parameterized so the
    * incremental oracle can shingle a CONSTRUCTED batch exactly like
    * the corpus.
    */
  private[queries] def shingleCteFor(name: String, rel: String): String =
    s"$name AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 " +
      "THEN [array_to_string(toks, ' ')] " +
      "ELSE list_transform(range(1, len(toks)-1), " +
      "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS s " +
      "FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), " +
      s"'\\s+'), t -> t <> '') AS toks FROM $rel))"

  private[queries] val shingleCte: String = shingleCteFor("sh", "documents")

  private[queries] val jaccardExpr: String =
    "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / " +
      "len(list_distinct(a.s || b.s))"

  /** Thresholded exact-Jaccard duplicate pairs, computed EXHAUSTIVELY
    * (all doc pairs) — the ground truth the LSH-pruned Spark pipeline
    * must reproduce.
    */
  private[queries] val dupPairsSql: String =
    "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " + jaccardExpr +
      " AS jaccard FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
      "WHERE " + jaccardExpr + " >= 0.5"

  /** DuckDB twin of TextFunctions.langId: per-profile stopword-overlap
    * scores as (score, lang) structs, argmax via list_max's lexicographic
    * struct ordering — generated from the SAME langProfiles the Spark
    * side uses, so the two can never drift.
    */
  private[queries] val langIdStructs: String =
    T.langProfiles.map { case (lang, words) =>
      "{'score': len(list_intersect(toks, [" +
        words.map(w => s"'$w'").mkString(",") + s"])), 'lang': '$lang'}"
    }.mkString(", ")

  /** DuckDB twin of the IVF path (Ann.centroids + ivfTopK): quantized-
    * mean centroids per label, probe = top-nprobe labels by quantized
    * cosine to the query vector, then exact quantized-cosine top-k within
    * the probed lists. Every accumulation is exact-integer, so the result
    * is bit-identical to the Spark pipeline.
    */
  private[queries] def cosSql(dot: String, na: String, nb: String): String =
    s"CASE WHEN $na = 0 OR $nb = 0 THEN NULL ELSE CAST($dot AS DOUBLE) / " +
      s"(sqrt(CAST($na AS DOUBLE)) * sqrt(CAST($nb AS DOUBLE))) END"

  private[queries] def quantOf(v: String): String =
    s"list_transform($v, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) " +
      "AS BIGINT))"

  /** The IVF oracle parameterized over the SEARCHED relation: the
    * centroid/probe CTEs always run over the BASE `embeddings` table
    * (the coarse quantizer is fixed — retrained offline, the standard
    * IVF posture the incremental index mirrors), while `searchRel`
    * is the corpus actually scanned within the probed lists —
    * `embeddings` for `q_ann_ivf`, the ingested union for
    * `q_ann_incremental`.
    */
  private[queries] def ivfOracleOver(searchRel: String): String =
    "WITH ce AS (SELECT label, u.i AS dim, " +
      "CAST(CAST(SUM(CAST(round(CAST(u.x AS DOUBLE) * 1000000) AS BIGINT))" +
      " AS DOUBLE) / (1000000.0 * COUNT(*)) AS REAL) AS cx " +
      "FROM (SELECT label, unnest(list_transform(embedding, " +
      "(x,i) -> {'x': x, 'i': i})) AS u FROM embeddings) " +
      "GROUP BY label, u.i), " +
      "cent AS (SELECT label, list(cx ORDER BY dim) AS centroid " +
      "FROM ce GROUP BY label), " +
      "q AS (SELECT " + quantOf("embedding") + " AS qv FROM embeddings " +
      "WHERE vec_id = 0), " +
      "cq AS (SELECT label, " +
      "list_sum(list_transform(list_zip(" + quantOf("centroid") +
      ", qv), p -> p[1] * p[2])) AS dot, " +
      "list_sum(list_transform(" + quantOf("centroid") +
      ", x -> x*x)) AS na, " +
      "list_sum(list_transform(qv, x -> x*x)) AS nb FROM cent, q), " +
      "probe AS (SELECT label FROM (SELECT label, " +
      cosSql("dot", "na", "nb") + " AS sim FROM cq) " +
      "ORDER BY sim DESC, label LIMIT 3), " +
      "e AS (SELECT vec_id, " + quantOf("embedding") + " AS ev " +
      s"FROM $searchRel WHERE vec_id <> 0 " +
      "AND label IN (SELECT label FROM probe)), " +
      "s AS (SELECT vec_id, " +
      "list_sum(list_transform(list_zip(ev, qv), p -> p[1] * p[2])) " +
      "AS dot, list_sum(list_transform(ev, x -> x*x)) AS na, " +
      "list_sum(list_transform(qv, x -> x*x)) AS nb FROM e, q) " +
      "SELECT vec_id, " + cosSql("dot", "na", "nb") + " AS sim FROM s " +
      "ORDER BY sim DESC, vec_id LIMIT 10"

  private[queries] val ivfOracle: String = ivfOracleOver("embeddings")

  /** SQL-reconstructible second embedding batch for the incremental
    * index oracle: every vec_id % 7 == 0 vector re-ingested at a
    * shifted id (same list label, same components — the duplicate
    * ranks identically and the id tiebreak orders original first).
    */
  private[queries] val annIncrUnionRel: String =
    "(SELECT vec_id, label, embedding FROM embeddings " +
      "UNION ALL SELECT vec_id + 1000000 AS vec_id, label, embedding " +
      "FROM embeddings WHERE vec_id % 7 = 0 AND vec_id <> 0)"

  /** BM25 CTE chain + final select, factored so the hybrid-search
    * oracle composes the SAME text the q_bm25_topk oracle runs (one
    * definition — the two can never drift). Mirrors Bm25.search's
    * expression tree op for op (same parenthesization → identical
    * correctly-rounded doubles).
    */
  private[queries] val bm25Ctes: String =
    "lens AS (SELECT doc_id, CAST(len(list_filter(" +
      "regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) " +
      "AS BIGINT) AS len FROM documents), " +
      "stats AS (SELECT COUNT(*) AS n_docs, SUM(len) AS sum_len " +
      "FROM lens), " +
      "tok AS (SELECT doc_id, unnest(list_filter(" +
      "regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) " +
      "AS term FROM documents), " +
      "tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf " +
      "FROM tok WHERE term IN ('vector', 'join', 'dup') " +
      "GROUP BY doc_id, term), " +
      "dft AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df " +
      "FROM tf GROUP BY term), " +
      "sc AS (SELECT t.doc_id, t.term, " +
      "((CAST(st.n_docs AS DOUBLE) - d.df + 0.5) / (d.df + 0.5)) * " +
      "(t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * " +
      "(CAST(l.len AS DOUBLE) / (CAST(st.sum_len AS DOUBLE) / " +
      "CAST(st.n_docs AS DOUBLE))))) AS s " +
      "FROM tf t JOIN dft d USING (term) JOIN lens l USING (doc_id) " +
      "CROSS JOIN stats st), " +
      "piv AS (SELECT doc_id, " +
      "max(CASE WHEN term = 'vector' THEN s END) AS s0, " +
      "max(CASE WHEN term = 'join' THEN s END) AS s1, " +
      "max(CASE WHEN term = 'dup' THEN s END) AS s2 " +
      "FROM sc GROUP BY doc_id)"

  private[queries] val bm25Select: String =
    "SELECT doc_id, ((COALESCE(s0, 0.0) + COALESCE(s1, 0.0)) + " +
      "COALESCE(s2, 0.0)) AS score " +
      "FROM piv ORDER BY score DESC, doc_id LIMIT 15"

  /** Exact-cosine top-k CTEs + final select, factored for the same
    * reason (shared by q_embed_topk and the hybrid oracle).
    */
  private[queries] val embedCtes: String = embedCtesWhere("")

  /** The embed CTEs with an extra predicate on the SEARCHED side (the
    * filtered-vector-search oracle); the query vector still comes from
    * the full table.
    */
  private[queries] def embedCtesWhere(extra: String): String =
    "q AS (SELECT " + quantSql + " AS qv FROM embeddings " +
      "WHERE vec_id = 0), " +
      "e AS (SELECT vec_id, " + quantSql + " AS ev FROM embeddings " +
      "WHERE vec_id <> 0" + extra + "), " +
      "s AS (SELECT vec_id, " +
      "CAST(list_sum(list_transform(list_zip(ev, qv), " +
      "p -> p[1] * p[2])) AS BIGINT) AS dotq, " +
      "CAST(list_sum(list_transform(ev, x -> x * x)) AS BIGINT) AS na, " +
      "CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nb " +
      "FROM e, q)"

  private[queries] val embedSelect: String =
    "SELECT vec_id, CAST(dotq AS DOUBLE) / " +
      "(sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS sim " +
      "FROM s ORDER BY sim DESC, vec_id LIMIT 10"

  /** DuckDB twin of the per-group distinct shingle SET — `(g, sh)`
    * rows over an arbitrary grouping column, for the overlap and
    * commonness oracles.
    */
  private[queries] def groupShingleCte(groupCol: String): String =
    s"gsh AS (SELECT DISTINCT $groupCol AS g, unnest(s) AS sh FROM " +
      "(SELECT " + groupCol + ", CASE WHEN len(toks) < 3 " +
      "THEN [array_to_string(toks, ' ')] " +
      "ELSE list_transform(range(1, len(toks)-1), " +
      "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS s " +
      "FROM (SELECT " + groupCol + ", " +
      "list_filter(regexp_split_to_array(trim(text), '\\s+'), " +
      "t -> t <> '') AS toks FROM documents)))"

}
