package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Cut
import graft.streaming.CdcApply

/** INCREMENTAL fuzzy entity resolution — the continuously-fed form of
  * the `q_entity_clusters` composition ([[EditSimilarity]] edges →
  * [[graft.dedup.Dedup.clusters]]), built from the engine's own table
  * format like the other incremental indexes (BM25 postings, IVF
  * buckets, the dedup signature index): each arriving batch of
  * (id, string) records is matched against everything ingested before
  * it WITHOUT rescanning or re-clustering the corpus, and every record
  * maps to a canonical entity id that is provably identical to what
  * the batch-mode connected components over the full union would
  * assign (spec- AND oracle-checked).
  *
  * Index layout — ONE CDC table at `root`: prefix-gram postings WITH
  * PAYLOAD, key `(gram, id)`, BUCKETED BY GRAM, rows
  * `(gram, id, len, s, entity_id, version)`. A record appears once per
  * prefix gram (q·d+1 rows — the Ed-Join prefix, Xiao et al. 2008), so
  * a batch's probe reads ONLY its own prefix grams' bucket families
  * ([[CdcApply.scanByBucketValues]]) and the probed rows already carry
  * the string and entity id — candidate generation AND verification
  * never touch unprobed buckets.
  *
  * The gram total order is FROZEN at index creation (persisted
  * frequency artifact from the seed batch; unseen grams rank rarest) —
  * the same fixed-coarse-quantizer stance as the incremental IVF
  * index. Losslessness does NOT depend on the frozen frequencies
  * staying representative: the prefix theorem holds for ANY single
  * consistent total order (frequency only tunes candidate count), so
  * every true pair is found under the frozen order too; a drifted
  * corpus costs probe fan-out, never recall.
  *
  * Short strings (len < q·(d+1) — too few grams to prefix-filter; two
  * strings within d can share NO gram at all) are indexed under their
  * own sentinel gram and verified via the length-window branch exactly
  * like [[EditSimilarity.selfJoin]]: batch shorts brute-verify against
  * the index's (by-construction tiny) short population, read with a
  * pushed `len` filter.
  *
  * Entity semantics per batch — the running union-find, deterministic:
  * component = batch-internal edges ∪ batch→index matches; final
  * entity = MINIMUM id over the component's batch ids and matched
  * prior entity ids. A batch record bridging two existing entities
  * MERGES them: the absorbed entities' rows rewrite to the survivor
  * through the ordinary predicate-update path (version+1 supersede).
  * Merges run BEFORE the batch append: a crash between them re-derives
  * the same assignments against the already-merged index (min ids are
  * merge-invariant), and a replayed batch no-ops through the CDC
  * replay guard — ingest is idempotent. Because min-label union-find
  * over a growing graph equals connected components over the final
  * graph, the incremental assignment is bit-identical to the batch
  * resolution — which is what lets `q_entity_incremental` share the
  * exhaustive recursive-closure DuckDB oracle.
  *
  * Contract: record ids are unique across all batches (an id is a
  * record's identity — re-delivering a whole batch is the supported
  * replay; re-using an id for a different string is not).
  */
object EntityResolution {

  private def freqPath(root: String) = s"$root/gramfreq"
  private def tablePath(root: String) = s"$root/postings"

  /** Probe-list collect cap: past this many distinct prefix grams the
    * bucket-pruned point probe degrades to a full bucket scan (see the
    * fallback in [[resolveBatch]]) — a batch that large touches most
    * bucket families anyway, and the driver never holds an unbounded
    * gram list.
    */
  val MaxProbeGrams: Long = 100000L

  /** q-grams of `s` (len >= q), or the sentinel whole-string "gram"
    * for shorter strings — every record gets at least one posting row.
    */
  private def gramsOf(s: Column, len: Column, q: Int): Column =
    when(len >= q,
      array_distinct(transform(sequence(lit(1), len - (q - 1)),
        i => substring_col(s, i, q))))
      .otherwise(array(s))

  private def substring_col(s: Column, pos: Column, len: Int): Column =
    s.substr(pos, lit(len))

  /** The frozen-order prefix postings of a batch: (gram, id, len, s),
    * one row per prefix gram — the q·d+1 rarest grams under the
    * persisted global order (unseen grams rank rarest; ties by gram).
    * Shorts keep ALL their grams (they have fewer than q·d+1).
    */
  private def prefixRows(batch: DataFrame, freq: DataFrame, d: Int,
      q: Int): DataFrame = {
    val exploded = batch
      .select(col("id"), col("len"), col("s"),
        explode(gramsOf(col("s"), col("len"), q)).as("gram"))
    exploded
      .join(broadcast(freq), Seq("gram"), "left")
      .groupBy(col("id"), col("len"), col("s"))
      .agg(slice(
        array_sort(collect_list(struct(
          coalesce(col("f"), lit(0L)).as("f"), col("gram")))),
        1, q * d + 1).as("pfx"))
      .select(col("id"), col("len"), col("s"),
        explode(col("pfx")).as("e"))
      .select(col("e.gram").as("gram"), col("id"), col("len"), col("s"))
  }

  /** Resolve one batch against the index and ingest it. Returns the
    * batch's assignments (id, entity_id) — reading them back later is
    * [[entities]]. `batchId` drives the CDC replay guard: a replayed
    * (id, batch) pair no-ops.
    */
  def resolveBatch(spark: SparkSession, root: String, rawBatch: DataFrame,
      idCol: String, strCol: String, d: Int, q: Int,
      batchId: Long): DataFrame = {
    require(d >= 1 && q >= 1, "d and q must be >= 1")
    val minLong = q * (d + 1)
    val batch = rawBatch
      .select(col(idCol).cast(LongType).as("id"), col(strCol).as("s"))
      .withColumn("len", length(col("s")))
      .filter(col("len") > 0)

    // frozen gram order: persisted once, from the SEED batch
    graft.sources.Artifacts.commitOnce(spark, freqPath(root))(tmp =>
      batch.select(explode(gramsOf(col("s"), col("len"), q)).as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("f"))
        .write.mode("overwrite").parquet(tmp))
    val freq = spark.read.parquet(freqPath(root))

    val pfx = Cut(prefixRows(batch, freq, d, q))

    // ---- candidate matches against the index ----
    val snapshotOpt = CdcApply.readSnapshot(spark, tablePath(root))
    val matches: DataFrame = snapshotOpt match {
      case None =>
        import spark.implicits._
        Seq.empty[(Long, Long)].toDF("id_b", "ent")
      case Some(snapshot) =>
        // probe list: the batch's distinct prefix grams — the
        // documented driver hop, bounded by (q·d+1)·|batch| short
        // strings (grams, never payloads). Past MaxProbeGrams the
        // collect stops paying for itself (the probe would touch most
        // bucket families anyway, and a huge batch's gram list strains
        // the driver), so the probe degrades to the full bucket scan —
        // the equi-join on gram below keeps correctness either way;
        // pruning is an optimization, never a semantic.
        // ONE job sizes and materializes the probe set together: the
        // limit caps driver memory at MaxProbeGrams+1 rows, and the
        // sentinel extra row is the went-over signal
        val probeRows = pfx.select(col("gram")).distinct()
          .limit((MaxProbeGrams + 1).toInt).collect()
        if (probeRows.isEmpty) {
          import spark.implicits._
          Seq.empty[(Long, Long)].toDF("id_b", "ent")
        } else {
        val probedRaw =
          if (probeRows.length <= MaxProbeGrams) {
            val probeGrams =
              probeRows.map(r => Seq[Any](r.getString(0))).toSeq
            CdcApply.scanByBucketValues(spark, tablePath(root),
              probeGrams).get
          } else snapshot
        val probed = probedRaw
          .select(col("gram"), col("id").as("iid"),
            col("len").as("ilen"), col("s").as("is"),
            col("entity_id").as("ent"))
        // no pre-verify distinct (r22, the EditSimilarity shape): the
        // final (id_b, ent) distinct below dedups the survivors, so
        // deduplicating candidates here only shuffled their strings
        val longCand = pfx.filter(col("len") >= minLong)
          .join(probed.filter(col("ilen") >= minLong), Seq("gram"))
          .filter(abs(col("len") - col("ilen")) <= d)
          .select(col("id").as("id_b"), col("s").as("sb"),
            col("iid"), col("is"), col("ent"))
        // shorts branch: length-window brute verify against the tiny
        // short population (pushed len filter; grams play no role —
        // two shorts within d can share none). The window becomes an
        // EQUI-join by exploding the batch side into its 2d+1
        // admissible partner lengths (the selfJoin candShort shape —
        // a hash join, never a nested loop).
        val idxNearShort = snapshot.filter(col("len") < minLong + d)
          .select(col("id").as("iid"), col("len").as("ilen"),
            col("s").as("is"), col("entity_id").as("ent"))
          .distinct()
        val shortCand = batch.filter(col("len") < minLong)
          .select(col("id"), col("s"),
            explode(sequence(col("len") - d, col("len") + d)).as("lk"))
          .join(idxNearShort, col("lk") === col("ilen"))
          .select(col("id").as("id_b"), col("s").as("sb"),
            col("iid"), col("is"), col("ent"))
        longCand.unionByName(shortCand)
          .filter(col("id_b") =!= col("iid"))
          .filter(levenshtein(col("sb"), col("is")) <= d)
          .select(col("id_b"), col("ent"))
          .distinct()
        }
    }

    // ---- components over batch ids + matched prior entities ----
    val innerEdges = EditSimilarity.selfJoin(batch, "id", "s", d, q)
      .select(col("id_a"), col("id_b"))
    val matchEdges = matches
      .select(col("id_b").as("id_a"), col("ent").as("id_b"))
    val allEdges = innerEdges.unionByName(matchEdges)
    val comp = graft.dedup.Dedup.clusters(allEdges)
    val assigned = Cut(batch
      .join(comp, Seq("id"), "left")
      .select(col("id"), col("len"), col("s"),
        coalesce(col("cluster_id"), col("id")).as("entity_id")))

    // ---- entity merges FIRST (idempotent; min ids merge-invariant):
    // a prior entity whose id is not its component's minimum rewrites
    // to the survivor. The merge map stays a DATAFRAME end-to-end: the
    // victims join it broadcast (a batch with 10⁴ merges is one tiny
    // hash join, where a collected when-chain would build a 10⁴-deep
    // expression tree and blow up the analyzer), and the rewritten
    // rows re-upsert through the ordinary apply path at the batch's
    // reserved EVEN slot (2·batchId) — deterministic across retries
    // where updateWhere's head+1 auto-slot was only accidentally so.
    // On re-delivery the merge map recomputes empty against the
    // already-merged index, so the slot goes unused and the replay is
    // a no-op either way. ----
    val mergeMap = Cut(matches.join(comp.withColumnRenamed("id", "id_b"),
        Seq("id_b"))
      .select(col("ent").as("ent_from"), col("cluster_id").as("ent_to"))
      .filter(col("ent_from") =!= col("ent_to"))
      .distinct())
    if (!mergeMap.isEmpty) {
      val snap = CdcApply.readSnapshot(spark, tablePath(root)).get
      val diff = snap
        .join(broadcast(mergeMap), col("entity_id") === col("ent_from"))
        .select(col("gram"), col("id"), col("len"), col("s"),
          col("ent_to").as("entity_id"),
          (col("version") + lit(1L)).as("version"))
      CdcApply.applyBatch(diff, 2 * batchId, tablePath(root),
        Seq("gram", "id"), "version", None, numBuckets = 16,
        bucketCols = Some(Seq("gram")), maxDeltas = 4,
        commitTs = Some(batchId))
    }

    // ---- append the batch's postings (replay-guarded). Appends own
    // the ODD table-batch slots (2·batchId + 1): a merge applyBatch
    // commits at the RESERVED even slot 2·batchId (see the merge
    // block above), so a batch whose resolution required a merge
    // never collides with its own append's id (a collision would
    // make the replay guard swallow the batch's rows). On
    // re-delivery the merge set recomputes empty against the
    // already-merged index, and the append no-ops at its reserved
    // slot — idempotent either way. ----
    val rows = prefixRows(assigned.drop("entity_id"), freq, d, q)
      .join(assigned.select(col("id"), col("entity_id")), Seq("id"))
      .select(col("gram"), col("id"), col("len"), col("s"),
        col("entity_id"), lit(1L).as("version"))
    CdcApply.applyBatch(rows, 2 * batchId + 1, tablePath(root),
      Seq("gram", "id"), "version", None, numBuckets = 16,
      bucketCols = Some(Seq("gram")), maxDeltas = 4,
      commitTs = Some(2 * batchId + 1))
    assigned.select(col("id"), col("entity_id"))
  }

  /** Every ingested record's current assignment: (id, entity_id, s) —
    * the posting rows collapse to one row per record (all of a
    * record's gram rows agree on the entity by construction).
    */
  def entities(spark: SparkSession, root: String): Option[DataFrame] =
    CdcApply.readSnapshot(spark, tablePath(root)).map(_
      .groupBy(col("id"))
      .agg(min(col("entity_id")).as("entity_id"), min(col("s")).as("s")))
}
