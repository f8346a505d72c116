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

/** Tier C — the CDC table format's declared queries (merge/MOR/
  * compaction, predicate DML, restore, time travel, tags, changes
  * feed, mirrors, schema evolution, rollups, secondary indexes,
  * quality gates, Delta export, and the SQL procedure surface). Split from the
  * single TierC file (r16, maintainability); assembled with its
  * siblings at the [[TierC]] edge — keys, bodies and oracles are
  * verbatim, so the declared-query surface is unchanged.
  */
private[queries] object TierCCdc {

  val queries: Map[String, TierC.Q] = Map(

    // C8 — the partition-scoped CDC apply end-to-end as a DECLARED
    // query: a deterministic two-batch change stream (full insert load,
    // then updates + deletes with delete-wins versioning) merged into a
    // bucketed snapshot via CdcApply, final state read back through the
    // manifest and aggregated. The oracle computes the same net state
    // directly — updates applied where not superseded by a delete,
    // deleted keys absent — so every layer (bucketing, anti-join,
    // latest-wins window, tombstones, manifest head) is hash-checked,
    // not just spec-tested.
    "q_cdc_merge" -> ((s, d) =>
      graft.streaming.CdcApply.readSnapshot(s, cdcQueryRoot(s, d)).get
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("cnt"), dsum(col("s_acctbal")).as("total_bal"))
        .orderBy(col("s_nationkey"))),

    // C8d — predicate DELETE: every `% 3 = 0` survivor tombstoned in
    // one administrative batch through the ordinary apply path. The
    // oracle is the net state minus the erased keys, with the head
    // witness proving the delete committed as batch 2 — an un-deleted
    // row, a collaterally-deleted row, or a mutated survivor all
    // hash-mismatch.
    "q_cdc_delete" -> ((s, d) => {
      val root = cdcDeleteRoot(s, d)
      val wm = graft.streaming.CdcApply.currentVersion(s, root).get
      graft.streaming.CdcApply.readSnapshot(s, root).get
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"),
          lit(wm).as("head_batch"))
        .orderBy(col("s_suppkey"))
    }),

    // C8u — predicate UPDATE: a +1000 correction for one nation posted
    // through updateWhere. Oracle = net state with the correction
    // composed over the batch-1 update — order matters (%5 rows in
    // nation 3 get +100 then +1000) and both engines compose it the
    // same way; head witness proves one administrative batch.
    "q_cdc_update" -> ((s, d) => {
      val root = cdcUpdateRoot(s, d)
      val wm = graft.streaming.CdcApply.currentVersion(s, root).get
      graft.streaming.CdcApply.readSnapshot(s, root).get
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"),
          lit(wm).as("head_batch"))
        .orderBy(col("s_suppkey"))
    }),

    // C8r — RESTORE: the same stream rolled back to batch 0 as a NEW
    // commit. The oracle is the pristine batch-0 load (every update
    // reverted, every delete resurrected, versions verbatim), plus the
    // witnessed head: `head_batch = 2` proves the rollback ADVANCED the
    // watermark — a restore that rewound instead would read 1 and
    // hash-mismatch.
    "q_cdc_restore" -> ((s, d) => {
      val root = cdcRestoreRoot(s, d)
      val wm = graft.streaming.CdcApply.currentVersion(s, root).get
      graft.streaming.CdcApply.readSnapshot(s, root).get
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"),
          col("version"), lit(wm).as("head_batch"))
        .orderBy(col("s_suppkey"))
    }),

    // C8s — the SAME net state through the THIRD entry point:
    // `spark.read.format("cdc")` (the DataFrameReader protocol shim,
    // graft.sources.CdcDataSource) — filters/pruning delegate into the
    // engine's snapshot plan; hash-checked against the identical
    // net-state oracle as q_cdc_merge, so the shim's row boundary is
    // proven lossless, not just spec-tested.
    "q_cdc_source" -> ((s, d) =>
      s.read.format("cdc").option("path", cdcQueryRoot(s, d)).load()
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("cnt"), dsum(col("s_acctbal")).as("total_bal"))
        .orderBy(col("s_nationkey"))),

    // C8b — TIME TRAVEL through the same snapshot: the state as of batch
    // 0 (the full insert load, before any update or delete applied) read
    // back via that batch's immutable manifest. The oracle is the plain
    // supplier aggregate — proof the later batches' rewrites did not
    // disturb the retained batch-0 manifest or the data dirs it
    // references.
    "q_cdc_timetravel" -> ((s, d) =>
      graft.streaming.CdcApply.readSnapshotAt(s, cdcQueryRoot(s, d), 0L).get
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("cnt"), dsum(col("s_acctbal")).as("total_bal"))
        .orderBy(col("s_nationkey"))),

    // C8c — TIMESTAMP time travel: "the table as of t=1500" resolves
    // through the manifests' commit timestamps (batch 0 committed at
    // t=1000, batch 1 at t=2000) to the batch-0 snapshot. Same oracle
    // shape as q_cdc_timetravel but exercising the timestamp→batch
    // resolution layer, with a distinguishing aggregate (max version
    // must be 1 everywhere — proof no batch-1 row leaked backward in
    // time).
    "q_cdc_asof" -> ((s, d) =>
      graft.streaming.CdcApply
        .readSnapshotAsOf(s, cdcQueryRoot(s, d), 1500L).get
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("cnt"), dsum(col("s_acctbal")).as("total_bal"),
          max(col("version")).as("max_version"))
        .orderBy(col("s_nationkey"))),

    // C8d — the flagship COMPOSITION under the hash gate: row/column
    // security over a continuously-merged CDC snapshot (reference
    // semantics: the data-cells filter IS the product,
    // main.tf:432-457). The snapshot root is registered as a governed
    // location and the Analyst gets a cells filter (row predicate
    // s_nationkey < 13, column allowlist INCLUDING the deleted column —
    // tombstone filtering runs above the injected projection, the
    // subtlety this query pins forever). The Analyst aggregate sees
    // only filtered rows, and `n_cols` witnesses the projection: the
    // 4-column allowlist minus the stripped deleted column = 3 visible
    // columns — an ungoverned read would surface all 8 and
    // hash-mismatch. Behavioral edges (admin full view, anonymous
    // denied, write denial) stay in CdcGovernanceSpec.
    "q_cdc_governed" -> ((s, d) => {
      import graft.governance.{Analyst, DataCellsFilter, Governance,
        GovernanceCatalog}
      val root = cdcGovRoot(s, d)
      GovernanceCatalog.registerLocation(root, "graft_cdc",
        "supplier_snap")
      GovernanceCatalog.register(Analyst, "graft_cdc", DataCellsFilter(
        "analyst-cdc-supplier", "supplier_snap", "s_nationkey < 13",
        Seq("s_suppkey", "s_nationkey", "s_acctbal", "deleted")))
      Governance.withPrincipal(s, Analyst) {
        val snap = graft.streaming.CdcApply.readSnapshot(s, root).get
        snap.groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("cnt"),
            dsum(col("s_acctbal")).as("total_bal"))
          .withColumn("n_cols", lit(snap.columns.length.toLong))
          .orderBy(col("s_nationkey"))
      }
    }),

    // C8p — the SQL-NAME surface under the hash gate: the identical net
    // state as q_cdc_merge, read back through `spark.sql` over a
    // REGISTERED identifier rather than the Scala API (reference
    // posture: every query is a SQL string handed to an engine,
    // validate.sh:74-80, outputs.tf:57-97). The CdcTableResolution rule
    // expands the name to the CURRENT snapshot at analysis time — a
    // stale captured view (registration-time manifest) would miss
    // batch 1 and hash-mismatch against the net-state oracle.
    "q_sql_cdc" -> ((s, d) => {
      val root = cdcQueryRoot(s, d)
      // registration lives only for the eager analysis of this one
      // statement (the rule expands the name at analysis time);
      // unregistering keeps the engine-global registry from leaking
      // bench names into later sessions' SHOW TABLES
      graft.streaming.CdcSql.registerTable(s, root, "supplier_cdc")
      try s.sql("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) " +
        "AS total_bal " +
        "FROM supplier_cdc GROUP BY s_nationkey ORDER BY s_nationkey")
      finally graft.streaming.CdcSql.unregisterTable("supplier_cdc")
    }),

    // C8i — SQL-ONLY INGEST: batch 1 of the supplier change stream
    // enters through the cdc_apply procedure from a temp view — no
    // Scala applyBatch, no df.write — with an EXPLICIT batch id so
    // re-runs replay through the guard as no-ops (the artifact root
    // persists across rounds). The net state then reads back through
    // the registered name against the same oracle as q_sql_cdc: a
    // batch lost, double-applied, or merged under the wrong manifest
    // contract would hash-mismatch.
    "q_sql_cdc_apply" -> ((s, d) => {
      val root = synchronized {
        val r = new java.io.File("target/graft-data/cdc_sqlapply_q/" +
          graft.sources.Artifacts.datasetKey(d, s"$d/supplier.parquet") +
          s"_$CdcRecipeRev").getAbsolutePath
        val (b0, b1) = supplierCdcBatches(s, d)
        graft.streaming.CdcApply.applyBatch(b0, 0L, r, Seq("s_suppkey"),
          "version", Some("deleted"), commitTs = Some(1000L))
        graft.streaming.CdcSql.registerTable(s, r, "supplier_sql_apply")
        b1.createOrReplaceTempView("supplier_sql_apply_src")
        s.sql("SELECT * FROM cdc_apply('supplier_sql_apply', " +
          "'supplier_sql_apply_src', 1)").collect()
        r
      }
      try s.sql("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) " +
        "AS total_bal FROM supplier_sql_apply " +
        "GROUP BY s_nationkey ORDER BY s_nationkey")
      finally graft.streaming.CdcSql.unregisterTable("supplier_sql_apply")
    }),

    // C8q — SQL TIME TRAVEL via the standard syntax: `VERSION AS OF 0`
    // over the registered name resolves through the retained batch-0
    // manifest (readSnapshotAt), so the result is the pre-update insert
    // load — batch 1's +100 upserts or tombstones bleeding in would
    // hash-mismatch the plain-supplier oracle.
    // C8t — NAMED TAG time travel from SQL (Iceberg-style read ref):
    // batch 0 tagged 'stable' through the gated cdc_tag procedure,
    // then read via VERSION AS OF 'stable' — resolving through the
    // tag file, against the same batch-0 oracle as q_cdc_timetravel.
    // Tag creation is guarded for idempotent re-runs (the tag
    // persists in the artifact root; a blind re-create refuses).
    "q_sql_cdc_tagged" -> ((s, d) => {
      val root = synchronized { supplierCdcRoot(s, d, "cdc_tag_q") }
      graft.streaming.CdcSql.registerTable(s, root, "supplier_tagged")
      try {
        if (graft.streaming.CdcApply.resolveTag(s, root, "stable").isEmpty)
          s.sql("SELECT * FROM cdc_tag('supplier_tagged', 'stable', 0)")
            .collect()
        s.sql("SELECT s_nationkey, COUNT(*) AS cnt, " +
          "CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) " +
          "AS total_bal " +
          "FROM supplier_tagged VERSION AS OF 'stable' " +
          "GROUP BY s_nationkey ORDER BY s_nationkey")
      } finally graft.streaming.CdcSql.unregisterTable("supplier_tagged")
    }),

    "q_sql_cdc_timetravel" -> ((s, d) => {
      val root = cdcQueryRoot(s, d)
      graft.streaming.CdcSql.registerTable(s, root, "supplier_cdc")
      try s.sql("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) " +
        "AS total_bal " +
        "FROM supplier_cdc VERSION AS OF 0 " +
        "GROUP BY s_nationkey ORDER BY s_nationkey")
      finally graft.streaming.CdcSql.unregisterTable("supplier_cdc")
    }),

    // C8r — the change feed from SQL: the registered feed materialized
    // as a temp view (CdcSql.changesView — the one SQL entry point that
    // captures at creation rather than re-resolving; streaming
    // consumers tail readChangesStream) and re-read through spark.sql
    // against the same first-principles oracle as q_cdc_changes.
    "q_sql_cdc_changes" -> ((s, d) => {
      val root = cdcChangesRoot(s, d)
      graft.streaming.CdcSql.registerTable(s, root, "supplier_cdc_feed")
      try {
        val v = graft.streaming.CdcSql
          .changesView(s, "supplier_cdc_feed", 0L)
        s.sql(s"SELECT s_suppkey, s_nationkey, s_acctbal, version, " +
          s"deleted, `_change_batch` AS change_batch FROM $v " +
          "ORDER BY s_suppkey")
      } finally graft.streaming.CdcSql
        .unregisterTable("supplier_cdc_feed")
    }),

    // C8g — INCREMENTAL CHANGE FEED under the hash gate: "every row
    // changed since batch 0" — the downstream-sync primitive — served
    // from stored batch stamps with manifest-level pruning of buckets
    // untouched since then (no snapshot diff, no log replay). The
    // oracle derives the same change set from first principles: %5
    // keys upserted with +100 (version 2), %7 keys tombstoned at
    // their original balance (version 3, delete-wins over the %35
    // overlap), everything stamped by the batch that applied it.
    // Tombstones are IN the feed (a sync consumer must see deletes) —
    // the one declared query where flagged deletes surface as rows.
    "q_cdc_changes" -> ((s, d) =>
      graft.streaming.CdcApply
        .changesSince(s, cdcChangesRoot(s, d), 0L).get
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"),
          col("version"), col("deleted"),
          col("_change_batch").as("change_batch"))
        .orderBy(col("s_suppkey"))),

    // C8o — BOUNDED DIFF under the hash gate: changesBetween(-1, 0) on
    // the SAME table whose head is already at batch 1 — the feed runs
    // against batch 0's RETAINED manifest, so the result is exactly
    // the batch-0 insert load (every supplier at version 1, stamped 0)
    // with none of batch 1's updates or tombstones bleeding in. A feed
    // that consulted the current manifest instead of the historical
    // one would carry batch-1 stamps and hash-mismatch.
    "q_cdc_diff" -> ((s, d) =>
      graft.streaming.CdcApply
        .changesBetween(s, cdcChangesRoot(s, d), -1L, 0L).get
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"),
          col("version"), col("deleted"),
          col("_change_batch").as("change_batch"))
        .orderBy(col("s_suppkey"))),

    // C8h — REPLICATION under the hash gate: the aggregate runs on a
    // MIRROR built purely from the change feed (seed sync = changes
    // since -1 applied as one batch), against the same net-state
    // oracle as q_cdc_merge — any key the sync dropped, duplicated, or
    // failed to delete hash-mismatches, and `wm` witnesses that the
    // mirror's replay-guard watermark reached the source's head.
    // C8x — DELTA-PROTOCOL EXPORT: the supplier snapshot published as
    // a spec-conformant Delta table (_delta_log JSON + plain parquet)
    // and read back through the engine's own protocol reader — the
    // interop seam validated end to end without a delta library.
    // The INCREMENTAL exporter is the declared path: it republishes
    // only buckets whose physical identity changed (O(changed
    // buckets) per sync — the 100 TB shape) and commits NOTHING when
    // the table hasn't moved, so re-runs add no versions; the
    // aggregate over the Delta read hash-checks against the same
    // net-state oracle as the snapshot itself.
    "q_delta_export" -> ((s, d) => {
      val root = cdcQueryRoot(s, d)
      val delta = new java.io.File(
        "target/graft-data/delta_export_inc_q/" +
        graft.sources.Artifacts.datasetKey(d, s"$d/supplier.parquet") +
        s"_$CdcRecipeRev").getAbsolutePath
      synchronized {
        graft.sources.DeltaInterop.exportIncremental(s, root, delta)
      }
      graft.sources.DeltaInterop.readDelta(s, delta)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("s_acctbal")).as("total_bal"))
        .orderBy(col("s_nationkey"))
    }),

    // C8x2 — the SAME exported Delta table scanned from SQL ALONE via
    // the delta_scan(path) table function (the DuckDB posture): the
    // path resolves through the protocol reader at analysis time, so
    // the SQL string always serves the log's current state. Same
    // artifact and oracle as q_delta_export — a divergence between
    // the Scala and SQL entry points hash-mismatches.
    "q_sql_delta_scan" -> ((s, d) => {
      val root = cdcQueryRoot(s, d)
      val delta = new java.io.File(
        "target/graft-data/delta_export_inc_q/" +
        graft.sources.Artifacts.datasetKey(d, s"$d/supplier.parquet") +
        s"_$CdcRecipeRev").getAbsolutePath
      synchronized {
        graft.sources.DeltaInterop.exportIncremental(s, root, delta)
      }
      s.sql(s"SELECT s_nationkey, COUNT(*) AS cnt, " +
        s"CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) " +
        s"AS total_bal FROM delta_scan('$delta') " +
        s"GROUP BY s_nationkey ORDER BY s_nationkey")
    }),

    // C8x3 — delta_scan from SQL with an ENCLOSING WHERE: the
    // round-20 pushdown seam ([[graft.plans.ForeignScanPrune]]) —
    // the predicate reaches the protocol reader's metadata-level
    // file pruning, and the values still hash against the same
    // filtered DuckDB oracle (pruning is a conservative superset, so
    // any over-prune mismatches).
    "q_sql_delta_scan_where" -> ((s, d) => {
      val root = cdcQueryRoot(s, d)
      val delta = new java.io.File(
        "target/graft-data/delta_export_inc_q/" +
        graft.sources.Artifacts.datasetKey(d, s"$d/supplier.parquet") +
        s"_$CdcRecipeRev").getAbsolutePath
      synchronized {
        graft.sources.DeltaInterop.exportIncremental(s, root, delta)
      }
      s.sql(s"SELECT s_nationkey, COUNT(*) AS cnt, " +
        s"CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) " +
        s"AS total_bal FROM delta_scan('$delta') " +
        s"WHERE s_nationkey < 13 " +
        s"GROUP BY s_nationkey ORDER BY s_nationkey")
    }),

    // C8x4 — MERGE-ON-READ Delta export: the interleaved apply → sync
    // → apply → sync stream published with DELETION VECTORS instead
    // of bucket rewrites (exportMor, round 20) — O(changed rows) per
    // sync, the IcebergV2 cost class on the Delta side. Same
    // net-state oracle as the rewrite-based exports: a key the DV
    // resolution loses, duplicates, or fails to delete
    // hash-mismatches.
    "q_delta_export_mor" -> ((s, d) => {
      import graft.streaming.CdcApply
      val key = graft.sources.Artifacts
        .datasetKey(d, s"$d/supplier.parquet")
      val root = new java.io.File(
        s"target/graft-data/cdc_mor_export_src/${key}_$CdcRecipeRev")
        .getAbsolutePath
      val delta = new java.io.File(
        s"target/graft-data/delta_export_mor_q/${key}_$CdcRecipeRev")
        .getAbsolutePath
      synchronized {
        val (b0, b1) = supplierCdcBatches(s, d)
        CdcApply.applyBatch(b0, 0L, root, Seq("s_suppkey"), "version",
          Some("deleted"), commitTs = Some(1000L))
        graft.sources.DeltaInterop.exportMor(s, root, delta)
        CdcApply.applyBatch(b1, 1L, root, Seq("s_suppkey"), "version",
          Some("deleted"), commitTs = Some(2000L))
        graft.sources.DeltaInterop.exportMor(s, root, delta)
      }
      graft.sources.DeltaInterop.readDelta(s, delta)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("s_acctbal")).as("total_bal"))
        .orderBy(col("s_nationkey"))
    }),

    // C8y — ICEBERG-SPEC EXPORT, the Delta seam's open-format twin:
    // the same CDC net state published as an Iceberg v1 metadata tree
    // (JSON table metadata + REAL Avro manifest lists/manifests with
    // spec field-ids and parquet-footer column stats) and read back
    // through the engine's own v1 reader. Incremental: snapshots map
    // to export versions, manifests to bucket directories, and a sync
    // republishes only changed buckets — O(changed buckets), zero new
    // snapshots when the table hasn't moved. Hash-checked against the
    // q_cdc_merge net-state oracle; structure pinned by
    // IcebergInteropSpec.
    "q_iceberg_export" -> ((s, d) => {
      val root = cdcQueryRoot(s, d)
      val ice = new java.io.File(
        "target/graft-data/iceberg_export_q/" +
        graft.sources.Artifacts.datasetKey(d, s"$d/supplier.parquet") +
        s"_$CdcRecipeRev").getAbsolutePath
      synchronized {
        graft.sources.IcebergInterop.exportIncremental(s, root, ice)
      }
      graft.sources.IcebergInterop.readIceberg(s, ice)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("s_acctbal")).as("total_bal"))
        .orderBy(col("s_nationkey"))
    }),

    // C8y1b — the SAME exported Iceberg tree scanned from SQL ALONE
    // via iceberg_scan(path), with an enclosing WHERE that must reach
    // the manifest-level pruning ([[graft.plans.ForeignScanPrune]]):
    // the delta_scan posture's open-format twin, hash-checked against
    // the equivalently filtered oracle.
    "q_sql_iceberg_scan" -> ((s, d) => {
      val root = cdcQueryRoot(s, d)
      val ice = new java.io.File(
        "target/graft-data/iceberg_export_q/" +
        graft.sources.Artifacts.datasetKey(d, s"$d/supplier.parquet") +
        s"_$CdcRecipeRev").getAbsolutePath
      synchronized {
        graft.sources.IcebergInterop.exportIncremental(s, root, ice)
      }
      s.sql(s"SELECT s_nationkey, COUNT(*) AS cnt, " +
        s"CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) " +
        s"AS total_bal FROM iceberg_scan('$ice') " +
        s"WHERE s_nationkey < 13 " +
        s"GROUP BY s_nationkey ORDER BY s_nationkey")
    }),

    // C8y2 — Iceberg TIME TRAVEL: the same change stream exported
    // snapshot-per-batch (apply b0 → export → apply b1 → export), then
    // read at SNAPSHOT 0 — `VERSION AS OF` for the open format. The
    // oracle is the full batch-0 insert load: a time-travel read that
    // leaks any batch-1 update/delete (or loses a row the later
    // snapshot rewrote) hash-mismatches. Re-runs no-op end to end
    // (replay guard + no-change exports), so the artifact is stable.
    "q_iceberg_timetravel" -> ((s, d) => {
      val base = new java.io.File(
        "target/graft-data/iceberg_tt_q/" +
        graft.sources.Artifacts.datasetKey(d, s"$d/supplier.parquet") +
        s"_$CdcRecipeRev").getAbsolutePath
      val root = s"$base/cdc"
      val ice = s"$base/ice"
      synchronized {
        import graft.streaming.CdcApply
        val (b0, b1) = supplierCdcBatches(s, d)
        CdcApply.applyBatch(b0, 0L, root, Seq("s_suppkey"), "version",
          Some("deleted"), commitTs = Some(1000L))
        graft.sources.IcebergInterop.exportIncremental(s, root, ice)
        CdcApply.applyBatch(b1, 1L, root, Seq("s_suppkey"), "version",
          Some("deleted"), commitTs = Some(2000L))
        graft.sources.IcebergInterop.exportIncremental(s, root, ice)
      }
      graft.sources.IcebergInterop.readIceberg(s, ice, Some(0L))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("s_acctbal")).as("total_bal"))
        .orderBy(col("s_nationkey"))
    }),

    // C8g — METADATA-ONLY COLUMN RENAME (schema evolution v2): batch 0
    // loads under s_acctbal, one manifest-generation commit renames it
    // to s_balance with ZERO data rewrite, and batch 1 DELIVERS the
    // new name (the apply translates logical → stored). The query
    // reads the net state under the logical name — if the rename
    // failed to surface, col("s_balance") is an unresolved-column
    // crash; the has_old_name witness pins that the old name is gone.
    // Same net-state oracle as q_cdc_merge. Era semantics + guards
    // pinned by CdcRenameSpec.
    "q_cdc_rename" -> ((s, d) => {
      val base = new java.io.File(
        "target/graft-data/cdc_rename_q/" +
        graft.sources.Artifacts.datasetKey(d, s"$d/supplier.parquet") +
        s"_$CdcRecipeRev").getAbsolutePath
      val root = s"$base/cdc"
      synchronized {
        import graft.streaming.CdcApply
        val (b0, b1) = supplierCdcBatches(s, d)
        CdcApply.applyBatch(b0, 0L, root, Seq("s_suppkey"), "version",
          Some("deleted"), commitTs = Some(1000L))
        CdcApply.renameColumn(s, root, "s_acctbal", "s_balance")
        CdcApply.applyBatch(
          b1.withColumnRenamed("s_acctbal", "s_balance"),
          1L, root, Seq("s_suppkey"), "version", Some("deleted"),
          commitTs = Some(2000L))
      }
      val snap = graft.streaming.CdcApply.readSnapshot(s, root).get
      snap.groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("s_balance")).as("total_bal"))
        .withColumn("has_old_name",
          lit(snap.columns.contains("s_acctbal")))
        .orderBy(col("s_nationkey"))
    }),

    // C8y3 — ICEBERG FORMAT-VERSION 2 EXPORT (merge-on-read delete
    // files): the same change stream exported snapshot-per-batch, but
    // batch 1's sync appends ONE data file (the net upserts) and ONE
    // equality delete file (every touched key, shadowing older images
    // by the spec's strictly-below sequence rule) — O(batch) data
    // work, no bucket materialization — and the v2 reader resolves
    // the tree back to latest-wins state. Hash-checked against the
    // q_cdc_merge net-state oracle; `del_files`/`del_rows` witness
    // that the MOR shape actually shipped (the oracle derives the
    // touched-key count from first principles, so a sync that
    // materialized buckets instead of deltas, or shadowed the wrong
    // keys, hash-mismatches). Structure pinned by IcebergV2Spec.
    "q_iceberg_v2" -> ((s, d) => {
      val base = new java.io.File(
        "target/graft-data/iceberg_v2_q/" +
        graft.sources.Artifacts.datasetKey(d, s"$d/supplier.parquet") +
        s"_$CdcRecipeRev").getAbsolutePath
      val root = s"$base/cdc"
      val ice = s"$base/ice"
      synchronized {
        import graft.streaming.CdcApply
        val (b0, b1) = supplierCdcBatches(s, d)
        CdcApply.applyBatch(b0, 0L, root, Seq("s_suppkey"), "version",
          Some("deleted"), commitTs = Some(1000L))
        graft.sources.IcebergV2.exportIncremental(s, root, ice)
        CdcApply.applyBatch(b1, 1L, root, Seq("s_suppkey"), "version",
          Some("deleted"), commitTs = Some(2000L))
        graft.sources.IcebergV2.exportIncremental(s, root, ice)
      }
      val (delFiles, delRows) =
        graft.sources.IcebergV2.deleteFileStats(s, ice)
      graft.sources.IcebergInterop.readIceberg(s, ice)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("s_acctbal")).as("total_bal"))
        .withColumn("del_files", lit(delFiles.toLong))
        .withColumn("del_rows", lit(delRows))
        .orderBy(col("s_nationkey"))
    }),

    // C8y4 — v2 TIME TRAVEL: VERSION AS OF through the merge-on-read
    // tree — snapshot 0 predates every delete file, so a reader that
    // wrongly applies a later equality delete to the earlier era (or
    // loses a row the later sync shadowed) hash-mismatches against
    // the batch-0 insert-load oracle. Same artifact as q_iceberg_v2.
    "q_iceberg_v2_tt" -> ((s, d) => {
      val base = new java.io.File(
        "target/graft-data/iceberg_v2_q/" +
        graft.sources.Artifacts.datasetKey(d, s"$d/supplier.parquet") +
        s"_$CdcRecipeRev").getAbsolutePath
      val root = s"$base/cdc"
      val ice = s"$base/ice"
      synchronized {
        import graft.streaming.CdcApply
        val (b0, b1) = supplierCdcBatches(s, d)
        CdcApply.applyBatch(b0, 0L, root, Seq("s_suppkey"), "version",
          Some("deleted"), commitTs = Some(1000L))
        graft.sources.IcebergV2.exportIncremental(s, root, ice)
        CdcApply.applyBatch(b1, 1L, root, Seq("s_suppkey"), "version",
          Some("deleted"), commitTs = Some(2000L))
        graft.sources.IcebergV2.exportIncremental(s, root, ice)
      }
      graft.sources.IcebergInterop.readIceberg(s, ice, Some(0L))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("s_acctbal")).as("total_bal"))
        .orderBy(col("s_nationkey"))
    }),

    "q_cdc_mirror" -> ((s, d) => {
      val root = cdcMirrorRoot(s, d)
      val wm = graft.streaming.CdcApply.currentVersion(s, root).get
      graft.streaming.CdcApply.readSnapshot(s, root).get
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("s_acctbal")).as("total_bal"))
        .withColumn("wm", lit(wm))
        .orderBy(col("s_nationkey"))
    }),

    // C8f — ADDITIVE SCHEMA EVOLUTION under the hash gate (spec-proven
    // since round 9, now oracle-pinned): batch 1 introduces `s_bonus`
    // mid-stream on keys ≡0 (mod 3); the merged read declares the
    // evolved manifest schema, so every pre-evolution row surfaces
    // NULL bonus — summed through coalesce, any row that wrongly
    // carries (or drops) the evolved column hash-mismatches. The bonus
    // is exact-integer valued, so the oracle has no floating-point
    // rounding hazard.
    "q_cdc_schema_evo" -> ((s, d) =>
      graft.streaming.CdcApply
        .readSnapshot(s, cdcSchemaEvoRoot(s, d)).get
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("s_acctbal")).as("total_bal"),
          sum(coalesce(col("s_bonus"), lit(0L))).as("total_bonus"))
        .orderBy(col("s_nationkey"))),

    // C8e — bucket-count evolution under the hash gate: the same
    // two-batch change stream rebucketed 16 → 5, then aggregated FROM
    // THE REBUCKETED snapshot against the q_cdc_merge net-state oracle —
    // a row lost, duplicated, or mutated by the layout rewrite
    // hash-mismatches, and `n_buckets` (manifest-authoritative conf)
    // witnesses that the rewrite actually committed. Stream
    // continuation across the rewrite stays in EventStreamSpec.
    "q_rebucket" -> ((s, d) => {
      val root = cdcRebucketRoot(s, d)
      val nb = graft.streaming.CdcApply.numBuckets(s, root).get
      graft.streaming.CdcApply.readSnapshot(s, root).get
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("s_acctbal")).as("total_bal"))
        .withColumn("n_buckets", lit(nb.toLong))
        .orderBy(col("s_nationkey"))
    }),

    // C8j — INCREMENTAL MATERIALIZED AGGREGATE under the hash gate:
    // the rollup table holds one partial-aggregate row per (source
    // bucket, nation), maintained by two syncs interleaved with the
    // two source batches — the second sync recomputed ONLY the buckets
    // batch 1 rewrote, every other partial carried forward by the
    // rollup's manifest. The query re-aggregates the partials; the
    // oracle computes the same aggregate directly from the net state,
    // so a stale carried partial, an undeleted vanished group, or a
    // wrong partial-combine hash-mismatches. `wm` witnesses the rollup
    // watermark reached the source head. max_bal exercises an
    // aggregate that is only exact under deletes BECAUSE touched
    // buckets recompute (no decrement exists for max).
    "q_cdc_rollup" -> ((s, d) => {
      val roll = cdcRollupRoot(s, d)
      val wm = graft.streaming.CdcApply.currentVersion(s, roll).get
      graft.streaming.Rollup
        .readRollup(s, roll, Seq("s_nationkey"), rollupAggs).get
        .withColumn("total_bal", col("total_bal").cast("double"))
        .withColumn("wm", lit(wm))
        .orderBy(col("s_nationkey"))
    }),

    // C8k — REPLICATION CHAIN under the hash gate: a mirror of the
    // mirror, synced from the first mirror's OWN change feed (stamps
    // written by a sync, not an original apply) — the "the mirror is a
    // full CDC table" claim as a checked result rather than prose.
    // Same net-state oracle as q_cdc_merge; `wm` witnesses the chain
    // watermark reached the head through both hops.
    "q_cdc_chain" -> ((s, d) => {
      val root = cdcChainRoot(s, d)
      val wm = graft.streaming.CdcApply.currentVersion(s, root).get
      graft.streaming.CdcApply.readSnapshot(s, root).get
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("s_acctbal")).as("total_bal"))
        .withColumn("wm", lit(wm))
        .orderBy(col("s_nationkey"))
    }),

    // C8i — POINT LOOKUP under the hash gate: primary-key GETs against
    // the merged snapshot — an untouched key (1, version 1), an
    // updated key (5: +100 at version 2), a tombstoned key (7: reads
    // back empty, like every snapshot read), and a never-present key
    // (whose bucket may be absent: a zero-filesystem typed empty
    // frame) — unioned into one deterministic result against the
    // q_cdc_merge net-state oracle restricted to those keys. Each
    // lookup scans at most ONE bucket directory (plan-asserted in
    // EventStreamSpec); this row pins the VALUES the pruned read
    // returns, closing the one r11 read path without a CORRECTNESS
    // entry.
    "q_lookup" -> ((s, d) => {
      val root = cdcQueryRoot(s, d)
      Seq(1L, 5L, 7L, 999999999L)
        .map(k => graft.streaming.CdcApply.lookup(s, root, Seq(k)).get
          .select(col("s_suppkey"), col("s_nationkey"),
            col("s_acctbal"), col("version")))
        .reduce(_.unionByName(_))
        .orderBy(col("s_suppkey"))
    }),

    // C8n — SECONDARY-INDEX LOOKUP under the hash gate: "every live
    // supplier of nations 1 and 3" answered through the incrementally-
    // synced s_nationkey index — one index bucket probe per nation,
    // then only the source buckets holding matches, semi-joined on the
    // primary key (plan-asserted in SecondaryIndexSpec). The oracle
    // recomputes the same rows from the net state, so an index entry
    // the second sync failed to tombstone (a deleted %7 supplier) or
    // a missed batch-1 update hash-mismatches. `wm` witnesses the
    // index watermark reached the source head.
    "q_lookup_by" -> ((s, d) => {
      val (src, idx) = cdcIndexRoots(s, d)
      val wm = graft.streaming.CdcApply.currentVersion(s, idx).get
      Seq(1, 3)
        .map(n => graft.streaming.SecondaryIndex
          .lookupBy(s, src, idx, Seq(n)).get
          .select(col("s_suppkey"), col("s_nationkey"),
            col("s_acctbal"), col("version")))
        .reduce(_.unionByName(_))
        .withColumn("wm", lit(wm))
        .orderBy(col("s_suppkey"))
    }),

    // C8l — MERGE-ON-READ under the hash gate: the same two-batch
    // change stream under the delta layout (maxDeltas = 4), read while
    // batch 1's deltas are still PENDING — the snapshot resolves
    // per-key latest-wins across base + delta directories at read
    // time. Same net-state oracle as q_cdc_merge: a resolution that
    // kept a superseded row, dropped a winner, or leaked a tombstone
    // hash-mismatches. `has_deltas` witnesses (from manifest metadata
    // alone) that the read really crossed pending deltas rather than
    // an eagerly-merged table.
    "q_cdc_mor" -> ((s, d) => {
      val root = cdcMorRoot(s, d)
      val pend = graft.streaming.CdcApply.buckets(s, root)
        .agg(sum(col("pending_deltas"))).head().getLong(0)
      graft.streaming.CdcApply.readSnapshot(s, root).get
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("s_acctbal")).as("total_bal"))
        .withColumn("has_deltas", lit(if (pend > 0) 1L else 0L))
        .orderBy(col("s_nationkey"))
    }),

    // C8m — COMPACTION under the hash gate: the same merge-on-read
    // stream, then compactBuckets folds every pending delta back into
    // single base directories as a maintenance generation. The content
    // must be byte-identical to the resolved read (same oracle), and
    // `pending` witnesses from the manifest that zero deltas remain —
    // the compacted table is back on the zero-resolution fast path.
    "q_cdc_compact" -> ((s, d) => {
      val root = cdcCompactRoot(s, d)
      val pend = graft.streaming.CdcApply.buckets(s, root)
        .agg(sum(col("pending_deltas"))).head().getLong(0)
      graft.streaming.CdcApply.readSnapshot(s, root).get
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("s_acctbal")).as("total_bal"))
        .withColumn("pending", lit(pend))
        .orderBy(col("s_nationkey"))
    }),

    // C8m — WRITE-TIME QUALITY GATE under the hash gate: the supplier
    // stream routed through Quality.applyChecked (acctbal_nonneg +
    // name_present, NULL fails closed, deletes bypass). The snapshot
    // is "the latest ADMITTED version per key" — a key whose update
    // was quarantined KEEPS serving its older clean version, the
    // subtlety that distinguishes a write-time gate from a read-time
    // filter, and exactly what the oracle's latest-admitted window
    // reconstructs. Deletes (which bypass the gate) must still land.
    "q_quality_gate" -> ((s, d) => {
      val (main, _) = cdcGateRoots(s, d)
      graft.streaming.CdcApply.readSnapshot(s, main).get
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("s_acctbal")).as("total_bal"))
        .orderBy(col("s_nationkey"))
    }),

    // C8n — the gate's other half: the QUARANTINE table is a full CDC
    // table whose snapshot is "the latest REJECTED version per key",
    // each row carrying the comma-joined name-sorted reasons it
    // failed. Hash-checking reasons + versions proves the gate
    // quarantined exactly the violating row versions with exactly the
    // right attribution (a NULL-name corruption must read
    // 'name_present', a negative post-update balance
    // 'acctbal_nonneg', a row failing both must list both).
    "q_quarantine" -> ((s, d) => {
      val (_, quar) = cdcGateRoots(s, d)
      graft.streaming.CdcApply.readSnapshot(s, quar).get
        .select(col("s_suppkey"), col("version"),
          col(graft.streaming.Quality.ViolatedCol).as("violated"))
        .orderBy(col("s_suppkey"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q_cdc_merge" ->
      ("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 100 " +
        "ELSE s_acctbal END AS DECIMAL(18,2))) AS DOUBLE) AS total_bal " +
        "FROM supplier WHERE s_suppkey % 7 <> 0 " +
        "GROUP BY s_nationkey ORDER BY s_nationkey"),
    // format("cdc") read of the same snapshot: identical net state
    "q_cdc_source" ->
      ("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 100 " +
        "ELSE s_acctbal END AS DECIMAL(18,2))) AS DOUBLE) AS total_bal " +
        "FROM supplier WHERE s_suppkey % 7 <> 0 " +
        "GROUP BY s_nationkey ORDER BY s_nationkey"),
    // SQL-name read of the same snapshot: identical net state
    "q_sql_cdc" ->
      ("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 100 " +
        "ELSE s_acctbal END AS DECIMAL(18,2))) AS DOUBLE) AS total_bal " +
        "FROM supplier WHERE s_suppkey % 7 <> 0 " +
        "GROUP BY s_nationkey ORDER BY s_nationkey"),
    // SQL-only ingest lands the identical net state
    "q_sql_cdc_apply" ->
      ("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 100 " +
        "ELSE s_acctbal END AS DECIMAL(18,2))) AS DOUBLE) AS total_bal " +
        "FROM supplier WHERE s_suppkey % 7 <> 0 " +
        "GROUP BY s_nationkey ORDER BY s_nationkey"),
    // VERSION AS OF 0 == the batch-0 insert load, balances untouched
    "q_sql_cdc_timetravel" ->
      ("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal " +
        "FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey"),
    // the batch-1 change set through the SQL view — same first
    // principles as q_cdc_changes
    "q_sql_cdc_changes" ->
      ("SELECT s_suppkey, s_nationkey, " +
        "CASE WHEN s_suppkey % 7 = 0 THEN s_acctbal " +
        "ELSE s_acctbal + 100 END AS s_acctbal, " +
        "CASE WHEN s_suppkey % 7 = 0 THEN CAST(3 AS BIGINT) " +
        "ELSE CAST(2 AS BIGINT) END AS version, " +
        "(s_suppkey % 7 = 0) AS deleted, " +
        "CAST(1 AS BIGINT) AS change_batch " +
        "FROM supplier WHERE s_suppkey % 5 = 0 OR s_suppkey % 7 = 0 " +
        "ORDER BY s_suppkey"),
    // renamed net state == q_cdc_merge's, under the new column name;
    // the old name must be gone
    "q_cdc_rename" ->
      ("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 100 " +
        "ELSE s_acctbal END AS DECIMAL(18,2))) AS DOUBLE) AS total_bal, " +
        "FALSE AS has_old_name " +
        "FROM supplier WHERE s_suppkey % 7 <> 0 " +
        "GROUP BY s_nationkey ORDER BY s_nationkey"),
    // v2 snapshot 0 == the batch-0 insert load (no delete file may
    // reach backward across its sequence number)
    "q_iceberg_v2_tt" ->
      ("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) " +
        "AS total_bal " +
        "FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey"),
    // v2 net state == v1 net state; the witnesses derive from first
    // principles: ONE delete file per (single) incremental sync, and
    // one shadowed key per supplier the batch-1 stream touched
    "q_iceberg_v2" ->
      ("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 100 " +
        "ELSE s_acctbal END AS DECIMAL(18,2))) AS DOUBLE) AS total_bal, " +
        "CAST(1 AS BIGINT) AS del_files, " +
        "(SELECT CAST(COUNT(*) AS BIGINT) FROM supplier " +
        "WHERE s_suppkey % 5 = 0 OR s_suppkey % 7 = 0) AS del_rows " +
        "FROM supplier WHERE s_suppkey % 7 <> 0 " +
        "GROUP BY s_nationkey ORDER BY s_nationkey"),
    // batch-0 state: every supplier present, balances untouched
    "q_cdc_timetravel" ->
      ("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal " +
        "FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey"),
    // the tag resolves to batch 0 = the pristine full supplier load
    "q_sql_cdc_tagged" ->
      ("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal " +
        "FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey"),
    // as-of t=1500 == batch-0 state, and no row may carry version > 1
    "q_cdc_asof" ->
      ("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal, " +
        "CAST(1 AS BIGINT) AS max_version " +
        "FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey"),
    // the analyst's view of the net state: row filter applied, and
    // exactly 3 columns visible (4-col allowlist minus the stripped
    // deleted column)
    "q_cdc_governed" ->
      ("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 100 " +
        "ELSE s_acctbal END AS DECIMAL(18,2))) AS DOUBLE) AS total_bal, " +
        "CAST(3 AS BIGINT) AS n_cols " +
        "FROM supplier WHERE s_suppkey % 7 <> 0 AND s_nationkey < 13 " +
        "GROUP BY s_nationkey ORDER BY s_nationkey"),
    // the mirror's live state == the source's net state, watermark at
    // the source's head batch (1)
    // the Delta export serves the identical net state
    "q_delta_export" ->
      ("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 100 " +
        "ELSE s_acctbal END AS DECIMAL(18,2))) AS DOUBLE) AS total_bal " +
        "FROM supplier WHERE s_suppkey % 7 <> 0 " +
        "GROUP BY s_nationkey ORDER BY s_nationkey"),
    // delta_scan(path) serves the identical net state from SQL alone
    "q_sql_delta_scan" ->
      ("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 100 " +
        "ELSE s_acctbal END AS DECIMAL(18,2))) AS DOUBLE) AS total_bal " +
        "FROM supplier WHERE s_suppkey % 7 <> 0 " +
        "GROUP BY s_nationkey ORDER BY s_nationkey"),
    // the pushdown twin: same net state under the enclosing WHERE
    "q_sql_delta_scan_where" ->
      ("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 100 " +
        "ELSE s_acctbal END AS DECIMAL(18,2))) AS DOUBLE) AS total_bal " +
        "FROM supplier WHERE s_suppkey % 7 <> 0 AND s_nationkey < 13 " +
        "GROUP BY s_nationkey ORDER BY s_nationkey"),
    "q_sql_iceberg_scan" ->
      ("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 100 " +
        "ELSE s_acctbal END AS DECIMAL(18,2))) AS DOUBLE) AS total_bal " +
        "FROM supplier WHERE s_suppkey % 7 <> 0 AND s_nationkey < 13 " +
        "GROUP BY s_nationkey ORDER BY s_nationkey"),
    // the MOR export serves the identical net state (DV resolution)
    "q_delta_export_mor" ->
      ("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 100 " +
        "ELSE s_acctbal END AS DECIMAL(18,2))) AS DOUBLE) AS total_bal " +
        "FROM supplier WHERE s_suppkey % 7 <> 0 " +
        "GROUP BY s_nationkey ORDER BY s_nationkey"),
    // snapshot 0 = the untouched batch-0 insert load (every supplier,
    // original balances)
    "q_iceberg_timetravel" ->
      ("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) " +
        "AS total_bal FROM supplier " +
        "GROUP BY s_nationkey ORDER BY s_nationkey"),
    // the Iceberg export serves the identical net state
    "q_iceberg_export" ->
      ("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 100 " +
        "ELSE s_acctbal END AS DECIMAL(18,2))) AS DOUBLE) AS total_bal " +
        "FROM supplier WHERE s_suppkey % 7 <> 0 " +
        "GROUP BY s_nationkey ORDER BY s_nationkey"),
    "q_cdc_mirror" ->
      ("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 100 " +
        "ELSE s_acctbal END AS DECIMAL(18,2))) AS DOUBLE) AS total_bal, " +
        "CAST(1 AS BIGINT) AS wm " +
        "FROM supplier WHERE s_suppkey % 7 <> 0 " +
        "GROUP BY s_nationkey ORDER BY s_nationkey"),
    // the batch-1 change set from first principles: upserts +100 on %5
    // keys, tombstones at original balance on %7 keys (delete wins the
    // %35 overlap), all stamped batch 1
    "q_cdc_changes" ->
      ("SELECT s_suppkey, s_nationkey, " +
        "CASE WHEN s_suppkey % 7 = 0 THEN s_acctbal " +
        "ELSE s_acctbal + 100 END AS s_acctbal, " +
        "CASE WHEN s_suppkey % 7 = 0 THEN CAST(3 AS BIGINT) " +
        "ELSE CAST(2 AS BIGINT) END AS version, " +
        "(s_suppkey % 7 = 0) AS deleted, " +
        "CAST(1 AS BIGINT) AS change_batch " +
        "FROM supplier WHERE s_suppkey % 5 = 0 OR s_suppkey % 7 = 0 " +
        "ORDER BY s_suppkey"),
    // the batch-0 insert load from first principles: every supplier at
    // version 1, live, stamped batch 0 — batch 1's changes excluded by
    // the historical-manifest bound
    "q_cdc_diff" ->
      ("SELECT s_suppkey, s_nationkey, s_acctbal, " +
        "CAST(1 AS BIGINT) AS version, FALSE AS deleted, " +
        "CAST(0 AS BIGINT) AS change_batch " +
        "FROM supplier ORDER BY s_suppkey"),
    // whole-row upsert: batch-1 rows replace their batch-0 versions
    // (same s_acctbal), carrying the evolved column; everyone else
    // keeps NULL bonus
    "q_cdc_schema_evo" ->
      ("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal, " +
        "CAST(SUM(CASE WHEN s_suppkey % 3 = 0 THEN s_suppkey % 10 " +
        "ELSE 0 END) AS BIGINT) AS total_bonus " +
        "FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey"),
    // net state identical to q_cdc_merge — the layout rewrite moved
    // every row and lost none — under the evolved 5-bucket conf
    "q_rebucket" ->
      ("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 100 " +
        "ELSE s_acctbal END AS DECIMAL(18,2))) AS DOUBLE) AS total_bal, " +
        "CAST(5 AS BIGINT) AS n_buckets " +
        "FROM supplier WHERE s_suppkey % 7 <> 0 " +
        "GROUP BY s_nationkey ORDER BY s_nationkey"),
    // the materialized rollup must equal the direct aggregate over the
    // net state (updates applied, deleted keys absent), watermark at
    // the source head (1)
    "q_cdc_rollup" ->
      ("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 100 " +
        "ELSE s_acctbal END AS DECIMAL(18,2))) AS DOUBLE) AS total_bal, " +
        "MAX(CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 100 " +
        "ELSE s_acctbal END) AS max_bal, " +
        "CAST(1 AS BIGINT) AS wm " +
        "FROM supplier WHERE s_suppkey % 7 <> 0 " +
        "GROUP BY s_nationkey ORDER BY s_nationkey"),
    // two replication hops land on the same net state, chain watermark
    // at the source head (1)
    "q_cdc_chain" ->
      ("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 100 " +
        "ELSE s_acctbal END AS DECIMAL(18,2))) AS DOUBLE) AS total_bal, " +
        "CAST(1 AS BIGINT) AS wm " +
        "FROM supplier WHERE s_suppkey % 7 <> 0 " +
        "GROUP BY s_nationkey ORDER BY s_nationkey"),
    // point lookups of keys 1 (untouched), 5 (updated +100, version
    // 2), 7 (tombstoned — absent), 999999999 (never present — absent)
    "q_lookup" ->
      ("SELECT s_suppkey, s_nationkey, " +
        "CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 100 " +
        "ELSE s_acctbal END AS s_acctbal, " +
        "CASE WHEN s_suppkey % 5 = 0 THEN CAST(2 AS BIGINT) " +
        "ELSE CAST(1 AS BIGINT) END AS version " +
        "FROM supplier WHERE s_suppkey IN (1, 5) ORDER BY s_suppkey"),
    // the index-served rows for nations 1 and 3 from first principles:
    // live net-state rows (deletes absent, %5 updates applied), index
    // watermark at the source head (1)
    "q_lookup_by" ->
      ("SELECT s_suppkey, s_nationkey, " +
        "CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 100 " +
        "ELSE s_acctbal END AS s_acctbal, " +
        "CASE WHEN s_suppkey % 5 = 0 THEN CAST(2 AS BIGINT) " +
        "ELSE CAST(1 AS BIGINT) END AS version, " +
        "CAST(1 AS BIGINT) AS wm " +
        "FROM supplier WHERE s_suppkey % 7 <> 0 " +
        "AND s_nationkey IN (1, 3) ORDER BY s_suppkey"),
    // merge-on-read resolved state must equal the copy-on-write net
    // state; has_deltas = 1 witnesses the read crossed pending deltas
    "q_cdc_mor" ->
      ("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 100 " +
        "ELSE s_acctbal END AS DECIMAL(18,2))) AS DOUBLE) AS total_bal, " +
        "CAST(1 AS BIGINT) AS has_deltas " +
        "FROM supplier WHERE s_suppkey % 7 <> 0 " +
        "GROUP BY s_nationkey ORDER BY s_nationkey"),
    // compaction preserves content exactly; pending = 0 witnesses every
    // delta folded back into a single base directory
    "q_cdc_compact" ->
      ("SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 100 " +
        "ELSE s_acctbal END AS DECIMAL(18,2))) AS DOUBLE) AS total_bal, " +
        "CAST(0 AS BIGINT) AS pending " +
        "FROM supplier WHERE s_suppkey % 7 <> 0 " +
        "GROUP BY s_nationkey ORDER BY s_nationkey"),
    // the gated table's net state: per key, the latest version that
    // PASSED the gate wins (v2 candidates carry bal-500 and the %4
    // NULL-name corruption; v1 candidates the raw row), then the %7
    // deletes — which bypass the gate — remove their keys
    "q_quality_gate" ->
      ("WITH cand AS (" +
        "SELECT s_suppkey, s_nationkey, s_name, s_acctbal, 1 AS version " +
        "FROM supplier " +
        "UNION ALL " +
        "SELECT s_suppkey, s_nationkey, " +
        "CASE WHEN s_suppkey % 4 = 0 THEN NULL ELSE s_name END AS s_name, " +
        "s_acctbal - 500.0 AS s_acctbal, 2 AS version " +
        "FROM supplier WHERE s_suppkey % 2 = 0), " +
        "adm AS (SELECT *, row_number() OVER (PARTITION BY s_suppkey " +
        "ORDER BY version DESC) AS rn FROM cand " +
        "WHERE s_acctbal >= 0 AND s_name IS NOT NULL " +
        "AND length(s_name) > 0) " +
        "SELECT s_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) " +
        "AS total_bal " +
        "FROM adm WHERE rn = 1 AND s_suppkey % 7 <> 0 " +
        "GROUP BY s_nationkey ORDER BY s_nationkey"),
    // the quarantine's net state: per key, the latest version that
    // FAILED the gate, with its comma-joined name-sorted reasons
    "q_quarantine" ->
      ("WITH cand AS (" +
        "SELECT s_suppkey, s_name, s_acctbal, 1 AS version " +
        "FROM supplier " +
        "UNION ALL " +
        "SELECT s_suppkey, " +
        "CASE WHEN s_suppkey % 4 = 0 THEN NULL ELSE s_name END AS s_name, " +
        "s_acctbal - 500.0 AS s_acctbal, 2 AS version " +
        "FROM supplier WHERE s_suppkey % 2 = 0), " +
        "rej AS (SELECT s_suppkey, version, " +
        "concat_ws(',', " +
        "CASE WHEN NOT(s_acctbal >= 0) THEN 'acctbal_nonneg' END, " +
        "CASE WHEN s_name IS NULL OR length(s_name) = 0 " +
        "THEN 'name_present' END) AS violated, " +
        "row_number() OVER (PARTITION BY s_suppkey " +
        "ORDER BY version DESC) AS rn FROM cand " +
        "WHERE NOT(s_acctbal >= 0 AND s_name IS NOT NULL " +
        "AND length(s_name) > 0)) " +
        "SELECT s_suppkey, CAST(version AS BIGINT) AS version, violated " +
        "FROM rej WHERE rn = 1 ORDER BY s_suppkey"),

    "q_cdc_restore" ->
      ("SELECT s_suppkey, s_nationkey, s_acctbal, " +
        "CAST(1 AS BIGINT) AS version, CAST(2 AS BIGINT) AS head_batch " +
        "FROM supplier ORDER BY s_suppkey"),

    // net state with the +1000 nation-3 correction composed over the
    // batch-1 +100 update, same left-to-right order both engines
    "q_cdc_update" ->
      ("SELECT s_suppkey, s_nationkey, " +
        "CASE WHEN s_nationkey = 3 THEN " +
        "(CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 100 " +
        "ELSE s_acctbal END) + 1000 " +
        "ELSE (CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 100 " +
        "ELSE s_acctbal END) END AS s_acctbal, " +
        "CAST(2 AS BIGINT) AS head_batch " +
        "FROM supplier WHERE s_suppkey % 7 <> 0 ORDER BY s_suppkey"),

    // net state (batch-1 deletes %7, updates %5 +100) minus the
    // administratively-erased %3 keys; head advanced to 2
    "q_cdc_delete" ->
      ("SELECT s_suppkey, s_nationkey, " +
        "CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 100 " +
        "ELSE s_acctbal END AS s_acctbal, " +
        "CAST(2 AS BIGINT) AS head_batch " +
        "FROM supplier WHERE s_suppkey % 7 <> 0 AND s_suppkey % 3 <> 0 " +
        "ORDER BY s_suppkey")
  )
}
