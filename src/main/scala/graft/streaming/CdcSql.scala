package graft.streaming

import java.util.Locale

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, InsertIntoStatement, LogicalPlan, MergeIntoTable, SubqueryAlias, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, TimestampType}

/** SQL-name surface for CDC tables — the reference's entire query surface
  * is SQL strings handed to an engine (`validate.sh:74-80`
  * `start-query-execution`; `outputs.tf:41-97`), so the flagship CDC
  * layer must be reachable by NAME from `spark.sql`, not only through
  * the Scala API.
  *
  * [[registerTable]] maps a SQL identifier to a CDC table root; the
  * [[CdcTableResolution]] rule (installed by
  * `graft.governance.GraftExtensions`) expands any reference to that
  * name into the table's CURRENT snapshot plan at ANALYSIS time — every
  * query re-resolves the head manifest, so `SELECT * FROM orders_cdc`
  * is always the live snapshot, never a stale view captured at
  * registration. SQL time travel rides the standard syntax:
  * `VERSION AS OF <batch>` resolves through
  * [[CdcApply.readSnapshotAt]], `TIMESTAMP AS OF <ts>` through
  * [[CdcApply.readSnapshotAsOf]]. Metadata rides the table-format
  * suffix convention: `` `t$history` `` / `` `t$buckets` `` /
  * `` `t$describe` `` name the operator metadata frames.
  *
  * Governance composes with zero CDC-specific wiring: the expansion
  * produces ordinary parquet relations under the table root, so when the
  * root is also registered via `GovernanceCatalog.registerLocation`, the
  * plan-time governance rule injects the principal's row filter and
  * column allowlist into the expanded plan exactly as it does for any
  * parquet read of that location (CdcGovernanceSpec proves the SQL
  * path). Writes stay engine-managed: INSERT/UPDATE/DELETE/MERGE against
  * a registered name are refused loudly — change batches enter through
  * [[CdcApply.applyBatch]], whose merge/replay semantics SQL DML cannot
  * express.
  */
object CdcSql {

  /** Registered names: lowercased identifier (1-part `t` or 2-part
    * `db.t`, as registered) → CDC table root, scoped to the SESSION
    * that registered them — two sessions on one JVM can bind the same
    * name to different roots without clashing (the multi-tenant
    * contract a process-global map could not honor). Lookups resolve
    * against the ACTIVE session's bindings first, then [[globalTables]]
    * — the documented engine-wide fallback for names that must be
    * visible to every session (see [[registerTableGlobally]]).
    */
  @volatile private var sessionTables
      : Map[String, Map[String, String]] = Map.empty

  /** Engine-global fallback bindings — the pre-r17 behavior, kept for
    * names shared across sessions (e.g. a table registered once at
    * process setup and queried from cloned sessions, whose UUIDs
    * differ from their parent's).
    */
  @volatile private var globalTables: Map[String, String] = Map.empty

  /** Stable per-session identity. `sessionUUID` is private[sql] —
    * public in bytecode (the engine's standing reflective seam).
    */
  private def sessionKey(spark: SparkSession): String =
    spark.getClass.getMethod("sessionUUID").invoke(spark).toString

  private def activeSessionKey: Option[String] =
    SparkSession.getActiveSession.map(sessionKey)

  private def keyOf(parts: Seq[String]): String =
    parts.map(_.toLowerCase(Locale.ROOT)).mkString(".")

  private def split(name: String): Seq[String] = {
    val parts = name.split('.').toSeq
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"invalid CDC table name '$name' — use 't' or 'db.t'")
    parts
  }

  /** Register `name` (`t` or `db.t`) as the SQL identifier of the CDC
    * table at `root`, scoped to `spark`: only queries ANALYZED under
    * this session resolve the binding (another session may bind the
    * same name to a different root). Idempotent; re-registering moves
    * the name.
    */
  def registerTable(spark: SparkSession, root: String,
      name: String): Unit = {
    val parts = split(name)
    val sk = sessionKey(spark)
    synchronized {
      sessionTables = sessionTables.updated(sk,
        sessionTables.getOrElse(sk, Map.empty) + (keyOf(parts) -> root))
    }
  }

  /** The engine-global fallback: bind `name` for EVERY session on this
    * JVM (resolved only when the active session carries no binding of
    * its own). For process-setup names shared across sessions — the
    * pre-session-scoping behavior, kept documented rather than removed.
    */
  def registerTableGlobally(root: String, name: String): Unit = {
    val parts = split(name)
    synchronized { globalTables = globalTables + (keyOf(parts) -> root) }
  }

  /** Remove a registered name (test isolation, table retirement) —
    * everywhere: from every session's bindings and the global
    * fallback. Retirement means the name stops resolving, full stop;
    * per-session surgical removal has no use case worth the footgun
    * of a thread's active session deciding which binding dies.
    */
  def unregisterTable(name: String): Unit = {
    val k = keyOf(split(name))
    synchronized {
      // drop emptied session entries too — dead sessions' keys must
      // not accumulate on a long-lived JVM
      sessionTables = sessionTables.view.mapValues(_ - k)
        .filter(_._2.nonEmpty).toMap
      globalTables = globalTables - k
    }
  }

  /** Drop EVERY binding of one session — the retirement hook for a
    * long-lived JVM cycling many short-lived sessions (nothing reclaims
    * a dead session's bindings automatically; the registry cannot
    * observe session death).
    */
  def unregisterSession(spark: SparkSession): Unit = {
    val sk = sessionKey(spark)
    synchronized { sessionTables = sessionTables - sk }
  }

  private[streaming] def rootFor(parts: Seq[String]): Option[String] = {
    val k = keyOf(parts)
    activeSessionKey.flatMap(sk => sessionTables.get(sk))
      .flatMap(_.get(k))
      .orElse(globalTables.get(k))
  }

  /** Constant-folded argument helpers for the table functions. */
  private def constArg(e: org.apache.spark.sql.catalyst.expressions
      .Expression, what: String): Any =
    if (e.foldable) e.eval()
    else throw new UnsupportedOperationException(
      s"$what must be a constant, got $e")

  private def argString(e: org.apache.spark.sql.catalyst.expressions
      .Expression, what: String): String =
    constArg(e, what) match {
      case null => throw new UnsupportedOperationException(
        s"$what must not be NULL")
      case v => v.toString
    }

  private def argLong(e: org.apache.spark.sql.catalyst.expressions
      .Expression, what: String): Long =
    constArg(e, what) match {
      case n: java.lang.Number => n.longValue()
      case v => throw new UnsupportedOperationException(
        s"$what must be an integer, got '$v'")
    }

  /** Epoch millis from an ISO-8601 instant ('...Z' / offset) or a
    * 'yyyy-MM-dd HH:mm:ss[.SSS]' string interpreted as UTC —
    * deterministic regardless of session timezone.
    */
  private def parseUtcMillis(s: String): Long =
    scala.util.Try(java.time.Instant.parse(s).toEpochMilli).orElse(
      scala.util.Try(java.time.LocalDateTime
        .parse(s.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli))
      .getOrElse(throw new UnsupportedOperationException(
        s"cannot parse timestamp '$s' — use ISO-8601 " +
          "('2024-01-02T03:04:05Z') or 'yyyy-MM-dd HH:mm:ss[.SSS]' " +
          "(interpreted as UTC)"))

  private def activeSession: SparkSession =
    SparkSession.getActiveSession.getOrElse(
      throw new IllegalStateException("no active SparkSession"))

  /** True when any CDC name is registered — the zero-cost guard that
    * keeps the SHOW TABLES / DESCRIBE interception a pure pass-through
    * for sessions that never touch the CDC surface.
    */
  private[streaming] def hasRegistered: Boolean =
    globalTables.nonEmpty ||
      activeSessionKey.flatMap(sessionTables.get).exists(_.nonEmpty)

  /** The active session's view: its own bindings over the global ones
    * (a session binding shadows a same-named global, exactly as
    * [[rootFor]] resolves).
    */
  private[streaming] def registeredNames: Seq[(String, String)] =
    (globalTables ++ activeSessionKey.flatMap(sessionTables.get)
      .getOrElse(Map.empty)).toSeq.sortBy(_._1)

  private def resolveRoot(name: String): String =
    rootFor(split(name)).getOrElse(
      throw new IllegalStateException(s"'$name' is not a registered " +
        "CDC table — call CdcSql.registerTable first"))

  /** Maintenance guard for the SQL entry points: a governed root
    * refuses every principal but the DataAdmin BEFORE any filesystem
    * work, with an audit record — the same posture as
    * [[graft.governance.GovernanceWriteCheck]] (maintenance rewrites
    * data files and deletes history; it IS a write). Ungoverned roots
    * are open, matching the Scala API they route to.
    */
  private def requireMaintainer(spark: SparkSession, name: String,
      root: String, op: String): Unit =
    graft.governance.GovernanceCatalog.tableForLocation(root).foreach {
      case (db, t) =>
        val p = graft.governance.Principal.fromName(spark.conf.get(
          graft.governance.GovernanceRule.PrincipalConf,
          graft.governance.Anonymous.name))
        if (p != graft.governance.DataAdmin) {
          graft.governance.AuditLog.record(graft.governance.AuditEvent(
            "maintenance-denied", p.name, Seq(s"$db.$t"),
            governed = true, rowsOut = None, durationNs = 0L,
            error = Some(s"$op denied")))
          throw new graft.governance.AccessDeniedException(
            s"principal ${p.name} may not run $op on governed CDC " +
              s"table '$name' ($db.$t) — maintenance rewrites data " +
              "files; only DataAdmin holds write access")
        }
    }

  private def feedPlan(name: String,
      feed: (SparkSession, String) => Option[org.apache.spark.sql
        .DataFrame]): org.apache.spark.sql.catalyst.plans.logical
      .LogicalPlan = {
    val spark = activeSession
    val root = rootFor(split(name)).getOrElse(
      throw new IllegalStateException(s"'$name' is not a registered " +
        "CDC table — call CdcSql.registerTable first"))
    feed(spark, root).getOrElse(
      throw new IllegalStateException(
        s"CDC table '$name' at $root has no committed snapshot yet"))
      .queryExecution.analyzed
  }

  /** Table-valued SQL entry points, registered by `GraftExtensions`:
    * `cdc_changes('t', since)` and `cdc_changes_between('t', from, to)`
    * — the feed re-resolved on EVERY query (the live sibling of
    * [[changesView]]'s capture-at-creation semantics).
    */
  private[graft] val tableFunctions: Seq[(
      org.apache.spark.sql.catalyst.FunctionIdentifier,
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    Seq(
      (FunctionIdentifier("cdc_changes"),
        new ExpressionInfo("graft.streaming.CdcSql", "cdc_changes"),
        args => {
          if (args.size != 2) throw new UnsupportedOperationException(
            "cdc_changes(name, sinceBatch) takes 2 arguments")
          val name = argString(args(0), "cdc_changes name")
          val since = argLong(args(1), "cdc_changes sinceBatch")
          feedPlan(name, CdcApply.changesSince(_, _, since))
        }),
      (FunctionIdentifier("cdc_changes_between"),
        new ExpressionInfo("graft.streaming.CdcSql",
          "cdc_changes_between"),
        args => {
          if (args.size != 3) throw new UnsupportedOperationException(
            "cdc_changes_between(name, fromBatch, toBatch) takes 3 " +
              "arguments")
          val name = argString(args(0), "cdc_changes_between name")
          val from = argLong(args(1), "cdc_changes_between fromBatch")
          val to = argLong(args(2), "cdc_changes_between toBatch")
          feedPlan(name, CdcApply.changesBetween(_, _, from, to))
        }),
      // operator introspection: every registered name with its root,
      // current watermark, commit clock, and bucket count (all NULL
      // before the first apply) — the metadata companion to the real
      // SHOW TABLES listing ([[CdcTableResolution]] makes registered
      // names visible there too)
      (FunctionIdentifier("cdc_tables"),
        new ExpressionInfo("graft.streaming.CdcSql", "cdc_tables"),
        args => {
          if (args.nonEmpty) throw new UnsupportedOperationException(
            "cdc_tables() takes no arguments")
          val spark = activeSession
          val rows = registeredNames.map { case (n, r) =>
            val m = CdcApply.currentManifestAndVersion(spark, r)
            (n, r, m.map(_._2), m.flatMap(_._1.ts),
              m.map(_._1.conf.numBuckets))
          }
          spark.createDataFrame(rows)
            .toDF("name", "root", "current_batch", "commit_ts",
              "num_buckets")
            .queryExecution.analyzed
        }),

      // ---- foreign-lake scans from SQL alone (the delta_scan /
      // iceberg_scan posture): the path resolves through the
      // engine's own protocol readers at ANALYSIS time, so every
      // spark.sql call sees the table's CURRENT state (checkpoints,
      // partitions, deletion vectors, column mapping included);
      // governance composes with zero wiring for registered
      // locations because the expansion is ordinary parquet scans ----
      // Each expansion is wrapped in a [[graft.plans.ForeignScan]]
      // marker so the optimizer can hand pushed-down predicates back
      // to the protocol reader for METADATA-LEVEL FILE PRUNING
      // (partition values, add-action stats, Iceberg bounds) — a SQL
      // WHERE gets the same file skipping an option("filter") caller
      // gets ([[graft.plans.ForeignScanPrune]]).
      (FunctionIdentifier("delta_scan"),
        new ExpressionInfo("graft.streaming.CdcSql", "delta_scan"),
        args => {
          if (args.isEmpty || args.size > 2)
            throw new UnsupportedOperationException(
              "delta_scan(path[, versionAsOf]) takes 1 or 2 arguments")
          val path = argString(args(0), "delta_scan path")
          val ver = args.lift(1)
            .map(argLong(_, "delta_scan versionAsOf"))
          graft.plans.ForeignScan("delta", path, ver, None,
            graft.sources.DeltaInterop
              .readDelta(activeSession, path, ver)
              .queryExecution.analyzed)
        }),
      // TIMESTAMP AS OF from SQL: the instant parses as ISO-8601
      // ('2024-01-02T03:04:05Z') or 'yyyy-MM-dd HH:mm:ss[.SSS]'
      // interpreted as UTC — deterministic, session-zone-free
      (FunctionIdentifier("delta_scan_ts"),
        new ExpressionInfo("graft.streaming.CdcSql", "delta_scan_ts"),
        args => {
          if (args.size != 2)
            throw new UnsupportedOperationException(
              "delta_scan_ts(path, timestamp) takes 2 arguments")
          val path = argString(args(0), "delta_scan_ts path")
          val ts = parseUtcMillis(
            argString(args(1), "delta_scan_ts timestamp"))
          graft.plans.ForeignScan("delta", path, None, Some(ts),
            graft.sources.DeltaInterop
              .readDelta(activeSession, path, timestampAsOf = Some(ts))
              .queryExecution.analyzed)
        }),
      (FunctionIdentifier("iceberg_scan"),
        new ExpressionInfo("graft.streaming.CdcSql", "iceberg_scan"),
        args => {
          if (args.isEmpty || args.size > 2)
            throw new UnsupportedOperationException(
              "iceberg_scan(path[, snapshotId]) takes 1 or 2 arguments")
          val path = argString(args(0), "iceberg_scan path")
          val snap = args.lift(1)
            .map(argLong(_, "iceberg_scan snapshotId"))
          graft.plans.ForeignScan("iceberg", path, snap, None,
            graft.sources.IcebergInterop
              .readIceberg(activeSession, path, snap)
              .queryExecution.analyzed)
        }),
      // Iceberg TIMESTAMP AS OF: resolves to the latest snapshot
      // at-or-before the instant (same UTC parsing as delta_scan_ts);
      // the resolved snapshot id pins the marker, so pushdown
      // pruning composes with time travel
      (FunctionIdentifier("iceberg_scan_ts"),
        new ExpressionInfo("graft.streaming.CdcSql", "iceberg_scan_ts"),
        args => {
          if (args.size != 2)
            throw new UnsupportedOperationException(
              "iceberg_scan_ts(path, timestamp) takes 2 arguments")
          val path = argString(args(0), "iceberg_scan_ts path")
          val ts = parseUtcMillis(
            argString(args(1), "iceberg_scan_ts timestamp"))
          val snap = graft.sources.IcebergInterop
            .snapshotAt(activeSession, path, ts)
          graft.plans.ForeignScan("iceberg", path, Some(snap), None,
            graft.sources.IcebergInterop
              .readIceberg(activeSession, path, Some(snap))
              .queryExecution.analyzed)
        }),

      // ---- guarded maintenance entry points (CALL-style procedures).
      // The reference's entire operational surface is SQL strings
      // handed to an engine (`validate.sh:74-80`), so table
      // maintenance must be reachable from SQL too: each function
      // RUNS the maintenance when the statement analyzes (exactly
      // once per spark.sql call) and returns a one-row status frame.
      // All four route through the fenced Scala ops — a concurrent
      // apply or maintenance commit aborts them at the commit guard —
      // and a governed root
      // refuses any principal but the DataAdmin before touching
      // anything (requireMaintainer). ----
      (FunctionIdentifier("cdc_compact"),
        new ExpressionInfo("graft.streaming.CdcSql", "cdc_compact"),
        args => {
          if (args.size != 1) throw new UnsupportedOperationException(
            "cdc_compact(name) takes 1 argument")
          val name = argString(args(0), "cdc_compact name")
          val spark = activeSession
          val root = resolveRoot(name)
          requireMaintainer(spark, name, root, "cdc_compact")
          val did = CdcApply.compactBuckets(spark, root)
          spark.createDataFrame(Seq((name, did,
              CdcApply.currentVersion(spark, root))))
            .toDF("name", "compacted", "current_batch")
            .queryExecution.analyzed
        }),
      (FunctionIdentifier("cdc_vacuum"),
        new ExpressionInfo("graft.streaming.CdcSql", "cdc_vacuum"),
        args => {
          if (args.size != 2) throw new UnsupportedOperationException(
            "cdc_vacuum(name, keep) takes 2 arguments")
          val name = argString(args(0), "cdc_vacuum name")
          val keep = argLong(args(1), "cdc_vacuum keep")
          val spark = activeSession
          val root = resolveRoot(name)
          requireMaintainer(spark, name, root, "cdc_vacuum")
          val removed = CdcApply.vacuum(spark, root, keep.toInt)
          spark.createDataFrame(Seq((name, removed.size.toLong,
              CdcApply.currentVersion(spark, root))))
            .toDF("name", "n_removed", "current_batch")
            .queryExecution.analyzed
        }),
      (FunctionIdentifier("cdc_rebucket"),
        new ExpressionInfo("graft.streaming.CdcSql", "cdc_rebucket"),
        args => {
          if (args.size != 2) throw new UnsupportedOperationException(
            "cdc_rebucket(name, numBuckets) takes 2 arguments")
          val name = argString(args(0), "cdc_rebucket name")
          val n = argLong(args(1), "cdc_rebucket numBuckets")
          val spark = activeSession
          val root = resolveRoot(name)
          requireMaintainer(spark, name, root, "cdc_rebucket")
          val did = CdcApply.rebucket(spark, root, n.toInt)
          spark.createDataFrame(Seq((name, did, n.toInt)))
            .toDF("name", "rebucketed", "num_buckets")
            .queryExecution.analyzed
        }),
      (FunctionIdentifier("cdc_rename_column"),
        new ExpressionInfo("graft.streaming.CdcSql",
          "cdc_rename_column"),
        args => {
          if (args.size != 3) throw new UnsupportedOperationException(
            "cdc_rename_column(name, from, to) takes 3 arguments")
          val name = argString(args(0), "cdc_rename_column name")
          val from = argString(args(1), "cdc_rename_column from")
          val to = argString(args(2), "cdc_rename_column to")
          val spark = activeSession
          val root = resolveRoot(name)
          requireMaintainer(spark, name, root, "cdc_rename_column")
          val did = CdcApply.renameColumn(spark, root, from, to)
          spark.createDataFrame(Seq((name, from, to, did)))
            .toDF("name", "from", "to", "renamed")
            .queryExecution.analyzed
        }),
      (FunctionIdentifier("cdc_zorder"),
        new ExpressionInfo("graft.streaming.CdcSql", "cdc_zorder"),
        args => {
          if (args.size < 2) throw new UnsupportedOperationException(
            "cdc_zorder(name, col1[, col2, ...]) takes a table name " +
              "and at least one column")
          val name = argString(args(0), "cdc_zorder name")
          val cols = args.drop(1).zipWithIndex.map { case (a, i) =>
            argString(a, s"cdc_zorder col${i + 1}") }
          val spark = activeSession
          val root = resolveRoot(name)
          requireMaintainer(spark, name, root, "cdc_zorder")
          val did = CdcApply.zorderBuckets(spark, root, cols)
          spark.createDataFrame(Seq((name, cols.mkString(","), did)))
            .toDF("name", "cols", "clustered")
            .queryExecution.analyzed
        }),
      (FunctionIdentifier("cdc_reseed_mirror"),
        new ExpressionInfo("graft.streaming.CdcSql",
          "cdc_reseed_mirror"),
        args => {
          if (args.size != 2) throw new UnsupportedOperationException(
            "cdc_reseed_mirror(source, mirror) takes 2 arguments")
          val srcName = argString(args(0), "cdc_reseed_mirror source")
          val dstName = argString(args(1), "cdc_reseed_mirror mirror")
          val spark = activeSession
          val src = resolveRoot(srcName)
          val dst = resolveRoot(dstName)
          // BOTH roots guarded: the reseed reads every source row raw
          // (a non-admin seeding an ungoverned mirror from a governed
          // source would be an exfiltration side door) and DROPS the
          // mirror's history before rewriting it
          requireMaintainer(spark, srcName, src, "cdc_reseed_mirror")
          requireMaintainer(spark, dstName, dst, "cdc_reseed_mirror")
          val did = CdcApply.reseedMirror(spark, src, dst)
          spark.createDataFrame(Seq((srcName, dstName, did,
              CdcApply.currentVersion(spark, dst))))
            .toDF("source", "mirror", "reseeded", "current_batch")
            .queryExecution.analyzed
        }),
      // SQL-only INGEST: apply one change batch FROM any SQL-visible
      // relation (temp view, catalog table, another registered name) —
      // the last piece that makes the whole CDC lifecycle drivable by
      // SQL strings alone (the reference's consumers only ever hand
      // SQL to an engine, validate.sh:74-80). The merge contract
      // (keys, version/deleted columns, layout, retention) comes from
      // the TABLE's manifest — a batch cannot quietly re-declare it —
      // and the batch enters through the ordinary applyBatch: replay
      // guard, writer fence, changelog detection, and governance all
      // hold. Omit batch_id for head+1; pass it explicitly to make
      // retried submissions idempotent through the replay guard.
      (FunctionIdentifier("cdc_apply"),
        new ExpressionInfo("graft.streaming.CdcSql", "cdc_apply"),
        args => {
          if (args.size < 2 || args.size > 3)
            throw new UnsupportedOperationException(
              "cdc_apply(name, source [, batch_id]) takes 2-3 arguments")
          val name = argString(args(0), "cdc_apply name")
          val source = argString(args(1), "cdc_apply source")
          val spark = activeSession
          val root = resolveRoot(name)
          // an apply is a WRITE: same principal gate as the DML procs
          requireMaintainer(spark, name, root, "cdc_apply")
          val conf = CdcApply.tableConfOf(spark, root).getOrElse(
            throw new IllegalStateException(
              s"CDC table '$name' has no committed manifest"))
          val batchId = args.drop(2).headOption
            .map(argLong(_, "cdc_apply batch_id")).getOrElse(
              CdcApply.currentVersion(spark, root).map(_ + 1L)
                .getOrElse(0L))
          val applied = CdcApply.applyBatch(spark.table(source),
            batchId, root, conf.keys, conf.versionCol, conf.deletedCol,
            numBuckets = conf.numBuckets,
            tombstoneRetention = conf.retention,
            changelog = CdcApply.hasChangelog(spark, root),
            maxDeltas = conf.maxDeltas, bucketCols = conf.bucketKeys)
          spark.createDataFrame(Seq((name, source, batchId, applied,
              CdcApply.currentVersion(spark, root).getOrElse(-1L))))
            .toDF("name", "source", "batch_id", "applied",
              "current_batch")
            .queryExecution.analyzed
        }),
      // Delta-protocol export from SQL: publish (incrementally) the
      // registered table's snapshot as a Delta table at `path` —
      // cdc_export_delta(name, path). Reads of the export go through
      // any Delta reader; the procedure returns the committed log
      // version (NULL column value when nothing changed).
      (FunctionIdentifier("cdc_export_delta"),
        new ExpressionInfo("graft.streaming.CdcSql",
          "cdc_export_delta"),
        args => {
          if (args.size != 2) throw new UnsupportedOperationException(
            "cdc_export_delta(name, path) takes 2 arguments")
          val name = argString(args(0), "cdc_export_delta name")
          val path = argString(args(1), "cdc_export_delta path")
          val spark = activeSession
          val root = resolveRoot(name)
          // exporting cell data OFF the governed root is a read the
          // row/column filters cannot follow: admin-gated like writes
          requireMaintainer(spark, name, root, "cdc_export_delta")
          val v = graft.sources.DeltaInterop
            .exportIncremental(spark, root, path)
          spark.createDataFrame(Seq((name, path, v)))
            .toDF("name", "path", "committed_version")
            .queryExecution.analyzed
        }),
      // log aging from SQL: delta_checkpoint(path[, truncate]) writes
      // a classic parquet checkpoint of the Delta log's head state
      // (and with truncate = true deletes the covered JSON commits) —
      // without it a continuously-exported table replays O(total
      // commits) per read. No governance gate: the checkpoint
      // reorganizes METADATA of an already-exported table (the cell
      // data left the governed root at export time, behind the
      // export procedures' admin gate).
      (FunctionIdentifier("delta_checkpoint"),
        new ExpressionInfo("graft.streaming.CdcSql",
          "delta_checkpoint"),
        args => {
          if (args.isEmpty || args.size > 2)
            throw new UnsupportedOperationException(
              "delta_checkpoint(path[, truncate]) takes 1 or 2 " +
                "arguments")
          val path = argString(args(0), "delta_checkpoint path")
          val truncate = args.lift(1).exists(a =>
            argString(a, "delta_checkpoint truncate")
              .equalsIgnoreCase("true"))
          val spark = activeSession
          val v = graft.sources.DeltaInterop
            .checkpointLog(spark, path, truncate)
          spark.createDataFrame(Seq((path, v, truncate)))
            .toDF("path", "checkpointed_version", "truncated")
            .queryExecution.analyzed
        }),
      // Iceberg-spec export from SQL — the Delta procedure's open-
      // format twin: cdc_export_iceberg(name, path) publishes
      // (incrementally) the registered table as an Iceberg v1
      // metadata tree; returns the committed snapshot id (NULL when
      // nothing changed). Same admin gate: exporting cell data off
      // the governed root escapes the row/column filters.
      (FunctionIdentifier("cdc_export_iceberg"),
        new ExpressionInfo("graft.streaming.CdcSql",
          "cdc_export_iceberg"),
        args => {
          if (args.size != 2) throw new UnsupportedOperationException(
            "cdc_export_iceberg(name, path) takes 2 arguments")
          val name = argString(args(0), "cdc_export_iceberg name")
          val path = argString(args(1), "cdc_export_iceberg path")
          val spark = activeSession
          val root = resolveRoot(name)
          requireMaintainer(spark, name, root, "cdc_export_iceberg")
          val v = graft.sources.IcebergInterop
            .exportIncremental(spark, root, path)
          spark.createDataFrame(Seq((name, path, v)))
            .toDF("name", "path", "committed_snapshot")
            .queryExecution.analyzed
        }),
      (FunctionIdentifier("cdc_delete_where"),
        new ExpressionInfo("graft.streaming.CdcSql",
          "cdc_delete_where"),
        args => {
          if (args.size != 2) throw new UnsupportedOperationException(
            "cdc_delete_where(name, predicate) takes 2 arguments")
          val name = argString(args(0), "cdc_delete_where name")
          val predSql = argString(args(1), "cdc_delete_where predicate")
          val spark = activeSession
          val root = resolveRoot(name)
          // a delete is a WRITE: same principal gate as restore
          requireMaintainer(spark, name, root, "cdc_delete_where")
          val committed = CdcApply.deleteWhere(spark, root,
            org.apache.spark.sql.functions.expr(predSql))
          spark.createDataFrame(Seq((name, predSql, committed,
              CdcApply.currentVersion(spark, root))))
            .toDF("name", "predicate", "committed_batch",
              "current_batch")
            .queryExecution.analyzed
        }),
      (FunctionIdentifier("cdc_update_where"),
        new ExpressionInfo("graft.streaming.CdcSql",
          "cdc_update_where"),
        args => {
          if (args.size != 4) throw new UnsupportedOperationException(
            "cdc_update_where(name, predicate, column, expression) " +
              "takes 4 arguments")
          val name = argString(args(0), "cdc_update_where name")
          val predSql = argString(args(1), "cdc_update_where predicate")
          val colName = argString(args(2), "cdc_update_where column")
          val valSql = argString(args(3), "cdc_update_where expression")
          val spark = activeSession
          val root = resolveRoot(name)
          requireMaintainer(spark, name, root, "cdc_update_where")
          val committed = CdcApply.updateWhere(spark, root,
            org.apache.spark.sql.functions.expr(predSql),
            Map(colName -> org.apache.spark.sql.functions.expr(valSql)))
          spark.createDataFrame(Seq((name, predSql, colName, committed,
              CdcApply.currentVersion(spark, root))))
            .toDF("name", "predicate", "column", "committed_batch",
              "current_batch")
            .queryExecution.analyzed
        }),
      // ---- named tags (Iceberg-style read refs) from SQL. Creating
      // or dropping a tag changes what vacuum may sweep — storage
      // lifecycle — so both are gated like maintenance on governed
      // roots; listing rides the `t$tags` metadata suffix instead. ----
      (FunctionIdentifier("cdc_tag"),
        new ExpressionInfo("graft.streaming.CdcSql", "cdc_tag"),
        args => {
          if (args.size != 3) throw new UnsupportedOperationException(
            "cdc_tag(name, tag, batch) takes 3 arguments")
          val name = argString(args(0), "cdc_tag name")
          val tagName = argString(args(1), "cdc_tag tag")
          val batch = argLong(args(2), "cdc_tag batch")
          val spark = activeSession
          val root = resolveRoot(name)
          requireMaintainer(spark, name, root, "cdc_tag")
          CdcApply.tag(spark, root, tagName, batch)
          spark.createDataFrame(Seq((name, tagName, batch)))
            .toDF("name", "tag", "batch")
            .queryExecution.analyzed
        }),
      (FunctionIdentifier("cdc_untag"),
        new ExpressionInfo("graft.streaming.CdcSql", "cdc_untag"),
        args => {
          if (args.size != 2) throw new UnsupportedOperationException(
            "cdc_untag(name, tag) takes 2 arguments")
          val name = argString(args(0), "cdc_untag name")
          val tagName = argString(args(1), "cdc_untag tag")
          val spark = activeSession
          val root = resolveRoot(name)
          requireMaintainer(spark, name, root, "cdc_untag")
          val existed = CdcApply.untag(spark, root, tagName)
          spark.createDataFrame(Seq((name, tagName, existed)))
            .toDF("name", "tag", "existed")
            .queryExecution.analyzed
        }),

      // name lifecycle from SQL — with register/unregister the WHOLE
      // CDC surface (registration, reads, time travel, metadata,
      // maintenance, predicate DML, restore) is drivable by SQL
      // strings alone, the reference's operational posture. No
      // principal gate: registration creates a read NAME, and reads
      // through it stay governed by the location registry exactly as
      // path reads do (CdcGovernanceSpec); it grants nothing.
      (FunctionIdentifier("cdc_register"),
        new ExpressionInfo("graft.streaming.CdcSql", "cdc_register"),
        args => {
          if (args.size != 2) throw new UnsupportedOperationException(
            "cdc_register(name, root) takes 2 arguments")
          val name = argString(args(0), "cdc_register name")
          val root = argString(args(1), "cdc_register root")
          val spark = activeSession
          require(CdcApply.currentVersion(spark, root).isDefined,
            s"cdc_register: no committed CDC table at $root")
          registerTable(spark, root, name)
          spark.createDataFrame(Seq((name, root,
              CdcApply.currentVersion(spark, root))))
            .toDF("name", "root", "current_batch")
            .queryExecution.analyzed
        }),
      (FunctionIdentifier("cdc_unregister"),
        new ExpressionInfo("graft.streaming.CdcSql", "cdc_unregister"),
        args => {
          if (args.size != 1) throw new UnsupportedOperationException(
            "cdc_unregister(name) takes 1 argument")
          val name = argString(args(0), "cdc_unregister name")
          val spark = activeSession
          val known = rootFor(split(name)).isDefined
          unregisterTable(name)
          spark.createDataFrame(Seq((name, known)))
            .toDF("name", "was_registered")
            .queryExecution.analyzed
        }),
      (FunctionIdentifier("cdc_restore"),
        new ExpressionInfo("graft.streaming.CdcSql", "cdc_restore"),
        args => {
          if (args.size != 2) throw new UnsupportedOperationException(
            "cdc_restore(name, batch) takes 2 arguments")
          val name = argString(args(0), "cdc_restore name")
          val batch = argLong(args(1), "cdc_restore batch")
          val spark = activeSession
          val root = resolveRoot(name)
          // content-changing like a write, not mere layout maintenance:
          // the same principal gate applies (a non-admin rolling a
          // governed table back would un-delete rows an admin removed)
          requireMaintainer(spark, name, root, "cdc_restore")
          val committed = CdcApply.restore(spark, root, batch)
          spark.createDataFrame(Seq((name, batch, committed,
              CdcApply.currentVersion(spark, root))))
            .toDF("name", "restored_to", "committed_batch",
              "current_batch")
            .queryExecution.analyzed
        }))
  }

  /** Materialize the change feed of registered table `name` since
    * `sinceBatch` as a temp view (default `<name>_changes`) and return
    * the view name. Unlike the snapshot NAME and the `cdc_changes`
    * table function (both re-resolved every query), the view captures
    * the feed as of THIS call — re-invoke to advance; streaming
    * consumers use [[CdcApply.readChangesStream]].
    */
  def changesView(spark: SparkSession, name: String, sinceBatch: Long,
      viewName: Option[String] = None): String = {
    val parts = split(name)
    val root = rootFor(parts).getOrElse(
      throw new IllegalStateException(s"'$name' is not a registered " +
        "CDC table — call CdcSql.registerTable first"))
    val df = CdcApply.changesSince(spark, root, sinceBatch).getOrElse(
      throw new IllegalStateException(
        s"CDC table '$name' at $root has no committed snapshot yet"))
    val v = viewName.getOrElse(parts.last + "_changes")
    df.createOrReplaceTempView(v)
    v
  }
}

/** Analyzer rule expanding registered CDC table names (see [[CdcSql]]).
  * Injected by `graft.governance.GraftExtensions` into the resolution
  * batch: catalog resolution runs first in the same fixpoint, so a real
  * catalog table always shadows a registered CDC name — the rule only
  * sees identifiers the catalog left unresolved.
  */
case class CdcTableResolution(spark: SparkSession)
    extends Rule[LogicalPlan] {

  private def cdcIdent(p: LogicalPlan): Option[String] = p match {
    case u: UnresolvedRelation
        if CdcSql.rootFor(u.multipartIdentifier).isDefined =>
      Some(u.multipartIdentifier.mkString("."))
    case _ => None
  }

  /** Single-evaluation extractors: the guard-and-body pattern
    * (`case x if f(x).isDefined => f(x).get`) would run the match
    * function twice per node — for [[MetaTarget]] that means building
    * the metadata DataFrame (filesystem listings) twice. A custom
    * extractor binds the result once.
    */
  private object CdcWriteTarget {
    def unapply(p: LogicalPlan): Option[String] = cdcIdent(p)
  }

  private object MetaTarget {
    def unapply(p: LogicalPlan)
        : Option[(String, org.apache.spark.sql.DataFrame)] = p match {
      case u: UnresolvedRelation if !u.isStreaming => metaTarget(u)
      case _ => None
    }
  }

  private object DescribeCdcTarget {
    def unapply(p: LogicalPlan): Option[(org.apache.spark.sql.catalyst
        .plans.logical.DescribeRelation, String, String)] = p match {
      case d: org.apache.spark.sql.catalyst.plans.logical
          .DescribeRelation if d.partitionSpec.isEmpty =>
        d.relation match {
          case u: org.apache.spark.sql.catalyst.analysis
              .UnresolvedTableOrView =>
            CdcSql.rootFor(u.multipartIdentifier).map(r =>
              (d, u.multipartIdentifier.mkString("."), r))
          case _ => None
        }
      case _ => None
    }
  }

  /** Metadata tables, the table-format convention: `` `t$history` ``,
    * `` `t$buckets` ``, `` `t$describe` `` resolve to the operator
    * metadata frames of registered table `t`. Like the Scala APIs they
    * name, these serve MANIFEST metadata (sizes, counts, column names,
    * commit clocks) — location governance gates cell data, not
    * metadata; gate the filesystem for metadata secrecy.
    */
  private val metaTables: Map[String,
      (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "history" -> ((s, r) => CdcApply.history(s, r)),
    "buckets" -> ((s, r) => CdcApply.buckets(s, r)),
    "describe" -> ((s, r) => CdcApply.describe(s, r)),
    "tags" -> ((s, r) => CdcApply.tags(s, r)),
    "files" -> ((s, r) => CdcApply.files(s, r)))

  private def metaTarget(u: UnresolvedRelation)
      : Option[(String, org.apache.spark.sql.DataFrame)] = {
    val last = u.multipartIdentifier.last
    val cut = last.lastIndexOf('$')
    if (cut <= 0) return None
    val (base, suffix) = (last.substring(0, cut), last.substring(cut + 1))
    for {
      mk <- metaTables.get(suffix.toLowerCase(Locale.ROOT))
      root <- CdcSql.rootFor(u.multipartIdentifier.init :+ base)
    } yield (last, mk(spark, root))
  }

  /** The snapshot (or time-travel) frame, freshly resolved against the
    * head manifest, aliased so `name.col` references resolve. The
    * nested DataFrame construction runs this session's full analysis —
    * including governance injection for governed roots — so the embedded
    * subtree arrives resolved and governance-tagged; the outer fixpoint
    * leaves it untouched.
    */
  private def expand(alias: String, snapshot: Option[
      org.apache.spark.sql.DataFrame], what: String,
      statsRoot: Option[String] = None): LogicalPlan =
    snapshot match {
      case Some(df) =>
        val base = df.queryExecution.analyzed
        SubqueryAlias(alias,
          statsRoot.fold(base)(withManifestStats(_, alias, base)))
      case None => throw new IllegalStateException(
        s"CDC table '$alias' has no readable snapshot $what")
    }

  /** The engine's zero-scan ANALYZE: annotate the expanded snapshot's
    * parquet relation with the manifest's total bytes/rows
    * ([[CdcApply.manifestTotals]] — write-time footer stats, one
    * manifest read) as catalog statistics, so a registered CDC table
    * joins the cost-based optimizer's row-count world exactly like an
    * ANALYZE'd catalog table ([[graft.operators.Stats]]) — multi-join
    * SQL over CDC names gets stats-driven join reorder with no stats
    * pass ever run. Applied only when the resolved snapshot is a
    * SINGLE relation (the compacted/copy-on-write read path — after
    * maintenance, the common state of a healthy table); a pending-MOR
    * plan's window/union shape carries no single scan to annotate and
    * passes through unannotated (size-only costing, as before). The
    * synthetic identifier carries NO database, so the governance
    * registry's (db, table) matching is untouched — location-based
    * governance already ran inside the nested analysis, and the
    * GovernedTag rides the copy.
    */
  private def withManifestStats(root: String, alias: String,
      plan: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val lrs = plan.collect { case lr: LogicalRelation => lr }
    if (lrs.size != 1 || lrs.head.catalogTable.isDefined) return plan
    CdcApply.manifestTotals(spark, root) match {
      case Some((bytes, rows)) =>
        val target = lrs.head
        plan.transform {
          case lr: LogicalRelation if lr eq target =>
            lr.copy(catalogTable = Some(
              org.apache.spark.sql.catalyst.catalog.CatalogTable(
                identifier = org.apache.spark.sql.catalyst
                  .TableIdentifier(alias),
                tableType = org.apache.spark.sql.catalyst.catalog
                  .CatalogTableType.EXTERNAL,
                storage = org.apache.spark.sql.catalyst.catalog
                  .CatalogStorageFormat.empty,
                schema = lr.schema,
                provider = Some("parquet"),
                stats = Some(org.apache.spark.sql.catalyst.catalog
                  .CatalogStatistics(BigInt(bytes),
                    Some(BigInt(rows)))))))
        }
      case None => plan
    }
  }

  /** `TIMESTAMP AS OF <expr>` → the engine's commit-clock millis: an
    * integer literal is taken as the logical clock verbatim (the form
    * [[CdcApply.applyBatch]]'s `commitTs` records); anything else is
    * cast to TIMESTAMP and converted micros → millis.
    */
  private def asOfMillis(e: Expression): Long = {
    val lit = e match {
      case l: Literal => l
      case other if other.foldable =>
        Literal.create(other.eval(), other.dataType)
      case other => throw new UnsupportedOperationException(
        s"TIMESTAMP AS OF over a CDC table needs a constant, got $other")
    }
    lit.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        String.valueOf(lit.value).toLong
      case _ =>
        val zone = spark.sessionState.conf.sessionLocalTimeZone
        Cast(lit, TimestampType, Some(zone)).eval() match {
          case micros: java.lang.Long => Math.floorDiv(micros, 1000L)
          case _ => throw new UnsupportedOperationException(
            s"cannot read '${lit.value}' as a timestamp")
        }
    }
  }

  /** `SHOW TABLES` over the SESSION catalog with a resolved plain
    * namespace — the only form the CDC listing augments. Other
    * catalogs, unresolved namespaces, and `SHOW TABLE EXTENDED` (a
    * different node) pass through untouched.
    */
  private object ShowTablesOnSession {
    def unapply(p: LogicalPlan): Option[(org.apache.spark.sql.catalyst
        .plans.logical.ShowTables, String)] = p match {
      case s: org.apache.spark.sql.catalyst.plans.logical.ShowTables =>
        s.namespace match {
          case rn: org.apache.spark.sql.catalyst.analysis
              .ResolvedNamespace
              if rn.catalog.name == "spark_catalog" &&
                rn.namespace.size == 1 =>
            Some((s, rn.namespace.head))
          case _ => None
        }
      case _ => None
    }
  }

  /** The `SHOW TABLES` listing — the stock rows (catalog tables with
    * their namespace, temp views with an empty one) — plus the
    * registered CDC names. 1-part names are session-global like temp
    * views (resolvable from any database context), so they list with
    * an empty namespace in every listing; `db.t` names list under
    * their database only. A real catalog object with the same identity
    * wins (it also shadows the name at resolution), and the pattern
    * filter applies to CDC names exactly as to catalog names.
    */
  private def showTablesWithCdc(
      s: org.apache.spark.sql.catalyst.plans.logical.ShowTables,
      db: String): LogicalPlan = {
    import org.apache.spark.unsafe.types.UTF8String
    val catalog = spark.sessionState.catalog
    val base = s.pattern
      .map(catalog.listTables(db, _)).getOrElse(catalog.listTables(db))
      .map(ti =>
        (ti.database.getOrElse(""), ti.table, catalog.isTempView(ti)))
    val taken = base.map(r => (r._1, r._2)).toSet
    val cdcRows = CdcSql.registeredNames.flatMap { case (key, _) =>
      val parts = key.split('.')
      val (ns, tbl) =
        if (parts.length == 1) ("", parts(0)) else (parts(0), parts(1))
      val inScope = parts.length == 1 ||
        (parts.length == 2 && parts(0) == db)
      val passes = s.pattern.forall(p =>
        org.apache.spark.sql.catalyst.util.StringUtils
          .filterPattern(Seq(tbl), p).nonEmpty)
      if (inScope && passes && !taken.contains((ns, tbl)))
        Some((ns, tbl, false))
      else None
    }
    val rows = (base ++ cdcRows).map { case (ns, t, tmp) =>
      org.apache.spark.sql.catalyst.InternalRow(
        UTF8String.fromString(ns), UTF8String.fromString(t), tmp)
    }
    org.apache.spark.sql.catalyst.plans.logical
      .LocalRelation(s.output, rows)
  }

  /** `DESCRIBE [EXTENDED] <registered-name>` — the snapshot schema in
    * the standard (col_name, data_type, comment) shape; EXTENDED
    * appends a `# CDC Table Information` section (root, watermark,
    * commit clock, bucket count) from ONE manifest read.
    */
  private def describeCdc(output: Seq[org.apache.spark.sql.catalyst
      .expressions.Attribute], name: String, root: String,
      extended: Boolean): LogicalPlan = {
    import org.apache.spark.unsafe.types.UTF8String
    def row(c: String, d: String, comment: String)
        : org.apache.spark.sql.catalyst.InternalRow =
      org.apache.spark.sql.catalyst.InternalRow(
        UTF8String.fromString(c), UTF8String.fromString(d),
        if (comment == null) null else UTF8String.fromString(comment))
    val snap = CdcApply.readSnapshot(spark, root).getOrElse(
      throw new IllegalStateException(
        s"CDC table '$name' at $root has no committed snapshot yet"))
    val cols = snap.schema.fields.toSeq.map(f =>
      row(f.name, f.dataType.simpleString, null))
    val info =
      if (!extended) Nil
      else {
        val mv = CdcApply.currentManifestAndVersion(spark, root)
        Seq(row("", "", null),
          row("# CDC Table Information", "", null),
          row("Root", root, null),
          row("Current Batch",
            mv.map(_._2.toString).getOrElse(""), null),
          row("Commit Ts",
            mv.flatMap(_._1.ts).map(_.toString).getOrElse(""), null),
          row("Num Buckets",
            mv.map(_._1.conf.numBuckets.toString).getOrElse(""), null))
      }
    org.apache.spark.sql.catalyst.plans.logical
      .LocalRelation(output, cols ++ info)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    // TOP-DOWN: the DML guards must fire on the statement node BEFORE
    // the generic relation case expands its child (bottom-up would
    // rewrite the target into a snapshot subtree first, and the denial
    // would surface as an unrelated analysis failure)
    plan.resolveOperatorsDown {
      // DML against a registered CDC name: refused loudly — change
      // batches enter through CdcApply.applyBatch (merge semantics,
      // replay guard, change feed), which SQL DML cannot express
      case i: InsertIntoStatement if cdcIdent(i.table).isDefined =>
        throw writeDenied(cdcIdent(i.table).get)
      case DeleteFromTable(CdcWriteTarget(name), _) =>
        throw writeDenied(name)
      case u: UpdateTable if cdcIdent(u.table).isDefined =>
        throw writeDenied(cdcIdent(u.table).get)
      case m: MergeIntoTable if cdcIdent(m.targetTable).isDefined =>
        throw writeDenied(cdcIdent(m.targetTable).get)

      // CATALOG VISIBILITY (the Glue DB/table listing analog,
      // reference main.tf:291-300): `SHOW TABLES` lists registered CDC
      // names alongside real catalog tables, `DESCRIBE` serves their
      // snapshot schema. Both intercept the command node in the same
      // resolution fixpoint (`SHOW TABLES` stays the V2 ShowTables
      // node in Spark 4; DESCRIBE arrives with its identifier still
      // unresolved because registered names are not catalog entries)
      // and replace it with the rows it would have produced plus the
      // CDC entries — computed at analysis time, exactly when Spark
      // executes these commands anyway (`spark.sql` runs commands
      // eagerly). Guarded on a non-empty registry so sessions that
      // never register a CDC name keep the stock command untouched.
      case ShowTablesOnSession(s, db) if CdcSql.hasRegistered =>
        showTablesWithCdc(s, db)

      case DescribeCdcTarget(d, name, root) =>
        describeCdc(d.output, name, root, d.isExtended)

      case RelationTimeTravel(u: UnresolvedRelation, ts, ver)
          if CdcSql.rootFor(u.multipartIdentifier).isDefined =>
        val root = CdcSql.rootFor(u.multipartIdentifier).get
        val alias = u.multipartIdentifier.last
        (ver, ts) match {
          case (Some(v), _) =>
            // a number is a batch id; anything else resolves as a
            // NAMED TAG (tag names must start with a letter, so the
            // two can never collide)
            val batch =
              try v.toLong
              catch { case _: NumberFormatException =>
                CdcApply.resolveTag(spark, root, v).getOrElse(
                  throw new UnsupportedOperationException(
                    s"VERSION AS OF over CDC table '$alias' takes a " +
                      s"batch id or a tag name; no tag '$v' exists " +
                      "(see cdc_tag / `t$tags`)"))
              }
            expand(alias, CdcApply.readSnapshotAt(spark, root, batch),
              s"as of version $batch ('$v')")
          case (None, Some(t)) =>
            val millis = asOfMillis(t)
            expand(alias, CdcApply.readSnapshotAsOf(spark, root, millis),
              s"as of timestamp $millis")
          case (None, None) =>
            expand(alias, CdcApply.readSnapshot(spark, root), "(empty)",
              statsRoot = Some(root))
        }

      case u: UnresolvedRelation
          if !u.isStreaming &&
            CdcSql.rootFor(u.multipartIdentifier).isDefined =>
        val root = CdcSql.rootFor(u.multipartIdentifier).get
        expand(u.multipartIdentifier.last,
          CdcApply.readSnapshot(spark, root), "(empty)",
          statsRoot = Some(root))

      case MetaTarget(alias, df) =>
        SubqueryAlias(alias, df.queryExecution.analyzed)

      // STREAMING read of a registered name tails the change feed:
      // `spark.readStream.table("orders_cdc")` expands to
      // readChangesStream's file-stream source over the changelog —
      // at-least-once delivery of every accepted event, deletes as
      // flagged rows, the consumer's checkpoint tracking position.
      // Tables without a changelog refuse with the remedy.
      case u: UnresolvedRelation
          if u.isStreaming &&
            CdcSql.rootFor(u.multipartIdentifier).isDefined =>
        val name = u.multipartIdentifier.mkString(".")
        val root = CdcSql.rootFor(u.multipartIdentifier).get
        CdcApply.readChangesStream(spark, root) match {
          case Some(df) => SubqueryAlias(u.multipartIdentifier.last,
            df.queryExecution.analyzed)
          case None => throw new UnsupportedOperationException(
            s"streaming read of CDC table '$name' needs its changelog: " +
              "apply with changelog = true (readChangesStream contract)")
        }
    }

  private def writeDenied(name: String): Throwable =
    new UnsupportedOperationException(
      s"CDC table '$name' is written through CdcApply.applyBatch, " +
        "not SQL DML — applies carry the merge/replay/change-feed " +
        "semantics a raw INSERT/UPDATE/DELETE/MERGE would bypass")
}
