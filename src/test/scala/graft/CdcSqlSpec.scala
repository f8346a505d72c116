package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{CdcApply, CdcSql}

/** The SQL-name surface over CDC tables (CdcSql + CdcTableResolution):
  * registered names resolve to the LIVE snapshot at analysis time, time
  * travel rides the standard `VERSION AS OF` / `TIMESTAMP AS OF`
  * syntax, SQL DML is refused, and real catalog objects shadow
  * registered names.
  */
class CdcSqlSpec extends AnyFunSuite with SparkTestBase {

  private def newRoot(): String = java.nio.file.Files
    .createTempDirectory("cdc_sql").toFile.getAbsolutePath

  private def applyB0(root: String): Unit = {
    import spark.implicits._
    val b0 = Seq((1L, 1L, 10.0, false), (2L, 1L, 20.0, false),
      (3L, 1L, 30.0, false))
      .toDF("k", "version", "amount", "deleted")
    assert(CdcApply.applyBatch(b0, 0L, root, Seq("k"), "version",
      Some("deleted"), commitTs = Some(1000L)))
  }

  private def applyB1(root: String): Unit = {
    import spark.implicits._
    val b1 = Seq((1L, 2L, 11.0, false), (3L, 2L, 30.0, true))
      .toDF("k", "version", "amount", "deleted")
    assert(CdcApply.applyBatch(b1, 1L, root, Seq("k"), "version",
      Some("deleted"), commitTs = Some(2000L)))
  }

  test("a registered name resolves to the LIVE snapshot: a later apply " +
    "is visible to the same SQL string with no re-registration") {
    val root = newRoot()
    applyB0(root)
    CdcSql.registerTable(spark, root, "live_t")
    try {
      def state(): Set[(Long, Double)] =
        spark.sql("SELECT k, amount FROM live_t").collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(state() == Set(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
      applyB1(root)
      // same name, no re-registration: k=1 updated, k=3 tombstoned
      assert(state() == Set(1L -> 11.0, 2L -> 20.0))
    } finally CdcSql.unregisterTable("live_t")
  }

  test("VERSION AS OF and TIMESTAMP AS OF resolve through the retained " +
    "manifests") {
    val root = newRoot()
    applyB0(root); applyB1(root)
    CdcSql.registerTable(spark, root, "tt_t")
    try {
      val v0 = spark.sql(
        "SELECT k, amount FROM tt_t VERSION AS OF 0").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(v0 == Set(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
      // logical commit clock: batch 0 at t=1000, batch 1 at t=2000 —
      // "as of 1500" is the batch-0 state
      val t1500 = spark.sql(
        "SELECT k, amount FROM tt_t TIMESTAMP AS OF 1500").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(t1500 == Set(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
      val head = spark.sql(
        "SELECT k, amount FROM tt_t TIMESTAMP AS OF 2000").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(head == Set(1L -> 11.0, 2L -> 20.0))
      // a real timestamp literal takes the cast path: epoch 1.5 s in
      // the session zone (UTC) lands between the two commit instants
      val cast = spark.sql("SELECT k, amount FROM tt_t TIMESTAMP AS OF " +
        "'1970-01-01 00:00:01.5'").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(cast == Set(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
    } finally CdcSql.unregisterTable("tt_t")
  }

  test("SQL DML against a registered CDC name is refused loudly") {
    val root = newRoot()
    applyB0(root)
    CdcSql.registerTable(spark, root, "dml_t")
    try {
      val e = intercept[UnsupportedOperationException] {
        spark.sql(
          "INSERT INTO dml_t VALUES (9, 1, 90.0, false)")
      }
      assert(e.getMessage.contains("applyBatch"), e.getMessage)
      val e2 = intercept[UnsupportedOperationException] {
        spark.sql("DELETE FROM dml_t WHERE k = 1")
      }
      assert(e2.getMessage.contains("applyBatch"), e2.getMessage)
    } finally CdcSql.unregisterTable("dml_t")
  }

  test("a real catalog object shadows a registered CDC name") {
    val root = newRoot()
    applyB0(root)
    CdcSql.registerTable(spark, root, "shadow_t")
    try {
      import spark.implicits._
      Seq((100L, 999.0)).toDF("k", "amount")
        .createOrReplaceTempView("shadow_t")
      try {
        val rows = spark.sql("SELECT k, amount FROM shadow_t").collect()
        assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSet ==
          Set(100L -> 999.0),
          "the temp view must win over the registered CDC name")
      } finally spark.catalog.dropTempView("shadow_t")
      // with the view gone, the CDC name resolves again
      assert(spark.sql("SELECT count(*) AS n FROM shadow_t")
        .collect().head.getLong(0) == 3L)
    } finally CdcSql.unregisterTable("shadow_t")
  }

  test("a self-join of a registered name resolves with independent " +
    "attribute ids") {
    val root = newRoot()
    applyB0(root); applyB1(root)
    CdcSql.registerTable(spark, root, "sj_t")
    try {
      // k=1 (11.0) and k=2 (20.0) live: pairs with a.amount < b.amount
      val pairs = spark.sql(
        "SELECT a.k AS ka, b.k AS kb FROM sj_t a JOIN sj_t b " +
          "ON a.amount < b.amount").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set(1L -> 2L), pairs.toString)
    } finally CdcSql.unregisterTable("sj_t")
  }

  test("metadata tables resolve via the $ suffix convention: history, " +
    "buckets, describe, files") {
    val root = newRoot()
    applyB0(root); applyB1(root)
    CdcSql.registerTable(spark, root, "meta_t")
    try {
      // `t$files`: one row per live parquet file; every listed file
      // exists on disk at its listed size, and total bytes agree with
      // the manifest's write-time stats served by `t$buckets`
      val files = spark.sql(
        "SELECT bucket_id, data_dir, file, bytes FROM `meta_t$files`")
        .collect()
      assert(files.nonEmpty)
      files.foreach { r =>
        val f = new java.io.File(
          s"$root/data/${r.getString(1)}/${r.getString(2)}")
        assert(f.exists && f.length == r.getLong(3), f.toString)
        assert(r.getString(2).endsWith(".parquet"))
      }
      val statBytes = spark.sql(
        "SELECT CAST(SUM(bytes) AS BIGINT) FROM `meta_t$buckets`")
        .head().getLong(0)
      assert(files.map(_.getLong(3)).sum == statBytes,
        "listing and manifest stats disagree")
      val hist = spark.sql(
        "SELECT batch_id, is_current FROM `meta_t$history` " +
          "ORDER BY batch_id").collect()
        .map(r => (r.getLong(0), r.getBoolean(1))).toSeq
      assert(hist == Seq(0L -> false, 1L -> true), hist.toString)
      val desc = spark.sql(
        "SELECT batch_id, num_buckets FROM `meta_t$describe`").collect()
      assert(desc.map(r => (r.getLong(0), r.getInt(1))).toSeq ==
        Seq(1L -> 16), desc.toSeq.toString)
      val nb = spark.sql(
        "SELECT count(*) AS n FROM `meta_t$buckets`").collect()
        .head.getLong(0)
      assert(nb >= 1L, s"expected live buckets, got $nb")
      // unknown suffix or unregistered base: ordinary resolution error,
      // not a silent empty table
      intercept[Exception] {
        spark.sql("SELECT * FROM `meta_t$nope`").collect()
      }
      intercept[Exception] {
        spark.sql("SELECT * FROM `ghost$history`").collect()
      }
    } finally CdcSql.unregisterTable("meta_t")
  }

  test("cdc_changes table function is LIVE (re-resolved per query) " +
    "and cdc_changes_between is bounded by the historical manifest") {
    val root = newRoot()
    applyB0(root)
    CdcSql.registerTable(spark, root, "tvf_t")
    try {
      def feed(sql: String): Set[(Long, Long, Boolean)] =
        spark.sql(sql).collect()
          .map(r => (r.getAs[Long]("k"), r.getAs[Long]("version"),
            r.getAs[Boolean]("deleted"))).toSet
      // since batch 0: caught up, empty
      assert(feed(
        "SELECT * FROM cdc_changes('tvf_t', 0)") == Set.empty)
      applyB1(root)
      // SAME SQL string now sees batch 1's events — no re-registration,
      // no view refresh (the temp-view factory would still be empty)
      assert(feed("SELECT * FROM cdc_changes('tvf_t', 0)") ==
        Set((1L, 2L, false), (3L, 2L, true)))
      // bounded diff against the RETAINED batch-0 manifest: only the
      // insert load, batch 1 excluded
      assert(feed("SELECT * FROM cdc_changes_between('tvf_t', -1, 0)") ==
        Set((1L, 1L, false), (2L, 1L, false), (3L, 1L, false)))
      val e = intercept[Exception] {
        spark.sql("SELECT * FROM cdc_changes('ghost', 0)").collect()
      }
      assert(e.getMessage.contains("not a registered"), e.getMessage)
      // introspection: the registered name appears with its watermark
      val listed = spark.sql(
        "SELECT name, current_batch FROM cdc_tables() " +
          "WHERE name = 'tvf_t'").collect()
      assert(listed.map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq("tvf_t" -> 1L), listed.toSeq.toString)
    } finally CdcSql.unregisterTable("tvf_t")
  }

  test("spark.readStream on a registered name tails the changelog; " +
    "a changelog-less table refuses with the remedy") {
    import spark.implicits._
    val root = newRoot()
    val b0 = Seq((1L, 1L, 10.0, false), (2L, 1L, 20.0, false))
      .toDF("k", "version", "amount", "deleted")
    assert(CdcApply.applyBatch(b0, 0L, root, Seq("k"), "version",
      Some("deleted"), changelog = true))
    CdcSql.registerTable(spark, root, "stream_t")
    try {
      val q = spark.readStream.table("stream_t")
        .writeStream.format("memory")
        .queryName("cdc_sql_stream_sink").outputMode("append").start()
      try {
        q.processAllAvailable()
        def got() = spark.table("cdc_sql_stream_sink")
          .select("k", "version", "deleted")
          .as[(Long, Long, Boolean)].collect().toSet
        assert(got() == Set((1L, 1L, false), (2L, 1L, false)))
        // a later changelog'd apply reaches the RUNNING stream
        val b1 = Seq((1L, 2L, 11.0, false)).toDF(
          "k", "version", "amount", "deleted")
        assert(CdcApply.applyBatch(b1, 1L, root, Seq("k"), "version",
          Some("deleted"), changelog = true))
        q.processAllAvailable()
        assert(got().contains((1L, 2L, false)))
      } finally q.stop()
    } finally CdcSql.unregisterTable("stream_t")
    // changelog-less table: loud refusal naming the remedy
    val plain = newRoot()
    applyB0(plain)
    CdcSql.registerTable(spark, plain, "nolog_t")
    try {
      val e = intercept[UnsupportedOperationException] {
        spark.readStream.table("nolog_t")
          .writeStream.format("memory").queryName("nolog_sink")
          .outputMode("append").start()
      }
      assert(e.getMessage.contains("changelog = true"), e.getMessage)
    } finally CdcSql.unregisterTable("nolog_t")
  }

  test("the declared SQL queries equal their Scala-API twins on the " +
    "same roots (q_sql_cdc / _timetravel / _changes)") {
    val q = SparkEntry.queries
    def rows(name: String): Seq[Seq[Any]] =
      q(name)(spark, sfDir).collect().map(_.toSeq.toSeq).toSeq
    assert(rows("q_sql_cdc") == rows("q_cdc_merge"))
    assert(rows("q_sql_cdc_timetravel") == rows("q_cdc_timetravel"))
    assert(rows("q_sql_cdc_changes") == rows("q_cdc_changes"))
  }

  test("changesView materializes the feed for SQL; an unregistered or " +
    "empty table raises a clear error") {
    val root = newRoot()
    applyB0(root); applyB1(root)
    CdcSql.registerTable(spark, root, "feed_t")
    try {
      val v = CdcSql.changesView(spark, "feed_t", 0L)
      assert(v == "feed_t_changes")
      val feed = spark.sql(
        s"SELECT k, version, deleted FROM $v ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      assert(feed == Seq((1L, 2L, false), (3L, 2L, true)))
    } finally CdcSql.unregisterTable("feed_t")
    val e = intercept[IllegalStateException] {
      CdcSql.changesView(spark, "feed_t", 0L)
    }
    assert(e.getMessage.contains("not a registered"), e.getMessage)
    val fresh = newRoot()
    CdcSql.registerTable(spark, fresh, "empty_t")
    try {
      val e2 = intercept[IllegalStateException] {
        spark.sql("SELECT * FROM empty_t").collect()
      }
      assert(e2.getMessage.contains("no readable snapshot"),
        e2.getMessage)
    } finally CdcSql.unregisterTable("empty_t")
  }

  test("SHOW TABLES lists registered CDC names alongside catalog " +
    "objects, honors patterns, and drops them on unregister") {
    val root = newRoot()
    applyB0(root)
    CdcSql.registerTable(spark, root, "vis_cdc_t")
    try {
      import spark.implicits._
      Seq((1, 2)).toDF("a", "b").createOrReplaceTempView("vis_view")
      try {
        def listed(): Set[(String, String, Boolean)] =
          spark.sql("SHOW TABLES").collect()
            .map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
            .toSet
        val all = listed()
        // the CDC name appears, session-global like a temp view but
        // NOT temporary; real catalog objects still listed
        assert(all.contains(("", "vis_cdc_t", false)), all.toString)
        assert(all.contains(("", "vis_view", true)), all.toString)
        // pattern filtering applies to CDC names like catalog names
        val pat = spark.sql("SHOW TABLES LIKE 'vis_cdc*'").collect()
          .map(_.getString(1)).toSet
        assert(pat == Set("vis_cdc_t"), pat.toString)
        val none = spark.sql("SHOW TABLES LIKE 'zz_nope*'").collect()
        assert(none.isEmpty, none.toSeq.toString)
      } finally spark.catalog.dropTempView("vis_view")
    } finally CdcSql.unregisterTable("vis_cdc_t")
    // unregistered: gone from the listing
    val after = spark.sql("SHOW TABLES").collect()
      .map(_.getString(1)).toSet
    assert(!after.contains("vis_cdc_t"), after.toString)
  }

  test("DESCRIBE serves the snapshot schema of a registered name; " +
    "EXTENDED appends the CDC information section") {
    val root = newRoot()
    applyB0(root); applyB1(root)
    CdcSql.registerTable(spark, root, "desc_cdc_t")
    try {
      // the snapshot schema: internal and tombstone-flag columns are
      // already stripped by readSnapshot (dead rows are filtered, so
      // the flag column carries no information for readers)
      val cols = spark.sql("DESCRIBE desc_cdc_t").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      assert(cols == Seq("k" -> "bigint", "version" -> "bigint",
        "amount" -> "double"), cols.toString)
      val ext = spark.sql("DESCRIBE EXTENDED desc_cdc_t").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      assert(ext.take(3) == cols, ext.toString)
      assert(ext.contains("Root" -> root), ext.toString)
      assert(ext.contains("Current Batch" -> "1"), ext.toString)
      assert(ext.contains("Commit Ts" -> "2000"), ext.toString)
      assert(ext.contains("Num Buckets" -> "16"), ext.toString)
    } finally CdcSql.unregisterTable("desc_cdc_t")
  }

  test("cdc_tables() carries schema-adjacent metadata: commit clock " +
    "and bucket count") {
    val root = newRoot()
    applyB0(root)
    CdcSql.registerTable(spark, root, "meta2_t")
    try {
      val row = spark.sql("SELECT current_batch, commit_ts, " +
        "num_buckets FROM cdc_tables() WHERE name = 'meta2_t'")
        .collect().head
      assert((row.getLong(0), row.getLong(1), row.getInt(2)) ==
        ((0L, 1000L, 16)), row.toString)
    } finally CdcSql.unregisterTable("meta2_t")
  }

  test("cdc_compact('t') from SQL folds pending merge-on-read deltas " +
    "under the maintenance fence; content is unchanged") {
    val root = newRoot()
    import spark.implicits._
    val b0 = Seq((1L, 1L, 10.0, false), (2L, 1L, 20.0, false))
      .toDF("k", "version", "amount", "deleted")
    assert(CdcApply.applyBatch(b0, 0L, root, Seq("k"), "version",
      Some("deleted"), maxDeltas = 8))
    val b1 = Seq((1L, 2L, 11.0, false)).toDF(
      "k", "version", "amount", "deleted")
    assert(CdcApply.applyBatch(b1, 1L, root, Seq("k"), "version",
      Some("deleted"), maxDeltas = 8))
    CdcSql.registerTable(spark, root, "compact_t")
    try {
      def pending(): Int = spark.sql(
        "SELECT pending_deltas FROM `compact_t$describe`")
        .collect().head.getInt(0)
      assert(pending() >= 1, "setup must leave a pending delta")
      val st = spark.sql("SELECT * FROM cdc_compact('compact_t')")
        .collect().head
      assert(st.getString(0) == "compact_t" && st.getBoolean(1),
        st.toString)
      assert(pending() == 0L, "compaction must clear pending deltas")
      // logical content untouched; watermark never moved
      val state = spark.sql(
        "SELECT k, amount FROM compact_t ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(state == Seq(1L -> 11.0, 2L -> 20.0), state.toString)
      assert(CdcApply.currentVersion(spark, root).contains(1L))
      // idempotent: nothing left to fold
      assert(!spark.sql("SELECT * FROM cdc_compact('compact_t')")
        .collect().head.getBoolean(1))
    } finally CdcSql.unregisterTable("compact_t")
  }

  test("cdc_vacuum and cdc_rebucket from SQL: retention shrinks the " +
    "time-travel window, rebucketing changes the live layout only") {
    val root = newRoot()
    applyB0(root); applyB1(root)
    CdcSql.registerTable(spark, root, "vac_t")
    try {
      // rebucket 16 -> 4: layout changes, content does not
      val rb = spark.sql("SELECT * FROM cdc_rebucket('vac_t', 4)")
        .collect().head
      assert(rb.getBoolean(1) && rb.getInt(2) == 4, rb.toString)
      assert(CdcApply.numBuckets(spark, root).contains(4))
      val state = spark.sql(
        "SELECT k, amount FROM vac_t ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(state == Seq(1L -> 11.0, 2L -> 20.0), state.toString)
      // cdc_zorder: a content-neutral layout generation commits
      val zo = spark.sql("SELECT * FROM cdc_zorder('vac_t', 'k', " +
        "'amount')").collect().head
      assert(zo.getAs[Boolean]("clustered"), zo.toString)
      assert(spark.sql("SELECT k, amount FROM vac_t ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
        state)
      // vacuum keep=1: batch 0 manifests + data leave; VERSION AS OF 0
      // stops resolving, the head stays intact
      val vac = spark.sql("SELECT * FROM cdc_vacuum('vac_t', 1)")
        .collect().head
      assert(vac.getLong(1) >= 1L, vac.toString)
      intercept[Exception] {
        spark.sql("SELECT * FROM vac_t VERSION AS OF 0").collect()
      }
      assert(spark.sql("SELECT count(*) AS n FROM vac_t")
        .collect().head.getLong(0) == 2L)
    } finally CdcSql.unregisterTable("vac_t")
  }

  test("cdc_rename_column from SQL: metadata-only rename surfaces " +
    "through the registered name; the old column stops resolving; " +
    "replay reports false") {
    val root = newRoot()
    applyB0(root); applyB1(root)
    CdcSql.registerTable(spark, root, "ren_t")
    try {
      val rn = spark.sql(
        "SELECT * FROM cdc_rename_column('ren_t', 'amount', 'amt')")
        .collect().head
      assert(rn.getAs[Boolean]("renamed"), rn.toString)
      val state = spark.sql("SELECT k, amt FROM ren_t ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(state == Seq(1L -> 11.0, 2L -> 20.0), state.toString)
      intercept[Exception] {
        spark.sql("SELECT amount FROM ren_t").collect()
      }
      assert(!spark.sql(
        "SELECT * FROM cdc_rename_column('ren_t', 'amt', 'amt')")
        .collect().head.getAs[Boolean]("renamed"))
    } finally CdcSql.unregisterTable("ren_t")
  }

  test("cdc_reseed_mirror from SQL rebuilds the mirror at the " +
    "source's watermark") {
    val src = newRoot(); val dst = newRoot()
    applyB0(src); applyB1(src)
    CdcSql.registerTable(spark, src, "rs_src")
    CdcSql.registerTable(spark, dst, "rs_dst")
    try {
      val st = spark.sql(
        "SELECT * FROM cdc_reseed_mirror('rs_src', 'rs_dst')")
        .collect().head
      assert(st.getBoolean(2), st.toString)
      assert(CdcApply.currentVersion(spark, dst).contains(1L))
      val mirror = spark.sql(
        "SELECT k, amount FROM rs_dst ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(mirror == Seq(1L -> 11.0, 2L -> 20.0), mirror.toString)
    } finally {
      CdcSql.unregisterTable("rs_src")
      CdcSql.unregisterTable("rs_dst")
    }
  }

  test("SQL maintenance on a governed root refuses every principal " +
    "but the DataAdmin, with an audit record") {
    import graft.governance._
    val root = newRoot()
    applyB0(root)
    GovernanceCatalog.registerLocation(root, "cdc_sql_db", "gov_maint_t")
    CdcSql.registerTable(spark, root, "gov_maint_t")
    try {
      val e = intercept[AccessDeniedException] {
        Governance.withPrincipal(spark, Analyst) {
          spark.sql("SELECT * FROM cdc_compact('gov_maint_t')").collect()
        }
      }
      assert(e.getMessage.contains("cdc_compact"), e.getMessage)
      assert(AuditLog.events.exists(ev =>
        ev.funcName == "maintenance-denied" && ev.principal == "Analyst"),
        "denial must leave an audit record")
      // unset principal = Anonymous: denied too (default-deny posture)
      intercept[AccessDeniedException] {
        spark.sql("SELECT * FROM cdc_vacuum('gov_maint_t', 2)").collect()
      }
      // the DataAdmin runs maintenance (a no-op compact here)
      Governance.withPrincipal(spark, DataAdmin) {
        spark.sql("SELECT * FROM cdc_compact('gov_maint_t')").collect()
      }
    } finally CdcSql.unregisterTable("gov_maint_t")
  }

  test("named tags: SQL lifecycle, VERSION AS OF '<tag>', metadata " +
      "listing, vacuum pinning, and loud failure modes") {
    val root = newRoot()
    applyB0(root)
    applyB1(root)
    CdcSql.registerTable(spark, root, "tag_t")
    try {
      spark.sql("SELECT * FROM cdc_tag('tag_t', 'stable', 0)").collect()
      // the tag resolves exactly like the numeric form
      def rows(sql: String) = spark.sql(sql).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val viaTag = rows(
        "SELECT k, amount FROM tag_t VERSION AS OF 'stable' ORDER BY k")
      assert(viaTag == rows(
        "SELECT k, amount FROM tag_t VERSION AS OF 0 ORDER BY k"))
      assert(viaTag.map(_._1) == Seq(1L, 2L, 3L))
      // `t$tags` metadata listing
      val listed = spark.sql("SELECT tag, batch FROM `tag_t$tags`")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(listed == Seq("stable" -> 0L))
      // duplicate create and numeric-shaped names refuse loudly
      intercept[IllegalStateException] {
        spark.sql("SELECT * FROM cdc_tag('tag_t', 'stable', 1)")
      }
      intercept[IllegalArgumentException] {
        CdcApply.tag(spark, root, "0", 0L)
      }
      intercept[IllegalArgumentException] {
        CdcApply.tag(spark, root, "nosuch", 99L)
      }
      // vacuum PINS the tagged batch: keep=1 alone would sweep batch 0
      CdcApply.vacuum(spark, root, keep = 1)
      assert(CdcApply.readSnapshotAt(spark, root, 0L).isDefined,
        "vacuum swept a tagged batch")
      // untag releases the pin; the next vacuum sweeps it
      spark.sql("SELECT * FROM cdc_untag('tag_t', 'stable')").collect()
      CdcApply.vacuum(spark, root, keep = 1)
      assert(CdcApply.readSnapshotAt(spark, root, 0L).isEmpty,
        "untagged batch survived retention")
      // a dangling tag read names the remedy
      val e = intercept[UnsupportedOperationException] {
        spark.sql("SELECT * FROM tag_t VERSION AS OF 'stable'")
      }
      assert(e.getMessage.contains("cdc_tag"))
      // traversal-shaped names never build a Path outside tags/: the
      // contract is "no such tag", same as any name tag() could not
      // create
      assert(CdcApply.resolveTag(spark, root, "../current").isEmpty)
      assert(CdcApply.resolveTag(spark, root, "a/b").isEmpty)
      val et = intercept[UnsupportedOperationException] {
        spark.sql("SELECT * FROM tag_t VERSION AS OF '../current'")
      }
      assert(et.getMessage.contains("cdc_tag"))
    } finally CdcSql.unregisterTable("tag_t")
  }

  test("cdc_apply ingests a batch from a SQL-visible relation: merge " +
      "contract from the manifest, replay idempotence, gated writes") {
    import spark.implicits._
    val root = newRoot()
    applyB0(root)
    CdcSql.registerTable(spark, root, "apply_t")
    try {
      def state() = spark.sql(
        "SELECT k, amount FROM apply_t ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      // the batch arrives as a TEMP VIEW — SQL is the only interface
      Seq((1L, 2L, 11.0, false), (3L, 2L, 30.0, true))
        .toDF("k", "version", "amount", "deleted")
        .createOrReplaceTempView("apply_src")
      val row = spark.sql(
        "SELECT * FROM cdc_apply('apply_t', 'apply_src')").head()
      assert(row.getAs[Long]("batch_id") == 1L &&
        row.getAs[Boolean]("applied") &&
        row.getAs[Long]("current_batch") == 1L, row.toString)
      assert(state() == Seq(1L -> 11.0, 2L -> 20.0))
      // an explicit batch id replays through the guard: no-op, loud
      // applied=false, content untouched
      Seq((1L, 9L, 99.0, false))
        .toDF("k", "version", "amount", "deleted")
        .createOrReplaceTempView("apply_src")
      val replay = spark.sql(
        "SELECT * FROM cdc_apply('apply_t', 'apply_src', 1)").head()
      assert(!replay.getAs[Boolean]("applied"), replay.toString)
      assert(state() == Seq(1L -> 11.0, 2L -> 20.0))
      // on a GOVERNED root, an apply is a write: non-admins denied
      // (the root is a fresh temp dir, so the registration is inert
      // for every other suite)
      graft.governance.GovernanceCatalog.registerLocation(
        root, "gov_apply_db", "gov_apply_t")
      intercept[graft.governance.AccessDeniedException] {
        graft.governance.Governance.withPrincipal(spark,
            graft.governance.Analyst) {
          spark.sql("SELECT * FROM cdc_apply('apply_t', 'apply_src')")
            .collect()
        }
      }
    } finally CdcSql.unregisterTable("apply_t")
  }

  test("cdc_export_delta publishes the snapshot from SQL: committed " +
      "version, no-change NULL, admin gate on governed roots") {
    import spark.implicits._
    val root = newRoot()
    applyB0(root)
    CdcSql.registerTable(spark, root, "exp_t")
    val delta = java.nio.file.Files
      .createTempDirectory("cdc_sql_delta").toFile.getAbsolutePath
    try {
      val r0 = spark.sql(
        s"SELECT * FROM cdc_export_delta('exp_t', '$delta')").head()
      assert(r0.getAs[Long]("committed_version") == 0L, r0.toString)
      val got = graft.sources.DeltaInterop.readDelta(spark, delta)
        .select("k", "amount").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got == Set(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
      // unchanged table: NULL committed_version, no new log entry
      val r1 = spark.sql(
        s"SELECT * FROM cdc_export_delta('exp_t', '$delta')").head()
      assert(r1.isNullAt(r1.fieldIndex("committed_version")),
        r1.toString)
      // governed root: export moves cell data off the governed
      // location — non-admin denied
      graft.governance.GovernanceCatalog.registerLocation(
        root, "gov_exp_db", "gov_exp_t")
      intercept[graft.governance.AccessDeniedException] {
        graft.governance.Governance.withPrincipal(spark,
            graft.governance.Analyst) {
          spark.sql(
            s"SELECT * FROM cdc_export_delta('exp_t', '$delta')")
            .collect()
        }
      }
    } finally CdcSql.unregisterTable("exp_t")
  }

  test("delta_scan / iceberg_scan read foreign-lake tables from SQL " +
      "alone, re-resolved per statement; iceberg_scan takes a " +
      "snapshot id; wrong arities refuse") {
    import spark.implicits._
    val root = newRoot()
    applyB0(root)
    val delta = java.nio.file.Files
      .createTempDirectory("sql_dscan").toFile.getAbsolutePath
    val ice = java.nio.file.Files
      .createTempDirectory("sql_iscan").toFile.getAbsolutePath
    graft.sources.DeltaInterop.exportSnapshot(spark, root, delta)
    graft.sources.IcebergV2.exportIncremental(spark, root, ice)
    def vals(sql: String): Set[(Long, Double)] =
      spark.sql(sql).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[Double]("amount"))).toSet
    val b0 = Set(1L -> 10.0, 2L -> 20.0, 3L -> 30.0)
    assert(vals(s"SELECT k, amount FROM delta_scan('$delta')") == b0)
    assert(vals(s"SELECT k, amount FROM iceberg_scan('$ice')") == b0)
    // the table moves; the SAME SQL strings serve the new state
    // (analysis-time resolution), and the old snapshot stays
    // addressable by id
    assert(CdcApply.applyBatch(
      Seq((1L, 2L, 11.0, false)).toDF("k", "version", "amount",
        "deleted"),
      1L, root, Seq("k"), "version", Some("deleted"), numBuckets = 2))
    graft.sources.DeltaInterop.exportSnapshot(spark, root, delta)
    graft.sources.IcebergV2.exportIncremental(spark, root, ice)
    val b1 = Set(1L -> 11.0, 2L -> 20.0, 3L -> 30.0)
    assert(vals(s"SELECT k, amount FROM delta_scan('$delta')") == b1)
    assert(vals(s"SELECT k, amount FROM iceberg_scan('$ice')") == b1)
    assert(vals(s"SELECT k, amount FROM iceberg_scan('$ice', 0)") == b0)
    // Delta time travel from SQL: version 0 = the first export
    assert(vals(s"SELECT k, amount FROM delta_scan('$delta', 0)") == b0)
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM delta_scan('/a', 1, 2)") }
    assert(e.getMessage.contains("1 or 2 arguments"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM iceberg_scan()") }
    assert(e2.getMessage.contains("1 or 2 arguments"), e2.getMessage)
  }

  test("cdc_export_iceberg publishes the snapshot from SQL: committed " +
      "snapshot id, no-change NULL, admin gate on governed roots") {
    val root = newRoot()
    applyB0(root)
    CdcSql.registerTable(spark, root, "exp_ice_t")
    val ice = java.nio.file.Files
      .createTempDirectory("cdc_sql_ice").toFile.getAbsolutePath
    try {
      val r0 = spark.sql(
        s"SELECT * FROM cdc_export_iceberg('exp_ice_t', '$ice')").head()
      assert(r0.getAs[Long]("committed_snapshot") == 0L, r0.toString)
      val got = graft.sources.IcebergInterop.readIceberg(spark, ice)
        .select("k", "amount").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got == Set(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
      val r1 = spark.sql(
        s"SELECT * FROM cdc_export_iceberg('exp_ice_t', '$ice')").head()
      assert(r1.isNullAt(r1.fieldIndex("committed_snapshot")),
        r1.toString)
      graft.governance.GovernanceCatalog.registerLocation(
        root, "gov_ice_db", "gov_ice_t")
      intercept[graft.governance.AccessDeniedException] {
        graft.governance.Governance.withPrincipal(spark,
            graft.governance.Analyst) {
          spark.sql(
            s"SELECT * FROM cdc_export_iceberg('exp_ice_t', '$ice')")
            .collect()
        }
      }
    } finally CdcSql.unregisterTable("exp_ice_t")
  }

  test("cdc_register / cdc_unregister drive the name lifecycle from " +
      "SQL; registering a root with no committed table refuses") {
    val root = newRoot()
    applyB0(root)
    try {
      val row = spark.sql(
        s"SELECT * FROM cdc_register('sql_reg_t', '$root')").head()
      assert(row.getAs[String]("name") == "sql_reg_t")
      assert(row.getAs[Long]("current_batch") == 0L)
      // the name reads immediately — the full SQL-only lifecycle
      assert(spark.sql("SELECT COUNT(*) AS n FROM sql_reg_t")
        .head().getAs[Long]("n") == 3L)
      val gone = spark.sql(
        "SELECT * FROM cdc_unregister('sql_reg_t')").head()
      assert(gone.getAs[Boolean]("was_registered"))
      intercept[Exception] {
        spark.sql("SELECT COUNT(*) FROM sql_reg_t").collect()
      }
      // idempotent unregister reports the absence
      assert(!spark.sql("SELECT * FROM cdc_unregister('sql_reg_t')")
        .head().getAs[Boolean]("was_registered"))
      // an empty dir is not a CDC table: refuse at registration, not
      // at first confusing read
      val empty = newRoot()
      intercept[IllegalArgumentException] {
        spark.sql(
          s"SELECT * FROM cdc_register('sql_reg_bad', '$empty')")
      }
    } finally CdcSql.unregisterTable("sql_reg_t")
  }

  test("registry scoping: two sessions bind the SAME name to different " +
    "roots without clashing; registerTableGlobally is the shared " +
    "fallback, and a session binding shadows it") {
    val rootA = newRoot(); applyB0(rootA)
    val rootB = newRoot()
    // rootB: same schema, one differing row — so which root a name
    // resolves to is observable from row content
    locally {
      import spark.implicits._
      assert(CdcApply.applyBatch(
        Seq((7L, 1L, 70.0, false)).toDF("k", "version", "amount",
          "deleted"),
        0L, rootB, Seq("k"), "version", Some("deleted"),
        commitTs = Some(1000L)))
    }
    def ks(s: org.apache.spark.sql.SparkSession, n: String): Set[Long] =
      s.sql(s"SELECT k FROM $n").collect().map(_.getLong(0)).toSet
    val clone = spark.newSession()
    CdcSql.registerTable(spark, rootA, "scoped_t")
    try {
      // isolation: the binding is the registering SESSION's — the
      // clone does not resolve it at all
      intercept[org.apache.spark.sql.AnalysisException] {
        ks(clone, "scoped_t")
      }
      // the same name binds to a DIFFERENT root in the clone, and the
      // two sessions' views never clash (the multi-tenant contract)
      CdcSql.registerTable(clone, rootB, "scoped_t")
      assert(ks(spark, "scoped_t") == Set(1L, 2L, 3L))
      assert(ks(clone, "scoped_t") == Set(7L))
      // the documented engine-wide fallback: a global binding resolves
      // in every session that has no binding of its own...
      CdcSql.registerTableGlobally(rootB, "shared_t")
      assert(ks(spark, "shared_t") == Set(7L))
      assert(ks(clone, "shared_t") == Set(7L))
      // ...and a session binding SHADOWS it for that session only
      CdcSql.registerTable(spark, rootA, "shared_t")
      assert(ks(spark, "shared_t") == Set(1L, 2L, 3L))
      assert(ks(clone, "shared_t") == Set(7L),
        "a session binding must not leak into other sessions")
    } finally {
      CdcSql.unregisterTable("scoped_t")
      CdcSql.unregisterTable("shared_t")
    }
  }
}
