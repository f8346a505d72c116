package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.streaming.CdcSql

/** RESTORE ([[graft.streaming.CdcApply.restore]]): roll a table's
  * logical state back to a retained batch, committed as a NEW batch so
  * the replay-guard watermark stays monotone and the change feed
  * reports exactly the logical diff — never a silent rewind of the head.
  */
class CdcRestoreSpec extends AnyFunSuite with SparkTestBase {

  private val C = graft.streaming.CdcApply

  private def tmp(prefix: String): String = java.nio.file.Files
    .createTempDirectory(prefix).toFile.getAbsolutePath

  private def apply(root: String,
      rows: Seq[(Long, Long, String, Boolean)], id: Long,
      maxDeltas: Int = 0): Boolean = {
    import spark.implicits._
    C.applyBatch(rows.toDF("k", "version", "v", "deleted"), id, root,
      Seq("k"), "version", Some("deleted"), numBuckets = 4,
      commitTs = Some(1000L * (id + 1)), maxDeltas = maxDeltas)
  }

  private def live(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
    df.collect().map(r =>
      r.getAs[Long]("k") -> r.getAs[String]("v")).toMap

  // batch 0: keys 1..6; batch 1: update k1, delete k2; batch 2:
  // insert k9, update k3 — restore targets batch 0 and batch 1
  private val b0 = (1L to 6L).map(k => (k, 10L, s"v$k", false))
  private val b1 = Seq((1L, 20L, "updated", false), (2L, 20L, "", true))
  private val b2 = Seq((9L, 10L, "v9", false), (3L, 20L, "edited", false))
  private val state0 = (1L to 6L).map(k => k -> s"v$k").toMap
  private val state1 = state0 - 2L + (1L -> "updated")
  private val state2 = state1 + (9L -> "v9") + (3L -> "edited")

  private def build(maxDeltas: Int = 0): String = {
    val root = tmp("restore")
    Seq(b0, b1, b2).zipWithIndex.foreach { case (rows, id) =>
      assert(apply(root, rows, id.toLong, maxDeltas)) }
    root
  }

  test("restore round-trips the snapshot, advances the head, and a " +
      "second restore to the same target is a no-op") {
    val root = build()
    assert(live(C.readSnapshot(spark, root).get) == state2)
    assert(C.restore(spark, root, 0L, commitTs = Some(9000L))
      .contains(3L))
    assert(C.currentVersion(spark, root).contains(3L),
      "head must ADVANCE, never rewind")
    assert(live(C.readSnapshot(spark, root).get) == state0)
    // restored rows keep their original version values verbatim
    assert(C.readSnapshot(spark, root).get
      .select(max(col("version"))).head().getLong(0) == 10L)
    // state now equals batch 0 → a repeat restore commits nothing
    assert(C.restore(spark, root, 0L).isEmpty)
    assert(C.currentVersion(spark, root).contains(3L))
    // restoring to the current head is likewise a no-op
    assert(C.restore(spark, root, 3L).isEmpty)
  }

  test("the change feed reports exactly the logical diff: reverts and " +
      "resurrections stamped with the restore batch, tombstones for " +
      "rows added since, silence for unchanged rows") {
    val root = build()
    assert(C.restore(spark, root, 0L).contains(3L))
    val feed = C.changesSince(spark, root, 2L).get.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
        r.getAs[Boolean]("deleted"), r.getAs[Long]("_change_batch")))
      .toSet
    assert(feed == Set(
      (1L, "v1", false, 3L),     // reverted update
      (2L, "v2", false, 3L),     // resurrected delete
      (3L, "v3", false, 3L),     // reverted batch-2 edit
      (9L, "v9", true, 3L)),     // row added since → tombstone
      s"feed was $feed")
    // unchanged keys (4,5,6) kept their original batch-0 stamps: a
    // consumer positioned before batch 0 sees them stamped 0, not 3
    val stamps = C.changesSince(spark, root, -1L).get
      .filter(col("k").isin(4L, 5L, 6L))
      .select(col("_change_batch")).distinct().collect()
      .map(_.getLong(0)).toSet
    assert(stamps == Set(0L), s"unchanged rows restamped: $stamps")
  }

  test("time travel is preserved across a restore, and the restore " +
      "commit itself is a travel target") {
    val root = build()
    assert(C.restore(spark, root, 1L).contains(3L))
    assert(live(C.readSnapshotAt(spark, root, 0L).get) == state0)
    assert(live(C.readSnapshotAt(spark, root, 1L).get) == state1)
    assert(live(C.readSnapshotAt(spark, root, 2L).get) == state2)
    assert(live(C.readSnapshotAt(spark, root, 3L).get) == state1)
  }

  test("restoreAsOf resolves the commit clock; future batches still " +
      "win latest-wins after a restore") {
    val root = build()
    // commitTs were 1000/2000/3000 — as of 2500 resolves to batch 1
    assert(C.restoreAsOf(spark, root, 2500L).contains(3L))
    assert(live(C.readSnapshot(spark, root).get) == state1)
    // restore-then-continue: a later batch with a higher version beats
    // the restored (old-version) row
    assert(apply(root, Seq((1L, 30L, "newer", false)), 4L))
    assert(live(C.readSnapshot(spark, root).get) ==
      state1 + (1L -> "newer"))
    intercept[IllegalArgumentException] {
      C.restoreAsOf(spark, root, 10L) // before every commit
    }
  }

  test("only buckets that differ are rewritten — untouched buckets " +
      "keep their old data directories") {
    val root = build()
    val before = C.buckets(spark, root).collect()
      .map(r => r.getAs[Int]("bucket_id") -> r.getAs[String]("data_dir"))
      .toMap
    assert(C.restore(spark, root, 1L).contains(3L))
    val after = C.buckets(spark, root).collect()
      .map(r => r.getAs[Int]("bucket_id") -> r.getAs[String]("data_dir"))
      .toMap
    val rewritten = after.filter { case (b, d) => !before.get(b).contains(d) }
    assert(rewritten.nonEmpty, "some bucket must have been rewritten")
    assert(rewritten.keySet != after.keySet,
      "restore of a 2-key diff must not rewrite every bucket")
    rewritten.values.foreach(d =>
      assert(d.matches("v3-[0-9a-f]{8}/.*"),
        s"rewritten dir $d not tagged v3"))
  }

  test("merge-on-read restore equals the copy-on-write twin") {
    val cow = build(maxDeltas = 0)
    val mor = build(maxDeltas = 8)
    assert(C.restore(spark, cow, 0L).contains(3L))
    assert(C.restore(spark, mor, 0L).contains(3L))
    assert(live(C.readSnapshot(spark, mor).get) ==
      live(C.readSnapshot(spark, cow).get))
    def feed(root: String) = C.changesSince(spark, root, 2L).get
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
        r.getAs[Boolean]("deleted"))).toSet
    assert(feed(mor) == feed(cow))
  }

  test("append-only tables refuse a restore that would delete; " +
      "vacuumed targets refuse loudly") {
    import spark.implicits._
    val root = tmp("restore_ao")
    // no deletedCol: an append-only table
    C.applyBatch(Seq((1L, 10L, "a")).toDF("k", "version", "v"), 0L,
      root, Seq("k"), "version", None, numBuckets = 2)
    C.applyBatch(Seq((2L, 10L, "b")).toDF("k", "version", "v"), 1L,
      root, Seq("k"), "version", None, numBuckets = 2)
    intercept[IllegalArgumentException] {
      C.restore(spark, root, 0L) // would need to delete k=2
    }
    val vac = build()
    C.vacuum(spark, vac, keep = 2)
    intercept[IllegalArgumentException] {
      C.restore(spark, vac, 0L) // batch 0's manifest was swept
    }
  }

  test("deleteWhere tombstones exactly the matching live rows as one " +
      "batch: feed reports them, head advances, repeat no-ops, a " +
      "higher-versioned upsert reclaims the key") {
    import spark.implicits._
    val root = build() // state2: 1->updated(v20) 3..6->v_(v10,..) 9? no
    assert(C.deleteWhere(spark, root, col("k") % 2 === 0,
      commitTs = Some(9000L)).contains(3L))
    assert(live(C.readSnapshot(spark, root).get) ==
      state2.filter { case (k, _) => k % 2 != 0 })
    // feed: one tombstone per even live key, stamped 3, version+1
    val feed = C.changesSince(spark, root, 2L).get.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("version"),
        r.getAs[Boolean]("deleted"))).toSet
    assert(feed == Set((4L, 11L, true), (6L, 11L, true)))
    // nothing matches anymore: None, head unchanged
    assert(C.deleteWhere(spark, root, col("k") % 2 === 0).isEmpty)
    assert(C.currentVersion(spark, root).contains(3L))
    // delete-then-reinsert: higher version beats the v+1 tombstone
    assert(apply(root, Seq((4L, 30L, "back", false)), 4L))
    assert(live(C.readSnapshot(spark, root).get)
      .get(4L).contains("back"))
    // append-only tables refuse
    val ao = tmp("del_ao")
    C.applyBatch(Seq((1L, 10L, "a")).toDF("k", "version", "v"), 0L,
      ao, Seq("k"), "version", None, numBuckets = 2)
    intercept[IllegalArgumentException] {
      C.deleteWhere(spark, ao, col("k") === 1L)
    }
  }

  test("updateWhere re-upserts matching rows with SET applied and " +
      "version+1; key/version/deleted columns are refused") {
    import spark.implicits._
    val root = build()
    assert(C.updateWhere(spark, root, col("k") <= 3L,
      Map("v" -> concat(col("v"), lit("!"))),
      commitTs = Some(9000L)).contains(3L))
    assert(live(C.readSnapshot(spark, root).get) ==
      state2 + (1L -> "updated!") + (3L -> "edited!"))
    val feed = C.changesSince(spark, root, 2L).get.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("version"),
        r.getAs[String]("v"))).toSet
    assert(feed == Set((1L, 21L, "updated!"), (3L, 21L, "edited!")))
    // no live match → None; illegal SET targets refuse
    assert(C.updateWhere(spark, root, col("k") === 999L,
      Map("v" -> lit("x"))).isEmpty)
    intercept[IllegalArgumentException] {
      C.updateWhere(spark, root, col("k") === 1L,
        Map("version" -> lit(99L)))
    }
    intercept[IllegalArgumentException] {
      C.updateWhere(spark, root, col("k") === 1L,
        Map("k" -> lit(2L)))
    }
    intercept[IllegalArgumentException] {
      C.updateWhere(spark, root, col("k") === 1L,
        Map("nope" -> lit(1L)))
    }
  }

  test("cdc_update_where runs from SQL under the maintenance gate") {
    val root = build()
    CdcSql.registerTable(spark, root, "upd_t")
    try {
      val row = spark.sql("SELECT * FROM cdc_update_where('upd_t', " +
        "'k = 4', 'v', 'upper(v)')").head()
      assert(row.getAs[Long]("committed_batch") == 3L)
      assert(live(spark.sql("SELECT k, v FROM upd_t")) ==
        state2 + (4L -> "V4"))
    } finally CdcSql.unregisterTable("upd_t")
  }

  test("cdc_delete_where runs from SQL under the maintenance gate") {
    val root = build()
    CdcSql.registerTable(spark, root, "del_t")
    try {
      val row = spark.sql(
        "SELECT * FROM cdc_delete_where('del_t', 'k > 4')").head()
      assert(row.getAs[Long]("committed_batch") == 3L)
      assert(live(spark.sql("SELECT k, v FROM del_t")) ==
        state2.filter { case (k, _) => k <= 4 })
    } finally CdcSql.unregisterTable("del_t")
  }

  test("cdc_restore runs from SQL under the maintenance gate and the " +
      "snapshot SQL name serves the restored state") {
    val root = build()
    CdcSql.registerTable(spark, root, "restore_t")
    try {
      val row = spark.sql("SELECT * FROM cdc_restore('restore_t', 0)")
        .head()
      assert(row.getAs[Long]("restored_to") == 0L)
      assert(row.getAs[Long]("current_batch") == 3L)
      assert(live(spark.sql(
        "SELECT k, v FROM restore_t")) == state0)
    } finally CdcSql.unregisterTable("restore_t")
  }
}
