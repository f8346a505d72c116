package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Merge-on-read mode of the CDC table (`TableConf.maxDeltas > 0`):
  * applies append pending delta directories instead of rewriting
  * touched buckets, readers resolve latest-wins across base + deltas,
  * and compaction (inline at the delta bound, or the scheduled
  * [[graft.streaming.CdcApply.compactBuckets]]) folds them back.
  * Every test here pins MOR to the SAME observable semantics as
  * copy-on-write — the mode moves cost, never meaning.
  */
class CdcMorSpec extends AnyFunSuite with SparkTestBase {

  private val C = graft.streaming.CdcApply

  private def tmp(prefix: String): String = java.nio.file.Files
    .createTempDirectory(prefix).toFile.getAbsolutePath

  private def apply(root: String,
      rows: Seq[(Long, Long, String, Boolean)], id: Long,
      maxDeltas: Int, retention: Int = 100): Boolean = {
    import spark.implicits._
    C.applyBatch(rows.toDF("k", "version", "v", "deleted"), id, root,
      Seq("k"), "version", Some("deleted"), numBuckets = 4,
      tombstoneRetention = retention, commitTs = Some(1000L * (id + 1)),
      maxDeltas = maxDeltas)
  }

  private def live(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
    df.collect().map(r =>
      r.getAs[Long]("k") -> r.getAs[String]("v")).toMap

  private def pendingDeltas(root: String): Long =
    C.describe(spark, root).head().getAs[Int]("pending_deltas").toLong

  // the three-batch history every test reuses: full load, then
  // updates + a delete-wins tombstone, then a late LOWER-versioned
  // update (must lose) and a cross-batch re-delivery (first applied
  // wins) — the exact cases merge-on-read resolution must get right
  // without the copy-on-write anti-join
  private val b0 = (1L to 8L).map(k => (k, 10L, s"v$k", false))
  private val b1 = Seq((1L, 20L, "updated", false),
    (2L, 20L, "", true))
  private val b2 = Seq((3L, 5L, "late-loser", false),
    (4L, 10L, "redelivered-other-payload", false))
  private val net = Map(1L -> "updated", 3L -> "v3", 4L -> "v4",
    5L -> "v5", 6L -> "v6", 7L -> "v7", 8L -> "v8")

  private def buildTwin(maxDeltas: Int): (String, String) = {
    val cow = tmp("mor_twin_cow")
    val mor = tmp("mor_twin_mor")
    Seq(b0, b1, b2).zipWithIndex.foreach { case (rows, id) =>
      assert(apply(cow, rows, id.toLong, maxDeltas = 0))
      assert(apply(mor, rows, id.toLong, maxDeltas = maxDeltas))
    }
    (cow, mor)
  }

  test("merge-on-read equals its copy-on-write twin: snapshot, time " +
    "travel, change feed, lookup — with deltas genuinely pending") {
    val (cow, mor) = buildTwin(maxDeltas = 8)
    // deltas actually pending — the equality below exercises the
    // resolution path, not a degenerate all-compacted layout
    assert(pendingDeltas(mor) > 0L, "expected pending deltas")
    assert(live(C.readSnapshot(spark, mor).get) == net)
    assert(live(C.readSnapshot(spark, mor).get) ==
      live(C.readSnapshot(spark, cow).get))
    // time travel resolves each batch's OWN base + delta set
    (0L to 2L).foreach { b =>
      assert(live(C.readSnapshotAt(spark, mor, b).get) ==
        live(C.readSnapshotAt(spark, cow, b).get), s"as of batch $b")
    }
    // the feed is identical net-change rows — in particular the late
    // lower-versioned delta row of batch 2 must NOT fabricate a change
    // for k=3 (it never superseded the base), and the re-delivered
    // (k=4, v=10) resolves to the FIRST-applied payload
    (-1L to 2L).foreach { since =>
      def feed(root: String): Set[(Long, Long, Option[String], Boolean)] =
        C.changesSince(spark, root, since).get.collect().map(r =>
          (r.getAs[Long]("k"), r.getAs[Long]("version"),
            Option(r.getAs[String]("v")),
            r.getAs[Boolean]("deleted"))).toSet
      assert(feed(mor) == feed(cow), s"feed since=$since")
    }
    assert(C.changesSince(spark, mor, 1L).get.collect()
      .map(_.getAs[Long]("k")).toSet == Set.empty,
      "batch 2 carried no net change — late loser and re-delivery only")
    // point lookups through the resolution path
    assert(C.lookup(spark, mor, Seq(1L)).get.collect()
      .map(_.getAs[String]("v")).toSeq == Seq("updated"))
    assert(C.lookup(spark, mor, Seq(2L)).get.count() == 0L,
      "tombstoned key reads back empty")
    assert(C.lookup(spark, mor, Seq(4L)).get.collect()
      .map(_.getAs[String]("v")).toSeq == Seq("v4"),
      "re-delivered (key, version) resolves to the first-applied row")
  }

  test("a trickle batch never reads or rewrites the buckets it only " +
    "delta-appends to — the write-amplification contract") {
    val root = tmp("mor_writeamp")
    assert(apply(root, b0, 0L, maxDeltas = 8))
    assert(apply(root, b1, 1L, maxDeltas = 8))
    // batch 1 touched the buckets of k=1 and k=2 only: every OTHER
    // bucket's manifest entry still points at its ORIGINAL v0 base
    // with no deltas — carried forward by reference, zero bytes moved
    val rows = C.buckets(spark, root).collect()
    val touched = rows.filter(_.getAs[Int]("pending_deltas") > 0)
    val untouched = rows.filter(_.getAs[Int]("pending_deltas") == 0)
    assert(touched.nonEmpty && untouched.nonEmpty)
    assert(untouched.forall(_.getAs[String]("data_dir").matches("v0-[0-9a-f]{8}/.*")))
    assert(touched.forall(_.getAs[String]("data_dir").matches("v0-[0-9a-f]{8}/.*")),
      "delta-appended buckets keep their original base directory")
  }

  test("inline compaction at the maxDeltas bound: the bucket merges in " +
    "the applying batch, others keep appending") {
    val root = tmp("mor_inline")
    assert(apply(root, b0, 0L, maxDeltas = 1))
    assert(apply(root, Seq((1L, 20L, "u1", false)), 1L, maxDeltas = 1))
    // k=1's bucket now holds 1 pending delta = the bound: the next
    // touch merges inline into v2c; a DIFFERENT bucket's first touch
    // still delta-appends
    assert(apply(root, Seq((1L, 30L, "u2", false),
      (2L, 20L, "other", false)), 2L, maxDeltas = 1))
    val rows = C.buckets(spark, root).collect()
      .map(r => (r.getAs[String]("data_dir"),
        r.getAs[Int]("pending_deltas")))
    assert(rows.exists { case (d, n) => d.matches("v2c-[0-9a-f]{8}/.*") && n == 0 },
      s"expected an inline-compacted bucket in ${rows.toSeq}")
    assert(live(C.readSnapshot(spark, root).get)
      .view.filterKeys(Set(1L, 2L)).toMap ==
      Map(1L -> "u2", 2L -> "other"))
  }

  test("compactBuckets: content-neutral maintenance — deltas clear, " +
    "snapshot/feed/as-of-timestamp reads unchanged, vacuum sweeps the " +
    "superseded directories, and a second call is a no-op") {
    val (_, mor) = buildTwin(maxDeltas = 8)
    val beforeSnap = live(C.readSnapshot(spark, mor).get)
    val beforeFeed = C.changesSince(spark, mor, 0L).get.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("_change_batch"))).toSet
    val beforeAsOf = live(C.readSnapshotAsOf(spark, mor, 2000L).get)
    assert(pendingDeltas(mor) > 0L)
    assert(C.compactBuckets(spark, mor))
    assert(pendingDeltas(mor) == 0L)
    assert(live(C.readSnapshot(spark, mor).get) == beforeSnap)
    // stamps carried verbatim: the feed is byte-identical
    assert(C.changesSince(spark, mor, 0L).get.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("_change_batch")))
      .toSet == beforeFeed)
    // the ORIGINAL commit timestamp rides the new generation
    assert(live(C.readSnapshotAsOf(spark, mor, 2000L).get) == beforeAsOf)
    assert(!C.compactBuckets(spark, mor), "no pending deltas left")
    // vacuum drops the superseded base+delta dirs of compacted buckets
    val swept = C.vacuum(spark, mor, keep = 1)
    assert(swept.nonEmpty)
    assert(live(C.readSnapshot(spark, mor).get) == beforeSnap)
  }

  test("layout health polls are delta-aware: compactIfNeeded folds " +
    "only buckets over a bound, rebucketIfNeeded sizes on base + " +
    "delta bytes — both manifest-only on the healthy path") {
    val (_, mor) = buildTwin(maxDeltas = 8)
    val net0 = live(C.readSnapshot(spark, mor).get)
    assert(pendingDeltas(mor) > 0L)
    // loose bounds: healthy, nothing compacts
    assert(C.compactIfNeeded(spark, mor,
      maxPendingDeltas = 100).isEmpty)
    assert(pendingDeltas(mor) > 0L)
    // a 1-byte delta-bytes bound: every delta-bearing bucket folds,
    // delta-free buckets untouched, content preserved
    val compacted = C.compactIfNeeded(spark, mor, maxDeltaBytes = 1L)
    assert(compacted.nonEmpty)
    assert(pendingDeltas(mor) == 0L)
    assert(live(C.readSnapshot(spark, mor).get) == net0)
    assert(C.compactIfNeeded(spark, mor, maxDeltaBytes = 1L).isEmpty,
      "second poll is a healthy no-op")
    // rebucket trigger counts PHYSICAL bytes incl. pending deltas: a
    // fresh delta-bearing twin triggers under a cap its compacted
    // bases alone would satisfy
    val (_, mor2) = buildTwin(maxDeltas = 8)
    val baseMax = C.buckets(spark, mor2).collect()
      .map(r => r.getAs[Long]("bytes") +
        (if (r.isNullAt(r.fieldIndex("delta_bytes"))) 0L
         else r.getAs[Long]("delta_bytes")))
    val biggestBase = C.buckets(spark, mor2).collect()
      .map(_.getAs[Long]("bytes")).max
    val cap = biggestBase + 1 // over every base, under base+deltas max
    assert(baseMax.max > cap, "a delta-bearing bucket exceeds the cap")
    val grew = C.rebucketIfNeeded(spark, mor2,
      maxBucketBytes = cap, targetBucketBytes = cap)
    assert(grew.exists(_ > 4), s"expected growth, got $grew")
    assert(live(C.readSnapshot(spark, mor2).get) == net0)
    assert(pendingDeltas(mor2) == 0L, "rebucket compacts as it re-keys")
  }

  test("within-batch version ties still fail loudly in merge-on-read " +
    "(the ambiguity guard does not need the merge)") {
    import spark.implicits._
    val root = tmp("mor_ambig")
    val e = intercept[Exception] {
      C.applyBatch(
        Seq((1L, 10L, "a", false), (1L, 10L, "b", false))
          .toDF("k", "version", "v", "deleted"),
        0L, root, Seq("k"), "version", Some("deleted"),
        numBuckets = 4, maxDeltas = 8)
    }
    assert(e.getMessage != null && e.getMessage.contains("ambiguous"),
      s"got: ${e.getMessage}")
  }

  test("rebucket on a merge-on-read table compacts as it re-keys: " +
    "deltas clear, content carries, the mode survives") {
    val (_, mor) = buildTwin(maxDeltas = 8)
    assert(pendingDeltas(mor) > 0L)
    assert(C.rebucket(spark, mor, 7))
    assert(pendingDeltas(mor) == 0L)
    assert(C.numBuckets(spark, mor).contains(7))
    assert(live(C.readSnapshot(spark, mor).get) == net)
    // the table keeps merging-on-read after the layout change
    assert(apply(mor, Seq((5L, 20L, "post-rebucket", false)), 3L,
      maxDeltas = 8))
    assert(pendingDeltas(mor) == 1L)
    assert(live(C.readSnapshot(spark, mor).get) ==
      net + (5L -> "post-rebucket"))
  }

  test("tombstones age at compaction exactly as at a copy-on-write " +
    "rewrite, and vacuum's dirty-set signal sees a tombstone sitting " +
    "in a pending delta") {
    val root = tmp("mor_tomb")
    assert(apply(root, Seq((1L, 10L, "a", false), (2L, 10L, "b", false)),
      0L, maxDeltas = 8, retention = 1))
    assert(apply(root, Seq((1L, 20L, "", true)), 1L, maxDeltas = 8,
      retention = 1))
    // the tombstone lives in a DELTA; oldest_tombstone_batch must see
    // it there (allMinTs), or expiry would never find the bucket
    val tomb = C.buckets(spark, root).collect().filter(!_.isNullAt(4))
    assert(tomb.map(_.getAs[Long]("oldest_tombstone_batch")).toSeq ==
      Seq(1L))
    assert(apply(root, Seq((2L, 20L, "b2", false)), 2L, maxDeltas = 8,
      retention = 1))
    // age = 2 - 1 >= retention 1: vacuum's expiry rewrites the bucket,
    // clearing its deltas and dropping the expired tombstone row
    C.vacuum(spark, root, keep = 1, expireTombstones = true)
    assert(C.buckets(spark, root).collect().forall(_.isNullAt(4)))
    assert(live(C.readSnapshot(spark, root).get) ==
      Map(2L -> "b2"))
    // k=1 stays dead on the read path throughout (tombstone filtered
    // before expiry, physically gone after)
    assert(C.lookup(spark, root, Seq(1L)).get.count() == 0L)
  }

  test("additive schema evolution under merge-on-read: pre-evolution " +
    "base rows read NULL for the new column through resolution") {
    import spark.implicits._
    val root = tmp("mor_evo")
    assert(apply(root, Seq((1L, 10L, "a", false), (2L, 10L, "b", false)),
      0L, maxDeltas = 8))
    assert(C.applyBatch(
      Seq((1L, 20L, "a2", false, 7L))
        .toDF("k", "version", "v", "deleted", "extra"),
      1L, root, Seq("k"), "version", Some("deleted"), numBuckets = 4,
      maxDeltas = 8))
    val snap = C.readSnapshot(spark, root).get.collect()
      .map(r => r.getAs[Long]("k") ->
        ((r.getAs[String]("v"), Option(r.getAs[Any]("extra"))))).toMap
    assert(snap == Map(1L -> (("a2", Some(7L))), 2L -> (("b", None))))
  }

  test("the mirror of a merge-on-read source replicates exactly " +
    "(trickle sync over the resolving feed)") {
    val (_, mor) = buildTwin(maxDeltas = 8)
    val mroot = tmp("mor_mirror")
    assert(C.syncMirror(spark, mor, mroot, numBuckets = 4))
    assert(live(C.readSnapshot(spark, mroot).get) == net)
    assert(C.currentVersion(spark, mroot) ==
      C.currentVersion(spark, mor))
  }

  test("zorderBuckets: content-neutral layout maintenance — rows " +
      "cluster on the curve within every bucket file, snapshot and " +
      "time travel unchanged, generation committed") {
    import spark.implicits._
    import graft.sources.ZOrder
    val root = tmp("mor_zorder")
    // 400 keys over two correlated numeric dims, some MOR deltas left
    val b0 = (1L to 400L).map(k => (k, 1L, k % 20, k / 20, false))
      .toDF("k", "version", "a", "b", "deleted")
    assert(C.applyBatch(b0, 0L, root, Seq("k"), "version",
      Some("deleted"), numBuckets = 4, commitTs = Some(1000L),
      maxDeltas = 8))
    val b1 = (1L to 40L).map(k => (k * 10, 2L, k % 20, k / 2, false))
      .toDF("k", "version", "a", "b", "deleted")
    assert(C.applyBatch(b1, 1L, root, Seq("k"), "version",
      Some("deleted"), numBuckets = 4, commitTs = Some(2000L),
      maxDeltas = 8))
    def state() = C.readSnapshot(spark, root).get.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("version"),
        r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val before = state()
    assert(C.zorderBuckets(spark, root, "a", "b"))
    assert(state() == before, "z-order changed logical content")
    // as-of reads resolve identically (ts carried, watermark unmoved)
    assert(C.currentVersion(spark, root).contains(1L))
    assert(C.resolveAsOf(spark, root, 1500L).contains(0L))
    // layout property: within every rewritten bucket file, rows are
    // non-decreasing on the curve. The op quantizes linearly over the
    // EXACT global min/max — partition-order independent, so the test
    // recomputes the identical curve from content alone.
    val snap = C.readSnapshot(spark, root).get
    val mm = snap.agg(min(col("a").cast("double")),
      max(col("a").cast("double")), min(col("b").cast("double")),
      max(col("b").cast("double"))).head()
    val files = snap.inputFiles
    assert(files.nonEmpty &&
      files.forall(_.contains("g1z")), files.take(3).mkString(","))
    files.foreach { f =>
      val zs = spark.read.parquet(f).coalesce(1)
        .select(ZOrder.zValue(
          ZOrder.quantize(col("a"), mm.getDouble(0), mm.getDouble(1)),
          ZOrder.quantize(col("b"), mm.getDouble(2), mm.getDouble(3)))
          .as("z"))
        .collect().map(_.getLong(0))
      assert(zs.sameElements(zs.sorted),
        s"file $f is not curve-clustered")
    }
    // maintenance is re-runnable: a second z-order commits gen 2 with
    // the same logical content
    assert(C.zorderBuckets(spark, root, "a", "b"))
    assert(state() == before)
  }

  test("zorderBuckets generalizes to N mixed-type columns: string " +
      "and timestamp dimensions cluster through their ordinates, " +
      "content untouched") {
    import spark.implicits._
    import graft.sources.ZOrder
    val root = tmp("mor_zorder_n")
    val b0 = (1L to 300L).map { k =>
      (k, 1L, k % 17, f"cat${k % 5}%s-${k % 23}%02d",
        java.sql.Timestamp.valueOf(f"2024-01-${(k % 28) + 1}%02d 00:00:00"),
        false)
    }.toDF("k", "version", "a", "label", "ts", "deleted")
    assert(C.applyBatch(b0, 0L, root, Seq("k"), "version",
      Some("deleted"), numBuckets = 4, commitTs = Some(1000L)))
    def state() = C.readSnapshot(spark, root).get.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("a"),
        r.getAs[String]("label"), r.getAs[java.sql.Timestamp]("ts")))
      .toSet
    val before = state()
    assert(C.zorderBuckets(spark, root, Seq("a", "label", "ts")))
    assert(state() == before, "z-order changed logical content")
    // within every rewritten file, rows are non-decreasing on the
    // recomputed 3-dim curve (exact bounds -> reproducible from
    // content alone, same contract as the 2-col form)
    val snap = C.readSnapshot(spark, root).get
    val ords = Seq(
      ZOrder.ordinate(col("a"), snap.schema("a").dataType),
      ZOrder.ordinate(col("label"), snap.schema("label").dataType),
      ZOrder.ordinate(col("ts"), snap.schema("ts").dataType))
    val mm = snap.agg(min(ords(0)), max(ords(0)), min(ords(1)),
      max(ords(1)), min(ords(2)), max(ords(2))).head()
    val bits = ZOrder.bitsFor(3)
    val maxCell = (1L << bits) - 1
    val z = ZOrder.zValueN(ords.zipWithIndex.map { case (o, i) =>
      ZOrder.quantizeTo(o, mm.getDouble(2 * i), mm.getDouble(2 * i + 1),
        maxCell) }, bits)
    val files = snap.inputFiles
    assert(files.nonEmpty && files.forall(_.contains("g1z")))
    files.foreach { f =>
      val zs = spark.read.parquet(f).coalesce(1).select(z.as("z"))
        .collect().map(_.getLong(0))
      assert(zs.sameElements(zs.sorted), s"file $f is not curve-clustered")
    }
    // guards: unknown and duplicate columns refuse loudly
    intercept[IllegalArgumentException] {
      C.zorderBuckets(spark, root, Seq("a", "nope"))
    }
    intercept[IllegalArgumentException] {
      C.zorderBuckets(spark, root, Seq("a", "a"))
    }
  }
}
