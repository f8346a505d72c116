package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.CdcApply

/** The apply-path writer fence: two concurrent appliers of DIFFERENT
  * batches are outside the single-merge-stream contract — the fence
  * makes the loser throw instead of silently dropping its batch
  * (whose retry would no-op on the `>=` replay guard, losing it
  * forever). Crash-retry recommit of the SAME batch stays allowed.
  */
class CdcFenceSpec extends AnyFunSuite with SparkTestBase
    with org.scalatest.BeforeAndAfterEach {

  import spark.implicits._

  // the one-shot hook is consumed inside the fenced commit; a test
  // that fails BEFORE reaching the window would otherwise leak its
  // callback into an unrelated later apply — clear it both ways
  override def beforeEach(): Unit = {
    assert(CdcApply.raceWindowHook.get() == null,
      "raceWindowHook leaked in from outside this suite")
    super.beforeEach()
  }

  override def afterEach(): Unit = {
    CdcApply.raceWindowHook.set(null)
    super.afterEach()
  }

  private def newRoot(): String = java.nio.file.Files
    .createTempDirectory("cdc_fence").toFile.getAbsolutePath

  private def b0 = Seq((1L, 1L, 10.0, false), (2L, 1L, 20.0, false))
    .toDF("k", "version", "amount", "deleted")

  test("a concurrent applier landing inside another apply's commit " +
    "window makes the slower applier throw, and the winner's state " +
    "stands") {
    val root = newRoot()
    assert(CdcApply.applyBatch(b0, 0L, root, Seq("k"), "version",
      Some("deleted")))
    val b2 = Seq((1L, 2L, 11.0, false)).toDF(
      "k", "version", "amount", "deleted")
    val b3 = Seq((2L, 2L, 22.0, false)).toDF(
      "k", "version", "amount", "deleted")
    // batch 3 commits INSIDE batch 2's fence window (after batch 2's
    // merge read the batch-0 base and its head check passed, before
    // its claim) — the one-shot hook fires exactly there
    CdcApply.raceWindowHook.set(() =>
      assert(CdcApply.applyBatch(b3, 3L, root, Seq("k"), "version",
        Some("deleted"))))
    val e = intercept[java.util.ConcurrentModificationException] {
      CdcApply.applyBatch(b2, 2L, root, Seq("k"), "version",
        Some("deleted"))
    }
    assert(e.getMessage.contains("lost commit race"), e.getMessage)
    // the winner's commit is intact: batch 3 applied over batch 0,
    // batch 2's merge never published (k=1 still at version 1)
    assert(CdcApply.currentVersion(spark, root).contains(3L))
    val state = CdcApply.readSnapshot(spark, root).get.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Double]("amount"))).toSet
    assert(state == Set(1L -> 10.0, 2L -> 22.0), state.toString)
  }

  test("the fence also guards the merge-on-read apply path") {
    val root = newRoot()
    assert(CdcApply.applyBatch(b0, 0L, root, Seq("k"), "version",
      Some("deleted"), maxDeltas = 4))
    val b2 = Seq((1L, 2L, 11.0, false)).toDF(
      "k", "version", "amount", "deleted")
    val b3 = Seq((2L, 2L, 22.0, false)).toDF(
      "k", "version", "amount", "deleted")
    CdcApply.raceWindowHook.set(() =>
      assert(CdcApply.applyBatch(b3, 3L, root, Seq("k"), "version",
        Some("deleted"), maxDeltas = 4)))
    val e = intercept[java.util.ConcurrentModificationException] {
      CdcApply.applyBatch(b2, 2L, root, Seq("k"), "version",
        Some("deleted"), maxDeltas = 4)
    }
    assert(e.getMessage.contains("lost commit race"), e.getMessage)
    assert(CdcApply.currentVersion(spark, root).contains(3L))
  }

  test("a carried-forward sync watermark commit loses loudly to a " +
    "concurrent data-bearing sync instead of moving the pointer " +
    "backward") {
    val src = newRoot()
    val mirror = newRoot()
    // retention 0: batch 1's delete-all empties the table at merge
    // time, so a first sync sees a committed manifest with ZERO live
    // buckets — an empty feed — and takes the carried-forward path
    assert(CdcApply.applyBatch(b0, 0L, src, Seq("k"), "version",
      Some("deleted"), tombstoneRetention = 0))
    val delAll = Seq((1L, 2L, 0.0, true), (2L, 2L, 0.0, true))
      .toDF("k", "version", "amount", "deleted")
    assert(CdcApply.applyBatch(delAll, 1L, src, Seq("k"), "version",
      Some("deleted"), tombstoneRetention = 0))
    assert(CdcApply.readSnapshot(spark, src).isEmpty,
      "precondition: fully-emptied source")
    // inside sync A's carried-forward commit window, the source
    // revives and sync B lands a DATA commit on the mirror
    val b2 = Seq((9L, 1L, 90.0, false)).toDF(
      "k", "version", "amount", "deleted")
    CdcApply.raceWindowHook.set { () =>
      assert(CdcApply.applyBatch(b2, 2L, src, Seq("k"), "version",
        Some("deleted"), tombstoneRetention = 0))
      assert(CdcApply.syncMirror(spark, src, mirror))
    }
    val e = intercept[java.util.ConcurrentModificationException] {
      CdcApply.syncMirror(spark, src, mirror)
    }
    assert(e.getMessage.contains("lost commit race"), e.getMessage)
    // B's data commit stands; A's stale empty-table map never
    // published (a silent loss would leave an empty mirror at v1)
    assert(CdcApply.currentVersion(spark, mirror).contains(2L))
    val state = CdcApply.readSnapshot(spark, mirror).get.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Double]("amount"))).toSet
    assert(state == Set(9L -> 90.0), state.toString)
    // and the system is quiescent: a re-sync is a caught-up no-op
    assert(!CdcApply.syncMirror(spark, src, mirror))
  }

  test("the claim decides a race the head check cannot see: a " +
    "claimed-but-unlanded successor slot keeps the table at the " +
    "previous version, refuses a different commit, and readmits its " +
    "own crash-retry") {
    val root = newRoot()
    assert(CdcApply.applyBatch(b0, 0L, root, Seq("k"), "version",
      Some("deleted")))
    val b2 = Seq((1L, 2L, 11.0, false)).toDF(
      "k", "version", "amount", "deleted")
    // a concurrent committer claimed v0.0's successor slot (as v3.0)
    // but has NOT landed its manifest yet — the head check passes in
    // this window; the claim refuses
    val claim = new java.io.File(root, "manifests/.after-v0.0")
    java.nio.file.Files.writeString(claim.toPath, "v3.0")
    val e = intercept[java.util.ConcurrentModificationException] {
      CdcApply.applyBatch(b2, 2L, root, Seq("k"), "version",
        Some("deleted"))
    }
    assert(e.getMessage.contains("already succeeded by v3.0"),
      e.getMessage)
    assert(CdcApply.currentVersion(spark, root).contains(0L),
      "a claim alone must not advance the table")
    val state = CdcApply.readSnapshot(spark, root).get.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Double]("amount"))).toSet
    assert(state == Set(1L -> 10.0, 2L -> 20.0), state.toString)
    // crash-retry of the claim's OWN commit reads its claim back and
    // lands (claim names v2.0 = the retry's manifest name)
    java.nio.file.Files.writeString(claim.toPath, "v2.0")
    assert(CdcApply.applyBatch(b2, 2L, root, Seq("k"), "version",
      Some("deleted")))
    assert(CdcApply.currentVersion(spark, root).contains(2L))
  }

  test("vacuum sweeps the successor-slot claims of the manifests it " +
    "removes") {
    val root = newRoot()
    assert(CdcApply.applyBatch(b0, 0L, root, Seq("k"), "version",
      Some("deleted")))
    (1L to 4L).foreach { b =>
      assert(CdcApply.applyBatch(
        Seq((1L, b + 1L, 10.0 + b, false))
          .toDF("k", "version", "amount", "deleted"),
        b, root, Seq("k"), "version", Some("deleted")))
    }
    val mdir = new java.io.File(root, "manifests")
    assert(mdir.listFiles().exists(_.getName.startsWith(".after-")),
      "claims must exist before the sweep")
    CdcApply.vacuum(spark, root, keep = 2)
    val leftClaims = mdir.listFiles().map(_.getName)
      .filter(_.startsWith(".after-")).toSet
    val leftManifests = mdir.listFiles().map(_.getName)
      .filter(_.startsWith("v")).toSet
    // every surviving claim's predecessor manifest is still retained
    // (or is the genesis slot)
    leftClaims.foreach { c =>
      val pred = c.stripPrefix(".after-")
      assert(pred == "genesis" || leftManifests.contains(pred),
        s"orphaned claim $c with manifests $leftManifests")
    }
  }

  test("maintenance generations route through the claim fence: a " +
    "rebucket losing to a concurrent apply aborts gracefully with NO " +
    "half-landed generation manifest, and a losing rename throws " +
    "without half-landing") {
    val root = newRoot()
    assert(CdcApply.applyBatch(b0, 0L, root, Seq("k"), "version",
      Some("deleted"), numBuckets = 2))
    val b3 = Seq((2L, 2L, 22.0, false)).toDF(
      "k", "version", "amount", "deleted")
    // batch 3 commits INSIDE the rebucket's fence window (before its
    // claim and manifest landing)
    CdcApply.raceWindowHook.set(() =>
      assert(CdcApply.applyBatch(b3, 3L, root, Seq("k"), "version",
        Some("deleted"), numBuckets = 2)))
    assert(!CdcApply.rebucket(spark, root, 5),
      "losing maintenance must abort, not throw or commit")
    // the apply's commit stands; the old layout is untouched and the
    // lost generation left NO manifest for listing-based readers
    assert(CdcApply.currentVersion(spark, root).contains(3L))
    assert(CdcApply.numBuckets(spark, root).contains(2))
    val names = new java.io.File(root, "manifests").listFiles()
      .map(_.getName).filter(_.startsWith("v")).toSet
    assert(names == Set("v0.0", "v3.0"), names.toString)
    // metadata-only rename: a fence loss surfaces as the documented
    // retry signal and the rename is NOWHERE half-landed
    val b5 = Seq((1L, 3L, 12.0, false)).toDF(
      "k", "version", "amount", "deleted")
    CdcApply.raceWindowHook.set(() =>
      assert(CdcApply.applyBatch(b5, 5L, root, Seq("k"), "version",
        Some("deleted"), numBuckets = 2)))
    val e = intercept[IllegalStateException] {
      CdcApply.renameColumn(spark, root, "amount", "amt")
    }
    assert(e.getMessage.contains("retry"), e.getMessage)
    val cols = CdcApply.readSnapshot(spark, root).get.columns.toSet
    assert(cols.contains("amount") && !cols.contains("amt"),
      cols.toString)
    assert(!new java.io.File(root, "manifests").listFiles()
      .map(_.getName).exists(_.startsWith("v3.1")),
      "lost rename must not half-land a generation manifest")
    // the retry (now against the new head) commits cleanly
    assert(CdcApply.renameColumn(spark, root, "amount", "amt"))
    assert(CdcApply.readSnapshot(spark, root).get.columns
      .contains("amt"))
  }

  test("sequential applies and same-batch replays still commit " +
    "cleanly through the fence") {
    val root = newRoot()
    assert(CdcApply.applyBatch(b0, 0L, root, Seq("k"), "version",
      Some("deleted")))
    val b1 = Seq((1L, 2L, 11.0, false)).toDF(
      "k", "version", "amount", "deleted")
    assert(CdcApply.applyBatch(b1, 1L, root, Seq("k"), "version",
      Some("deleted")))
    // replayed batch: covered by the head, skipped before any fence
    assert(!CdcApply.applyBatch(b1, 1L, root, Seq("k"), "version",
      Some("deleted")))
    val state = CdcApply.readSnapshot(spark, root).get.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Double]("amount"))).toSet
    assert(state == Set(1L -> 11.0, 2L -> 20.0))
  }

  test("a tag read racing a tag move's crc-sidecar rename survives " +
    "(stale local-FS checksum, fresh data file)") {
    val root = newRoot()
    assert(CdcApply.applyBatch(b0, 0L, root, Seq("k"), "version",
      Some("deleted")))
    val b1 = Seq((1L, 2L, 11.0, false)).toDF(
      "k", "version", "amount", "deleted")
    assert(CdcApply.applyBatch(b1, 1L, root, Seq("k"), "version",
      Some("deleted")))
    CdcApply.tag(spark, root, "t", 0L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // reproduce the mid-move window of `tag(replace = true)`
    // deterministically: the new tag content lands in the DATA file
    // (raw write) while the .crc sidecar still verifies the old
    // content — exactly what a reader sees between ChecksumFs's two
    // renames
    val raw = fs.asInstanceOf[org.apache.hadoop.fs.ChecksumFileSystem]
      .getRawFileSystem
    val out = raw.create(new org.apache.hadoop.fs.Path(root, "tags/t"), true)
    try out.write("1 1".getBytes("UTF-8")) finally out.close()
    // the read must surface the moved tag, not a ChecksumException
    assert(CdcApply.resolveTag(spark, root, "t").contains(1L))
  }

  test("a lost apply leaves nothing that time travel, history or a " +
    "manifest listing can see") {
    val root = newRoot()
    def apply(df: org.apache.spark.sql.DataFrame, b: Long, ts: Long) =
      CdcApply.applyBatch(df, b, root, Seq("k"), "version",
        Some("deleted"), commitTs = Some(ts))
    assert(apply(b0, 0L, 1000L))
    val b2 = Seq((1L, 2L, 11.0, false)).toDF(
      "k", "version", "amount", "deleted")
    val b3 = Seq((2L, 2L, 22.0, false)).toDF(
      "k", "version", "amount", "deleted")
    CdcApply.raceWindowHook.set(() => assert(apply(b3, 3L, 3000L)))
    intercept[java.util.ConcurrentModificationException] {
      apply(b2, 2L, 2000L)
    }
    assert(CdcApply.readSnapshotAt(spark, root, 2L).isEmpty,
      "the lost batch must not be time-travelable")
    assert(CdcApply.resolveAsOf(spark, root, 2500L).contains(0L))
    val batches = CdcApply.history(spark, root)
      .select("batch_id").as[Long].collect().toSet
    assert(batches == Set(0L, 3L), batches.toString)
    val names = new java.io.File(root, "manifests").listFiles()
      .map(_.getName).filter(_.startsWith("v")).toSet
    assert(names == Set("v0.0", "v3.0"), names.toString)
  }

  test("two appliers of one batch id: exactly one lands, the other " +
    "throws, and the table reads as the winner's rows") {
    val root = newRoot()
    assert(CdcApply.applyBatch(b0, 0L, root, Seq("k"), "version",
      Some("deleted")))
    val mine = Seq((1L, 2L, 11.0, false)).toDF(
      "k", "version", "amount", "deleted")
    val theirs = Seq((2L, 2L, 22.0, false)).toDF(
      "k", "version", "amount", "deleted")
    // the other applier of batch 2 commits inside this one's window,
    // after its head check: both claim v0.0's slot for the same name,
    // so only the no-overwrite landing tells them apart
    CdcApply.raceWindowHook.set(() =>
      assert(CdcApply.applyBatch(theirs, 2L, root, Seq("k"), "version",
        Some("deleted"))))
    val e = intercept[java.util.ConcurrentModificationException] {
      CdcApply.applyBatch(mine, 2L, root, Seq("k"), "version",
        Some("deleted"))
    }
    assert(e.getMessage.contains("another writer committed v2.0"),
      e.getMessage)
    val names = new java.io.File(root, "manifests").listFiles()
      .map(_.getName).filter(_.startsWith("v")).toSet
    assert(names == Set("v0.0", "v2.0"), names.toString)
    val state = CdcApply.readSnapshot(spark, root).get.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Double]("amount"))).toSet
    assert(state == Set(1L -> 10.0, 2L -> 22.0), state.toString)
  }

  test("two appliers of one batch id write disjoint data dirs: a loser " +
    "held in its first job until the winner commits cannot replace " +
    "the winner's bucket files") {
    import org.apache.spark.sql.functions.{col, udf}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val root = newRoot()
    assert(CdcApply.applyBatch(b0, 0L, root, Seq("k"), "version",
      Some("deleted")))
    val latch = CdcFenceSpec.Latch.reset()
    val hold = udf { (x: Double) => CdcFenceSpec.Latch.hold(); x }
      .asNondeterministic()
    val loser = Seq((1L, 2L, 11.0, false), (2L, 2L, 20.0, false))
      .toDF("k", "version", "amount", "deleted")
      .withColumn("amount", hold(col("amount")))
    val winner = Seq((2L, 2L, 22.0, false)).toDF(
      "k", "version", "amount", "deleted")
    val lost = Future(CdcApply.applyBatch(loser, 2L, root, Seq("k"),
      "version", Some("deleted")))
    try {
      assert(latch.started.await(120, SECONDS),
        "the loser never reached its first job")
      assert(CdcApply.applyBatch(winner, 2L, root, Seq("k"), "version",
        Some("deleted")))
    } finally latch.release.countDown()
    intercept[java.util.ConcurrentModificationException] {
      Await.result(lost, 300.seconds)
    }
    assert(CdcApply.currentManifestName(spark, root).contains("v2.0"))
    val state = CdcApply.readSnapshot(spark, root).get.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Double]("amount"))).toSet
    assert(state == Set(1L -> 10.0, 2L -> 22.0), state.toString)
    // the loser's directory is garbage: vacuum sweeps it, the winner's
    // stays, and the table still reads the winner's rows
    val dirs = () => new java.io.File(root, "data").listFiles
      .map(_.getName).filter(_.startsWith("v2-")).toSet
    assert(dirs().size == 2, dirs().toString)
    CdcApply.vacuum(spark, root, keep = 2, expireTombstones = false)
    assert(dirs().size == 1, dirs().toString)
    val after = CdcApply.readSnapshot(spark, root).get.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Double]("amount"))).toSet
    assert(after == state)
  }

  test("a head read racing metadata-only commits always resolves and " +
    "never moves backward") {
    val root = newRoot()
    assert(CdcApply.applyBatch(b0, 0L, root, Seq("k"), "version",
      Some("deleted")))
    // each rename is one generation commit and runs no Spark job
    val commits = 100
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val writer = new Thread(() =>
      try (0 until commits).foreach { i =>
        if (i % 2 == 0) CdcApply.renameColumn(spark, root, "amount", "amt")
        else CdcApply.renameColumn(spark, root, "amt", "amount")
      } catch { case t: Throwable => failure.set(t) })
    def gen(name: String): (Long, Int) = {
      val Array(b, g) = name.stripPrefix("v").split('.')
      (b.toLong, g.toInt)
    }
    var last = (0L, 0)
    var reads = 0
    writer.start()
    try while (writer.isAlive) {
      val head = CdcApply.currentManifestName(spark, root)
      assert(head.isDefined, s"a live table read as empty after $reads reads")
      val now = gen(head.get)
      assert(Ordering[(Long, Int)].gteq(now, last),
        s"the head moved back from $last to $now")
      last = now
      reads += 1
    } finally writer.join()
    Option(failure.get).foreach(t => throw t)
    assert(reads > 0)
    assert(CdcApply.currentManifestName(spark, root)
      .contains(s"v0.$commits"))
  }
}

object CdcFenceSpec {
  /** Holds the first task that calls [[hold]] until [[release]] opens:
    * tasks run in the test JVM (local mode), so one static latch pair
    * reaches them.
    */
  object Latch {
    final class Pair {
      val started = new java.util.concurrent.CountDownLatch(1)
      val release = new java.util.concurrent.CountDownLatch(1)
    }
    @volatile private var current = new Pair
    private val first = new java.util.concurrent.atomic.AtomicBoolean(false)

    def reset(): Pair = { current = new Pair; first.set(false); current }

    def hold(): Unit =
      if (first.compareAndSet(false, true)) {
        current.started.countDown()
        current.release.await(300, java.util.concurrent.TimeUnit.SECONDS)
      }
  }
}
