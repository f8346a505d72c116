package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.EventStream

case class Ev(ts: Timestamp, event_type: String, value: Double)
case class SessEv(ts: Timestamp, user_id: Long, value: Double)
case class DocEv(ts: Timestamp, doc_id: Long, text: String)

/** Deterministic micro-batch validation of the streaming tumbling-window
  * aggregation (SURVEY §7.3.5): feed batches through a MemoryStream with a
  * watermark, and assert the finalized windows equal the SAME aggregation
  * run in batch mode over the same rows — the batch/stream unification
  * claim, tested.
  */
class EventStreamSpec extends AnyFunSuite with SparkTestBase {

  private def t(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  /** TIMESTAMP_NTZ literal for comparing against sessionize output. */
  private def ntz(hhmm: String): org.apache.spark.sql.Column =
    lit(s"2024-01-01 $hhmm:00").cast("timestamp_ntz")

  test("streaming windows (append mode) match the batch aggregation") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val events = Seq(
      Ev(t("00:10"), "click", 1.0), Ev(t("00:40"), "click", 2.5),
      Ev(t("00:20"), "view", 1.5), Ev(t("01:15"), "click", 4.0))
    val late = Seq(
      // advances max event time to 05:00 -> watermark 03:00 -> hours 0,1
      // are finalized and emitted in append mode
      Ev(t("05:00"), "view", 9.0))

    val q = EventStream.hourlyCounts(stream.toDF(), "2 hours")
      .writeStream.format("memory").queryName("hourly_test")
      .outputMode("append").start()
    try {
      stream.addData(events: _*)
      q.processAllAvailable()
      stream.addData(late: _*)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("hourly_test")
      .select($"hour_ts", $"event_type", $"cnt", $"total_value")
      .collect().map(_.toSeq).toSet
    val batch = EventStream.hourlyCounts((events ++ late).toDF())
      .filter($"hour_ts" < t("02:00")) // the finalized windows
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"streamed=$streamed\nbatch=$batch")
  }

  test("session_window and typed flatMapGroupsWithState sessionize agree") {
    val builtin = graft.queries.TierC.queries("q_sessionize")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val typed = graft.queries.TierC.queries("q_sessionize_typed")(
      spark, sfDir).collect().map(_.toSeq).toSeq
    assert(builtin.nonEmpty)
    assert(builtin == typed)
  }

  test("sessionize splits strictly past the gap, merges at exactly-gap") {
    import spark.implicits._
    val events = Seq(
      (1L, t("00:00"), 1.0), (1L, t("00:10"), 2.0), // session 1
      (1L, t("00:40"), 4.0),  // exactly 30m after previous -> MERGES
      (1L, t("01:11"), 8.0),  // 31m after previous -> new session
      (2L, t("00:00"), 16.0))
      .toDF("user_id", "ts", "value")
    val out = graft.streaming.EventStream.sessionize(events, "30 minutes")
      .orderBy("user_id", "session_start").collect()
    assert(out.length == 3)
    assert(out(0).getAs[Long]("n_events") == 3)
    assert(out(0).getAs[Double]("total_value") == 7.0)
    assert(out(1).getAs[Long]("n_events") == 1)
    assert(out(1).getAs[Double]("total_value") == 8.0)
    assert(out(2).getAs[Long]("user_id") == 2L)
  }

  test("stream-stream interval join matches the batch join") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val pStream = MemoryStream[SessEv] // (ts, user_id, value) as purchases
    val vStream = MemoryStream[SessEv] // same shape as views
    val pDf = pStream.toDF()
      .select($"user_id".as("p_user"), $"ts".as("p_ts"),
        $"value".as("p_value"))
      .withWatermark("p_ts", "1 hour")
    val vDf = vStream.toDF()
      .select($"user_id".as("v_user"), $"ts".as("v_ts"),
        $"value".as("v_value"))
      .withWatermark("v_ts", "1 hour")
    val q = graft.streaming.EventStream
      .intervalJoin(pDf, vDf, "p_user", "v_user", "p_ts", "v_ts", "1 HOUR")
      .writeStream.format("memory").queryName("ivj_test")
      .outputMode("append").start()
    val purchases = Seq(SessEv(t("01:00"), 1L, 10.0),
      SessEv(t("02:30"), 1L, 20.0), SessEv(t("01:00"), 2L, 30.0))
    val views = Seq(
      SessEv(t("00:30"), 1L, 1.0),  // joins p@01:00 (in window)
      SessEv(t("01:45"), 1L, 2.0),  // joins p@02:30
      SessEv(t("00:59"), 2L, 4.0),  // joins user 2's purchase
      SessEv(t("01:35"), 1L, 8.0))  // after p@01:00, within 1h of p@02:30
    try {
      pStream.addData(purchases: _*)
      vStream.addData(views: _*)
      q.processAllAvailable()
      // advance both watermarks well past every buffered row (distinct
      // users so the advance rows cannot join each other)
      pStream.addData(SessEv(t("10:00"), 8L, 0.0))
      vStream.addData(SessEv(t("10:00"), 9L, 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ivj_test")
      .select("p_user", "p_ts", "v_ts", "v_value")
      .collect().map(_.toSeq).toSet
    // batch twin over the identical rows, same join body
    val pB = purchases.toDF("ts", "user_id", "value")
      .select($"user_id".as("p_user"), $"ts".as("p_ts"))
    val vB = views.toDF("ts", "user_id", "value")
      .select($"user_id".as("v_user"), $"ts".as("v_ts"),
        $"value".as("v_value"))
    val batch = graft.streaming.EventStream
      .intervalJoin(pB, vB, "p_user", "v_user", "p_ts", "v_ts", "1 HOUR")
      .select("p_user", "p_ts", "v_ts", "v_value")
      .collect().map(_.toSeq).toSet
    assert(batch.size == 4, s"batch=$batch")
    assert(streamed == batch, s"streamed=$streamed\nbatch=$batch")
  }

  test("streaming sessionize finalizes sessions past the watermark") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[SessEv]
    val q = graft.streaming.EventStream
      .sessionize(stream.toDF(), "30 minutes", "1 hour")
      .writeStream.format("memory").queryName("sessions_test")
      .outputMode("append").start()
    try {
      stream.addData(SessEv(t("00:00"), 1L, 1.0), SessEv(t("00:10"), 1L, 2.0))
      q.processAllAvailable()
      // watermark advance: 23:00 - 1h = 22:00 >> session end 00:40
      stream.addData(SessEv(t("23:00"), 1L, 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sessions_test").collect()
    assert(rows.length == 1, rows.mkString(","))
    assert(rows.head.getAs[Long]("n_events") == 2)
    assert(rows.head.getAs[Double]("total_value") == 3.0)
  }

  test("stateful sessionizeStream carries open sessions across batches " +
      "and emits on event-time timeout") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[SessEv]
    val q = graft.streaming.TypedSessionize
      .sessionizeStream(spark, stream.toDF(), gapMinutes = 30, "1 hour")
      .writeStream.format("memory").queryName("typed_sessions_test")
      .outputMode("append").start()
    try {
      // session split across two micro-batches: state must carry it
      stream.addData(SessEv(t("00:00"), 1L, 1.0))
      q.processAllAvailable()
      stream.addData(SessEv(t("00:10"), 1L, 2.0))
      q.processAllAvailable()
      // gap-split path: 23:00 closes the carried session in the data path
      stream.addData(SessEv(t("23:00"), 1L, 0.5))
      q.processAllAvailable()
      // timeout path: next-day event pushes the watermark (−1h) past the
      // 23:00 session's timeout (23:30), so user 1's LAST session is
      // emitted by state.hasTimedOut, with no further user-1 data
      val nextDay = Timestamp.valueOf("2024-01-02 01:00:00")
      stream.addData(SessEv(nextDay, 2L, 0.25))
      q.processAllAvailable()
      // one more batch tick: event-time timeouts fire at the start of the
      // batch AFTER the watermark advanced
      stream.addData(SessEv(Timestamp.valueOf("2024-01-02 01:05:00"),
        2L, 0.25))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("typed_sessions_test").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[Double]("total_value"))).sortBy(r => (r._1, r._3))
    // two finalized user-1 sessions: the two-batch session of 2 events
    // totalling 3.0 (closed by the gap split) and the single-event 23:00
    // session (closed by EVENT-TIME TIMEOUT — no later user-1 event)
    assert(rows.toSeq == Seq((1L, 1L, 0.5), (1L, 2L, 3.0)),
      rows.mkString(","))
  }

  test("two admitted late events within gap in ONE micro-batch merge " +
      "into one session (batch parity)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[SessEv]
    val q = graft.streaming.TypedSessionize
      .sessionizeStream(spark, stream.toDF(), gapMinutes = 30, "1 hour")
      .writeStream.format("memory").queryName("late_run_one_batch")
      .outputMode("append").start()
    val all = scala.collection.mutable.ArrayBuffer.empty[SessEv]
    def feed(evs: SessEv*): Unit = {
      all ++= evs; stream.addData(evs: _*); q.processAllAvailable()
    }
    try {
      feed(SessEv(t("12:00"), 1L, 1.0))        // watermark -> 11:00
      // two late-but-admitted events (strictly above the 11:00
      // watermark — an event AT the watermark is dropped) BEFORE
      // 12:00-30m, within gap of each other: one session, not two
      // singletons; 12:05 extends the newest session in the same batch
      feed(SessEv(t("11:05"), 1L, 2.0), SessEv(t("11:15"), 1L, 4.0),
        SessEv(t("12:05"), 1L, 8.0))
      feed(SessEv(t("23:00"), 1L, 0.0))        // watermark -> 22:00
      feed(SessEv(t("23:30"), 2L, 0.0))        // timeout tick for user 1
    } finally q.stop()
    val streamed = spark.table("late_run_one_batch")
      .collect().map(_.toSeq).toSet
    val batchClosed = graft.streaming.TypedSessionize
      .sessionize(spark, all.toSeq.toDF(), gapMinutes = 30)
      .filter($"session_start" < ntz("22:00"))   // the finalized ones
      .collect().map(_.toSeq).toSet
    assert(batchClosed.size == 2, batchClosed)
    assert(streamed == batchClosed, s"streamed=$streamed\nbatch=$batchClosed")
    // and the late run really is ONE 2-event session totalling 6.0
    assert(spark.table("late_run_one_batch")
      .filter($"session_start" === ntz("11:05")).collect().map(r =>
        (r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
      .toSeq == Seq((2L, 6.0)))
  }

  test("two admitted late events within gap ACROSS micro-batches merge " +
      "into one session (batch parity)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[SessEv]
    val q = graft.streaming.TypedSessionize
      .sessionizeStream(spark, stream.toDF(), gapMinutes = 30, "1 hour")
      .writeStream.format("memory").queryName("late_run_two_batches")
      .outputMode("append").start()
    val all = scala.collection.mutable.ArrayBuffer.empty[SessEv]
    def feed(evs: SessEv*): Unit = {
      all ++= evs; stream.addData(evs: _*); q.processAllAvailable()
    }
    try {
      feed(SessEv(t("12:00"), 1L, 1.0))        // watermark -> 11:00
      feed(SessEv(t("11:05"), 1L, 2.0))        // late run, batch A
      feed(SessEv(t("11:15"), 1L, 4.0))        // late run, batch B: merges
      feed(SessEv(t("23:00"), 1L, 0.0))        // watermark -> 22:00
      feed(SessEv(t("23:30"), 2L, 0.0))        // timeout tick for user 1
    } finally q.stop()
    val streamed = spark.table("late_run_two_batches")
      .collect().map(_.toSeq).toSet
    val batchClosed = graft.streaming.TypedSessionize
      .sessionize(spark, all.toSeq.toDF(), gapMinutes = 30)
      .filter($"session_start" < ntz("22:00"))
      .collect().map(_.toSeq).toSet
    assert(batchClosed.size == 2, batchClosed)
    assert(streamed == batchClosed, s"streamed=$streamed\nbatch=$batchClosed")
  }

  test("streaming exact dedup drops copies within the watermark") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[DocEv]
    val q = graft.dedup.Dedup
      .exactStreaming(stream.toDF(), "text", "ts", "1 hour")
      .select($"doc_id", $"text")
      .writeStream.format("memory").queryName("dedup_stream_test")
      .outputMode("append").start()
    try {
      stream.addData(DocEv(t("00:00"), 1L, "same words"),
        DocEv(t("00:05"), 2L, "same words"),
        DocEv(t("00:10"), 3L, "unique words"))
      q.processAllAvailable()
      // a later in-watermark copy is still suppressed
      stream.addData(DocEv(t("00:20"), 4L, "same words"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("dedup_stream_test").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "same words"), (3L, "unique words")))
  }

  test("streaming CDC apply: versioned snapshots, cross-batch merge") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("cdc_apply").toFile.getAbsolutePath
    val stream = MemoryStream[(Long, Long, String, Boolean)]
    val q = graft.streaming.CdcApply.start(
      stream.toDF().toDF("k", "version", "v", "deleted"),
      root, Seq("k"), "version", deletedCol = Some("deleted"),
      queryName = "cdc_apply_test")
    try {
      // batch 1: two inserts
      stream.addData((1L, 1L, "a", false), (2L, 1L, "b", false))
      q.processAllAvailable()
      val s1 = graft.streaming.CdcApply.readSnapshot(spark, root).get
        .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("v"))
        .toMap
      assert(s1 == Map(1L -> "a", 2L -> "b"))
      // batch 2: update k=2, delete k=1, insert k=3, re-deliver (2,v1)
      stream.addData((2L, 2L, "b2", false), (1L, 2L, "", true),
        (3L, 1L, "c", false), (2L, 1L, "b", false))
      q.processAllAvailable()
      val s2 = graft.streaming.CdcApply.readSnapshot(spark, root).get
        .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("v"))
        .toMap
      assert(s2 == Map(2L -> "b2", 3L -> "c"),
        s"snapshot after batch 2: $s2")
      // a LATE lower-versioned update must lose to the applied v2 row
      stream.addData((2L, 0L, "b_stale", false))
      q.processAllAvailable()
      val s3 = graft.streaming.CdcApply.readSnapshot(spark, root).get
        .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("v"))
        .toMap
      assert(s3(2L) == "b2", s"stale update replaced newer row: $s3")
      // every applied batch committed an immutable manifest
      val snaps = new java.io.File(root, "manifests").listFiles
        .filter(_.getName.startsWith("v")).length
      assert(snaps >= 3, s"expected >=3 manifests, got $snaps")
      // time travel: the first batch's snapshot is still readable as of
      // its version while retained
      val asOf0 = graft.streaming.CdcApply.readSnapshotAt(spark, root, 0L)
        .get.collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("v"))
        .toMap
      assert(asOf0 == s1, s"time travel to v0 returned $asOf0")
      // retention sweep keeps the newest N and never breaks the head
      val removed = graft.streaming.CdcApply.vacuum(spark, root, keep = 1)
      assert(removed.nonEmpty, "vacuum removed nothing")
      val after = graft.streaming.CdcApply.readSnapshot(spark, root).get
        .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("v"))
        .toMap
      assert(after == s3, "vacuum broke the current snapshot")
    } finally q.stop()
  }

  test("writeStream.format(\"cdc\") sink: micro-batches merge, and a " +
      "replayed epoch no-ops through the replay guard (exactly-once)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("cdc_sink").toFile.getAbsolutePath
    val ckpt = java.nio.file.Files
      .createTempDirectory("cdc_sink_ckpt").toFile.getAbsolutePath
    val stream = MemoryStream[(Long, Long, String, Boolean)]
    def snap(): Map[Long, String] =
      graft.streaming.CdcApply.readSnapshot(spark, root).get
        .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("v"))
        .toMap
    def start() = stream.toDF().toDF("k", "version", "v", "deleted")
      .writeStream.format("cdc")
      .option("path", root)
      .option("checkpointLocation", ckpt)
      .option("keys", "k").option("versionCol", "version")
      .option("deletedCol", "deleted")
      .queryName("cdc_sink_test").start()
    var q = start()
    try {
      stream.addData((1L, 1L, "a", false), (2L, 1L, "b", false))
      q.processAllAvailable()
      assert(snap() == Map(1L -> "a", 2L -> "b"))
      // epoch 1: update, delete, insert — a merge, not an append
      stream.addData((2L, 2L, "b2", false), (1L, 2L, "", true),
        (3L, 1L, "c", false))
      q.processAllAvailable()
      assert(snap() == Map(2L -> "b2", 3L -> "c"))
      val v = graft.streaming.CdcApply.currentVersion(spark, root)
      q.stop()
      // the V1 sink's real crash window: epoch 1 committed to the
      // TABLE but not to the CHECKPOINT (crash between addBatch and
      // the commit log write). Reopen that window by deleting the
      // checkpoint commit record — the restarted engine re-runs epoch
      // 1, and the CDC replay guard must drop it, not double-apply.
      new java.io.File(s"$ckpt/commits/1").delete()
      new java.io.File(s"$ckpt/commits/.1.crc").delete()
      q = start()
      q.processAllAvailable()
      assert(graft.streaming.CdcApply.currentVersion(spark, root) == v,
        "replayed epoch advanced the table version")
      assert(snap() == Map(2L -> "b2", 3L -> "c"),
        "replayed epoch mutated state")
      // and the stream continues past the replay: epoch 2 applies
      stream.addData((4L, 1L, "d", false))
      q.processAllAvailable()
      assert(snap() == Map(2L -> "b2", 3L -> "c", 4L -> "d"))
    } finally q.stop()
    // Complete mode is refused loudly (it would re-merge unchanged
    // rows as fresh versions every epoch)
    val err = intercept[Exception] {
      stream.toDF().toDF("k", "version", "v", "deleted")
        .groupBy($"k").count()
        .writeStream.format("cdc")
        .option("path", root)
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("cdc_sink_bad").toFile.getAbsolutePath)
        .outputMode("complete")
        .start()
    }
    assert(err.getMessage != null)
  }

  test("CDC replay guard: a committed batch re-run is a no-op") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("cdc_replay").toFile.getAbsolutePath
    val b0 = Seq((1L, 1L, "a", false), (2L, 1L, "b", false))
      .toDF("k", "version", "v", "deleted")
    assert(graft.streaming.CdcApply.applyBatch(b0, 0L, root,
      Seq("k"), "version", Some("deleted")))
    // a foreachBatch replay after the manifest landed: same id, and
    // even a DIFFERENT payload must not be re-merged (the batch
    // committed)
    val replay = Seq((3L, 2L, "c", false))
      .toDF("k", "version", "v", "deleted")
    assert(!graft.streaming.CdcApply.applyBatch(replay, 0L, root,
      Seq("k"), "version", Some("deleted")), "replayed batch applied")
    val state = graft.streaming.CdcApply.readSnapshot(spark, root).get
      .collect().map(r => r.getAs[Long]("k")).toSet
    assert(state == Set(1L, 2L), s"replayed batch mutated state: $state")
    // an in-batch exact duplicate collapses instead of raising
    val b1 = Seq((3L, 2L, "c", false), (3L, 2L, "c", false))
      .toDF("k", "version", "v", "deleted")
    assert(graft.streaming.CdcApply.applyBatch(b1, 1L, root,
      Seq("k"), "version", Some("deleted")))
    val s1 = graft.streaming.CdcApply.readSnapshot(spark, root).get
      .collect().map(r => r.getAs[Long]("k")).toSet
    assert(s1 == Set(1L, 2L, 3L))
  }

  /** Bucket a key the way CdcApply does, for picking test keys that land
    * in known-distinct buckets.
    */
  private def bucketOf(k: Long, n: Int): Int = {
    import spark.implicits._
    Seq(k).toDF("k")
      .select(pmod(xxhash64($"k"), lit(n.toLong)).cast("int"))
      .head().getInt(0)
  }

  /** The data dirs of tag `tag` under `root`: one per commit attempt,
    * named `<tag>-<attempt>`.
    */
  private def attemptDirs(root: String, tag: String): Seq[java.io.File] =
    Option(new java.io.File(root, "data").listFiles).toSeq.flatten
      .filter(_.getName.matches(s"$tag-[0-9a-f]{8}"))

  test("CDC apply rewrites only the buckets a batch touches") {
    import spark.implicits._
    val n = 8
    val root = java.nio.file.Files
      .createTempDirectory("cdc_buckets").toFile.getAbsolutePath
    // keys spread over several distinct buckets, plus one update key
    val keys = (1L to 50L).toList
    val distinctBuckets = keys.groupBy(bucketOf(_, n))
    assert(distinctBuckets.size >= 3, "fixture keys too clustered")
    val b0 = keys.map(k => (k, 1L, s"v$k", false))
      .toDF("k", "version", "v", "deleted")
    assert(graft.streaming.CdcApply.applyBatch(b0, 0L, root,
      Seq("k"), "version", Some("deleted"), numBuckets = n))
    val v0Buckets = attemptDirs(root, "v0").flatMap(_.listFiles)
      .map(_.getName).filter(_.startsWith("_b=")).toSet
    assert(v0Buckets.size == distinctBuckets.size)

    // batch 1 updates ONE key -> exactly one bucket dir under data/v1
    val upd = Seq((7L, 2L, "v7b", false))
      .toDF("k", "version", "v", "deleted")
    assert(graft.streaming.CdcApply.applyBatch(upd, 1L, root,
      Seq("k"), "version", Some("deleted"), numBuckets = n))
    val v1Buckets = attemptDirs(root, "v1").flatMap(_.listFiles)
      .map(_.getName).filter(_.startsWith("_b=")).toSet
    assert(v1Buckets == Set(s"_b=${bucketOf(7L, n)}"),
      s"batch touching one key rewrote buckets $v1Buckets")
    // untouched buckets are carried forward by manifest reference to v0
    val manifest = scala.io.Source.fromFile(
      new java.io.File(root, "manifests/v1.0")).mkString
    val v0Refs = manifest.linesIterator.count(_.matches(".*v0-[0-9a-f]{8}/_b=.*"))
    assert(v0Refs == distinctBuckets.size - 1,
      s"expected ${distinctBuckets.size - 1} carried-forward buckets:\n" +
        manifest)
    // and the merged snapshot is still complete and correct
    val snap = graft.streaming.CdcApply.readSnapshot(spark, root).get
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("v"))
      .toMap
    assert(snap.size == 50 && snap(7L) == "v7b" && snap(8L) == "v8")
  }

  test("tombstone retention: a late update older than a delete stays dead") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("cdc_tombstone").toFile.getAbsolutePath
    def apply(rows: Seq[(Long, Long, String, Boolean)], id: Long,
        retention: Int = 100) =
      graft.streaming.CdcApply.applyBatch(
        rows.toDF("k", "version", "v", "deleted"), id, root,
        Seq("k"), "version", Some("deleted"),
        tombstoneRetention = retention)
    assert(apply(Seq((1L, 1L, "a", false), (2L, 1L, "b", false)), 0L))
    // delete k=1 at version 3
    assert(apply(Seq((1L, 3L, "", true)), 1L))
    // a LATE update with an OLDER version arrives in a later batch: the
    // retained tombstone (v3) must win the merge and keep the key dead
    assert(apply(Seq((1L, 2L, "late", false)), 2L))
    val snap = graft.streaming.CdcApply.readSnapshot(spark, root).get
      .collect().map(_.getAs[Long]("k")).toSet
    assert(snap == Set(2L),
      s"late pre-delete update resurrected the key: $snap")
    // a genuinely NEWER update does revive it
    assert(apply(Seq((1L, 4L, "reborn", false)), 3L))
    val snap2 = graft.streaming.CdcApply.readSnapshot(spark, root).get
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("v"))
      .toMap
    assert(snap2 == Map(1L -> "reborn", 2L -> "b"))
  }

  test("retention 0 reproduces delete-as-removal (late update resurrects)") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("cdc_ret0").toFile.getAbsolutePath
    def apply(rows: Seq[(Long, Long, String, Boolean)], id: Long) =
      graft.streaming.CdcApply.applyBatch(
        rows.toDF("k", "version", "v", "deleted"), id, root,
        Seq("k"), "version", Some("deleted"), tombstoneRetention = 0)
    assert(apply(Seq((1L, 1L, "a", false)), 0L))
    assert(apply(Seq((1L, 3L, "", true)), 1L))
    assert(apply(Seq((1L, 2L, "late", false)), 2L))
    val snap = graft.streaming.CdcApply.readSnapshot(spark, root).get
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("v"))
      .toMap
    // the documented artifact of zero retention — and the reason the
    // default keeps tombstones around
    assert(snap == Map(1L -> "late"))
  }

  test("CDC schema evolution: a new column joins, old rows read NULL, " +
      "time travel keeps the old schema") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("cdc_evolve").toFile.getAbsolutePath
    val b0 = Seq((1L, 1L, "a", false), (2L, 1L, "b", false))
      .toDF("k", "version", "v", "deleted")
    assert(graft.streaming.CdcApply.applyBatch(b0, 0L, root,
      Seq("k"), "version", Some("deleted")))
    // batch 1 carries a NEW payload column: update k=2, insert k=3 —
    // k=1 is untouched, so its bucket may never be rewritten and the
    // new column must still surface (as NULL) via the declared-schema
    // read
    val b1 = Seq((2L, 2L, "b2", false, 10), (3L, 1L, "c", false, 20))
      .toDF("k", "version", "v", "deleted", "score")
    assert(graft.streaming.CdcApply.applyBatch(b1, 1L, root,
      Seq("k"), "version", Some("deleted")))
    val snap = graft.streaming.CdcApply.readSnapshot(spark, root).get
    assert(snap.columns.contains("score"))
    val byK = snap.collect()
      .map(r => r.getAs[Long]("k") ->
        (r.getAs[String]("v"), Option(r.getAs[Any]("score")))).toMap
    assert(byK == Map(
      1L -> ("a", None),           // pre-evolution row: typed NULL
      2L -> ("b2", Some(10)),
      3L -> ("c", Some(20))), s"evolved snapshot: $byK")
    // time travel to batch 0 sees the table as committed then — the
    // later column does not exist in that manifest's schema
    val asOf0 = graft.streaming.CdcApply.readSnapshotAt(spark, root, 0L)
      .get
    assert(!asOf0.columns.contains("score"),
      s"time travel leaked the evolved column: ${asOf0.columns.toSeq}")
    // a later batch OMITTING a known column: whole-row upsert — the new
    // version of k=3 stores NULL for v, untouched rows keep theirs
    val b2 = Seq((3L, 2L, false, 30))
      .toDF("k", "version", "deleted", "score")
    assert(graft.streaming.CdcApply.applyBatch(b2, 2L, root,
      Seq("k"), "version", Some("deleted")))
    val s2 = graft.streaming.CdcApply.readSnapshot(spark, root).get
      .collect().map(r => r.getAs[Long]("k") ->
        (Option(r.getAs[String]("v")), Option(r.getAs[Any]("score"))))
      .toMap
    assert(s2 == Map(
      1L -> (Some("a"), None),
      2L -> (Some("b2"), Some(10)),
      3L -> (None, Some(30))), s"post-omission snapshot: $s2")
  }

  test("CDC schema evolution refuses a same-name column of a new type") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("cdc_clash").toFile.getAbsolutePath
    val b0 = Seq((1L, 1L, "a", false)).toDF("k", "version", "v", "deleted")
    assert(graft.streaming.CdcApply.applyBatch(b0, 0L, root,
      Seq("k"), "version", Some("deleted")))
    val bad = Seq((1L, 2L, 99, false)).toDF("k", "version", "v", "deleted")
    val e = intercept[IllegalArgumentException] {
      graft.streaming.CdcApply.applyBatch(bad, 1L, root,
        Seq("k"), "version", Some("deleted"))
    }
    assert(e.getMessage.contains("type clash"), e.getMessage)
    // and a batch missing a STRUCTURAL column is refused up front
    val noVer = Seq((1L, "x", false)).toDF("k", "v", "deleted")
    val e2 = intercept[IllegalArgumentException] {
      graft.streaming.CdcApply.applyBatch(noVer, 1L, root,
        Seq("k"), "version", Some("deleted"))
    }
    assert(e2.getMessage.contains("missing key/version"), e2.getMessage)
  }

  test("history lists retained commits with schema and CURRENT marker") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("cdc_hist").toFile.getAbsolutePath
    val b0 = Seq((1L, 1L, "a", false)).toDF("k", "version", "v", "deleted")
    assert(graft.streaming.CdcApply.applyBatch(b0, 0L, root,
      Seq("k"), "version", Some("deleted")))
    val b1 = Seq((2L, 1L, "b", false, 5))
      .toDF("k", "version", "v", "deleted", "score")
    assert(graft.streaming.CdcApply.applyBatch(b1, 1L, root,
      Seq("k"), "version", Some("deleted")))
    val h = graft.streaming.CdcApply.history(spark, root)
      .orderBy($"batch_id", $"generation").collect()
    assert(h.map(r => (r.getAs[Long]("batch_id"),
      r.getAs[Boolean]("is_current"))).toSeq == Seq(0L -> false,
      1L -> true), h.mkString("; "))
    // the evolved column shows up only from its batch onward
    val colIdx = h(0).fieldIndex("columns")
    assert(!h(0).getSeq[String](colIdx).contains("score"))
    assert(h(1).getSeq[String](colIdx).contains("score"))
  }

  test("timestamp time travel: resolveAsOf picks the latest covered " +
    "batch; maintenance generations keep the original instant") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("cdc_asof").toFile.getAbsolutePath
    val C = graft.streaming.CdcApply
    val b0 = Seq((1L, 1L, "a", false), (2L, 1L, "b", false))
      .toDF("k", "version", "v", "deleted")
    assert(C.applyBatch(b0, 0L, root, Seq("k"), "version",
      Some("deleted"), tombstoneRetention = 1, commitTs = Some(1000L)))
    val b1 = Seq((2L, 2L, "b2", false), (1L, 2L, "x", true))
      .toDF("k", "version", "v", "deleted")
    assert(C.applyBatch(b1, 1L, root, Seq("k"), "version",
      Some("deleted"), tombstoneRetention = 1, commitTs = Some(2000L)))
    // before the first commit / between commits / at and after the last
    assert(C.resolveAsOf(spark, root, 999L).isEmpty)
    assert(C.resolveAsOf(spark, root, 1000L).contains(0L))
    assert(C.resolveAsOf(spark, root, 1999L).contains(0L))
    assert(C.resolveAsOf(spark, root, 2000L).contains(1L))
    assert(C.resolveAsOf(spark, root, Long.MaxValue).contains(1L))
    val asOf = C.readSnapshotAsOf(spark, root, 1500L).get
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(asOf == Set(1L -> "a", 2L -> "b"), asOf.toString)
    // history carries the commit instant for every retained batch
    val hist = C.history(spark, root)
      .select("batch_id", "commit_ts").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist == Map(0L -> 1000L, 1L -> 2000L), hist.toString)
    // a dead-key batch then a tombstone-expiry vacuum: the rewrite adds
    // a new GENERATION of the current batch carrying the ORIGINAL
    // commit instant, so timestamp resolution answers identically
    // before and after the maintenance — layout moved, time did not
    val b2 = Seq((2L, 3L, "dead", true))
      .toDF("k", "version", "v", "deleted")
    assert(C.applyBatch(b2, 2L, root, Seq("k"), "version",
      Some("deleted"), tombstoneRetention = 1, commitTs = Some(3000L)))
    val b3 = Seq((9L, 1L, "z", false))
      .toDF("k", "version", "v", "deleted")
    assert(C.applyBatch(b3, 3L, root, Seq("k"), "version",
      Some("deleted"), tombstoneRetention = 1, commitTs = Some(4000L)))
    C.vacuum(spark, root, keep = 4, expireTombstones = true)
    assert(C.resolveAsOf(spark, root, 3500L).contains(2L))
    val after = C.readSnapshotAsOf(spark, root, 3500L).get
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(after == Set.empty, s"dead key leaked: $after")
    assert(C.resolveAsOf(spark, root, 4500L).contains(3L))
  }

  test("rebucket: content survives, the merge stream continues under " +
    "the new layout, history shows the generation, vacuum sweeps the " +
    "old one") {
    import spark.implicits._
    val C = graft.streaming.CdcApply
    val root = java.nio.file.Files
      .createTempDirectory("cdc_rebucket").toFile.getAbsolutePath
    def apply(rows: Seq[(Long, Long, String, Boolean)], id: Long,
        ts: Long) =
      C.applyBatch(rows.toDF("k", "version", "v", "deleted"), id, root,
        Seq("k"), "version", Some("deleted"), numBuckets = 4,
        commitTs = Some(ts))
    assert(apply((1L to 40L).map(k => (k, 1L, s"v$k", false)), 0L, 1000L))
    // batch 1 carries an update and a DELETE, so the rebucket rewrite
    // must carry a live tombstone into the new layout
    assert(apply(Seq((7L, 2L, "v7b", false), (9L, 2L, "", true)),
      1L, 2000L))
    val before = C.readSnapshot(spark, root).get
      .select("k", "v").as[(Long, String)].collect().toSet

    // no-op guards: same count, and no snapshot at all
    assert(!C.rebucket(spark, root, 4))
    assert(!C.rebucket(spark,
      java.nio.file.Files.createTempDirectory("cdc_rb_empty")
        .toFile.getAbsolutePath, 8))

    assert(C.rebucket(spark, root, 16))
    // logical content is byte-identical across the layout change
    val after = C.readSnapshot(spark, root).get
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(after == before, "rebucket changed table content")
    // the new generation's manifest records the new layout and the
    // ORIGINAL commit instant (maintenance moves layout, not time)
    val mf = scala.io.Source.fromFile(
      new java.io.File(root, "manifests/v1.1")).mkString
    assert(mf.linesIterator.next().contains("buckets=16"), mf)
    assert(mf.linesIterator.next().contains("ts=2000"), mf)
    assert(mf.linesIterator.exists(_.matches(".*v1g1r-[0-9a-f]{8}/_b=.*")), mf)
    assert(C.resolveAsOf(spark, root, 2500L).contains(1L))
    val h = C.history(spark, root).collect()
    val cur = h.filter(_.getAs[Boolean]("is_current"))
    assert(cur.length == 1 &&
      cur.head.getAs[Long]("batch_id") == 1L &&
      cur.head.getAs[Int]("generation") == 1, h.mkString("\n"))

    // the merge stream continues: the next apply reads the bucket
    // count from the manifest (the caller's creation-time 4 is stale
    // and ignored) and lands its rows in 16-bucket directories
    assert(apply(Seq((7L, 3L, "v7c", false), (41L, 1L, "v41", false)),
      2L, 3000L))
    val v2Buckets = attemptDirs(root, "v2").flatMap(_.listFiles)
      .map(_.getName).filter(_.startsWith("_b=")).toSet
    assert(v2Buckets == Set(7L, 41L).map(k => s"_b=${bucketOf(k, 16)}"),
      s"post-rebucket batch wrote $v2Buckets")
    val s2 = C.readSnapshot(spark, root).get
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(s2 == before - (7L -> "v7b") + (7L -> "v7c") + (41L -> "v41"))
    // the tombstone survived the layout rewrite: a late update
    // versioned OLDER than the applied delete still loses
    assert(apply(Seq((9L, 1L, "stale", false)), 3L, 4000L))
    val s3 = C.readSnapshot(spark, root).get
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(!s3.exists(_._1 == 9L), s"deleted key resurrected: $s3")

    // vacuum sweeps the pre-rebucket layout once retention passes it:
    // batches 0/1 fall out, data/v0 and the old v1 bucket dirs go, and
    // the post-rebucket generation stays live via carried references
    C.vacuum(spark, root, keep = 2, expireTombstones = false)
    assert(attemptDirs(root, "v0").isEmpty,
      "old-layout v0 survived vacuum")
    assert(attemptDirs(root, "v1").isEmpty,
      "pre-rebucket v1 bucket dirs survived vacuum")
    assert(attemptDirs(root, "v1g1r").nonEmpty,
      "post-rebucket generation swept while still referenced")
    val s4 = C.readSnapshot(spark, root).get
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(s4 == s3, "vacuum broke the current snapshot")
  }

  test("empty micro-batch is skipped: no write, no pointer flip") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("cdc_empty").toFile.getAbsolutePath
    val b0 = Seq((1L, 1L, "a", false)).toDF("k", "version", "v", "deleted")
    assert(graft.streaming.CdcApply.applyBatch(b0, 0L, root,
      Seq("k"), "version", Some("deleted")))
    val before = graft.streaming.CdcApply.currentManifestName(spark, root)
    assert(!graft.streaming.CdcApply.applyBatch(b0.limit(0), 1L, root,
      Seq("k"), "version", Some("deleted")),
      "empty batch reported as applied")
    assert(graft.streaming.CdcApply
      .currentManifestName(spark, root) == before)
    assert(attemptDirs(root, "v1").isEmpty,
      "empty batch copied the snapshot")
    // the stream continues past the gap
    val b2 = Seq((2L, 1L, "b", false)).toDF("k", "version", "v", "deleted")
    assert(graft.streaming.CdcApply.applyBatch(b2, 2L, root,
      Seq("k"), "version", Some("deleted")))
    val snap = graft.streaming.CdcApply.readSnapshot(spark, root).get
      .collect().map(_.getAs[Long]("k")).toSet
    assert(snap == Set(1L, 2L))
  }

  test("vacuum expires aged tombstones out of untouched buckets") {
    import spark.implicits._
    val n = 8
    val root = java.nio.file.Files
      .createTempDirectory("cdc_expire").toFile.getAbsolutePath
    def apply(rows: Seq[(Long, Long, String, Boolean)], id: Long) =
      graft.streaming.CdcApply.applyBatch(
        rows.toDF("k", "version", "v", "deleted"), id, root,
        Seq("k"), "version", Some("deleted"), numBuckets = n,
        tombstoneRetention = 2)
    // pick an update key from a DIFFERENT bucket than the deleted key,
    // so later batches never touch the tombstone's bucket
    val dead = 1L
    val other = (2L to 60L)
      .find(k => bucketOf(k, n) != bucketOf(dead, n)).get
    assert(apply(Seq((dead, 1L, "a", false), (other, 1L, "b", false)), 0L))
    assert(apply(Seq((dead, 2L, "", true)), 1L))
    assert(apply(Seq((other, 2L, "b2", false)), 2L))
    assert(apply(Seq((other, 3L, "b3", false)), 3L))
    // the tombstone (applied at batch 1, retention 2) is now expired but
    // its bucket was never rewritten — it is still physically present
    def rawDeleted(): Long = {
      val m = graft.streaming.CdcApply
        .currentManifestName(spark, root).get
      val lines = scala.io.Source.fromFile(
        new java.io.File(root, s"manifests/$m")).mkString
      val paths = lines.linesIterator.drop(1)
        .filter(l => l.nonEmpty && !l.startsWith("schema\t"))
        .map(l => s"$root/data/${l.split('\t')(1)}").toSeq
      spark.read.parquet(paths: _*).filter($"deleted").count()
    }
    assert(rawDeleted() == 1, "expected the tombstone to be retained")
    val removed = graft.streaming.CdcApply.vacuum(spark, root, keep = 1)
    assert(removed.nonEmpty)
    assert(rawDeleted() == 0, "vacuum left the expired tombstone")
    // logical content unchanged
    val snap = graft.streaming.CdcApply.readSnapshot(spark, root).get
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("v"))
      .toMap
    assert(snap == Map(other -> "b3"))
    // the replay-guard watermark did not move (gen bumped, batch id not)
    assert(graft.streaming.CdcApply
      .currentVersion(spark, root).contains(3L))
  }

  test("buckets() serves per-bucket bytes/rows/oldest-tombstone from " +
    "the manifest, and numBuckets tracks rebucket") {
    import spark.implicits._
    val C = graft.streaming.CdcApply
    val root = java.nio.file.Files
      .createTempDirectory("cdc_buckets").toFile.getAbsolutePath
    def apply(rows: Seq[(Long, Long, String, Boolean)], id: Long) =
      C.applyBatch(rows.toDF("k", "version", "v", "deleted"), id, root,
        Seq("k"), "version", Some("deleted"), numBuckets = 4)
    assert(C.numBuckets(spark, root).isEmpty)
    assert(C.buckets(spark, root).isEmpty)
    assert(apply((1L to 30L).map(k => (k, 1L, s"v$k", false)), 0L))
    assert(apply(Seq((5L, 2L, "", true)), 1L))
    assert(C.numBuckets(spark, root).contains(4))
    val b = C.buckets(spark, root).collect()
    // every live bucket has write-time stats; the row total counts
    // stored rows INCLUDING the retained tombstone
    assert(b.nonEmpty && b.forall(r => r.getAs[Long]("bytes") > 0L))
    assert(b.map(_.getAs[Long]("rows")).sum == 30L)
    val tombBuckets = b.filter(!_.isNullAt(4))
    assert(tombBuckets.map(r => (r.getAs[Int]("bucket_id"),
      r.getAs[Long]("oldest_tombstone_batch"))).toSeq ==
      Seq((bucketOf(5L, 4), 1L)))
    // describe: the one-row manifest-only summary agrees with the
    // per-bucket view
    val desc = C.describe(spark, root).collect()
    assert(desc.length == 1)
    assert(desc.head.getAs[Long]("batch_id") == 1L &&
      desc.head.getAs[Int]("num_buckets") == 4 &&
      desc.head.getAs[Long]("total_rows") == 30L &&
      desc.head.getAs[Long]("total_bytes") ==
        b.map(_.getAs[Long]("bytes")).sum &&
      desc.head.getAs[Int]("batches_retained") == 2, desc.head.toString)
    assert(C.describe(spark,
      java.nio.file.Files.createTempDirectory("cdc_desc_none")
        .toFile.getAbsolutePath).isEmpty)
    // the decision loop the metadata exists for: rebucket, then both
    // the count and the per-bucket view follow the new layout — with
    // zero data files read on the query side (manifest-only)
    assert(C.rebucket(spark, root, 8))
    assert(C.numBuckets(spark, root).contains(8))
    val b2 = C.buckets(spark, root).collect()
    assert(b2.map(_.getAs[Long]("rows")).sum == 30L)
    assert(b2.forall(_.getAs[String]("data_dir").matches("v1g1r-[0-9a-f]{8}/.*")))
    assert(b2.filter(!_.isNullAt(4)).map(_.getAs[Int]("bucket_id"))
      .toSeq == Seq(bucketOf(5L, 8)))
  }

  test("changesSince: upserts + tombstones since a batch, with " +
    "manifest-level pruning of untouched buckets") {
    import spark.implicits._
    val C = graft.streaming.CdcApply
    val n = 4
    val root = java.nio.file.Files
      .createTempDirectory("cdc_changes").toFile.getAbsolutePath
    def apply(rows: Seq[(Long, Long, String, Boolean)], id: Long) =
      C.applyBatch(rows.toDF("k", "version", "v", "deleted"), id, root,
        Seq("k"), "version", Some("deleted"), numBuckets = n,
        commitTs = Some((id + 1) * 1000L))
    assert(C.changesSince(spark, root, 0L).isEmpty)
    assert(apply((1L to 20L).map(k => (k, 1L, s"v$k", false)), 0L))
    // touch keys from ONE bucket so later feeds can prove pruning
    val b0 = (1L to 20L).filter(k => bucketOf(k, n) == 0)
    assert(apply(Seq((b0(0), 2L, "upd", false),
      (b0(1), 2L, "", true)), 1L))

    // since batch 0: exactly the two batch-1 changes, delete included,
    // each stamped with the batch that applied it
    val since0 = C.changesSince(spark, root, 0L).get
    val got = since0.select("k", "v", "deleted", "_change_batch")
      .as[(Long, String, Boolean, Long)].collect().toSet
    assert(got == Set((b0(0), "upd", false, 1L), (b0(1), "", true, 1L)),
      got.toString)
    // manifest-level pruning: only the touched bucket's dir is scanned —
    // every input file lives under the batch-1 rewrite, none under v0
    val files = since0.inputFiles
    assert(files.nonEmpty && files.forall(_.matches(".*/v1-[0-9a-f]{8}/.*")),
      files.mkString("\n"))

    // a consumer current through batch 1 sees nothing
    assert(C.changesSince(spark, root, 1L).get.count() == 0L)
    // timestamp form: since "while batch 0 was current" = the batch-1
    // changes; before any commit = no position to resolve
    assert(C.changesSinceTs(spark, root, 1500L).get
      .select("k").as[Long].collect().toSet == Set(b0(0), b0(1)))
    assert(C.changesSinceTs(spark, root, 500L).isEmpty)
    // full-sync consumer (since -1) sees every live version once:
    // batch-0 rows carried forward keep their original stamp
    val all = C.changesSince(spark, root, -1L).get
    assert(all.count() == 20L) // 18 untouched + upsert + tombstone
    assert(all.filter($"_change_batch" === 0L).count() == 18L)
    // the current-snapshot read is unaffected by the stamp column
    val snap = C.readSnapshot(spark, root).get
    assert(!snap.columns.contains("_ab") &&
      !snap.columns.contains("_change_batch"))
    assert(snap.count() == 19L) // tombstoned key filtered
  }

  test("changesBetween: a bounded diff runs against the retained " +
    "historical manifest, not the head") {
    import spark.implicits._
    val C = graft.streaming.CdcApply
    val root = java.nio.file.Files
      .createTempDirectory("cdc_between").toFile.getAbsolutePath
    def apply(rows: Seq[(Long, Long, String, Boolean)], id: Long) =
      C.applyBatch(rows.toDF("k", "version", "v", "deleted"), id, root,
        Seq("k"), "version", Some("deleted"), numBuckets = 4,
        commitTs = Some((id + 1) * 1000L))
    assert(C.changesBetween(spark, root, -1L, 0L).isEmpty)
    assert(apply(Seq((1L, 1L, "a", false), (2L, 1L, "b", false)), 0L))
    assert(apply(Seq((1L, 2L, "a2", false), (3L, 1L, "c", false)), 1L))
    assert(apply(Seq((2L, 2L, "", true)), 2L))

    // (-1, 0]: the batch-0 inserts exactly — none of the later
    // updates, inserts, or tombstones bleed in even though the head
    // is at 2 (k=1 comes back at version 1, not its current 2)
    val initial = C.changesBetween(spark, root, -1L, 0L).get
      .select("k", "v", "_change_batch")
      .as[(Long, String, Long)].collect().toSet
    assert(initial == Set((1L, "a", 0L), (2L, "b", 0L)), initial)
    // (0, 1]: batch 1's changes as they stood at batch 1
    val mid = C.changesBetween(spark, root, 0L, 1L).get
      .select("k", "v", "_change_batch")
      .as[(Long, String, Long)].collect().toSet
    assert(mid == Set((1L, "a2", 1L), (3L, "c", 1L)), mid)
    // (from, head] degenerates to changesSince(from)
    val toHead = C.changesBetween(spark, root, 0L, 2L).get
      .select("k", "_change_batch").as[(Long, Long)].collect().toSet
    val since = C.changesSince(spark, root, 0L).get
      .select("k", "_change_batch").as[(Long, Long)].collect().toSet
    assert(toHead == since && toHead ==
      Set((1L, 1L), (3L, 1L), (2L, 2L)), toHead)
    // an unretained toBatch is None, an inverted range refuses
    assert(C.changesBetween(spark, root, 0L, 9L).isEmpty)
    intercept[IllegalArgumentException] {
      C.changesBetween(spark, root, 2L, 1L)
    }
    // vacuum sweeping batch 0's manifest takes the historical diff
    // with it — None, never a silently wrong answer from newer dirs
    C.vacuum(spark, root, keep = 2, expireTombstones = false)
    assert(C.changesBetween(spark, root, -1L, 0L).isEmpty)
    assert(C.changesBetween(spark, root, 0L, 2L).get.count() == 3L)
  }

  test("change-feed completeness bound: a consumer lagging past " +
    "tombstone retention misses the aged-out delete — the documented " +
    "re-seed case") {
    import spark.implicits._
    val C = graft.streaming.CdcApply
    val root = java.nio.file.Files
      .createTempDirectory("cdc_feed_bound").toFile.getAbsolutePath
    def apply(rows: Seq[(Long, Long, String, Boolean)], id: Long) =
      C.applyBatch(rows.toDF("k", "version", "v", "deleted"), id, root,
        Seq("k"), "version", Some("deleted"), numBuckets = 1,
        tombstoneRetention = 1)
    assert(apply(Seq((1L, 1L, "a", false), (2L, 1L, "b", false)), 0L))
    assert(apply(Seq((2L, 2L, "", true)), 1L))
    // within retention the delete IS in the feed
    assert(C.changesSince(spark, root, 0L).get
      .filter($"deleted").count() == 1L)
    // two more merges over the single bucket age the tombstone out
    assert(apply(Seq((1L, 2L, "a2", false)), 2L))
    assert(apply(Seq((1L, 3L, "a3", false)), 3L))
    val feed = C.changesSince(spark, root, 0L).get
    assert(feed.filter($"deleted").count() == 0L,
      "aged-out tombstone unexpectedly still in the feed")
    // the lagging consumer would keep k=2 forever — retention is the
    // feed's completeness horizon, re-seed (changesSince(-1) == full
    // live state) is the documented recovery
    val reseed = C.changesSince(spark, root, -1L).get
      .select("k").as[Long].collect().toSet
    assert(reseed == Set(1L))
  }

  test("review regressions: reserved feed column, schema-less-manifest " +
    "feed/lookup fallbacks, partial-stats rebucket refusal, " +
    "past-retention mirror refusal + reseed, empty-source seed") {
    import spark.implicits._
    val C = graft.streaming.CdcApply
    val root = java.nio.file.Files
      .createTempDirectory("cdc_regress").toFile.getAbsolutePath
    // 1) _change_batch is reserved: a payload column of that name would
    // collide with the feed's stamp rename
    val clash = Seq((1L, 1L, 2L)).toDF("k", "version", "_change_batch")
    val e = intercept[IllegalArgumentException] {
      C.applyBatch(clash, 0L, root, Seq("k"), "version", None)
    }
    assert(e.getMessage.contains("_change_batch"))

    assert(C.applyBatch(
      (1L to 12L).map(k => (k, 1L, s"v$k")).toDF("k", "version", "v"),
      0L, root, Seq("k"), "version", None, numBuckets = 4))
    // 2+5) strip the schema line (pre-v4 manifest shape): the feed must
    // return an EMPTY TYPED frame, and lookup must fall back to a
    // correct unpruned scan — never a wrong-bucket miss
    val cur = C.currentManifestName(spark, root).get
    val mf = new java.io.File(root, s"manifests/$cur")
    val noSchema = scala.io.Source.fromFile(mf).mkString.linesIterator
      .filterNot(_.startsWith("schema\t")).mkString("\n")
    java.nio.file.Files.writeString(mf.toPath, noSchema)
    new java.io.File(mf.getParentFile, s".$cur.crc").delete()
    assert(C.changesSince(spark, root, -1L).get.count() == 0L)
    assert(C.lookup(spark, root, Seq(7L)).get
      .select("v").as[String].collect().toSeq == Seq("v7"))

    // 4) partial per-bucket stats: auto-rebucket must refuse rather
    // than size the rewrite from an undercounted total
    val dashed = scala.io.Source.fromFile(mf).mkString.linesIterator
      .zipWithIndex.map { case (l, i) =>
        if (i == 1 && l.split('\t').length >= 5) {
          val p = l.split('\t'); (p.take(3) :+ "-" :+ p(4)).mkString("\t")
        } else l
      }.mkString("\n")
    java.nio.file.Files.writeString(mf.toPath, dashed)
    new java.io.File(mf.getParentFile, s".$cur.crc").delete()
    assert(C.rebucketIfNeeded(spark, root, 1L, 1L).isEmpty,
      "partial stats must refuse the auto-rebucket")

    // 3) retention completeness bound, fail-closed: retention 0 ages
    // the delete's tombstone out at its own apply — the feed since 0
    // cannot carry it, so a lagging sync must REFUSE loudly (the old
    // behavior advanced the watermark and silently kept the dead key
    // in the mirror forever). reseedMirror is the documented recovery.
    val src = java.nio.file.Files
      .createTempDirectory("cdc_regress_src").toFile.getAbsolutePath
    val mir = java.nio.file.Files
      .createTempDirectory("cdc_regress_mir").toFile.getAbsolutePath
    def applySrc(rows: Seq[(Long, Long, String, Boolean)], id: Long) =
      C.applyBatch(rows.toDF("k", "version", "v", "deleted"), id, src,
        Seq("k"), "version", Some("deleted"), numBuckets = 4,
        tombstoneRetention = 0)
    val k1 = 1L
    val k2 = (2L to 40L).find(k => bucketOf(k, 4) != bucketOf(k1, 4)).get
    assert(applySrc(Seq((k1, 1L, "a", false), (k2, 1L, "b", false)), 0L))
    assert(C.syncMirror(spark, src, mir))
    assert(applySrc(Seq((k2, 2L, "", true)), 1L))
    val lag = intercept[IllegalStateException] {
      C.syncMirror(spark, src, mir)
    }
    assert(lag.getMessage.contains("re-seed"), lag.getMessage)
    // the refused sync moved nothing: watermark still at the seed
    assert(C.currentVersion(spark, mir).contains(0L))
    // re-seed: the mirror lands on the source's live state (k2 gone —
    // the dead key a watermark-advancing sync would have kept) at the
    // source's head watermark, and the next poll is a no-op again
    assert(C.reseedMirror(spark, src, mir))
    assert(C.readSnapshot(spark, mir).get
      .select("k").as[Long].collect().toSeq == Seq(k1))
    assert(C.currentVersion(spark, mir).contains(1L))
    assert(!C.syncMirror(spark, src, mir), "post-reseed poll not a no-op")

    // 3b) fully-emptied source, FIRST sync (nothing stale to miss):
    // changesSince is None on a zero-live-bucket manifest — the sync
    // must seed an empty mirror at the source watermark, not wedge
    // returning false forever
    val mir2 = java.nio.file.Files
      .createTempDirectory("cdc_regress_mir2").toFile.getAbsolutePath
    assert(applySrc(Seq((k1, 2L, "", true)), 2L)) // source now empty
    assert(C.readSnapshot(spark, src).isEmpty)
    assert(C.syncMirror(spark, src, mir2),
      "empty-table first sync wedged instead of seeding")
    assert(C.currentVersion(spark, mir2).contains(2L))
    assert(!C.syncMirror(spark, src, mir2))
  }

  test("lookup: a point read scans exactly one bucket directory") {
    import spark.implicits._
    val C = graft.streaming.CdcApply
    val n = 8
    val root = java.nio.file.Files
      .createTempDirectory("cdc_lookup").toFile.getAbsolutePath
    def apply(rows: Seq[(Long, Long, String, Boolean)], id: Long) =
      C.applyBatch(rows.toDF("k", "version", "v", "deleted"), id, root,
        Seq("k"), "version", Some("deleted"), numBuckets = n)
    assert(C.lookup(spark, root, Seq(1L)).isEmpty)
    assert(apply((1L to 50L).map(k => (k, 1L, s"v$k", false)), 0L))
    assert(apply(Seq((7L, 2L, "v7b", false), (9L, 2L, "", true)), 1L))

    val hit = C.lookup(spark, root, Seq(7L)).get
    assert(hit.select("k", "v").as[(Long, String)].collect().toSeq ==
      Seq(7L -> "v7b"))
    // the plan's file listing covers ONLY the key's bucket dir
    val dirs = hit.inputFiles.map(_.replaceAll("/[^/]*$", "")).distinct
    assert(dirs.length == 1 &&
      dirs.head.endsWith(s"_b=${bucketOf(7L, n)}"), dirs.mkString(","))
    // key types matter to the hash: an Int literal must still find the
    // Long-keyed row (lookup casts to the table's key types)
    assert(C.lookup(spark, root, Seq(7)).get.count() == 1L)
    // absent and tombstoned keys read back empty
    assert(C.lookup(spark, root, Seq(9999L)).get.count() == 0L)
    assert(C.lookup(spark, root, Seq(9L)).get.count() == 0L)

    // absent-BUCKET GET: the typed empty frame is built from the
    // manifest schema with zero filesystem access — no file source in
    // the plan at all (a not-found on a thousand-bucket table must not
    // pay a directory listing)
    val root2 = java.nio.file.Files
      .createTempDirectory("cdc_lookup_absent").toFile.getAbsolutePath
    assert(C.applyBatch(
      Seq((1L, 1L, "a", false)).toDF("k", "version", "v", "deleted"),
      0L, root2, Seq("k"), "version", Some("deleted"), numBuckets = 8))
    val absentKey =
      (2L to 200L).find(k => bucketOf(k, 8) != bucketOf(1L, 8)).get
    val miss = C.lookup(spark, root2, Seq(absentKey)).get
    assert(miss.inputFiles.isEmpty,
      "absent-bucket lookup touched the filesystem")
    assert(miss.count() == 0L)
    // the empty frame still declares the snapshot's visible shape
    assert(miss.columns.toSeq == Seq("k", "version", "v"))
  }

  test("readChangesStream: a file stream tails the changelog — events " +
    "arrive per applied batch, deletes flagged, vacuum sweeps dropped " +
    "batches' logs") {
    import spark.implicits._
    val C = graft.streaming.CdcApply
    val root = java.nio.file.Files
      .createTempDirectory("cdc_stream_feed").toFile.getAbsolutePath
    def apply(rows: Seq[(Long, Long, String, Boolean)], id: Long) =
      C.applyBatch(rows.toDF("k", "version", "v", "deleted"), id, root,
        Seq("k"), "version", Some("deleted"), numBuckets = 2,
        changelog = true)
    assert(C.readChangesStream(spark, root).isEmpty)
    assert(apply(Seq((1L, 1L, "a", false), (2L, 1L, "b", false)), 0L))
    assert(apply(Seq((2L, 2L, "b2", false), (3L, 1L, "", true)), 1L))

    val feed = C.readChangesStream(spark, root).get
    val q = feed.writeStream.format("memory")
      .queryName("cdc_feed_sink").outputMode("append").start()
    try {
      q.processAllAvailable()
      def got() = spark.table("cdc_feed_sink")
        .select("k", "version", "v", "deleted", "_change_batch")
        .as[(Long, Long, String, Boolean, Long)].collect().toSet
      assert(got() == Set(
        (1L, 1L, "a", false, 0L), (2L, 1L, "b", false, 0L),
        (2L, 2L, "b2", false, 1L), (3L, 1L, "", true, 1L)), got().toString)
      // a later apply lands as NEW files; the running stream picks the
      // events up — including a late lower-versioned loser, which is
      // still an event (downstream latest-wins converges)
      assert(apply(Seq((1L, 3L, "a3", false), (2L, 0L, "stale", false)),
        2L))
      q.processAllAvailable()
      assert(got().contains((1L, 3L, "a3", false, 2L)))
      assert(got().contains((2L, 0L, "stale", false, 2L)))
      assert(got().size == 6)
    } finally q.stop()

    // retention: batches 0/1 fall out of the manifest window -> their
    // changelog dirs are swept, the retained batch's log stays
    val removed = C.vacuum(spark, root, keep = 1,
      expireTombstones = false)
    assert(removed.contains("changelog/b0") &&
      removed.contains("changelog/b1"), removed.toString)
    assert(new java.io.File(root, "changelog/b2").exists)
  }

  test("reseedChangesConsumer: a consumer whose position was vacuumed " +
    "out of the changelog bootstraps from the snapshot and converges " +
    "with the restarted stream") {
    import spark.implicits._
    val C = graft.streaming.CdcApply
    val root = java.nio.file.Files
      .createTempDirectory("cdc_reseed_feed").toFile.getAbsolutePath
    def apply(rows: Seq[(Long, Long, String, Boolean)], id: Long) =
      C.applyBatch(rows.toDF("k", "version", "v", "deleted"), id, root,
        Seq("k"), "version", Some("deleted"), numBuckets = 2,
        changelog = true)
    assert(C.reseedChangesConsumer(spark, root).isEmpty,
      "no table yet must be None")
    assert(apply(Seq((1L, 1L, "a", false), (2L, 1L, "b", false)), 0L))
    assert(apply(Seq((2L, 2L, "b2", false), (3L, 1L, "", true)), 1L))
    assert(apply(Seq((1L, 3L, "a3", false)), 2L))
    // batches 0 and 1 leave retention: their changelog dirs are swept,
    // so a consumer that had not read them can never see those events
    // through the stream again
    val removed = C.vacuum(spark, root, keep = 1,
      expireTombstones = false)
    assert(removed.contains("changelog/b0"), removed.toString)
    // the bootstrap: full live state + unexpired tombstones, stamped
    // with the applying batch in the stream's shape, watermark at head
    val (boot, wm) = C.reseedChangesConsumer(spark, root).get
    assert(wm == 2L)
    val bootRows = boot
      .select("k", "version", "v", "deleted", "_change_batch")
      .as[(Long, Long, String, Boolean, Long)].collect().toSet
    assert(bootRows == Set(
      (1L, 3L, "a3", false, 2L), (2L, 2L, "b2", false, 1L),
      (3L, 1L, "", true, 1L)), bootRows.toString)
    // restart with a fresh checkpoint: the surviving changelog (b2)
    // re-delivers at-least-once; latest-wins over bootstrap + stream
    // converges to the live snapshot
    val q = C.readChangesStream(spark, root).get
      .writeStream.format("memory")
      .queryName("cdc_reseed_sink").outputMode("append").start()
    val streamed =
      try { q.processAllAvailable()
        spark.table("cdc_reseed_sink")
          .select("k", "version", "v", "deleted", "_change_batch")
          .as[(Long, Long, String, Boolean, Long)].collect().toSet
      } finally q.stop()
    assert(streamed == Set((1L, 3L, "a3", false, 2L)),
      streamed.toString)
    val converged = (bootRows ++ streamed).groupBy(_._1).map {
      case (k, evs) => k -> evs.maxBy(_._2)
    }.collect { case (k, (_, _, v, del, _)) if !del => k -> v }.toSet
    val live = C.readSnapshot(spark, root).get
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(converged == live, s"converged $converged vs live $live")
  }

  test("stream-chained replication: a live merge stream's changelog " +
    "feeds a second CdcApply — the downstream table converges") {
    import spark.implicits._
    val C = graft.streaming.CdcApply
    val src = java.nio.file.Files
      .createTempDirectory("cdc_chain_src").toFile.getAbsolutePath
    val dst = java.nio.file.Files
      .createTempDirectory("cdc_chain_dst").toFile.getAbsolutePath
    val in = MemoryStream[(Long, Long, String, Boolean)](spark)
    val upstream = C.start(
      in.toDF().toDF("k", "version", "v", "deleted"), src,
      Seq("k"), "version", Some("deleted"), queryName = "chain_src",
      numBuckets = 2, changelog = true)
    try {
      in.addData((1L, 1L, "a", false), (2L, 1L, "b", false))
      upstream.processAllAvailable()
      // the downstream table consumes the STREAMING feed — a second
      // CdcApply whose input is the changelog file stream; its own
      // batch ids and checkpoints are independent of the source's
      val feed = C.readChangesStream(spark, src).get
      val downstream = C.start(
        feed.drop(C.ChangeBatchCol), dst,
        Seq("k"), "version", Some("deleted"), queryName = "chain_dst",
        numBuckets = 4)
      try {
        downstream.processAllAvailable()
        def liveOf(root: String): Map[Long, String] =
          C.readSnapshot(spark, root).map(_.select("k", "v")
            .as[(Long, String)].collect().toMap).getOrElse(Map.empty)
        assert(liveOf(dst) == liveOf(src), "seed did not converge")
        // live updates + a delete flow through both hops
        in.addData((1L, 2L, "a2", false), (2L, 2L, "", true))
        upstream.processAllAvailable()
        downstream.processAllAvailable()
        assert(liveOf(dst) == liveOf(src))
        assert(liveOf(dst) == Map(1L -> "a2"), liveOf(dst).toString)
      } finally downstream.stop()
    } finally upstream.stop()
  }

  test("syncMirror: exactly-once incremental replication — seed, " +
    "trickle, delete propagation, replayed sync dropped") {
    import spark.implicits._
    val C = graft.streaming.CdcApply
    val src = java.nio.file.Files
      .createTempDirectory("cdc_repl_src").toFile.getAbsolutePath
    val mir = java.nio.file.Files
      .createTempDirectory("cdc_repl_mir").toFile.getAbsolutePath
    def apply(rows: Seq[(Long, Long, String, Boolean)], id: Long) =
      C.applyBatch(rows.toDF("k", "version", "v", "deleted"), id, src,
        Seq("k"), "version", Some("deleted"), numBuckets = 4)
    def liveOf(root: String): Map[Long, String] =
      C.readSnapshot(spark, root).map(_.select("k", "v")
        .as[(Long, String)].collect().toMap).getOrElse(Map.empty)

    // nothing to sync yet
    assert(!C.syncMirror(spark, src, mir))
    assert(apply((1L to 30L).map(k => (k, 1L, s"v$k", false)), 0L))
    assert(apply(Seq((2L, 2L, "v2b", false)), 1L))
    // seed sync: the mirror lands on the source's live state
    assert(C.syncMirror(spark, src, mir, numBuckets = 2))
    assert(liveOf(mir) == liveOf(src))
    // the mirror is a real CDC table: watermark = source batch id
    assert(C.currentVersion(spark, mir).contains(1L))

    // trickle: an update and a delete; the incremental sync moves them
    assert(apply(Seq((3L, 2L, "v3b", false), (4L, 2L, "", true)), 2L))
    assert(C.syncMirror(spark, src, mir, numBuckets = 2))
    assert(liveOf(mir) == liveOf(src))
    assert(!liveOf(mir).contains(4L), "delete did not propagate")
    // the sync wrote ONE mirror batch holding only the touched keys:
    // its data dir covers at most 2 of the mirror's 2 buckets but the
    // feed it applied was 2 rows, not a re-seed
    val changes = C.changesSince(spark, mir, 1L).get
    assert(changes.count() == 2L, "sync re-copied untouched rows")

    // replayed / no-new-data sync is dropped by the replay guard
    assert(!C.syncMirror(spark, src, mir, numBuckets = 2))
    assert(liveOf(mir) == liveOf(src))
  }

  test("mirror time travel is deterministic under a caller-supplied " +
    "commit clock") {
    import spark.implicits._
    val C = graft.streaming.CdcApply
    val src = java.nio.file.Files
      .createTempDirectory("cdc_mirts_src").toFile.getAbsolutePath
    val mir = java.nio.file.Files
      .createTempDirectory("cdc_mirts_mir").toFile.getAbsolutePath
    def apply(rows: Seq[(Long, Long, String, Boolean)], id: Long,
        ts: Long) =
      C.applyBatch(rows.toDF("k", "version", "v", "deleted"), id, src,
        Seq("k"), "version", Some("deleted"), numBuckets = 2,
        commitTs = Some(ts))
    assert(apply(Seq((1L, 1L, "a", false), (2L, 1L, "b", false)),
      0L, 1000L))
    assert(C.syncMirror(spark, src, mir, numBuckets = 2,
      commitTs = Some(1100L)))
    assert(apply(Seq((2L, 2L, "b2", false)), 1L, 2000L))
    assert(C.syncMirror(spark, src, mir, numBuckets = 2,
      commitTs = Some(2100L)))
    def stateAsOf(ts: Long): Option[Map[Long, String]] =
      C.readSnapshotAsOf(spark, mir, ts).map(_.select("k", "v")
        .as[(Long, String)].collect().toMap)
    // before the first mirror commit there is no mirror state
    assert(stateAsOf(1000L).isEmpty)
    // t=1500 resolves to the seed sync's logical instant (1100)
    assert(stateAsOf(1500L).contains(Map(1L -> "a", 2L -> "b")))
    assert(stateAsOf(2100L).contains(Map(1L -> "a", 2L -> "b2")))
    // the carried-forward commit of an empty-source FIRST sync stamps
    // the logical clock too (the None-manifest branch)
    val esrc = java.nio.file.Files
      .createTempDirectory("cdc_mirts_esrc").toFile.getAbsolutePath
    val emir = java.nio.file.Files
      .createTempDirectory("cdc_mirts_emir").toFile.getAbsolutePath
    assert(C.applyBatch(
      Seq((1L, 1L, "a", false)).toDF("k", "version", "v", "deleted"),
      0L, esrc, Seq("k"), "version", Some("deleted"), numBuckets = 2,
      tombstoneRetention = 0, commitTs = Some(1000L)))
    assert(C.applyBatch(
      Seq((1L, 2L, "", true)).toDF("k", "version", "v", "deleted"),
      1L, esrc, Seq("k"), "version", Some("deleted"), numBuckets = 2,
      tombstoneRetention = 0, commitTs = Some(2000L)))
    assert(C.readSnapshot(spark, esrc).isEmpty)
    assert(C.syncMirror(spark, esrc, emir, commitTs = Some(3000L)))
    val hist = C.history(spark, emir).collect()
    assert(hist.map(r => (r.getAs[Long]("batch_id"),
      r.getAs[Long]("commit_ts"))).toSeq == Seq(1L -> 3000L),
      hist.toSeq.toString)
  }

  test("startMirror: the mirror follows the merging source across " +
    "ticks, idle ticks no-op") {
    import spark.implicits._
    val C = graft.streaming.CdcApply
    val src = java.nio.file.Files
      .createTempDirectory("cdc_smir_src").toFile.getAbsolutePath
    val mir = java.nio.file.Files
      .createTempDirectory("cdc_smir_mir").toFile.getAbsolutePath
    def apply(rows: Seq[(Long, Long, String, Boolean)], id: Long) =
      C.applyBatch(rows.toDF("k", "version", "v", "deleted"), id, src,
        Seq("k"), "version", Some("deleted"), numBuckets = 4)
    def liveOf(root: String): Map[Long, String] =
      C.readSnapshot(spark, root).map(_.select("k", "v")
        .as[(Long, String)].collect().toMap).getOrElse(Map.empty)
    assert(apply((1L to 10L).map(k => (k, 1L, s"v$k", false)), 0L))

    val ticks = MemoryStream[Long](spark)
    // deterministic logical clock for the mirror's commit timestamps
    val tickTs = new java.util.concurrent.atomic.AtomicLong(5000L)
    val q = C.startMirror(spark, src, mir, numBuckets = 2,
      ticker = Some(ticks.toDF()),
      clock = Some(() => tickTs.getAndAdd(1000L)))
    try {
      ticks.addData(1L); q.processAllAvailable()
      assert(liveOf(mir) == liveOf(src), "seed tick did not sync")
      // the seed commit carries the injected clock, not wall time
      assert(C.history(spark, mir).collect()
        .map(_.getAs[Long]("commit_ts")).toSeq == Seq(5000L))
      // idle tick: watermark already at head, nothing rewritten
      val head = C.currentManifestName(spark, mir)
      ticks.addData(2L); q.processAllAvailable()
      assert(C.currentManifestName(spark, mir) == head,
        "idle tick touched the mirror")
      // source merges on; the next tick carries the delta (one update,
      // one delete)
      assert(apply(Seq((2L, 2L, "v2b", false), (5L, 2L, "", true)), 1L))
      ticks.addData(3L); q.processAllAvailable()
      assert(liveOf(mir) == liveOf(src))
      assert(!liveOf(mir).contains(5L), "delete did not follow")
      assert(C.currentVersion(spark, mir).contains(1L))
    } finally q.stop()
  }

  test("rebucketIfNeeded: manifest-only decision — healthy layout " +
    "no-ops, oversized bucket triggers a growth rewrite") {
    import spark.implicits._
    val C = graft.streaming.CdcApply
    val root = java.nio.file.Files
      .createTempDirectory("cdc_auto_rb").toFile.getAbsolutePath
    assert(C.applyBatch(
      (1L to 40L).map(k => (k, 1L, s"v$k")).toDF("k", "version", "v"),
      0L, root, Seq("k"), "version", None, numBuckets = 4))
    // thresholds far above any real bucket: healthy, nothing rewritten
    assert(C.rebucketIfNeeded(spark, root,
      maxBucketBytes = 1L << 40, targetBucketBytes = 1L << 40).isEmpty)
    assert(C.numBuckets(spark, root).contains(4))
    // 1-byte threshold: every bucket is "oversized"; target sizing
    // grows the layout to ceil(total/target) and commits
    val total = C.buckets(spark, root).collect()
      .map(_.getAs[Long]("bytes")).sum
    val grown = C.rebucketIfNeeded(spark, root,
      maxBucketBytes = 1L, targetBucketBytes = total / 8)
    assert(grown.isDefined && grown.get > 4, s"grew to $grown")
    assert(C.numBuckets(spark, root) == grown)
    assert(C.readSnapshot(spark, root).get.count() == 40L)
    // idempotent poll after the rewrite with sane thresholds: healthy
    assert(C.rebucketIfNeeded(spark, root,
      maxBucketBytes = 1L << 40, targetBucketBytes = 1L << 40).isEmpty)
  }

  test("read() is the unified as-of entry: current, by batch, by " +
    "timestamp — and refuses both at once") {
    import spark.implicits._
    val C = graft.streaming.CdcApply
    val root = java.nio.file.Files
      .createTempDirectory("cdc_read").toFile.getAbsolutePath
    def apply(rows: Seq[(Long, Long, String)], id: Long, ts: Long) =
      C.applyBatch(rows.toDF("k", "version", "v"), id, root,
        Seq("k"), "version", None, commitTs = Some(ts))
    assert(apply(Seq((1L, 1L, "a"), (2L, 1L, "b")), 0L, 1000L))
    assert(apply(Seq((1L, 2L, "a2")), 1L, 2000L))
    def vals(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      df.select("k", "v").as[(Long, String)].collect().toSet
    assert(vals(C.read(spark, root).get) ==
      vals(C.readSnapshot(spark, root).get))
    assert(vals(C.read(spark, root, asOfBatch = Some(0L)).get) ==
      Set(1L -> "a", 2L -> "b"))
    assert(vals(C.read(spark, root, asOfTs = Some(1500L)).get) ==
      Set(1L -> "a", 2L -> "b"))
    assert(C.read(spark, root, asOfTs = Some(500L)).isEmpty)
    intercept[IllegalArgumentException] {
      C.read(spark, root, asOfBatch = Some(0L), asOfTs = Some(1500L))
    }
  }

  test("maintenance crash recovery: a claimed but unlanded generation " +
    "leaves the table unchanged and its retry lands, and maintenance " +
    "data dirs are per-op") {
    import spark.implicits._
    val C = graft.streaming.CdcApply
    val root = java.nio.file.Files
      .createTempDirectory("cdc_orphan").toFile.getAbsolutePath
    def apply(rows: Seq[(Long, Long, String, Boolean)], id: Long) =
      C.applyBatch(rows.toDF("k", "version", "v", "deleted"), id, root,
        Seq("k"), "version", Some("deleted"), numBuckets = 4)
    assert(apply((1L to 20L).map(k => (k, 1L, s"v$k", false)), 0L))
    assert(apply(Seq((3L, 2L, "v3b", false)), 1L))
    val before = C.readSnapshot(spark, root).get
      .select("k", "v").as[(Long, String)].collect().toSet
    // plant the crash leftover: a rebucket that died between claiming
    // the head's successor slot (as generation v1.1) and landing its
    // manifest. A claim is not a commit: the head stays v1.0
    val mdir = new java.io.File(root, "manifests")
    java.nio.file.Files.writeString(
      new java.io.File(mdir, ".after-v1.0").toPath, "v1.1")
    assert(C.currentManifestName(spark, root).contains("v1.0"))
    assert(C.numBuckets(spark, root).contains(4))
    // the retry targets the same generation, reads its own claim back
    // and lands
    assert(C.rebucket(spark, root, 8))
    assert(C.currentManifestName(spark, root).contains("v1.1"))
    assert(C.readSnapshot(spark, root).get
      .select("k", "v").as[(Long, String)].collect().toSet == before)
    assert(C.numBuckets(spark, root).contains(8))
    // and the rewrite landed in the rebucket-tagged dir, disjoint from
    // any expiry rewrite's target
    assert(attemptDirs(root, "v1g1r").nonEmpty)
    assert(attemptDirs(root, "v1g1e").isEmpty)
  }

  test("pre-v6 manifests (no per-bucket stats) still parse and read") {
    import spark.implicits._
    val C = graft.streaming.CdcApply
    val root = java.nio.file.Files
      .createTempDirectory("cdc_prev6").toFile.getAbsolutePath
    assert(C.applyBatch(
      (1L to 10L).map(k => (k, 1L, s"v$k")).toDF("k", "version", "v"),
      0L, root, Seq("k"), "version", None))
    // rewrite the committed manifest in the v5 shape: 3-field bucket
    // lines, no bytes/rows
    val cur = C.currentManifestName(spark, root).get
    val f = new java.io.File(root, s"manifests/$cur")
    val stripped = scala.io.Source.fromFile(f).mkString.linesIterator
      .map { l =>
        if (l.startsWith("graft-cdc") || l.startsWith("schema\t")) l
        else l.split('\t').take(3).mkString("\t")
      }.mkString("\n")
    java.nio.file.Files.writeString(f.toPath, stripped)
    // drop the local-FS checksum sidecar the out-of-band rewrite broke
    new java.io.File(f.getParentFile, s".$cur.crc").delete()
    assert(C.readSnapshot(spark, root).get.count() == 10L)
    val b = C.buckets(spark, root).collect()
    assert(b.nonEmpty && b.forall(r =>
      r.isNullAt(r.fieldIndex("bytes")) &&
        r.isNullAt(r.fieldIndex("rows"))))
  }

  test("batch q_stream_window equals a direct SQL aggregation") {
    val viaModule = graft.queries.TierC.queries("q_stream_window")(
      spark, sfDir).collect()
    assert(viaModule.nonEmpty)
    // counts sum to the table size
    val total = viaModule.map(_.getAs[Long]("cnt")).sum
    assert(total == graft.sources.Tables.events(spark, sfDir).count())
  }
}
