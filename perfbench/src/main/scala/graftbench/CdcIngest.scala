package graftbench

import scala.collection.immutable.HashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.streaming.CdcApply

/** One writer in a closed loop: each cycle commits the next seeded change
  * batch into a fresh per-run CDC root (merge-on-read, logical commit
  * timestamps, compaction when deltas pile up), then reads the table back
  * four ways and compares every read with the benchmark's own model.
  */
object CdcIngest {
  val Keys = Seq("id")
  val NumBuckets = 8
  val MaxDeltas = 4
  val CompactAt = 1
  /** Commits per compaction period: every batch touches every bucket, so
    * each bucket compacts on every `CompactAt + 1`-th commit. The warm-up
    * is one period and the measured cycles are whole periods, so every run
    * measures the same mix of plain and compacting commits.
    */
  val Period = CompactAt + 1
  /** Each measured cycle also reads the snapshot as of `AsOfLag` commits
    * back, which the warm-up period has written.
    */
  val AsOfLag = Period
  /** Nominal wall time of one cycle, which turns the run's seconds into a
    * fixed number of measured cycles.
    */
  val NominalCycleS = 2.0

  /** Model value of one key: its latest applied version and row. */
  final case class Cell(ver: Long, deleted: Boolean, payload: String,
      amount: java.lang.Double, batch: Long)
  type Model = HashMap[Long, Cell]

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def applyToModel(m: Model, batchFile: String, b: Long): Model = {
    val rows = scala.io.Source.fromFile(batchFile).getLines().map { l =>
      val a = mapper.readTree(l)
      (a.get(0).asLong(), a.get(1).asLong(), a.get(2).asBoolean(),
        if (a.get(3).isNull) null else a.get(3).asText(),
        if (a.get(4).isNull) null else java.lang.Double.valueOf(a.get(4).asDouble()))
    }.toSeq.sortBy(_._2)
    rows.foldLeft(m) { case (acc, (id, ver, del, payload, amount)) =>
      acc.get(id) match {
        case Some(c) if c.ver >= ver => acc
        case _ => acc.updated(id, Cell(ver, del, payload, amount, b))
      }
    }
  }

  private def live(m: Model): Map[Long, Cell] = m.filter(!_._2.deleted)

  /** Compare read rows with the model's rows `expected`, by key. */
  def compare(rows: Array[Row], expected: Map[Long, Cell]): Option[String] = {
    if (rows.length != expected.size)
      return Some(s"${rows.length} rows, model has ${expected.size}")
    rows.iterator.map { r =>
      val id = r.getAs[Long]("id")
      expected.get(id) match {
        case None => Some(s"unexpected key $id")
        case Some(c) =>
          val amt = r.getAs[java.lang.Double]("amount")
          if (r.getAs[Long]("ver") != c.ver ||
              r.getAs[String]("payload") != c.payload || amt != c.amount)
            Some(s"key $id: ${r.mkString(",")} vs model $c")
          else None
      }
    }.collectFirst { case Some(e) => e }
  }

  def run(ctx: Ctx): Workload.Result = {
    val spark = ctx.spark
    val in = Workload.readInputs(ctx.runDir)
    val batches = s"${ctx.runDir}/batches"
    val nBatches = in.get("n_batches").asInstanceOf[Number].intValue()
    def batch(b: Long) = f"$batches/batch_$b%05d"
    def commit(root: String, b: Long): Unit = ctx.span("streaming") {
      CdcApply.applyBatch(spark.read.parquet(batch(b) + ".parquet"), b, root,
        Keys, "ver", Some("deleted"), numBuckets = NumBuckets,
        commitTs = Some(b * 1000L), maxDeltas = MaxDeltas)
      CdcApply.compactIfNeeded(spark, root, maxPendingDeltas = CompactAt)
    }

    val setupS = Workload.setups(ctx, 3) { r =>
      commit(s"${ctx.runDir}/art/r$r/table", 0L)
    }
    val root = s"${ctx.runDir}/art/r${setupS.size - 1}/table"
    var model: Model = applyToModel(HashMap.empty, batch(0) + ".jsonl", 0L)
    val history = mutable.Map[Long, Model](0L -> model)

    // bytes of every file created or rewritten under the root
    val seen = mutable.Map[String, (Long, Long)]()
    def newBytes(): Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map { p =>
          val k = p.toString
          val v = (java.nio.file.Files.size(p),
            java.nio.file.Files.getLastModifiedTime(p).toMillis)
          if (seen.get(k).contains(v)) 0L else { seen(k) = v; v._1 }
        }.sum
      finally s.close()
    }
    newBytes()

    var written, batchBytes = 0L
    val rng = new scala.util.Random(in.get("seed").asInstanceOf[Number].longValue)
    def cycle(b: Long, phase: String): Unit = {
      ctx.op(0, "commit", s"commit-$b", phase)(commit(root, b))()
      model = applyToModel(model, batch(b) + ".jsonl", b)
      history(b) = model
      val nb = newBytes()
      if (phase == "measure") {
        written += nb
        batchBytes += java.nio.file.Files.size(
          java.nio.file.Paths.get(batch(b) + ".parquet"))
      }
      val lv = live(model)
      ctx.op(0, "read", s"read-$b", phase) {
        ctx.span("streaming")(CdcApply.read(spark, root)).get.collect()
      }(compare(_, lv))
      // one Zipf-hot key and one uniform key
      Seq(rng.nextInt(4).toLong, rng.nextInt(lv.size + 100).toLong).foreach {
        k =>
          ctx.op(0, "lookup", s"lookup-$b-$k", phase) {
            ctx.span("streaming")(CdcApply.lookup(spark, root, Seq(k))).get
              .collect()
          }(compare(_, lv.filter(_._1 == k)))
      }
      ctx.op(0, "changes", s"changes-$b", phase) {
        ctx.span("streaming")(CdcApply.changesSince(spark, root, b - 1))
          .get.collect()
      } { rows =>
        val want = model.collect { case (id, c) if c.batch == b =>
          id -> c.ver }
        val got = rows.map(r => r.getAs[Long]("id") -> r.getAs[Long]("ver"))
          .toMap
        if (got == want) None
        else Some(s"changesSince: ${got.size} rows, model ${want.size}")
      }
      if (b > AsOfLag) {
        val a = b - AsOfLag
        ctx.op(0, "asof", s"asof-$b", phase) {
          ctx.span("streaming") {
            CdcApply.readSnapshotAsOf(spark, root, a * 1000L + 500L)
          }.get.collect()
        }(compare(_, live(history(a))))
      }
      history.remove(b - AsOfLag - 1)
    }

    var b = 1L
    while (b <= Period) { cycle(b, "warm"); b += 1 }
    val c0 = Workload.counters(ctx)
    // a fixed amount of work: as many whole periods as fit in the run's
    // seconds at the nominal cycle time. A time-boxed window would measure
    // fewer and less warmed-up cycles on a slower machine, and the space
    // amplification would follow the number of commits.
    val periods = math.max(1,
      math.round(ctx.seconds / (Period * NominalCycleS)).toInt)
    val end = b + periods * Period
    require(end <= nBatches + 1, s"$periods periods need more change batches")
    while (b < end) { cycle(b, "measure"); b += 1 }
    val c1 = Workload.counters(ctx)
    // the live snapshot written once, for space amplification
    val once = s"${ctx.runDir}/art/snapshot_once"
    ctx.op(0, "check", "snapshot-once", "check-measure") {
      CdcApply.read(spark, root).get.write.parquet(once)
    }()
    val rootBytes = Stats.dirBytes(root)
    val writeAmp = written.toDouble / math.max(1L, batchBytes)
    val spaceAmp = rootBytes.toDouble / math.max(1L, Stats.dirBytes(once))
    Workload.Result(setupS, 1, Map.empty,
      Map("write_amp" -> writeAmp, "space_amp" -> spaceAmp,
        "batches" -> (b - 1), "bytes_written" -> written,
        "batch_bytes" -> batchBytes, "root_bytes" -> rootBytes,
        "live_rows" -> live(model).size),
      Workload.delta(c1, c0),
      Map("write_amp" -> writeAmp, "space_amp" -> spaceAmp))
  }
}
