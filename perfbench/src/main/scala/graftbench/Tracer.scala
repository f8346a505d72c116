package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** Local filesystem that counts the FileSystem API calls made through it
  * (installed as `fs.file.impl` in traced runs only).
  */
class CountingFs extends LocalFileSystem {
  import CountingFs._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    readOps.incrementAndGet(); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    readOps.incrementAndGet(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    listOps.incrementAndGet(); super.listStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    writeOps.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writeOps.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writeOps.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writeOps.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingFs {
  val readOps = new AtomicLong
  val listOps = new AtomicLong
  val writeOps = new AtomicLong

  /** (read ops, list ops, write ops, bytes read, bytes written). */
  def snapshot(): Seq[Long] = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Seq(readOps.get, listOps.get, writeOps.get,
      st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }
}

object Tracer {
  final case class Span(seq: Int, module: String, t0Ms: Long, t1Ms: Long,
      ns: Long)
  final case class Job(id: Int, group: Option[String], t0Ms: Long,
      @volatile var t1Ms: Long = -1L)
  /** Executor-side totals of one op's tasks. */
  final class Exec {
    val stages = new AtomicLong; val tasks = new AtomicLong
    val failedTasks = new AtomicLong; val runMs = new AtomicLong
    val cpuNs = new AtomicLong
    val shRead = new AtomicLong; val shWrite = new AtomicLong
    val spill = new AtomicLong; val input = new AtomicLong
  }
}

/** Collects the per-layer trace of a run: module spans recorded by the
  * benchmark around public calls, Spark jobs, stages and tasks by job
  * group, and Catalyst phase times by SQL execution.
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val current = new ThreadLocal[Option[Int]] {
    override def initialValue(): Option[Int] = None
  }
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val exec = new ConcurrentHashMap[String, Exec]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  /** (execution id, phase name, start ms, end ms). */
  val phases = new ConcurrentLinkedQueue[(Long, String, Long, Long)]()

  def enter(seq: Int): Unit = current.set(Some(seq))
  def exit(): Unit = current.set(None)

  def span[T](module: String)(body: => T): T = current.get match {
    case None => body
    case Some(seq) =>
      val t0m = System.currentTimeMillis(); val t0 = System.nanoTime()
      try body
      finally spans.add(Span(seq, module, t0m, System.currentTimeMillis(),
        System.nanoTime() - t0))
  }

  def execOf(group: String): Option[Exec] = Option(exec.get(group))

  private def groupOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, Job(e.jobId, groupOf(e.properties), e.time))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.t1Ms = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    groupOf(e.properties).foreach(stageGroup.put(e.stageInfo.stageId, _))

  private def execFor(stageId: Int): Exec =
    exec.computeIfAbsent(
      Option(stageGroup.get(stageId)).getOrElse("<none>"), _ => new Exec)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    execFor(e.stageInfo.stageId).stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val x = execFor(e.stageId)
    x.tasks.incrementAndGet()
    if (e.reason != Success) x.failedTasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      x.runMs.addAndGet(m.executorRunTime)
      x.cpuNs.addAndGet(m.executorCpuTime)
      x.shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      x.shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      x.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      x.input.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(execGroup.put(s.executionId, _))
    // Catalyst phase times of each executed query, by execution id
    case s: SparkListenerSQLExecutionEnd =>
      org.apache.spark.sql.BenchSql.queryExecution(s).foreach(
        _.tracker.phases.foreach { case (name, p) =>
          phases.add((s.executionId, name, p.startTimeMs, p.endTimeMs))
        })
    case _ => ()
  }

  def groupOfExecution(id: Long): Option[String] = Option(execGroup.get(id))

  def install(spark: SparkSession): Unit =
    spark.sparkContext.addSparkListener(this)
}

/** Per-layer metrics and the trace self-checks, computed from a drained
  * [[Tracer]] and the op log.
  */
object Layers {
  val Modules = Seq("queries", "governance", "sources", "streaming",
    "dedup", "operators", "ann", "search")
  private val Tol = 2L // ms: listener and caller clocks are read apart

  /** Length of the union of [a, b) intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total
  }

  final case class Checked(metrics: Map[String, Double],
      violations: Seq[String], counts: Map[String, Long],
      perOp: Seq[Map[String, Any]])

  def compute(t: Tracer, ops: Seq[OpRec], measured: Seq[OpRec],
      counters: Seq[Long]): Checked = {
    val byGroup = ops.map(o => o.group -> o).toMap
    val jobs = t.jobs.values.asScala.toSeq
    val violations = mutable.ArrayBuffer[String]()
    // every job belongs to exactly one op, and lies inside its interval
    jobs.foreach { j =>
      j.group.flatMap(byGroup.get) match {
        case None => violations += s"job ${j.id} has no op (group ${j.group})"
        case Some(o) =>
          if (j.t1Ms < 0) violations += s"job ${j.id} never ended"
          else if (j.t0Ms < o.t0Ms - Tol || j.t1Ms > o.t1Ms + Tol)
            violations += s"job ${j.id} [${j.t0Ms},${j.t1Ms}] outside op " +
              s"${o.id} [${o.t0Ms},${o.t1Ms}]"
      }
    }
    val jobsOf = jobs.filter(_.t1Ms >= 0).groupBy(_.group.getOrElse(""))
    val spansOf = t.spans.asScala.toSeq.groupBy(_.seq)
    val phasesOf = t.phases.asScala.toSeq
      .flatMap { case (id, n, a, b) =>
        t.groupOfExecution(id).map(g => (g, n, a, b)) }
      .groupBy(_._1)
    val unmatchedPhases = t.phases.asScala.count { case (id, _, _, _) =>
      t.groupOfExecution(id).isEmpty }

    final case class Per(wall: Double, jobUnion: Long, build: Double,
        mod: Map[String, Double], cat: Map[String, Double], jobs: Int)
    val per = measured.map { o =>
      val js = jobsOf.getOrElse(o.group, Seq.empty)
      val jobIv = js.map(j => (j.t0Ms, j.t1Ms))
      val sp = spansOf.getOrElse(o.seq, Seq.empty)
      val ph = phasesOf.getOrElse(o.group, Seq.empty)
      // analysis can run while a DataFrame is built, before its
      // action: phases of one execution are counted once each
      val all = jobIv ++ sp.map(s => (s.t0Ms, s.t1Ms)) ++
        ph.map(p => (p._3, p._4))
      val wallMs = o.t1Ms - o.t0Ms
      if (all.exists { case (a, b) => a < o.t0Ms - Tol || b > o.t1Ms + Tol })
        violations += s"op ${o.id}: a span, phase or job lies outside it"
      if (unionMs(all) > wallMs + Tol)
        violations += s"op ${o.id}: layers cover ${unionMs(all)} ms of " +
          s"$wallMs ms"
      Per(o.ms, unionMs(jobIv), sp.map(_.ns / 1e6).sum,
        sp.groupBy(_.module).map { case (m, s) => m -> s.map(_.ns / 1e6).sum },
        ph.groupBy(_._2).map { case (n, p) =>
          n -> p.map(x => (x._4 - x._3).toDouble).sum },
        js.size)
    }
    val n = math.max(1, measured.size).toDouble
    val ex = measured.flatMap(o => t.execOf(o.group))
    def exSum(f: Tracer.Exec => Long): Double = ex.map(f).sum.toDouble
    val jobWall = per.map(_.jobUnion).sum.toDouble
    val runMs = exSum(_.runMs.get)
    val driver = per.map(p => p.wall - p.jobUnion)
    if (driver.exists(_ < -Tol)) violations += "negative driver time"
    val m = mutable.LinkedHashMap[String, Double](
      "driver_ms" -> driver.sum / n,
      "build_ms" -> per.map(_.build).sum / n,
      "catalyst.analysis_ms" ->
        per.map(_.cat.getOrElse("analysis", 0.0)).sum / n,
      "catalyst.optimizer_ms" ->
        per.map(_.cat.getOrElse("optimization", 0.0)).sum / n,
      "catalyst.planning_ms" ->
        per.map(_.cat.getOrElse("planning", 0.0)).sum / n,
      "exec.jobs" -> per.map(_.jobs).sum / n,
      "exec.stages" -> exSum(_.stages.get) / n,
      "exec.tasks" -> exSum(_.tasks.get) / n,
      "exec.failed_tasks" -> exSum(_.failedTasks.get),
      "exec.job_wall_ms" -> jobWall / n,
      "exec.run_ms" -> runMs / n,
      "exec.cpu_ms" -> exSum(_.cpuNs.get) / 1e6 / n,
      "exec.gc_ms" -> counters(6) / n,
      "exec.shuffle_read_bytes" -> exSum(_.shRead.get) / n,
      "exec.shuffle_write_bytes" -> exSum(_.shWrite.get) / n,
      "exec.spill_bytes" -> exSum(_.spill.get) / n,
      "exec.input_bytes" -> exSum(_.input.get) / n,
      "exec.busy_cores" -> (if (jobWall > 0) runMs / jobWall else 0.0),
      "fs.read_ops" -> counters(0) / n,
      "fs.list_ops" -> counters(1) / n,
      "fs.write_ops" -> counters(2) / n,
      "fs.bytes_read" -> counters(3) / n,
      "fs.bytes_written" -> counters(4) / n,
      "governance.audit_events" -> counters(5) / n)
    Modules.foreach { mod =>
      val total = per.map(_.build).sum
      m(s"$mod.build_pct") =
        if (total > 0) 100.0 * per.map(_.mod.getOrElse(mod, 0.0)).sum / total
        else 0.0
    }
    val perOp = measured.zip(per).map { case (o, p) =>
      Map("id" -> o.id, "wall_ms" -> p.wall, "jobs" -> p.jobs,
        "job_wall_ms" -> p.jobUnion, "build_ms" -> p.build,
        "catalyst_ms" -> p.cat.values.sum,
        "run_ms" -> t.execOf(o.group).map(_.runMs.get).getOrElse(0L))
    }
    Checked(m.toMap, violations.toSeq, Map(
      "jobs" -> jobs.size.toLong,
      "unattributed_jobs" -> jobs.count(_.group.flatMap(byGroup.get).isEmpty)
        .toLong,
      "unmatched_query_executions" -> unmatchedPhases.toLong,
      "spans" -> t.spans.size.toLong), perOp)
  }
}
