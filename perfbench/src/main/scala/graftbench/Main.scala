package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark driver JVM: runs one workload against inputs generated into
  * a per-run directory and writes `result.json` there for `run.py`.
  *
  * Usage: Main --workload <name> --seconds <s> --trace <0|1> --run-dir <dir>
  * The process's working directory must be the run directory, so every
  * relative artifact path the program uses lands inside it.
  */
object Main {

  /** The production session: the program's extensions, the audit
    * listener and the cost-based planning confs its correctness dump uses.
    */
  def confs(cpus: Int, runDir: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "true",
    "spark.sql.cbo.enabled" -> "true",
    "spark.sql.cbo.planStats.enabled" -> "true",
    "spark.sql.cbo.joinReorder.enabled" -> "true",
    "spark.sql.extensions" -> "graft.governance.GraftExtensions",
    "spark.sql.queryExecutionListeners" -> "graft.governance.AuditListener",
    "spark.sql.warehouse.dir" -> s"$runDir/spark-warehouse",
    "spark.local.dir" -> s"$runDir/spark-local")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val runDir = new java.io.File(opts("run-dir")).getAbsolutePath
    // one core fewer than the machine has: the driver's client threads,
    // the JIT compilers and the collector get the last one. With a task
    // thread on every core they contended with the tasks, and the same
    // workload spread two to four times wider from run to run.
    val cpus = math.max(1, Runtime.getRuntime.availableProcessors() - 1)
    val b = SparkSession.builder()
    confs(cpus, runDir).foreach { case (k, v) => b.config(k, v) }
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
      .config("spark.hadoop.fs.file.impl.disable.cache", "true")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach(_.install(spark))
    val ctx = new Ctx(spark, runDir, seconds, tracer)

    val res: Workload.Result = workload match {
      case "governed_sql" => GovernedSql.run(ctx)
      case "curation"     => Curation.run(ctx)
      case "cdc_ingest"   => CdcIngest.run(ctx)
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "cpus" -> cpus,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "setup_s" -> res.setupS,
      "clients" -> res.clients,
      "ops" -> ctx.ops.map(o => Map("client" -> o.client, "kind" -> o.kind,
        "id" -> o.id, "phase" -> o.phase, "ms" -> o.ms, "ok" -> o.ok,
        "err" -> o.err)),
      "dumps" -> res.dumps,
      "extra" -> res.extra,
      "audit_events" -> res.counters(5),
      "rss_peak_mb" -> Stats.rssPeakMb())
    tracer.foreach { t =>
      val measured = ctx.ops.filter(_.phase == "measure")
      val chk = Layers.compute(t, ctx.ops, measured, res.counters)
      out("layers") = chk.metrics ++ res.layerExtra
      out("trace_violations") = chk.violations.take(50)
      out("trace_violation_count") = chk.violations.size
      out("trace_counts") = chk.counts
      out("trace_ops") = chk.perOp
    }
    Json.write(java.nio.file.Paths.get(runDir, "result.json"), out)
    spark.stop()
  }
}

object Workload {
  /** What a workload hands back besides the op log: set-up times, first
    * results of each op (for the oracle pins), workload-specific figures,
    * the [[counters]] delta over the measured window, and workload-
    * specific layer counters.
    */
  final case class Result(setupS: Seq[Double], clients: Int,
      dumps: Map[String, Any], extra: Map[String, Any],
      counters: Seq[Long], layerExtra: Map[String, Double])

  /** Run `n` set-ups, each a single op, and return their wall times. */
  def setups(ctx: Ctx, n: Int)(one: Int => Unit): Seq[Double] =
    (0 until n).map { r =>
      val (rec, _) = ctx.op(-1, "setup", s"setup-$r", "setup")(one(r))()
      if (!rec.ok) throw new IllegalStateException(
        s"set-up failed: ${rec.err.getOrElse("")}")
      rec.ms / 1000.0
    }

  /** Run independent tasks on threads of their own. New threads inherit
    * the caller's Spark job group, so their jobs stay with the caller's op.
    */
  def inParallel(tasks: (() => Unit)*): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    tasks.map { t =>
      val th = new Thread(() =>
        try t() catch { case e: Throwable => errors.add(e) })
      th.start()
      th
    }.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  /** Counters read at the edges of the measured window, once every
    * listener event has arrived: the FS counters (traced runs only), the
    * number of audit events the program has recorded, and the JVM's
    * collection time in ms (executors share the JVM in local mode).
    */
  def counters(ctx: Ctx): Seq[Long] = {
    org.apache.spark.BenchBus.drain(ctx.spark.sparkContext)
    (if (ctx.tracer.isDefined) CountingFs.snapshot() else Seq.fill(5)(0L)) ++
      Seq(graft.governance.AuditLog.events.size.toLong,
        java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
          .asScala.map(_.getCollectionTime).sum)
  }

  def delta(end: Seq[Long], start: Seq[Long]): Seq[Long] =
    end.zip(start).map { case (a, b) => a - b }

  def readInputs(runDir: String): java.util.Map[String, AnyRef] =
    new com.fasterxml.jackson.databind.ObjectMapper().readValue(
      new java.io.File(runDir, "inputs.json"),
      classOf[java.util.Map[String, AnyRef]])
}
