package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession

/** One benchmark operation: a unit of client work with its own Spark job
  * group, timed from call to result. `phase` is setup, warm, measure or
  * check; only measure ops feed the latency and throughput metrics.
  */
final case class OpRec(seq: Int, client: Int, kind: String, id: String,
    phase: String, t0Ns: Long, t1Ns: Long, t0Ms: Long, t1Ms: Long,
    ok: Boolean, err: Option[String]) {
  def ms: Double = (t1Ns - t0Ns) / 1e6
  def group: String = Ctx.group(seq)
}

object Ctx {
  def group(seq: Int): String = s"bench-op-$seq"
}

/** Shared run state: the session, the op log and the optional tracer.
  * Client threads call [[op]] concurrently.
  */
final class Ctx(val spark: SparkSession, val runDir: String,
    val seconds: Double, val tracer: Option[Tracer]) {
  private val seqGen = new AtomicInteger(0)
  private val log = new ConcurrentLinkedQueue[OpRec]()

  def ops: Seq[OpRec] = log.asScala.toSeq.sortBy(_.seq)

  /** Run `body` as one op. Every Spark job it starts, on this thread or
    * on threads that inherit its local properties, carries the op's job
    * group. `check` decides whether a result that did not throw is right.
    */
  def op[T](client: Int, kind: String, id: String, phase: String)(
      body: => T)(check: T => Option[String] = (_: T) => None)
      : (OpRec, Option[T]) = {
    val seq = seqGen.incrementAndGet()
    val sc = spark.sparkContext
    sc.setJobGroup(Ctx.group(seq), s"$kind $id", interruptOnCancel = false)
    tracer.foreach(_.enter(seq))
    val t0m = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = Try(body)
    val t1 = System.nanoTime()
    val t1m = System.currentTimeMillis()
    tracer.foreach(_.exit())
    sc.clearJobGroup()
    val err = r.fold(e => Some(s"${e.getClass.getSimpleName}: " +
      Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString
        .take(300)), v => check(v))
    val rec = OpRec(seq, client, kind, id, phase, t0, t1, t0m, t1m,
      err.isEmpty, err)
    log.add(rec)
    err.foreach(e => System.err.println(s"[perfbench] op $id failed: $e"))
    (rec, r.toOption)
  }

  /** Time spent inside a public call of a program module, before the
    * caller's action: a span under the current op (tracing only).
    */
  def span[T](module: String)(body: => T): T =
    tracer.fold(body)(_.span(module)(body))
}

object Stats {
  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def rssPeakMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists) 0.0
    else scala.io.Source.fromFile(f).getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Bytes of every regular file under `dir`. */
  def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
  }
}
