package graft.governance


import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.logging.log4j.LogManager
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.util.QueryExecutionListener

/** One audit record per executed query — the Spark analog of the
  * reference's CloudTrail/Lake Formation audit trail (reference
  * `README.md:12`): who (principal), what (catalog tables touched),
  * whether governance rewrote the plan, how many rows came out, how long
  * it took.
  */
final case class AuditEvent(
    funcName: String,
    principal: String,
    tables: Seq[String],
    governed: Boolean,
    rowsOut: Option[Long],
    durationNs: Long,
    error: Option[String])

/** Process-wide audit sink. In-memory ring for tests/inspection plus
  * log4j lines; a production deployment would point this at a durable
  * sink (the reference ships them to CloudTrail/S3).
  */
object AuditLog {
  // bounded ring under one lock: audit volume is one event per query, so
  // a lock costs nothing, keeps eviction O(1), and cannot drift the way
  // a lock-free queue + separate counter can under a concurrent clear()
  private val ring = new java.util.ArrayDeque[AuditEvent]()
  private val Cap = 10000

  def record(e: AuditEvent): Unit = synchronized {
    ring.addLast(e)
    if (ring.size > Cap) ring.pollFirst()
  }

  def events: Seq[AuditEvent] = synchronized { ring.asScala.toSeq }
  def clear(): Unit = synchronized { ring.clear() }

  /** The audit trail as a queryable DataFrame — the reference's "query
    * the CloudTrail from the warehouse" story (reference `README.md:12`)
    * without leaving the session: who touched which governed table, what
    * was denied, row counts, durations. Served from the in-memory ring;
    * a durable deployment queries whatever sink [[record]] ships to.
    */
  def toDF(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame = {
    val s = spark
    import s.implicits._
    events.toDF()
  }
}

/** Register with `.config("spark.sql.queryExecutionListeners",
  * "graft.governance.AuditListener")` (zero-arg constructor contract) or
  * `spark.listenerManager.register(new AuditListener)`.
  */
class AuditListener extends QueryExecutionListener {

  private val log = LogManager.getLogger(classOf[AuditListener])

  private def eventFor(funcName: String, qe: QueryExecution,
      durationNs: Long, error: Option[String]): AuditEvent = {
    // a query denied at analysis (a column governance hid, say) has no
    // analyzed plan — touching it rethrows — but its parsed plan still
    // names the tables it tried to read
    val plan = Try(qe.analyzed).getOrElse(qe.logical)
    val tables = plan.collect {
      case r: LogicalRelation =>
        r.catalogTable.map(_.identifier.unquotedString).getOrElse("<files>")
      case r: UnresolvedRelation => r.multipartIdentifier.mkString(".")
    }.distinct
    // The governed tag records "<principal>:<filterName>" at ANALYSIS
    // time — the moment governance was decided. The session conf may
    // have been restored to another principal by the time this listener
    // fires (it is async), so the tag is the trustworthy source.
    val applied = plan.collect {
      case p if p.getTagValue(GovernanceRule.GovernedTag).isDefined =>
        p.getTagValue(GovernanceRule.GovernedTag).get
    }.headOption
    val principal = applied.map(_.takeWhile(_ != ':')).getOrElse(
      qe.sparkSession.conf.get(GovernanceRule.PrincipalConf,
        Anonymous.name))
    // executedPlan is lazy: for a query that failed during physical
    // planning, touching it RETHROWS, the listener bus swallows the
    // throw, and the failed (most audit-worthy) access would leave no
    // record — guard it
    val rowsOut = Try(
      qe.executedPlan.metrics.get("numOutputRows").map(_.value))
      .toOption.flatten
    AuditEvent(funcName, principal, tables, applied.isDefined, rowsOut,
      durationNs, error)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val e = eventFor(funcName, qe, durationNs, None)
    AuditLog.record(e)
    // the engine-metrics sibling record (bytes/files/shuffle) — the
    // reference's per-query CloudWatch publication (main.tf:502)
    QueryMetricsCollector.collect(funcName, e.principal, e.tables,
      qe, durationNs).foreach(MetricsLog.record)
    log.info(s"audit: $e")
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = {
    val e = eventFor(funcName, qe, 0L, Some(exception.getMessage))
    AuditLog.record(e)
    log.warn(s"audit(failed): $e")
  }
}
