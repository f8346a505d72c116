package graft.governance

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.{GetViewColumnByNameAndOrdinal, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, View}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation

/** Plan-time governance, the Spark analog of Athena consulting Lake
  * Formation on EVERY table access (reference `main.tf:432-487`,
  * `main.tf:191-197`): a resolution rule injected via
  * `SparkSessionExtensions` rewrites any reference to the governed catalog
  * table into `Project(allowlist, Filter(rowPredicate, rel))` for the
  * session's principal — so raw `spark.sql("SELECT * FROM sales_db.sales")`
  * is governed identically to the `Governance.secureRead` API path, closing
  * the bypass where only wrapper-function callers were protected.
  *
  * Enable with `.config("spark.sql.extensions", "graft.governance.
  * GraftExtensions")`; select the principal per session with
  * `spark.conf.set("spark.graft.principal", "Analyst" | "DataAdmin")`.
  * A session that never sets the conf is [[Anonymous]] — default-DENY on
  * every governed table (the reference's posture: access exists only via
  * an explicitly assumed role, `main.tf:115-284`); principals must be
  * selected explicitly, never inherited by omission.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(GovernanceRule(_))
    // graft's SQL functions (simhash64, shingles, cosine_quant, ...)
    graft.functions.GraftFunctions.functions.foreach(ext.injectFunction)
    // SQL-name surface for CDC tables: registered names expand to the
    // live snapshot plan at analysis time (graft.streaming.CdcSql).
    // Catalog resolution runs in the same fixpoint and wins, so real
    // tables always shadow registered CDC names.
    ext.injectResolutionRule(session =>
      graft.streaming.CdcTableResolution(session))
    // live change-feed table functions: cdc_changes('t', since) /
    // cdc_changes_between('t', from, to) re-resolve on every query
    graft.streaming.CdcSql.tableFunctions.foreach(ext.injectTableFunction)
    // the audit trail from SQL — admin-scoped, like CloudTrail
    GovernanceSql.tableFunctions.foreach(ext.injectTableFunction)
    // write-path enforcement: reads are REWRITTEN (filter + allowlist),
    // writes by non-admin principals are REJECTED at analysis
    ext.injectCheckRule(session => GovernanceWriteCheck(session))
    // foreign-scan predicate pushdown: once the optimizer has pushed
    // an enclosing WHERE down onto a delta_scan / iceberg_scan
    // expansion, re-resolve the read with the supported conjuncts as
    // the metadata-level file-pruning predicate; the pre-CBO sweep
    // removes untouched markers before physical planning
    ext.injectOptimizerRule(session =>
      graft.plans.ForeignScanPrune(session))
    ext.injectPreCBORule(session =>
      graft.plans.ForeignScanStrip(session))
    // lambda-invariant subexpressions (a tokenizer a transform lambda
    // re-reads per element) evaluate once per row, in a Project below
    ext.injectPreCBORule(_ => graft.plans.HoistLambdaInvariants)
  }
}

object GovernanceRule {
  /** Session conf key naming the active principal. */
  val PrincipalConf = "spark.graft.principal"

  /** Marks a relation copy that already has governance injected, so the
    * fixpoint analyzer never double-wraps. The tag is set only on private
    * copies of the relation node (never on the instance cached in the
    * session catalog's relation cache) — a tag on the shared cached
    * instance would suppress wrapping for every LATER query in the
    * session, silently disabling governance.
    */
  val GovernedTag: TreeNodeTag[String] =
    new TreeNodeTag[String]("graft.governance.applied")
}

/** Rewrites governed-table relations per the active principal's data-cells
  * filter. Two passes, mirroring Lake Formation's semantics:
  *
  *  1. relations referenced through the `sales_masked` view get the row
  *     filter only — the view body already masks the PII columns, and the
  *     filter is injected BENEATH the view (as LF does), so a future mask
  *     on a filter column cannot change the filter's input;
  *  2. all remaining (direct) references get the row filter plus the
  *     column-allowlist projection.
  *
  * Catalyst then pushes both into the parquet scan (PushedFilters +
  * pruned ReadSchema), which is exactly what LF+Athena achieve.
  */
case class GovernanceRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import GovernanceRule._

  private def principal: Principal =
    Principal.fromName(spark.conf.get(PrincipalConf, Anonymous.name))

  /** Governed-table identities this relation resolves to: its catalog
    * identifier if it is catalog-backed, plus any registered governed
    * LOCATION its file paths fall under — so a direct
    * `spark.read.parquet(<governed location>)` is governed identically
    * to the catalog path (the reference gets this layer from the S3
    * public-access block + IAM, `main.tf:32-49`), and so does a catalog
    * table created under a different name over the same storage.
    */
  private def governedIdents(r: LogicalRelation): Seq[(String, String)] = {
    val viaCatalog = r.catalogTable.toSeq.flatMap(t =>
      t.identifier.database.map(db => (db, t.identifier.table)))
    val viaLocation = r.relation match {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        h.location.rootPaths.flatMap(p =>
          GovernanceCatalog.tableForLocation(p.toUri.toString))
      case _ => Seq.empty
    }
    (viaCatalog ++ viaLocation).distinct
  }

  /** Governed identities of a STREAMING relation (`spark.readStream
    * .table(...)` on a governed catalog table, or `readStream.parquet`
    * over a governed location) — the read-side rule applies to streams
    * exactly as to batch relations; without this, a streaming scan would
    * bypass the row filter and column allowlist entirely.
    */
  private def governedIdentsStream(
      sr: StreamingRelation): Seq[(String, String)] = {
    val viaCatalog = sr.dataSource.catalogTable.toSeq.flatMap(t =>
      t.identifier.database.map(db => (db, t.identifier.table)))
    val viaLocation = sr.dataSource.paths.flatMap(
      GovernanceCatalog.tableForLocation(_))
    (viaCatalog ++ viaLocation).distinct
  }

  private def governedIdentsOf(node: LogicalPlan): Seq[(String, String)] =
    node match {
      case r: LogicalRelation   => governedIdents(r)
      case s: StreamingRelation => governedIdentsStream(s)
      case _                    => Seq.empty
    }

  /** The data-cells filter applying to this relation for `p`, if any —
    * any table in the [[GovernanceCatalog]] registry is picked up here
    * with no per-table wiring, whether referenced through the catalog or
    * read straight off its storage path. Grants are keyed by (database,
    * table): a same-named table in another database is NOT governed by
    * this grant (and not accidentally broken by its row predicate).
    */
  private def filterOn(r: LogicalPlan,
      p: Principal): Option[DataCellsFilter] =
    governedIdentsOf(r).flatMap { case (db, t) =>
      GovernanceCatalog.filterFor(p, db, t)
    }.headOption

  private def isMaskedView(v: View): Boolean =
    v.desc.identifier.database.exists(db =>
      GovernanceCatalog.isMaskedView(db, v.desc.identifier.table))

  /** Mid-resolution, a persisted view's body sits under a Project whose
    * list is `GetViewColumnByNameAndOrdinal(viewName, ...)` expressions —
    * the `View` wrapper node only appears once the body has resolved. The
    * governed relation resolves strictly EARLIER (same fixpoint iteration
    * as FindDataSourceTable), so view detection must recognize this
    * marker-Project shape too. The name match is EXACT on the trailing
    * (db, view) identifier parts against the registered masked-view set —
    * a substring match would let any view merely NAMED like a masked view
    * (e.g. `sales_masked_raw`) take the row-filter-only path and bypass
    * the column allowlist.
    */
  private def isMaskedViewMarker(p: Project): Boolean =
    p.projectList.exists(_.find {
      case g: GetViewColumnByNameAndOrdinal =>
        val parts = g.viewName.replace("`", "").split('.')
        parts.length >= 2 &&
          GovernanceCatalog.isMaskedView(parts(parts.length - 2), parts.last)
      case _ => false
    }.isDefined)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val p = principal
    /** Private tagged copy of a governed leaf (see [[GovernedTag]]) —
      * batch and streaming relations take the same rewrite, so the
      * copy is the only type-specific step.
      */
    def taggedCopy(node: LogicalPlan, tag: String): LogicalPlan = {
      val marked = node match {
        case r: LogicalRelation   => r.copy()
        case s: StreamingRelation => s.copy()
        case other                => other.clone()
      }
      marked.setTagValue(GovernedTag, tag)
      marked
    }
    def rowFilter(r: LogicalPlan, f: DataCellsFilter): Filter =
      Filter(
        spark.sessionState.sqlParser.parseExpression(f.rowFilterSql),
        taggedCopy(r, s"${p.name}:${f.name}"))
    /** A governed relation the principal has FULL access to (DataAdmin)
      * is wrapped in `Filter(true, taggedCopy)` — the admin's "ALL rows"
      * grant made structurally explicit, so the access decision is made
      * exactly once, at analysis time. The trivially-true filter costs
      * nothing (the optimizer removes it after analysis) but it MUST be
      * there: a tag-only copy is `fastEquals` to the original and
      * `mapChildren` silently discards it, so on any LATER re-analysis
      * under whatever principal the session holds then (Anonymous by
      * default) the unmarked relation would be re-judged and an admin's
      * frame deny-wrapped after the fact. (Audit also keys "governed
      * table touched" off this tag, so admin reads of governed tables
      * are audited too.)
      */
    def fullAccessMark(r: LogicalPlan): LogicalPlan =
      Filter(org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral,
        taggedCopy(r, s"${p.name}:full-access"))
    def governedRewrite(r: LogicalPlan,
        withAllowlist: Boolean): LogicalPlan =
      filterOn(r, p) match {
        case Some(f) if withAllowlist =>
          Project(f.allowedColumns.map(UnresolvedAttribute(_)),
            rowFilter(r, f))
        case Some(f) => rowFilter(r, f)
        // full-access mark ONLY for identities that are actually governed
        // (a filter registered for some principal, or a governed storage
        // location) — governedIdentsOf() includes every catalog-backed
        // identity, and marking ungoverned tables would report
        // `governed=true` for every plain catalog read in the audit trail
        case None if governedIdentsOf(r).exists {
          case (db, t) => GovernanceCatalog.isGoverned(db, t)
        } => fullAccessMark(r)
        case None => r
      }
    // a LogicalRelation with isStreaming=true is the ENGINE-INTERNAL
    // per-micro-batch frame a file stream source materializes beneath an
    // already-governed StreamingRelation — governing it again would
    // project away columns the streaming execution asserts are present
    // (batch/source schema mismatch). Only engine internals construct
    // such relations; every user entry point (readStream.table/parquet)
    // yields a StreamingRelation, which IS governed here.
    def filterBeneath(pl: LogicalPlan): LogicalPlan = pl.transformUp {
      case r: LogicalRelation
          if !r.isStreaming && r.getTagValue(GovernedTag).isEmpty =>
        governedRewrite(r, withAllowlist = false)
      case s: StreamingRelation if s.getTagValue(GovernedTag).isEmpty =>
        governedRewrite(s, withAllowlist = false)
    }
    val viewGoverned = plan.transformUp {
      case v: View if isMaskedView(v) => v.mapChildren(filterBeneath)
      case pr: Project if isMaskedViewMarker(pr) =>
        pr.mapChildren(filterBeneath)
    }
    viewGoverned.transformUp {
      case r: LogicalRelation
          if !r.isStreaming && r.getTagValue(GovernedTag).isEmpty =>
        governedRewrite(r, withAllowlist = true)
      case s: StreamingRelation if s.getTagValue(GovernedTag).isEmpty =>
        governedRewrite(s, withAllowlist = true)
    }
  }
}
