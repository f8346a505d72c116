package graftbench

import java.util.concurrent.{ConcurrentHashMap, CyclicBarrier}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.ann.Ann
import graft.governance.{Analyst, DataAdmin, DataCellsFilter,
  Governance, GovernanceCatalog, Principal}
import graft.queries.TierA
import graft.search.Bm25
import graft.sources.Tables
import graft.streaming.CdcApply

/** The Athena role: two closed-loop clients, one Analyst and one
  * DataAdmin, each on its own session, working through a seeded schedule
  * of small-result ops — Tier A governed reads, SQL over the governed
  * lake tables, and point reads (CDC lookup, BM25, IVF top-k).
  */
object GovernedSql {
  val LakeTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem")
  /** Internal CDC columns a governed lookup root must keep visible. */
  private val CdcInternal = Seq("_ts_batch", "_ab")
  /** Warm-up ops per client: half a cycle of its schedule, every op kind. */
  val WarmOps = 10

  def run(ctx: Ctx): Workload.Result = {
    val spark = ctx.spark
    val in = Workload.readInputs(ctx.runDir)
    val data = s"${ctx.runDir}/data"
    val governed = in.get("governed").asInstanceOf[java.util.Map[String,
      java.util.List[AnyRef]]].asScala
    def art(r: Int) = s"${ctx.runDir}/art/r$r"

    // set-up: register the lake tables as governed, and build the three
    // point-read indexes meanwhile on threads of their own
    val setupS = Workload.setups(ctx, 3) { r =>
      Governance.withPrincipal(spark, DataAdmin) {
        Workload.inParallel(
          () => {
            spark.sql("CREATE DATABASE IF NOT EXISTS lake")
            LakeTables.foreach { t =>
              val loc = s"$data/$t.parquet"
              val g = governed(t)
              val hidden = g.get(1).asInstanceOf[java.util.List[String]].asScala
              GovernanceCatalog.registerLocation(loc, "lake", t)
              spark.sql(s"DROP TABLE IF EXISTS lake.$t")
              spark.sql(s"CREATE TABLE lake.$t USING parquet LOCATION '$loc'")
              val cols = spark.table(s"lake.$t").columns.toSeq
              GovernanceCatalog.register(Analyst, "lake", DataCellsFilter(
                s"analyst-$t", t, g.get(0).toString,
                cols.filterNot(hidden.contains)))
              spark.sql(s"ANALYZE TABLE lake.$t COMPUTE STATISTICS")
            }
            // Tier A's fixture table and masked view
            Governance.secureRead(spark, DataAdmin)
          },
          () => {
            // customers as a CDC table, governed like lake.customer
            val root = s"${art(r)}/customer_cdc"
            val customers = spark.read.parquet(s"$data/customer.parquet")
            CdcApply.applyBatch(customers.withColumn("ver", lit(1L)), 0L,
              root, Seq("c_custkey"), "ver", None, numBuckets = 4)
            GovernanceCatalog.registerLocation(root, "lake", "customer_cdc")
            val cg = governed("customer")
            val hidden = cg.get(1).asInstanceOf[java.util.List[String]].asScala
            GovernanceCatalog.register(Analyst, "lake", DataCellsFilter(
              "analyst-customer_cdc", "customer_cdc", cg.get(0).toString,
              (customers.columns.toSeq.filterNot(hidden.contains) :+ "ver") ++
                CdcInternal))
          },
          () => Bm25.persistedIndex(
            spark.read.parquet(s"$data/documents.parquet"), "doc_id", "text",
            s"${art(r)}/bm25"),
          () => Ann.persistedCentroids(
            spark.read.parquet(s"$data/embeddings.parquet"), "label",
            "embedding", s"${art(r)}/ivf"))
      }
    }
    val last = art(setupS.size - 1)

    val clients = in.get("clients").asInstanceOf[java.util.List[
      java.util.Map[String, AnyRef]]].asScala.toSeq
    val first = new ConcurrentHashMap[String, (Long, Long)]()
    val dumps = new ConcurrentHashMap[String, Any]()
    val barrier = new CyclicBarrier(clients.size + 1)
    @volatile var deadline = Long.MaxValue

    /** A client's open handles on the point-read indexes. */
    final case class Handles(post: DataFrame, stats: DataFrame,
        emb: DataFrame, cents: DataFrame)

    def open(s: SparkSession): Handles = {
      val docs = ctx.span("sources") { Tables.documents(s, data) }
      val (post, stats) = ctx.span("search") {
        Bm25.persistedIndex(docs, "doc_id", "text", s"$last/bm25")
      }
      val emb = ctx.span("sources") { Tables.embeddings(s, data) }
      val cents = ctx.span("ann") {
        Ann.persistedCentroids(emb, "label", "embedding", s"$last/ivf")
      }
      Handles(post, stats, emb, cents)
    }

    def build(s: SparkSession, h: Handles, principal: Principal,
        op: java.util.Map[String, AnyRef]): DataFrame = op.get("kind") match {
      // the principal-scoped analysis, governance rule included
      case "sql" => ctx.span("governance") {
        Governance.withPrincipal(s, principal)(s.sql(op.get("sql").toString))
      }
      case "tier_a" => ctx.span("queries") {
        TierA.queries(op.get("name").toString)(s, data) }
      case "lookup" => ctx.span("streaming") {
        CdcApply.lookup(s, s"$last/customer_cdc",
          Seq(op.get("key").asInstanceOf[Number].longValue())).get }
      case "bm25" => ctx.span("search") {
        Bm25.search(h.post, h.stats, op.get("terms")
          .asInstanceOf[java.util.List[String]].asScala.toSeq,
          op.get("k").asInstanceOf[Number].intValue())
      }
      case "ann" => ctx.span("ann") {
        Ann.ivfTopK(h.emb, h.cents, "vec_id", "label", "embedding",
          op.get("query").asInstanceOf[Number].longValue(),
          op.get("k").asInstanceOf[Number].intValue(),
          op.get("nprobe").asInstanceOf[Number].intValue())
      }
    }

    def runOne(s: SparkSession, h: Handles, client: Int, principal: Principal,
        op: java.util.Map[String, AnyRef], phase: String): Unit = {
      val id = op.get("id").toString
      ctx.op(client, op.get("kind").toString, id, phase) {
        val df = build(s, h, principal, op)
        (df.columns.toSeq, df.collect())
      } { case (cols, rows) =>
        val fp = Json.fingerprint(rows)
        val prev = first.putIfAbsent(id, fp)
        if (prev == null) {
          dumps.put(id, Map("principal" -> principal.name, "columns" -> cols,
            "rows" -> rows.toSeq,
            "oracle" -> TierA.oracles.get(op.get("name").toString)))
          None
        } else if (prev != fp) Some(s"result changed: $fp vs first $prev")
        else None
      }
    }

    val threads = clients.zipWithIndex.map { case (c, i) =>
      val principal = Principal.fromName(c.get("principal").toString)
      val ops = c.get("ops").asInstanceOf[java.util.List[
        java.util.Map[String, AnyRef]]].asScala.toSeq
      val t = new Thread(() => {
        val s = spark.newSession()
        s.conf.set(graft.governance.GovernanceRule.PrincipalConf,
          principal.name)
        // a client opens the index handles once, as a server would, then
        // warms up on the start of its schedule; every op's first result,
        // warm or measured, is the one checked against its pin
        val h = ctx.op(i, "open", s"open-$i", "warm")(open(s))()._2.get
        ops.take(WarmOps).foreach(runOne(s, h, i, principal, _, "warm"))
        barrier.await()
        barrier.await()
        var k = WarmOps
        while (System.nanoTime() < deadline) {
          runOne(s, h, i, principal, ops(k % ops.size), "measure")
          k += 1
        }
      }, s"client-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    barrier.await()
    val c0 = Workload.counters(ctx)
    deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    barrier.await()
    threads.foreach(_.join())
    val c1 = Workload.counters(ctx)

    Workload.Result(setupS, clients.size, dumps.asScala.toMap,
      Map.empty, Workload.delta(c1, c0), Map.empty)
  }
}
