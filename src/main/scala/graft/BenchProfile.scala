package graft

import org.apache.spark.sql.execution.ExplainMode

import graft.plans.PlanFacts

/** Optimization-round measurement harness (guide §1): for the queries
  * named in SPARK_GRAFT_QUERIES (comma-separated; default: the heavy
  * tail), runs each through the noop sink `reps` times and reports
  *   - wall seconds per rep (min/median),
  *   - Catalyst phase times (analysis/optimization/planning) from the
  *     QueryPlanningTracker,
  *   - the [[PlanFacts]] operator counts of the executed plan,
  * and dumps the formatted plan to target/profile/<name>.txt. Purely a
  * measurement tool — not part of the declared query surface.
  */
object BenchProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "4").toInt
    val names = sys.env.get("SPARK_GRAFT_QUERIES") match {
      case Some(qs) => qs.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None => Seq("q_jaccard_simjoin", "q_jaccard_simjoin_hi",
        "q_pagerank", "q_edit_simjoin", "q_substr_dedup", "q_agg_multi",
        "q_entity_clusters", "q_line_boilerplate", "q_paragraph_neardup",
        "q_audio_neardup", "q_semantic_dedup", "q_gopher_filter")
    }
    val extraConf: Seq[(String, String)] =
      sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
        .flatMap(_.split(";")).filter(_.contains("="))
        .map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }
    val spark = extraConf.foldLeft(GraftSession.builder(GraftSession.cpus)) {
      case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val outDir = new java.io.File("target/profile")
    outDir.mkdirs()
    // one untimed warmup of each (classloading, codegen, artifact builds)
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        println(s"WARMUP FAIL $n: ${e.getMessage.take(200)}") }
    }
    names.foreach { n =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      val df = SparkEntry.queries(n)(spark, sfDir)
      val qe = df.queryExecution
      val planStr = qe.explainString(ExplainMode.fromString("formatted"))
      val phases = qe.tracker.phases.map { case (p, s) =>
        s"$p=${(s.endTimeMs - s.startTimeMs)}ms" }.mkString(" ")
      val facts = PlanFacts.of(qe)
      val counts = facts.productElementNames.zip(facts.productIterator)
        .map { case (k, v) => s"$k=$v" }.mkString(" ")
      println(f"PROFILE $n%-28s min=${times.head}%.3f med=${times(times.size / 2)}%.3f " +
        s"$counts phases[$phases]")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"target/profile/$n.txt"), planStr)
    }
    spark.stop()
  }
}
