package graft

import org.apache.spark.sql.functions._

/** Scale-probe main: run the heaviest documents-family queries
  * against a SCALED-UP corpus (default 10× the sf0.1 testdata ≈ the
  * sf1 volume the driver does not ship) and print one JSON line —
  * the measured backing for the "would this survive a 10× scale-up"
  * design claims in BASELINE.md.
  *
  * The scaled corpus is `factor` shifted copies of the base
  * documents table (doc_id offset per copy; a per-copy tag token
  * appended so copies are near- rather than exact duplicates — the
  * duplicate-heavy profile a real crawl corpus has, which is exactly
  * the regime the dedup operators must survive). Built once under
  * target/graft-data/scale_probe and reused (the Artifacts
  * build-once commit). Each query runs one UNTIMED warmup pass
  * (artifact/index builds, JVM warmup) and two timed passes; the
  * reported figure is the per-query MINIMUM of the timed passes
  * (shared-box noise only ever adds time).
  *
  * Env: SPARK_GRAFT_SF_DIR (base, default /root/testdata/sf0.1),
  * SPARK_GRAFT_SCALE (default 10), SPARK_GRAFT_CPUS (default 4).
  */
object ScaleProbe {

  private val Heavy = Seq(
    "q_jaccard_simjoin_hi", "q_substr_dedup", "q_chunk_dedup",
    "q_line_dedup", "q_boilerplate_strip", "q_lang_id_learned",
    "q_gopher_filter", "q_dedup_clusters", "q_minhash_dup",
    "q_ngram_jaccard")

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dir = new java.io.File("target/graft-data/scale_probe/" +
      s"x${factor}_" + graft.sources.Artifacts.datasetKey(base,
        s"$base/documents.parquet")).getAbsolutePath
    graft.sources.Artifacts.commitOnce(spark, dir) { tmp =>
      val docs = spark.read.parquet(s"$base/documents.parquet")
      val off = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
      (0 until factor).map { i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i * off))
          .withColumn("text",
            concat(col("text"), lit(s" probecopy$i")))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }.reduce(_ unionByName _)
        .write.parquet(s"$tmp/documents.parquet")
      // commitOnce's contract: the marker at the artifact ROOT
      val p = new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .create(p, true).close()
    }

    def pass(timed: Boolean): Map[String, Double] =
      Heavy.map { name =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        name -> (System.nanoTime() - t0) / 1e9
      }.toMap

    pass(timed = false) // warmup: artifact builds, codegen
    val (p1, p2) = (pass(timed = true), pass(timed = true))
    val best = Heavy.map(n => n -> math.min(p1(n), p2(n))).toMap
    val total = best.values.sum
    val qjson = Heavy.map(n => s""""$n":${f"${best(n)}%.2f"}""")
      .mkString(",")
    println(s"""{"metric":"scale_probe_sec","value":${f"$total%.2f"},""" +
      s""""unit":"sec","factor":$factor,"base":"$base",""" +
      s""""queries":{$qjson}}""")
    spark.stop()
  }
}
