package graftbench

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.dedup.Dedup
import graft.operators.{LangId, SetSimilarity}
import graft.search.Bm25
import graft.sources.Tables
import graft.streaming.Quality

/** The LLM-curation chain over a seeded near-duplicate corpus: quality
  * gate, exact dedup, learned language-ID filter, MinHash near-dup
  * resolution, set-similarity self-join, semantic dedup of embeddings and
  * a BM25 index build. One client; each chain step is one op that writes
  * its result as parquet, and the next step reads it back.
  */
object Curation {
  val JaccardT = 0.8
  val SimJoinT = 0.7
  val SemanticTau = 0.25

  val expectations = Seq(
    Quality.Expectation("min_chars", length(col("text")) >= 80),
    Quality.Expectation("max_chars", length(col("text")) <= 600),
    Quality.Expectation("no_digit_runs", !col("text").rlike("[0-9]{3,}")))

  /** Word-trigram list of a text, built from Spark built-ins only
    * (texts have at least three words).
    */
  def trigrams(text: Column): Column = {
    val w = split(text, " ")
    transform(sequence(lit(1), size(w) - 2), i =>
      concat_ws(" ", element_at(w, i), element_at(w, i + 1),
        element_at(w, i + 2)))
  }

  def run(ctx: Ctx): Workload.Result = {
    val spark = ctx.spark
    val in = Workload.readInputs(ctx.runDir)
    val data = s"${ctx.runDir}/data"
    val out = s"${ctx.runDir}/cur"
    val nDocs = in.get("n_docs").asInstanceOf[Number].longValue()
    def rd(p: String) = spark.read.parquet(p)

    // set-up: train the language-ID profiles on the labeled 80% slice
    val setupS = Workload.setups(ctx, 3) { r =>
      ctx.span("operators") {
        LangId.trainProfiles(rd(s"$data/documents.parquet")
          .filter(col("doc_id") % 5 =!= 0), "lang", "text")
      }.write.parquet(s"${ctx.runDir}/art/r$r/profiles")
    }
    val profilesDir = s"${ctx.runDir}/art/r${setupS.size - 1}/profiles"

    // a curation run is a batch job in a fresh engine: one cold pass of
    // the chain, each step's result under cur/<dir> for the checker
    val stepMs = mutable.LinkedHashMap[String, Double]()
    def step(name: String)(body: => Unit): Unit =
      stepMs(name) = ctx.op(0, "step", name, "measure")(body)()._1.ms

    val c0 = Workload.counters(ctx)
    step("quality") {
      val corpus = ctx.span("sources") { Tables.documents(spark, data) }
      ctx.span("streaming") { Quality.mark(corpus, expectations) }
        .filter(col(Quality.ViolatedCol) === "")
        .select("doc_id", "text", "lang").write.parquet(s"$out/quality")
    }
    step("exact") {
      val s1 = rd(s"$out/quality")
      val keep = ctx.span("dedup") { Dedup.exact(s1, "doc_id", "text") }
      s1.join(keep.select("doc_id"), Seq("doc_id"), "left_semi")
        .write.parquet(s"$out/exact")
    }
    step("langid") {
      val s2 = rd(s"$out/exact")
      val pred = ctx.span("operators") {
        LangId.classify(s2, "doc_id", "text", rd(profilesDir))
      }
      s2.join(pred, "doc_id").filter(col("pred_lang") === col("lang"))
        .select("doc_id", "text", "lang").write.parquet(s"$out/langid")
    }
    step("minhash") {
      ctx.span("dedup") {
        Dedup.minhashCandidates(rd(s"$out/langid"), "doc_id", "text")
      }.write.parquet(s"$out/cand")
    }
    step("verify") {
      ctx.span("dedup") {
        Dedup.verifyJaccard(rd(s"$out/langid"), "doc_id", "text",
          rd(s"$out/cand"))
      }.filter(col("jaccard") >= JaccardT).write.parquet(s"$out/verified")
    }
    step("clusters") {
      ctx.span("dedup") { Dedup.clusters(rd(s"$out/verified")) }
        .write.parquet(s"$out/clusters")
    }
    step("keepers") {
      val s3 = rd(s"$out/langid")
      ctx.span("dedup") { Dedup.keepers(s3, "doc_id", rd(s"$out/clusters")) }
        .filter(col("is_keeper")).select("doc_id").join(s3, "doc_id")
        .write.parquet(s"$out/curated")
    }
    step("simjoin") {
      ctx.span("operators") {
        SetSimilarity.jaccardSelfJoin(rd(s"$out/curated"), "doc_id",
          trigrams(col("text")), SimJoinT)
      }.write.parquet(s"$out/simjoin")
    }
    step("semantic") {
      val emb = ctx.span("sources") { Tables.embeddings(spark, data) }
      ctx.span("ann") {
        Ann.semanticDedup(emb, "vec_id", "embedding", "label", SemanticTau)
      }.select("vec_id", "label").write.parquet(s"$out/semantic")
    }
    step("bm25") {
      ctx.span("search") {
        Bm25.persistedIndex(rd(s"$out/curated"), "doc_id", "text",
          s"$out/bm25")
      }
    }
    val c1 = Workload.counters(ctx)

    var candidates, verified = 0L
    ctx.op(0, "check", "dedup-counts", "check") {
      candidates = rd(s"$out/cand").count()
      verified = rd(s"$out/verified").count()
    }()
    val chainMs = stepMs.values.sum
    Workload.Result(setupS, 1, Map.empty,
      Map("docs_per_s" -> nDocs / (chainMs / 1000.0), "chain_ms" -> chainMs,
        "step_ms" -> stepMs,
        "input_docs" -> nDocs, "candidates" -> candidates,
        "verified" -> verified),
      Workload.delta(c1, c0),
      Map("dedup.candidates" -> candidates.toDouble,
        "dedup.verified" -> verified.toDouble,
        "dedup.verified_ratio" ->
          (if (candidates > 0) verified.toDouble / candidates else 0.0)))
  }
}
