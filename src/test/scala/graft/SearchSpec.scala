package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Profile
import graft.search.Bm25
import graft.sources.Tables

class SearchSpec extends AnyFunSuite with SparkTestBase {

  /** The scoring contract, computed independently: rational-idf BM25
    * (see [[Bm25]] scaladoc) with k1=1.2, b=0.75.
    */
  private def expectedScore(n: Long, sumLen: Long,
      hits: Seq[(Long, Double)], df: Double): Double = {
    val avgdl = sumLen.toDouble / n.toDouble
    val idf = (n.toDouble - df + 0.5) / (df + 0.5)
    hits.map { case (len, tf) =>
      idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (len / avgdl)))
    }.sum
  }

  test("bm25: hand-computed scores and ranking on a tiny corpus") {
    import spark.implicits._
    val docs = Seq((1L, "a b a"), (2L, "a c"), (3L, "c c c c"))
      .toDF("doc_id", "text")
    val out = Bm25.score(docs, "doc_id", "text", Seq("a", "c"), topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // N=3, sum_len=9; df(a)=df(c)=2
    val e1 = expectedScore(3, 9, Seq((3L, 2.0)), 2.0)           // d1: a×2
    val e2 = expectedScore(3, 9, Seq((2L, 1.0), (2L, 1.0)), 2.0) // d2: a,c
    val e3 = expectedScore(3, 9, Seq((4L, 4.0)), 2.0)           // d3: c×4
    assert(out.map(_._1).toSeq == Seq(2L, 3L, 1L),
      s"ranking mismatch: ${out.toSeq}")
    val got = out.toMap
    assert(math.abs(got(1L) - e1) < 1e-12)
    assert(math.abs(got(2L) - e2) < 1e-12)
    assert(math.abs(got(3L) - e3) < 1e-12)
  }

  test("bm25: non-default k1/b actually parameterize the scores") {
    import spark.implicits._
    val docs = Seq((1L, "a b a"), (2L, "a c"), (3L, "c c c c"))
      .toDF("doc_id", "text")
    val (k1, b) = (2.0, 0.5)
    val out = Bm25.score(docs, "doc_id", "text", Seq("a", "c"),
      topK = 10, k1 = k1, b = b)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    def exp(hits: Seq[(Long, Double)], df: Double): Double = {
      val avgdl = 9.0 / 3.0
      val idf = (3.0 - df + 0.5) / (df + 0.5)
      hits.map { case (len, tf) =>
        idf * (tf * (k1 + 1)) / (tf + k1 * ((1 - b) + b * (len / avgdl)))
      }.sum
    }
    assert(math.abs(out(1L) - exp(Seq((3L, 2.0)), 2.0)) < 1e-12)
    assert(math.abs(out(2L) - exp(Seq((2L, 1.0), (2L, 1.0)), 2.0)) < 1e-12)
    assert(math.abs(out(3L) - exp(Seq((4L, 4.0)), 2.0)) < 1e-12)
    // and they genuinely differ from the default-parameter scores
    val dflt = Bm25.score(docs, "doc_id", "text", Seq("a", "c"),
      topK = 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(out != dflt, "k1/b had no effect on the scoring expression")
  }

  test("bm25: a doc missing one query term still scores on the others") {
    import spark.implicits._
    val docs = Seq((1L, "a a"), (2L, "b")).toDF("doc_id", "text")
    val out = Bm25.score(docs, "doc_id", "text", Seq("a", "b"), topK = 10)
      .collect().map(r => r.getLong(0))
    assert(out.toSet == Set(1L, 2L)) // both appear, neither dropped
  }

  test("bm25: persisted-index search == direct score, and the probe " +
      "prunes to the query terms' partitions") {
    val docs = Tables.documents(spark, sfDir)
    val root = new java.io.File("target/test-bm25-idx/" +
      graft.sources.Artifacts.datasetKey(sfDir,
        s"$sfDir/documents.parquet")).getAbsolutePath
    val (post, stats) = Bm25.persistedIndex(docs, "doc_id", "text", root)
    val terms = Seq("vector", "join", "dup")
    val viaIndex = Bm25.search(post, stats, terms, topK = 15)
    val direct = Bm25.score(docs, "doc_id", "text", terms, topK = 15)
    assert(viaIndex.collect().map(_.toSeq).toSeq ==
      direct.collect().map(_.toSeq).toSeq)
    // the term IN (...) filter must reach the postings scan as a
    // partition filter — that is the whole point of the term layout
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("term"),
      s"expected term partition pruning in:\n$plan")
    // second call must reuse the committed artifact (same path, no
    // rebuild): commitOnce short-circuits on _SUCCESS
    val (post2, _) = Bm25.persistedIndex(docs, "doc_id", "text", root)
    assert(post2.inputFiles.toSet == post.inputFiles.toSet)
  }

  test("incremental index: two ingested batches rank exactly like the " +
      "direct score over their union; replay no-ops; the term probe " +
      "prunes to the query terms' bucket families") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("bm25_incr").toFile.getAbsolutePath
    val b0 = Seq((1L, "alpha beta alpha"), (2L, "beta gamma"),
      (3L, "delta epsilon zeta")).toDF("doc_id", "text")
    val b1 = Seq((4L, "alpha gamma gamma"), (5L, "zeta alpha"))
      .toDF("doc_id", "text")
    Bm25.incrementalIndex(b0, root, "doc_id", "text", 0L)
    Bm25.incrementalIndex(b1, root, "doc_id", "text", 1L)
    val terms = Seq("alpha", "gamma")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaIndex = rows(Bm25.searchIncremental(spark, root, terms, 10))
    val direct = rows(Bm25.score(b0.unionByName(b1), "doc_id", "text",
      terms, 10))
    assert(viaIndex == direct, s"index=$viaIndex direct=$direct")
    // replayed ingest of an already-applied batch must change nothing
    Bm25.incrementalIndex(b0, root, "doc_id", "text", 0L)
    assert(rows(Bm25.searchIncremental(spark, root, terms, 10)) ==
      direct)
    // the probe reads only the query terms' bucket families: 'delta'
    // (present) and the queried terms hash to specific buckets —
    // scanning for one term must touch fewer dirs than the full set
    val all = graft.streaming.CdcApply
      .readSnapshot(spark, s"$root/postings").get.inputFiles.toSet
    val one = graft.streaming.CdcApply
      .scanByBucketValues(spark, s"$root/postings", Seq(Seq("alpha")))
      .get.inputFiles.toSet
    assert(one.subsetOf(all) && one.size < all.size,
      s"probe read ${one.size}/${all.size} files — no pruning")
    // and the pruned probe still returns exactly alpha's postings
    val alphaDocs = graft.streaming.CdcApply
      .scanByBucketValues(spark, s"$root/postings", Seq(Seq("alpha")))
      .get.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(alphaDocs == Set(1L, 4L, 5L))
  }

  test("scanByBucketValues: collision safety (value re-check) and the " +
      "absent-bucket empty shape") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("scanbv").toFile.getAbsolutePath
    val rows = (1L to 40L).map(t => (s"t$t", t, t * 10))
      .toDF("tenant", "k", "payload").withColumn("version",
        org.apache.spark.sql.functions.lit(1L))
    // 4 buckets over 40 tenants: collisions guaranteed — the probe
    // must return ONLY the asked tenant, never a bucket-mate
    graft.streaming.CdcApply.applyBatch(rows, 0L, root,
      Seq("tenant", "k"), "version", None, numBuckets = 4,
      bucketCols = Some(Seq("tenant")))
    val got = graft.streaming.CdcApply
      .scanByBucketValues(spark, root, Seq(Seq("t7"), Seq("t23")))
      .get.select("tenant").collect().map(_.getString(0)).toSet
    assert(got == Set("t7", "t23"))
    // a value no row ever carried: empty, correct shape
    val none = graft.streaming.CdcApply
      .scanByBucketValues(spark, root, Seq(Seq("zz")))
      .get
    assert(none.count() == 0 &&
      none.columns.toSet == Set("tenant", "k", "payload", "version"))
    intercept[IllegalArgumentException] {
      graft.streaming.CdcApply.scanByBucketValues(spark, root,
        Seq(Seq("t1", "extra")))
    }
  }

  test("bm25: guards reject empty and duplicate term lists") {
    import spark.implicits._
    val docs = Seq((1L, "a")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Bm25.score(docs, "doc_id", "text", Seq.empty, topK = 5)
    }
    intercept[IllegalArgumentException] {
      Bm25.score(docs, "doc_id", "text", Seq("a", "a"), topK = 5)
    }
  }

  test("rrf: hand-computed fusion of two partially-overlapping runs") {
    import spark.implicits._
    val kw = Seq((1L, 9.0), (2L, 5.0), (3L, 1.0)).toDF("id", "score")
    val vec = Seq((2L, 0.9), (4L, 0.8)).toDF("id", "sim")
    val out = graft.search.Fusion.rrf(
      Seq(("kw", kw, "score"), ("vec", vec, "sim")), "id").collect()
    // ranks: kw 1→1, 2→2, 3→3; vec 2→1, 4→2
    val expected = Map(
      1L -> 1.0 / 61.0,
      2L -> (1.0 / 62.0 + 1.0 / 61.0),
      3L -> 1.0 / 63.0,
      4L -> 1.0 / 62.0)
    assert(out.length == 4)
    out.foreach { r =>
      val id = r.getAs[Long]("id")
      assert(r.getAs[Double]("rrf_score") == expected(id),
        s"doc $id: ${r.getAs[Double]("rrf_score")}")
    }
    // retrieved by both runs → fused above every single-run doc
    assert(out.head.getAs[Long]("id") == 2L)
    // a run that missed the doc contributes a NULL rank (and 0 score)
    val r4 = out.find(_.getAs[Long]("id") == 4L).get
    assert(r4.isNullAt(r4.fieldIndex("rank_kw")))
    assert(r4.getAs[Long]("rank_vec") == 2L)
  }

  test("rrf: score ties rank by id; duplicate tags rejected") {
    import spark.implicits._
    val run = Seq((5L, 1.0), (3L, 1.0)).toDF("id", "score")
    val out = graft.search.Fusion.rrf(Seq(("a", run, "score")), "id")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("rank_a")))
    assert(out.toSeq == Seq(3L -> 1L, 5L -> 2L))
    intercept[IllegalArgumentException] {
      graft.search.Fusion.rrf(
        Seq(("a", run, "score"), ("a", run, "score")), "id")
    }
  }

  test("ngrams: document frequency and commonness on a hand corpus") {
    import spark.implicits._
    // docs 1,2 share their single 3-shingle; doc 3 is under 3 tokens
    // (whole text becomes the shingle)
    val docs = Seq((1L, "x y z"), (2L, "x y z"), (3L, "a b"))
      .toDF("doc_id", "text")
    val df = graft.search.Ngrams.shingleDf(docs, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(df == Map("x y z" -> 2L, "a b" -> 1L))
    val c = graft.search.Ngrams.commonness(docs, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("sum_df"),
          r.getAs[Double]("mean_df")))).toMap
    assert(c(1L) == ((1L, 2L, 2.0)))
    assert(c(2L) == ((1L, 2L, 2.0)))
    assert(c(3L) == ((1L, 1L, 1.0)))
  }

  test("repeatedSpans: cross-doc windows counted once per doc, " +
      "short docs skipped, threshold and ranking applied") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),   // spans: "a b c", "b c d"
      (2L, "a b c"),     // span:  "a b c"
      (3L, "a b c a b c a b c"), // internal repetition counts ONCE
      (4L, "z q")        // under spanTokens → contributes nothing
    ).toDF("doc_id", "text")
    val out = graft.search.Ngrams.repeatedSpans(docs, "doc_id", "text",
      spanTokens = 3, minDocs = 2, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // "a b c" in docs 1,2,3; every other span below threshold
    // (doc 3's other windows: "b c a", "c a b" — only within doc 3)
    assert(out.toSeq == Seq("a b c" -> 3L), out.toSeq.toString)
    intercept[IllegalArgumentException] {
      graft.search.Ngrams.repeatedSpans(docs, "doc_id", "text",
        spanTokens = 1)
    }
  }

  test("repeatedSpans: the tokenizer sits above the spread exchange, " +
      "never on the scan below it") {
    import org.apache.spark.sql.catalyst.expressions.XxHash64
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    import graft.functions.{Shingles, WsTokens}
    val plan = graft.search.Ngrams.repeatedSpans(
      Tables.documents(spark, sfDir), "doc_id", "text")
      .queryExecution.optimizedPlan
    val spreads = plan.collect {
      case r: RepartitionByExpression
          if r.partitionExpressions.exists(_.isInstanceOf[XxHash64]) => r
    }
    assert(spreads.nonEmpty, "precondition: the spread must fire")
    spreads.foreach { r =>
      val below = r.child.flatMap(_.expressions.flatMap(_.collect {
        case e: WsTokens => e
        case e: Shingles => e
      }))
      assert(below.isEmpty, s"tokenizer under the spread:\n$r")
    }
  }

  test("ngrams: pairwise group overlap is exact; disjoint pairs absent") {
    import spark.implicits._
    val docs = Seq(
      ("g1", "x y z w"), // shingles {x y z, y z w}
      ("g2", "x y z"),   // {x y z}
      ("g3", "p q r")    // {p q r}
    ).toDF("source", "text")
    val out = graft.search.Ngrams.groupOverlap(docs, "source", "text")
      .collect().map(r => ((r.getAs[String]("group_a"),
        r.getAs[String]("group_b")),
        (r.getAs[Long]("n_common"), r.getAs[Long]("n_a"),
          r.getAs[Long]("n_b"), r.getAs[Double]("jaccard")))).toMap
    // only g1-g2 share anything: |∩|=1, |g1|=2, |g2|=1 → J = 1/2
    assert(out.keySet == Set("g1" -> "g2"))
    assert(out("g1" -> "g2") == ((1L, 2L, 1L, 0.5)))
  }

  test("regression: exact fit recovered (y = 2 + 3·x1), R² = 1, and a " +
      "redundant feature gets weight 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val pts = Seq((1L, 1L, 5L), (2L, 3L, 8L), (3L, 2L, 11L),
      (4L, 5L, 14L)).toDF("x1", "x2", "y") // y = 2 + 3·x1 exactly
      .withColumn("g", org.apache.spark.sql.functions.lit("a"))
    val row = graft.operators.Regression.fitTwoFeature(
      pts, Seq("g"), col("x1"), col("x2"), col("y")).collect().head
    assert(row.getAs[Long]("n") == 4L)
    // small integer moments → every Cramer det is exact in doubles
    assert(row.getAs[Double]("b0") == 2.0, row.toString)
    assert(row.getAs[Double]("b1") == 3.0, row.toString)
    assert(row.getAs[Double]("b2") == 0.0, row.toString)
    assert(row.getAs[Double]("r2") == 1.0, row.toString)
    // a group column named like an internal moment is refused loudly
    intercept[IllegalArgumentException] {
      graft.operators.Regression.fitTwoFeature(
        pts.withColumnRenamed("g", "s1"), Seq("s1"),
        col("x1"), col("x2"), col("y"))
    }
  }

  test("profile: nulls, exact distinct, native-type min/max") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, String)](
      (1L, "x"), (2L, null), (2L, "y"), (10L, "x"), (null, "z"))
      .toDF("k", "s")
    val rows = Profile.profile(df, Seq("k", "s")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5))).toSeq
    assert(rows == Seq(
      // min/max of k compare numerically: 10 > 2 (lexicographic would
      // say "10" < "2")
      ("k", 5L, 4L, 3L, "1", "10"),
      ("s", 5L, 4L, 3L, "x", "z")))
  }
}
