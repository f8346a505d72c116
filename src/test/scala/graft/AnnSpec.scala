package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

import graft.ann.Ann

class AnnSpec extends AnyFunSuite with SparkTestBase {

  /** 6 vectors in 3 lists; vec 0 is the query. Cosine order vs vec 0:
    * 1 (same direction) > 2 (close) > 3 (45°) > 4 (orthogonal-ish) > 5.
    */
  private def vectors(): DataFrame = {
    import spark.implicits._
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(2.0f, 0.0f, 0.0f), 0),
      (2L, Array(1.0f, 0.1f, 0.0f), 1),
      (3L, Array(1.0f, 1.0f, 0.0f), 1),
      (4L, Array(0.1f, 1.0f, 0.0f), 2),
      (5L, Array(0.0f, 0.0f, 1.0f), 2)
    ).toDF("vec_id", "embedding", "label")
  }

  test("bruteForceTopK ranks by exact cosine") {
    val out = Ann.bruteForceTopK(vectors(), "vec_id", "embedding", 0L, 4)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(out == Seq(1L, 2L, 3L, 4L))
  }

  test("bruteForceTopK sim of a colinear vector is 1.0") {
    val sim = Ann.bruteForceTopK(vectors(), "vec_id", "embedding", 0L, 1)
      .collect().head.getAs[Double]("sim")
    assert(math.abs(sim - 1.0) < 1e-9)
  }

  test("ivfTopK returns k rows even when the query's own list is pruned") {
    // nprobe=1: with list 0 (the query's own, containing the best match)
    // probed, result must be vec 1; regression for deriving the query
    // vector AFTER the list filter, which returned 0 rows.
    val out = Ann.ivfTopK(vectors(), "vec_id", "label", "embedding",
      queryId = 0L, k = 2, nprobe = 2)
    val ids = out.collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(ids.nonEmpty, "ivfTopK returned no rows")
    assert(ids.head == 1L)
  }

  test("persistedCentroids round-trips and skips the rebuild") {
    val dir = java.nio.file.Files
      .createTempDirectory("ivf_test").toFile.getAbsolutePath + "/cents"
    val c1 = Ann.persistedCentroids(vectors(), "label", "embedding", dir)
      .collect()
    assert(c1.length == 3)
    // second call reads the persisted index (same contents)
    val c2 = Ann.persistedCentroids(vectors(), "label", "embedding", dir)
      .collect()
    assert(c1.map(_.toString).sorted.toSeq ==
      c2.map(_.toString).sorted.toSeq)
  }

  test("hyperplane LSH puts identical vectors in the same bucket") {
    import spark.implicits._
    import graft.functions.VectorFunctions
    val df = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f)),
      (1L, Array(1.0f, 2.0f, 3.0f)),
      (2L, Array(-3.0f, 1.0f, -2.0f))
    ).toDF("vec_id", "embedding")
    val buckets = df.select($"vec_id",
      VectorFunctions.lshBucket($"embedding", bits = 8, dims = 3)
        .as("b")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets(0L) == buckets(1L))
    assert(buckets(0L) != buckets(2L))
  }

  test("lshNearDupPairs finds the identical pair with sim 1.0") {
    import spark.implicits._
    val df = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f)),
      (1L, Array(1.0f, 2.0f, 3.0f)),
      (2L, Array(-3.0f, 1.0f, -2.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Ann.lshNearDupPairs(df, "vec_id", "embedding",
        bits = 8, dims = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        r.getAs[Double]("sim"))).toMap
    assert(math.abs(pairs((0L, 1L)) - 1.0) < 1e-9)
  }

  test("oversized LSH bucket falls back to linear star pairs") {
    import spark.implicits._
    // 50 identical vectors land in ONE bucket; with bucketCap=10 the
    // all-pairs expansion must give way to linear star pairs anchored at
    // the bucket minimum — O(n) edges, every member reachable from the
    // anchor (connected-components recovers the full cluster), never the
    // O(n²) self-join blowup on a single reducer.
    val n = 50
    val df = (0L until n).map(i => (i, Array(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Ann.lshNearDupPairs(df, "vec_id", "embedding",
      bits = 8, dims = 3, bucketCap = 10).collect()
    assert(pairs.length == n - 1, s"expected linear star, got ${pairs.length}")
    assert(pairs.forall(_.getLong(0) == 0L), "star pairs must anchor at min id")
    assert(pairs.map(_.getLong(1)).toSet == (1L until n).toSet)
    assert(pairs.forall(r => math.abs(r.getAs[Double]("sim") - 1.0) < 1e-9))
    // at-or-under the cap keeps the exact all-pairs expansion
    val full = Ann.lshNearDupPairs(df, "vec_id", "embedding",
      bits = 8, dims = 3, bucketCap = n).collect()
    assert(full.length == n * (n - 1) / 2)
  }

  test("IVF probe prunes list partitions at plan time, same results") {
    import graft.sources.Tables
    val emb = Tables.embeddingsByList(spark, sfDir)
    val out = Ann.ivfTopK(emb,
      Ann.centroids(emb, "label", "embedding"),
      "vec_id", "label", "embedding", queryId = 0L, k = 10, nprobe = 3)
    // the probe's isin over the selected lists must reach the scan as a
    // PARTITION filter (plan-time directory pruning), not a data filter
    val probeScans = out.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.partitionFilters.exists(_.references.exists(
            _.name == "label")) => f
    }
    assert(probeScans.nonEmpty,
      s"no scan with a label partition filter:\n${out.queryExecution.sparkPlan}")
    assert(probeScans.exists(_.partitionFilters.mkString.contains("IN")),
      "probe list selection did not become a partition IN-filter")
    // layout change is invisible to results: identical to IVF over the
    // unpartitioned table
    val viaFlat = Ann.ivfTopK(Tables.embeddings(spark, sfDir),
      "vec_id", "label", "embedding", queryId = 0L, k = 10, nprobe = 3)
    assert(out.collect().map(_.toSeq).toSeq ==
      viaFlat.collect().map(_.toSeq).toSeq)
  }

  test("kmeans recovers planted well-separated clusters deterministically") {
    import spark.implicits._
    // three orthogonal directions with small perturbations: Lloyd's must
    // put each group in one list, whatever the init picked
    def v(axis: Int, eps: Float): Array[Float] = {
      val a = Array.fill(3)(0.0f); a(axis) = 1.0f; a((axis + 1) % 3) = eps; a
    }
    val df = (0 until 9).map { i =>
      (i.toLong, v(i % 3, 0.01f * (i / 3)))
    }.toDF("vec_id", "embedding")
    val cents = Ann.kmeans(df, "vec_id", "embedding", k = 3, iters = 4)
    assert(cents.count() == 3)
    val lists = Ann.assignLists(
      df.select($"vec_id".as("vid"), $"embedding".as("v")), cents)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    (0 until 3).foreach { axis =>
      val group = (0 until 9).filter(_ % 3 == axis).map(i => lists(i.toLong))
      assert(group.distinct.size == 1,
        s"axis-$axis group split across lists: $group")
    }
    assert(lists.values.toSet.size == 3, s"collapsed lists: $lists")
    // bit-reproducible: a second run yields the identical assignment
    val again = Ann.assignLists(
      df.select($"vec_id".as("vid"), $"embedding".as("v")),
      Ann.kmeans(df, "vec_id", "embedding", k = 3, iters = 4))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(again == lists)
  }

  test("kmeans with a reliable checkpoint dir is bit-identical") {
    import spark.implicits._
    val df = (0 until 24).map { i =>
      val a = Array.fill(4)(0.0f); a(i % 4) = 1.0f; a((i + 1) % 4) = 0.02f * i
      (i.toLong, a)
    }.toDF("vec_id", "embedding")
    val ckpt = java.nio.file.Files
      .createTempDirectory("kmeans_ckpt").toFile.getAbsolutePath
    def canon(cents: org.apache.spark.sql.DataFrame) =
      cents.collect()
        .map(r => r.getInt(0) -> r.getSeq[Any](1).toList).toMap
    val local = canon(Ann.kmeans(df, "vec_id", "embedding", k = 4,
      iters = 3))
    val reliable = withCheckpointDir(ckpt)(canon(Ann.kmeans(df, "vec_id",
      "embedding", k = 4, iters = 3)))
    // the checkpoint mode changes fault tolerance, never the centroids
    assert(reliable == local)
    // and the reliable run actually wrote durable checkpoints
    assert(wroteCheckpoints(ckpt), "no reliable checkpoint written")
  }

  test("kmeans keeps k centroids when a list captures no vectors") {
    import spark.implicits._
    // two identical seed vectors: assignment ties to the lower list, so
    // the second seed's list is empty in round one — it must keep its
    // previous centroid, not vanish and shrink k forever
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val cents = Ann.kmeans(df, "vec_id", "embedding", k = 2, iters = 3)
    assert(cents.count() == 2, "empty list dropped from the quantizer")
  }

  test("IVF over self-trained kmeans lists finds the brute-force top-k") {
    import graft.sources.Tables
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sfDir)
    val out = graft.queries.TierC.queries("q_ann_kmeans")(spark, sfDir)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(out.size == 10)
    val exact = Ann.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    // nprobe=3 of 8 lists: the probe is approximate by design — require
    // majority overlap with the exact answer, not equality
    val recall = out.count(exact.contains).toDouble / exact.size
    assert(recall >= 0.5, s"kmeans-IVF recall $recall too low " +
      s"(got $out, exact $exact)")
  }

  test("null embeddings never pair (dropped, not grouped together)") {
    import spark.implicits._
    // null vectors hash to a null bucket; if groupBy treated null as a
    // real key, the two null rows would pair with each other and emit a
    // null-sim candidate row
    val df = Seq(
      (0L, Some(Array(1.0f, 2.0f, 3.0f))),
      (1L, Some(Array(1.0f, 2.0f, 3.0f))),
      (2L, Option.empty[Array[Float]]),
      (3L, Option.empty[Array[Float]])
    ).toDF("vec_id", "embedding")
    val pairs = Ann.lshNearDupPairs(df, "vec_id", "embedding",
      bits = 8, dims = 3).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((0L, 1L)), s"null-vector rows leaked into pairs: ${pairs.toSeq}")
  }

  test("cosineQuant raises loudly on quantized overflow, not mis-ranks") {
    import graft.functions.VecOps
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // |x|=500 at dims=64: sum((5e8)^2) = 1.6e19 > 2^63 — must raise
    val big = new GenericArrayData(Array.fill[Any](64)(500.0f))
    val e = intercept[ArithmeticException] { VecOps.cosineQuant(big, big) }
    assert(e.getMessage.contains("overflow"))
    // |x|=300 stays inside the bound: exact self-similarity, no error
    val ok = new GenericArrayData(Array.fill[Any](64)(300.0f))
    assert(math.abs(VecOps.cosineQuant(ok, ok) - 1.0) < 1e-12)
    // end-to-end through the codegen'd expression
    import spark.implicits._
    import graft.functions.GraftFunctions
    val df = Seq((Array.fill(64)(500.0f), Array.fill(64)(500.0f)))
      .toDF("a", "b")
    val thrown = intercept[Throwable] {
      df.select(GraftFunctions.cosineQuant($"a", $"b")).collect()
    }
    val messages = Iterator.iterate(thrown)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("; ")
    assert(messages.contains("overflow"), s"unexpected failure: $messages")
  }

  test("fused expressions match the Column-level reference formulations") {
    import spark.implicits._
    import graft.functions.{GraftFunctions, VectorFunctions}
    val vecs = Seq(
      Array(0.13f, -0.8f, 2.5f, 0.0f),
      Array(-1.0f, 1.0f, -1.0f, 1.0f),
      Array(0.000001f, -0.000001f, 0.5f, -0.25f))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    // hyperplane bucket: interpreted Column formulation vs codegen'd expr
    val buckets = df.select(
      VectorFunctions.lshBucket($"v", 10, 4).as("col_b"),
      GraftFunctions.hplaneBucket($"v", 10, 4).as("expr_b")).collect()
    buckets.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // cosine: zip_with/aggregate formulation vs fused expr
    val pairs = df.as("a").crossJoin(df.as("b"))
      .select(VectorFunctions.cosine($"a.v", $"b.v").as("col_c"),
        GraftFunctions.cosineQuant($"a.v", $"b.v").as("expr_c")).collect()
    pairs.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    // edge cases both formulations must NULL: zero-norm and ragged vecs
    val edges = Seq(
      (Array(1.0f, 2.0f), Array(0.0f, 0.0f)),   // zero norm
      (Array(1.0f, 2.0f), Array(1.0f)))          // length mismatch
      .toDF("a", "b")
      .select(VectorFunctions.cosine($"a", $"b").as("col_c"),
        GraftFunctions.cosineQuant($"a", $"b").as("expr_c")).collect()
    edges.foreach { r =>
      assert(r.isNullAt(1), s"fused cosine not null: $r")
      assert(r.isNullAt(0), s"column cosine not null: $r")
    }
  }

  test("quantize_vec and dot_q equal the VectorFunctions reference: " +
      "random vectors, null components, length mismatches, overflow") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    import graft.functions.{GraftFunctions, VectorFunctions}
    val rnd = new scala.util.Random(8)
    // ragged dims, so a random pair is often a length mismatch; every
    // 7th vector carries a null component
    val vecs = (0 until 60).map { i =>
      val v = Seq.fill(1 + rnd.nextInt(6))(
        Option((rnd.nextGaussian() * 2).toFloat))
      (i.toLong, if (i % 7 == 3) v.updated(0, None) else v)
    }.toDF("id", "v")
    val q = vecs.select($"id", VectorFunctions.quantize($"v").as("ref"),
      GraftFunctions.quantizeVec($"v").as("q"))
    val quantized = q.collect()
    assert(quantized.forall(r => r.getSeq[Any](1) == r.getSeq[Any](2)))
    assert(quantized.exists(r => r.getSeq[Any](2).contains(null)))
    // doubles quantize like floats cast to double
    val d = Seq(Seq(0.1234565, -2.5e-7, 3.0)).toDF("v")
      .select(VectorFunctions.quantize($"v"), GraftFunctions.quantizeVec($"v"))
      .head()
    assert(d.getSeq[Long](0) == d.getSeq[Long](1))
    val pairs = q.as("a").crossJoin(q.as("b"))
      .select(VectorFunctions.dotQ($"a.q", $"b.q").as("ref"),
        GraftFunctions.dotQ($"a.q", $"b.q").as("k"),
        VectorFunctions.normSqQ($"a.q").as("ref_n"),
        GraftFunctions.dotQ($"a.q", $"a.q").as("k_n"))
      .collect()
    assert(pairs.forall(r => r.get(0) == r.get(1) && r.get(2) == r.get(3)))
    assert(pairs.exists(_.isNullAt(1)) && pairs.exists(!_.isNullAt(1)))
    // the overflow bound: 3037000499² fits in 63 bits, 3037000500² and a
    // sum past 2^63 do not; both forms fail, neither wraps
    val edge = 3037000499L
    def dot(f: (Column, Column) => Column, a: Seq[Long], b: Seq[Long]) =
      Seq((a, b)).toDF("a", "b").select(f($"a", $"b")).head().get(0)
    val forms = Seq[(Column, Column) => Column](
      VectorFunctions.dotQ, GraftFunctions.dotQ)
    forms.foreach { f =>
      assert(dot(f, Seq(edge), Seq(edge)) == edge * edge)
      Seq((Seq(edge + 1), Seq(edge + 1)),
        (Seq(edge, 1000000000L), Seq(edge, 1000000000L))).foreach {
        case (a, b) =>
          val thrown = intercept[Throwable](dot(f, a, b))
          val messages = Iterator.iterate(thrown)(_.getCause)
            .takeWhile(_ != null).map(_.getMessage).mkString("; ")
          assert(messages.toLowerCase.contains("overflow"), messages)
      }
    }
  }

  test("cosine/quantization math: orthogonal is 0, opposite is -1") {
    import spark.implicits._
    import graft.functions.VectorFunctions._
    val df = Seq((Array(1.0f, 0.0f), Array(0.0f, 1.0f),
      Array(-1.0f, 0.0f))).toDF("a", "b", "c")
    val r = df.select(
      cosine($"a", $"b").as("ab"), cosine($"a", $"c").as("ac"),
      cosine($"a", $"a").as("aa")).collect().head
    assert(math.abs(r.getAs[Double]("ab")) < 1e-9)
    assert(math.abs(r.getAs[Double]("ac") + 1.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("aa") - 1.0) < 1e-9)
  }

  private def semIds(df: DataFrame): Set[Long] =
    df.collect().map(_.getAs[Long]("vec_id")).toSet

  test("semanticDedup: lowest-id wins within a cluster; identical " +
      "vectors in DIFFERENT clusters both survive (the documented " +
      "recall trade)") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0),  // kept: lowest id of the 1~2 pair
      (2L, Array(1.0f, 0.0f), 0),  // dropped: identical to 1, same cluster
      (3L, Array(0.0f, 1.0f), 0),  // kept: orthogonal to 1
      (4L, Array(1.0f, 0.0f), 1),  // kept: identical to 1 but cluster 1
      (5L, Array(1.0f, 0.0f), 1)   // dropped: identical to 4
    ).toDF("vec_id", "embedding", "label")
    assert(semIds(Ann.semanticDedup(emb, "vec_id", "embedding", "label",
      0.95)) == Set(1L, 3L, 4L))
  }

  test("semanticDedup: chains collapse to the minimum element in one " +
      "pass — a dropped witness still drops its own neighbors") {
    import spark.implicits._
    // 1 ~ 2 (sim ~0.995) and 2 ~ 3, but 1 !~ 3 (sim ~0.98 < tau):
    // 2 drops via 1; 3 must STILL drop via the (dropped) witness 2
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(1.0f, 0.1f), 0),
      (3L, Array(1.0f, 0.2f), 0)
    ).toDF("vec_id", "embedding", "label")
    assert(semIds(Ann.semanticDedup(emb, "vec_id", "embedding", "label",
      0.99)) == Set(1L))
  }

  test("semanticDedup composes with self-trained kmeans clusters") {
    import spark.implicits._
    val emb = Seq(
      (10L, Array(5.0f, 0.0f, 0.0f)), (11L, Array(5.0f, 0.0f, 0.0f)),
      (20L, Array(0.0f, 5.0f, 0.0f)), (21L, Array(0.0f, 5.0f, 0.0f)),
      (30L, Array(0.0f, 0.0f, 5.0f))
    ).toDF("vec_id", "embedding")
    val cents = Ann.kmeans(emb, "vec_id", "embedding", k = 3, iters = 3)
    val assigned = emb.join(
      Ann.assignLists(
        emb.select(org.apache.spark.sql.functions.col("vec_id").as("vid"),
          org.apache.spark.sql.functions.col("embedding").as("v")),
        cents).withColumnRenamed("vid", "vec_id"),
      "vec_id")
    // identical vectors always share a kmeans cluster, so each twin
    // pair collapses to its lower id; the singleton survives
    assert(semIds(Ann.semanticDedup(assigned, "vec_id", "embedding",
      "list", 0.95)) == Set(10L, 20L, 30L))
  }

  test("PQ: a planted identical twin is the ADC top-1, and codes are " +
      "m entries in the codebook range") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array.tabulate(8)(i => (i + 1).toFloat)),       // query
      (1L, Array.tabulate(8)(i => (i + 1).toFloat)),       // twin
      (2L, Array.tabulate(8)(i => (8 - i).toFloat)),
      (3L, Array.tabulate(8)(i => if (i % 2 == 0) 1f else -1f)),
      (4L, Array.tabulate(8)(i => -(i + 1).toFloat))
    ).toDF("vec_id", "embedding")
    val books = Ann.pqCodebooks(emb, "vec_id", "embedding", dims = 8,
      m = 2, ksub = 3, iters = 3,
      path = tmpPath("pq_books_planted"))
    val codes = Ann.pqEncode(emb, "vec_id", "embedding", 8, 2, books)
    codes.collect().foreach { r =>
      val cs = r.getAs[scala.collection.Seq[Int]]("codes")
      assert(cs.length == 2 && cs.forall(c => c >= 1 && c <= 3),
        s"bad codes $cs")
    }
    val top = Ann.pqTopK(codes, books,
      emb.filter($"vec_id" === 0L).select($"embedding"),
      "vec_id", 8, 2, 0L, 2).collect()
    assert(top.head.getAs[Long]("vec_id") == 1L,
      s"twin not top-1: ${top.toSeq}")
  }

  test("PQ: refined recall on the real embeddings clears the pinned " +
      "bound and the index is bit-reproducible") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    def run(path: String): (Seq[Long], Seq[Long]) = {
      val (books, codes) = Ann.persistedPqIndex(emb, "vec_id",
        "embedding", dims = 64, m = 16, ksub = 16, iters = 3, path)
      val adc = Ann.pqTopK(codes, books,
        emb.filter(org.apache.spark.sql.functions.col("vec_id") === 0L)
          .select(org.apache.spark.sql.functions.col("embedding")),
        "vec_id", 64, 16, 0L, 10)
        .collect().map(_.getAs[Long]("vec_id")).toSeq
      val refined = Ann.pqRefinedTopK(emb, codes, books, "vec_id",
        "embedding", 64, 16, 0L, 10, 64)
        .collect().map(_.getAs[Long]("vec_id")).toSeq
      (adc, refined)
    }
    val (adc, refined) = run(tmpPath("pq_idx_a"))
    assert((adc, refined) == run(tmpPath("pq_idx_b")),
      "two independent PQ index builds must rank identically")
    val exact = Ann.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    // ADC alone is the coarse stage (measured ~0.5 here); the
    // DEPLOYED shape — 64 ADC candidates, exact re-rank — measured
    // ~0.9 across scale factors. Bounds pinned below measurement so
    // a regression is loud but codebook-level jitter is not.
    val adcRecall = adc.count(exact.contains).toDouble / exact.size
    val refRecall = refined.count(exact.contains).toDouble / exact.size
    assert(adcRecall >= 0.2, s"PQ ADC recall@10 $adcRecall below bound")
    assert(refRecall >= 0.6,
      s"PQ refined recall@10 $refRecall below bound")
  }

  test("IVF+PQ: probe reads only the probed lists' code partitions, " +
      "refined recall clears the pinned bound, builds bit-reproduce") {
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    def run(path: String): Seq[Long] = {
      val (cents, books, codes) = Ann.persistedIvfPqIndex(emb, "vec_id",
        "embedding", dims = 64, m = 16, ksub = 16, iters = 3,
        nlists = 8, path)
      assert(cents.count() == 8)
      // the partition-pruning contract that makes this the 100 TB
      // query path: an isin over the list partition column must cut
      // the file set to the probed lists' directories alone
      val allFiles = codes.inputFiles.toSet
      val probed = codes.filter(col("list").isin(1, 2))
      val plan = probed.queryExecution.executedPlan
      assert(plan.toString.contains("PartitionFilters") &&
        plan.toString.contains("list"),
        s"probe filter not a partition filter:\n$plan")
      // the PHYSICAL file set after pruning (inputFiles reports the
      // base relation, pre-pruning): only probed lists' directories
      val probedFiles = plan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.toPartitionArray
            .map(_.filePath.toString).toSeq
      }.flatten.toSet
      assert(probedFiles.nonEmpty && probedFiles.forall(f =>
        f.contains("list=1") || f.contains("list=2")),
        s"unpruned code files: ${probedFiles.take(3)}")
      assert(probedFiles.size < allFiles.size,
        "probe must read a strict subset of the code partitions")
      Ann.ivfPqRefinedTopK(emb, codes, books, cents, "vec_id",
        "embedding", 64, 16, 0L, 10, nprobe = 4, nCandidates = 64)
        .collect().map(_.getAs[Long]("vec_id")).toSeq
    }
    val refined = run(tmpPath("ivfpq_idx_a"))
    assert(refined == run(tmpPath("ivfpq_idx_b")),
      "two independent IVF+PQ index builds must rank identically")
    val exact = Ann.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    // two compounded pruning stages (coarse nprobe=4/8 + ADC@64,
    // exact re-rank): measured ~0.8-0.9 at sf0.001/0.01; bound pinned
    // below measurement so regressions are loud, jitter is not
    val recall = refined.count(exact.contains).toDouble / exact.size
    assert(recall >= 0.5, s"IVF+PQ refined recall@10 $recall below bound")
  }

  private def tmpPath(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toFile
      .getAbsolutePath + "/idx"

  test("incremental IVF: two ingested batches rank exactly like a " +
      "direct scan of their union; replay no-ops; the label probe " +
      "prunes to the probed lists' bucket families") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.Tables
    val root = tmpPath("ann_incr")
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), col("embedding"))
    val extra = emb.filter(col("vec_id") % 5 === 1)
      .select((col("vec_id") + 500000L).as("vec_id"), col("label"),
        col("embedding"))
    Ann.incrementalIngest(emb, root, "vec_id", "label", "embedding", 0L)
    Ann.incrementalIngest(extra, root, "vec_id", "label", "embedding", 1L)
    val cents = Ann.centroids(emb, "label", "embedding")
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaIndex = rows(Ann.ivfTopKIncremental(spark, root, cents,
      "label", qv, 0L, k = 10, nprobe = 3))
    // direct twin: same fixed centroids, same probe, exhaustive union
    val direct = rows(Ann.ivfTopK(emb.unionByName(extra), cents,
      "vec_id", "label", "embedding", 0L, k = 10, nprobe = 3))
    assert(viaIndex == direct, s"index=$viaIndex direct=$direct")
    // replayed ingest must change nothing (CDC replay guard)
    Ann.incrementalIngest(emb, root, "vec_id", "label", "embedding", 0L)
    assert(rows(Ann.ivfTopKIncremental(spark, root, cents, "label", qv,
      0L, 10, 3)) == direct)
    // the probe reads only the probed labels' bucket families
    val all = graft.streaming.CdcApply
      .readSnapshot(spark, root).get.inputFiles.toSet
    val one = graft.streaming.CdcApply
      .scanByBucketValues(spark, root, Seq(Seq(0))).get
      .inputFiles.toSet
    assert(one.subsetOf(all) && one.size < all.size,
      s"probe read ${one.size}/${all.size} files — no pruning")
  }

  test("semanticDedup refuses reserved internal column names") {
    import spark.implicits._
    val emb = Seq((1L, Array(1.0f), 0, "x"))
      .toDF("vec_id", "embedding", "label", "_ka")
    intercept[IllegalArgumentException] {
      Ann.semanticDedup(emb, "vec_id", "embedding", "label", 0.5)
    }
  }

  test("hardNegatives: only other-label vectors, ranked by cosine, " +
      "anchor excluded, k bounded") {
    val emb = vectors()
    val out = Ann.hardNegatives(emb, "vec_id", "label", "embedding",
      anchors = emb.filter(org.apache.spark.sql.functions
        .col("vec_id") < 2), k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // anchors 0,1 share label 0 → negatives only from labels 1,2
    assert(out.forall { case (_, neg, _) => neg >= 2L })
    assert(out.groupBy(_._1).forall(_._2.length == 2))
    // anchor 0 = x-axis: nearest other-label is vec 2 (cos ≈ 0.995),
    // then vec 3 (cos ≈ 0.707)
    val a0 = out.filter(_._1 == 0L).map(_._2).toSeq
    assert(a0 == Seq(2L, 3L))
    // per-anchor rows are sim-descending
    out.groupBy(_._1).values.foreach { rs =>
      val sims = rs.map(_._3).toSeq
      assert(sims == sims.sorted.reverse)
    }
  }
}
