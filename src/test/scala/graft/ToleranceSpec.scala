package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.dedup.Dedup
import graft.functions.{GraftFunctions, TextFunctions}
import graft.sources.Tables

/** Tolerance twins for the no_oracle queries: each approximate /
  * engine-hash-specific operator is machine-checked against exact ground
  * truth computed EXHAUSTIVELY at test scale — closing the gap between
  * "deterministic output" and "right answer" that the DuckDB oracle
  * cannot cover (sketch internals and xxhash64/splitmix64 hashing are
  * not reproducible there).
  *
  * Bands are declared from each operator's theory, not tuned to the
  * data: HLL rsd 0.02 → 3σ = 6%; MinHash k=32 → σ = √(J(1−J)/32) ≤ 0.09
  * → 4σ ≈ 0.25 near J = 0.9; SimHash 4×16-bit chunks → guaranteed
  * recall at Hamming ≤ 3 (pigeonhole); t-digest accuracy 10000 → rank
  * error ≤ n/10000 < 1 row at test n.
  */
class ToleranceSpec extends AnyFunSuite with SparkTestBase {

  /** Exhaustive exact-Jaccard ground truth over the whole corpus — the
    * O(n²) scan the LSH pipelines exist to avoid, affordable at 500
    * docs. Shared by the MinHash and SimHash twins.
    */
  private lazy val groundTruthPairs: Array[(Long, Long, Double)] = {
    val sh = Tables.documents(spark, sfDir)
      .select(col("doc_id").as("id"),
        array_distinct(TextFunctions.shingles(col("text"), 3)).as("sh"))
    sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
      .crossJoin(sh.select(col("id").as("id_b"), col("sh").as("sh_b")))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jac"))
      .filter(col("jac") >= 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
  }

  test("HLL distinct within 3 sigma of the exact twin per group") {
    val err = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_u"),
        approx_count_distinct(col("user_id"), 0.02).as("approx_u"))
      .select(max(abs(col("approx_u") - col("exact_u")) /
        col("exact_u")).as("rel"))
      .head.getDouble(0)
    assert(err <= 0.06, s"HLL relative error $err exceeds 3x rsd(0.02)")
  }

  test("count-min estimates never undercount and overcount within " +
    "the epsilon bound; merged sketches equal the one-pass sketch") {
    import graft.operators.CountMin
    val (width, depth) = (4096, 4)
    val toks = Tables.documents(spark, sfDir)
      .select(explode(TextFunctions.tokens(col("text"))).as("word"))
    val n = toks.count()
    val exact = toks.groupBy(col("word"))
      .agg(count(lit(1)).as("exact_cnt"))
    val sk = CountMin.sketch(toks, "word", width, depth)
    // probe EVERY distinct token, not just the declared query's top-10
    val est = CountMin.estimate(sk, exact.select(col("word")), "word",
      width, depth)
    val joined = est.join(exact, "word")
      .select(col("word"), col("est_cnt"), col("exact_cnt")).collect()
    val eps = math.E / width
    joined.foreach { r =>
      val (w, e, x) = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(e >= x, s"'$w': CMS undercounted ($e < $x) — impossible " +
        "by construction, the sketch or probe hashing diverged")
    }
    // the eps*N overcount bound is PER-PROBE with probability
    // 1 - e^-depth (~98.2% at depth 4), not universal — assert it for
    // all but a 2·e^-depth fraction of probes (double the expected
    // failure mass, the same variance allowance as the Bloom FP test)
    val overBound = joined.count(r =>
      r.getLong(1) - r.getLong(2) > (eps * n).ceil.toLong)
    val allowed = (2 * math.exp(-depth.toDouble) * joined.length).ceil
    assert(overBound <= allowed,
      s"$overBound of ${joined.length} probes exceed eps*N = " +
        s"${(eps * n).ceil}; theory allows ~${allowed.toLong}")
    // mergeability: two half-corpus sketches combined cell-wise must
    // equal the one-pass sketch exactly
    val docs = Tables.documents(spark, sfDir)
    def half(pred: org.apache.spark.sql.Column) = CountMin.sketch(
      docs.filter(pred)
        .select(explode(TextFunctions.tokens(col("text"))).as("word")),
      "word", width, depth)
    val merged = CountMin.merge(
      half(col("doc_id") % 2 === 0), half(col("doc_id") % 2 === 1))
    assert(merged.exceptAll(sk).isEmpty && sk.exceptAll(merged).isEmpty,
      "merged half-sketches diverge from the one-pass sketch")
  }

  test("bloom membership has no false negatives; false-positive rate " +
    "within the theoretical bound; merged filters equal one build") {
    import graft.operators.Bloom
    val (m, k) = (1L << 16, 5)
    val docs = Tables.documents(spark, sfDir)
    val evalSh = docs.filter(col("doc_id") < 10)
      .select(explode(array_distinct(
        TextFunctions.shingles(col("text"), 3))).as("shingle"))
      .distinct()
    val corpusSh = docs.filter(col("doc_id") >= 10)
      .select(explode(array_distinct(
        TextFunctions.shingles(col("text"), 3))).as("shingle"))
      .distinct()
    val bits = Bloom.build(evalSh, "shingle", m, k)
    val flagged = Bloom.mightContain(bits, corpusSh, "shingle", m, k)
    val joined = flagged
      .join(evalSh.withColumn("_in_eval", lit(true)), Seq("shingle"),
        "left")
      .select(col("might_contain"),
        coalesce(col("_in_eval"), lit(false)).as("in_eval"))
      .collect()
    // hard guarantee: a shingle actually in the eval set must flag
    val falseNeg = joined.count(r => r.getBoolean(1) && !r.getBoolean(0))
    assert(falseNeg == 0, s"$falseNeg bloom false negatives — " +
      "impossible by construction, the build/probe hashing diverged")
    // false positives bounded by theory: p = (1 - e^(-k n / m))^k,
    // asserted at 3x to absorb the variance of one concrete hash draw
    val n = evalSh.count()
    val p = math.pow(1 - math.exp(-k.toDouble * n / m), k)
    val neg = joined.count(r => !r.getBoolean(1))
    val fp = joined.count(r => !r.getBoolean(1) && r.getBoolean(0))
    assert(neg == 0 || fp.toDouble / neg <= 3 * p + 1e-6,
      s"bloom FP rate ${fp.toDouble / neg} exceeds 3x theoretical $p")
    // mergeability: half-set filters union into the full filter
    val halves = Bloom.merge(
      Bloom.build(evalSh.filter(xxhash64(col("shingle")) % 2 === 0),
        "shingle", m, k),
      Bloom.build(evalSh.filter(xxhash64(col("shingle")) % 2 =!= 0),
        "shingle", m, k))
    assert(halves.exceptAll(bits).isEmpty &&
      bits.exceptAll(halves).isEmpty,
      "merged half-filters diverge from the one-pass build")
  }

  test("persisted bloom sketch commits once and re-serves the same " +
    "bit table (the decontamination reuse path)") {
    import graft.operators.Bloom
    import spark.implicits._
    val set = Seq("x", "y", "z").toDF("item")
    val base = java.nio.file.Files.createTempDirectory("bloom_art")
      .toFile.getAbsolutePath + "/bits"
    val (m, k) = (1L << 10, 3)
    def bits(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getLong(0)).sorted.toSeq
    val first = bits(Bloom.persistedBuild(set, "item", m, k, base))
    val dir = new java.io.File(s"${base}_item_m${m}_k$k")
    assert(new java.io.File(dir, "_SUCCESS").exists())
    val mtimes = dir.listFiles().map(f =>
      f.getName -> f.lastModified).toMap
    // second call: the committed artifact is trusted — no rewrite
    val second = bits(Bloom.persistedBuild(set, "item", m, k, base))
    assert(second == first)
    assert(dir.listFiles().forall(f =>
      mtimes.get(f.getName).contains(f.lastModified)),
      "second build must not rewrite the committed sketch")
    // and the persisted table IS the in-memory build, bit for bit
    assert(first == bits(Bloom.build(set, "item", m, k)))
    // a different (m, k) keys a different artifact, never a stale read
    val other = bits(Bloom.persistedBuild(set, "item", m, 4, base))
    assert(other != first || other == bits(
      Bloom.build(set, "item", m, 4)))
  }

  test("bloom probe multiplicity is preserved: duplicate probe rows " +
    "come back once each; reserved internal names are refused") {
    import graft.operators.Bloom
    import spark.implicits._
    val (m, k) = (1L << 12, 3)
    val set = Seq("a", "b").toDF("item")
    val bits = Bloom.build(set, "item", m, k)
    // duplicates AND a non-item payload column that differs per dup
    val probes = Seq(("a", 1), ("a", 2), ("c", 3), ("c", 4), ("c", 5))
      .toDF("item", "tag")
    val out = Bloom.mightContain(bits, probes, "item", m, k)
      .select(col("item"), col("tag"), col("might_contain"))
      .collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
    assert(out == Seq("a" -> 1, "a" -> 2, "c" -> 3, "c" -> 4, "c" -> 5),
      s"probe rows must survive with multiplicity: $out")
    // member rows all flag true (no false negatives, duplicated too)
    val flags = Bloom.mightContain(bits, probes, "item", m, k)
      .filter(col("item") === "a").select(col("might_contain"))
      .collect().map(_.getBoolean(0)).toSeq
    assert(flags == Seq(true, true))
    // a probe carrying a reserved internal name is refused loudly
    val bad = Seq(("a", true)).toDF("item", "__graft_bloom_set")
    val e = intercept[IllegalArgumentException] {
      Bloom.mightContain(bits, bad, "item", m, k)
    }
    assert(e.getMessage.contains("reserved"), e.getMessage)
    // CountMin: an itemCol shadowing a sketch column is refused
    val eCms = intercept[IllegalArgumentException] {
      graft.operators.CountMin.estimate(
        graft.operators.CountMin.sketch(set, "item", 64, 2),
        Seq("a").toDF("cnt"), "cnt", 64, 2)
    }
    assert(eCms.getMessage.contains("shadows"), eCms.getMessage)
  }

  test("approx percentile lands between the exact p49 and p51") {
    // accuracy=10000 bounds the RANK error at n/10000 (< 1 row here), so
    // the sketch's answer must sit inside the exact [p49, p51] envelope
    // — a value-space assertion derived from the rank guarantee.
    val rows = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.49)").as("lo"),
        expr("percentile(l_quantity, 0.51)").as("hi"),
        percentile_approx(col("l_quantity"), lit(0.5), lit(10000))
          .as("p50a"))
      .collect()
    rows.foreach { r =>
      val (lo, hi, a) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(a >= lo && a <= hi,
        s"${r.getString(0)}: approx p50 $a outside exact [$lo, $hi]")
    }
  }

  test("minhash recovers every exact near-dup pair, estimate in band") {
    val docs = Tables.documents(spark, sfDir)
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(groundTruthPairs.nonEmpty, "corpus has no planted near-dups")
    groundTruthPairs.foreach { case (a, b, jac) =>
      val est = cands.get((a, b))
      assert(est.isDefined,
        s"exact pair ($a,$b) J=$jac missed by minhash banding")
      assert(math.abs(est.get - jac) <= 0.25,
        s"($a,$b): est ${est.get} vs exact $jac outside 4-sigma band")
    }
  }

  test("simhash honors the pigeonhole recall contract; hamming is exact") {
    val docs = Tables.documents(spark, sfDir)
    // independently computed fingerprint Hamming per ground-truth pair
    val fps = docs.select(col("doc_id"),
      GraftFunctions.simhash64(TextFunctions.tokens(col("text"))).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cands = Dedup.simhashCandidates(docs, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    var within3 = 0
    groundTruthPairs.foreach { case (a, b, _) =>
      val ham = java.lang.Long.bitCount(fps(a) ^ fps(b))
      cands.get((a, b)) match {
        case Some(h) => assert(h == ham,
          s"($a,$b): candidate hamming $h != direct fingerprint $ham")
        case None =>
          // 4 chunks of 16 bits guarantee recall only at Hamming <= 3;
          // beyond that a miss is within contract
          assert(ham > 3,
            s"($a,$b) at hamming $ham <= 3 must collide in some chunk")
      }
      if (ham <= 3) within3 += 1
    }
    assert(within3 > 0, "no ground-truth pair within the guaranteed ball")
  }

  test("embedding LSH sims are exact; colinear duplicates always recovered") {
    import spark.implicits._
    // on the real corpus: every REPORTED pair's sim must equal the
    // independently computed exact cosine (the verify stage is exact)
    val emb = Tables.embeddings(spark, sfDir)
    val vecs = emb.select(col("vec_id").as("vid"), col("embedding").as("v"))
    val reported = Ann.lshNearDupPairs(emb, "vec_id", "embedding", bits = 12)
      .limit(200)
    val mismatches = reported
      .join(vecs.select(col("vid").as("id_a"), col("v").as("v_a")), "id_a")
      .join(vecs.select(col("vid").as("id_b"), col("v").as("v_b")), "id_b")
      .select(col("sim"),
        GraftFunctions.cosineQuant(col("v_a"), col("v_b")).as("ex"))
      .filter(col("sim") =!= col("ex") &&
        abs(col("sim") - col("ex")) > lit(1e-12))
      .count()
    assert(mismatches == 0, s"$mismatches reported sims differ from exact")
    // planted recall: a scalar multiple has cosine EXACTLY 1 and
    // identical hyperplane signs, so recovery is guaranteed, not
    // probabilistic (the real-world shape: normalized vs unnormalized
    // copies of one embedding)
    val base = Array.tabulate(8)(i => (math.sin(i + 1) * 10).toFloat)
    val planted = Seq(
      (100L, base), (101L, base.map(_ * 2f)),
      (200L, base.map(x => -x)), (201L, base.map(x => -3f * x)),
      (300L, Array.tabulate(8)(i => (math.cos(i + 1) * 10).toFloat)))
      .toDF("vec_id", "embedding")
    val got = Ann.lshNearDupPairs(planted, "vec_id", "embedding",
      bits = 12, dims = 8)
      .filter(col("sim") > 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((100L, 101L)) && got.contains((200L, 201L)),
      s"colinear planted pairs not recovered: $got")
  }

  test("fingerprint is collision-consistent with exact content identity") {
    // the rolling-hash fingerprint must induce the same equivalence
    // classes as sha256 content identity on the corpus: same text <=>
    // same fingerprint (no collisions, no instability)
    val docs = Tables.documents(spark, sfDir)
    val n = docs.select(
      countDistinct(sha2(col("text"), 256)).as("by_sha"),
      countDistinct(TextFunctions.fingerprint(col("text"))).as("by_fp"),
      countDistinct(sha2(col("text"), 256),
        TextFunctions.fingerprint(col("text"))).as("by_both"))
      .head
    assert(n.getLong(0) == n.getLong(1), s"fingerprint collides: $n")
    assert(n.getLong(0) == n.getLong(2),
      s"fingerprint unstable for equal content: $n")
  }

  test("media decode stub is deterministic across runs") {
    val run1 = graft.queries.TierC.queries("q_media_decode")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val run2 = graft.queries.TierC.queries("q_media_decode")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(run1 == run2 && run1.nonEmpty)
  }
}
