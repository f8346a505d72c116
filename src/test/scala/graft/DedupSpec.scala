package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

import graft.dedup.Dedup

/** Semantic validation of the approximate dedup operators on a synthetic
  * corpus with PLANTED duplicates: exact copies, near-duplicates (one word
  * changed), and unrelated documents. Asserts recovery (planted pairs
  * found) and precision (unrelated pairs not found) — the properties
  * rows-only driver checks cannot see.
  */
class DedupSpec extends AnyFunSuite with SparkTestBase {

  private def corpus(): DataFrame = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while the " +
      "cat watches from the warm windowsill in the morning sun"
    val near = base.replace("morning", "evening")
    val far = (1 to 20).map(i => s"word$i").mkString(" ")
    val far2 = (21 to 40).map(i => s"token$i").mkString(" ")
    Seq(
      (0L, base), (1L, base),            // exact pair
      (2L, near),                        // near-dup of 0/1
      (3L, far), (4L, far2)              // unrelated
    ).toDF("doc_id", "text")
  }

  test("incremental exact dedup: first-wins across batches, replay " +
    "idempotent, copy-on-write and merge-on-read index modes agree") {
    import spark.implicits._
    for (maxDeltas <- Seq(0, 4)) {
      val root = java.nio.file.Files
        .createTempDirectory(s"dedup_incr_$maxDeltas").toString
      val b0 = Seq((10L, "alpha text"), (11L, "beta text"),
        (12L, "alpha text")).toDF("doc_id", "text")
      // batch 0: within-batch first-wins keeps id 10 for "alpha text"
      val s0 = Dedup.incrementalExact(b0, root, "doc_id", "text", 0L,
        numBuckets = 4, maxDeltas = maxDeltas)
      assert(s0.columns.toSeq == Seq("content_hash", "doc_id"))
      assert(s0.select("doc_id").as[Long].collect().sorted.toSeq ==
        Seq(10L, 11L))
      // batch 1: a re-ingest of "beta text" drops (cross-batch
      // first-wins), "gamma text" is admitted
      val b1 = Seq((20L, "beta text"), (21L, "gamma text"))
        .toDF("doc_id", "text")
      val s1 = Dedup.incrementalExact(b1, root, "doc_id", "text", 1L,
        numBuckets = 4, maxDeltas = maxDeltas)
      assert(s1.select("doc_id").as[Long].collect().toSeq == Seq(21L))
      // replayed batch: the apply no-ops on the guard, and the feed
      // still serves exactly what the batch admitted
      val s1r = Dedup.incrementalExact(b1, root, "doc_id", "text", 1L,
        numBuckets = 4, maxDeltas = maxDeltas)
      assert(s1r.select("doc_id").as[Long].collect().toSeq == Seq(21L))
      // the survivor read of the EARLIER batch is still serveable too:
      // batch stamps never moved under the re-delivered hashes
      val s0r = graft.streaming.CdcApply.changesSince(spark, root, -1L)
        .get.filter(org.apache.spark.sql.functions
          .col(graft.streaming.CdcApply.ChangeBatchCol) === 0L)
      assert(s0r.select("doc_id").as[Long].collect().sorted.toSeq ==
        Seq(10L, 11L))
    }
  }

  test("incremental near-dup dedup: edits drop against the signature " +
    "index, fresh docs survive, replay idempotent in both index modes") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while the " +
      "cat watches from the warm windowsill in the morning sun"
    for (maxDeltas <- Seq(0, 4)) {
      val root = java.nio.file.Files
        .createTempDirectory(s"neardup_incr_$maxDeltas").toString
      val corpus = Seq((1L, base),
        (2L, (1 to 25).map(i => s"filler$i").mkString(" ")))
        .toDF("doc_id", "text")
      // batch 0 seeds the index: empty prior, everything admitted
      val s0 = Dedup.incrementalNearDup(corpus, corpus, root,
        "doc_id", "text", 0L, numBuckets = 4, maxDeltas = maxDeltas)
      assert(s0.as[Long].collect().sorted.toSeq == Seq(1L, 2L))
      // batch 1: a one-word edit of doc 1 drops (near-dup of a prior
      // keeper), an unrelated doc survives
      val b1 = Seq((10L, base.replace("morning", "evening")),
        (11L, (1 to 25).map(i => s"unrelated$i").mkString(" ")))
        .toDF("doc_id", "text")
      val s1 = Dedup.incrementalNearDup(b1, corpus, root,
        "doc_id", "text", 1L, numBuckets = 4, maxDeltas = maxDeltas)
      assert(s1.as[Long].collect().toSeq == Seq(11L))
      // replay: same survivors (the batch's own index rows are
      // excluded from the prior-keeper side), apply no-ops
      val s1r = Dedup.incrementalNearDup(b1, corpus, root,
        "doc_id", "text", 1L, numBuckets = 4, maxDeltas = maxDeltas)
      assert(s1r.as[Long].collect().toSeq == Seq(11L))
      // batch 2 is deduped against ADMITTED docs only: a near-copy of
      // the DROPPED doc 10 still drops (both match keeper 1), and a
      // near-copy of admitted 11 drops against it
      val b2 = Seq((20L, base.replace("morning", "evening")
          .replace("cat", "bird")),
        (21L, ((1 to 24).map(i => s"unrelated$i") :+ "tail")
          .mkString(" ")))
        .toDF("doc_id", "text")
      // the corpus for batch 2 must cover ALL previously admitted
      // texts (1, 2, 11) — passing a stale corpus missing keeper 11
      // fails LOUDLY instead of silently admitting 21 (r21: the guard
      // raises inside the strict verification join, before the index
      // commits, instead of via a separate pre-count job)
      val e = intercept[Exception] {
        Dedup.incrementalNearDup(b2, corpus, root,
          "doc_id", "text", 2L, numBuckets = 4, maxDeltas = maxDeltas)
      }
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(chain.contains("corpus is missing"))
      // and nothing committed: the index head is still batch 1
      assert(graft.streaming.CdcApply
        .changesSince(spark, root, 1L).get.isEmpty)
      val s2 = Dedup.incrementalNearDup(b2, corpus.unionByName(b1), root,
        "doc_id", "text", 2L, numBuckets = 4, maxDeltas = maxDeltas)
      assert(s2.as[Long].collect().isEmpty)
    }
  }

  test("exact dedup groups identical content, keeps min id") {
    val out = Dedup.exact(corpus(), "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.length == 4) // 5 docs, one exact pair
    val dupRow = out.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dupRow.getAs[Long]("doc_id") == 0L)
  }

  test("minhash LSH recovers exact and near pairs, rejects unrelated") {
    val pairs = Dedup.minhashCandidates(corpus(), "doc_id", "text",
        k = 32, bands = 8)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("est_jaccard"))).toSeq
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 1L)), s"exact pair missing from $keys")
    assert(keys.contains((0L, 2L)) && keys.contains((1L, 2L)),
      s"near pair missing from $keys")
    assert(!keys.exists(p => p._1 == 3L || p._2 == 3L || p._2 == 4L),
      s"unrelated doc in candidates: $keys")
    val exactEst = pairs.find(p => (p._1, p._2) == (0L, 1L)).get._3
    assert(exactEst == 1.0)
  }

  test("minhash estimate tracks true Jaccard for the near pair") {
    val est = Dedup.minhashCandidates(corpus(), "doc_id", "text",
        k = 32, bands = 8)
      .filter("id_a = 0 AND id_b = 2").collect().head
      .getAs[Double]("est_jaccard")
    val truth = Dedup.verifyJaccard(corpus(), "doc_id", "text",
        Dedup.minhashCandidates(corpus(), "doc_id", "text", 32, 8)
          .select("id_a", "id_b"))
      .filter("id_a = 0 AND id_b = 2").collect().head
      .getAs[Double]("jaccard")
    assert(truth > 0.7 && truth < 1.0, s"true jaccard $truth")
    assert(math.abs(est - truth) < 0.25, s"est $est vs true $truth")
  }

  test("verifyJaccard computes exact shingle-set jaccard") {
    import spark.implicits._
    // doc A: shingles {a b c, b c d}; doc B: {a b c, b c e}
    // intersection 1, union 3 -> 1/3
    val docs = Seq((0L, "a b c d"), (1L, "a b c e")).toDF("doc_id", "text")
    val pairs = Seq((0L, 1L)).toDF("id_a", "id_b")
    val j = Dedup.verifyJaccard(docs, "doc_id", "text", pairs)
      .collect().head.getAs[Double]("jaccard")
    assert(math.abs(j - 1.0 / 3.0) < 1e-12)
  }

  test("simhash: identical docs at hamming 0, near docs close, far docs far") {
    val out = Dedup.simhashCandidates(corpus(), "doc_id", "text",
        chunkBits = 16)
      .collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Long]("hamming"))).toMap
    assert(out((0L, 1L)) == 0L)
    assert(out.get((0L, 2L)).exists(_ <= 8L),
      s"near pair too distant: $out")
  }

  private def labels(clustered: DataFrame): Map[Long, Long] =
    clustered.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap

  test("clusters: min-label components over pair edges, incl. chains") {
    import spark.implicits._
    // components: {1,2,3,9} (chain through 9), {5,7}, {10..13} (path) —
    // the path exercises multi-pass propagation + pointer-jumping
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 7L),
      (10L, 11L), (11L, 12L), (12L, 13L)).toDF("id_a", "id_b")
    val out = labels(Dedup.clusters(pairs))
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L,
      5L -> 5L, 7L -> 5L, 10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L))
  }

  test("clusters via a reliable checkpoint dir match the local path") {
    import spark.implicits._
    // cluster-scale fault tolerance: with a context checkpoint dir set,
    // every Cut goes through Dataset.checkpoint to a durable dir instead
    // of executor-resident localCheckpoint blocks; results must be identical
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L))
      .toDF("id_a", "id_b")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ckpt").toFile.getAbsolutePath
    val reliable = withCheckpointDir(dir)(labels(Dedup.clusters(pairs)))
    val local = labels(Dedup.clusters(pairs))
    assert(reliable == local)
    assert(wroteCheckpoints(dir), "reliable path wrote no checkpoint data")
  }

  test("clusters: losing the cut blocks fails a local run, not a reliable one") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 7L),
      (10L, 11L), (11L, 12L), (12L, 13L)).toDF("id_a", "id_b")
    val sc = spark.sparkContext
    // an executor loss, injected: unpersist exactly the RDDs `clusters`
    // added (its local cut blocks), never other suites' caches
    def clustersThenDropCuts(): DataFrame = {
      val before = sc.getPersistentRDDs.keySet
      val out = Dedup.clusters(pairs)
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before(id)) rdd.unpersist(blocking = true) }
      out
    }
    val undisturbed = labels(Dedup.clusters(pairs))
    val lost = clustersThenDropCuts()
    val e = intercept[org.apache.spark.SparkException](lost.collect())
    assert(e.getMessage.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ckpt").toFile.getAbsolutePath
    val survived = withCheckpointDir(dir)(labels(clustersThenDropCuts()))
    assert(survived == undisturbed)
  }

  test("clusters of an empty pair set: every doc keeps itself") {
    import spark.implicits._
    val docs = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val out = Dedup.keepers(docs, "doc_id", Dedup.clusters(noPairs))
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Boolean]("is_keeper"))).toSeq
    assert(out == Seq((1L, 1L, true), (2L, 2L, true)))
  }

  test("clusters recover a >cap mega-cluster from star edges; keepers") {
    import spark.implicits._
    // 30 identical docs with bucketCap=10: candidates are ONLY the 29
    // star edges (0, i) — connected components must still resolve all 30
    // into one cluster, keeper = min id; the two singletons keep themselves
    val same = (0L until 30L).map(i => (i, "x y z w v u t s"))
    val docs = (same ++ Seq((100L, "alpha beta gamma delta epsilon"),
      (101L, "one two three four five six"))).toDF("doc_id", "text")
    val starPairs = Dedup.minhashCandidates(docs, "doc_id", "text",
      k = 32, bands = 8, bucketCap = 10).select("id_a", "id_b")
    val keep = Dedup.keepers(docs, "doc_id", Dedup.clusters(starPairs))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Boolean]("is_keeper")))
    assert(keep.length == 32)
    val mega = keep.filter(_._1 < 30L)
    assert(mega.forall(_._2 == 0L), s"mega-cluster split: ${mega.toSeq}")
    assert(mega.count(_._3) == 1 && mega.find(_._3).get._1 == 0L)
    assert(keep.filter(_._1 >= 100L).forall(k => k._2 == k._1 && k._3))
  }

  test("oversized LSH buckets fall back to linear star pairs (skew cap)") {
    import spark.implicits._
    // 30 identical docs -> every band bucket holds all 30 > cap of 10 ->
    // star pairs only: (0, i) for i in 1..29 — the mega-cluster stays
    // CONNECTED (recoverable by components) at O(n) instead of O(n²).
    val same = (0L until 30L).map(i => (i, "x y z w v u t s")).toDF("doc_id", "text")
    val capped = Dedup.minhashCandidates(same, "doc_id", "text",
      k = 32, bands = 8, bucketCap = 10).collect()
    assert(capped.length == 29)
    assert(capped.forall(_.getAs[Long]("id_a") == 0L))
    assert(capped.forall(_.getAs[Double]("est_jaccard") == 1.0))
    // under the cap, the full quadratic pair set is produced
    val uncapped = Dedup.minhashCandidates(same, "doc_id", "text",
      k = 32, bands = 8, bucketCap = 1000)
    assert(uncapped.count() == 30L * 29L / 2L)
  }

  test("cappedPairs sorts each bucket once, above and below the cap") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.ArraySort
    // bucket 0 is over the cap (star pairs), bucket 1 under it
    val keyed = ((0L until 12L).map(i => (0, 100L - i)) ++
      (0L until 5L).map(i => (1, 50L - i))).toDF("k", "m")
    val pairs = Dedup.cappedPairs(keyed, Seq("k"), "m", bucketCap = 10)
    val sorts = pairs.queryExecution.optimizedPlan.collect { case n =>
      n.expressions.map(_.collect { case _: ArraySort => () }.size).sum
    }.sum
    assert(sorts == 1, pairs.queryExecution.optimizedPlan)
    val got = pairs.as[(Long, Long)].collect().toSet
    assert(got == (90L to 100L).map(b => (89L, b)).toSet ++
      (for (a <- 46L to 50L; b <- a + 1 to 50L) yield (a, b)).toSet)
  }

  test("splitByCluster: co-clustered docs share a split; boundaries at " +
      "trainPct and trainPct+valPct; bad percents rejected") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // identity scramble makes the boundaries directly visible: the
    // bucket IS the cluster id mod 100
    val membership = Seq(
      (1L, 79L), (2L, 79L),   // one near-dup cluster at bucket 79
      (3L, 80L), (4L, 89L),   // val edges
      (5L, 90L), (6L, 99L),   // test edges
      (7L, 0L)                // train low edge
    ).toDF("doc_id", "cluster_id")
    val out = Dedup.splitByCluster(membership, col("cluster_id"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split"))
      .toMap
    assert(out == Map(1L -> "train", 2L -> "train", 3L -> "val",
      4L -> "val", 5L -> "test", 6L -> "test", 7L -> "train"))
    // the leakage guarantee: same cluster → same split, whatever the
    // scramble (1 and 2 share cluster 79)
    assert(out(1L) == out(2L))
    intercept[IllegalArgumentException] {
      Dedup.splitByCluster(membership, col("cluster_id"),
        trainPct = 90, valPct = 10)
    }
  }

  test("chunkDedup: first occurrence survives, later copies drop, " +
      "docs rebuild in chunk order; boilerplateStrip removes ALL copies") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // chunkLen=2 → doc 1: [a b][c d], doc 2: [a b][x y], doc 3: [a b][a b]
    // (within-doc repeat), doc 4: "" (no chunks), doc 5: [c d] (whole doc
    // duplicates doc 1's second chunk)
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b x y"), (3L, "a b a b"),
      (4L, ""), (5L, "c d")).toDF("doc_id", "text")
    val dd = Dedup.chunkDedup(docs, "doc_id", "text", chunkLen = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(dd(1L) === ((2L, 2L, "a b c d")))      // first doc keeps all
    assert(dd(2L) === ((2L, 1L, "x y")))          // "a b" seen in doc 1
    assert(dd(3L) === ((2L, 0L, "")))             // both chunks seen before
    assert(dd(4L) === ((0L, 0L, "")))             // empty text, no chunks
    assert(dd(5L) === ((1L, 0L, "")))             // whole doc was a dup
    // tail chunk short: 3 tokens at chunkLen=2 → chunks [a b][c]
    val tail = Dedup.chunkDedup(
      Seq((9L, "p q r")).toDF("doc_id", "text"), "doc_id", "text", 2)
      .collect().head
    assert(tail.getLong(1) === 2L && tail.getString(3) === "p q r")
    // boilerplate at minDocs=3: "a b" is in docs 1,2,3 → stripped from
    // ALL of them (dedup kept doc 1's copy); "c d" (2 docs) survives
    val bp = Dedup.boilerplateStrip(docs, "doc_id", "text",
      chunkLen = 2, minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getString(3)))).toMap
    assert(bp(1L) === ((1L, "c d")))
    assert(bp(2L) === ((1L, "x y")))
    assert(bp(3L) === ((0L, "")))
    assert(bp(5L) === ((1L, "c d")))              // copies, not distinct docs
  }

  test("lineDedup: the line splitter trims, drops blank lines, keeps " +
      "original line order through gaps; lineBoilerplateStrip removes " +
      "hot lines everywhere") {
    import spark.implicits._
    // doc 1: three lines (one padded, one blank — blank is NOT a
    // segment and never dedups); doc 2 repeats doc 1's first line and
    // adds its own; doc 3 is newline-free (one line, duplicate of
    // doc 2's second); doc 4 is only whitespace lines
    val docs = Seq(
      (1L, "alpha beta\n  gamma delta  \n\nepsilon"),
      (2L, "alpha beta\nzeta eta"),
      (3L, "zeta eta"),
      (4L, " \n   \n")).toDF("doc_id", "text")
    val ld = Dedup.lineDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(ld(1L) === ((3L, 3L, "alpha beta\ngamma delta\nepsilon")))
    assert(ld(2L) === ((2L, 1L, "zeta eta")))  // first line seen in doc 1
    assert(ld(3L) === ((1L, 0L, "")))          // whole doc was a dup line
    assert(ld(4L) === ((0L, 0L, "")))          // blanks are not lines
    // hot line at minDocs=2: "zeta eta" (docs 2,3) dies EVERYWHERE;
    // "alpha beta" (docs 1,2) dies too; doc 1's singletons survive
    val bp = Dedup.lineBoilerplateStrip(docs, "doc_id", "text", 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getString(3)))).toMap
    assert(bp(1L) === ((2L, "gamma delta\nepsilon")))
    assert(bp(2L) === ((0L, "")))
    assert(bp(3L) === ((0L, "")))
  }

  test("paragraphNearDup drops identical AND near-identical later " +
      "paragraphs (exact Jaccard verify), keeps dissimilar ones, and " +
      "rebuilds in original order") {
    import spark.implicits._
    // 16-token paragraphs from a wide vocabulary; pb is pa with ONE
    // interior token edited — 14 shingles, the edit kills 3 →
    // Jaccard 11/17 ≈ 0.647 (so threshold 0.6 catches it, 0.7 not)
    val pa = (1 to 16).map(i => s"a$i").mkString(" ")
    val pb = ((1 to 8).map(i => s"a$i") ++ Seq("EDIT") ++
      (10 to 16).map(i => s"a$i")).mkString(" ")
    val pc = (1 to 16).map(i => s"c$i").mkString(" ")
    val pd = (1 to 16).map(i => s"d$i").mkString(" ")
    val docs = Seq(
      (1L, s"$pa\n$pc"),       // both first occurrences — kept
      (2L, s"$pb\n$pa\n$pd"),  // pb near-dups pa (earlier, doc 1);
                               // pa identical-dups; pd survives
      (3L, s"$pd")             // identical to doc 2's pd — dropped
    ).toDF("doc_id", "text")
    val got = Dedup.paragraphNearDup(docs, "doc_id", "text",
      threshold = 0.6)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) === ((2L, 2L, s"$pa\n$pc")))
    assert(got(2L) === ((3L, 1L, s"$pd")))
    assert(got(3L) === ((1L, 0L, "")))
    // at threshold 0.7 the near-dup paragraph SURVIVES (its exact
    // Jaccard 11/17 is below) — verification, not banding, decides
    val hi = Dedup.paragraphNearDup(docs, "doc_id", "text",
      threshold = 0.7)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(hi(2L) === s"$pb\n$pd")
    // the drop direction is corpus order, not similarity symmetry:
    // swapping the docs keeps pb (now earlier) and drops pa
    val swapped = Seq((1L, s"$pb"), (2L, s"$pa")).toDF("doc_id", "text")
    val sw = Dedup.paragraphNearDup(swapped, "doc_id", "text",
      threshold = 0.6)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(sw(1L) === pb && sw(2L) === "")
  }

  test("substrDedup removes every >= k repeat at any alignment, " +
    "merging overlapping hit windows into maximal spans") {
    import spark.implicits._
    val docs = Seq(
      // 0: the corpus-order-first copy of "w1..w5" — kept verbatim
      (0L, "w1 w2 w3 w4 w5 u1 u2"),
      // 1: the 5-token repeat sits at OFFSET 1 — three overlapping
      // hit windows (pos 1,2,3 at k=3) must merge into ONE span
      // covering exactly tokens 1..5, leaving the flanks
      (1L, "x1 w1 w2 w3 w4 w5 x2"),
      // 2: within-doc repeat — the second "p q r s" is cut, the
      // first kept (positions, not content, decide)
      (2L, "p q r s p q r s"),
      // 3: shorter than k — untouched by construction
      (3L, "a b"),
      // 4: a THIRD copy of the repeat — also fully cut
      (4L, "w1 w2 w3 w4 w5"),
      // 5: empty text — zero tokens, never a phantom window
      (5L, ""))
      .toDF("doc_id", "text")
    val got = Dedup.substrDedup(docs, "doc_id", "text", k = 3)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(0L) === ((7L, 0L, "w1 w2 w3 w4 w5 u1 u2")))
    assert(got(1L) === ((7L, 5L, "x1 x2")))
    assert(got(2L) === ((8L, 4L, "p q r s")))
    assert(got(3L) === ((2L, 0L, "a b")))
    assert(got(4L) === ((5L, 5L, "")))
    assert(got(5L) === ((0L, 0L, "")))
  }
}
