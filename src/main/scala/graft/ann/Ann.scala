package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{cosineQuant, dotQ, quantizeVec}
import graft.functions.VectorFunctions.cosineFromQ

/** Similarity search over an embedding column (`array<float>`).
  *
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    One scan, integer-quantized dot products inside Catalyst, global
  *    top-k via `orderBy(...).limit(k)` → `TakeOrderedAndProject` (each
  *    partition keeps k rows; no full sort, no collect).
  *  - [[ivfTopK]]: IVF-style scale path — a coarse quantizer partitions
  *    vectors into inverted lists; the query probes only the `nprobe`
  *    nearest lists, scanning a fraction of the data (Jégou et al., 2011,
  *    "Product quantization for nearest neighbor search" — coarse stage
  *    only). List selection pushes down as a partition-prunable equality
  *    filter.
  *  - [[lshNearDupPairs]]: all-pairs near-dup via random-hyperplane LSH
  *    buckets, avoiding the quadratic cross join.
  */
object Ann {

  /** Exact cosine top-k neighbors of `queryId` (excluded from results). */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame =
    bruteForceTopK(emb,
      emb.filter(col(idCol) === queryId)
        .select(col(vecCol).as("qv")),
      idCol, vecCol, queryId, k)

  /** Exact cosine top-k against an explicit query-vector frame — exactly
    * ONE row and ONE column holding the raw float vector (any column
    * name; it is renamed internally). Taking the query separately lets
    * callers capture it BEFORE restricting the search set (e.g. IVF list
    * pruning) — deriving it from the filtered set would silently return 0
    * rows whenever the query's own list isn't probed. The similarity is
    * the fused codegen'd [[graft.functions.CosineQuant]] —
    * quantize+dot+norms in one loop, bit-identical to the zip_with
    * formulation (and the DuckDB oracle).
    */
  def bruteForceTopK(emb: DataFrame, queryVec: DataFrame, idCol: String,
      vecCol: String, queryId: Long, k: Int): DataFrame = {
    require(queryVec.columns.length == 1,
      s"queryVec must have exactly one (vector) column, " +
        s"got ${queryVec.columns.mkString(",")}")
    emb.filter(col(idCol) =!= queryId)
      .select(col(idCol), col(vecCol).as("ev"))
      .crossJoin(broadcast(queryVec.toDF("qv")))
      .select(col(idCol),
        cosineQuant(col("ev"), col("qv"))
          .as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Coarse centroids: one per value of `listCol` (e.g. a cluster/label
    * column assigned upstream). Component-wise mean via posexplode →
    * groupBy(list, dim) — fully distributed; the result is `nlists` rows
    * (tiny), the IVF "index".
    *
    * The mean is computed over QUANTIZED components (1e-6 fixed-point
    * longs, exact and order-independent under summation) rather than a
    * floating `avg`: a double sum's value depends on partial-merge order,
    * so a rebuilt index could differ in the last ulp and — across engines
    * or rebuilds — flip a probe-ranking tie. Integer sum / count is
    * bit-reproducible everywhere (and DuckDB-expressible, which is what
    * makes `q_ann_ivf` oracle-checkable). Precision loss vs. the float
    * mean is < 1e-6 per component — noise for a coarse quantizer. The
    * long sum stays exact up to ~1e12 unit-scale rows per list.
    */
  def centroids(emb: DataFrame, listCol: String, vecCol: String): DataFrame =
    emb
      .select(col(listCol), posexplode(quantizeVec(col(vecCol)))
        .as(Seq("dim", "qx")))
      .groupBy(col(listCol), col("dim"))
      .agg((sum(col("qx")).cast("double") /
        (lit(1000000.0) * count(lit(1)))).as("cx"))
      .groupBy(col(listCol))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("cx")))),
        s => s.getField("cx").cast("float")).as("centroid"))

  /** IVF top-k: probe the `nprobe` lists whose centroids are most cosine-
    * similar to the query, then exact-search only those lists. The list
    * filter is an `isin` over `listCol`; feed it the list-partitioned
    * layout ([[graft.sources.Tables.embeddingsByList]] — one directory
    * per list id) and it becomes a plan-time `PartitionFilters` entry, so
    * the probe reads ~nprobe/nlists of the files instead of filtering a
    * full scan (plan-asserted in AnnSpec).
    */
  /** Persisted IVF index: centroids are computed once and written to
    * parquet (idempotent, keyed by `_SUCCESS`), then every query reads the
    * tiny nlists-row index file instead of re-aggregating the full
    * embeddings table — at 100 TB the index build is a one-time batch job,
    * not per-query work.
    */
  def persistedCentroids(emb: DataFrame, listCol: String, vecCol: String,
      path: String): DataFrame = synchronized {
    // column choice AND centroid-formula version are part of the cache
    // key, so an index built over different columns — or with a previous
    // formula (m2 = quantized mean) — is never silently reused
    val dir = new java.io.File(s"${path}_${listCol}_${vecCol}_m2")
    graft.sources.Artifacts.commitOnce(emb.sparkSession,
      dir.getAbsolutePath)(tmp =>
      centroids(emb, listCol, vecCol)
        .write.mode("overwrite").parquet(tmp))
    emb.sparkSession.read.parquet(dir.getAbsolutePath)
  }

  def ivfTopK(emb: DataFrame, idCol: String, listCol: String, vecCol: String,
      queryId: Long, k: Int, nprobe: Int): DataFrame =
    ivfTopK(emb, centroids(emb, listCol, vecCol), idCol, listCol, vecCol,
      queryId, k, nprobe)

  /** IVF top-k against a prebuilt centroid index (see
    * [[persistedCentroids]]).
    */
  def ivfTopK(emb: DataFrame, cents: DataFrame, idCol: String,
      listCol: String, vecCol: String, queryId: Long, k: Int,
      nprobe: Int): DataFrame = {
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("q_vec"))
    // index-build-time step: nlists rows — the one intentional driver hop
    val probeLists: Seq[Any] = cents.crossJoin(broadcast(q))
      .select(col(listCol), cosineQuant(col("centroid"), col("q_vec")).as("sim"))
      .orderBy(col("sim").desc, col(listCol))
      .limit(nprobe)
      .select(listCol).collect().toSeq.map(_.get(0))
    // query vector captured from the FULL table — the query's own list may
    // legitimately not be among the probed lists.
    val qv = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("qv"))
    bruteForceTopK(
      emb.filter(col(listCol).isin(probeLists: _*)), qv, idCol, vecCol,
      queryId, k)
  }

  // ---- incremental IVF: the continuously-fed vector index ----

  /** Ingest one embedding batch into a PERSISTED incremental IVF
    * index — the continuously-fed form of the [[persistedCentroids]] +
    * [[ivfTopK]] pair, composed from the engine's own table format
    * (the same design as [[graft.search.Bm25.incrementalIndex]]): the
    * vectors live in a CDC table keyed on the id, BUCKETED ON THE LIST
    * LABEL (the `bucketCols` layout knob), merge-on-read — a batch
    * appends O(batch) rows into only the buckets its labels hash to,
    * and a query probe reads only the probed labels' bucket families
    * ([[graft.streaming.CdcApply.scanByBucketValues]]). Constant
    * version 1 per id: vectors are immutable, so a replayed or
    * re-delivered batch no-ops through the CDC replay guard — ingest
    * is idempotent (the incremental-dedup contract).
    *
    * The coarse quantizer stays FIXED (standard IVF practice —
    * centroids retrain offline, not per batch): callers keep serving
    * the persisted centroid index built over the base corpus, and
    * newly ingested vectors are searchable immediately under it.
    */
  def incrementalIngest(emb: DataFrame, root: String, idCol: String,
      listCol: String, vecCol: String, batchId: Long): Unit =
    graft.streaming.CdcApply.applyBatch(
      emb.select(col(listCol).as("label"), col(idCol).as("vec_id"),
        col(vecCol).as("embedding"), lit(1L).as("version")),
      // composite (label, vec_id) key: bucketCols must be key columns
      // (the Bm25 postings contract) — which also encodes the IVF
      // invariant that a vector's list assignment is immutable (a
      // relabel would be a different key, not an update)
      batchId, root, Seq("label", "vec_id"), "version", None,
      numBuckets = 16, bucketCols = Some(Seq("label")), maxDeltas = 4,
      commitTs = Some(batchId))

  /** IVF top-k against the incremental index: probe lists selected
    * from the FIXED centroid index (nlists rows — the one documented
    * driver hop, as in [[ivfTopK]]), then the scan reads ONLY the
    * probed labels' bucket families, however many batches fed the
    * index (bucket values are re-checked inside scanByBucketValues, so
    * a hash collision never leaks a foreign list). `queryVec` is the
    * explicit one-row query frame ([[bruteForceTopK]]'s contract —
    * captured by the caller from wherever the query vector lives; the
    * index itself need not contain it).
    */
  def ivfTopKIncremental(spark: SparkSession, root: String,
      cents: DataFrame, listCol: String, queryVec: DataFrame,
      queryId: Long, k: Int, nprobe: Int): DataFrame = {
    val probeLists: Seq[Any] = cents
      .crossJoin(broadcast(queryVec.toDF("q_vec")))
      .select(col(listCol),
        cosineQuant(col("centroid"), col("q_vec")).as("sim"))
      .orderBy(col("sim").desc, col(listCol))
      .limit(nprobe)
      .select(listCol).collect().toSeq.map(_.get(0))
    val lists = graft.streaming.CdcApply.scanByBucketValues(spark, root,
      probeLists.map(Seq(_))).getOrElse(throw new IllegalStateException(
      s"no incremental ANN index at $root — ingest a batch first"))
    bruteForceTopK(lists, queryVec, "vec_id", "embedding", queryId, k)
  }

  /** Deterministic Lloyd's k-means over the embedding column — the
    * coarse-quantizer TRAINING stage that makes the IVF index
    * self-contained (without it, [[ivfTopK]] leans on a pre-assigned
    * list column). Every arithmetic step is integer-quantized (1e-6
    * fixed point, like [[centroids]]), seeds are the `k` lowest-id
    * vectors, and ties break toward the lower list id — so the
    * clustering is bit-reproducible across runs, partitionings and
    * engines (a sampled/random init is none of these).
    *
    * Scale shape per iteration: centroids (k rows, tiny) broadcast to an
    * assignment join (k candidate rows per vector, map-side argmax via
    * `max_by`), then one shuffle for the quantized-mean recomputation —
    * the standard distributed Lloyd's step. `iters` is fixed (index
    * build, not convergence-chased); each iteration's centroid frame is
    * tiny so the driver loop holds only k×dims doubles. Each
    * iteration's centroids are cut with [[graft.Cut]]; the clustering
    * is bit-identical in either cut mode.
    */
  def kmeans(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): DataFrame = {
    val vecs = emb.select(col(idCol).as("vid"), col(vecCol).as("v"))
      .filter(col("v").isNotNull)
    var cents = vecs.orderBy(col("vid")).limit(k)
      .select(row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("vid")))
          .cast("int").as("list"),
        col("v").as("centroid"))
    var i = 0
    while (i < iters) {
      val assigned = assignLists(vecs.toDF("vid", "v"), cents)
      val recomputed = centroids(
        assigned.join(vecs, "vid").select(col("list"), col("v")),
        "list", "v")
        .select(col("list"), col("centroid").as("new_centroid"))
      // a list that captured no vectors this round keeps its previous
      // centroid — dropping it would silently shrink k for every later
      // iteration AND the persisted quantizer (near-identical seed
      // vectors make empty lists in round one a real case)
      cents = cents
        .join(recomputed, Seq("list"), "left")
        .select(col("list"),
          coalesce(col("new_centroid"), col("centroid")).as("centroid"))
      cents = graft.Cut(cents)
      i += 1
    }
    cents
  }

  /** Persisted trained quantizer: [[kmeans]] centroids as a build
    * artifact (same contract as [[persistedCentroids]] — the training
    * pass is one-time index construction, not per-query work; the cache
    * key embeds every parameter that changes the clustering plus a
    * formula version).
    */
  def persistedKmeans(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, path: String): DataFrame = synchronized {
    val dir = new java.io.File(
      s"${path}_${idCol}_${vecCol}_k${k}_i${iters}_km2")
    graft.sources.Artifacts.commitOnce(emb.sparkSession,
      dir.getAbsolutePath)(tmp =>
      kmeans(emb, idCol, vecCol, k, iters)
        .write.mode("overwrite").parquet(tmp))
    emb.sparkSession.read.parquet(dir.getAbsolutePath)
  }

  /** Assign each vector to its nearest centroid by quantized cosine
    * (ties to the lower list id): (vid, list). The centroid side is
    * broadcast — k rows — so assignment is map-side with no shuffle of
    * the vectors.
    */
  def assignLists(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .select(col("vid"),
        struct(
          cosineQuant(
            col("v"), col("centroid")).as("sim"),
          (-col("list")).as("neg_list")).as("cand"))
      .groupBy(col("vid"))
      .agg(max(col("cand")).as("best"))
      .select(col("vid"), (-col("best.neg_list")).as("list"))

  /** Product-quantization codebooks (Jégou et al. 2011, §the PQ stage
    * [[ivfTopK]]'s scaladoc already cites for its coarse stage): the
    * vector splits into `m` contiguous subspaces of `dims / m`
    * components, and each subspace trains its OWN `ksub`-centroid
    * quantizer with the deterministic integer-quantized [[kmeans]] —
    * so the codebooks are bit-reproducible across runs and engines,
    * like every index artifact here. Returns (sub, list, centroid),
    * m × ksub rows — the whole "index" is a broadcastable table
    * regardless of corpus size. Persisted via the standard
    * fingerprint-keyed [[graft.sources.Artifacts.commitOnce]] cache.
    *
    * Subvector assignment uses the house metric (quantized cosine,
    * ties to the lower list) rather than classical L2 — the ADC
    * scorer below reconstructs dot AND norm from the codebook
    * entries, so the decomposition stays consistent with the exact
    * [[bruteForceTopK]] ranking it approximates.
    */
  def pqCodebooks(emb: DataFrame, idCol: String, vecCol: String,
      dims: Int, m: Int, ksub: Int, iters: Int,
      path: String): DataFrame = synchronized {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    val subDims = dims / m
    val dir = new java.io.File(
      s"${path}_${idCol}_${vecCol}_d${dims}_m${m}_k${ksub}_i${iters}_pq1")
    graft.sources.Artifacts.commitOnce(emb.sparkSession,
      dir.getAbsolutePath)(tmp =>
      (0 until m).map { j =>
        kmeans(emb.select(col(idCol),
            slice(col(vecCol), j * subDims + 1, subDims).as(vecCol)),
          idCol, vecCol, ksub, iters)
          .withColumn("sub", lit(j))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(tmp))
    emb.sparkSession.read.parquet(dir.getAbsolutePath)
  }

  /** PQ-encode every vector against trained codebooks: (id, codes),
    * where `codes(j)` is subspace j's nearest-centroid list id. The
    * compressed table is m ints per vector — ~16 bytes against a
    * 64-float embedding's 256, which is the memory story that makes
    * PQ the RAM-resident candidate stage at 100 TB. Encoding is m
    * map-side broadcast assignments (the codebook side is m × ksub
    * rows) folded back with ONE key shuffle.
    */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
      dims: Int, m: Int, books: DataFrame): DataFrame = {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    val subDims = dims / m
    (0 until m).map { j =>
      assignLists(
        emb.select(col(idCol).as("vid"),
          slice(col(vecCol), j * subDims + 1, subDims).as("v")),
        books.filter(col("sub") === j).select(col("list"), col("centroid")))
        .withColumn("sub", lit(j))
    }.reduce(_ unionByName _)
      .groupBy(col("vid").as(idCol))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("list")))),
        s => s.getField("list")).as("codes"))
  }

  /** Persisted PQ index: trained codebooks + the encoded codes table,
    * both committed once per (dataset, layout) key — at 100 TB the
    * codes table IS the index (m ints per vector), built in one batch
    * job and served to every query thereafter.
    */
  def persistedPqIndex(emb: DataFrame, idCol: String, vecCol: String,
      dims: Int, m: Int, ksub: Int, iters: Int,
      path: String): (DataFrame, DataFrame) = synchronized {
    val books = pqCodebooks(emb, idCol, vecCol, dims, m, ksub, iters,
      path)
    val dir = new java.io.File(
      s"${path}_codes_${idCol}_${vecCol}_d${dims}_m${m}_k${ksub}" +
        s"_i${iters}_pq1")
    graft.sources.Artifacts.commitOnce(emb.sparkSession,
      dir.getAbsolutePath)(tmp =>
      pqEncode(emb, idCol, vecCol, dims, m, books)
        .write.mode("overwrite").parquet(tmp))
    (books, emb.sparkSession.read.parquet(dir.getAbsolutePath))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    * UNquantized; each subspace contributes a looked-up exact-integer
    * (query-subvector · centroid) partial and the centroid's squared
    * norm, and the approximate cosine is their sum normalized by the
    * true query norm and the RECONSTRUCTED vector norm. The lookup
    * table is m × ksub rows computed from the broadcast codebooks —
    * never a driver hop — and scoring explodes each vector's m codes
    * against the broadcast LUT: one shuffle of m partial rows per
    * vector, then TakeOrdered. Approximate by construction (rows-only
    * declared query); recall against [[bruteForceTopK]] is pinned in
    * AnnSpec, the same contract as the kmeans IVF path.
    */
  def pqTopK(codes: DataFrame, books: DataFrame, queryVec: DataFrame,
      idCol: String, dims: Int, m: Int, queryId: Long,
      k: Int): DataFrame = {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    require(queryVec.columns.length == 1,
      "queryVec must have exactly one (vector) column")
    val subDims = dims / m
    val lut = books.crossJoin(broadcast(queryVec.toDF("qv")))
      .select(col("sub"), col("list"),
        dotQ(quantizeVec(col("centroid")),
          quantizeVec(
            slice(col("qv"), col("sub") * subDims + 1, lit(subDims))))
          .as("dotq"),
        dotQ(quantizeVec(col("centroid")), quantizeVec(col("centroid")))
          .as("n2"),
        dotQ(quantizeVec(col("qv")), quantizeVec(col("qv"))).as("qn2"))
    codes.filter(col(idCol) =!= queryId)
      .select(col(idCol), posexplode(col("codes")).as(Seq("sub", "list")))
      .join(broadcast(lut), Seq("sub", "list"))
      .groupBy(col(idCol))
      .agg(sum(col("dotq")).as("sumd"), sum(col("n2")).as("sumn"),
        first(col("qn2")).as("qn2"))
      .select(col(idCol),
        cosineFromQ(col("sumd"), col("qn2"), col("sumn")).as("sim_adc"))
      .orderBy(col("sim_adc").desc, col(idCol))
      .limit(k)
  }

  /** PQ candidate generation + EXACT re-ranking — how PQ is actually
    * deployed: the ADC pass ([[pqTopK]]) scans only the compressed
    * codes to surface `nCandidates` ids, then the raw vectors of THOSE
    * ids alone are fetched (semi-join pruned) and exact-cosine ranked.
    * Final quality is the ADC stage's recall@nCandidates, not its
    * recall@k — the refinement budget trades a bounded extra read
    * (nCandidates raw vectors out of n) for near-exact results.
    */
  def pqRefinedTopK(emb: DataFrame, codes: DataFrame, books: DataFrame,
      idCol: String, vecCol: String, dims: Int, m: Int, queryId: Long,
      k: Int, nCandidates: Int): DataFrame = {
    require(nCandidates >= k, "nCandidates must be >= k")
    val qv = emb.filter(col(idCol) === queryId).select(col(vecCol))
    val cand = pqTopK(codes, books, qv, idCol, dims, m, queryId,
      nCandidates).select(col(idCol))
    bruteForceTopK(emb.join(cand, Seq(idCol), "left_semi"), qv, idCol,
      vecCol, queryId, k)
  }

  // ---- IVF+PQ: the deployed billion-scale composition ----

  /** Persisted IVF+PQ index — the full IVFADC layout of Jégou et al.
    * 2011 (coarse quantizer + product codes), composing the two stages
    * this file already has: [[persistedKmeans]] trains the `nlists`
    * coarse centroids that route every vector to an inverted list, and
    * the PQ codes table ([[pqEncode]] against shared [[pqCodebooks]])
    * is written PARTITIONED BY LIST, one directory per list id. That
    * layout is the point: a probe's `isin` over its nprobe lists is a
    * plan-time `PartitionFilters` entry, so the ADC stage reads
    * ~nprobe/nlists of the code files — where [[pqTopK]] alone scans
    * EVERY code row per query, O(corpus) even at m ints per vector.
    * Returns (cents, books, codes): nlists rows + m×ksub rows (both
    * broadcastable at any corpus size) + the list-partitioned codes.
    *
    * All three artifacts go through the fingerprint-keyed
    * [[graft.sources.Artifacts.commitOnce]] cache — one batch build,
    * served to every query thereafter; deterministic integer-quantized
    * training makes rebuilds bit-identical.
    */
  def persistedIvfPqIndex(emb: DataFrame, idCol: String, vecCol: String,
      dims: Int, m: Int, ksub: Int, iters: Int, nlists: Int,
      path: String): (DataFrame, DataFrame, DataFrame) = synchronized {
    val cents = persistedKmeans(emb, idCol, vecCol, nlists, iters,
      s"${path}_coarse")
    val books = pqCodebooks(emb, idCol, vecCol, dims, m, ksub, iters,
      path)
    val dir = new java.io.File(
      s"${path}_ivfcodes_${idCol}_${vecCol}_d${dims}_m${m}_k${ksub}" +
        s"_i${iters}_n${nlists}_ivfpq1")
    graft.sources.Artifacts.commitOnce(emb.sparkSession,
      dir.getAbsolutePath)(tmp =>
      pqEncode(emb, idCol, vecCol, dims, m, books)
        .join(
          assignLists(
            emb.select(col(idCol).as("vid"), col(vecCol).as("v")),
            cents)
            .withColumnRenamed("vid", idCol),
          Seq(idCol))
        .write.mode("overwrite").partitionBy("list").parquet(tmp))
    (cents, books, emb.sparkSession.read.parquet(dir.getAbsolutePath))
  }

  /** ADC top-k over ONLY the probed lists' codes: the coarse index
    * (nlists rows) picks the `nprobe` most query-similar lists — the
    * same one documented driver hop as [[ivfTopK]] — and the `isin`
    * filter on the codes table's partition column prunes every other
    * list's files out of the scan (inputFiles-asserted in AnnSpec).
    * Scoring is [[pqTopK]]'s LUT-based ADC, unchanged.
    */
  def ivfPqTopK(codes: DataFrame, books: DataFrame, cents: DataFrame,
      queryVec: DataFrame, idCol: String, dims: Int, m: Int,
      queryId: Long, k: Int, nprobe: Int): DataFrame = {
    require(queryVec.columns.length == 1,
      "queryVec must have exactly one (vector) column")
    val probeLists: Seq[Any] = cents
      .crossJoin(broadcast(queryVec.toDF("q_vec")))
      .select(col("list"), cosineQuant(col("centroid"), col("q_vec")).as("sim"))
      .orderBy(col("sim").desc, col("list"))
      .limit(nprobe)
      .select("list").collect().toSeq.map(_.get(0))
    pqTopK(codes.filter(col("list").isin(probeLists: _*)).drop("list"),
      books, queryVec, idCol, dims, m, queryId, k)
  }

  /** IVF+PQ candidate generation + EXACT re-ranking — the deployed
    * query path end to end: coarse-prune to nprobe lists, ADC-score
    * only those lists' compressed codes into `nCandidates` ids, then
    * fetch and exact-cosine rank the raw vectors of those ids alone
    * (semi-join pruned, as [[pqRefinedTopK]]). Final quality is the
    * two pruning stages' compounded recall@nCandidates — pinned
    * against [[bruteForceTopK]] in AnnSpec, approximate by
    * construction (rows-only declared query `q_ann_ivfpq`).
    */
  def ivfPqRefinedTopK(emb: DataFrame, codes: DataFrame,
      books: DataFrame, cents: DataFrame, idCol: String, vecCol: String,
      dims: Int, m: Int, queryId: Long, k: Int, nprobe: Int,
      nCandidates: Int): DataFrame = {
    require(nCandidates >= k, "nCandidates must be >= k")
    val qv = emb.filter(col(idCol) === queryId).select(col(vecCol))
    val cand = ivfPqTopK(codes, books, cents, qv, idCol, dims, m,
      queryId, nCandidates, nprobe).select(col(idCol))
    bruteForceTopK(emb.join(cand, Seq(idCol), "left_semi"), qv, idCol,
      vecCol, queryId, k)
  }

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): drop every vector that has a LOWER-id neighbor
    * with cosine similarity >= `tau` INSIDE ITS OWN CLUSTER. The
    * cluster assignment (`listCol`) comes from upstream — the stored
    * label column, or [[kmeans]]+[[assignLists]] for a self-contained
    * pipeline — which is exactly the paper's move: the quadratic
    * comparison is confined to one cluster at a time, so a 100 TB
    * corpus pays k × O((n/k)²) instead of O(n²), and the join
    * co-partitions on the cluster id (ONE shuffle of (id, vector) per
    * side, no driver hop). Cross-cluster near-dups are deliberately
    * invisible — that recall trade IS the algorithm; raise k to shrink
    * cluster radius, or run [[lshNearDupPairs]] when global recall
    * matters.
    *
    * The keep rule is deterministic (lowest id in any >= tau pair wins)
    * and NON-transitive by design: a vector is dropped when ANY
    * lower-id in-cluster neighbor clears the threshold, even one that
    * was itself dropped — chains collapse to their minimum element in
    * one pass, with no iteration (spec-pinned). Similarity is the
    * codegen'd integer-quantized [[graft.functions.CosineQuant]], so
    * survivors are bit-reproducible across runs, partitionings and
    * engines — the declared query is DuckDB hash-checked end to end.
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      listCol: String, tau: Double): DataFrame = {
    Seq("_la", "_lb", "_ka", "_kb", "_va", "_vb", "_na", "_nb")
      .foreach(c => require(!emb.columns.contains(c),
        s"input must not carry the reserved column '$c'"))
    // quantize ONCE per vector and precompute its squared norm BEFORE
    // the join: a pair then costs one integer dot product, not a full
    // re-quantize + two norm passes per candidate (measured ~4× on the
    // declared query) — and the codegen'd quantize_vec/dot_q arithmetic
    // is bit-identical to CosineQuant, so the oracle contract is unchanged
    def side(l: String, k: String, v: String, n: String) =
      emb.select(col(listCol).as(l), col(idCol).as(k),
        quantizeVec(col(vecCol)).as(v))
        .withColumn(n, dotQ(col(v), col(v)))
    // the PROBE side is scan-spread (guide §2.5; no-op at production
    // file counts): the within-cluster pair comparison — one integer
    // dot product per candidate pair — evaluates on the probe side's
    // scan tasks, and an under-split layout would run the whole
    // quadratic-within-cluster pass on one core (pure JVM arithmetic,
    // so unlike the JDK codec paths it parallelizes cleanly)
    // leading column = the RECORD id (spread hashes it: a cluster-id
    // lead would co-locate whole clusters on one task — r22)
    val a = graft.sources.Tables.spread(
      emb.select(col(idCol), col(listCol), col(vecCol)))
      .select(col(listCol).as("_la"), col(idCol).as("_ka"),
        quantizeVec(col(vecCol)).as("_va"))
      .withColumn("_na", dotQ(col("_va"), col("_va")))
    val b = side("_lb", "_kb", "_vb", "_nb")
    // equi-join on the cluster id; the id inequality and the similarity
    // threshold evaluate inside the join stage, so only (cluster, id,
    // vector) rows ride the two key-shuffles and only dropped ids
    // survive into the anti-join
    val dropped = a.join(b,
        col("_la") === col("_lb") && col("_ka") < col("_kb") &&
          cosineFromQ(dotQ(col("_va"), col("_vb")),
            col("_na"), col("_nb")) >= tau)
      .select(col("_kb").as(idCol)).distinct()
    emb.join(dropped, Seq(idCol), "left_anti")
  }

  /** Near-duplicate pairs via `bits`-bit hyperplane LSH buckets: pairs are
    * generated only within buckets (expected bucket size n / 2^bits), then
    * exact cosine-verified.
    *
    * Scale shape shared with the text-side LSH paths
    * ([[graft.dedup.Dedup]]): ONE shuffle keyed on the bucket (groupBy →
    * collect_list of ids), all-pairs expansion only for buckets at or
    * under `bucketCap`, linear star pairs beyond it — a hot bucket
    * (clustered embeddings, or a zero-vector pile-up all hashing to one
    * bucket) costs O(n) rows instead of an O(n²) self-join on a single
    * reducer. Only ids and the 8-byte bucket ride the candidate shuffle;
    * vectors are joined back for surviving pairs only.
    */
  def lshNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      bits: Int, dims: Int = 64,
      bucketCap: Int = graft.dedup.Dedup.DefaultBucketCap): DataFrame = {
    val vecs = emb.select(col(idCol).as("vid"), col(vecCol).as("v"))
    // null vectors hash to a null bucket; groupBy would treat null as a
    // real grouping key and pair all null-vector rows with each other
    // (emitting null-sim candidates), where the former self-join dropped
    // them — keep the drop-null semantics explicitly
    val keyed = vecs.select(col("vid"),
      graft.functions.GraftFunctions.hplaneBucket(col("v"), bits, dims)
        .as("bucket"))
      .filter(col("bucket").isNotNull)
    graft.dedup.Dedup.cappedPairs(keyed, Seq("bucket"), "vid", bucketCap)
      .select(col("a").as("id_a"), col("b").as("id_b"))
      .join(vecs.select(col("vid").as("id_a"), col("v").as("v_a")), "id_a")
      .join(vecs.select(col("vid").as("id_b"), col("v").as("v_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        cosineQuant(col("v_a"), col("v_b"))
          .as("sim"))
  }

  /** Batch HARD-NEGATIVE mining for contrastive training: for every
    * anchor, the `k` most cosine-similar corpus vectors whose label
    * DIFFERS — the maximally-confusable other-class examples a
    * contrastive or reranker trainer wants next to each positive
    * (in-batch random negatives are mostly easy; hard ones carry the
    * gradient signal). `anchors` must have the same id/label/vec
    * columns as `emb` (typically a filtered slice of it); the anchor
    * itself can never appear among its negatives.
    *
    * Scale: the anchor batch is bounded (a training batch, not a
    * corpus) and BROADCASTS; the corpus scans ONCE, map-side — vectors
    * never shuffle, similarity is the fused codegen'd
    * [[graft.functions.CosineQuant]], and only (anchor, neg, sim)
    * triples reach the per-anchor top-k window, which each anchor's
    * partition resolves in one pass. Exact integer-quantized
    * arithmetic end to end, so the mining decision is hash-checkable.
    */
  def hardNegatives(emb: DataFrame, idCol: String, labelCol: String,
      vecCol: String, anchors: DataFrame, k: Int): DataFrame = {
    val a = anchors.select(col(idCol).as("anchor_id"),
      col(labelCol).as("anchor_label"), col(vecCol).as("anchor_vec"))
    // corpus side scan-spread (guide §2.5; no-op at production file
    // counts): the |corpus|×|anchors| cosine pass evaluates on the
    // corpus scan tasks and must not run on one core
    val sims = graft.sources.Tables.spread(
      emb.select(col(idCol).as("neg_id"), col(labelCol).as("neg_label"),
        col(vecCol).as("neg_vec")))
      .crossJoin(broadcast(a))
      .filter(col("neg_label") =!= col("anchor_label") &&
        col("neg_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("neg_id"),
        cosineQuant(col("neg_vec"), col("anchor_vec")).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor_id"))
      .orderBy(col("sim").desc, col("neg_id"))
    sims.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("anchor_id"), col("neg_id"), col("sim"))
  }
}
