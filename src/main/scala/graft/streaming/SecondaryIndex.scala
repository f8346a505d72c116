package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained secondary index over a [[CdcApply]] table:
  * a persisted mapping (indexed columns → primary key) that turns
  * "every row where `s_nationkey = 7`" into a BUCKET-PRUNED read — one
  * index bucket family plus only the source buckets that hold matches —
  * instead of a full-table scan. The equality-predicate sibling of the
  * reference lake's partition columns (`/root/reference/main.tf`
  * partitions its tables by region so Athena prunes by it); here the
  * indexed column needs no place in the physical layout of the source.
  *
  * Layout: the index is itself a [[CdcApply]] table whose KEY is
  * (indexed columns ++ source key columns) — one row per live source
  * row — bucketed on the INDEXED columns alone via the `bucketCols`
  * layout knob, so an index probe holding only an indexed value hashes
  * straight to its bucket. The stored row is pure key: the payload a
  * lookup needs (the source primary key) IS part of the key.
  *
  * Deliberately NOT stored: the source bucket id. A key's source
  * bucket is a pure function of (key, source bucket count), so
  * [[lookupBy]] recomputes it at probe time under the CURRENT source
  * layout — which makes the index CONTENT layout-independent: a source
  * [[CdcApply.rebucket]] moves rows between buckets without changing a
  * single (indexed value, key) pair, so the index needs no epoch
  * tracking and no post-rebucket resync (contrast [[Rollup]], whose
  * partials are per-bucket AGGREGATES and must recompute under a new
  * layout).
  *
  * Sync, [[Rollup]]-style bucket recompute rather than change-feed
  * consumption: a feed row carries only the NEW value of a row, so an
  * indexed-column change (a row migrating from value 'a' to 'b') would
  * leave the stale ('a', key) entry with no pre-image to delete it by —
  * recomputing whole touched source buckets sidesteps pre-images, and
  * carries ZERO retention hazard (the sync never reads tombstone
  * events; an arbitrarily-lagged index just recomputes more buckets).
  * Exactly-once via the index table's own replay guard: each sync
  * applies one batch stamped with the source's head batch id.
  *
  * Scale shape of [[lookupBy]]: one index bucket family read
  * (index_size / index buckets), one driver-side hop of at most
  * (distinct source buckets of the matches) ≤ source numBuckets ints —
  * the same bounded metadata class as the apply's touched-set probe —
  * then a source read of ONLY those bucket families, semi-joined on
  * key. A selective probe against a 100 TB source reads two bucket
  * families; a probe matching half the table degrades to reading the
  * buckets that actually hold matches, never more.
  *
  * Staleness contract: the index serves its own synced watermark.
  * [[lookupBy]] joins index hits against the CURRENT source snapshot
  * and re-checks the indexed predicate on the SOURCE row, so a stale
  * index can MISS rows changed since the last sync but can never
  * return a wrong row — false negatives bounded by sync lag, false
  * positives structurally impossible. Run [[startIndex]] (or poll
  * [[syncIndex]]) on the merge cadence to bound the lag.
  */
object SecondaryIndex {

  /** The index table's version column (the source batch id an entry
    * was recomputed at) and its tombstone flag. Public because a
    * GOVERNED index root's column allowlist must include
    * [[DeletedCol]] — tombstone filtering runs above the injected
    * projection, the same rule as every governed CDC read.
    */
  val VersionCol = "_idx_version"
  val DeletedCol = "_idx_deleted"

  /** Spec sentinel (the [[Rollup]] pattern): the indexed-column list is
    * fixed at first sync — a drifted list would key entries
    * inconsistently and silently miss matches — so the first sync
    * writes it next to the table and every later sync or probe refuses
    * loudly on mismatch.
    */
  private def specString(indexCols: Seq[String]): String =
    "indexed=" + indexCols.mkString(",")

  private def checkOrWriteSpec(spark: SparkSession, indexRoot: String,
      indexCols: Seq[String], write: Boolean): Unit = {
    val fs = CdcApply.fsFor(spark, indexRoot)
    val p = new org.apache.hadoop.fs.Path(indexRoot, "INDEX_SPEC")
    val want = specString(indexCols)
    if (fs.exists(p)) {
      val have = CdcApply.readSmallFile(fs, p).trim
      if (have != want)
        throw new IllegalStateException(
          s"secondary-index spec mismatch: index at $indexRoot was " +
            s"built with [$have], caller passed [$want] — the indexed " +
            "columns are fixed at first sync; build a new index root " +
            "for a different column list")
    } else if (write) CdcApply.writeSmallFile(fs, p, want)
  }

  /** Bring the index at `indexRoot` up to the source head: recompute
    * the (indexed value, key) pairs of every source bucket rewritten
    * since the index watermark, tombstone pairs the recompute no
    * longer produces (row deleted, or migrated to another indexed
    * value), and commit as one batch at the source's head id. Rows
    * whose indexed columns are NULL are NOT indexed (skipped by the
    * recompute — the posture of a database equality index): they
    * become CDC key columns here, where NULL-hostile key equality
    * would corrupt the diff, and an equality probe can never ask for
    * them anyway. Returns true when the index advanced (including a
    * carried-forward watermark commit when nothing changed).
    */
  def syncIndex(spark: SparkSession, root: String, indexRoot: String,
      indexCols: Seq[String], numBuckets: Int = 16,
      commitTs: Option[Long] = None): Boolean = {
    require(indexCols.nonEmpty, "at least one indexed column is required")
    checkOrWriteSpec(spark, indexRoot, indexCols, write = true)
    // ONE head read for (manifest, head): pruning against a stale
    // manifest while stamping a newer watermark would skip rewrites
    // forever (see syncRollup)
    CdcApply.currentManifestAndVersion(spark, root) match {
      case None => false
      case Some((src, cur)) =>
        val srcKeys = src.conf.keys
        val overlap = indexCols.filter(srcKeys.contains)
        require(overlap.isEmpty,
          s"indexing source key columns is meaningless (the primary " +
            s"key already prunes): $overlap")
        val idxKeys = indexCols ++ srcKeys
        // the index's own head: watermark + the predecessor of the
        // carried-forward commit below, from one read
        val idxCur = CdcApply.currentNameAndVersion(spark, indexRoot)
        val wm = idxCur.map(_._2).getOrElse(-1L)
        if (wm >= cur) false
        else {
          val nb = src.conf.numBuckets
          val ts = commitTs.getOrElse(System.currentTimeMillis())
          def relBatch(rel: String): Long = CdcApply.dirTagBatch(rel)
          // buckets ANY of whose live dirs (base or pending delta) was
          // rewritten after the watermark — manifest tags only. A
          // source rebucket rewrites under the SAME batch id, so its
          // dirs do not read as touched: correct, because a rebucket
          // moves rows without changing a single (value, key) pair
          val touchedIds = src.buckets.collect {
            case (b, e) if e.allRels.map(relBatch).max > wm => b
          }.toSeq.sorted
          // the source bucket of a stored entry is RECOMPUTED from its
          // key columns under the current layout — stale entries are
          // exactly those whose recomputed bucket was touched or has
          // left the manifest (every row of it deleted)
          val vanishedIds = (0 until nb)
            .filterNot(src.buckets.keySet.contains)
          val srcBucket: Column =
            CdcApply.bucketCol(src.conf.bucketCols, nb)
          val recomputed: Option[DataFrame] = CdcApply
            .readBucketsResolved(spark, root, src, Some(touchedIds))
            .map { raw =>
              val live = src.conf.deletedCol.fold(raw)(d =>
                raw.filter(!coalesce(col(d), lit(false))))
              // NULL indexed values are not indexed (see scaladoc)
              live.filter(indexCols.map(col(_).isNotNull).reduce(_ && _))
                .select(idxKeys.map(col): _*)
            }
          val prior = CdcApply.readSnapshot(spark, indexRoot)
          val staleSet = (touchedIds ++ vanishedIds).sorted
          val gone: Option[DataFrame] = prior
            .filter(_ => staleSet.nonEmpty)
            .map { p =>
              val stale = p
                .filter(srcBucket.isin(staleSet.map(Integer.valueOf): _*))
                .select(idxKeys.map(col): _*)
              recomputed.fold(stale)(r =>
                stale.join(r, idxKeys, "left_anti"))
            }
          val upserts = recomputed.map(_.withColumn(DeletedCol,
            lit(false)))
          val deletes = gone.map(_.withColumn(DeletedCol, lit(true)))
          val batch = ((upserts, deletes) match {
            case (Some(u), Some(g)) => Some(u.unionByName(g))
            case (u, g) => u.orElse(g)
          }).map(_.withColumn(VersionCol, lit(cur)))
          val applied = batch.exists(b =>
            CdcApply.applyBatch(b, cur, indexRoot, idxKeys, VersionCol,
              Some(DeletedCol), numBuckets = numBuckets,
              commitTs = Some(ts),
              // the probe's whole point: hash on the indexed value
              // alone so lookupBy prunes without the source key
              bucketCols = Some(indexCols)))
          // nothing indexed changed (or the source is empty): advance
          // the watermark with a carried-forward commit so polls stay
          // O(metadata), as syncMirror/syncRollup do
          if (!applied) {
            // fenced on the watermark's own head read: a concurrent
            // sync's data commit must not be superseded by this stale
            // carried-forward map (see CdcApply.commitManifest)
            val mm = idxCur.map(nv =>
                CdcApply.manifestByName(spark, indexRoot, nv._1))
              .getOrElse(CdcApply.Manifest(
                CdcApply.TableConf(numBuckets, idxKeys, VersionCol,
                  Some(DeletedCol), CdcApply.DefaultTombstoneRetention,
                  bucketKeys = Some(indexCols)),
                Map.empty, None, None))
            CdcApply.commitManifest(spark, indexRoot, s"v$cur.0",
              mm.copy(ts = Some(ts)), pred = idxCur.map(_._1))
          }
          true
        }
    }
  }

  /** Every current source row whose indexed columns equal `value`
    * (positional against the index's column list): probe ONE index
    * bucket for the matching keys, read ONLY the source buckets those
    * keys live in, semi-join, and re-check the predicate on the source
    * row (stale hits drop; see the staleness contract above). None
    * before the first sync or the source's first apply. The returned
    * frame is the source snapshot's shape — governance on a registered
    * source root applies to the underlying scans as always.
    */
  def lookupBy(spark: SparkSession, root: String, indexRoot: String,
      value: Seq[Any]): Option[DataFrame] = {
    val specCols = {
      val fs = CdcApply.fsFor(spark, indexRoot)
      val p = new org.apache.hadoop.fs.Path(indexRoot, "INDEX_SPEC")
      if (!fs.exists(p)) return None
      CdcApply.readSmallFile(fs, p).trim.stripPrefix("indexed=")
        .split(',').toSeq
    }
    require(value.size == specCols.size,
      s"expected ${specCols.size} value(s) for indexed columns $specCols")
    for {
      (src, _) <- CdcApply.currentManifestAndVersion(spark, root)
      if src.buckets.nonEmpty
      im <- CdcApply.currentManifest(spark, indexRoot)
    } yield {
      val conf = im.conf
      val srcKeys = src.conf.keys
      // the index's bucket-pruned probe: hash the typed value over
      // bucketCols = indexCols, scan one bucket family, filter by the
      // indexed columns alone — exactly the prefix probe the
      // bucketCols layout exists for. An index with zero live buckets
      // (everything tombstoned, or a carried-forward first commit
      // with no schema yet) short-circuits to the empty shape
      val hits: Option[DataFrame] = im.schema.flatMap { schema =>
        val lits = specCols.zip(value).toMap.map { case (k, v) =>
          k -> CdcApply.keyLit(Some(schema), k, v) }
        val b = CdcApply.bucketOfLiterals(spark,
          conf.bucketCols.map(lits), conf.numBuckets)
        val pred = specCols.map(k => col(k) === lits(k)).reduce(_ && _)
        CdcApply.readBucketsResolved(spark, indexRoot, im, Some(Seq(b)))
          .map { raw =>
            val live = conf.deletedCol.fold(raw)(d =>
              raw.filter(!coalesce(col(d), lit(false))))
            live.filter(pred).select(srcKeys.map(col): _*)
          }
      }
      hits match {
        case None => emptySourceShape(spark, root, src)
        case Some(keys) =>
          // bounded driver hop: the DISTINCT source buckets of the
          // matching keys — at most source numBuckets ints, the same
          // metadata class as the apply's touched-set probe
          val srcBucket = CdcApply.bucketCol(src.conf.bucketCols,
            src.conf.numBuckets)
          val wanted = keys.select(srcBucket.as("b")).distinct()
            .collect().map(_.getInt(0)).toSeq.sorted
          val pred = specCols.zip(value).map { case (k, v) =>
            col(k) === lit(v) }.reduce(_ && _)
          CdcApply.readBucketsResolved(spark, root, src,
            Some(wanted)) match {
            case None => emptySourceShape(spark, root, src)
            case Some(raw) =>
              val live = src.conf.deletedCol.fold(raw)(d =>
                raw.filter(!coalesce(col(d), lit(false))))
              // semi-join on the full primary key, then re-check the
              // indexed predicate on the SOURCE row: a stale index hit
              // (row changed since the last sync) drops instead of
              // returning a row that no longer matches
              live.join(keys, srcKeys, "left_semi")
                .filter(pred)
                .drop(CdcApply.TsBatchCol +:
                  CdcApply.AppliedBatchCol +:
                  src.conf.deletedCol.toSeq: _*)
          }
      }
    }
  }

  /** The source snapshot's visible shape with zero rows — manifest
    * metadata only, no file access (the [[CdcApply.lookup]]
    * absent-bucket pattern).
    */
  private def emptySourceShape(spark: SparkSession, root: String,
      src: CdcApply.Manifest): DataFrame = {
    val fields = CdcApply.governedVisible(spark, root,
      src.schema.getOrElse(sys.error(
        s"source at $root has no schema line — not a v4+ table"))
        .fields.toSeq.filterNot(f =>
          f.name == CdcApply.TsBatchCol ||
            f.name == CdcApply.AppliedBatchCol ||
            src.conf.deletedCol.contains(f.name)))
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(fields))
  }

  /** Continuous refresh: [[syncIndex]] on every trigger — the index
    * follows the merging source, bounding [[lookupBy]] staleness to
    * the tick interval. Same poll-driven composition as
    * [[CdcApply.startMirror]] / [[Rollup.startRollup]]: `ticker`
    * supplies cadence (default 1 Hz rate source; tests inject a
    * MemoryStream), `clock` pins commit timestamps.
    */
  def startIndex(spark: SparkSession, root: String, indexRoot: String,
      indexCols: Seq[String], numBuckets: Int = 16,
      queryName: String = "cdc_index",
      ticker: Option[DataFrame] = None,
      clock: Option[() => Long] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ticker.getOrElse(
        spark.readStream.format("rate").option("rowsPerSecond", 1).load())
      .writeStream
      .queryName(queryName)
      .foreachBatch { (_: DataFrame, _: Long) =>
        syncIndex(spark, root, indexRoot, indexCols, numBuckets,
          commitTs = clock.map(_.apply()))
        ()
      }
      .start()
}
