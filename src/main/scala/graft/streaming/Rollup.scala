package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained materialized aggregate over a [[CdcApply]]
  * table — the "materialized view over a change stream" composition a
  * governed lake serves dashboards from (reference analog: the Athena
  * aggregate views the demo's analysts query, `main.tf` catalog
  * tables; here the view REFRESHES in O(changed data), not O(table)).
  *
  * Layout: the rollup is itself a CdcApply table whose key is
  * (source bucket, group columns) and whose payload is one PARTIAL
  * aggregate row per source bucket per group. [[syncRollup]] brings it
  * up to the source head by recomputing ONLY the source buckets whose
  * data directories were rewritten since the rollup's watermark —
  * detected from source manifest tags alone, the same pruning
  * [[CdcApply.changesSince]] uses — and tombstoning (bucket, group)
  * pairs that vanished. [[readRollup]] serves the final aggregate by
  * re-aggregating partials: O(buckets × groups) rows, megabytes
  * against a 100 TB source.
  *
  * Why bucket-grained partials instead of consuming the change feed
  * directly: a feed row carries only the NEW version of a key, so a
  * group-column change (a row migrating groups) would leave the old
  * group's aggregate stale with no way to decrement it — the classic
  * incremental-view pre-image problem. Recomputing whole touched
  * buckets sidesteps pre-images entirely (the bucket read IS the same
  * cost class as the merge that rewrote it), keeps non-decomposable
  * aggregates like min/max exact under deletion, and carries NO
  * retention hazard: the sync never reads tombstone events, so a
  * rollup lagging arbitrarily far behind simply recomputes more
  * buckets — it can never silently miss a delete (contrast
  * [[CdcApply.syncMirror]]'s enforced retention bound).
  *
  * Exactly-once: each sync applies one batch stamped with the SOURCE's
  * current batch id to the rollup table, so the rollup's own
  * replay-guard watermark is the consumer position — a crashed or
  * replayed sync re-lands on the same id and drops, exactly like a
  * mirror. Layout epochs: every partial row records the source bucket
  * count it was computed under; a [[CdcApply.rebucket]] on the source
  * re-keys rows across buckets, so a sync that finds a different
  * recorded count falls back to one full recompute (O(snapshot), the
  * same cost the rebucket itself paid) instead of trusting partials
  * keyed by a dead layout.
  *
  * Constraints: group columns must be non-null (they become CDC key
  * columns; the merge machinery's key equality is null-hostile, like
  * any table format's primary key) and aggregate functions must have
  * bucket-local partial forms — sum / dsum / count / min / max are
  * provided; avg is dsum/count at read time.
  */
object Rollup {

  /** One aggregate of the rollup: `fn` over source column `src`
    * (ignored by `count`), surfaced as `out`. `dsum` sums through
    * DECIMAL(18,2) so partial-then-combine is exact regardless of
    * row order — use it for floating-point sources whose totals must
    * be reproducible; plain `sum` keeps the source's native type.
    */
  final case class Agg(out: String, fn: String, src: String = "") {
    require(Seq("sum", "dsum", "count", "min", "max").contains(fn),
      s"unsupported rollup fn '$fn' (sum | dsum | count | min | max)")
    require(fn == "count" || src.nonEmpty,
      s"rollup fn '$fn' needs a source column")
  }

  /** Stored partial-key column: the source bucket the partial covers. */
  val SrcBucketCol = "_src_b"

  /** Stored layout-epoch column: the source bucket count the partial
    * was computed under (see the full-resync rule above).
    */
  val SrcLayoutCol = "_src_nb"

  /** The rollup table's version column (the source batch id a partial
    * was computed at) and its tombstone flag. Public because a
    * GOVERNED rollup's column allowlist must include [[DeletedCol]] —
    * tombstone filtering runs above the injected projection, the same
    * rule as every governed CDC read.
    */
  val VersionCol = "_rollup_v"
  val DeletedCol = "_rollup_del"

  private def partial(a: Agg): Column = (a.fn match {
    case "sum"   => sum(col(a.src))
    case "dsum"  => sum(col(a.src).cast("decimal(18,2)"))
    case "count" => count(lit(1))
    case "min"   => min(col(a.src))
    case "max"   => max(col(a.src))
  }).as(a.out)

  private def combine(a: Agg): Column = (a.fn match {
    case "sum" | "dsum" | "count" => sum(col(a.out))
    case "min"                    => min(col(a.out))
    case "max"                    => max(col(a.out))
  }).as(a.out)

  /** The persisted sync-spec sentinel: `groupCols` and `aggs` must be
    * passed identically on every sync and read of one rollup, and the
    * underlying CDC schema gate cannot see every drift (it refuses
    * changed group KEYS and same-name TYPE clashes, but an added agg
    * would be welcomed as additive evolution with NULL partials on
    * untouched buckets, and a same-typed fn swap — sum→max on a
    * double — would silently miscombine). So the first sync writes the
    * spec next to the table and every later sync or read REFUSES
    * loudly on mismatch. Tables created before the sentinel existed
    * are read leniently.
    */
  private def specString(groupCols: Seq[String], aggs: Seq[Agg]): String =
    "groups=" + groupCols.mkString(",") + " aggs=" +
      aggs.map(a => s"${a.out}:${a.fn}:${a.src}").mkString(",")

  private def checkOrWriteSpec(spark: SparkSession, rollupRoot: String,
      groupCols: Seq[String], aggs: Seq[Agg], write: Boolean): Unit = {
    val fs = CdcApply.fsFor(spark, rollupRoot)
    val p = new org.apache.hadoop.fs.Path(rollupRoot, "ROLLUP_SPEC")
    val want = specString(groupCols, aggs)
    if (fs.exists(p)) {
      val have = CdcApply.readSmallFile(fs, p).trim
      if (have != want)
        throw new IllegalStateException(
          s"rollup spec mismatch: table at $rollupRoot was built with " +
            s"[$have], caller passed [$want] — group columns and " +
            "aggregates are fixed at first sync (a drifted list would " +
            "silently serve wrong aggregates); build a new rollup root " +
            "for a new spec")
    } else if (write) CdcApply.writeSmallFile(fs, p, want)
  }

  /** Bring the rollup at `rollupRoot` up to the source head. Returns
    * true when the rollup advanced (including a carried-forward
    * watermark commit when nothing it covers changed). `groupCols` and
    * `aggs` are fixed at first sync: the persisted spec sentinel (and,
    * independently, the CDC key/type gates) refuse a drifted call
    * loudly instead of serving silently wrong aggregates.
    */
  def syncRollup(spark: SparkSession, root: String, rollupRoot: String,
      groupCols: Seq[String], aggs: Seq[Agg], numBuckets: Int = 16,
      commitTs: Option[Long] = None): Boolean = {
    require(groupCols.nonEmpty, "at least one group column is required")
    require(aggs.nonEmpty, "at least one aggregate is required")
    val reserved = Seq(SrcBucketCol, SrcLayoutCol, VersionCol, DeletedCol)
    val clashes = (groupCols ++ aggs.map(_.out)).filter(reserved.contains)
    require(clashes.isEmpty,
      s"reserved rollup column names in use: ${clashes.mkString(",")}")
    require(aggs.map(_.out).distinct.size == aggs.size,
      "duplicate aggregate output names")
    checkOrWriteSpec(spark, rollupRoot, groupCols, aggs, write = true)
    // ONE head read for (manifest, head version): a separate
    // currentVersion re-read could see a batch newer than the manifest
    // in hand (concurrent apply), and pruning against the stale tags
    // while stamping the newer watermark would skip that batch's
    // rewrites on every later sync
    CdcApply.currentManifestAndVersion(spark, root) match {
      case None => false
      case Some((src, cur)) =>
        // the rollup's own head: watermark + the predecessor of the
        // carried-forward commit below, from one read
        val rollCur = CdcApply.currentNameAndVersion(spark, rollupRoot)
        val wm = rollCur.map(_._2).getOrElse(-1L)
        if (wm >= cur) false
        else {
          val nb = src.conf.numBuckets
          val keys = SrcBucketCol +: groupCols
          val ts = commitTs.getOrElse(System.currentTimeMillis())
          def relBatch(rel: String): Long = CdcApply.dirTagBatch(rel)
          val prior = CdcApply.readSnapshot(spark, rollupRoot)
          // one small driver hop over the PARTIALS (buckets × groups
          // rows, never source data): the recorded layout epoch and
          // the set of covered source buckets — the same metadata
          // class as applyBatch's touched-set probe
          val (priorNb, priorBuckets): (Option[Int], Set[Int]) =
            prior.fold((Option.empty[Int], Set.empty[Int])) { p =>
              val r = p.agg(max(col(SrcLayoutCol)),
                collect_set(col(SrcBucketCol))).head()
              (if (r.isNullAt(0)) None else Some(r.getInt(0)),
                r.getSeq[Int](1).toSet)
            }
          // a rebucket re-keys rows across source buckets: partials
          // recorded under another layout are stale EVERYWHERE
          val layoutChanged = priorNb.exists(_ != nb)
          // a merge-on-read source's pending delta dirs count as
          // rewrites too: ANY live directory of the bucket newer than
          // the watermark marks it touched
          val touchedIds: Set[Int] =
            if (layoutChanged) src.buckets.keySet.toSet
            else src.buckets.collect {
              case (b, e) if e.allRels.map(relBatch).max > wm => b
            }.toSet
          val vanished = priorBuckets -- src.buckets.keySet
          val staleIds =
            if (layoutChanged) priorBuckets
            else (touchedIds & priorBuckets) ++ vanished
          // resolved read: a merge-on-read bucket's superseded delta
          // rows must not inflate the recomputed partials
          val recomputed: Option[DataFrame] = CdcApply
            .readBucketsResolved(spark, root, src,
              Some(touchedIds.toSeq.sorted))
            .map { raw =>
              val live = src.conf.deletedCol.fold(raw)(d =>
                raw.filter(!coalesce(col(d), lit(false))))
              live
                .withColumn(SrcBucketCol,
                  CdcApply.bucketCol(src.conf.bucketCols, nb))
                .groupBy(keys.map(col): _*)
                .agg(partial(aggs.head), aggs.tail.map(partial): _*)
                .withColumn(SrcLayoutCol, lit(nb))
            }
          // (bucket, group) pairs the recompute no longer produces —
          // the group emptied, or its bucket left the manifest —
          // become tombstones so the combine never serves them again
          val gone: Option[DataFrame] = prior
            .filter(_ => staleIds.nonEmpty)
            .map { p =>
              val stale = p
                .filter(col(SrcBucketCol).isin(staleIds.toSeq: _*))
                .select(keys.map(col): _*)
              recomputed.fold(stale)(r =>
                stale.join(r.select(keys.map(col): _*), keys,
                  "left_anti"))
            }
          val upserts = recomputed.map(_.withColumn(DeletedCol,
            lit(false)))
          val deletes = gone.map(_.withColumn(DeletedCol, lit(true)))
          val batch = ((upserts, deletes) match {
            case (Some(u), Some(g)) =>
              Some(u.unionByName(g, allowMissingColumns = true))
            case (u, g) => u.orElse(g)
          }).map(_.withColumn(VersionCol, lit(cur)))
          val applied = batch.exists(b =>
            CdcApply.applyBatch(b, cur, rollupRoot, keys, VersionCol,
              Some(DeletedCol), numBuckets = numBuckets,
              commitTs = Some(ts)))
          // nothing this rollup covers changed (or the source is
          // empty): advance the watermark with a carried-forward
          // commit, as syncMirror does, so polls stay O(metadata)
          if (!applied) {
            // fenced on the watermark's own head read: a concurrent
            // sync's data commit must not be superseded by this stale
            // carried-forward map (see CdcApply.commitManifest)
            val mm = rollCur.map(nv =>
                CdcApply.manifestByName(spark, rollupRoot, nv._1))
              .getOrElse(CdcApply.Manifest(
                CdcApply.TableConf(numBuckets, keys, VersionCol,
                  Some(DeletedCol), CdcApply.DefaultTombstoneRetention),
                Map.empty, None, None))
            CdcApply.commitManifest(spark, rollupRoot, s"v$cur.0",
              mm.copy(ts = Some(ts)), pred = rollCur.map(_._1))
          }
          true
        }
    }
  }

  /** Serve the materialized aggregate: re-aggregate the stored
    * partials by the group columns — sums of sums/counts, min of mins,
    * max of maxes. O(buckets × groups) input rows regardless of source
    * size. None before the first sync; a rollup whose every group was
    * tombstoned serves Some(empty frame) — the table exists, it is
    * just empty, matching snapshot-read semantics. Refuses a
    * `groupCols`/`aggs` list that differs from the persisted sync spec
    * (a drifted combine would be silently wrong).
    */
  def readRollup(spark: SparkSession, rollupRoot: String,
      groupCols: Seq[String], aggs: Seq[Agg]): Option[DataFrame] = {
    checkOrWriteSpec(spark, rollupRoot, groupCols, aggs, write = false)
    CdcApply.readSnapshot(spark, rollupRoot).map(
      _.groupBy(groupCols.map(col): _*)
        .agg(combine(aggs.head), aggs.tail.map(combine): _*))
  }

  /** Continuous refresh: [[syncRollup]] on every trigger — the
    * materialized view follows the merging source a few seconds
    * behind, with the same exactly-once guarantee (the rollup
    * watermark, not the stream checkpoint, is the position; idle ticks
    * no-op on metadata alone). Same poll-driven composition as
    * [[CdcApply.startMirror]]: `ticker` supplies cadence (default 1 Hz
    * rate source; tests inject a MemoryStream), `clock` pins the
    * commit timestamps.
    */
  def startRollup(spark: SparkSession, root: String, rollupRoot: String,
      groupCols: Seq[String], aggs: Seq[Agg], numBuckets: Int = 16,
      queryName: String = "cdc_rollup",
      ticker: Option[DataFrame] = None,
      clock: Option[() => Long] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ticker.getOrElse(
        spark.readStream.format("rate").option("rowsPerSecond", 1).load())
      .writeStream
      .queryName(queryName)
      .foreachBatch { (_: DataFrame, _: Long) =>
        syncRollup(spark, root, rollupRoot, groupCols, aggs, numBuckets,
          commitTs = clock.map(_.apply()))
        ()
      }
      .start()
}
