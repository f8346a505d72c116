package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Upsert

/** Continuous CDC apply: a stream of keyed, versioned change rows is
  * merged into a parquet snapshot, micro-batch by micro-batch, via
  * `foreachBatch` + [[graft.operators.Upsert.latestWins]] — the
  * streaming MERGE a lake runs when no transactional table format is
  * available.
  *
  * Snapshot layout — PARTITION-SCOPED copy-on-write. Rows hash to one of
  * `numBuckets` key-derived buckets, and a micro-batch rewrites ONLY the
  * buckets its rows touch:
  *
  * {{{
  * root/manifests/v<batch>.<gen>  # immutable manifest (text): a commit
  * root/manifests/.after-<name>   # successor claim of manifest <name>
  * root/data/v<batch>-<a>/_b=<k>/ # bucket k as rewritten by batch <batch>
  * root/data/v<batch>g<gen>e-<a>/_b=<k>/ # maintenance (tombstone expiry)
  * root/data/v<batch>g<gen>r-<a>/_b=<k>/ # maintenance rewrite (rebucket)
  * }}}
  *
  * `<a>` names one commit attempt (see [[attemptTag]]).
  *
  * A manifest maps every live bucket to the data directory holding its
  * current rows, plus a header fixing the table configuration (keys,
  * version column, bucket count, tombstone retention). A manifest that
  * exists IS a commit, and the current snapshot is the highest
  * `(batch, gen)` listed — the Delta log's rule. Readers resolve
  * listing → manifest → bucket paths and always see one consistent
  * snapshot, never a directory mid-rewrite. Every commit names a
  * successor above its predecessor and lands with a no-overwrite
  * rename after claiming the predecessor's successor slot (see
  * [[commitManifest]]), so a lost race never leaves a listed manifest
  * behind.
  *
  * Scale shape: each apply is one (key, version)-dedup + anti-join +
  * merge window over batch ∪ TOUCHED buckets only — O(touched data),
  * not O(snapshot). A trickle batch against a 100 TB snapshot reads and
  * rewrites only the few bucket directories its keys hash into; the
  * other buckets' directories are carried forward by manifest reference,
  * zero bytes moved. `numBuckets` bounds the blast radius of one key
  * (snapshot_size / numBuckets rewritten per touched bucket). It is set
  * at first apply and stored in the manifest, which is authoritative
  * thereafter — changing it re-keys every row, so it evolves only
  * through [[rebucket]], a full-rewrite maintenance generation for
  * tables that outgrow their layout (a table 100× its creation size
  * wants 100× the buckets, or every trickle batch rewrites 100 GB
  * buckets). The merge stream keeps running across a rebucket: the
  * next apply picks the new layout up from the manifest.
  *
  * Tombstones: winning deletes are RETAINED as flagged rows for
  * `tombstoneRetention` batches before being aged out, so a late update
  * versioned OLDER than an applied delete loses the merge and the key
  * stays dead — the CDC correctness property a delete-as-removal design
  * forfeits. Aging happens for free whenever a merge rewrites the
  * bucket, and [[vacuum]] sweeps expired tombstones out of untouched
  * buckets. [[readSnapshot]] always filters tombstones; retention 0
  * reproduces delete-as-removal.
  *
  * Schema evolution, additive: the table schema (persisted in each
  * manifest) is the union of every batch's columns in first-seen order.
  * New payload columns appear with NULL on all pre-evolution rows; a
  * batch omitting a known column stores NULL there for ITS rows
  * (whole-row upsert: the delivered row is the new version, not a
  * column-level patch); a same-name column with a different type is
  * refused loudly. Reads declare the manifest's schema — never
  * `mergeSchema` footer scans — and time travel reads each batch under
  * the schema it committed with.
  *
  * Exactly-once, in three layers:
  *  - a REPLAYED batch (crash after the manifest landed, before the
  *    stream checkpoint commit) is detected by `head >= v<batchId>`
  *    and skipped outright. Corollary: one snapshot root belongs to ONE
  *    streaming-checkpoint lineage. Restarting with a FRESH stream
  *    checkpoint against an existing root resets batch ids to 0 and
  *    the guard would drop them — point the new query at a new root
  *    (or seed it from the old snapshot), exactly as a table format
  *    ties commits to an application id;
  *  - exact duplicate rows WITHIN a batch (at-least-once sources
  *    replay) collapse via `dropDuplicates()` over all columns before
  *    the merge — deterministic, since the copies are identical;
  *  - rows re-delivered in a LATER batch are dropped by (key, version)
  *    anti-join against the snapshot (tombstones included, so
  *    re-delivered deletes are recognized too). WITHIN one batch, two
  *    rows sharing (key, version) but differing in an orderable payload
  *    column still fail loudly in `latestWins` — corrupt input, not
  *    re-delivery. ACROSS batches the anti-join cannot distinguish a
  *    re-delivery from a corrupt same-(key, version) row with a new
  *    payload: the later row is dropped either way (the first applied
  *    payload wins, as in any log-replay system).
  * The snapshot persists `versionCol`, so ordering is true cross-batch
  * latest-wins: a late, lower-versioned update loses whichever
  * micro-batch carried it.
  *
  * Governance: a snapshot root is plain parquet, so by default
  * [[readSnapshot]] is an ungoverned read — the egress boundary of the
  * merge pipeline. To keep governed rows governed AFTER they are merged,
  * register the root as a governed location
  * (`GovernanceCatalog.registerLocation(root, db, table)` plus the
  * principal's cells filter): every bucket-directory read prefix-matches
  * the root and takes the row filter + column allowlist, time travel
  * included, and non-admin writes anywhere under the root are denied —
  * zero CDC-specific wiring (proven in CdcGovernanceSpec). One
  * requirement: the allowlist must include the table's `deletedCol`,
  * because tombstone filtering runs ABOVE the injected projection.
  */
object CdcApply {

  /** Internal columns added to stored rows. `BucketCol` is the hash
    * bucket (also the physical partition directory); `TsBatchCol` is the
    * batch id at which a tombstone row was applied (null on live rows),
    * the clock tombstone aging runs on; `AppliedBatchCol` is the batch
    * that delivered the row's CURRENT version (carried forward verbatim
    * through merges and maintenance rewrites), the stamp behind the
    * [[changesSince]] incremental change feed.
    */
  val BucketCol = "_b"
  val TsBatchCol = "_ts_batch"
  val AppliedBatchCol = "_ab"

  /** Column name the change feed surfaces the applying batch under —
    * in [[changesSince]] results and in changelog files alike.
    */
  val ChangeBatchCol = "_change_batch"

  /** Table configuration, fixed at first apply and carried in every
    * manifest header so later applies, readers, and maintenance agree on
    * the layout without re-supplying it correctly. `maxDeltas` selects
    * the write mode: 0 is copy-on-write (a batch rewrites every bucket
    * it touches — today's default), N > 0 is MERGE-ON-READ (a batch
    * appends one DELTA directory per touched bucket and readers resolve
    * latest-wins across base + deltas; a bucket accumulating its N-th
    * pending delta is merged inline, bounding every reader's merge
    * width). Like `numBuckets` it is a LAYOUT knob, manifest-
    * authoritative after first apply — it never changes merge
    * semantics, only where the merge cost is paid: COW pays
    * O(bucket) per touched bucket at WRITE time, MOR pays O(batch) at
    * write time and a per-key resolution at READ time until
    * compaction. A 100 TB table fed by trickle batches wants MOR: a
    * 100-key batch under COW rewrites 100 × (snapshot/numBuckets)
    * bytes for kilobytes of change.
    */
  private[graft] final case class TableConf(numBuckets: Int, keys: Seq[String],
      versionCol: String, deletedCol: Option[String], retention: Int,
      maxDeltas: Int = 0, bucketKeys: Option[Seq[String]] = None) {
    /** The columns the bucket hash runs over — a declared subset of
      * the key columns (default: all of them). Every row of one key
      * still lands in one bucket (the subset is a function of the
      * key), but rows SHARING the subset co-locate, so a reader
      * holding only those columns' values — a secondary-index probe by
      * indexed value, a tenant-scoped scan — prunes to one bucket
      * without the full key. Like `numBuckets` it is a LAYOUT knob
      * fixed at first apply and manifest-authoritative thereafter;
      * unlike `numBuckets` it never evolves (a different subset
      * re-keys every row, and no maintenance op migrates it —
      * [[rebucket]] keeps the declared subset). The trade-off a
      * caller accepts: key skew protection degrades to subset skew
      * protection (every key sharing one subset value rides one
      * bucket), which is exactly what the co-location is FOR.
      */
    def bucketCols: Seq[String] = bucketKeys.getOrElse(keys)
  }

  /** One bucket's manifest entry: its current BASE data directory
    * (relative to `root/data/`) plus the OLDEST tombstone batch id it
    * holds, if any — manifest-level metadata that lets [[vacuum]] find
    * buckets with expired tombstones without scanning a single data
    * file (the same move table formats make with file-level stats in
    * their manifests). `bytes` / `rows` are the bucket's on-disk size
    * and stored row count (tombstones included), recorded at write time
    * so [[buckets]] can answer "is any bucket over N GB → rebucket"
    * from the manifest alone; None on entries written by pre-v6
    * manifests. `deltas` are the bucket's PENDING merge-on-read delta
    * directories in apply order (empty on copy-on-write tables and
    * freshly compacted buckets), each carrying the same write-time
    * stats; readers of a delta-bearing bucket resolve latest-wins
    * across `rel +: deltas`.
    */
  private[graft] final case class BucketEntry(rel: String, minTs: Option[Long],
      bytes: Option[Long] = None, rows: Option[Long] = None,
      deltas: Seq[BucketEntry] = Seq.empty) {
    /** Every live data directory of this bucket, base first. */
    def allRels: Seq[String] = rel +: deltas.map(_.rel)
    /** Oldest tombstone batch across base AND deltas — the vacuum
      * dirty-set signal must see a tombstone wherever it physically
      * sits.
      */
    def allMinTs: Option[Long] = {
      val all = (minTs +: deltas.map(_.minTs)).flatten
      if (all.isEmpty) None else Some(all.min)
    }
    /** Physical on-disk bytes across base AND pending deltas — the
      * layout-health size signal. Superseded delta rows double-count
      * by design: physical bytes are what a reader of this bucket
      * pays, which is exactly what the size caps protect. None when
      * any constituent predates per-bucket stats (pre-v6).
      */
    def allBytes: Option[Long] = {
      val parts = bytes +: deltas.map(_.bytes)
      if (parts.exists(_.isEmpty)) None else Some(parts.flatten.sum)
    }
  }

  /** `schema` is the STORED row schema (user columns + `TsBatchCol` +
    * `AppliedBatchCol`, never `BucketCol` — that is the partition
    * directory). It is the
    * single source of truth for every multi-directory read: buckets
    * written before an additive schema evolution are read with the
    * CURRENT schema and their missing columns come back NULL, with no
    * per-file footer merging (`mergeSchema` would scan every footer —
    * O(files) metadata reads at 100 TB; a declared schema is O(1)).
    * None only on manifests written before the schema line existed —
    * those fall back to a footer-merged read.
    */
  /** `ts` is the batch's COMMIT TIMESTAMP (epoch millis) — wall clock by
    * default, or a caller-supplied logical clock (event time, a test's
    * fixed instant). Maintenance generations carry the ORIGINAL batch
    * timestamp forward: they rewrite layout, not content, so "the table
    * as of 14:00" must resolve identically before and after an expiry
    * rewrite. None only on manifests written before the field existed.
    */
  /** `renames` is the METADATA-ONLY column-rename state: ordered
    * (storedName, logicalName) pairs, at most one per stored name.
    * Storage keeps the original stored name in every file ever
    * written (and in `schema`, which stays the STORED row schema);
    * the public read boundary projects stored → logical, and
    * [[applyBatch]] translates arriving logical names back. A rename
    * is therefore one manifest generation commit with ZERO data
    * rewrite, and time travel reads each batch under the names it
    * committed with (old manifests carry the old rename state).
    * Structural columns (keys, version, deleted) are not renamable.
    */
  private[graft] final case class Manifest(conf: TableConf,
      buckets: Map[Int, BucketEntry],
      schema: Option[org.apache.spark.sql.types.StructType],
      ts: Option[Long],
      renames: Seq[(String, String)] = Seq.empty) {
    /** Every live data directory — bases AND pending deltas. Callers
      * that read these paths raw must resolve latest-wins when
      * [[hasDeltas]]; vacuum's live-set and the footer-recovery path
      * want exactly the full physical set.
      */
    def dataPaths(root: String): Seq[String] =
      buckets.valuesIterator.flatMap(_.allRels)
        .map(rel => s"$root/data/$rel").toSeq.sorted
    /** True when any bucket has a pending merge-on-read delta — the
      * cheap gate readers use to skip the resolution window entirely
      * on copy-on-write (and compacted-steady-state) snapshots.
      */
    def hasDeltas: Boolean = buckets.valuesIterator.exists(_.deltas.nonEmpty)
  }

  private[graft] def fsFor(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Open ONCE and read to EOF: a stat-then-read pair could tear across
    * a concurrent tag move (old length, new content).
    */
  private[streaming] def readSmallFile(fs: FileSystem, p: Path): String = {
    def readVia(f: FileSystem): String = {
      val out = new java.io.ByteArrayOutputStream()
      val in = f.open(p)
      try {
        val buf = new Array[Byte](4096)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      } finally in.close()
      out.toString(StandardCharsets.UTF_8.name)
    }
    try readVia(fs)
    catch {
      // Hadoop's LOCAL ChecksumFs renames a file and its .crc sidecar
      // as two separate operations, so a reader racing a tag move
      // (`tag(replace = true)`, a rename with OVERWRITE) can
      // transiently observe the just-renamed data file against the
      // predecessor's crc and fail verification. The data-file rename
      // itself IS atomic — re-read through the raw (non-verifying)
      // filesystem; content integrity still holds because every caller
      // parses a strict format (manifest name / manifest body / tag
      // line). Cluster filesystems (HDFS, object stores) keep no
      // sidecars, so this branch is local-mode-only by construction.
      case _: org.apache.hadoop.fs.ChecksumException =>
        fs match {
          case c: org.apache.hadoop.fs.ChecksumFileSystem =>
            readVia(c.getRawFileSystem)
          case _ => readVia(fs)
        }
    }
  }

  private[streaming] def writeSmallFile(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Write `content` to a fresh dot-prefixed temp beside `target`, then
    * rename it onto `target`, so no reader ever sees a partly written
    * file. Without `Options.Rename.OVERWRITE` the rename refuses an
    * existing target and this returns false. The temp name is unique
    * per call, so writers racing on one target never share a temp; a
    * crash between the two steps leaves a dot-prefixed temp that no
    * listing here reads. A rename without OVERWRITE is atomic on HDFS.
    * Hadoop's local filesystem checks the target and then renames, so
    * two processes racing on one local root can both pass the check.
    */
  private def renameInto(spark: SparkSession, target: Path, content: String,
      opts: Options.Rename*): Boolean = {
    val fs = fsFor(spark, target.toString)
    val tmp = new Path(target.getParent,
      s".${java.util.UUID.randomUUID()}.tmp")
    writeSmallFile(fs, tmp, content)
    try {
      FileContext.getFileContext(target.toUri,
        spark.sparkContext.hadoopConfiguration).rename(tmp, target, opts: _*)
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        fs.delete(tmp, false)
        false
    }
  }

  /** Name of the current manifest (`v<batch>.<gen>`): the highest
    * committed one listed. None before the first apply.
    */
  def currentManifestName(spark: SparkSession, root: String)
      : Option[String] =
    listManifests(fsFor(spark, root), root).maxByOption(parseManifestName)

  /** The batch id the current manifest covers, or None before the
    * first apply. Maintenance rewrites bump only the generation, never
    * the batch id, so this is exactly the replay-guard watermark.
    */
  def currentVersion(spark: SparkSession, root: String): Option[Long] =
    currentManifestName(spark, root).map(parseManifestName(_)._1)

  /** The highest retained generation of batch `batchId`, the manifest
    * time travel to that batch reads. None when it is not retained.
    */
  private def manifestOfBatch(spark: SparkSession, root: String,
      batchId: Long): Option[String] =
    listManifests(fsFor(spark, root), root)
      .filter(parseManifestName(_)._1 == batchId)
      .maxByOption(parseManifestName)

  private def parseManifestName(name: String): (Long, Int) = {
    val core = name.stripPrefix("v")
    val (b, g) = core.span(_ != '.')
    (b.toLong, g.stripPrefix(".").toInt)
  }

  /** Committed manifest names under `manifests/` — only names that parse
    * as `v<batch>.<gen>`, which excludes the dot-prefixed claims and
    * rename temps of [[commitManifest]]. Empty before the first apply.
    */
  private def listManifests(fs: FileSystem, root: String): Seq[String] =
    try fs.listStatus(new Path(root, "manifests")).map(_.getPath.getName)
      .toSeq.filter(n => scala.util.Try(parseManifestName(n)).isSuccess)
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  private def serializeManifest(m: Manifest): String = {
    val c = m.conf
    val header = s"graft-cdc v7 buckets=${c.numBuckets} " +
      s"keys=${c.keys.mkString(",")} version=${c.versionCol} " +
      s"deleted=${c.deletedCol.getOrElse("-")} retention=${c.retention}" +
      s" maxdeltas=${c.maxDeltas}" +
      // only written when a subset was declared — absent means "all
      // keys", so pre-knob manifests parse to identical behavior
      c.bucketKeys.map(bk => s" bucketcols=${bk.mkString(",")}")
        .getOrElse("") +
      m.ts.map(t => s" ts=$t").getOrElse("")
    // schema JSON is one line (JSON escapes control chars), tagged so a
    // bucket line (which starts with an int) can never shadow it
    val schemaLine = m.schema.map(s => s"schema\t${s.json}").toSeq
    // rename state as a JSON array of [stored, logical] pairs (JSON
    // escaping keeps arbitrary column names line-safe); only written
    // when a rename exists, so pre-rename manifests are byte-identical
    val renamesLine =
      if (m.renames.isEmpty) Seq.empty
      else {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val arr = om.createArrayNode()
        m.renames.foreach { case (s, l) =>
          val p = om.createArrayNode(); p.add(s); p.add(l); arr.add(p)
        }
        Seq(s"renames\t${om.writeValueAsString(arr)}")
      }
    def o(v: Option[Long]): String = v.map(_.toString).getOrElse("-")
    // pending deltas ride as a sixth tab field: `rel:minTs:bytes:rows`
    // items ';'-joined ('-' when none). Rel paths are `v<tag>/_b=<k>` —
    // no ':' or ';' can appear in them
    def d(e: BucketEntry): String =
      s"${e.rel}:${o(e.minTs)}:${o(e.bytes)}:${o(e.rows)}"
    ((header +: schemaLine) ++ renamesLine ++
      m.buckets.toSeq.sortBy(_._1).map {
      case (b, e) =>
        val ds = if (e.deltas.isEmpty) "-" else e.deltas.map(d).mkString(";")
        s"$b\t${e.rel}\t${o(e.minTs)}\t${o(e.bytes)}\t${o(e.rows)}\t$ds"
    }).mkString("\n")
  }

  private def parseManifest(s: String): Manifest = {
    val lines = s.linesIterator.toSeq
    val kv = lines.head.split(' ').drop(2).map { tok =>
      val Array(k, v) = tok.split("=", 2); (k, v)
    }.toMap
    val conf = TableConf(
      numBuckets = kv("buckets").toInt,
      keys = kv("keys").split(',').toSeq,
      versionCol = kv("version"),
      deletedCol = Some(kv("deleted")).filter(_ != "-"),
      retention = kv("retention").toInt,
      // absent on pre-v7 manifests: those tables are copy-on-write
      maxDeltas = kv.get("maxdeltas").map(_.toInt).getOrElse(0),
      // absent = bucket hash over all keys (every pre-knob table)
      bucketKeys = kv.get("bucketcols").map(_.split(',').toSeq))
    val schema = lines.tail.find(_.startsWith("schema\t")).map(l =>
      org.apache.spark.sql.types.DataType.fromJson(
        l.stripPrefix("schema\t"))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    val renames: Seq[(String, String)] = lines.tail
      .find(_.startsWith("renames\t")).map { l =>
        import scala.jdk.CollectionConverters._
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        om.readTree(l.stripPrefix("renames\t")).elements().asScala
          .map(p => (p.get(0).asText(), p.get(1).asText())).toSeq
      }.getOrElse(Seq.empty)
    val buckets = lines.tail
      .filter(l => l.nonEmpty && !l.startsWith("schema\t") &&
        !l.startsWith("renames\t")).map { l =>
        // 3-field lines are pre-v6 manifests (no bytes/rows stats),
        // 5-field pre-v7 (no delta list) — live tables written by
        // older builds keep parsing
        val parts = l.split('\t')
        def opt(i: Int): Option[Long] =
          parts.lift(i).filter(_ != "-").map(_.toLong)
        def lopt(s: String): Option[Long] =
          Some(s).filter(_ != "-").map(_.toLong)
        val deltas = parts.lift(5).filter(_ != "-").toSeq
          .flatMap(_.split(';').toSeq).map { item =>
            val f = item.split(':')
            BucketEntry(f(0), lopt(f(1)), lopt(f(2)), lopt(f(3)))
          }
        (parts(0).toInt,
          BucketEntry(parts(1), opt(2), opt(3), opt(4), deltas))
      }.toMap
    Manifest(conf, buckets, schema, kv.get("ts").map(_.toLong), renames)
  }

  private def readManifest(spark: SparkSession, root: String,
      name: String): Manifest =
    parseManifest(readSmallFile(fsFor(spark, root),
      new Path(root, s"manifests/$name")))

  private[graft] def currentManifest(spark: SparkSession,
      root: String): Option[Manifest] =
    currentManifestName(spark, root).map(readManifest(spark, root, _))

  /** Current manifest together with the batch id its NAME carries —
    * ONE head resolution, so a caller needing (manifest, version) as an
    * atomic pair (Rollup's touched-bucket pruning stamps its watermark
    * with the version) cannot tear across a concurrent commit: a
    * separate `currentVersion` re-read could return a NEWER batch than
    * the manifest in hand, and pruning against stale directory tags
    * while advancing to the newer watermark would skip that batch's
    * rewrites forever. Manifest files are immutable, so name → file is
    * safe.
    */
  private[streaming] def currentManifestAndVersion(spark: SparkSession,
      root: String): Option[(Manifest, Long)] =
    currentManifestName(spark, root).map(n =>
      (readManifest(spark, root, n), parseManifestName(n)._1))

  /** The head's (name, batch id) from ONE resolution — what a sync's
    * carried-forward watermark commit records as its predecessor: the
    * commit may only land while the head is still the manifest the
    * watermark was read from (see [[commitManifest]]'s `pred`).
    */
  private[streaming] def currentNameAndVersion(spark: SparkSession,
      root: String): Option[(String, Long)] =
    currentManifestName(spark, root).map(n =>
      (n, parseManifestName(n)._1))

  /** Manifest by NAME — immutable once committed, so a name-addressed
    * read pairs atomically with the head resolution that produced it.
    */
  private[streaming] def manifestByName(spark: SparkSession,
      root: String, name: String): Manifest =
    readManifest(spark, root, name)

  /** Batch id carried by a data-directory tag (`v<batch>` or a
    * maintenance generation's `v<batch>g<gen><op>`) — the single
    * parser behind change-feed pruning, vacuum's in-flight guard, and
    * the rollup's touched-bucket detection.
    */
  private[streaming] def dirTagBatch(tag: String): Long =
    tag.stripPrefix("v").takeWhile(_.isDigit).toLong

  /** The data directory of ONE commit attempt: `base` (`v<batch>`, or a
    * maintenance generation's `v<batch>g<gen><op>`) plus `-<attempt>`.
    * Data files are never rewritten in place (the Delta protocol's
    * rule): two appliers of one batch id write disjoint directories, so
    * the loser of the commit race cannot replace the winner's committed
    * bucket files, and [[vacuum]] sweeps the loser's directory once no
    * kept manifest references it. [[dirTagBatch]] reads the leading
    * digits only.
    */
  private def attemptTag(base: String): String =
    s"$base-${java.util.UUID.randomUUID().toString.take(8)}"

  /** Default tombstone retention (batches) — shared so the seeded
    * empty-table manifests syncMirror/syncRollup commit agree with the
    * conf a later data-bearing [[applyBatch]] derives from ITS default
    * (a mismatch would trip the config gate with a value the caller
    * never chose).
    */
  private[graft] val DefaultTombstoneRetention = 100

  /** Restrict a ZERO-FILESYSTEM constructed frame's schema to the
    * columns the current principal may see when `root` is a governed
    * location. The plan-time governance rule fires on FILE SCANS, so a
    * frame built purely from manifest metadata (the change feed's
    * caught-up empty result, the point lookup's absent-bucket result)
    * must apply the column allowlist itself — otherwise it leaks
    * ungranted column NAMES and returns a shape inconsistent with the
    * governed scan branches it unions with (an empty-vs-hit lookup
    * union would throw on mismatched schemas). The one deliberate
    * piece of governance wiring in this file; every data-bearing path
    * stays zero-wiring through the injected rule.
    */
  private[streaming] def governedVisible(spark: SparkSession, root: String,
      fields: Seq[org.apache.spark.sql.types.StructField])
      : Seq[org.apache.spark.sql.types.StructField] =
    graft.governance.GovernanceCatalog.tableForLocation(root) match {
      case None => fields
      case Some((db, table)) =>
        val p = graft.governance.Principal.fromName(spark.conf.get(
          graft.governance.GovernanceRule.PrincipalConf,
          graft.governance.Anonymous.name))
        val vis = graft.governance.GovernanceCatalog
          .visibleColumns(p, db, table, fields.map(_.name))
        fields.filter(f => vis.contains(f.name))
    }

  /** Key-derived bucket column: deterministic from the key columns, so
    * every row of one key lands in one bucket forever and a batch's
    * touched-bucket set is exactly the buckets its keys live in.
    */
  private[streaming] def bucketCol(keys: Seq[String], numBuckets: Int): Column =
    bucketOf(keys.map(col), numBuckets)

  private def bucketOf(keys: Seq[Column], numBuckets: Int): Column =
    pmod(xxhash64(keys: _*), lit(numBuckets.toLong)).cast("int")

  /** `v` as a literal of column `k`'s declared type when `schema` knows
    * it: the bucket hash is type-sensitive, so an untyped literal could
    * name the wrong bucket.
    */
  private[streaming] def keyLit(
      schema: Option[org.apache.spark.sql.types.StructType], k: String,
      v: Any): Column =
    schema.flatMap(_.fields.find(_.name == k))
      .fold(lit(v))(f => lit(v).cast(f.dataType)).as(k)

  /** The bucket id [[bucketCol]] gives the row holding `keys`, computed
    * on the driver with no Spark job: over literals the expression is
    * foldable, and analysis resolves its casts with the session time
    * zone, as a query would.
    */
  private[streaming] def bucketOfLiterals(spark: SparkSession,
      keys: Seq[Column], numBuckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    spark.range(1).select(bucketOf(keys, numBuckets).as("b"))
      .queryExecution.analyzed match {
        case Project(Seq(Alias(e, _)), _) => e.eval().asInstanceOf[Int]
      }
  }

  /** Raw stored rows of the given bucket paths — tombstones and internal
    * columns included (the merge and maintenance view of the data).
    * With a declared schema, files written before a schema evolution
    * yield NULL for the columns they lack; without one (pre-v4
    * manifests) the read footer-merges so no column silently vanishes.
    */
  private[streaming] def readRaw(spark: SparkSession, paths: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    schema.fold(spark.read.option("mergeSchema", "true"))(
      spark.read.schema(_)).parquet(paths: _*)

  private[graft] def stripInternal(df: DataFrame, conf: TableConf): DataFrame = {
    val noTs = df.drop(TsBatchCol, AppliedBatchCol)
    conf.deletedCol.fold(noTs)(d =>
      noTs.filter(!coalesce(col(d), lit(false))).drop(d))
  }

  /** Project the manifest's rename state at the PUBLIC read boundary:
    * stored column names → their logical names. Storage-facing paths
    * (merges, maintenance rewrites, bucket writes) never call this —
    * files keep stored names forever.
    */
  private[graft] def applyRenames(df: DataFrame, m: Manifest): DataFrame =
    m.renames.foldLeft(df) { case (d, (stored, logical)) =>
      if (d.columns.contains(stored)) d.withColumnRenamed(stored, logical)
      else d
    }

  /** A stored column's current logical name under `m`'s rename state. */
  private[graft] def logicalName(m: Manifest, stored: String): String =
    m.renames.collectFirst { case (s, l) if s == stored => l }
      .getOrElse(stored)

  /** Latest-wins resolution across merge-on-read base + delta rows:
    * per key, the row with the highest version wins; a cross-batch
    * version TIE resolves to the FIRST-applied row (lowest change-feed
    * stamp) — exactly the outcome the copy-on-write path produces via
    * its re-delivery anti-join, where the later duplicate never enters
    * the merge. Within one batch a version tie raised loudly at apply
    * time, so (key, version, stamp) is unique here. Tombstones resolve
    * like any row (a winning delete must shadow older versions);
    * callers filter or age them afterwards.
    */
  private[streaming] def resolveLatest(df: DataFrame,
      conf: TableConf): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(conf.keys.map(col): _*)
      .orderBy(col(conf.versionCol).desc, col(AppliedBatchCol).asc)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Raw stored rows of the given buckets with merge-on-read deltas
    * RESOLVED — tombstones and internal columns still included (the
    * merge/maintenance view). Buckets without pending deltas stream
    * straight through with no window; only delta-bearing buckets pay
    * the per-key resolution shuffle, so a compacted-steady-state read
    * costs exactly what a copy-on-write read costs. None when `ids`
    * selects no live bucket.
    */
  private[graft] def readBucketsResolved(spark: SparkSession,
      root: String, m: Manifest,
      ids: Option[Seq[Int]] = None): Option[DataFrame] = {
    val entries = ids.fold(m.buckets.values.toSeq)(sel =>
      sel.flatMap(m.buckets.get))
    if (entries.isEmpty) return None
    val (mor, plain) = entries.partition(_.deltas.nonEmpty)
    def paths(es: Seq[BucketEntry]): Seq[String] =
      es.flatMap(_.allRels).map(rel => s"$root/data/$rel").sorted
    val plainDf =
      if (plain.isEmpty) None
      else Some(readRaw(spark, paths(plain), m.schema))
    val morDf =
      if (mor.isEmpty) None
      else Some(resolveLatest(
        readRaw(spark, paths(mor), m.schema), m.conf))
    Some((plainDf, morDf) match {
      case (Some(p), Some(r)) => p.unionByName(r)
      case (p, r) => p.orElse(r).get
    })
  }

  /** Read the current snapshot as a DataFrame — tombstones filtered,
    * internal columns dropped. None before the first apply (or when the
    * snapshot holds zero live buckets).
    */
  def readSnapshot(spark: SparkSession, root: String): Option[DataFrame] =
    currentManifest(spark, root).flatMap(m =>
      readBucketsResolved(spark, root, m)
        .map(df => applyRenames(stripInternal(df, m.conf), m)))

  /** Time travel: read the snapshot as of `batchId` — every applied
    * batch commits an immutable manifest, so any batch whose manifest
    * and referenced data directories the retention sweep has not removed
    * is readable as of that batch. Maintenance generations rewrite
    * physical layout, not logical content, so the highest retained
    * generation for the batch is used.
    */
  def readSnapshotAt(spark: SparkSession, root: String,
      batchId: Long): Option[DataFrame] =
    manifestOfBatch(spark, root, batchId)
      .flatMap { name =>
        val m = readManifest(spark, root, name)
        // that manifest's OWN schema AND rename state: time travel to
        // before an additive evolution (or a rename) sees the table as
        // it was — without the later columns, under the names each
        // batch committed with (and ITS delta set: resolution
        // reproduces the state as of the batch, pending deltas
        // included)
        readBucketsResolved(spark, root, m)
          .map(df => applyRenames(stripInternal(df, m.conf), m))
      }

  /** Resolve a point in time to a batch id: the latest retained batch
    * whose commit timestamp is <= `ts` (epoch millis). This is the
    * resolution step behind "the table as of yesterday 14:00" — the form
    * time travel is actually asked for. Driver-side manifest-header
    * reads only, no data files. None when no retained batch had
    * committed by `ts` (or the manifests predate commit timestamps).
    * Commit timestamps are taken at commit time in commit order, so
    * under a sane clock they are monotone; if an operator's clock ever
    * regressed, the LATEST qualifying batch id still wins — never an
    * older batch that happens to carry a larger timestamp.
    */
  def resolveAsOf(spark: SparkSession, root: String, ts: Long)
      : Option[Long] =
    listManifests(fsFor(spark, root), root)
      .groupBy(parseManifestName(_)._1).toSeq
      .map { case (b, names) =>
        val top = names.sortBy(parseManifestName(_)._2).last
        (b, readManifest(spark, root, top).ts)
      }
      .collect { case (b, Some(t)) if t <= ts => b }
      .sorted.lastOption

  /** Time travel by timestamp: [[resolveAsOf]] then [[readSnapshotAt]].
    * None when no batch had committed by `ts`.
    */
  def readSnapshotAsOf(spark: SparkSession, root: String, ts: Long)
      : Option[DataFrame] =
    resolveAsOf(spark, root, ts).flatMap(readSnapshotAt(spark, root, _))

  // ---- named tags: Iceberg-style read refs over committed batches ----

  /** Tag names must start with a letter, so a tag can never parse as a
    * batch id — `VERSION AS OF <x>` stays unambiguous (a number is a
    * batch, anything else resolves as a tag).
    */
  private val TagNameRe = "[A-Za-z][A-Za-z0-9._-]*".r

  private def tagsDir(root: String): Path = new Path(root, "tags")

  private def requireTagName(name: String): Unit =
    require(TagNameRe.pattern.matcher(name).matches(),
      s"invalid tag name '$name' — [A-Za-z][A-Za-z0-9._-]* (a leading " +
        "letter keeps tags distinct from VERSION AS OF batch ids)")

  /** Create the named tag pointing at a retained committed batch — the
    * Iceberg-style read ref: `VERSION AS OF '<name>'` resolves through
    * it, and [[vacuum]] PINS tagged batches (a tagged snapshot stays
    * time-travelable past the retention window until untagged, the
    * real-table-format contract). Write-temp + rename without
    * overwrite: a duplicate create fails loudly (pass `replace = true`
    * to move an existing tag, a rename with OVERWRITE). Tagging is
    * lifecycle metadata, not a data write — but it extends storage
    * retention, so the SQL entry point gates it like maintenance.
    */
  def tag(spark: SparkSession, root: String, name: String, batch: Long,
      replace: Boolean = false): Unit = {
    requireTagName(name)
    require(manifestOfBatch(spark, root, batch).isDefined,
      s"tag '$name': batch $batch is not a retained committed batch " +
        s"of $root")
    val opts = if (replace) Seq(Options.Rename.OVERWRITE) else Seq.empty
    if (!renameInto(spark, new Path(tagsDir(root), name),
        s"$batch ${System.currentTimeMillis()}", opts: _*))
      throw new IllegalStateException(
        s"tag '$name' already exists on $root — pass replace = " +
          "true to move it")
  }

  /** Drop the named tag; returns whether it existed. The batch it
    * pinned becomes vacuumable again once outside the retention
    * window.
    */
  def untag(spark: SparkSession, root: String, name: String): Boolean = {
    requireTagName(name)
    fsFor(spark, root).delete(new Path(tagsDir(root), name), false)
  }

  /** All tags of the table: (tag, batch, created_ts). Driver-side
    * listing of the tiny tag files — the `t$tags` metadata frame.
    */
  def tagEntries(spark: SparkSession, root: String)
      : Seq[(String, Long, Long)] = {
    val fs = fsFor(spark, root)
    val dir = tagsDir(root)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath)
      .filterNot(_.getName.startsWith("."))
      .map { p =>
        val Array(b, ts) = readSmallFile(fs, p).trim.split(' ')
        (p.getName, b.toLong, ts.toLong)
      }.toSeq.sortBy(_._1)
  }

  /** [[tagEntries]] as a DataFrame (the `t$tags` metadata table). */
  def tags(spark: SparkSession, root: String): DataFrame = {
    val s = spark
    import s.implicits._
    tagEntries(spark, root).toDF("tag", "batch", "created_ts")
  }

  /** Resolve a tag to its batch id; None when no such tag. Names that
    * [[tag]] could never have created (the `TagNameRe` contract) are
    * None WITHOUT touching the filesystem — an arbitrary SQL string
    * containing `/` or `..` must not build a Path outside `tags/`.
    */
  def resolveTag(spark: SparkSession, root: String,
      name: String): Option[Long] = {
    if (!TagNameRe.pattern.matcher(name).matches()) return None
    val fs = fsFor(spark, root)
    val p = new Path(tagsDir(root), name)
    if (!fs.exists(p)) None
    else Some(readSmallFile(fs, p).trim.split(' ')(0).toLong)
  }

  /** Batch ids pinned by tags — excluded from [[vacuum]]'s sweep. */
  private def taggedBatches(spark: SparkSession, root: String): Set[Long] =
    tagEntries(spark, root).map(_._2).toSet

  /** Commit history of the table — one row per retained manifest:
    * batch id, maintenance generation, whether it is the head (the
    * highest listed), bucket count, and the committed column names.
    * Time-travelable batches are exactly the rows here (maintenance
    * generations rewrite layout, not content — the highest generation
    * per batch is what [[readSnapshotAt]] serves). Driver-side listing
    * of manifest metadata only — no data files are touched, mirroring
    * a table format's DESCRIBE HISTORY.
    */
  def history(spark: SparkSession, root: String): DataFrame = {
    val names = listManifests(fsFor(spark, root), root)
      .sortBy(parseManifestName)
    val rows = names.map { n =>
      val (b, g) = parseManifestName(n)
      val m = readManifest(spark, root, n)
      (b, g, n == names.last, m.buckets.size,
        m.schema.map(_.fieldNames
          .filterNot(n => n == TsBatchCol || n == AppliedBatchCol)
          .toSeq)
          .getOrElse(Seq.empty), m.ts)
    }
    spark.createDataFrame(rows)
      .toDF("batch_id", "generation", "is_current", "n_buckets",
        "columns", "commit_ts")
  }

  /** Per-bucket layout metadata of the CURRENT snapshot — one row per
    * live bucket: id, data directory (relative to `root/data/`), bytes
    * on disk, stored row count (tombstones included), and the oldest
    * tombstone batch. Everything is served from the manifest, where it
    * was recorded at write time — no data files are listed or read — so
    * "is any bucket past N GB / N rows → [[rebucket]]" is a driver-side
    * metadata decision, the DESCRIBE DETAIL a rebucket schedule polls.
    * `bytes`/`rows` are NULL on buckets last written by a pre-v6 build.
    *
    * Like [[history]] and [[describe]], this is an OPERATOR-facing
    * metadata API: it reads manifest files directly (no Spark plan), so
    * location governance does not apply — sizes, counts, and column
    * names are visible to whoever can reach the root's manifest files,
    * cell data is not. Gate the filesystem, not the API, for metadata
    * secrecy — the same posture as a table format's metadata files.
    */
  def buckets(spark: SparkSession, root: String): DataFrame = {
    val rows: Seq[(Int, String, Option[Long], Option[Long], Option[Long],
        Int, Option[Long])] =
      currentManifest(spark, root).toSeq.flatMap(m =>
        m.buckets.toSeq.sortBy(_._1).map { case (b, e) =>
          // bytes/rows/oldest-tombstone cover the BASE directory;
          // pending merge-on-read deltas report their count and total
          // bytes separately — the compaction-health signal
          (b, e.rel, e.bytes, e.rows, e.allMinTs, e.deltas.size,
            if (e.deltas.isEmpty) None
            else Some(e.deltas.flatMap(_.bytes).sum))
        })
    spark.createDataFrame(rows)
      .toDF("bucket_id", "data_dir", "bytes", "rows",
        "oldest_tombstone_batch", "pending_deltas", "delta_bytes")
  }

  /** One row per LIVE data file of the current snapshot —
    * (bucket_id, data_dir, file, bytes), the file-level inventory a
    * table format's DESCRIBE FILES shows (and what an external
    * orchestrator feeds to a distcp/backup job). [[buckets]] serves
    * the per-bucket aggregates from manifest stats alone; this is the
    * one metadata view that LISTS — one filesystem listing per live
    * directory, never a file read.
    */
  def files(spark: SparkSession, root: String): DataFrame = {
    val fs = fsFor(spark, root)
    val rows: Seq[(Int, String, String, Long)] =
      currentManifest(spark, root).toSeq.flatMap(m =>
        m.buckets.toSeq.sortBy(_._1).flatMap { case (b, e) =>
          e.allRels.flatMap { rel =>
            val p = new Path(root, s"data/$rel")
            if (!fs.exists(p)) Seq.empty[(Int, String, String, Long)]
            else fs.listStatus(p).toSeq
              .filter(_.getPath.getName.endsWith(".parquet"))
              .sortBy(_.getPath.getName)
              .map(st => (b, rel, st.getPath.getName, st.getLen))
          }
        })
    spark.createDataFrame(rows)
      .toDF("bucket_id", "data_dir", "file", "bytes")
  }

  /** The CURRENT layout's bucket count — manifest-authoritative (it
    * diverges from the creation-time parameter after a [[rebucket]]);
    * None before the first apply. The denominator of the rebucket
    * decision [[buckets]] informs.
    */
  def numBuckets(spark: SparkSession, root: String): Option[Int] =
    currentManifest(spark, root).map(_.conf.numBuckets)

  /** The table's authoritative config (manifest head), for entry
    * points that must default caller-side knobs from the table
    * itself — [[graft.sources.CdcDataSource]] appends. None before
    * the first apply.
    */
  private[graft] def tableConfOf(spark: SparkSession,
      root: String): Option[TableConf] =
    currentManifest(spark, root).map(_.conf)

  /** Whether the table keeps a changelog — the detection
    * [[deleteWhere]]/[[updateWhere]] use to keep streaming tails
    * converged with the manifest feed on any write.
    */
  private[graft] def hasChangelog(spark: SparkSession,
      root: String): Boolean =
    fsFor(spark, root).exists(new Path(root, "changelog"))

  /** One-row table summary — DESCRIBE DETAIL from manifest metadata
    * only (no data files listed or read): current batch id and
    * generation, commit timestamp, configured vs live bucket count,
    * total bytes / stored rows (from the per-bucket write-time stats;
    * NULL when any live bucket predates them), retained batch count,
    * and the visible columns. The one call an operator makes before
    * deciding on vacuum / rebucket / re-seed.
    */
  def describe(spark: SparkSession, root: String): DataFrame = {
    val all = listManifests(fsFor(spark, root), root)
    val rows = all.maxByOption(parseManifestName).toSeq.map { name =>
      val (batch, gen) = parseManifestName(name)
      val m = readManifest(spark, root, name)
      // totals cover base AND pending merge-on-read delta directories
      // (physical footprint, the operator's capacity signal); stored
      // delta rows double-count superseded versions by design — they
      // ARE on disk until compaction
      val sizes = m.buckets.valuesIterator
        .flatMap(e => e.bytes +: e.deltas.map(_.bytes)).toSeq
      val counts = m.buckets.valuesIterator
        .flatMap(e => e.rows +: e.deltas.map(_.rows)).toSeq
      def total(xs: Seq[Option[Long]]): Option[Long] =
        if (xs.nonEmpty && xs.forall(_.isDefined)) Some(xs.flatten.sum)
        else None
      val retained = all.map(parseManifestName(_)._1).distinct.size
      (batch, gen, m.ts, m.conf.numBuckets, m.buckets.size,
        total(sizes), total(counts), retained,
        m.buckets.valuesIterator.map(_.deltas.size).sum,
        m.schema.map(_.fieldNames
          .filterNot(n => n == TsBatchCol || n == AppliedBatchCol)
          .toSeq).getOrElse(Seq.empty))
    }
    spark.createDataFrame(rows)
      .toDF("batch_id", "generation", "commit_ts", "num_buckets",
        "live_buckets", "total_bytes", "total_rows", "batches_retained",
        "pending_deltas", "columns")
  }

  /** Total on-disk (bytes, rows) of the CURRENT manifest — base plus
    * pending merge-on-read delta directories, from the write-time
    * footer stats the manifest already carries. None before the first
    * apply or when any pre-v6 entry lacks stats. Zero-scan, zero
    * listing: this is the engine's ANALYZE — the numbers Glue
    * crawlers re-derive by scanning are recorded at write time here,
    * so feeding the cost-based optimizer costs one manifest read.
    * `rows` counts STORED rows (tombstones within retention and
    * superseded MOR versions included) — an upper-bound estimate of
    * the live snapshot, the right polarity for join costing.
    */
  private[graft] def manifestTotals(spark: SparkSession,
      root: String): Option[(Long, Long)] =
    currentManifest(spark, root).flatMap { m =>
      val sizes = m.buckets.valuesIterator
        .flatMap(e => e.bytes +: e.deltas.map(_.bytes)).toSeq
      val counts = m.buckets.valuesIterator
        .flatMap(e => e.rows +: e.deltas.map(_.rows)).toSeq
      if (sizes.nonEmpty && sizes.forall(_.isDefined) &&
          counts.forall(_.isDefined))
        Some((sizes.flatten.sum, counts.flatten.sum))
      else None
    }

  /** Unified read entry — the "as of" user story without knowing the
    * internal function pair: `read(spark, root)` is the current
    * snapshot, `read(spark, root, asOfBatch = Some(3))` time-travels by
    * batch id ([[readSnapshotAt]]), and
    * `read(spark, root, asOfTs = Some(t))` by commit timestamp
    * ("the table as of yesterday 14:00" — [[readSnapshotAsOf]]).
    * Passing both is refused: they could name different batches.
    */
  def read(spark: SparkSession, root: String,
      asOfBatch: Option[Long] = None,
      asOfTs: Option[Long] = None): Option[DataFrame] = {
    require(asOfBatch.isEmpty || asOfTs.isEmpty,
      "pass at most one of asOfBatch / asOfTs")
    (asOfBatch, asOfTs) match {
      case (Some(b), _) => readSnapshotAt(spark, root, b)
      case (_, Some(t)) => readSnapshotAsOf(spark, root, t)
      case _            => readSnapshot(spark, root)
    }
  }

  /** Incremental change feed: every row whose CURRENT version was
    * applied by a batch LATER than `sinceBatch` — upserts and (when the
    * table models deletes) tombstones, each with a `_change_batch`
    * stamp — without replaying the change log or diffing snapshots.
    * This is the downstream-sync primitive: a consumer that processed
    * through batch N calls `changesSince(root, N)` and gets exactly the
    * keys to re-sync, deletes included (`deletedCol` rides along as the
    * delete marker; `readSnapshot`'s tombstone filter deliberately does
    * NOT apply here).
    *
    * Scale shape, two layers. First, MANIFEST-LEVEL pruning: a bucket
    * directory's tag records the batch that wrote it, and a bucket last
    * written at batch <= `sinceBatch` cannot hold a newer stamp, so its
    * directory is skipped without listing a file — a trickle-merged
    * 100 TB table serves "changes since an hour ago" by scanning only
    * the buckets touched since then. Second, the stamp filter inside
    * the surviving (rewritten, so mixed-age) buckets pushes to the
    * parquet scan as an ordinary long-column predicate.
    *
    * Completeness bounds, both documented-by-construction: tombstones
    * age out after `tombstoneRetention` batches, so a consumer lagging
    * further than retention must fall back to a full re-sync (the same
    * contract as a table format's CDF retention); rows written by
    * pre-change-feed builds carry no stamp and are excluded — the feed
    * is complete from the first post-upgrade batch onward. None before
    * the first apply (or when the snapshot holds zero live buckets,
    * matching [[readSnapshot]]).
    *
    * Governed roots: the feed composes with location governance the
    * same way [[readSnapshot]] does, with the same allowlist rule one
    * column further — the principal's column allowlist must include
    * `AppliedBatchCol` (and the table's `deletedCol`). The analyzer's
    * missing-reference rescue lets the stamp FILTER evaluate beneath an
    * allowlist that omits the stamp (rows still correctly governed and
    * selected), but the stamp column itself would be projected away —
    * a feed with no batch attribution — so that case is refused loudly
    * here instead of returned silently degraded (CdcGovernanceSpec).
    */
  def changesSince(spark: SparkSession, root: String,
      sinceBatch: Long): Option[DataFrame] =
    currentManifest(spark, root)
      .flatMap(changesInManifest(spark, root, _, sinceBatch))

  /** The feed body shared by [[changesSince]] (CURRENT manifest) and
    * [[changesBetween]] (a retained historical manifest): rows of `m`
    * stamped after `sinceBatch`. None when `m` holds zero live buckets.
    */
  private def changesInManifest(spark: SparkSession, root: String,
      manifest: Manifest, sinceBatch: Long): Option[DataFrame] = {
    def relBatch(rel: String): Long = dirTagBatch(rel)
    // the feed's declared shape with no rows — built from the manifest
    // schema with ZERO filesystem access: the caught-up steady-state
    // poll ("no changes") on a thousand-bucket table must not pay an
    // O(buckets) directory listing just to say so
    def emptyFeed(stored: org.apache.spark.sql.types.StructType)
        : DataFrame = {
      // the column allowlist applies under the STORED names, exactly
      // as it would on a real scan — a metadata-only empty frame must
      // not leak ungranted column names; and a stamp-stripping
      // allowlist refuses HERE too, so a governed consumer sees the
      // same loud failure whether it polls caught-up or behind
      val visible = governedVisible(spark, root,
        stored.fields.toSeq.filterNot(_.name == TsBatchCol))
      if (stored.fieldNames.contains(AppliedBatchCol) &&
          !visible.exists(_.name == AppliedBatchCol))
        throw new IllegalStateException(
          "change feed lost its batch stamp — on a governed root " +
            "the principal's column allowlist must include " +
            AppliedBatchCol)
      val fields = visible
        .map(f => if (f.name == AppliedBatchCol)
          f.copy(name = ChangeBatchCol)
          else f.copy(name = logicalName(manifest, f.name))) :+
        org.apache.spark.sql.types.StructField(ChangeBatchCol,
          org.apache.spark.sql.types.LongType)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(
          fields.distinctBy(_.name)))
    }
    Some(manifest).filter(_.buckets.nonEmpty).map { m =>
      // a table whose stored schema predates the change-feed stamp (or
      // never recorded a schema at all — pre-v4) has no stamped rows:
      // an empty feed with the declared shape, not an
      // unresolvable-column error
      if (!m.schema.exists(_.fieldNames.contains(AppliedBatchCol)))
        emptyFeed(m.schema.getOrElse(
          org.apache.spark.sql.types.StructType(Seq.empty)))
      else {
        // hot = buckets ANY of whose live directories (base or pending
        // merge-on-read delta) was written after the consumer's
        // position; untouched bucket dirs are never even listed. The
        // read resolves per-key latest-wins across a hot bucket's full
        // directory family FIRST — a late lower-versioned delta row
        // must lose to the base row it never superseded, so filtering
        // the stamp before resolving would fabricate a change
        val hot = m.buckets.collect {
          case (b, e) if e.allRels.map(relBatch).max > sinceBatch => b
        }.toSeq.sorted
        if (hot.isEmpty) emptyFeed(m.schema.get)
        else {
          val out = applyRenames(
            readBucketsResolved(spark, root, m, Some(hot)).get
              .filter(col(AppliedBatchCol) > sinceBatch)
              .withColumnRenamed(AppliedBatchCol, ChangeBatchCol)
              .drop(TsBatchCol), m)
          if (!out.columns.contains(ChangeBatchCol))
            throw new IllegalStateException(
              "change feed lost its batch stamp — on a governed root " +
                "the principal's column allowlist must include " +
                AppliedBatchCol)
          out
        }
      }
    }
  }

  /** Retention sweep + tombstone expiry, the maintenance half of the
    * contract. Keeps the `keep` most recent manifests (never fewer —
    * `keep >= 2` leaves in-flight readers of the previous snapshot
    * unbroken) plus every [[tag]]-pinned batch, deletes manifests
    * older than that, then deletes every `data/` bucket directory no
    * retained manifest references.
    *
    * Tombstone expiry: merges age tombstones out of the buckets they
    * rewrite, but a bucket no batch touches again would hold its
    * tombstones forever; when `expireTombstones` is set, buckets whose
    * current data contains tombstones older than the retention window
    * are rewritten without them (to a new GENERATION of the current
    * batch id — `data/v<batch>g<gen>` — so the replay-guard watermark
    * never moves), committed as the new head before the delete pass
    * runs. Run out-of-band on a schedule, exactly like a table
    * format's vacuum + expire-snapshots pair.
    *
    * Returns the names of removed manifests and data directories.
    */
  def vacuum(spark: SparkSession, root: String, keep: Int = 2,
      expireTombstones: Boolean = true): Seq[String] = {
    require(keep >= 1, "must keep at least the current snapshot")
    val fs = fsFor(spark, root)
    if (expireTombstones) currentManifestName(spark, root)
      .foreach(expireHeadTombstones(spark, root, _))
    val all = listManifests(fs, root).sortBy(parseManifestName)
    if (all.isEmpty) return Seq.empty
    val curName = all.last
    val mdir = new Path(root, "manifests")
    // retention counts BATCHES, not manifest files: a tombstone-expiry
    // generation adds a manifest for an existing batch and must not
    // shorten the time-travel window. Within a retained batch only the
    // HIGHEST generation survives — logical content is identical and a
    // superseded generation still references the pre-expiry data dirs,
    // which would otherwise stay live (and keep "expired" tombstone
    // bytes on disk) forever on a quiesced table. EXCEPTION: the head
    // batch keeps its top TWO generations — an expiry commit may have
    // just happened in this very run, and a reader that resolved the
    // head moments before must not have its data dirs deleted out from
    // under it (the "keep >= 2 leaves in-flight readers unbroken"
    // contract). The superseded generation collapses on the NEXT vacuum
    // after the stream moves the head to a newer batch; on a quiesced
    // table the leftover is one generation of one batch — bounded.
    val curBatchId = parseManifestName(curName)._1
    // tagged batches are PINNED: a tag is a promise that the snapshot
    // stays time-travelable, so retention never sweeps it (manifest,
    // data dirs via the live set, and changelog all key off this set)
    val keptBatches = all.map(parseManifestName(_)._1).distinct
      .sorted.takeRight(keep).toSet ++ taggedBatches(spark, root)
    val kept = (all.groupBy(parseManifestName(_)._1).toSeq.collect {
      case (b, names) if keptBatches.contains(b) =>
        val byGen = names.sortBy(parseManifestName(_)._2)
        if (b == curBatchId) byGen.takeRight(2) else byGen.takeRight(1)
    }.flatten :+ curName).distinct
    val doomedManifests = all.filterNot(kept.contains)
    val live: Set[String] = kept
      .map(readManifest(spark, root, _))
      .flatMap(_.buckets.valuesIterator.flatMap(_.allRels)).toSet
    doomedManifests.foreach { n =>
      fs.delete(new Path(mdir, n), false)
      // the commit-fence claim of this manifest's successor slot dies
      // with it (its predecessor is gone, so no commit can ever claim
      // against it again)
      fs.delete(new Path(mdir, s".after-$n"), false)
    }
    // a data dir is removable only when NO kept manifest references any
    // bucket under it; bucket-level deletes would leave half-empty
    // version dirs, so sweep at bucket-dir granularity. Dirs tagged with
    // a batch id BEYOND the current watermark belong to an apply that is
    // mid-write (its manifest is not committed yet) — never touch them
    def dirBatch(tag: String): Long = dirTagBatch(tag)
    val ddir = new Path(root, "data")
    val doomedData =
      if (!fs.exists(ddir)) Seq.empty[String]
      else fs.listStatus(ddir)
        .filter(v => scala.util.Try(dirBatch(v.getPath.getName))
          .toOption.exists(_ <= curBatchId))
        .flatMap { ver =>
          fs.listStatus(ver.getPath)
            .filter(_.getPath.getName.startsWith(s"$BucketCol="))
            .map(b => s"${ver.getPath.getName}/${b.getPath.getName}")
            .filterNot(live.contains)
        }.toSeq
    doomedData.foreach(rel => fs.delete(new Path(ddir, rel), true))
    // version dirs emptied of all their buckets go too (same in-flight
    // guard: a mid-write dir holds only _temporary and must survive)
    if (fs.exists(ddir)) fs.listStatus(ddir)
      .filter(v => scala.util.Try(dirBatch(v.getPath.getName))
        .toOption.exists(_ <= curBatchId))
      .filter(v => fs.listStatus(v.getPath)
        .forall(!_.getPath.getName.startsWith(s"$BucketCol=")))
      .foreach(v => fs.delete(v.getPath, true))
    // changelog retention follows manifest retention: events of batches
    // no longer time-travelable are swept (same in-flight guard for a
    // mid-write log beyond the watermark)
    val cldir = new Path(root, "changelog")
    val doomedCl =
      if (!fs.exists(cldir)) Seq.empty[String]
      else fs.listStatus(cldir).map(_.getPath.getName).toSeq
        .filter(n => scala.util.Try(n.stripPrefix("b").toLong).toOption
          .exists(b => b <= curBatchId && !keptBatches.contains(b)))
    doomedCl.foreach(n => fs.delete(new Path(cldir, n), true))
    (doomedManifests ++ doomedData ++ doomedCl.map(n => s"changelog/$n"))
      .toSeq
  }

  /** Rewrite the buckets of head manifest `name` that hold expired
    * tombstones (see [[vacuum]]). The dirty set comes straight from the
    * manifest's per-bucket oldest-tombstone metadata — vacuum reads ZERO
    * data files to decide what to rewrite, so at 100 TB a sweep over a
    * mostly-clean table is a manifest read plus a rewrite of only the
    * buckets that need it.
    */
  private def expireHeadTombstones(spark: SparkSession, root: String,
      name: String): Unit = {
    val (batchId, gen) = parseManifestName(name)
    val m = readManifest(spark, root, name)
    val conf = m.conf
    conf.deletedCol.foreach { d =>
      val expired = col(TsBatchCol).isNotNull &&
        lit(batchId) - col(TsBatchCol) >= lit(conf.retention.toLong)
      val dirty = m.buckets.collect {
        case (b, e) if e.allMinTs.exists(ts =>
          batchId - ts >= conf.retention.toLong) => b
      }.toSeq.sorted
      if (dirty.nonEmpty) {
        // per-op dir suffix ('e'): a concurrently-misused rebucket
        // writes under its OWN tag ('r'), so the loser of the race can
        // never clobber the winner's committed bucket dirs — the misuse
        // surfaces as a loud manifest-commit failure, not corruption
        val dirTag = attemptTag(s"v${batchId}g${gen + 1}e")
        // resolved read: a merge-on-read bucket's superseded delta rows
        // must not survive into the rewrite (the rewrite doubles as
        // that bucket's compaction — its pending deltas clear)
        readBucketsResolved(spark, root, m, Some(dirty)).get
          .filter(!(coalesce(col(d), lit(false)) && expired))
          .withColumn(BucketCol, bucketCol(conf.bucketCols, conf.numBuckets))
          .hint("rebalance", BucketCol)
          .write.partitionBy(BucketCol).mode("overwrite")
          .parquet(new Path(root, s"data/$dirTag").toString)
        val written = writtenEntries(spark, root, dirTag,
          hasTombstones = true)
        // commit guard: if the STREAM committed a batch while this
        // rewrite ran, the generation's predecessor is no longer the
        // head and the commit aborts (see [[commitManifest]]); the
        // orphaned rewrite dir is swept by a later vacuum.
        // carry the ORIGINAL commit timestamp: a maintenance
        // generation rewrites layout, not logical content
        commitMaintenance(spark, root, s"v$batchId.${gen + 1}",
          Manifest(conf, (m.buckets -- dirty) ++ written, m.schema,
            m.ts, m.renames),
          pred = name)
      }
    }
  }

  /** Bucket-count evolution: rewrite the CURRENT snapshot into a new
    * maintenance generation laid out over `newNumBuckets` key-derived
    * buckets, and record the new count in the manifest — the maintenance
    * op for a table that has outgrown (or over-provisioned) its
    * creation-time layout. Everything else about the maintenance
    * contract matches tombstone expiry:
    *
    *  - the rewrite goes to a new GENERATION of the current batch id
    *    (`data/v<batch>g<gen+1>`), so the replay-guard watermark never
    *    moves and an in-flight merge stream is never skipped or
    *    double-applied;
    *  - logical content is untouched — rows, tombstones, and the
    *    per-bucket oldest-tombstone metadata are carried into the new
    *    layout (recomputed per new bucket), and the ORIGINAL commit
    *    timestamp is carried forward so as-of-timestamp reads resolve
    *    identically before and after;
    *  - the commit guard aborts (returning false) if the stream
    *    committed during the rewrite — the orphaned directory
    *    is swept by a later [[vacuum]]; one maintenance process per
    *    table root remains the operating assumption;
    *  - the superseded generation's directories stay live for in-flight
    *    readers and collapse under the normal [[vacuum]] generation
    *    rules.
    *
    * The NEXT apply reads `numBuckets` from the manifest (the caller's
    * creation-time value is ignored once a manifest exists), so a
    * running [[start]] stream continues across a rebucket with no
    * restart. Unlike a merge this is O(snapshot) — a deliberate,
    * scheduled full rewrite (one read + one rebalanced write), the same
    * cost class as a table format's rewrite-data-files maintenance.
    *
    * Returns true when a new generation committed; false when there is
    * no snapshot yet, the count is unchanged, or the commit guard
    * aborted.
    */
  /** METADATA-ONLY column rename — one manifest generation commit,
    * ZERO data rewrite (the Iceberg-style schema-evolution move the
    * additive path can't express): files keep the stored name forever,
    * reads project stored → logical, [[applyBatch]] translates
    * arriving logical names back, and time travel serves each batch
    * under the names it committed with. Returns false when the rename
    * already holds (idempotent replay).
    *
    * Refused loudly for structural columns (keys, version, deleted —
    * merge semantics are keyed on stored names) and for any `to` that
    * collides with a live logical name, a stored name, or a reserved
    * internal column. Type changes stay refused at apply time —
    * rename never relaxes the type-clash guard. Renaming BACK to the
    * original stored name simply drops the mapping.
    *
    * Two caveats a caller owns: incremental consumers keyed on names
    * (mirrors, rollups, secondary indexes) do not retro-translate —
    * re-seed them after a rename; and location-governance allowlists
    * keep operating on STORED names (the scan the rule rewrites is
    * the stored one).
    */
  def renameColumn(spark: SparkSession, root: String,
      from: String, to: String): Boolean = {
    val name = currentManifestName(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no CDC table at $root"))
    val (batchId, gen) = parseManifestName(name)
    val m = readManifest(spark, root, name)
    val stored = m.schema.getOrElse(throw new IllegalStateException(
      "rename requires a schema-bearing manifest (commit one batch " +
        "under a current build first)"))
    val renMap = m.renames.toMap
    // replay idempotency, the applyBatch contract: re-delivering a
    // rename that ALREADY holds (its `from` is now a storage name
    // mapped to `to`) is a no-op, not an unknown-column error
    if (renMap.get(from).contains(to)) return false
    val fromStored = stored.fieldNames
      .find(s => renMap.getOrElse(s, s) == from)
      .getOrElse(throw new IllegalArgumentException(
        s"no column named '$from' in $root"))
    val structural = (m.conf.keys :+ m.conf.versionCol) ++
      m.conf.deletedCol
    require(!structural.contains(fromStored),
      s"cannot rename structural column '$from' (keys/version/deleted " +
        "drive merge semantics and bucket hashing)")
    require(!Seq(TsBatchCol, AppliedBatchCol).contains(fromStored),
      s"cannot rename internal column '$from'")
    if (renMap.get(fromStored).contains(to)) return false // idempotent
    val reserved = Seq(BucketCol, TsBatchCol, AppliedBatchCol,
      ChangeBatchCol)
    require(!reserved.contains(to), s"'$to' is a reserved column name")
    val logicalNames = stored.fieldNames.map(s => renMap.getOrElse(s, s))
    require(!logicalNames.contains(to),
      s"column '$to' already exists in $root")
    require(to == fromStored || !stored.fieldNames.contains(to),
      s"'$to' is the storage name of another (renamed) column")
    val next = m.renames.filterNot(_._1 == fromStored) ++
      (if (to == fromStored) Seq.empty else Seq(fromStored -> to))
    // the rebucket commit pattern: metadata-only maintenance, new
    // generation, loud on a concurrent commit (a lost race lands no
    // manifest, so listing-based readers never see the rename)
    if (commitMaintenance(spark, root, s"v$batchId.${gen + 1}",
        m.copy(renames = next), pred = name)) true
    else throw new IllegalStateException(
      s"concurrent commit moved $root during rename — retry")
  }

  def rebucket(spark: SparkSession, root: String,
      newNumBuckets: Int): Boolean = {
    require(newNumBuckets >= 1, "newNumBuckets must be >= 1")
    currentManifestName(spark, root) match {
      case None => false
      case Some(name) =>
        val (batchId, gen) = parseManifestName(name)
        val m = readManifest(spark, root, name)
        if (m.conf.numBuckets == newNumBuckets) return false
        val conf = m.conf.copy(numBuckets = newNumBuckets)
        // 'r' suffix: see the expiry-side note — distinct per-op data
        // dirs make a concurrent expiry/rebucket misuse unable to
        // overwrite each other's files
        val dirTag = attemptTag(s"v${batchId}g${gen + 1}r")
        if (m.buckets.nonEmpty) {
          // resolved read: re-keying must not carry superseded
          // merge-on-read delta rows into the new layout (a rebucket
          // therefore also compacts — every pending delta clears)
          readBucketsResolved(spark, root, m).get
            .withColumn(BucketCol, bucketCol(conf.bucketCols, newNumBuckets))
            .hint("rebalance", BucketCol)
            .write.partitionBy(BucketCol).mode("overwrite")
            .parquet(new Path(root, s"data/$dirTag").toString)
        }
        val written = writtenEntries(spark, root, dirTag,
          hasTombstones = conf.deletedCol.isDefined)
        commitMaintenance(spark, root, s"v$batchId.${gen + 1}",
          Manifest(conf, written, m.schema, m.ts, m.renames),
          pred = name)
    }
  }

  /** OPTIMIZE ... ZORDER for the CDC format (the Delta layout
    * maintenance analog): rewrite every bucket's CURRENT content with
    * rows CLUSTERED on the Morton curve of the given columns, as a
    * new maintenance generation — logical content untouched (pending
    * deltas fold in, expired tombstones age, exactly like
    * [[compactBuckets]]), replay watermark unmoved, original commit
    * timestamp carried. The win is row-group locality: within each
    * bucket file, rows near on the (zColA, zColB) curve sit together,
    * so parquet min/max row-group pruning works on BOTH columns for
    * range predicates — the standard reason OPTIMIZE ZORDER exists.
    * The bucket layout itself (key-hash directories) is untouched:
    * z-ordering is WITHIN buckets, composing with — not replacing —
    * the key-pruned lookup path. Quantization is LINEAR over the
    * exact global min/max of each column (one cheap aggregate):
    * unlike the sampled rank bounds the standalone
    * [[graft.sources.ZOrder.cluster]] uses, exact min/max is
    * partition-order independent, so the committed layout is
    * bit-reproducible (and spec-checkable) — the engine's
    * determinism contract; heavily skewed dimensions waste curve
    * resolution, the documented trade. The curve column is dropped
    * before write (per-file/row-group min-max of the REAL columns
    * carries the clustering). Same maintenance contract as
    * [[compactBuckets]]; returns true when a generation committed.
    */
  def zorderBuckets(spark: SparkSession, root: String, zColA: String,
      zColB: String): Boolean =
    zorderBuckets(spark, root, Seq(zColA, zColB))

  /** The general form: OPTIMIZE ... ZORDER BY an arbitrary column
    * list. Non-numeric dimensions (string, binary, date, timestamp,
    * boolean) join the curve through their order-preserving numeric
    * surrogate ([[graft.sources.ZOrder.ordinate]]); each dimension
    * gets an equal bit budget sized so the full interleave stays in
    * one signed long ([[graft.sources.ZOrder.bitsFor]] — 16 bits for
    * two dims, the exact r15 layout, down to 7 bits at eight dims).
    * Same determinism/maintenance contract as the 2-column form.
    */
  def zorderBuckets(spark: SparkSession, root: String,
      zCols: Seq[String]): Boolean =
    currentManifestName(spark, root) match {
      case None => false
      case Some(name) =>
        import graft.sources.ZOrder
        require(zCols.nonEmpty, "zorderBuckets: no z-order columns")
        require(zCols.distinct == zCols,
          s"zorderBuckets: duplicate z-order column in $zCols")
        val (batchId, gen) = parseManifestName(name)
        val m = readManifest(spark, root, name)
        val conf = m.conf
        if (m.buckets.isEmpty) return false
        zCols.foreach(c => require(
          m.schema.forall(_.fieldNames.contains(c)),
          s"zorderBuckets: no column '$c' in the table schema"))
        val dirTag = attemptTag(s"v${batchId}g${gen + 1}z")
        val resolved = readBucketsResolved(spark, root, m, None).get
        val aged = conf.deletedCol.fold(resolved)(d =>
          resolved.filter(!(coalesce(col(d), lit(false)) &&
            lit(batchId) - coalesce(col(TsBatchCol), lit(batchId)) >=
              lit(conf.retention.toLong))))
        val ords = zCols.map(c =>
          ZOrder.ordinate(col(c), aged.schema(c).dataType))
        // one aggregate for every dimension's exact global bounds —
        // the single driver hop of the whole maintenance op
        val aggs = ords.zipWithIndex.flatMap { case (o, i) =>
          Seq(min(o).as(s"mn$i"), max(o).as(s"mx$i")) }
        val mm = aged.agg(aggs.head, aggs.drop(1): _*).head()
        zCols.indices.foreach(i => require(
          !mm.isNullAt(2 * i) && !mm.isNullAt(2 * i + 1),
          s"zorderBuckets: '${zCols(i)}' must hold non-NULL values"))
        val bits = ZOrder.bitsFor(zCols.size)
        val maxCell = (1L << bits) - 1
        val qs = ords.zipWithIndex.map { case (o, i) =>
          ZOrder.quantizeTo(o, mm.getDouble(2 * i),
            mm.getDouble(2 * i + 1), maxCell) }
        aged
          .withColumn(BucketCol, bucketCol(conf.bucketCols, conf.numBuckets))
          .withColumn("__graft_z", ZOrder.zValueN(qs, bits))
          .repartition(col(BucketCol))
          .sortWithinPartitions(col(BucketCol), col("__graft_z"))
          .drop("__graft_z")
          .write.partitionBy(BucketCol).mode("overwrite")
          .parquet(new Path(root, s"data/$dirTag").toString)
        val written = writtenEntries(spark, root, dirTag,
          hasTombstones = conf.deletedCol.isDefined)
        commitMaintenance(spark, root, s"v$batchId.${gen + 1}",
          Manifest(conf, written, m.schema, m.ts, m.renames),
          pred = name)
    }

  /** Scheduled compaction for merge-on-read tables: fold the pending
    * delta directories of the chosen buckets (default: every bucket
    * holding any) back into single base directories, as a new
    * maintenance GENERATION of the current batch id — the replay-guard
    * watermark never moves, logical content is untouched (superseded
    * rows drop, expired tombstones age — both invisible to readers
    * already), and the ORIGINAL commit timestamp is carried forward so
    * as-of reads resolve identically before and after. The inline
    * compaction [[applyBatch]] performs at the `maxDeltas` bound keeps
    * readers bounded without this call; run it out-of-band (off-peak,
    * before a heavy scan window) to return hot buckets to the
    * zero-resolution fast path early. Cost: O(selected buckets'
    * data) — one resolved read + one rebalanced write, the same class
    * as tombstone expiry. Same maintenance contract as [[rebucket]]:
    * commit-guard abort on a concurrent apply or maintenance commit
    * (orphan swept by [[vacuum]]), superseded directories collapse
    * under vacuum's generation rules. Returns true when a new
    * generation committed; false when no selected bucket holds a
    * pending delta or the guard aborted.
    */
  def compactBuckets(spark: SparkSession, root: String,
      bucketIds: Option[Seq[Int]] = None): Boolean =
    currentManifestName(spark, root) match {
      case None => false
      case Some(name) =>
        val (batchId, gen) = parseManifestName(name)
        val m = readManifest(spark, root, name)
        val conf = m.conf
        val targets = bucketIds.fold(m.buckets.keys.toSeq)(identity)
          .filter(b => m.buckets.get(b).exists(_.deltas.nonEmpty))
          .sorted
        if (targets.isEmpty) false
        else {
          // 'c' suffix: distinct per-op directories, as for expiry 'e'
          // and rebucket 'r' (and distinct from an inline-compact
          // apply's `v<batch>c`, which never coexists with gen > 0)
          val dirTag = attemptTag(s"v${batchId}g${gen + 1}c")
          val resolved = readBucketsResolved(spark, root, m,
            Some(targets)).get
          // a rewrite is when tombstones age (same clock as a merge)
          val aged = conf.deletedCol.fold(resolved)(d =>
            resolved.filter(!(coalesce(col(d), lit(false)) &&
              lit(batchId) - coalesce(col(TsBatchCol), lit(batchId)) >=
                lit(conf.retention.toLong))))
          aged
            .withColumn(BucketCol, bucketCol(conf.bucketCols, conf.numBuckets))
            .hint("rebalance", BucketCol)
            .write.partitionBy(BucketCol).mode("overwrite")
            .parquet(new Path(root, s"data/$dirTag").toString)
          val written = writtenEntries(spark, root, dirTag,
            hasTombstones = conf.deletedCol.isDefined)
          commitMaintenance(spark, root, s"v$batchId.${gen + 1}",
            Manifest(conf, (m.buckets -- targets) ++ written,
              m.schema, m.ts, m.renames),
            pred = name)
        }
    }

  /** Scheduled compaction poll, the merge-on-read sibling of
    * [[rebucketIfNeeded]]: a ZERO-I/O manifest read decides whether any
    * bucket's pending deltas crossed either bound — `maxPendingDeltas`
    * (reader resolution width: directories a read of that bucket must
    * merge) or `maxDeltaBytes` (physical delta footprint) — and
    * compacts exactly the buckets over a bound. The inline compaction
    * at the `maxDeltas` layout bound already caps width unconditionally;
    * this poll is for reclaiming read cost EARLY on a schedule (run it
    * off-peak with bounds tighter than the layout knob). The healthy
    * path costs one manifest read — poll as often as you like. Returns
    * the compacted bucket ids (empty: nothing over a bound, no table,
    * or the maintenance guard aborted).
    */
  def compactIfNeeded(spark: SparkSession, root: String,
      maxPendingDeltas: Int = Int.MaxValue,
      maxDeltaBytes: Long = Long.MaxValue): Seq[Int] = {
    require(maxPendingDeltas >= 1, "maxPendingDeltas must be >= 1")
    require(maxDeltaBytes >= 1, "maxDeltaBytes must be >= 1")
    currentManifest(spark, root).toSeq.flatMap { m =>
      val over = m.buckets.collect {
        case (b, e) if e.deltas.size > maxPendingDeltas ||
          e.deltas.flatMap(_.bytes).sum > maxDeltaBytes => b
      }.toSeq.sorted
      if (over.nonEmpty && compactBuckets(spark, root, Some(over))) over
      else Seq.empty
    }
  }

  /** Bucket-pruned scan by BUCKET-COLUMN values — [[lookup]]
    * generalized from one full key to a SET of bucket-column tuples:
    * the live rows whose bucket columns take any of the given values,
    * reading only the bucket families those values hash to. This is
    * the tenant-scoped scan / inverted-index term probe: a table
    * bucketed on `tenant` (or `term`) serves "these three tenants"
    * from ≤ 3 bucket families out of numBuckets, not the table.
    * `values` are positional against `TableConf.bucketCols` (the
    * declared subset of the keys). The probe set rides ONE exploded
    * array-of-structs frame: bucket ids come from a single hash job
    * over it (not one job per value), and membership re-checks via a
    * broadcast SEMI-JOIN on the bucket columns — so two tuples hashing
    * to one bucket never leak each other's rows, and a 10⁵-term probe
    * is as legal as a 3-tenant one (a literal OR-chain predicate would
    * overflow the analyzer stack around 10⁴). Schema-less pre-v4
    * manifests fall back to a correct, merely unpruned scan.
    * None before the first apply or with zero live buckets.
    */
  def scanByBucketValues(spark: SparkSession, root: String,
      values: Seq[Seq[Any]]): Option[DataFrame] = {
    require(values.nonEmpty, "at least one bucket-value tuple")
    currentManifest(spark, root).filter(_.buckets.nonEmpty).map { m =>
      val conf = m.conf
      val bcols = conf.bucketCols
      values.foreach(v => require(v.size == bcols.size,
        s"expected ${bcols.size} bucket-column value(s) for $bcols"))
      def lits(typed: Option[org.apache.spark.sql.types.StructType],
          v: Seq[Any]): Seq[Column] =
        bcols.zip(v).map { case (k, x) => keyLit(typed, k, x) }
      // the probe tuples as one small frame: a FLAT array of structs
      // (breadth, never expression depth)
      def valuesFrame(typed: Option[
          org.apache.spark.sql.types.StructType]): DataFrame = {
        val structs = values.map(v => struct(lits(typed, v): _*))
        spark.range(1)
          .select(explode(array(structs: _*)).as("_probe"))
          .select(bcols.map(k => col(s"_probe.$k").as(k)): _*)
          .distinct()
      }
      m.schema match {
        case None =>
          applyRenames(
            stripInternal(readRaw(spark, m.dataPaths(root), None), conf)
              .join(broadcast(valuesFrame(None)), bcols, "left_semi"), m)
        case Some(schema) =>
          val probe = valuesFrame(Some(schema))
          val ids = values
            .map(v => bucketOfLiterals(spark, lits(Some(schema), v),
              conf.numBuckets))
            .distinct.sorted.filter(m.buckets.contains)
          if (ids.isEmpty)
            // none of the probed buckets ever held a surviving row:
            // the visible shape with zero rows from manifest schema
            // alone, no filesystem access (the absent-bucket GET rule)
            applyRenames(stripInternal(spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              schema), conf), m)
          else
            applyRenames(
              stripInternal(readBucketsResolved(spark, root, m,
                Some(ids)).get, conf)
                .join(broadcast(probe), bcols, "left_semi"), m)
      }
    }
  }

  /** RESTORE — roll the table's LOGICAL state back to what it was at
    * retained batch `targetBatch`, committed as a NEW batch (head + 1),
    * never by re-pointing at old manifests. Re-pointing would be
    * cheaper but silently wrong twice over: rows carry their applying
    * batch in [[AppliedBatchCol]], so a change-feed consumer positioned
    * at the head would see NOTHING change while the snapshot jumped
    * backwards; and the replay-guard watermark would move backwards,
    * re-admitting already-applied batches. Instead restore computes the
    * logical DIFF (restored snapshot vs current snapshot, keyed,
    * null-safe over every user column) and publishes it like an apply:
    *
    *  - changed + resurrected keys → the target's row, stamped with the
    *    new batch (the feed reports them);
    *  - keys added since the target → a tombstone stamped with the new
    *    batch (requires the table's `deletedCol`; refused loudly on
    *    append-only tables);
    *  - unchanged keys → the CURRENT stored row verbatim, old stamp
    *    intact (the feed does NOT re-report them);
    *  - tombstones dead in both states → carried verbatim (aging
    *    clock undisturbed) unless expired, dropped when the target
    *    resurrects their key.
    *
    * Scale: when no rebucket intervened, the diff prunes to buckets
    * whose directory tags postdate `targetBatch` — manifest metadata
    * only — so cost is one keyed join over the buckets TOUCHED since
    * the target plus a rewrite of the buckets that actually differ,
    * not O(table). The restored row keeps its original `versionCol`
    * value verbatim (it is user data); a future batch bearing a higher
    * version still wins latest-wins, which is exactly restore-then-
    * continue semantics. Columns added by schema evolution since the
    * target read back NULL in restored rows; the table keeps its
    * CURRENT schema (restore rewinds content, not DDL).
    *
    * Contract mirrors the other single-writer ops: the commit carries
    * the apply-race fence (a concurrent apply or maintenance commit
    * fails it loudly). The head ADVANCES — a streaming
    * feed into this table must resume with batch ids above the new
    * head or its next batches no-op on the replay guard, the same
    * caveat as any out-of-band administrative write. When the table
    * keeps a changelog, the diff batch is logged there too, so
    * changelog tails converge with manifest-feed consumers. Returns
    * the new batch id, or None when the state already equals the
    * target (nothing committed).
    */
  def restore(spark: SparkSession, root: String, targetBatch: Long,
      commitTs: Option[Long] = None): Option[Long] = {
    // gate BEFORE any read: a non-admin on a governed table would
    // otherwise compute the diff from RLS/CLS-MASKED snapshots and
    // only hit the write fence at commit time — the confusing
    // late-denial hazard deleteWhere/updateWhere also front-run
    requireDmlWriter(spark, root, "restore")
    val curName = currentManifestName(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no CDC table at $root"))
    val (head, _) = parseManifestName(curName)
    require(targetBatch <= head,
      s"cannot restore $root to batch $targetBatch: head is $head")
    if (targetBatch == head) return None
    val fs = fsFor(spark, root)
    val tgtName = manifestOfBatch(spark, root, targetBatch)
      .getOrElse(throw new IllegalArgumentException(
        s"batch $targetBatch of $root is not retained (vacuumed?) — " +
          "restorable batches are exactly history()'s rows"))
    val mTgt = readManifest(spark, root, tgtName)
    val mCur = readManifest(spark, root, curName)
    val conf = mCur.conf
    val newBatch = head + 1
    val stored = mCur.schema.getOrElse(org.apache.spark.sql.types
      .StructType(readRaw(spark, mCur.dataPaths(root), None)
        .schema.fields.filterNot(_.name == BucketCol)))
    val userCols = stored.fieldNames.toSeq
      .filterNot(n => n == TsBatchCol || n == AppliedBatchCol)

    // manifest-metadata pruning: a current bucket whose every live dir
    // was written at or before the target is bit-identical in both
    // states (dirs are immutable and never re-referenced once
    // superseded) — skip it entirely. Valid only while both manifests
    // share a layout; a rebucket in between retags every dir with its
    // own (later) batch, so the prune naturally selects everything.
    val sameLayout = mTgt.conf.numBuckets == conf.numBuckets &&
      mTgt.conf.bucketCols == conf.bucketCols
    val hot: Option[Seq[Int]] =
      if (!sameLayout) None
      else Some((mCur.buckets.collect {
        case (b, e) if e.allRels.map(dirTagBatch).max > targetBatch => b
      } ++
        // a bucket the target held that the head dropped entirely
        // (every key deleted + expired since) has no current entry to
        // carry a postdating tag — it is hot by construction
        (mTgt.buckets.keySet -- mCur.buckets.keySet)).toSeq.distinct
        .sorted)
    if (hot.exists(_.isEmpty)) return None // no dir postdates the target

    def alignStored(df: DataFrame): DataFrame =
      df.select(stored.fields.toIndexedSeq.map(f =>
        if (df.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)): _*)
    def liveOnly(df: DataFrame): DataFrame =
      conf.deletedCol.fold(df)(dc =>
        df.filter(!coalesce(col(dc), lit(false))))

    val curRaw = readBucketsResolved(spark, root, mCur, hot)
      .map(alignStored)
    val tgtRaw = readBucketsResolved(spark, root, mTgt,
      if (sameLayout) hot else None).map(alignStored)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stored)
    val curLive = liveOnly(curRaw.getOrElse(empty))
      .withColumn("_c_ex", lit(true)).as("c")
    val tgtLive = liveOnly(tgtRaw.getOrElse(empty))
      .select(userCols.map(col): _*)
      .withColumn("_t_ex", lit(true)).as("t")

    val keyEq = conf.keys.map(k => col(s"t.$k") <=> col(s"c.$k"))
      .reduce(_ && _)
    val sameRow = userCols.map(u => col(s"t.$u") <=> col(s"c.$u"))
      .reduce(_ && _)
    // the _t_ex/_c_ex markers were attached BEFORE this join: post-join,
    // every column of an unmatched side is NULL, so a marker added after
    // could not distinguish "no match" from a matched NULL payload
    val joined = tgtLive.join(curLive, keyEq, "full_outer")
    val restored = joined
      .filter(col("_t_ex") &&
        (!coalesce(col("_c_ex"), lit(false)) || !sameRow))
      .select(userCols.map(u => col(s"t.$u").as(u)) :+
        lit(null).cast("long").as(TsBatchCol) :+
        lit(newBatch).as(AppliedBatchCol): _*)
    val removedKeys = joined
      .filter(coalesce(col("_c_ex"), lit(false)) &&
        !coalesce(col("_t_ex"), lit(false)))
    val deletedRows = conf.deletedCol match {
      case Some(dc) =>
        removedKeys.select(userCols.map(u =>
          (if (u == dc) lit(true).cast("boolean") else col(s"c.$u"))
            .as(u)) :+
          lit(newBatch).as(TsBatchCol) :+
          lit(newBatch).as(AppliedBatchCol): _*)
      case None =>
        // append-only table: nothing can delete the rows added since
        // the target — refuse rather than restore a superset state
        require(removedKeys.isEmpty,
          s"restore of $root to batch $targetBatch must delete rows " +
            "added since, but the table declares no deleted column")
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stored)
    }
    val changed = restored.unionByName(deletedRows)
      .withColumn(BucketCol, bucketCol(conf.bucketCols, conf.numBuckets))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // touched set: ≤ numBuckets ints, the standard manifest-sized hop
      val touched = changed.select(BucketCol).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      if (touched.isEmpty) return None // states already identical
      // carried tombstones: dead in both states, key not resurrected,
      // not yet expired (same aging clock as a merge rewrite)
      val tombs = conf.deletedCol.fold(empty.limit(0))(dc =>
        curRaw.getOrElse(empty)
          .filter(coalesce(col(dc), lit(false)))
          .filter(lit(newBatch) -
            coalesce(col(TsBatchCol), lit(newBatch)) <
            lit(conf.retention.toLong))
          .join(tgtLive.select(conf.keys.map(col): _*),
            conf.keys, "left_anti"))
      val unchanged = joined
        .filter(col("_t_ex") && col("_c_ex") && sameRow)
        .select(stored.fieldNames.toIndexedSeq.map(u =>
          col(s"c.$u").as(u)): _*)
      val out = unchanged.unionByName(tombs)
        .withColumn(BucketCol,
          bucketCol(conf.bucketCols, conf.numBuckets))
        .unionByName(changed)
        .filter(col(BucketCol).isin(touched: _*))
      if (fs.exists(new Path(root, "changelog")))
        changed.drop(BucketCol, TsBatchCol)
          .withColumnRenamed(AppliedBatchCol, ChangeBatchCol)
          .write.mode("overwrite")
          .parquet(new Path(root, s"changelog/b$newBatch").toString)
      val dirTag = attemptTag(s"v$newBatch")
      out.hint("rebalance", BucketCol)
        .write.partitionBy(BucketCol).mode("overwrite")
        .parquet(new Path(root, s"data/$dirTag").toString)
      val written = writtenEntries(spark, root, dirTag,
        conf.deletedCol.isDefined)
      commitManifest(spark, root, s"v$newBatch.0",
        Manifest(conf, (mCur.buckets -- touched) ++ written,
          Some(stored),
          Some(commitTs.getOrElse(System.currentTimeMillis())),
          mCur.renames),
        pred = Some(curName))
      Some(newBatch)
    } finally changed.unpersist()
  }

  /** Predicate DELETE — the administrative erasure form (GDPR
    * right-to-be-forgotten, bad-partition scrubbing): every live row
    * matching `predicate` is tombstoned in ONE new batch through the
    * ordinary apply path, so merge semantics, the change feed (each
    * victim appears as a tombstone stamped with the new batch), the
    * replay guard, the writer fence, and governance all hold without
    * special cases. The tombstone carries the victim's own columns
    * with `versionCol + 1` — it must supersede the row it deletes, and
    * a later upsert bearing a still-higher version reclaims the key,
    * the standard delete-then-reinsert ordering. Requires the table's
    * `deletedCol` (append-only tables refuse) and a numeric version
    * column (the +1). Cost: one predicate-filtered snapshot read +
    * an apply touching only the victims' buckets. NOTE: like any
    * tombstone delete, the erased VALUES survive physically until the
    * touched buckets' tombstones age and [[vacuum]] sweeps old
    * manifests/time travel — run retention maintenance to complete an
    * erasure. Returns the committed batch id, or None when no live
    * row matched (nothing committed).
    */
  /** Up-front write guard for the predicate-DML entry points: a
    * governed root refuses every principal but the DataAdmin BEFORE
    * the embedded snapshot read runs. Without this, the fence would
    * still hold (the apply's file write is check-ruled), but the
    * denied principal's GOVERNED read would fire first — RLS/CLS
    * would silently shrink the victim set and strip columns, turning
    * the denial into a confusing analysis error (or worse, a
    * partial-view mutation if the schema happened to survive).
    * Writes derived from reads must be planned against the
    * unmasked table, and only the DataAdmin may see it.
    */
  private def requireDmlWriter(spark: SparkSession, root: String,
      op: String): Unit =
    graft.governance.GovernanceCatalog.tableForLocation(root).foreach {
      case (db, t) =>
        val p = graft.governance.Principal.fromName(spark.conf.get(
          graft.governance.GovernanceRule.PrincipalConf,
          graft.governance.Anonymous.name))
        if (p != graft.governance.DataAdmin) {
          graft.governance.AuditLog.record(graft.governance.AuditEvent(
            "write-denied", p.name, Seq(s"$db.$t"), governed = true,
            rowsOut = None, durationNs = 0L,
            error = Some(s"$op denied")))
          throw new graft.governance.AccessDeniedException(
            s"principal ${p.name} may not run $op on governed CDC " +
              s"table $db.$t (only DataAdmin holds write access)")
        }
    }

  def deleteWhere(spark: SparkSession, root: String,
      predicate: Column, commitTs: Option[Long] = None): Option[Long] = {
    requireDmlWriter(spark, root, "deleteWhere")
    val m = currentManifest(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no CDC table at $root"))
    val conf = m.conf
    val dc = conf.deletedCol.getOrElse(throw new IllegalArgumentException(
      s"deleteWhere on $root: the table declares no deleted column " +
        "(append-only tables cannot delete)"))
    val head = currentVersion(spark, root).get
    val newBatch = head + 1
    val victims = readSnapshot(spark, root) match {
      case None => return None
      case Some(s) => s.filter(predicate)
    }
    val batch = victims
      .withColumn(conf.versionCol, col(conf.versionCol) + lit(1L))
      .withColumn(dc, lit(true))
    val logged = fsFor(spark, root).exists(new Path(root, "changelog"))
    if (applyBatch(batch, newBatch, root, conf.keys, conf.versionCol,
        conf.deletedCol, numBuckets = conf.numBuckets,
        tombstoneRetention = conf.retention, commitTs = commitTs,
        changelog = logged, maxDeltas = conf.maxDeltas,
        bucketCols = conf.bucketKeys)) Some(newBatch)
    else None
  }

  /** Predicate UPDATE — [[deleteWhere]]'s sibling: every live row
    * matching `predicate` is re-upserted with the `set` expressions
    * applied (unlisted columns carry over verbatim) and `versionCol +
    * 1`, as ONE batch through the ordinary apply path — feed, replay
    * guard, fence, and governance all hold unchanged. `set` must not
    * touch key columns (that is a delete + insert, two different
    * rows), the version column (the supersede bump owns it), or the
    * deleted flag ([[deleteWhere]] owns that). Returns the committed
    * batch id, or None when no live row matched.
    */
  def updateWhere(spark: SparkSession, root: String, predicate: Column,
      set: Map[String, Column],
      commitTs: Option[Long] = None): Option[Long] = {
    requireDmlWriter(spark, root, "updateWhere")
    require(set.nonEmpty, "at least one SET column is required")
    val m = currentManifest(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no CDC table at $root"))
    val conf = m.conf
    val illegal = set.keySet.filter(c => conf.keys.contains(c) ||
      c == conf.versionCol || conf.deletedCol.contains(c))
    require(illegal.isEmpty,
      s"updateWhere must not set key/version/deleted columns: " +
        s"${illegal.mkString(",")}")
    val head = currentVersion(spark, root).get
    val newBatch = head + 1
    val victims = readSnapshot(spark, root) match {
      case None => return None
      case Some(s) => s.filter(predicate)
    }
    set.keySet.foreach(c => require(victims.columns.contains(c),
      s"updateWhere SET names an unknown column '$c'"))
    val updated = set.foldLeft(victims) { case (df, (c, e)) =>
      df.withColumn(c, e) }
      .withColumn(conf.versionCol, col(conf.versionCol) + lit(1L))
    // the snapshot read strips the deleted flag — restore it as a live
    // marker (victims are live by construction)
    val batch = conf.deletedCol.fold(updated)(dc =>
      updated.withColumn(dc, lit(false)))
    val logged = fsFor(spark, root).exists(new Path(root, "changelog"))
    if (applyBatch(batch, newBatch, root, conf.keys, conf.versionCol,
        conf.deletedCol, numBuckets = conf.numBuckets,
        tombstoneRetention = conf.retention, commitTs = commitTs,
        changelog = logged, maxDeltas = conf.maxDeltas,
        bucketCols = conf.bucketKeys)) Some(newBatch)
    else None
  }

  /** Timestamp form of [[restore]]: resolve `ts` to the latest batch
    * committed at or before it ([[resolveAsOf]]) and restore to that.
    * None when nothing committed (no-op), like the batch form.
    */
  def restoreAsOf(spark: SparkSession, root: String, ts: Long,
      commitTs: Option[Long] = None): Option[Long] =
    resolveAsOf(spark, root, ts) match {
      case Some(b) => restore(spark, root, b, commitTs)
      case None => throw new IllegalArgumentException(
        s"no batch of $root had committed by ts $ts")
    }

  /** Point lookup: the live row(s) for one key, reading ONE bucket
    * directory. A key's bucket is deterministic (the same hash the
    * writer used), so the lookup computes it from the key literals —
    * cast to the table's key types first, because the hash is
    * type-sensitive — and scans only `snapshot/numBuckets` bytes: the
    * primary-key GET on a 100 TB snapshot touches one directory, not
    * the table. A bucket absent from the manifest means no row of that
    * key ever survived — the scan is skipped entirely and an empty
    * typed frame returns. Tombstoned keys read back empty, like every
    * snapshot read. `key` is positional against the table's key
    * columns. None before the first apply (or zero live buckets).
    */
  def lookup(spark: SparkSession, root: String,
      key: Seq[Any]): Option[DataFrame] =
    currentManifest(spark, root).filter(_.buckets.nonEmpty).map { m =>
      val conf = m.conf
      require(key.size == conf.keys.size,
        s"expected ${conf.keys.size} key value(s) for ${conf.keys}")
      val keyed = conf.keys.zip(key)
      m.schema match {
        case None =>
          // pre-v4 manifest: the key TYPES are unknown, and the bucket
          // hash is type-sensitive — an untyped-literal hash could name
          // the wrong bucket and silently miss an existing row. Fall
          // back to a correct (merely unpruned) filter over the
          // snapshot; one commit under a v4+ build restores pruning.
          val pred = keyed.map { case (k, v) => col(k) === lit(v) }
            .reduce(_ && _)
          applyRenames(
            stripInternal(readRaw(spark, m.dataPaths(root), None), conf)
              .filter(pred), m)
        case Some(schema) =>
          val lits = keyed.toMap.map { case (k, v) =>
            k -> keyLit(Some(schema), k, v) }
          val b = bucketOfLiterals(spark, conf.bucketCols.map(lits),
            conf.numBuckets)
          val pred = keyed.map { case (k, _) => col(k) === lits(k) }
            .reduce(_ && _)
          m.buckets.get(b) match {
            case Some(_) =>
              // readBucketsResolved keeps the single-bucket-dir scan
              // for delta-free buckets and latest-wins-resolves base +
              // pending deltas for merge-on-read ones — still one
              // bucket FAMILY of directories either way
              applyRenames(
                stripInternal(readBucketsResolved(spark, root, m,
                  Some(Seq(b))).get, conf)
                  .filter(pred), m)
            case None =>
              // no row of this key ever survived: the snapshot's
              // visible shape with zero rows, built from the manifest
              // schema with ZERO filesystem access — an absent-bucket
              // GET must not pay a directory listing just to say "not
              // found" (same pattern as changesSince's emptyFeed). On
              // a governed root the column allowlist applies here too:
              // same shape as a present-bucket read, no ungranted
              // column names leaked
              val visible = governedVisible(spark, root,
                schema.fields.toSeq.filterNot(f =>
                  f.name == TsBatchCol || f.name == AppliedBatchCol ||
                    conf.deletedCol.contains(f.name)))
                .map(f => f.copy(name = logicalName(m, f.name)))
              spark.createDataFrame(
                spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                org.apache.spark.sql.types.StructType(visible))
          }
      }
    }

  /** Bounded change feed: every row whose CURRENT-as-of-`toBatch`
    * version was applied by a batch in (`fromBatch`, `toBatch`] — the
    * table_changes(from, to) form, answering "what changed between
    * Monday's snapshot and Wednesday's" long after the head moved on.
    * Runs against the RETAINED manifest of `toBatch` (the same
    * resolution as [[readSnapshotAt]], maintenance generations
    * included), so the upper bound needs no filtering: a stamp in that
    * manifest cannot exceed `toBatch`. Same two-layer pruning as
    * [[changesSince]] (manifest bucket skip below the lower bound,
    * pushed stamp predicate inside survivors), same completeness
    * bounds (tombstone retention, pre-stamp rows), and the same
    * governance rules (allowlist must keep the stamp). None when
    * `toBatch` is not a retained batch (vacuumed away, or never
    * committed). `changesBetween(root, from, head)` equals
    * `changesSince(root, from)`.
    */
  def changesBetween(spark: SparkSession, root: String,
      fromBatch: Long, toBatch: Long): Option[DataFrame] = {
    require(fromBatch <= toBatch,
      s"fromBatch $fromBatch must be <= toBatch $toBatch")
    manifestOfBatch(spark, root, toBatch)
      .flatMap(name => changesInManifest(spark, root,
        readManifest(spark, root, name), fromBatch))
  }

  /** Timestamp form of [[changesSince]]: "every row changed since
    * yesterday 14:00" — the batch current at `ts` resolves through
    * manifest headers ([[resolveAsOf]]), then the stamp feed runs from
    * it. None when no batch had committed by `ts` (a consumer with no
    * position yet seeds with `changesSince(root, -1)` instead).
    */
  def changesSinceTs(spark: SparkSession, root: String,
      ts: Long): Option[DataFrame] =
    resolveAsOf(spark, root, ts)
      .flatMap(changesSince(spark, root, _))

  /** Incremental replication, the composition [[changesSince]] exists
    * for: bring the CDC table at `mirrorRoot` up to the snapshot at
    * `root`, moving only the rows whose current version changed since
    * the last sync. The mirror is itself a full CdcApply table (same
    * keys / version / deleted conf, read from the source manifest), so
    * it serves [[readSnapshot]], time travel, governance, and even its
    * own [[changesSince]] — replication chains.
    *
    * Exactly-once with no extra state: the mirror's own replay-guard
    * watermark IS the consumer position. Each sync applies the feed as
    * one batch stamped with the SOURCE's current batch id; a replayed
    * or crashed-and-retried sync re-lands on the same id and the guard
    * drops it. Deletes propagate as tombstones (the feed carries them
    * as flagged rows). Cost per sync: O(changed keys) read from the
    * source (manifest-pruned) + O(touched buckets) rewritten in the
    * mirror — a trickle of changes against a 100 TB pair moves
    * megabytes. Returns true when the mirror advanced.
    *
    * RETENTION COMPLETENESS BOUND, enforced fail-closed: tombstones
    * age out of the feed after `tombstoneRetention` batches, so a
    * mirror whose watermark trails the source head by MORE than
    * retention may be missing aged-out deletes — the one composition
    * where the feed's documented bound would otherwise become silent
    * replica corruption (stale keys the mirror never learns died).
    * The check is manifest-metadata-only (head batch − watermark vs
    * the retention recorded in the source manifest) and EXACT at that
    * granularity: a tombstone applied at batch t can only have expired
    * under some rewrite at batch b with b − t >= retention, which
    * forces t <= head − retention — so any delete SINCE a watermark
    * within retention is provably still in the feed. Past the bound
    * this throws with a re-seed instruction ([[reseedMirror]]) instead
    * of converging to a corrupt state; metadata cannot prove the
    * absence of an aged-out delete (an expired tombstone leaves no
    * trace), so the refusal is deliberately conservative — the same
    * fail-closed posture as the governance gate. Corollary: a table
    * with retention 0 and modeled deletes cannot be trickle-mirrored
    * at all (its delete events never survive into the feed) — every
    * lagging sync refuses and the recovery is a re-seed.
    *
    * Exactness scope: the sync theorem (mirror state = source state at
    * the synced watermark) holds for well-formed streams whose late
    * events arrive WITHIN the source's tombstone retention — the same
    * window inside which the source itself honors them. A late event
    * OLDER than an expired tombstone is already outside the source's
    * own latest-wins contract (the source admits it once its tombstone
    * ages); the mirror re-stamps replicated tombstones with its sync
    * batch, so it can retain delete protection up to one sync lag
    * LONGER than the source and refuse such an event the source
    * admitted. The divergence direction is deliberately conservative
    * (the mirror errs toward keeping a delete), and recovery — as for
    * every beyond-retention condition — is [[reseedMirror]].
    *
    * `commitTs` stamps the mirror commit this sync lands (the applied
    * batch or the carried-forward watermark advance) — wall clock when
    * None, or a caller-supplied logical clock so as-of-timestamp time
    * travel on the MIRROR is as reproducible as on the source.
    *
    * Governed sources: run the sync under a principal with full access,
    * or accept that the mirror materializes exactly the principal's
    * governed view — a row-filtered replica if rows are filtered, and a
    * loud failure (never silent corruption) if the allowlist omits a
    * structural column (keys / version / deleted / the stamp).
    */
  def syncMirror(spark: SparkSession, root: String, mirrorRoot: String,
      numBuckets: Int = 16, commitTs: Option[Long] = None): Boolean =
    currentManifest(spark, root) match {
      case None => false
      case Some(src) =>
        val cur = currentVersion(spark, root).get
        // ONE head resolution serves the watermark AND the
        // predecessor of the carried-forward commit below
        val mirrorCur = currentManifestName(spark, mirrorRoot)
        val wm = mirrorCur.map(parseManifestName(_)._1).getOrElse(-1L)
        if (wm >= cur) false
        else {
          val c = src.conf
          // the bound does not apply to a FIRST sync (wm = -1): with
          // no prior mirror state there is nothing stale to miss — the
          // seed lands exactly the live rows the feed still carries
          if (c.deletedCol.isDefined && wm >= 0 &&
              cur - wm > c.retention.toLong)
            throw new IllegalStateException(
              s"mirror at batch $wm lags source head $cur past " +
                s"tombstoneRetention=${c.retention}: deletes may have " +
                "aged out of the change feed and the mirror would " +
                "silently keep dead keys — re-seed with reseedMirror")
          val ts = commitTs.getOrElse(System.currentTimeMillis())
          // changesSince is None for a fully-emptied source (zero live
          // buckets, manifest committed) — treated like an empty feed:
          // within the bound every delete the mirror needs was already
          // synced (an unexpired tombstone is a stored row, so a table
          // with deletes newer than the watermark cannot be
          // bucket-empty without tripping the bound above)
          val applied = changesSince(spark, root, wm).exists { ch =>
            applyBatch(ch.drop(ChangeBatchCol), cur,
              mirrorRoot, c.keys, c.versionCol, c.deletedCol,
              numBuckets = numBuckets,
              tombstoneRetention = c.retention,
              commitTs = Some(ts),
              // the replica inherits the source's bucket-column
              // subset (pruned lookups work identically on either);
              // only the bucket COUNT is a mirror-local choice
              bucketCols = Some(c.bucketCols))
          }
          // an EMPTY feed between wm and head (no stamped rows, or the
          // empty-table case above) is skipped by applyBatch — advance
          // the watermark with a carried-forward manifest commit
          // anyway, or every later poll re-resolves and re-scans the
          // same ever-growing batch range just to learn "nothing"
          if (!applied) {
            // fenced on the SAME head the watermark came from: a
            // concurrent sync process that applied a data-bearing batch
            // in between must not be superseded by this stale
            // carried-forward map (it would drop that batch's rows) —
            // the loser throws instead
            // (first-ever sync over an empty feed: an empty mirror
            // table at the source's watermark)
            val mm = mirrorCur.map(manifestByName(spark, mirrorRoot, _))
              .getOrElse(Manifest(c.copy(numBuckets = numBuckets),
                Map.empty, None, None))
            commitManifest(spark, mirrorRoot, s"v$cur.0",
              mm.copy(ts = Some(ts)), pred = mirrorCur)
          }
          true
        }
    }

  /** Full re-seed for a mirror that fell behind the source's tombstone
    * retention ([[syncMirror]] refuses in that state): DROP the mirror
    * and rebuild it as ONE batch from the source's CURRENT snapshot —
    * live rows plus still-unexpired tombstones, so post-seed syncs
    * inherit the same late-event protection the source has. The seeded
    * batch lands at the source's head batch id, so the mirror's
    * replay-guard watermark is immediately current and the next
    * [[syncMirror]] trickles again. O(snapshot) by design — the same
    * cost class as any bootstrap, and the documented recovery for
    * every past-retention consumer. Destroys the mirror's own history
    * (time-travel manifests included); a replica that must keep its
    * history is re-pointed at a fresh root instead. Returns false when
    * the source has no table yet.
    */
  def reseedMirror(spark: SparkSession, root: String, mirrorRoot: String,
      numBuckets: Int = 16, commitTs: Option[Long] = None): Boolean =
    currentManifest(spark, root) match {
      case None => false
      case Some(src) =>
        val cur = currentVersion(spark, root).get
        val c = src.conf
        val ts = commitTs.getOrElse(System.currentTimeMillis())
        fsFor(spark, mirrorRoot).delete(new Path(mirrorRoot), true)
        val applied = src.buckets.nonEmpty && applyBatch(
          readRaw(spark, src.dataPaths(root), src.schema)
            .drop(TsBatchCol, AppliedBatchCol),
          cur, mirrorRoot, c.keys, c.versionCol, c.deletedCol,
          numBuckets = numBuckets, tombstoneRetention = c.retention,
          commitTs = Some(ts), bucketCols = Some(c.bucketCols))
        // fully-emptied source: the re-seeded mirror is an empty table
        // at the source's watermark. Fenced on the just-deleted state:
        // a sync process racing the reseed (already outside the
        // stop-the-consumer recovery protocol) fails loudly instead of
        // being silently overwritten
        if (!applied)
          commitManifest(spark, mirrorRoot, s"v$cur.0",
            Manifest(c.copy(numBuckets = numBuckets), Map.empty, None,
              Some(ts)), pred = None)
        true
    }

  /** Continuous replication: a streaming query that [[syncMirror]]s on
    * every trigger — the mirror follows the source as it merges, a few
    * seconds behind, with the same exactly-once guarantee (the mirror
    * watermark, not the stream checkpoint, is the position — restarts
    * and replays drop at the replay guard; ticks that find no new
    * source batch no-op without touching data). `ticker` is the
    * trigger stream: any streaming DataFrame whose rows are ignored —
    * defaults to a 1 Hz rate source; tests inject a MemoryStream so
    * progress is deterministic. This is deliberately poll-driven
    * composition over the existing primitives, not a bespoke
    * connector: the feed + replay guard already carry all the
    * correctness, so the stream only supplies cadence. `clock`
    * (evaluated once per tick) is the logical commit clock
    * threaded to [[syncMirror]]'s `commitTs` — tests pin it so
    * as-of-timestamp reads on the mirror are deterministic; None
    * stamps wall clock. A sync that trips the retention bound
    * surfaces as the STREAM's failure (loud, like any foreachBatch
    * error) — recovery is [[reseedMirror]] then restart.
    */
  def startMirror(spark: SparkSession, root: String, mirrorRoot: String,
      numBuckets: Int = 16, queryName: String = "cdc_mirror",
      ticker: Option[DataFrame] = None,
      clock: Option[() => Long] = None): StreamingQuery =
    ticker.getOrElse(
        spark.readStream.format("rate").option("rowsPerSecond", 1).load())
      .writeStream
      .queryName(queryName)
      .foreachBatch { (_: DataFrame, _: Long) =>
        syncMirror(spark, root, mirrorRoot, numBuckets,
          commitTs = clock.map(_.apply()))
        ()
      }
      .start()

  /** The scheduled half of the bucket-evolution story: rebucket when
    * the layout has outgrown its creation-time count. If any live
    * bucket's RECORDED size exceeds `maxBucketBytes`, the snapshot is
    * rewritten to `ceil(total_bytes / targetBucketBytes)` buckets
    * (never fewer than current+1 — this helper only grows; shrinking an
    * over-provisioned layout is a deliberate manual [[rebucket]]). The
    * decision reads ONLY the manifest's write-time per-bucket stats
    * ([[buckets]]) — zero data files listed or read on a "still
    * healthy" poll, so running it after every vacuum is free. Returns
    * the new count when a rewrite committed; None when the layout is
    * healthy, stats are absent (pre-v6 manifests — decide manually),
    * or the commit guard aborted.
    */
  def rebucketIfNeeded(spark: SparkSession, root: String,
      maxBucketBytes: Long, targetBucketBytes: Long): Option[Int] = {
    require(maxBucketBytes >= 1, "maxBucketBytes must be >= 1")
    require(targetBucketBytes >= 1, "targetBucketBytes must be >= 1")
    currentManifest(spark, root).flatMap { m =>
      // ALL live buckets must carry stats: a partially pre-v6 layout
      // would under-count total bytes and commit an O(snapshot) rewrite
      // to a still-oversized target — refuse and leave it to the
      // documented manual decision instead. Sizes are PHYSICAL bytes,
      // pending merge-on-read deltas included (a delta-bloated bucket
      // costs its readers base + deltas; the rebucket both re-keys and
      // compacts, so post-rewrite stats reset to the resolved truth —
      // run compactIfNeeded first when compaction alone would bring
      // the layout back under the cap without an O(snapshot) rewrite)
      val sizes = m.buckets.valuesIterator.map(_.allBytes).toSeq
      if (sizes.isEmpty || sizes.exists(_.isEmpty) ||
          sizes.flatten.max <= maxBucketBytes) None
      else {
        val want = math.max(m.conf.numBuckets + 1,
          math.ceil(sizes.flatten.sum.toDouble / targetBucketBytes)
            .toInt)
        if (rebucket(spark, root, want)) Some(want) else None
      }
    }
  }

  /** Manifest entries for the buckets that actually produced files under
    * `data/<dirTag>` — a touched bucket whose merge output is EMPTY
    * (every key deleted and aged out) writes no partition dir and drops
    * out of the manifest. Each entry carries the per-bucket stats the
    * manifest serves later without touching data again: on-disk bytes
    * (from the same file listing that discovers the bucket dirs — FS
    * metadata, zero data reads), stored row count, and — when the table
    * models deletes — the oldest-tombstone batch. Rows and min-ts come
    * from the just-written files' parquet FOOTERS (row-group counts
    * and the `TsBatchCol` column statistics every Spark parquet write
    * records) — metadata-only reads, no Spark job, no data pages
    * touched. The driver-side loop is bounded by the generation's file
    * count (touched buckets × files per bucket, the same bound that
    * sized the write itself). A footer with unusable `TsBatchCol`
    * statistics (a foreign writer with stats disabled) falls back to
    * ONE scan of the generation projecting only that column.
    */
  private def writtenEntries(spark: SparkSession, root: String,
      dirTag: String, hasTombstones: Boolean): Map[Int, BucketEntry] = {
    val fs = fsFor(spark, root)
    val out = new Path(root, s"data/$dirTag")
    if (!fs.exists(out)) return Map.empty
    val bucketDirs = fs.listStatus(out)
      .filter(_.getPath.getName.startsWith(s"$BucketCol="))
    if (bucketDirs.isEmpty) Map.empty
    else {
      val files: Map[Int, Array[org.apache.hadoop.fs.FileStatus]] =
        bucketDirs.map(d =>
          d.getPath.getName.stripPrefix(s"$BucketCol=").toInt ->
            fs.listStatus(d.getPath).filter(_.isFile)).toMap
      val bytes: Map[Int, Long] =
        files.view.mapValues(_.map(_.getLen).sum).toMap
      val stats: Map[Int, (Option[Long], Long)] =
        footerStats(spark, files, hasTombstones).getOrElse {
          spark.read.parquet(out.toString)
            .groupBy(col(BucketCol))
            .agg(min(col(TsBatchCol)).as("m"), count(lit(1)).as("n"))
            .collect().map { r =>
              r.getInt(0) -> ((if (r.isNullAt(1)) None
                               else Some(r.getLong(1))), r.getLong(2))
            }.toMap
        }
      bytes.keysIterator.map(b =>
        b -> BucketEntry(s"$dirTag/$BucketCol=$b",
          if (hasTombstones) stats.get(b).flatMap(_._1) else None,
          Some(bytes(b)), stats.get(b).map(_._2))).toMap
    }
  }

  /** Per-bucket (oldest tombstone batch, row count) from parquet
    * footers only. None when any footer's `TsBatchCol` statistics are
    * unusable while tombstone tracking needs them — the caller then
    * pays the one-scan fallback (trusting an absent min without null
    * accounting would silently age tombstones early).
    */
  private def footerStats(spark: SparkSession,
      files: Map[Int, Array[org.apache.hadoop.fs.FileStatus]],
      hasTombstones: Boolean)
      : Option[Map[Int, (Option[Long], Long)]] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val acc = files.map { case (b, fsts) =>
      var rows = 0L
      var minTs: Option[Long] = None
      for (f <- fsts if f.getPath.getName.endsWith(".parquet")) {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(f, conf))
        try {
          for (blk <- reader.getFooter.getBlocks.asScala) {
            rows += blk.getRowCount
            if (hasTombstones) {
              val st = blk.getColumns.asScala
                .find(_.getPath.toDotString == TsBatchCol)
                .map(_.getStatistics).orNull
              if (st != null && st.hasNonNullValue)
                st.genericGetMin match {
                  case l: java.lang.Long => minTs = Some(
                    minTs.fold(l.longValue)(math.min(_, l.longValue)))
                  case _ => return None // unexpected stats type
                }
              else if (st == null || !st.isNumNullsSet ||
                  st.getNumNulls < blk.getRowCount)
                return None // absent stats, not a provably-null chunk
            }
          }
        } finally reader.close()
      }
      b -> ((minTs, rows))
    }
    Some(acc)
  }

  /** Test seam for the commit race: a one-shot callback consumed inside
    * [[commitManifest]] after its head check and before its claim — the
    * window in which only the claim can see a concurrent commit.
    * Production value is null (no-op).
    */
  private[graft] val raceWindowHook =
    new java.util.concurrent.atomic.AtomicReference[() => Unit](null)

  /** Commit manifest `m` as `name`, the successor of head `pred` (None
    * for the table's first commit). A manifest that exists in
    * `manifests/` IS a commit and the head is the highest one listed,
    * so every commit kind — applies, [[restore]], mirror/rollup/index
    * syncs and maintenance generations — takes the same three steps:
    *
    *  1. check the head. If it is no longer `pred`, a concurrent
    *     committer published a state this op never read; publishing
    *     over it would drop that commit (a lost apply's retry would
    *     then no-op on the replay guard, and maintenance would roll the
    *     table back). Refuse.
    *  2. claim `pred`'s successor slot, `manifests/.after-<pred>`
    *     (`.after-genesis` for the first commit), holding `name`. One
    *     claimant wins; a slot holding another name refuses. A slot
    *     holding `name` is this commit's own crash-retry and proceeds.
    *  3. land the manifest with a no-overwrite rename. If `name` exists
    *     already, a concurrent committer of the same name won (two
    *     appliers of one batch id): refuse.
    *
    * A lost race throws ConcurrentModificationException before its
    * manifest lands, so no reader, [[history]] or time travel ever sees
    * it. Both files land write-temp + rename ([[renameInto]]), never
    * half-written: a torn manifest line would crash the parser, or
    * parse as a silently incomplete snapshot.
    *
    * `name` must sort above `pred`, or the listing would not resolve to
    * the commit just made. The replay guard, [[restore]]'s `head + 1`,
    * the sync watermarks and maintenance's `gen + 1` all ensure it.
    *
    * Caveats: claim and landing are atomic where a rename without
    * overwrite is (HDFS); on Hadoop's local filesystem a root assumes
    * one writing process. A committer that dies between claim and
    * landing leaves the slot claimed: its own retry (same name) lands,
    * and every other commit refuses until then.
    */
  private[streaming] def commitManifest(spark: SparkSession, root: String,
      name: String, m: Manifest, pred: Option[String]): Unit = {
    require(pred.forall(p => Ordering[(Long, Int)].gt(
      parseManifestName(name), parseManifestName(p))),
      s"commit $name on $root must sort above its predecessor " +
        pred.mkString)
    def lost(why: String) = new java.util.ConcurrentModificationException(
      s"lost commit race on $root: $why while $name was prepared — it " +
        "read a stale base and must not be published; retry against " +
        "the new head")
    val predName = pred.getOrElse("genesis")
    val head = currentManifestName(spark, root)
    if (head != pred)
      throw lost(s"the head moved from $predName to " +
        head.getOrElse("<none>"))
    Option(raceWindowHook.getAndSet(null)).foreach(_.apply())
    val mdir = new Path(root, "manifests")
    val claim = new Path(mdir, s".after-$predName")
    if (!renameInto(spark, claim, name)) {
      val winner = readSmallFile(fsFor(spark, root), claim).trim
      if (winner != name)
        throw lost(s"$predName was already succeeded by $winner")
    }
    if (!renameInto(spark, new Path(mdir, name), serializeManifest(m)))
      throw lost(s"another writer committed $name")
  }

  /** Maintenance-generation commit: [[commitManifest]] with a lost race
    * translated to `false`, the documented maintenance guard-abort
    * contract.
    */
  private def commitMaintenance(spark: SparkSession, root: String,
      name: String, m: Manifest, pred: String): Boolean =
    try {
      commitManifest(spark, root, name, m, Some(pred))
      true
    } catch {
      case _: java.util.ConcurrentModificationException => false
    }

  /** Apply one change batch to the snapshot — the body `start` runs per
    * micro-batch, public so the replay/idempotency and partition-scope
    * contracts are directly testable. Returns false when the batch was
    * skipped: already covered by the replay guard, or empty (an idle
    * trigger must not copy-on-write anything — skipping the write AND
    * the commit is safe, since the `>=` guard and latest-wins
    * semantics never depend on contiguous batch ids).
    *
    * `numBuckets` and `tombstoneRetention` take effect at FIRST apply
    * and are recorded in the manifest. Retention (and keys/version/
    * deleted) must match on every later call — a silent mismatch would
    * corrupt merge semantics. The BUCKET COUNT is manifest-authoritative
    * thereafter: later calls use the manifest's layout regardless of the
    * value passed, because [[rebucket]] can legitimately have changed it
    * since table creation.
    *
    * `commitTs` is the commit timestamp recorded in the manifest —
    * wall clock when None, or a caller-supplied logical clock (event
    * time, a reproducible test instant) for deterministic
    * [[resolveAsOf]] behavior.
    */
  def applyBatch(rawBatch: DataFrame, batchId: Long, root: String,
      keys: Seq[String], versionCol: String,
      deletedCol: Option[String], numBuckets: Int = 16,
      tombstoneRetention: Int = DefaultTombstoneRetention,
      commitTs: Option[Long] = None,
      changelog: Boolean = false,
      maxDeltas: Int = 0,
      bucketCols: Option[Seq[String]] = None): Boolean = {
    require(numBuckets >= 1, "numBuckets must be >= 1")
    require(tombstoneRetention >= 0, "tombstoneRetention must be >= 0")
    require(maxDeltas >= 0, "maxDeltas must be >= 0")
    require(keys.nonEmpty, "at least one key column is required")
    bucketCols.foreach { bc =>
      require(bc.nonEmpty && bc.forall(keys.contains),
        s"bucketCols must be a non-empty subset of the key columns " +
          s"$keys, got $bc")
    }
    val spark = rawBatch.sparkSession
    // ChangeBatchCol is reserved too even though it is never stored: a
    // payload column of that name would collide with the feed's stamp
    // rename (duplicate column in changelog writes, ambiguous reference
    // in changesSince results)
    val internal =
      Seq(BucketCol, TsBatchCol, AppliedBatchCol, ChangeBatchCol)
        .filter(rawBatch.columns.contains)
    require(internal.isEmpty,
      s"reserved column names in use: ${internal.mkString(",")}")
    // payload columns may come and go across batches (additive schema
    // evolution), but the merge machinery's own columns may not
    val structural = ((keys :+ versionCol) ++ deletedCol)
      .filterNot(rawBatch.columns.contains)
    require(structural.isEmpty,
      s"batch is missing key/version/deleted columns: " +
        structural.mkString(","))
    // the manifest header is whitespace/comma-delimited text
    val unserializable = (keys :+ versionCol) ++ deletedCol
    require(unserializable.forall(c => !c.exists(" ,\t\n".contains(_))),
      "key/version/deleted column names must not contain spaces, " +
        "commas, or tabs (they are serialized into the manifest header)")
    // ONE head resolution serves the replay guard AND the commit
    // fence: the manifest this merge reads is exactly the head named
    // here, so commitManifest can detect a concurrent applier by
    // checking the head is still it (a separate re-read could tear
    // across a concurrent commit).
    // Replay guard: if the head already covers this batch, the
    // apply committed before the crash — re-merging would read and
    // overwrite the batch's own output
    val predecessor = currentManifestName(spark, root)
    if (predecessor.exists(n => parseManifestName(n)._1 >= batchId))
      return false

    val conf0 = TableConf(numBuckets, keys, versionCol, deletedCol,
      tombstoneRetention, maxDeltas,
      // a declared subset equal to the full key list IS the default
      // layout — normalize so the two spellings never look like a
      // config drift
      bucketCols.filter(_ != keys))
    val existing = predecessor.map(readManifest(spark, root, _))
    existing.foreach { m =>
      // numBuckets, maxDeltas, and bucketKeys are exempt from the
      // match: the manifest is authoritative for LAYOUT knobs
      // (numBuckets legitimately diverges from the caller's
      // first-apply value after a `rebucket`; maxDeltas only moves
      // where the merge cost is paid; bucketKeys is fixed at first
      // apply with no migration op, so re-supplying it is
      // meaningless), and the caller's values are creation-time
      // parameters. Everything else is still fixed at first apply — a
      // silent keys/version/retention change would corrupt merge
      // semantics.
      require(m.conf.copy(numBuckets = conf0.numBuckets,
          maxDeltas = conf0.maxDeltas,
          bucketKeys = conf0.bucketKeys) == conf0,
        s"table config mismatch: manifest has ${m.conf}, caller passed " +
          s"$conf0 — keys, version column, deleted column, and " +
          "tombstone retention are fixed at first apply")
    }
    val conf = existing.map(_.conf).getOrElse(conf0)

    // RENAMED columns arrive under their LOGICAL names; storage keeps
    // the original stored name in every file ever written, so the
    // batch translates logical → stored here (the read boundary
    // translates back). A batch reviving a renamed column's OLD name,
    // or carrying both names at once, is refused — silently merging
    // either would scatter one logical column across two stored ones.
    val renames = existing.map(_.renames).getOrElse(Seq.empty)
    renames.foreach { case (stored, logical) =>
      require(!rawBatch.columns.contains(stored),
        s"batch column '$stored' is the STORAGE name of the column " +
          s"renamed to '$logical' — deliver it as '$logical'")
    }
    val translated = renames.foldLeft(rawBatch) {
      case (df, (stored, logical)) =>
        if (df.columns.contains(logical))
          df.withColumnRenamed(logical, stored)
        else df
    }

    // exact duplicate rows within the batch collapse deterministically;
    // rows with one (key, version) that differ in an ORDERABLE column
    // still raise in latestWins. Non-orderable columns (maps) cannot
    // join a dropDuplicates grouping, so rows differing only there
    // collapse arbitrarily-but-to-one.
    val orderable = translated.schema.fields.collect {
      case f if org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(f.dataType) => f.name
    }
    val deduped = translated.dropDuplicates(orderable.toIndexedSeq)
    // persisted for the three consumers below (touched-set probe, merge
    // read, final write): without it each action re-reads the source
    // and redoes the dedup shuffle — per trigger, on the hot path
    val batch = deduped
      .withColumn(BucketCol, bucketCol(conf.bucketCols, conf.numBuckets))
      .withColumn(TsBatchCol, conf.deletedCol match {
        case Some(d) =>
          when(coalesce(col(d), lit(false)), lit(batchId)).otherwise(
            lit(null).cast("long"))
        case None => lit(null).cast("long")
      })
      // change-feed stamp: this batch delivered these row versions. A
      // stored row keeps the stamp of the batch that last upserted it —
      // merges copy untouched rows forward verbatim, maintenance
      // rewrites preserve all stored columns — so "rows changed since
      // batch N" is a stored-column filter, not a snapshot diff
      .withColumn(AppliedBatchCol, lit(batchId))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try applyPersistedBatch(batch, batchId, root, conf, existing,
      commitTs.getOrElse(System.currentTimeMillis()), changelog,
      predecessor)
    finally batch.unpersist()
  }

  private def applyPersistedBatch(batch: DataFrame, batchId: Long,
      root: String, conf: TableConf,
      existing: Option[Manifest], commitTs: Long,
      changelog: Boolean, predecessor: Option[String]): Boolean = {
    val spark = batch.sparkSession
    // touched-bucket set: at most numBuckets ints — manifest-sized
    // metadata, the same class of driver hop as an index probe list.
    // Doubles as the empty-batch short-circuit: an idle trigger must not
    // copy-on-write anything, and skipping the write AND the commit
    // is safe (the >= replay guard never needs contiguous ids)
    val touched = batch.select(BucketCol).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    if (touched.isEmpty) return false

    // ADDITIVE schema evolution: the table schema is the union of every
    // batch's columns, in first-seen order. A batch may introduce new
    // payload columns (older rows read back NULL there) or omit known
    // ones (its rows store NULL there — whole-row upsert semantics: the
    // new version of the row IS the delivered row). A same-name column
    // with a DIFFERENT type is refused loudly — silent coercion corrupts
    // every pre-evolution row at once.
    import org.apache.spark.sql.types.StructType
    val batchStored = StructType(
      batch.schema.fields.filterNot(_.name == BucketCol))
    val priorStored: Option[StructType] = existing.map(m =>
      m.schema.getOrElse {
        // zero-live-bucket manifest without a schema line (the
        // carried-forward watermark commits of syncMirror/syncRollup
        // over an empty source): there are no files to recover a
        // schema from and no stored rows to clash with — the batch's
        // own schema seeds the table
        if (m.buckets.isEmpty) StructType(Seq.empty)
        // pre-v4 manifest: recover the stored schema from file footers
        // once; the commit below persists it so this never repeats
        else StructType(readRaw(spark, m.dataPaths(root), None)
          .schema.fields.filterNot(_.name == BucketCol))
      })
    priorStored.foreach { prior =>
      val clashes = batchStored.fields.flatMap(f =>
        prior.fields.find(_.name == f.name)
          .filter(_.dataType != f.dataType)
          .map(p => s"${f.name}: table=${p.dataType.simpleString} " +
            s"batch=${f.dataType.simpleString}"))
      require(clashes.isEmpty,
        s"schema evolution type clash: ${clashes.mkString("; ")}")
    }
    val evolved = priorStored.fold(batchStored) { prior =>
      StructType(prior.fields ++ batchStored.fields
        .filterNot(f => prior.fieldNames.contains(f.name))
        .map(_.copy(nullable = true)))
    }
    // align a merge side to the evolved schema: known columns through,
    // absent ones as typed NULLs, evolved order; bucket column rides
    // along untouched
    def align(df: DataFrame): DataFrame =
      df.select(evolved.fields.map(f =>
        if (df.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)).toIndexedSeq
        :+ col(BucketCol): _*)

    // MERGE-ON-READ: no base read, no merge — the batch lands as one
    // pending delta directory and readers resolve. Buckets already at
    // their delta limit take the merge inline (bounding reader width)
    if (conf.maxDeltas > 0)
      return applyMorBatch(align(batch), touched, batchId, root, conf,
        existing, evolved, commitTs, changelog, predecessor)

    // a batch merging into nothing (fresh table, or no touched bucket
    // has prior data): the batch IS the merge input on both branches
    def seedMerge(): (DataFrame, DataFrame) = {
      val b = align(batch)
      (Upsert.latestWins(b.limit(0), b, conf.keys,
        conf.versionCol, deletedCol = None), b)
    }
    val (merged, freshEvents) = existing match {
      case Some(m) =>
        val basePaths = touched.flatMap(m.buckets.get)
          .map(e => s"$root/data/${e.rel}")
        if (basePaths.isEmpty) seedMerge()
        else {
          // the partition column is not stored in the data files (and
          // leaf-dir reads do not recover it), so recompute the bucket —
          // deterministic from the keys. The EVOLVED schema drives the
          // read: pre-evolution files surface NULL for the new columns
          val read = readRaw(spark, basePaths, Some(evolved))
            .withColumn(BucketCol, bucketCol(conf.bucketCols, conf.numBuckets))
          // LOGICAL tombstone expiry: a tombstone past retention is
          // authoritative for nothing — excluded from the merge's view
          // of the base BEFORE the re-delivery anti-join, so the merge
          // outcome is a pure function of (stored logical rows,
          // batchId, retention) and never of WHEN a sweep or an earlier
          // merge happened to physically rewrite this bucket (a
          // vacuumed and an unvacuumed copy of the same logical table
          // must merge identically; sweep cadence is a layout detail)
          val base = conf.deletedCol.fold(read)(dcol =>
            read.filter(!(coalesce(col(dcol), lit(false)) &&
              lit(batchId) - coalesce(col(TsBatchCol), lit(batchId)) >=
                lit(conf.retention.toLong))))
          // rows re-delivered from an ALREADY-APPLIED batch — the base
          // side includes (unexpired) tombstones, so re-delivered
          // deletes are recognized as applied too
          val fresh = align(batch).join(
            base.select((conf.keys :+ conf.versionCol).map(col): _*),
            conf.keys :+ conf.versionCol, "left_anti")
          // deletedCol = None: tombstones are retained as rows; aging
          // and read-time filtering are this object's concern
          (Upsert.latestWins(base, fresh, conf.keys, conf.versionCol,
            deletedCol = None), fresh)
        }
      case None => seedMerge()
    }
    // with the changelog on, freshEvents feeds TWO actions (the log
    // write, and the merge inside the snapshot write) — persist it so
    // the touched-bucket read + anti-join run once per trigger, not
    // twice on the hot path
    val logged =
      if (changelog)
        Some(freshEvents.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      else None
    try {
      // CHANGELOG (opt-in): the batch's accepted change events appended
      // under changelog/b<batch> — the files a streaming consumer
      // ([[readChangesStream]]) tails. "Accepted" = survived dedup and
      // the re-delivery anti-join; a late LOWER-versioned event is
      // still an event (it appears here, loses latest-wins downstream
      // exactly as it lost here — versioned consumers converge).
      // Written before the manifest commit: a crashed apply leaves an
      // orphan log the retry overwrites, so delivery is at-least-once
      // with identical content, the same contract as the data dirs.
      logged.foreach(
        _.drop(BucketCol, TsBatchCol)
          .withColumnRenamed(AppliedBatchCol, ChangeBatchCol)
          .write.mode("overwrite")
          .parquet(new Path(root, s"changelog/b$batchId").toString))
      // age expired tombstones out of the buckets being rewritten
      // anyway; vacuum handles buckets no batch touches again
      val aged = conf.deletedCol.fold(merged)(d =>
        merged.filter(!(coalesce(col(d), lit(false)) &&
          lit(batchId) - coalesce(col(TsBatchCol), lit(batchId)) >=
            lit(conf.retention.toLong))))

      val dirTag = attemptTag(s"v$batchId")
      // one extra shuffle of TOUCHED data only, organizing files per
      // bucket dir. REBALANCE (not repartition): a plain hash
      // repartition maps each bucket to exactly ONE task, so one
      // oversized bucket — snapshot_size/numBuckets can be 100 GB at
      // scale — would write single-threaded; AQE rebalancing splits
      // oversized buckets across tasks and coalesces tiny ones, keeping
      // the write parallel AND the file counts sane
      aged.hint("rebalance", BucketCol)
        .write.partitionBy(BucketCol).mode("overwrite")
        .parquet(new Path(root, s"data/$dirTag").toString)
      val written = writtenEntries(spark, root, dirTag,
        conf.deletedCol.isDefined)
      val prior = existing.map(_.buckets).getOrElse(Map.empty)
      commitManifest(spark, root, s"v$batchId.0",
        Manifest(conf, (prior -- touched) ++ written, Some(evolved),
          Some(commitTs), existing.map(_.renames).getOrElse(Seq.empty)),
        pred = predecessor)
      true
    } finally logged.foreach(_.unpersist())
  }

  /** The merge-on-read half of [[applyPersistedBatch]]: `aligned` is
    * the deduped batch under the evolved schema (bucket column riding
    * along). Per touched bucket, either APPEND the batch's rows as a
    * pending delta (`data/v<batch>`) or — when the bucket already
    * holds `maxDeltas` pending deltas — merge base + deltas + batch
    * inline into `data/v<batch>c` ('c' keeps the two writes of one
    * batch in distinct directories). The apply never reads buckets it
    * only delta-appends to: a trickle batch against a 100 TB snapshot
    * writes O(batch) bytes, and the inline compaction bounds every
    * reader's resolution width to `maxDeltas` directories per bucket.
    *
    * Within-batch version ties still fail loudly (the
    * [[graft.operators.Upsert.latestWins]] guard over the batch
    * alone); CROSS-batch re-delivery of an applied (key, version) is
    * not detectable without the base read this mode exists to skip —
    * [[resolveLatest]] resolves it to the first-applied row, the same
    * outcome copy-on-write produces via its anti-join. The changelog
    * consequently logs every within-batch-deduped event (at-least-once
    * of delivered events; versioned consumers converge), where
    * copy-on-write's log excludes cross-batch re-deliveries.
    */
  private def applyMorBatch(aligned: DataFrame, touched: Seq[Int],
      batchId: Long, root: String, conf: TableConf,
      existing: Option[Manifest],
      evolved: org.apache.spark.sql.types.StructType,
      commitTs: Long, changelog: Boolean,
      predecessor: Option[String]): Boolean = {
    val spark = aligned.sparkSession
    // one row per key per batch: the within-batch winner (tombstones
    // retained as rows), with the latestWins ambiguity guard riding
    // the plan — the loud-failure contract COW gets from its merge
    val slim = Upsert.latestWins(aligned.limit(0), aligned, conf.keys,
      conf.versionCol, deletedCol = None)
    val prior = existing.map(_.buckets).getOrElse(Map.empty)
    val (toCompact, toDelta) = touched.partition(b =>
      prior.get(b).exists(_.deltas.size >= conf.maxDeltas))
    if (changelog)
      aligned.drop(BucketCol, TsBatchCol)
        .withColumnRenamed(AppliedBatchCol, ChangeBatchCol)
        .write.mode("overwrite")
        .parquet(new Path(root, s"changelog/b$batchId").toString)
    val dirTag = attemptTag(s"v$batchId")
    val deltaEntries: Map[Int, BucketEntry] =
      if (toDelta.isEmpty) Map.empty
      else {
        slim.filter(col(BucketCol).isin(toDelta.map(Integer.valueOf): _*))
          .hint("rebalance", BucketCol)
          .write.partitionBy(BucketCol).mode("overwrite")
          .parquet(new Path(root, s"data/$dirTag").toString)
        writtenEntries(spark, root, dirTag,
          hasTombstones = conf.deletedCol.isDefined).map {
          case (b, de) => prior.get(b) match {
            // base stats stay the base's; allMinTs folds the delta's
            // oldest tombstone into the vacuum dirty signal
            case Some(e) => b -> e.copy(deltas = e.deltas :+ de)
            // first rows of a fresh bucket: the "delta" IS the base
            case None => b -> de
          }
        }
      }
    val compactTag = attemptTag(s"v${batchId}c")
    val compactEntries: Map[Int, BucketEntry] =
      if (toCompact.isEmpty) Map.empty
      else {
        val storedPaths = toCompact.flatMap(prior.get).flatMap(_.allRels)
          .map(rel => s"$root/data/$rel").sorted
        val stored = readRaw(spark, storedPaths, Some(evolved))
          .withColumn(BucketCol, bucketCol(conf.bucketCols, conf.numBuckets))
        val fresh = slim.filter(
          col(BucketCol).isin(toCompact.map(Integer.valueOf): _*))
        val merged = resolveLatest(stored.unionByName(fresh), conf)
        // inline compaction is the moment tombstones age, exactly as a
        // copy-on-write merge ages the buckets it rewrites
        val aged = conf.deletedCol.fold(merged)(d =>
          merged.filter(!(coalesce(col(d), lit(false)) &&
            lit(batchId) - coalesce(col(TsBatchCol), lit(batchId)) >=
              lit(conf.retention.toLong))))
        aged.hint("rebalance", BucketCol)
          .write.partitionBy(BucketCol).mode("overwrite")
          .parquet(new Path(root, s"data/$compactTag").toString)
        writtenEntries(spark, root, compactTag,
          hasTombstones = conf.deletedCol.isDefined)
      }
    commitManifest(spark, root, s"v$batchId.0",
      Manifest(conf, (prior -- touched) ++ deltaEntries ++ compactEntries,
        Some(evolved), Some(commitTs),
        existing.map(_.renames).getOrElse(Seq.empty)),
      pred = predecessor)
    true
  }

  /** Start applying `updates` (a streaming DataFrame with `keys`,
    * `versionCol`, and optionally `deletedCol`) to the snapshot under
    * `root`.
    */
  def start(updates: DataFrame, root: String, keys: Seq[String],
      versionCol: String, deletedCol: Option[String] = None,
      queryName: String = "cdc_apply", numBuckets: Int = 16,
      tombstoneRetention: Int = DefaultTombstoneRetention,
      changelog: Boolean = false, maxDeltas: Int = 0,
      bucketCols: Option[Seq[String]] = None): StreamingQuery =
    updates.writeStream
      .queryName(queryName)
      .foreachBatch { (rawBatch: DataFrame, batchId: Long) =>
        applyBatch(rawBatch, batchId, root, keys, versionCol, deletedCol,
          numBuckets, tombstoneRetention, changelog = changelog,
          maxDeltas = maxDeltas, bucketCols = bucketCols)
        ()
      }
      .start()

  /** STREAMING change feed over a changelog-enabled table: a standard
    * file-stream source tailing `root/changelog/b*` — each apply lands
    * its accepted events as new files, the source discovers them per
    * micro-batch, and the consumer's own checkpoint tracks position.
    * Rows carry the delivered columns plus [[ChangeBatchCol]]; deletes
    * arrive as `deletedCol`-flagged rows. Semantics: at-least-once
    * event delivery of EVERY accepted event (including late
    * lower-versioned ones that lose latest-wins — versioned consumers
    * converge regardless), versus [[changesSince]]'s exactly-the-net-
    * change batch view. The schema is DECLARED from the current
    * manifest (file streams cannot infer), so a stream started before
    * an additive evolution must restart to surface new columns; older
    * log files read NULL there, as everywhere else. Changelog dirs of
    * batches the manifest retention has dropped are swept by [[vacuum]]
    * — size retention to the slowest consumer, as with any CDF. None
    * until a first changelog-enabled apply has committed.
    */
  def readChangesStream(spark: SparkSession, root: String)
      : Option[DataFrame] = {
    val fs = fsFor(spark, root)
    if (!fs.exists(new Path(root, "changelog"))) None
    else changeFeedSchema(spark, root).map(declared =>
      spark.readStream
        .schema(declared)
        .parquet(new Path(root, "changelog/b*").toString))
  }

  /** The change feed's declared schema — the manifest's stored schema
    * minus the write-time internal column, with the applied-batch
    * stamp renamed to [[ChangeBatchCol]] (matching what the changelog
    * files physically carry). None before a first schema-bearing
    * commit. Shared by [[readChangesStream]] and the
    * `readStream.format("cdc")` source.
    */
  private[graft] def changeFeedSchema(spark: SparkSession, root: String)
      : Option[org.apache.spark.sql.types.StructType] =
    currentManifest(spark, root).flatMap(_.schema).map { stored =>
      org.apache.spark.sql.types.StructType(stored.fields
        .filterNot(_.name == TsBatchCol)
        .map(f => if (f.name == AppliedBatchCol)
          f.copy(name = ChangeBatchCol) else f))
    }

  /** Batch ids with a COMPLETE changelog directory (`_SUCCESS`
    * present — a dir listed mid-write must not advance a source
    * offset), ascending. Empty when the table has no changelog.
    */
  private[graft] def changelogBatchIds(spark: SparkSession,
      root: String): Seq[Long] = {
    val fs = fsFor(spark, root)
    val dir = new Path(root, "changelog")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("b"))
      .filter(p => fs.exists(new Path(p, "_SUCCESS")))
      .flatMap(p => scala.util.Try(p.getName.stripPrefix("b").toLong)
        .toOption)
      .sorted
  }

  /** One-shot bootstrap for a changelog consumer whose checkpoint fell
    * outside retention ([[vacuum]] swept batches it had not seen — the
    * file-stream source cannot tell a swept batch from one that never
    * existed, so the consumer would silently never see those events):
    * the documented recovery recipe promoted to a helper, mirroring
    * [[reseedMirror]]. Returns the bootstrap frame — the table's full
    * live state plus unexpired tombstones, each row stamped with its
    * applying batch under [[ChangeBatchCol]], the stream's exact shape
    * — together with the head batch id it covers (ONE head read, so
    * frame and watermark cannot tear across a concurrent apply).
    * Protocol: stop the consumer, process the frame as one batch,
    * restart [[readChangesStream]] with a FRESH checkpoint dir. Events
    * applied between this read and the restart re-deliver
    * at-least-once, which versioned consumers already tolerate — the
    * same bound every bootstrap in this file carries. Cost: one full
    * snapshot read, the unavoidable price of a past-retention reseed.
    * None before the first apply (or when the snapshot holds zero live
    * buckets — nothing to bootstrap).
    */
  def reseedChangesConsumer(spark: SparkSession, root: String)
      : Option[(DataFrame, Long)] =
    currentManifestAndVersion(spark, root).flatMap { case (m, cur) =>
      changesInManifest(spark, root, m, -1L).map(df => (df, cur))
    }
}
