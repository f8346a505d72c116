package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.ann.Ann
import graft.dedup.Dedup
import graft.functions.{TextFunctions => T}
import graft.multimodal.{Multimodal => M}
import graft.operators.Profile
import graft.search.Bm25
import graft.sources.Tables

import graft.queries.TierCHelpers._

/** Tier C — training-data pipeline assembly and event
  * analytics (streams, sessionization, interval joins, partition/DPP
  * pruning, sketches, sampling, mixtures, shuffles/splits/packing,
  * compaction, z-order, sinks, multimodal columns). Split from the
  * single TierC file (r16, maintainability); assembled with its
  * siblings at the [[TierC]] edge — keys, bodies and oracles are
  * verbatim, so the declared-query surface is unchanged.
  */
private[queries] object TierCPipeline {

  val queries: Map[String, TierC.Q] = Map(

    // C2b'' — weight-proportional sampling without replacement
    // (Duffield–Lund–Thorup priority sampling): id-derived exact
    // uniforms over token-count weights, k smallest u/w priorities.
    // One map-side projection + TakeOrdered — sampling 1M docs of
    // 100 TB costs one scan; the exact-IEEE priority makes the whole
    // sample hash-checkable.
    "q_weighted_sample" -> ((s, d) =>
      graft.operators.Sampling.prioritySample(
        Tables.documents(s, d)
          .select(col("doc_id"), T.tokenCount(col("text")).as("w")),
        "doc_id", col("w"), 50)),

    // C5 — tumbling-window event counts. The aggregation body is
    // graft.streaming.EventStream.hourlyCounts — literally the same
    // function that runs incrementally under readStream/writeStream with a
    // watermark (see EventStreamSpec); on this batch input the watermark
    // node is eliminated and it is a plain two-phase hash aggregate.
    "q_stream_window" -> ((s, d) =>
      graft.streaming.EventStream.hourlyCounts(Tables.events(s, d))
        .withColumn("hour_ts", col("hour_ts").cast("timestamp_ntz"))
        .orderBy(col("hour_ts"), col("event_type"))),

    // C5b — per-user sessionization (30-minute gap) via the built-in
    // session_window; state per open session on a stream.
    "q_sessionize" -> ((s, d) =>
      graft.streaming.EventStream.sessionize(Tables.events(s, d))
        .withColumn("session_start",
          col("session_start").cast("timestamp_ntz"))
        .orderBy(col("user_id"), col("session_start"))),

    // C5c — the SAME sessionization through the typed
    // flatMapGroupsWithState API (custom-state surface for logic the
    // built-in window can't express); checked against the identical
    // oracle as q_sessionize.
    "q_sessionize_typed" -> ((s, d) =>
      graft.streaming.TypedSessionize.sessionize(s, Tables.events(s, d),
          gapMinutes = 30)
        .orderBy(col("user_id"), col("session_start"))),

    // C5d — interval join (stream-stream join family, batch form): each
    // purchase paired with the same user's views from the preceding hour,
    // then aggregated per purchase. The body is EventStream.intervalJoin —
    // the same function runs as a watermarked stream-stream join
    // (EventStreamSpec); here the watermark-free batch plan is an equality
    // join on user_id with the time range as a join-side filter.
    "q_interval_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .filter(col("event_id") < 3000)
        .select(col("event_id"), col("user_id"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
          col("value").as("v_value"))
      graft.streaming.EventStream.intervalJoin(p, v, "user_id", "v_user",
          "ts", "v_ts", "1 HOUR", "left_outer")
        .groupBy(col("event_id"), col("user_id"), col("ts"))
        .agg(count(col("v_ts")).as("n_views_1h"),
          dsum(col("v_value")).as("view_value_1h"))
        .orderBy(col("event_id"))
    }),

    // Partition-pruned daily slice: events materialized partitioned by
    // event_date (the 100 TB fact layout) — the date predicate prunes
    // whole partitions at plan time (PartitionFilters in .explain), so
    // scan cost is 1/30th of the table here and 1/N in general.
    "q_partition_prune" -> ((s, d) =>
      Tables.eventsByDate(s, d)
        .filter(col("event_date") === lit("2024-01-15").cast("date"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("total_value"))
        .orderBy(col("event_type"))),

    // Dynamic partition pruning — the join-driven twin of
    // q_partition_prune: the fact table is joined to the derived date
    // dimension filtered on a STORED attribute (dom_mod), so no static
    // predicate on event_date exists at plan time; Catalyst's
    // PartitionPruning rule attaches the broadcast dimension's surviving
    // keys to the fact scan as a runtime DynamicPruningExpression and
    // only the matching date partitions are read (plan-asserted in
    // DppSpec). At 100 TB this is THE star-schema scan-cost mechanism:
    // scan cost follows the dimension filter, not the fact size.
    "q_dpp_join" -> ((s, d) => {
      val fact = Tables.eventsByDate(s, d)
      val dim = Tables.dateDim(s, d).filter(col("dom_mod") === 3)
      fact.join(broadcast(dim), col("event_date") === col("d"))
        .groupBy(col("event_date"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("total_value"))
        .orderBy(col("event_date"), col("event_type"))
    }),

    // C6 — distinct users per event type (exact, for the oracle; the HLL
    // variant is q_hll_distinct below).
    "q_approx_distinct" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("cnt"))
        .orderBy(col("event_type"))),

    // JSON extraction from the events props column.
    "q_json_extract" -> ((s, d) =>
      Tables.events(s, d)
        .filter(col("event_id") < 500)
        .select(col("event_id"), col("event_type"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k_val"))
        .orderBy(col("event_id"))),

    // ---- rows-only checked (approximate / hash-specific semantics) ----

    // HLL sketch distinct — the scale path for C6 (one pass, no shuffle of
    // raw user ids, mergeable partial sketches).
    "q_hll_distinct" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
        .orderBy(col("event_type"))),

    // C6b — count-min sketch token frequencies: the exact top-10 vocab
    // words probed against a CMS whose size (4 × 4096 cells) is
    // independent of the corpus — the frequency sibling of
    // q_hll_distinct. est_cnt never undercounts; ToleranceSpec pins
    // the CMS epsilon bound against the exact counts. Rows-only:
    // xxhash64 cell placement is engine-specific.
    "q_cms_freq" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(explode(T.tokens(col("text"))).as("word"))
      val top = toks.groupBy(col("word"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(10)
        .select(col("word"))
      val sk = graft.operators.CountMin.sketch(toks, "word", 4096, 4)
      graft.operators.CountMin.estimate(sk, top, "word", 4096, 4)
        .orderBy(col("est_cnt").desc, col("word"))
    }),

    // C2i — data-mixture sampling: per-language keep quotas applied with
    // a DETERMINISTIC id-mod rule (reproducible across runs and engines,
    // unlike seeded Bernoulli sampling whose RNG is engine-specific),
    // reporting the achieved mixture. This is the pretraining "mixing
    // weights" op; at 100 TB it is a pure map-side filter + one agg —
    // no shuffle of kept rows, no sampling coordinator.
    "q_data_mixture" -> ((s, d) => {
      val quota = when(col("lang") === "en", 60)
        .when(col("lang") === "zh", 40).otherwise(20)
      Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(100)) < quota)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("kept_docs"),
          sum(T.tokenCount(col("text"))).as("kept_tokens"))
        .orderBy(col("lang"))
    }),

    // C5c — ordered funnel analysis (view → click → purchase, each
    // step strictly after the previous per user): the product-
    // analytics staple. Each stage is one equi-join on user_id + a
    // min-aggregate (map-side partial), so a 100 TB event log pays
    // three user-keyed shuffles — co-partition events by user to
    // collapse them. Output = per-step user counts via a 3-row union,
    // no 1-row cross join.
    "q_funnel" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      v.select(lit("1_view").as("step"), col("user_id"))
        .unionByName(c.select(lit("2_click").as("step"), col("user_id")))
        .unionByName(
          p.select(lit("3_purchase").as("step"), col("user_id")))
        .groupBy(col("step")).agg(count(lit(1)).as("users"))
        .orderBy(col("step"))
    }),

    // C5d — weekly cohort retention: users cohorted by first-signup
    // week, retained if ANY activity lands in the following ISO week.
    // date_trunc('week') is ISO-Monday in both engines and interval
    // arithmetic is exact, so the cohort table hash-checks. Shape:
    // one distinct (user, week) projection + one equi-join on
    // user_id + a two-phase count — no window over the raw log.
    "q_retention" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        col("event_type"), col("ts"))
      val cohort = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("sts"))
        .select(col("user_id"), date_trunc("week", col("sts")).as("cw"))
      val active = ev
        .select(col("user_id"), date_trunc("week", col("ts")).as("aw"))
        .distinct()
      val w1 = cohort.join(active, Seq("user_id"))
        .filter(col("aw") === col("cw") + expr("INTERVAL '7' DAY"))
        .select(col("user_id"), lit(1).as("flag")).distinct()
      cohort.join(w1, Seq("user_id"), "left")
        .groupBy(col("cw"))
        .agg(count(lit(1)).as("cohort_users"),
          count(col("flag")).as("retained_w1"))
        .orderBy(col("cw"))
    }),

    // C2i2 — temperature-scaled mixture weights (the multilingual
    // sampling standard: raise every language's share to alpha < 1 so
    // low-resource languages up-sample — Xue et al. 2021, mT5).
    // alpha = 1/2 here, deliberately: sqrt and division are the IEEE
    // operations BOTH engines round correctly, so the weights are
    // bit-exact and hash-checked (pow(x, 0.3) is not correctly-rounded
    // and an order-dependent normalizing SUM of doubles is not
    // reproducible — normalizing by the MAX keeps every step exact).
    // One two-phase count aggregate + a broadcast 1-row max join.
    "q_mixture_temperature" -> ((s, d) => {
      val counts = Tables.documents(s, d)
        .groupBy(col("lang"))
        .agg(sum(T.tokenCount(col("text"))).as("n_tokens"))
      val maxTok = counts.agg(max(col("n_tokens")).as("max_tokens"))
      counts.crossJoin(broadcast(maxTok))
        .select(col("lang"), col("n_tokens"),
          (sqrt(col("n_tokens").cast("double")) /
            sqrt(col("max_tokens").cast("double"))).as("rel_weight"))
        .orderBy(col("lang"))
    }),

    // C2j — reproducible corpus shuffle: training order randomized by a
    // Knuth multiplicative scramble of the id — exact integer arithmetic,
    // so the permutation is bit-identical across engines and runs (a
    // seeded rand() is neither). At scale the orderBy is a range-
    // partitioned sort: sampled split points, one shuffle, per-partition
    // sorts — the standard distributed shuffle-for-training pass.
    // The scramble is (id mod 2^32) * 2654435761 mod 2^32, computed as
    // two 48-bit-safe modmuls (multiplier split 40503*2^16 + 31153): a
    // single 64-bit product silently wraps for id >~ 3.5e9 (and diverges
    // from any wide-integer oracle; ANSI mode would throw). Identical to
    // the naive formula for every id < 2^32, overflow-free for all ids
    // (unit-checked against BigInt at id = 2^33).
    "q_train_shuffle" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), trainShuffleKey(col("doc_id"))
          .as("shuffle_key"))
        .orderBy(col("shuffle_key"), col("doc_id"))
        .limit(100)),

    // C2k — context-window chunking: each document split into fixed
    // token-budget training chunks (here 32 tokens) with the tail chunk
    // short. Entirely map-side (sequence + slice inside one projection,
    // then a generator) — the shape of every packing/chunking pass that
    // feeds a tokenizer at 100 TB.
    "q_doc_chunks" -> ((s, d) => {
      val chunkLen = 32
      Tables.documents(s, d)
        .filter(col("doc_id") < 300)
        .select(col("doc_id"), T.tokens(col("text")).as("toks"))
        // a zero-token document has no chunks (mirrors the oracle's
        // empty range()); without this, sequence(0, -1) would emit a
        // DESCENDING [0, -1] and fabricate two bogus chunks
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"), explode(transform(
          sequence(lit(0),
            ceil(size(col("toks")) / lit(chunkLen.toDouble))
              .cast("int") - 1),
          i => struct(
            i.cast(LongType).as("chunk_idx"),
            concat_ws(" ",
              slice(col("toks"), i * chunkLen + 1, lit(chunkLen)))
              .as("chunk_text"),
            least(lit(chunkLen), size(col("toks")) - i * chunkLen)
              .cast(LongType).as("chunk_tokens")))).as("ch"))
        .select(col("doc_id"), col("ch.chunk_idx"), col("ch.chunk_text"),
          col("ch.chunk_tokens"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // C2l — stratified train/val/test split: the scrambled id modulo 100
    // buckets rows 80/10/10, DETERMINISTICALLY (the same doc lands in
    // the same split on every run and every engine — a seeded
    // randomSplit is neither), and the per-(lang, split) report verifies
    // stratification: the scramble is independent of lang, so each
    // language splits ~80/10/10 internally. At 100 TB: one map-side
    // projection + a two-phase agg — assigning the split shuffles
    // NOTHING; only the report aggregates.
    "q_train_split" -> ((s, d) => {
      val bucket = pmod(trainShuffleKey(col("doc_id")), lit(100L))
      Tables.documents(s, d)
        .select(col("lang"),
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test").as("split"),
          T.tokenCount(col("text")).as("tok"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tokens"))
        .orderBy(col("lang"), col("split"))
    }),

    // C2m — sequence packing: shuffled docs concatenated into one token
    // stream, cut into 512-token context windows, each doc assigned the
    // window its first token falls in (Packing.packBins — a distributed
    // prefix sum, never a single-partition global window). The declared
    // query runs the STAGED path — the scale configuration, where the
    // prepared rows are materialized once and the offsets pass reads a
    // column-pruned projection of the staged parquet instead of
    // re-running scan + tokenize (fingerprint-keyed artifact dir, like
    // every other one-time layout build) — so the plan the oracle gate
    // certifies is the one-source-scan plan a 100 TB run would use
    // (single-scan claim machine-checked in OperatorsSpec). Reported as
    // per-bin doc counts + token mass over the first 50 bins.
    "q_pack_sequences" -> ((s, d) =>
      graft.operators.Packing.packBins(
        Tables.documents(s, d).filter(col("doc_id") < 2000)
          .select(col("doc_id"), col("text"),
            trainShuffleKey(col("doc_id")).as("sk")),
        Seq(col("sk"), col("doc_id")), T.tokenCount(col("text")), 512L,
        stagingDir = Some(
          "target/graft-data/pack_staging/" +
            graft.sources.Artifacts.datasetKey(d,
              s"$d/documents.parquet")))
        .groupBy(col("bin_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("_tok")).as("bin_tokens"))
        .orderBy(col("bin_id"))
        .limit(50)),

    // C2n — per-group deterministic sample: the first 50 docs of each
    // language in scrambled-id order (eval-set construction: a fixed,
    // reproducible per-stratum draw; a seeded sampleBy is neither
    // stable across engines nor exactly sized). A naive
    // `row_number over (partition by lang)` funnels the WHOLE corpus
    // through one reducer per language — 5 tasks for 100 TB — so the
    // global rank runs after a LOCAL prune: every input partition keeps
    // its own top-50 per language first (parallelism = partitions ×
    // languages), and the lang-partitioned window then ranks at most
    // 50 × partitions survivors per language. Global top-50 ⊆ union of
    // per-partition top-50s, so the result is exact.
    "q_group_sample" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          trainShuffleKey(col("doc_id")).as("sk"))
        .withColumn("_pid", spark_partition_id())
      val pruned = scored
        .withColumn("_lrk", row_number().over(
          Window.partitionBy(col("_pid"), col("lang"))
            .orderBy(col("sk"), col("doc_id"))))
        .filter(col("_lrk") <= 50)
      pruned
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("lang"))
            .orderBy(col("sk"), col("doc_id"))))
        .filter(col("rk") <= 50)
        .select(col("lang"), col("doc_id"), col("rk").cast(LongType)
          .as("rk"))
        .orderBy(col("lang"), col("rk"))
    }),

    // (sink) — small-file compaction under the correctness gate: the
    // fact table rewritten through Sinks.compactParquet (size-derived
    // file count, write-new-directory) and aggregated FROM THE COMPACTED
    // COPY; the oracle aggregates the original, so any row lost or
    // duplicated in the rewrite hash-mismatches. Artifact-idempotent
    // like every other one-time layout build.
    "q_compacted" -> ((s, d) => {
      import graft.sources.{Artifacts, Sinks}
      val out = new java.io.File("target/graft-data/events_compacted/" +
        Artifacts.datasetKey(d, s"$d/events.parquet"))
      Artifacts.commitOnce(s, out.getAbsolutePath)(tmp =>
        Sinks.compactParquet(s, s"$d/events.parquet", tmp,
          targetBytes = 4L << 20))
      val compacted = s.read.parquet(out.getAbsolutePath)
      compacted
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("total_value"))
        .orderBy(col("event_type"))
    }),

    // (sink) — Z-order layout under the correctness gate: the fact table
    // rewritten through ZOrder.cluster (rank-quantized Morton curve on
    // (user_id, value), one range shuffle) and aggregated FROM THE
    // CLUSTERED COPY with a predicate on the SECOND curve dimension —
    // the one a single-column sort cannot prune. The oracle runs the
    // same aggregate on the original table, so any row lost, duplicated,
    // or mutated by the layout rewrite hash-mismatches. The pruning
    // claim itself (file envelopes skip on either dimension) is
    // machine-checked in ZOrderSpec against per-file min/max envelopes.
    "q_zorder" -> ((s, d) => {
      import graft.sources.{Artifacts, ZOrder}
      val out = new java.io.File("target/graft-data/events_zorder/" +
        Artifacts.datasetKey(d, s"$d/events.parquet"))
      Artifacts.commitOnce(s, out.getAbsolutePath)(tmp =>
        ZOrder.cluster(s, s"$d/events.parquet", tmp,
          "user_id", "value", numFiles = 16))
      val clustered = s.read.parquet(out.getAbsolutePath)
      clustered
        .filter(col("value") >= 0 && col("value") <= 30)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("total_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    }),

    // C7 — JSONL dataset sink/source round-trip: the de-facto training-
    // data interchange format (one JSON object per line, splittable,
    // parallel parts — not the coalesced result-set CSV contract).
    // Re-read with a DECLARED schema (inference scans once to guess and
    // a field missing from early files silently drops the column), then
    // aggregated — proving the round trip is lossless.
    "q_jsonl_sink" -> ((s, d) => {
      import org.apache.spark.sql.types.{LongType => LT, StringType => ST,
        StructField => SF, StructType => STt}
      // keyed by dataset like every other persisted artifact (a fixed
      // path would interleave concurrent runs across datasets) and
      // commitOnce-guarded like them too: an unconditional overwrite
      // would let run B's rewrite race run A's read of the same dir
      val path = new java.io.File("target/graft-data/jsonl/docs_head_" +
        graft.sources.Artifacts.datasetKey(d, s"$d/documents.parquet"))
        .getAbsolutePath
      val subset = Tables.documents(s, d)
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.sources.Artifacts.commitOnce(s, path)(tmp =>
        graft.sources.Sinks.writeJsonl(subset, tmp))
      graft.sources.Sinks.readJsonl(s, path, STt(Seq(
          SF("doc_id", LT), SF("lang", ST), SF("n_chars", LT))))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"))
    }),

    // C7b — ORC dataset round trip, the twin of q_jsonl_sink on the
    // second columnar lake format: write a subset as ORC, re-read with
    // a declared schema, aggregate — lossless round trip proven against
    // the oracle computed from the original table.
    "q_orc_sink" -> ((s, d) => {
      import org.apache.spark.sql.types.{LongType => LT, StringType => ST,
        StructField => SF, StructType => STt}
      val path = new java.io.File("target/graft-data/orc/docs_head_" +
        graft.sources.Artifacts.datasetKey(d, s"$d/documents.parquet"))
        .getAbsolutePath
      val subset = Tables.documents(s, d)
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.sources.Artifacts.commitOnce(s, path)(tmp =>
        graft.sources.Sinks.writeOrc(subset, tmp))
      graft.sources.Sinks.readOrc(s, path, STt(Seq(
          SF("doc_id", LT), SF("lang", ST), SF("n_chars", LT))))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"))
    }),

    // ---- multimodal (binary payload columns; graft.multimodal) ----

    // Per-media-type size stats over the typed sidecar metadata (the
    // SOURCE asset's content length — image payloads themselves are
    // real PNG bytes whose encoded size no SQL oracle can reproduce).
    "q_media_stats" -> ((s, d) =>
      M.mediaFromDocs(Tables.documents(s, d))
        .groupBy(col("media_type"))
        .agg(count(lit(1)).as("n_media"),
          sum(col("meta.byte_len")).as("total_bytes"),
          max(col("meta.byte_len")).as("max_bytes"))
        .orderBy(col("media_type"))),

    // REAL image + audio decode and the stubbed video feature in ONE
    // map-side pass: image rows (genuine PNG payloads) decode to their
    // true dimensions and mean luma, audio rows (genuine WAV payloads)
    // parse through the JDK's own audio reader to rate/length/
    // loudness; rows of the other types decode NULL on each codec —
    // no media-type dispatch. Rows-only (PNG/WAV byte streams and
    // xxhash features are engine-specific); MultimodalSpec pins both
    // decodes exactly — dimensions and sample counts round-trip the
    // encoders' seed formulas bit-for-bit.
    "q_media_decode" -> ((s, d) =>
      M.mediaFromDocs(Tables.documents(s, d))
        .filter(col("media_id") < 200)
        .withColumn("img", M.decodeImage(col("payload")))
        .withColumn("au", M.decodeAudio(col("payload")))
        .select(col("media_id"), col("media_type"),
          col("img.width").as("width"),
          col("img.height").as("height"),
          round(col("img.mean_luma"), 2).as("mean_luma"),
          col("au.sample_rate").as("sample_rate"),
          col("au.n_samples").as("n_samples"),
          round(col("au.rms"), 4).as("rms"),
          round(col("au.peak"), 4).as("peak"),
          size(M.frameSample(col("payload"), 4, 16)).as("n_frames"),
          element_at(M.decodeStub(col("payload"), 8), 1).as("feat0"),
          M.payloadFingerprint(col("payload")).as("payload_fp"))
        .orderBy(col("media_id"))),

    // The video facet that IS oracle-checkable: frame count and
    // dimensions recovered by walking the REAL RIFF container and
    // JPEG-decoding every frame follow the encoder's seed formulas,
    // so DuckDB reproduces them from doc_id alone — a chunk-layout
    // slip, a miscounted frame, or a misdecoded dimension
    // hash-mismatches (pixel stats are JPEG-lossy: spec-bounded, not
    // oracled).
    "q_media_video" -> ((s, d) =>
      M.mediaFromDocs(Tables.documents(s, d))
        .filter(col("media_type") === "video" && col("media_id") < 400)
        .withColumn("v", M.decodeVideo(col("payload")))
        .select(col("media_id"), col("v.n_frames").as("n_frames"),
          col("v.width").as("width"), col("v.height").as("height"))
        .orderBy(col("media_id"))),

    // The audio half that IS oracle-checkable: the WAV header fields
    // the decode recovers (rate, sample count) follow the encoder's
    // seed formulas, so DuckDB reproduces them from doc_id alone —
    // a hash-checked proof the bytes round-trip the REAL JDK parser
    // (a malformed header, wrong data length, or byte-order slip
    // breaks rate or count; rms/peak stay spec-pinned).
    "q_media_audio" -> ((s, d) =>
      M.mediaFromDocs(Tables.documents(s, d))
        .filter(col("media_type") === "audio" && col("media_id") < 400)
        .withColumn("au", M.decodeAudio(col("payload")))
        .select(col("media_id"),
          col("au.sample_rate").as("sample_rate"),
          col("au.n_samples").as("n_samples"))
        .orderBy(col("media_id"))),

    // Perceptual IMAGE near-dup: every image doc with media_id % 6
    // == 0 gets a planted retouched copy (png_perturb: 3 low-bit
    // pixel edits + PNG re-encode — every payload byte changes, the
    // picture doesn't), and the dHash banding join recovers exactly
    // those pairs: decode-level dedup that byte fingerprints
    // structurally cannot do. Rows-only (ImageIO decode + integer
    // bilinear resampling are not expressible in DuckDB);
    // MultimodalSpec pins determinism, planted-pair recall at
    // Hamming <= 3, unrelated-pair separation, and NULL pass-through
    // for non-image payloads.
    "q_image_neardup" -> ((s, d) => {
      val images = M.mediaFromDocs(Tables.documents(s, d))
        .filter(col("media_type") === "image" && col("media_id") < 3000)
        .select(col("media_id"), col("payload"))
      val variants = images.filter(col("media_id") % 6 === 0)
        .select((col("media_id") + lit(1000000L)).as("media_id"),
          graft.functions.GraftFunctions
            .pngPerturb(col("payload"), col("media_id")).as("payload"))
      M.imageNearDupPairs(images.unionByName(variants),
        "media_id", "payload")
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Perceptual AUDIO near-dup — the audio sibling of
    // q_image_neardup: planted wav_perturb copies (3 PCM sample
    // low-bit edits — a different exact byte fingerprint, the same
    // waveform) recovered by the amplitude-probe fingerprint under
    // 8-bit chunk banding. The recall here is PROVABLE, not
    // statistical: 3 edits move the fingerprint at most 6 bits
    // (each edited sample feeds at most 2 probe comparisons) and
    // 8 chunks pigeonhole-guarantee every Hamming <= 7 pair a
    // shared chunk. The corpus payloads are pure tones, so
    // CLOSE-FREQUENCY tone pairs also land under the threshold —
    // same-pitch audio pairing up is the perceptual fingerprint
    // working as intended, and the output stays deterministic.
    // Rows-only (JDK audio parsing not expressible in DuckDB);
    // MultimodalSpec pins determinism, the edit bound, and
    // guaranteed planted-pair recall.
    "q_audio_neardup" -> ((s, d) => {
      // deliberately NOT scan-spread even after the r22 registry-free
      // WAV parser made the encode+fingerprint map work thread-safe:
      // measured (r22, 4 reps, spread vs not, after the cappedPairs
      // single-sort fix) the fingerprint projection is ~0.3 s of which
      // scan+job overhead dominates, and the two round-robin exchanges
      // cost more than the parallelism returns (0.7 s → 1.1-1.8 s).
      // On a real cluster the file layout splits the scan for free.
      val audios = M.mediaFromDocs(Tables.documents(s, d))
        .filter(col("media_type") === "audio" && col("media_id") < 3000)
        .select(col("media_id"), col("payload"))
      val variants = audios.filter(col("media_id") % 6 === 1)
        .select((col("media_id") + lit(1000000L)).as("media_id"),
          graft.functions.GraftFunctions
            .wavPerturb(col("payload"), col("media_id")).as("payload"))
      M.audioNearDupPairs(audios.unionByName(variants),
        "media_id", "payload")
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Denoising-LM training pairs (BERT/T5-style token corruption):
    // deterministic id-derived masking — token i of doc d masks iff
    // (d*131 + i) % 10 < 2, a 20% rate — so every run and engine
    // builds the SAME pairs (a sampled mask would be neither
    // resumable nor oracle-checkable). inputs = the corrupted text,
    // targets = the masked-out tokens in order. Pure map-side array
    // lambdas over the token split; hash-checked end to end.
    "q_mask_corruption" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(col("doc_id") < 300)
        .select(col("doc_id"),
          array_join(T.maskTokens(col("doc_id"), col("text")), " ")
            .as("inputs"),
          array_join(T.maskedTargets(col("doc_id"), col("text")), " ")
            .as("targets"),
          size(T.maskedTargets(col("doc_id"), col("text")))
            .cast(LongType).as("n_masked"))
        .orderBy(col("doc_id"))),

    // PageRank over the part co-purchase graph (parts sharing an
    // order), in EXACT integer arithmetic (operators/PageRank): ranks
    // on a 1e-9 fixed-point grid, damping 85/100, 3 iterations — every
    // op is a 64-bit integer op and the inbound sums are order-
    // independent, so the run is bit-identical on any engine/partition
    // count and the top-50 hash-checks where a float PageRank never
    // could. The co-occurrence self-join is per-order (≤ items² per
    // order, never corpus-wide); each iteration shuffles (long, long)
    // pairs only.
    "q_pagerank" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
        .select(col("a.l_partkey").cast(LongType).as("src"),
          col("b.l_partkey").cast(LongType).as("dst"))
        .distinct()
      // the co-purchase graph is a BUILD ARTIFACT (the signature/
      // centroid-index posture): the per-order co-occurrence explosion
      // + distinct is the query's dominant cost and is a pure function
      // of the dataset — build once, every run reads the edge parquet
      val edgesPath = new java.io.File(
        "target/graft-data/pagerank_edges/" +
        graft.sources.Artifacts.datasetKey(d, s"$d/lineitem.parquet"))
        .getAbsolutePath
      synchronized {
        graft.sources.Artifacts.commitOnce(s, edgesPath)(tmp =>
          edges.write.mode("overwrite").parquet(tmp))
      }
      // cutEvery = iters: every rank reference is linear, so the three
      // iterations execute as ONE uncut job at the caller's action
      // instead of three materializations (r22; SpreadSpec pins the
      // cut-interval rank equality, exact integer arithmetic)
      graft.operators.PageRank.run(s.read.parquet(edgesPath), iters = 3,
        cutEvery = 3)
        .orderBy(col("rank").desc, col("id"))
        .limit(50)
        .select(col("id").as("part_id"), col("rank"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q_jsonl_sink" ->
      ("SELECT lang, COUNT(*) AS n_docs, " +
        "CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM documents " +
        "WHERE doc_id < 100 GROUP BY lang ORDER BY lang"),
    "q_interval_join" ->
      ("WITH p AS (SELECT event_id, user_id, ts FROM events " +
        "WHERE event_type = 'purchase' AND event_id < 3000), " +
        "v AS (SELECT user_id AS v_user, ts AS v_ts, value AS v_value " +
        "FROM events WHERE event_type = 'view') " +
        "SELECT p.event_id, p.user_id, p.ts, " +
        "COUNT(v.v_ts) AS n_views_1h, " +
        "CAST(SUM(CAST(v.v_value AS DECIMAL(18,2))) AS DOUBLE) " +
        "AS view_value_1h FROM p LEFT JOIN v " +
        "ON p.user_id = v.v_user " +
        "AND v.v_ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts " +
        "GROUP BY p.event_id, p.user_id, p.ts ORDER BY p.event_id"),
    "q_weighted_sample" ->
      ("SELECT doc_id, w, u / w AS priority FROM (SELECT doc_id, " +
        "CAST(len(list_filter(regexp_split_to_array(trim(text), " +
        "'\\s+'), t -> t <> '')) AS BIGINT) AS w, " +
        "(CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE) + 0.5) " +
        "/ 4294967296.0 AS u FROM documents) " +
        "ORDER BY priority, doc_id LIMIT 50"),
    "q_stream_window" ->
      ("SELECT date_trunc('hour', ts) AS hour_ts, event_type, " +
        "COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value " +
        "FROM events GROUP BY 1, 2 ORDER BY hour_ts, event_type"),
    "q_approx_distinct" ->
      ("SELECT event_type, COUNT(DISTINCT user_id) AS n_users, " +
        "COUNT(*) AS cnt FROM events GROUP BY event_type " +
        "ORDER BY event_type"),
    "q_json_extract" ->
      ("SELECT event_id, event_type, " +
        "CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val " +
        "FROM events WHERE event_id < 500 ORDER BY event_id"),
    "q_orc_sink" ->
      ("SELECT lang, COUNT(*) AS n_docs, " +
        "CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM documents " +
        "WHERE doc_id < 100 GROUP BY lang ORDER BY lang"),
    // the same (doc_id*131 + i) % 10 < 2 mask rule over 1-based list
    // indexing (i-1 re-zero-bases it)
    "q_mask_corruption" ->
      ("WITH t AS (SELECT doc_id, list_filter(" +
        "regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') " +
        "AS toks FROM documents WHERE doc_id < 300), " +
        "m AS (SELECT doc_id, " +
        "list_transform(range(1, len(toks)+1), i -> CASE WHEN " +
        "(doc_id * 131 + (i-1)) % 10 < 2 THEN '<mask>' " +
        "ELSE toks[i] END) AS inp, " +
        "list_transform(list_filter(range(1, len(toks)+1), i -> " +
        "(doc_id * 131 + (i-1)) % 10 < 2), i -> toks[i]) AS tgt " +
        "FROM t) " +
        "SELECT doc_id, array_to_string(inp, ' ') AS inputs, " +
        "array_to_string(tgt, ' ') AS targets, " +
        "CAST(len(tgt) AS BIGINT) AS n_masked FROM m ORDER BY doc_id"),
    "q_data_mixture" ->
      ("SELECT lang, COUNT(*) AS kept_docs, " +
        "CAST(SUM(len(list_filter(regexp_split_to_array(trim(text), " +
        "'\\s+'), t -> t <> ''))) AS BIGINT) AS kept_tokens " +
        "FROM documents WHERE doc_id % 100 < " +
        "CASE WHEN lang = 'en' THEN 60 WHEN lang = 'zh' THEN 40 " +
        "ELSE 20 END GROUP BY lang ORDER BY lang"),
    "q_funnel" ->
      ("WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events " +
        "WHERE event_type = 'view' GROUP BY user_id), " +
        "c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e " +
        "JOIN v ON e.user_id = v.user_id AND e.ts > v.t1 " +
        "WHERE e.event_type = 'click' GROUP BY e.user_id), " +
        "p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e " +
        "JOIN c ON e.user_id = c.user_id AND e.ts > c.t2 " +
        "WHERE e.event_type = 'purchase' GROUP BY e.user_id) " +
        "SELECT step, CAST(users AS BIGINT) AS users FROM (" +
        "SELECT '1_view' AS step, COUNT(*) AS users FROM v " +
        "UNION ALL SELECT '2_click', COUNT(*) FROM c " +
        "UNION ALL SELECT '3_purchase', COUNT(*) FROM p) " +
        "ORDER BY step"),
    "q_retention" ->
      ("WITH cohort AS (SELECT user_id, " +
        "date_trunc('week', MIN(ts)) AS cw FROM events " +
        "WHERE event_type = 'signup' GROUP BY user_id), " +
        "active AS (SELECT DISTINCT user_id, " +
        "date_trunc('week', ts) AS aw FROM events), " +
        "w1 AS (SELECT DISTINCT c.user_id FROM cohort c " +
        "JOIN active a ON c.user_id = a.user_id " +
        "AND a.aw = c.cw + INTERVAL 7 DAY) " +
        "SELECT c.cw, COUNT(*) AS cohort_users, " +
        "CAST(COUNT(w1.user_id) AS BIGINT) AS retained_w1 " +
        "FROM cohort c LEFT JOIN w1 ON c.user_id = w1.user_id " +
        "GROUP BY c.cw ORDER BY c.cw"),
    "q_mixture_temperature" ->
      ("WITH t AS (SELECT lang, " +
        "CAST(SUM(len(list_filter(regexp_split_to_array(trim(text), " +
        "'\\s+'), t -> t <> ''))) AS BIGINT) AS n_tokens " +
        "FROM documents GROUP BY lang) " +
        "SELECT lang, n_tokens, " +
        "sqrt(CAST(n_tokens AS DOUBLE)) / " +
        "(SELECT sqrt(CAST(MAX(n_tokens) AS DOUBLE)) FROM t) " +
        "AS rel_weight FROM t ORDER BY lang"),
    "q_train_shuffle" ->
      (s"SELECT doc_id, ${scrambleSql("doc_id")} " +
        "AS shuffle_key FROM documents " +
        "ORDER BY shuffle_key, doc_id LIMIT 100"),
    "q_train_split" ->
      (s"WITH t AS (SELECT lang, CASE " +
        s"WHEN (${scrambleSql("doc_id")}) % 100 < 80 THEN 'train' " +
        s"WHEN (${scrambleSql("doc_id")}) % 100 < 90 THEN 'val' " +
        "ELSE 'test' END AS split, " +
        "len(list_filter(regexp_split_to_array(trim(text), '\\s+'), " +
        "x -> x <> '')) AS tok FROM documents) " +
        "SELECT lang, split, COUNT(*) AS n_docs, " +
        "CAST(SUM(tok) AS BIGINT) AS tokens FROM t " +
        "GROUP BY lang, split ORDER BY lang, split"),
    "q_compacted" ->
      ("SELECT event_type, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) " +
        "AS total_value FROM events " +
        "GROUP BY event_type ORDER BY event_type"),
    "q_zorder" ->
      ("SELECT event_type, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) " +
        "AS total_value, COUNT(DISTINCT user_id) AS n_users " +
        "FROM events WHERE value >= 0 AND value <= 30 " +
        "GROUP BY event_type ORDER BY event_type"),
    "q_group_sample" ->
      (s"WITH t AS (SELECT lang, doc_id, " +
        s"${scrambleSql("doc_id")} AS sk FROM documents), " +
        "r AS (SELECT lang, doc_id, ROW_NUMBER() OVER " +
        "(PARTITION BY lang ORDER BY sk, doc_id) AS rk FROM t) " +
        "SELECT lang, doc_id, rk FROM r WHERE rk <= 50 " +
        "ORDER BY lang, rk"),
    "q_pack_sequences" ->
      (s"WITH t AS (SELECT doc_id, ${scrambleSql("doc_id")} AS sk, " +
        "len(list_filter(regexp_split_to_array(trim(text), '\\s+'), " +
        "x -> x <> '')) AS tok FROM documents WHERE doc_id < 2000), " +
        "c AS (SELECT tok, COALESCE(SUM(tok) OVER (ORDER BY sk, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
        "AS strt FROM t) " +
        "SELECT CAST(strt // 512 AS BIGINT) AS bin_id, " +
        "COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS bin_tokens " +
        "FROM c GROUP BY 1 ORDER BY bin_id LIMIT 50"),
    "q_doc_chunks" ->
      ("WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(" +
        "trim(text), '\\s+'), x -> x <> '') AS toks FROM documents " +
        "WHERE doc_id < 300), " +
        "c AS (SELECT doc_id, unnest(list_transform(" +
        "range(0, CAST(ceil(len(toks) / 32.0) AS BIGINT)), " +
        "i -> struct_pack(idx := i, " +
        "txt := array_to_string(list_slice(toks, i*32 + 1, i*32 + 32), " +
        "' '), n := least(32, len(toks) - i*32)))) AS ch FROM t) " +
        "SELECT doc_id, ch.idx AS chunk_idx, ch.txt AS chunk_text, " +
        "CAST(ch.n AS BIGINT) AS chunk_tokens FROM c " +
        "ORDER BY doc_id, chunk_idx"),
    "q_sessionize" -> sessionOracle,
    "q_sessionize_typed" -> sessionOracle,
    "q_dpp_join" ->
      ("SELECT CAST(ts AS DATE) AS event_date, event_type, " +
        "COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value " +
        "FROM events WHERE day(CAST(ts AS DATE)) % 7 = 3 " +
        "GROUP BY 1, 2 ORDER BY event_date, event_type"),
    "q_partition_prune" ->
      ("SELECT event_type, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value " +
        "FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15' " +
        "GROUP BY event_type ORDER BY event_type"),
    "q_media_stats" ->
      ("SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' " +
        "ELSE 'video' END AS media_type, COUNT(*) AS n_media, " +
        "CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes, " +
        "CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes " +
        "FROM documents GROUP BY 1 ORDER BY media_type"),
    "q_media_video" ->
      ("SELECT doc_id AS media_id, " +
        "CAST(3 + doc_id % 6 AS INTEGER) AS n_frames, " +
        "CAST(8 + (doc_id // 11) % 17 AS INTEGER) AS width, " +
        "CAST(8 + (doc_id // 5) % 13 AS INTEGER) AS height " +
        "FROM documents WHERE doc_id % 3 = 2 AND doc_id < 400 " +
        "ORDER BY media_id"),
    "q_media_audio" ->
      ("SELECT doc_id AS media_id, CAST(8000 AS INTEGER) AS " +
        "sample_rate, CAST(200 + doc_id % 801 AS BIGINT) AS n_samples " +
        "FROM documents WHERE doc_id % 3 = 1 AND doc_id < 400 " +
        "ORDER BY media_id"),

    // the same integer recurrence, three unrolled CTE rounds; // is
    // DuckDB floor division and the CASTs pin HUGEINT sums to longs
    "q_pagerank" ->
      ("WITH e AS (SELECT DISTINCT a.l_partkey AS src, " +
        "b.l_partkey AS dst FROM lineitem a JOIN lineitem b " +
        "ON a.l_orderkey = b.l_orderkey " +
        "AND a.l_partkey <> b.l_partkey), " +
        "deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg " +
        "FROM e GROUP BY src), " +
        "n AS (SELECT DISTINCT src AS id FROM e), " +
        "r0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS rank FROM n), " +
        "c1 AS (SELECT e.dst AS id, CAST(SUM(r0.rank // deg.outdeg) " +
        "AS BIGINT) AS contrib FROM e JOIN deg USING (src) " +
        "JOIN r0 ON r0.id = e.src GROUP BY e.dst), " +
        "r1 AS (SELECT n.id, CAST((15000000000 + " +
        "85 * COALESCE(c1.contrib, 0)) // 100 AS BIGINT) AS rank " +
        "FROM n LEFT JOIN c1 USING (id)), " +
        "c2 AS (SELECT e.dst AS id, CAST(SUM(r1.rank // deg.outdeg) " +
        "AS BIGINT) AS contrib FROM e JOIN deg USING (src) " +
        "JOIN r1 ON r1.id = e.src GROUP BY e.dst), " +
        "r2 AS (SELECT n.id, CAST((15000000000 + " +
        "85 * COALESCE(c2.contrib, 0)) // 100 AS BIGINT) AS rank " +
        "FROM n LEFT JOIN c2 USING (id)), " +
        "c3 AS (SELECT e.dst AS id, CAST(SUM(r2.rank // deg.outdeg) " +
        "AS BIGINT) AS contrib FROM e JOIN deg USING (src) " +
        "JOIN r2 ON r2.id = e.src GROUP BY e.dst), " +
        "r3 AS (SELECT n.id, CAST((15000000000 + " +
        "85 * COALESCE(c3.contrib, 0)) // 100 AS BIGINT) AS rank " +
        "FROM n LEFT JOIN c3 USING (id)) " +
        "SELECT id AS part_id, rank FROM r3 " +
        "ORDER BY rank DESC, id LIMIT 50")
  )
}
