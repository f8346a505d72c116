package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Plan-audit dump: writes PLANS.md with the formatted physical plan of
  * each headline query plus the scale property the plan is expected to
  * exhibit — the artifact backing the "is this the plan you'd want at
  * 100×" review loop.
  */
object Plans {

  private val headline: Seq[(String, String)] = Seq(
    "q_sql_governed" -> ("Governance rewrite pushes the row filter into " +
      "the parquet scan (PushedFilters: EqualTo(sales_region,APAC)) and " +
      "prunes the read schema to the 5 allowlisted columns."),
    "q_join_inner_hash" -> ("Dimension side broadcast " +
      "(BroadcastHashJoin): the 600k-row fact table never shuffles."),
    "q_join_bucketed" -> ("Bucketed fact-fact sort-merge join: no " +
      "Exchange under the join — both sides pre-shuffled by layout."),
    "q_partition_prune" -> ("Date predicate prunes partitions at plan " +
      "time (PartitionFilters), scanning 1/30th of the table."),
    "q_agg_multi" -> ("Two-LEVEL hash aggregate (r22): level one keys " +
      "(group, l_orderkey) with map-side partial combine, level two " +
      "folds to the groups — the distinct order count is a plain " +
      "count of level-one rows, so no Expand doubles the input the " +
      "way a mixed countDistinct plan would."),
    "q_sort_topk" -> ("TakeOrderedAndProject: per-partition top-k, " +
      "no global sort."),
    "q_minhash_dup" -> ("LSH shape: one shuffle on band keys " +
      "(groupBy/collect), map-side pair explosion, then signatures " +
      "joined back only for surviving pairs."),
    "q_stream_window" -> ("Windowed aggregation compiles to a plain " +
      "two-phase hash aggregate on the batch path."),
    "q_skew_salted_agg" -> ("Salted two-phase aggregation: heavy " +
      "partial phase keyed on (key, salt) spreads hot keys across " +
      "reducers."),
    "q_ann_ivf" -> ("IVF probe over the list-partitioned layout: the " +
      "nprobe list selection is a plan-time PartitionFilters entry — the " +
      "scan reads ~nprobe/nlists of the files, no full-table filter."),
    "q_join_asof" -> ("As-of join as ONE window sweep per key (union-" +
      "tagged sides, last-value carry): a single Exchange on user_id and " +
      "no Join operator — no range-join candidate-pair explosion."),
    "q_dpp_join" -> ("DYNAMIC partition pruning: the dimension filter " +
      "is on a stored attribute, so the fact scan's PartitionFilters " +
      "carry a runtime dynamicpruning expression fed by the broadcast — " +
      "scan cost follows the dimension filter, not the fact size."),
    "q_composite_topk" -> ("Three-way star join: filtered customer " +
      "dimension broadcast, date filters pushed into both fact scans " +
      "(PushedFilters), two-phase revenue aggregate, top-k via " +
      "TakeOrderedAndProject — no full sort, no unpruned columns."),
    "q_decontaminate" -> ("Decontamination as a broadcast overlap " +
      "join: the eval shingle set broadcasts, the corpus side explodes " +
      "shingles map-side and never shuffles before the per-doc agg."),
    "q_merge_upsert" -> ("Latest-wins MERGE as ONE ranking window over " +
      "base UNION updates: a single Exchange on the key, no Join — the " +
      "anti-join+union formulation would shuffle both sides twice."),
    "q_cdc_merge" -> ("Partition-scoped CDC apply read back through the " +
      "manifest: the final aggregation plans as a plain multi-path " +
      "parquet scan (the snapshot IS ordinary parquet) with a two-phase " +
      "hash aggregate; the merge work upstream touched only the bucket " +
      "directories the batches' keys hash into, with an AQE-rebalanced " +
      "per-bucket write."),
    "q_train_split" -> ("Deterministic stratified split: the split " +
      "assignment is a map-side projection over the scrambled id — no " +
      "shuffle exists except the report's own two-phase aggregate, so " +
      "splitting 100 TB costs one scan."),
    "q_pack_sequences" -> ("Sequence packing as a DISTRIBUTED prefix " +
      "sum: range exchange on the shuffle key, per-partition running " +
      "totals in a partition-id window, the per-partition grand totals " +
      "(one row each) offset-summed on a single tiny partition and " +
      "broadcast back — no single-partition window over data ever " +
      "forms. STAGED path (round 10): every file scan in the plan reads " +
      "the staged parquet — the offsets side is a column-pruned " +
      "(_pid, _tok) projection of the stage, NOT a second source scan " +
      "(single-scan claim machine-checked in OperatorsSpec)."),
    "q_zorder" -> ("Z-order layout under the gate: the declared " +
      "aggregate is a plain scan of the CLUSTERED copy with the " +
      "second-dimension predicate pushed to parquet (PushedFilters on " +
      "value) and a two-phase hash aggregate. The rewrite itself was " +
      "one approxQuantile sample job + one range exchange; file-" +
      "envelope pruning on either curve dimension is machine-checked " +
      "in ZOrderSpec."),
    "q_cdc_asof" -> ("Timestamp time travel: t=1500 resolves to batch " +
      "0 through manifest HEADERS only (driver-side metadata reads, " +
      "bounded by vacuum retention — no data files listed or read to " +
      "resolve). The physical plan is then just the multi-path bucket-" +
      "dir parquet scan of the batch-0 manifest's directories plus a " +
      "two-phase hash aggregate."),
    "q_cdc_governed" -> ("Governed CDC snapshot: the location-" +
      "registered governance rule injects the analyst row filter + " +
      "column allowlist UNDER the tombstone strip — the row predicate " +
      "reaches the bucket-dir parquet scans (PushedFilters on " +
      "s_nationkey) and the read schema carries only allowlisted " +
      "columns, so governance costs a pushed filter, not a " +
      "post-scan pass."),
    "q_cdc_changes" -> ("Incremental change feed: the scan's file " +
      "listing holds ONLY bucket dirs written after the since-batch " +
      "(manifest-level pruning — untouched buckets never listed), and " +
      "the stamp filter inside the surviving mixed-age buckets is a " +
      "pushed long-column predicate (PushedFilters on _ab). Changes " +
      "since an hour ago on a trickle-merged 100 TB table scan only " +
      "the buckets touched since then."),
    "q_rebucket" -> ("Bucket-count evolution read back: the aggregate " +
      "is a plain multi-path scan of the 5-bucket maintenance " +
      "generation's directories (manifest-resolved) + two-phase hash " +
      "aggregate — identical plan shape to q_cdc_merge, proof the " +
      "layout rewrite left the read path ordinary parquet."),
    "q_cdc_schema_evo" -> ("Additive schema evolution read: ONE " +
      "declared-schema scan over mixed-generation bucket dirs — " +
      "pre-evolution files surface the evolved column as NULL with no " +
      "per-file footer merge (no mergeSchema, O(1) metadata) — then a " +
      "plain two-phase aggregate over the coalesced column."),
    "q_cdc_mirror" -> ("Replication read-back: the mirror built from " +
      "the change feed is ordinary bucketed parquet — the aggregate is " +
      "the same multi-path scan + two-phase agg as q_cdc_merge, on " +
      "mirror-side directories; nothing in the plan references the " +
      "source table."),
    "q_group_sample" -> ("Per-group top-k in two stages: a local " +
      "(partition, lang) rank prunes to 50 rows per language per " +
      "partition BEFORE the lang-partitioned global rank, so no " +
      "language ever funnels the full corpus through one reducer — " +
      "the five-language window sees at most 50 x partitions rows."),
    "q_lookup" -> ("Point lookups: each branch of the union scans AT " +
      "MOST one bucket directory (the key's bucket, recomputed from " +
      "typed literals via the writer's own hash — snapshot/numBuckets " +
      "bytes per GET); a key whose bucket is absent from the manifest " +
      "contributes a zero-file-source LocalTableScan/EmptyRelation, " +
      "never a directory listing."),
    "q_cdc_diff" -> ("Bounded historical diff: changesBetween(-1, 0) " +
      "resolves batch 0's RETAINED manifest, so the scan lists only " +
      "the v0 directories that manifest references — no batch-1 path " +
      "appears even though the head has moved on — with the same " +
      "manifest bucket skip + pushed stamp predicate as the live " +
      "feed. Answering 'what changed between Monday and Wednesday' " +
      "reads the buckets touched in that window, not the table."),
    "q_lookup_by" -> ("Secondary-index equality probe: each branch " +
      "scans ONE index bucket family (the probed value's bucket under " +
      "the bucketCols layout — index_size/index_buckets bytes), then " +
      "ONLY the source bucket directories the matching keys hash to " +
      "(recomputed at probe time, so a source rebucket needs no index " +
      "resync), semi-joined on the primary key with the indexed " +
      "predicate re-checked on the source row. No full-table path on " +
      "either side: a selective probe against a 100 TB source reads " +
      "two bucket families."),
    "q_cdc_rollup" -> ("Materialized-aggregate serve: the scan reads " +
      "ONLY the rollup table's partial rows (buckets × groups — " +
      "megabytes against a 100 TB source; no source-table path " +
      "appears anywhere in the plan), then one thin two-phase " +
      "combine re-aggregates partials by group. The expensive half — " +
      "recomputing touched source buckets — happened at SYNC time, " +
      "O(changed data), not at query time."),
    "q_cdc_chain" -> ("Second replication hop read-back: the chain " +
      "mirror is ordinary bucketed parquet like any CDC snapshot — " +
      "multi-path scan + two-phase aggregate, no reference to the " +
      "first mirror or the original source in the plan."),
    "q_cdc_mor" -> ("Merge-on-read resolved snapshot: the batch-1 " +
      "deltas are still pending, so delta-bearing buckets pay exactly " +
      "ONE per-key ranking window (one Exchange on the key + " +
      "row_number over base + delta directories, width bounded by " +
      "maxDeltas) while delta-free buckets union in as a plain scan " +
      "with no window at all. The write side appended O(batch) bytes " +
      "instead of rewriting whole touched buckets — the read pays the " +
      "bounded resolution until compaction reclaims it."),
    "q_cdc_compact" -> ("Post-compaction read: compactBuckets folded " +
      "every pending delta back into single base directories as a " +
      "maintenance generation, so the plan is back to the zero-" +
      "resolution shape of q_cdc_merge — multi-path scan + two-phase " +
      "aggregate, NO ranking window anywhere — proof the merge-on-" +
      "read resolution cost is fully reclaimable out-of-band."),
    "q_dedup_incremental" -> ("Incremental corpus dedup survivor read: " +
      "the declared result is the index's CHANGE FEED restricted to " +
      "batch 1's stamp — the scan lists only the directories batch 1 " +
      "wrote (manifest pruning), resolution fires only in delta-" +
      "bearing buckets, and NO full-corpus path appears anywhere: the " +
      "corpus was consulted upstream through the O(batch) index " +
      "apply, never rescanned. The plan carries 64-hex hashes and " +
      "ids, never document text."),
    "q_quality_gate" -> ("Gated table read-back: the snapshot holds " +
      "only the versions that PASSED the write-time gate, so the " +
      "declared plan is the ordinary q_cdc_merge shape — multi-path " +
      "bucketed scan + two-phase aggregate, with NO trace of the " +
      "expectations: the gate ran ONCE at apply time as a map-side " +
      "when-chain over the arriving batch (no extra shuffle, no " +
      "table scan), so readers pay zero for it forever after. The " +
      "alternative — a read-time quality filter — would re-evaluate " +
      "on every query and could never express 'keep serving the " +
      "prior clean version'."),
    "q_quarantine" -> ("Quarantine read-back: the rejection audit " +
      "trail is itself an ordinary CDC snapshot (bucketed parquet, " +
      "latest-rejected-per-key resolved by the same machinery), " +
      "projecting key, version, and the stored _violated reasons — " +
      "a plain pruned scan, no join back to the main table and no " +
      "re-evaluation of any predicate."),
    "q_bloom_decontaminate" -> ("Bloom decontamination: the eval set " +
      "collapses to a <= m-row bit table that BROADCASTS to the " +
      "corpus-side probe join, so the plan is identical at any " +
      "eval-set size (the exact twin's broadcast grows with eval " +
      "bytes; this one is bounded by m). Corpus TEXT never shuffles: " +
      "the k exploded bit rows of one shingle collapse map-side in " +
      "the partial aggregate, so the Exchanges carry one boolean row " +
      "per probe shingle, then one count per doc."),
    "q_cms_freq" -> ("Count-min sketch probe: one corpus scan builds " +
      "the depth×width cell table (map-side posexplode + two-phase " +
      "aggregate with a bounded group count); the probe side joins " +
      "TEN words × depth rows against it — at 100 TB the sketch stays " +
      "a few thousand rows and the probe never touches corpus data."),
    "q_sql_cdc" -> ("SQL-name read of the CDC snapshot: the registered " +
      "identifier expands at ANALYSIS time to the same manifest-pruned " +
      "bucketed scan + two-phase aggregate as q_cdc_merge — name " +
      "resolution adds zero operators, and no registry artifact " +
      "appears in the plan. Governance (when the root is registered) " +
      "injects into the expanded scan exactly as on the Scala path."),
    "q_sql_cdc_timetravel" -> ("VERSION AS OF through the SQL surface: " +
      "the scan lists ONLY the batch-0 manifest's directories — no " +
      "current-head path and no time-travel operator in the plan; the " +
      "manifest selection happened at analysis time against metadata, " +
      "so the executed read is indistinguishable from a current read " +
      "of a table that stopped at batch 0."),
    "q_sql_cdc_changes" -> ("Change feed through SQL: the view body is " +
      "changesSince's plan — manifest-pruned to buckets written after " +
      "the consumer position, stamp filter pushed to the scan — with " +
      "the view adding only a column rename; no snapshot diff, no log " +
      "replay, no full-table path."),
    "q_neardup_incremental" -> ("Incremental near-dup admitted-id " +
      "read: the declared plan is the signature index's CHANGE FEED " +
      "restricted to batch 1's stamp — manifest-pruned to the " +
      "directories the batch wrote, resolution only in delta-bearing " +
      "buckets, no text column anywhere. The probe itself (band-key " +
      "join of batch signatures against index signatures — ~0.3% of " +
      "corpus bytes, never text — then exact Jaccard verification " +
      "semi-join-pruned to candidate pairs) ran ONCE upstream at " +
      "index-build time under the replay guard; the full-corpus " +
      "all-pairs comparison the oracle runs exists in no plan at all."),
    "q_bm25_topk" -> ("BM25 keyword search against the persisted " +
      "inverted index: the postings scan must show PartitionFilters " +
      "term IN (vector, join, dup) — only the three query terms' " +
      "directories are listed, so query cost is O(their postings), " +
      "not O(corpus). The df table (<= |terms| rows) and the one-row " +
      "corpus stats broadcast; scoring is map-side over the pruned " +
      "scan; the final top-k is TakeOrderedAndProject, never a " +
      "global sort."),
    "q_bm25_incremental" -> ("Incremental BM25 probe: the postings " +
      "side is scanByBucketValues over the term-bucketed CDC table — " +
      "the scan lists only the query terms' bucket-family directories " +
      "(three files out of the full postings layout), resolution only " +
      "where merge-on-read deltas pend; corpus stats serve from " +
      "rollup partials (a handful of rows), never a corpus rescan. " +
      "Ingest cost lives upstream in O(batch) applies."),
    "q_corr_moments" -> ("Correlation from exact integer moments: ONE " +
      "scan, two-phase hash aggregate with map-side partials — the " +
      "shuffle carries six longs per group, and the Pearson/covariance " +
      "formulas run post-aggregate on those exact sums. No second " +
      "pass, no float accumulation order-dependence."),
    "q_semantic_dedup" -> ("SemDeDup semantic dedup: the pair " +
      "generation is an EQUI-join on the cluster id — both sides " +
      "shuffle once on the cluster key and the quadratic comparison " +
      "is confined within clusters (k × O((n/k)²), the paper's " +
      "bound), with the id inequality and the codegen'd quantized " +
      "cosine threshold evaluated inside the join stage; dropped ids " +
      "then anti-join the input. No cross-cluster pair is ever " +
      "materialized — the all-pairs O(n²) comparison exists only in " +
      "the DuckDB oracle."),
    "q_cdc_restore" -> ("RESTORE read: the declared query reads the " +
      "post-rollback snapshot — the same manifest-pruned bucketed " +
      "parquet scan as q_cdc_merge, because restore committed a " +
      "normal manifest (the diff batch) rather than installing any " +
      "special read path. The restore itself (upstream, once per " +
      "artifact) diffed only buckets whose dir tags postdate the " +
      "target and rewrote only buckets that differ."),
    "q_corpus_overlap" -> ("Cross-source contamination matrix: the " +
      "intersection join is keyed on the SHINGLE (equi-join after " +
      "per-group distinct), so a shared shingle costs O(sources²) " +
      "rows for that shingle only — never an all-pairs document " +
      "comparison; per-group set sizes are a handful of rows joined " +
      "as broadcasts onto the pair counts. STAGED: the per-group " +
      "shingle set feeds three plan subtrees, so it materializes " +
      "once (every Location in the plan is the staged parquet) — " +
      "the corpus is scanned and shingled exactly once, and text " +
      "never enters the join plan at all."),
    "q_hybrid_search" -> ("Hybrid retrieval fusion: both runs are " +
      "index-pruned top-k (partition-pruned BM25 postings probe; " +
      "broadcast 1-row query vector), so the RRF stage — global " +
      "windows and a full-outer join — operates on ≤ k rows total. " +
      "The single-partition window the plan shows is over the " +
      "15-row run, not data; the expensive scans happened inside " +
      "the runs."),
    "q_ann_incremental" -> ("Incremental IVF probe: the declared read " +
      "is a manifest-pruned parquet scan of ONLY the probed labels' " +
      "bucket families (scanByBucketValues — the value predicate " +
      "re-checks labels so bucket-hash collisions never leak a " +
      "foreign list), then the codegen'd quantized-cosine top-k via " +
      "TakeOrdered. Probe selection upstream touched nlists centroid " +
      "rows (the documented driver hop); ingest upstream wrote " +
      "O(batch) rows into only the touched buckets."),
    "q_ann_ivfpq" -> ("IVF+PQ probe (IVFADC): the ADC stage's scan " +
      "carries a PartitionFilters entry on the list column — only the " +
      "nprobe probed lists' code partitions are read (pqTopK alone " +
      "scans every code row; at 100 TB this pruning IS the query " +
      "path). Broadcast m x ksub LUT, per-vector code explosion " +
      "map-side, one shuffle of m partial rows per surviving vector, " +
      "TakeOrdered for candidates, then the exact re-rank touches " +
      "only the 64 survivors' raw vectors (left_semi prune)."),
    "q_bpe_pairs" -> ("BPE trainer, one iteration: the corpus scan " +
      "collapses to the distinct-word table (Heaps'-law bounded — the " +
      "shuffle carries words, never documents), pair explosion is " +
      "map-side over the symbol arrays, and the count is a two-phase " +
      "hash aggregate with map-side partials. Every later merge " +
      "iteration aggregates the SAME word table; the corpus is never " +
      "rescanned."),
    "q_entity_clusters" -> ("Entity resolution: prefix-filtered edit " +
      "join (candidates keyed on globally-rare q-grams — hot grams " +
      "carry no pairs) feeds pointer-jumping connected components; " +
      "each CC pass is one equi-join + aggregate on (id, label) pairs " +
      "with lineage cut per pass, O(log n) passes. No all-pairs " +
      "product anywhere — the quadratic exists only in the oracle."),
    "q_entity_incremental" -> ("Incremental entity resolution read " +
      "path: the assignments collapse from the gram-postings CDC " +
      "snapshot (ordinary multi-path parquet scan + two-phase " +
      "min-aggregate per record id). The ingest upstream probed only " +
      "the batch's prefix grams' bucket families, verified candidates " +
      "from the probed rows (payload travels with the posting — no " +
      "second lookup), and committed merges + appends through the " +
      "ordinary apply path."),
    "q_ann_filtered" -> ("Filtered vector search: the metadata " +
      "predicate is an ordinary pushed filter on the searched scan " +
      "(PushedFilters on label), THEN the quantized-cosine top-k via " +
      "TakeOrdered — filter-then-rank, never rank-then-filter, so " +
      "selectivity cuts the scored set proportionally."),
    "q_quality_regression" -> ("Closed-form learned scorer: ONE " +
      "two-phase hash aggregate computes the ten exact normal-equation " +
      "moments per group (partial map-side combine before the single " +
      "shuffle — ten longs per group cross the wire); the Cramer solve " +
      "and R² are a map-side projection over the aggregate's handful " +
      "of rows. No iteration, no driver-side math."),
    "q_repeated_spans" -> ("Repeated-span scan: the count aggregate's " +
      "input is (doc_id, xxhash64(span)) — 16 bytes per window on the " +
      "shuffle, with map-side partial combine; span TEXT appears only " +
      "in the second subtree, where the surviving fingerprints join " +
      "back (threshold-filtered, so the distinct + TakeOrdered over " +
      "text touches survivors only, never the corpus's full window " +
      "set)."),
    "q_leakage_split" -> ("Leakage-safe split census: cluster " +
      "membership reads the PERSISTED resolution artifact (the " +
      "O(log n) pointer-jumping fixpoint ran once, at build time — " +
      "the signature/verified-pair index posture); the split " +
      "assignment is a MAP-SIDE projection on the cluster id, so the " +
      "whole declared plan is one tiny parquet scan plus the " +
      "census's two-phase aggregate."),
    "q_cbo_join" -> ("Stats-driven join reorder: the SQL names the " +
      "worst FROM order (lineitem x orders first), but the ANALYZE'd " +
      "row counts + join-key NDVs let CostBasedJoinReorder start from " +
      "the filtered region/nation end — the deepest join in the plan " +
      "is dimension-side, every dimension hop is a BroadcastHashJoin, " +
      "and the fact table joins LAST against an already-reduced " +
      "build side (CboSpec machine-checks the reorder against the " +
      "heuristic baseline)."),
    "q_edit_simjoin" -> ("Prefix-filtered edit-distance self-join: " +
      "the candidate join is keyed on each string's q*d+1 RAREST " +
      "q-grams (one small frequency aggregate feeds the ranking), so " +
      "no hot-gram key ever carries the corpus — no cartesian " +
      "product or all-pairs nested loop appears; the exact " +
      "levenshtein runs only on the surviving candidate projection."),
    "q_delta_export" -> ("Delta-protocol export read-back: the " +
      "declared aggregate scans the exported table's LIVE file set " +
      "(log-replay resolved, driver-side) as ordinary parquet — " +
      "column-pruned scan + two-phase aggregate; the export itself " +
      "republished only changed buckets (O(changed), the mirror " +
      "cost class)."),
    "q_lm_score" -> ("Bigram-LM scoring: training counts are two " +
      "explode -> two-phase hash aggregates shuffling (term, long) " +
      "pairs, never text; V rides a broadcast 1-row frame; the " +
      "scoring side joins exploded bigrams to the count tables on " +
      "the term key (broadcast while they fit, shuffle-hash at " +
      "corpus scale) and reduces to four longs per document — " +
      "nothing quadratic, nothing collected."),
    "q_hard_negatives" -> ("Hard-negative mining: the anchor batch " +
      "is a BroadcastNestedLoopJoin build side (bounded — a training " +
      "batch, not a corpus), the corpus side scans once with the " +
      "label-inequality filter and the fused quantized-cosine " +
      "evaluated map-side; only (anchor, neg, sim) triples shuffle " +
      "into the per-anchor top-k window. Vectors never cross the " +
      "wire."),
    "q_image_neardup" -> ("Perceptual image dedup: dHash computes " +
      "map-side over the payload column (8 bytes per image " +
      "thereafter — the image BYTES never shuffle), candidates band " +
      "on 16-bit fingerprint chunks (pigeonhole recall at Hamming " +
      "<= 3, capped buckets), exact Hamming verifies only " +
      "chunk-colliding pairs — never all-pairs, and the only " +
      "shuffle carries (id, fp) longs."),
    "q_neardup_keep_best" -> ("Quality-aware canonical selection: " +
      "cluster membership reads the PERSISTED resolution artifact " +
      "(no recompute); the quality score is map-side arithmetic on " +
      "the corpus scan; one equi-join on doc_id and one window " +
      "argmax partitioned BY CLUSTER — the shuffle carries " +
      "(doc_id, cluster_id, double), and no partition exceeds the " +
      "largest near-dup cluster."),
    "q_pagerank" -> ("Integer-exact PageRank: the co-purchase edge " +
      "list is a PERSISTED build artifact (the self-join + distinct " +
      "runs once per dataset, not per query run); the edge list " +
      "materializes once as (src, dst) with degrees in a separate " +
      "one-row-per-node table whose keys ARE the node set (r22), " +
      "each iteration attaches the per-node rank div outdeg quotient " +
      "to the edges in one broadcast equi-join, the three declared " +
      "iterations run as ONE uncut job (cutEvery = iters), and the " +
      "per-iteration shuffle carries (long, long) pairs only — no " +
      "payloads, no cartesian shapes."),
    "q_iceberg_v2" -> ("Iceberg v2 MOR resolution: per-sequence " +
      "declared-schema parquet scans union, the equality-delete set " +
      "aggregates to max-seq per key (an O(changes) relation AQE " +
      "BROADCASTS) and applies via one null-safe left join — data " +
      "vectors never shuffle for resolution; the export side writes " +
      "O(batch) bytes per sync (one upsert data file + one key-only " +
      "delete file), never a bucket rewrite."),
    "q_line_dedup" -> ("Line-level first-occurrence dedup: identical " +
      "firsts-only plan to q_chunk_dedup with the line splitter — " +
      "(sha256, doc_id, line_idx) on the wire, ONE min-struct hash " +
      "aggregate whose partial phase absorbs hot lines map-side, no " +
      "join on the hash, map-side newline rebuild, one O(docs) " +
      "primary-key text join."),
    "q_jaccard_simjoin_hi" -> ("Full-corpus PPJoin at t=0.8 over " +
      "3-gram shingle sets: candidates key on each set's rarest " +
      "prefix shingles (ceil((1-t)|s|)+1 ≈ |s|/5; the smaller side " +
      "carries only its AllPairs index prefix, ~|s|/9 — r22), the " +
      "positional filter " +
      "prunes before verification, and only candidate pairs' shingle " +
      "arrays meet — never all-pairs, proven lossless against the " +
      "exhaustive quadratic oracle."),
    "q_dsir_weights" -> ("DSIR importance resampling: two bigram-LM " +
      "scorings (each q_lm_score's shape — counts shuffle (term, " +
      "long), V broadcasts 1-row), ONE primary-key join of the two " +
      "four-long score rows, a map-side weight ratio, and a " +
      "TakeOrdered top-k for the priority sample — nothing " +
      "quadratic, nothing collected, the two 1-row crossJoins are " +
      "the vocabulary sizes."),
    "q_paragraph_neardup" -> ("Paragraph near-dup: identical " +
      "segments fold to ONE representative in a hash-min aggregate " +
      "(partial phase absorbs boilerplate mass map-side) BEFORE any " +
      "pair forms; MinHash banding + exact-Jaccard verification run " +
      "over distinct representatives only — banded candidates, " +
      "never all-pairs; rebuild is the shared map-side tail with " +
      "one O(docs) primary-key text join."),
    "q_delta_export_mor" -> ("Merge-on-read Delta export read back: " +
      "the sync wrote one new data file + DV updates (zero rewrite " +
      "of prior files), and the READ is the DV resolution shape — a " +
      "multi-path parquet scan with file metadata, one BROADCAST " +
      "anti-join against the exploded deleted (uri, row idx) rows " +
      "(small Σcardinality), then the plain two-phase aggregate; " +
      "at mass-delete scale the reader switches to per-file bitmap " +
      "probes and never shuffles the scan."),
    "q_sql_delta_scan" -> ("Foreign Delta read from SQL alone: " +
      "delta_scan(path) expands at analysis time to an ordinary " +
      "multi-path parquet scan of the log's LIVE file set (no custom " +
      "operators in the plan) + a two-phase hash aggregate — " +
      "protocol resolution is driver-side metadata, the data path is " +
      "stock Spark."),
    "q_sql_delta_scan_where" -> ("The round-20 pushdown seam: the " +
      "enclosing WHERE reaches the protocol reader through the " +
      "ForeignScan marker rewrite, so the scan's FILE LIST is " +
      "metadata-pruned (add-action stats / partition values) before " +
      "planning AND the predicate shows as a pushed filter on the " +
      "surviving files — a SQL user gets option(\"filter\") " +
      "economics; probe: pruned read time is FLAT in table file " +
      "count (BASELINE.md interop probe)."),
    "q_sql_iceberg_scan" -> ("iceberg_scan(path) with an enclosing " +
      "WHERE: manifest bounds + identity/transform partition " +
      "pruning cut the file list at the metadata level via the same " +
      "marker rewrite; the physical plan is a plain pruned parquet " +
      "scan + two-phase aggregate, with the residual predicate " +
      "pushed into the scan."),
    "q_chunk_dedup" -> ("Chunk-level first-occurrence dedup: the " +
      "resolution side shuffles (sha256, doc_id, chunk_idx) — never " +
      "chunk text — into ONE min-struct hash aggregate whose partial " +
      "phase absorbs hot boilerplate chunks map-side (the kept set IS " +
      "the firsts, so no join on the hash forms); survivors fold to " +
      "ONE int-array row per document, and the only text-bearing join " +
      "is the final O(docs) equi-join on the primary key, where the " +
      "rebuild is a map-side array filter over the re-chunked tokens."),
    "q_pmi_terms" -> ("PMI-lift distinctive terms: ONE token explode " +
      "feeds the (lang, w) count, whose re-aggregations produce the " +
      "word and language totals — no second corpus scan; the 5-row " +
      "language totals and the 1-row corpus total BROADCAST, the " +
      "min-support filter prunes before the word-total join, and " +
      "the rank window partitions BY LANGUAGE."),
    "q_substr_dedup" -> ("Exact-substring dedup: the window pass " +
      "shuffles (sha256, doc_id, pos) — 48 B per TOKEN, never text — " +
      "into ONE hash-keyed min-struct aggregate whose partial phase " +
      "absorbs hot fingerprints map-side; the kept set IS the firsts " +
      "(hit positions derive per document from the firsts alone — " +
      "nothing ever joins back on the hash), covered spans expand " +
      "MAP-SIDE, and the only text-bearing join is the final O(docs) " +
      "primary-key join where the rebuild is a map-side token " +
      "filter."),
    "q_lang_id_learned" -> ("Learned language-ID: training is one " +
      "char-gram explode + two-phase (lang, gram) hash aggregate " +
      "(2-char grams + longs on the wire, never text) and a top-m " +
      "window per language; the <= m-rows-per-language profile is " +
      "collected to the driver and rides the plan as a literal, and " +
      "prediction is one lang_argmax row kernel per document after " +
      "the scan spread — no join, no shuffle of grams."),
    "q_gopher_filter" -> ("Gopher repetition filter: MAP-ONLY (r22) — " +
      "every statistic is a pure function of one document's tokens, so " +
      "one codegen'd per-row kernel (gram_rep_stats: distinct tokens, " +
      "max bigram count, distinct trigrams via dense-id window " +
      "counting) replaces the former explode + (doc, gram) aggregates " +
      "+ join-back; nothing shuffles but the output sort, and every " +
      "fraction is one IEEE division over exact counts."),
    "q_iceberg_export" -> ("Iceberg-v1 export read-back: the " +
      "declared aggregate scans the snapshot's live file set " +
      "(metadata-tree replay, driver-side O(manifests)) as ordinary " +
      "parquet — column-pruned scan + two-phase aggregate; the " +
      "export itself republished only changed buckets with " +
      "footer-derived stats (O(changed buckets), the Delta mirror " +
      "cost class)."))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.01")
    // PLANS.md records the plans at a fixed 4 shuffle partitions
    val spark = GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val mode = ExplainMode.fromString("formatted")
    val out = new StringBuilder
    out ++= "# PLANS — physical-plan audit of headline queries\n\n"
    out ++= s"Generated by `graft.Plans` on `$sfDir`. Each section states\n"
    out ++= "the scale property the plan must exhibit, then the plan.\n"
    headline.foreach { case (name, why) =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(mode)
      out ++= s"\n## $name\n\n$why\n\n```\n$plan\n```\n"
    }
    Files.writeString(Paths.get("PLANS.md"), out.toString)
    println(s"wrote PLANS.md (${headline.size} plans)")
    spark.stop()
  }
}
