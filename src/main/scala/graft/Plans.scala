package graft

import java.nio.file.{Files, Paths}

import graft.queries.Queries

/**
 * Plan-audit main: dumps `explain("formatted")` for the headline queries to
 * PLANS.md with the scale rationale per plan — the written record of the
 * "is this the plan you'd want at 100 TB" iteration (PlanSpec holds the
 * executable form of these claims).
 *
 * Run: sbt "runMain graft.Plans [outFile]"
 */
object Plans {

  private val headline: Seq[(String, String)] = Seq(
    "s05_scan_project" -> ("Scan pushdown: PushedFilters carries the quantity " +
      "predicate; ReadSchema reads 4 of 11 columns. At 100 TB this is the " +
      "difference between scanning 4 TB and 40 TB."),
    "j00_adressen_build" -> ("FLAGSHIP curate chain end-to-end on the " +
      "synthesized BAG fixture: five-way left join (dims broadcast, " +
      "NULL-key sentinel), arg_max PK dedup, then the J3-J7 enrichment " +
      "joins all reusing the nummer_id partitioning, U1-U3 cleanup."),
    "j01_join_5way" -> ("Star join: customer/nation/region broadcast (no " +
      "shuffle of lineitem for them); the only exchange pair is " +
      "lineitem-orders on orderkey. Partial aggregation runs map-side."),
    "k02_dedup_lastwins" -> ("Last-wins dedup through the native arg_max " +
      "ObjectHashAggregate: ONE hash aggregation on user_id with map-side " +
      "partials — one struct of state per key, no Window node, no per-key " +
      "sort; the 9M-row ingest hot path shape (K2)."),
    "d03_neardup_ngram" -> ("Near-dup candidates from a shingle-hash " +
      "inverted-index equi-join (8-byte keys), skew-guarded by a window " +
      "count on the same exchange. No cartesian product."),
    "d04_minhash_lsh" -> ("MinHash-LSH: band-hash equi-join generates " +
      "candidates; exact-Jaccard verify touches candidates only. The " +
      "all-pairs cost never materializes."),
    "v01_knn_brute" -> ("Exact top-k for a bounded query set: queries " +
      "broadcast, corpus streamed once through a BroadcastNestedLoopJoin, " +
      "and selection through partial_top_k — each mapper ships at most k " +
      "pairs per query, shuffle volume queries x k. The r4 row_number " +
      "window sorted the full scored corpus inside one reducer per query; " +
      "no Window node remains."),
    "v03_ann_lsh" -> ("ANN-LSH: candidates from the (table, bucket) " +
      "equi-join across L tables, exact rerank on candidates only."),
    "v05_ann_ivf" -> ("ANN-IVF: cluster-id equi-join between probed query " +
      "lists and corpus inverted lists; cost ~ corpus * nprobe / c. " +
      "Centroids train on a one-pass bounded sample (TakeOrdered), " +
      "driver-local Lloyd."),
    "x04_asof_join" -> ("As-of join with NO join node: both sides union, " +
      "one hash exchange on the key, running last(struct) window " +
      "propagates the latest right payload onto later left rows. " +
      "|L|+|R| rows through one shuffle."),
    "x05_range_join" -> ("Range join as bin-quantized equi-join: intervals " +
      "explode into covered time bins, points map to exactly one bin, " +
      "exact containment filters after the hash join — never a " +
      "nested-loop/cartesian fallback."),
    "x06_label_centroids" -> ("Per-label centroids through the vec_sum " +
      "TypedImperativeAggregate: ONE buffer row per label with map-side " +
      "partial merge — the posexplode alternative shuffles dim x the rows."),
    "x08_training_mix" -> ("The composed corpus-build pipeline: quality " +
      "gate (narrow) -> hash-keyed keep-first dedup (one shuffle) -> " +
      "deterministic sample (narrow) -> language budget (partial agg + " +
      "tiny shuffle). Two exchanges end to end."),
    "d08_decontaminate" -> ("Decontamination: the benchmark side's shingle " +
      "postings BROADCAST (eval sets are tiny against a 100 TB corpus); " +
      "the training corpus streams map-side through the hash join and is " +
      "never shuffled. Overlap counts aggregate (train_id, bench_id) " +
      "pairs with map-side partials."),
    "t11_line_dedup" -> ("Line dedup: the winner election groups by " +
      "md5(line) — the election exchange moves 16-byte hashes plus ids, " +
      "never line text, and min(struct) partial-aggregates map-side so a " +
      "boilerplate line shared by millions of docs is a non-event. Only " +
      "the join-back and reassembly move text, once each."),
    "t35_boilerplate" -> ("Per-source boilerplate strip: the census " +
      "dedups (source, md5(line), doc) occurrence rows in one " +
      "partial-aggregated exchange of 16-byte hashes, the strip is a " +
      "LEFT ANTI equi-join against the template-sized boilerplate set " +
      "on the derived (source, hash) key, and text moves exactly twice " +
      "— the anti-join probe and the per-doc reassembly."),
    "t36_token_drift" -> ("Snapshot drift census: BOTH snapshots are " +
      "conditional-sum columns of ONE partial-aggregated token census " +
      "(never two scans or a grid join), the top-50 cut is a bounded " +
      "TakeOrdered, and the smoothing totals ride a whole-frame window " +
      "over exactly 50 rows — bounded by the limit, not the corpus."),
    "t37_encoding_census" -> ("Encoding-corruption census: three " +
      "codegen'd single-char translate scans plus one regex-class scan " +
      "per row, ppm under integer floor-division — a pure map stage " +
      "with no shuffle and no UDF that fuses into whatever scan " +
      "precedes it; at 100 TB this is free riding on the ingest pass."),
    "t38_entropy_census" -> ("Character-entropy junk gate: ONE native " +
      "codegen char_stats kernel call per row (single UTF-8 byte pass, " +
      "no String materialization, order-deterministic entropy fold), " +
      "round(6) then verdict thresholds — a pure map stage with no " +
      "shuffle and no UDF; at 100 TB it rides the ingest scan for free."),
    "t39_domain_reputation" -> ("Per-domain reputation census: one hash " +
      "aggregation keyed on the derived registered domain (multi-distinct " +
      "via Expand, still a single exchange on the group key) plus a 1-row " +
      "corpus-total broadcast back over the domain-sized census — text " +
      "never moves, only its 16-byte md5 fingerprint enters the " +
      "aggregate. The domain blocklist this emits is tiny and broadcasts " +
      "back over the corpus for free."),
    "d24_url_dedup" -> ("Crawl-frontier URL dedup: canonicalization is " +
      "pure built-in string expressions per row (map-only, fuses into " +
      "the scan), then ONE hash aggregation on the canonical key — " +
      "map-side partials collapse the variants where they sit, so the " +
      "exchange carries one row per canonical URL, not per variant."),
    "a32_zipf_fit" -> ("Zipf corpus-health fit: one partial-aggregated " +
      "token census, a bounded TakeOrdered top-100 cut, then the " +
      "closed-form OLS rides whole-frame window sums over exactly 100 " +
      "rows — bounded by the limit, not the corpus. The only corpus-" +
      "sized stage is the census every text operator already pays."),
    "d25_crawl_diff" -> ("Crawl-snapshot diff: two map-side-collapsed " +
      "hash aggregations (one per snapshot) + ONE co-partitioned " +
      "full-outer equi-join on the canonical key. Text never moves — " +
      "only the 16-byte fingerprint rides the join; AQE broadcasts a " +
      "small incremental side automatically."),
    "x36_link_graph" -> ("Site link graph: one codegen regexp scan + " +
      "explode bounded by links-per-doc, then a single hash aggregation " +
      "on the (src,dst) domain edge key — the edge list is domain-" +
      "squared-sized, orders of magnitude below the corpus, and feeds " +
      "x16/x24 directly."),
    "t40_path_blocklist" -> ("Path-prefix blocklist: the prefix theta-" +
      "join becomes an equi-join by exploding each URL's own segment " +
      "prefixes (bounded by path depth) against the broadcast rules " +
      "table — no LIKE scan, no cartesian, rules side always tiny."),
    "t41_token_budget" -> ("Token-budget admission: map-only native " +
      "word_count per doc, then one window sort per source for the " +
      "running sum — sort-bound by definition, and at corpus scale the " +
      "same admission runs via a per-source token-count quantile sketch " +
      "instead of the exact sort."),
    "t42_markup_residue" -> ("Markup-residue census: three codegen'd " +
      "regexp-class counts per row, ppm under integer floor-division — " +
      "a pure map stage with no shuffle and no UDF; rides the ingest " +
      "scan for free next to t37's encoding gate."),
    "st21_crawl_changes" -> ("Crawl-change classifier (batch mirror): " +
      "one window sort per URL partition — the declarative statement of " +
      "the streaming form's O(1)-per-URL fingerprint state; the stream " +
      "never re-sorts history, it compares against one stored " +
      "fingerprint and advances."),
    "v24_filtered_knn" -> ("Filtered-ANN audit: two broadcast-query " +
      "corpus scans through the bounded-heap top-k (shuffle = queries " +
      "x k, never a corpus window), a re-rank window over <= 20 rows " +
      "per query, and query-sized joins — the corpus is scanned, never " +
      "re-shuffled."),
    "a33_hour_chi2" -> ("Hour chi-square: one partial-aggregated " +
      "(type, hour) census folded to per-type count + sum-of-squares — " +
      "the closed form 24*ss/n - n needs no grid completion because " +
      "zero cells drop out algebraically. Two tiny hash aggregations, " +
      "nothing corpus-sized after the first."),
    "s22_change_feed" -> ("Change-data-feed: two snapshot scans + one " +
      "co-partitioned full-outer equi-join on the key columns; 16-byte " +
      "payload fingerprints decide update-vs-unchanged so the row " +
      "payload crosses the exchange once, not twice."),
    "s23_merge_apply" -> ("CDC MERGE apply: ONE full-outer equi-join " +
      "of snapshot x change batch decides update/insert/delete/carry " +
      "per row — no window, no second pass; ghost tombstones vanish in " +
      "the same join. Target side reads exchange-free from a " +
      "key-bucketed layout at corpus scale."),
    "x41_interval_apportion" -> ("Apportionment: per-interval hour " +
      "explode (fan-out = interval length in hours, never a spine " +
      "join), clipped-overlap arithmetic in-row, ONE per-hour hash " +
      "fold with map-side partials."),
    "t46_js_divergence" -> ("JSD drift: per-source word folds, each " +
      "pair's union vocab via TWO broadcast joins + one hash fold " +
      "(never a per-pair full-outer), one rounded sum per pair. " +
      "Pairing is |sources|^2 — the dashboard shape; pin a reference " +
      "per source and the identical plan is linear."),
    "st24_stream_ffill" -> ("Streaming LOCF: keyed state is a constant " +
      "(hasLast, lastVal) summary + only the rows above the watermark " +
      "(O(horizon), not O(stream)); rows emit exactly once in " +
      "event-time order when the watermark passes them; replays dedup " +
      "by event_id. Batch run = same code path, everything emits."),
    "t45_pmi_collocations" -> ("PMI: map-only in-row bigram explode, " +
      "one bigram fold + one unigram fold (map-side partials), the " +
      "collocation floor applied BEFORE the vocab-sized unigram " +
      "equi-joins, 1-row totals frame broadcast — no sort, no " +
      "cartesian."),
    "m11_constellation" -> ("Constellation match: one window sort per " +
      "track (peak test + constellation leads share it), candidates " +
      "from the df-capped postings EQUI-join (cost follows postings, " +
      "never pairs), offset vote = hash folds + a struct arg_max — " +
      "no window over the pair space, no cartesian."),
    "d28_cdc_edit_stability" -> ("CDC stability audit: both variants " +
      "chunk through the map-only in-kernel fold (no word rows, no " +
      "window), then three hash folds + two |docs|-row joins — the " +
      "edit-locality bound costs nothing corpus-shaped."),
    "a45_seasonal_backtest" -> ("Seasonal backtest: one (type, hour) " +
      "count fold, forecast via ONE self-equi-join on the shifted " +
      "hour key (never a window over the series), one per-type fold; " +
      "ppm divisions of exact integers."),
    "a44_calibration" -> ("Calibration/ECE: one corpus fold to 10 " +
      "bins (map-side partials), a 10-row fold, a broadcast 1-row ECE " +
      "attach — every number an integer ppm division, no sort, no " +
      "float."),
    "a43_gains_table" -> ("Gains table: ONE global sort (the decile " +
      "cut is inherently total — at corpus scale swap in a22 " +
      "binned-quantile cut points), then a 10-row fold + a 10-row " +
      "running window; all ratios are ppm divisions of exact " +
      "integers."),
    "a42_markov_transitions" -> ("Markov census: one lag window per " +
      "user, exact transition hash fold with map-side partials, " +
      "|types|^2-sized result joined to broadcast row totals, one ppm " +
      "division — no float."),
    "a41_mann_whitney" -> ("Mann-Whitney/AUC: one rank window + one " +
      "tie-count window per event_type (same exchange), then one hash " +
      "fold — integer 2U, one ppm division; no float, no second " +
      "shuffle."),
    "a40_theil_sen" -> ("Theil-Sen: one (day, hour) count fold, then " +
      "a per-day equi-join whose fan-out is <= 276 BY CONSTRUCTION " +
      "(24 points max), one window sort per day for the value-at-rank " +
      "median — never corpus^2, never a global sort."),
    "x42_modularity" -> ("Modularity: one degree fold + one intra " +
      "filter-fold over the edge list (both map-side-combinable hash " +
      "aggregates), a |C|-row join, the 1-row m2 frame attached by " +
      "broadcast — no collect, nothing bigger than |C| after the " +
      "folds."),
    "x43_bowtie" -> ("Bow-tie: composition — SCC peel (shrinking edge " +
      "set, localCheckpoint cuts) + giant election as a 1-row limit + " +
      "TWO shrinking-frontier BFS sweeps over the ONCE-materialized " +
      "edge frame; classification is three left joins + one hash " +
      "fold. No collect, no cartesian."),
    "d27_sketch_calibration" -> ("Sketch calibration: signatures ride " +
      "per-doc k-long arrays (one kernel pass), pairs come from the " +
      "capped candidate join, the estimate is one in-row zip_with — " +
      "no extra shuffle beyond the d03 pair machinery."),
    "a39_spearman" -> ("Spearman: one event-sized per-user fold, then " +
      "everything is user-count-sized — two rank windows per type and " +
      "one moment aggregate. try_divide keeps zero-variance groups " +
      "null instead of ANSI-throwing."),
    "m10_shot_segments" -> ("Shot segmentation: one window sort per " +
      "video serves both the lag pair and the running shot counter; " +
      "per-shot lengths and the census are video-count-sized hash " +
      "aggregates. Frames never leave their video's partition."),
    "e03_posexplode_rebuild" -> ("Explode/rebuild: one hash " +
      "re-aggregation (no ORDER BY, no window) — ordering rides the " +
      "row as a position and the rebuild is an in-row array_sort, so " +
      "the roundtrip survives shuffle scrambling and task retries."),
    "u02_impute_median" -> ("Median imputation: one window sort per " +
      "nation over OBSERVED rows only (exact medians are sort-bound), " +
      "|nations| medians broadcast back to the masked slice — the " +
      "masked side never sorts."),
    "u03_ffill" -> ("Forward-fill (LOCF): ONE window sort per user — " +
      "a single hash exchange on user_id then an in-partition sort " +
      "feeding last(ignoreNulls) over a running frame; no join, no " +
      "second pass. At corpus scale the stream is bucketed by series " +
      "key and the sort is within-bucket."),
    "u04_winsorize" -> ("Winsorize: one window sort per nation for " +
      "rank-exact bounds, the |nations|-row bounds frame broadcast " +
      "back, one clip-and-fold hash aggregate with map-side partials " +
      "— the fold side never sorts."),
    "s24_delete_vectors" -> ("MoR deletes: each delete writes only " +
      "positions (O(|deleted|) append, base untouched); the read is " +
      "ONE anti-join on the distinct position set, strategy left to " +
      "AQE (broadcast for small DVs, shuffle for mass deletes — " +
      "forcing broadcast would OOM exactly when deletes are largest)."),
    "p14_polygon_census" -> ("Polygon census: every measure is an " +
      "in-row higher-order aggregate over the closed ring — map-only, " +
      "no explode, no shuffle; a billion polygons cost one " +
      "projection. Integer arithmetic; two final rounded divisions."),
    "u05_golden_record" -> ("Survivorship: every per-field election is " +
      "a struct arg-min/arg-max inside ONE entity-keyed hash " +
      "aggregate (+ one (entity, value) fold per majority column, " +
      "joined back entity-keyed) — map-side partials everywhere, " +
      "never a window over the record space, never a sort."),
    "x40_diameter_sweep" -> ("Double sweep: the loop-invariant edge " +
      "frame materializes ONCE (not re-derived per frontier join — " +
      "2.3x), then two shrinking-frontier BFS runs with " +
      "localCheckpoint cuts; elections are 1-row limits, assembly is " +
      "broadcast nested-loop over 1-row frames — no driver collect, " +
      "no cartesian."),
    "d26_threshold_audit" -> ("Threshold audit: the d03 skew-guarded " +
      "candidate join at minJ 0 (cost bounded by the postings cap), " +
      "then a band hash-census and a 21-row cumulative window — " +
      "everything after the pair scoring is aggregate-sized."),
    "a38_gini_sources" -> ("Gini census: one corpus-sized per-source " +
      "fold; the rank window, Gini cross-multiplication and top-k " +
      "shares all run on the |sources|-row aggregate."),
    "st23_sample_maintain" -> ("Streaming KMV maintenance: per batch " +
      "one bounded-heap sample of the batch + a sample-sized merge " +
      "with the stored k-rows-per-stratum table; the corpus is never " +
      "rescanned and replays are no-ops by set semantics."),
    "a37_cusum" -> ("CUSUM changepoint: one event-sized hash census " +
      "to hours, then spine-sized work only — per-type prefix sums " +
      "from one window sort, argmax via arg_max hash aggregate, " +
      "integer cross-multiplied ppm verdict."),
    "t44_contam_score" -> ("Contamination score: bench shingle " +
      "universe broadcast as a distinct hash set; the corpus streams " +
      "map-side through a left-semi hash join and is never shuffled; " +
      "zero-hit docs rejoin via a doc-id-keyed left-outer on the " +
      "doc-sized frame."),
    "m09_audio_segments" -> ("VAD census: whole operator in-row (one " +
      "O(len) char split, O(w) array slices per window, array folds) " +
      "— map-only, zero shuffle, scan-bound. Per-char substring " +
      "against the full payload would be O(len^2) per row (3.3x); no " +
      "explode: the flag array never leaves its row."),
    "a36_benford" -> ("Benford census: one map-side digit census to 9 " +
      "rows; everything after (total window, ppm shares, law join, " +
      "verdicts) runs on the 9-row aggregate. Scan-bound by " +
      "construction."),
    "x39_adamic_adar" -> ("Adamic-Adar: per-page candidate audiences " +
      "sampled to bottom-64 by consistent hash (pair cost pins at " +
      "pages x 64^2 regardless of corpus size), weights from the FULL " +
      "audience census, pairs via one page-keyed equi-join, election " +
      "one arg_max hash aggregate."),
    "v25_lloyd_step" -> ("Lloyd step: one corpus scan (in-row argmin " +
      "over 8 literal centroids, codegen arithmetic), one k-row " +
      "vec_sum aggregate with map-side partials, seed lookup via " +
      "element_at on the literal seed table. Per-iteration cost = " +
      "scan + k rows; nothing else shuffles."),
    "p13_spatial_neighbors" -> ("Grid spatial join: 9x neighborhood " +
      "explode + ONE cell equi-join + exact integer distance on " +
      "candidates only — cost tracks point density per cell, never " +
      "|P|^2; no cartesian node, no dedup pass (pairs unique by " +
      "construction)."),
    "a35_ldiversity" -> ("l-diversity: one partial-aggregated " +
      "(class, sensitive) census over the corpus, then every fold is " +
      "class-count-sized. No window, no second row scan; the verdict " +
      "rule is a projection over the folded counts."),
    "t43_sample_merge" -> ("KMV sample: bounded-heap TopK partials " +
      "map-side, |strata| x k rows ever shuffled; the merge step is " +
      "sample-sized (two k-row frames unioned, deduped by id, " +
      "re-heaped) — the corpus is never rescanned."),
    "st22_watermark_audit" -> ("Watermark audit: distributed prefix " +
      "scan — per-hour-bucket window sorts in parallel, cross-bucket " +
      "prefix from the bucket-count-sized aggregate broadcast back, " +
      "greatest() fuses the two. No global sort; the delay fan-out " +
      "explodes 3 literals, and the census is one hash aggregate."),
    "a34_acf_hourly" -> ("Hourly ACF: one event-sized hash census to " +
      "hours, then everything is spine-sized — per-type bounds fold, " +
      "sequence explode, ONE window sort computing all 12 stacked " +
      "lags, broadcast denominator join. No 12-way self-join, no " +
      "event-sized sort."),
    "x38_interval_islands" -> ("Interval islands: one window sort per " +
      "user (running-max-end boundary test, running island counter) + " +
      "one per-island hash fold. The sort is the operator's intrinsic " +
      "cost; user_id partitions it and nothing else shuffles."),
    "j13_entity_resolution" -> ("Blocked record linkage: per pass one " +
      "equi-join on the derived blocking key (cost = sum-over-blocks, " +
      "never |L| x |R|), over-cap blocks dropped via an " +
      "aggregation-sized broadcast anti-join, pass union deduped once, " +
      "scoring joins ride the candidate set, resolution is one arg_max " +
      "hash aggregate."),
    "x37_scc" -> ("SCC (FW-BW-min): per iteration one edge equi-join " +
      "plus a partial-aggregated min or a (node,color) semi-join — " +
      "O(E) with map-side combine, O(V) node frames, localCheckpoint " +
      "lineage cuts. All color roots peel their SCCs simultaneously " +
      "each outer round, so rounds track SCC-chain depth, not node " +
      "count."),
    "a31_ks_drift" -> ("Exact two-sample KS: one window sort per " +
      "event_type (sort-bound by definition), running counts folded " +
      "per distinct value, per-type totals broadcast back, and the " +
      "statistic is an integer cross-multiplication — no float crosses " +
      "the hash until the final rounded ratio."),
    "a10_topk_agg" -> ("Top-k per group via the bounded-heap " +
      "TypedImperativeAggregate: partial_top_k runs before the exchange, " +
      "so each mapper ships at most k pairs per group — shuffle volume " +
      "groups x k, independent of row count, where the window form sorts " +
      "every group's full row set inside one task."),
    "d09_bloom_decontaminate" -> ("Bloom-prefiltered decontamination: the " +
      "might_contain gate (a binary-literal Bloom built by ONE aggregation " +
      "over the small bench side) filters documents BEFORE their shingles " +
      "explode — at 100 TB the >99% clean majority is rejected map-side " +
      "without ever materializing posting rows; the exact broadcast join " +
      "verifies only the survivors, so the answer equals d08's."),
    "d10_incremental_dedup" -> ("Incremental admission: LEFT ANTI " +
      "equi-join on the 16-byte canonical fingerprint (only hashes " +
      "shuffle, text stays put), then the keep-first election " +
      "partial-aggregates min(doc_id) per fingerprint and semi-joins " +
      "back. No window sort anywhere."),
    "t13_source_quota" -> ("Fixed-quota sampling through the bounded " +
      "heap: partial_top_k ships at most quota pairs per source per " +
      "mapper; the md5 rank makes the pick deterministic across reruns " +
      "and the shuffle volume sources x quota, independent of corpus " +
      "size."),
    "a12_argmax" -> ("Arg-max as ONE hash aggregation: max over the " +
      "(value, id) struct with map-side partials — one struct of state " +
      "per group; the window form this replaces sorts every group's " +
      "full row set to keep one row."),
    "x11_rolling_window" -> ("Trailing 7-day aggregates via a RANGE " +
      "frame: one hash exchange on the customer key, one partition-local " +
      "sort — the naive interval self-join is quadratic on active keys."),
    "t12_bigram_lm" -> ("Bigram LM scoring: three aggregations/joins, " +
      "every one partial-aggregated or an equi-join on the word/bigram " +
      "key; V arrives as a plan constant, no window, no cartesian."),
    "st07_stream_ingest" -> ("The batch mirror of the streaming ingest " +
      "front door: map-side quality gate, md5-fingerprint election with " +
      "partial min, semi-join back, per-lang partial-agg counts — text " +
      "crosses a shuffle only in the semi-join probe."),
    "v08_hamming_ann" -> ("Binary Hamming ANN: sign-bit packing is " +
      "map-only on both sides (32x corpus compression), queries " +
      "broadcast, ONE corpus scan of XOR+popcount, and partial_top_k " +
      "keeps k pairs per query map-side — shuffle volume queries x k, " +
      "no candidate materialization, no per-query sort."),
    "d12_chunk_dedup" -> ("CDC chunk audit: chunking is an in-kernel fold " +
      "over each doc's word array — map-only, no explode, no window, no " +
      "shuffle of words; after it, everything rides 16-byte chunk hashes " +
      "through partial-aggregated group-bys (distinct-doc counts, per-doc " +
      "stats)."),
    "x16_pagerank" -> ("Integer PageRank: per round, one equi-join of " +
      "the edge list with the rank vector on the 8-byte node id plus one " +
      "partial-aggregated groupBy(dst) — the distributed PageRank shape; " +
      "all-integer ranks make reruns and engines bit-identical, and the " +
      "scale auto-sizes to the node count so the same plan serves 10^2 " +
      "and 10^9 node graphs."),
    "t09_tfidf" -> ("TF-IDF as ONE job: the tf aggregation subtree feeds " +
      "the df build, the probe side, and the corpus-size scalar, and " +
      "ReuseExchange materializes its exchange once; selection through " +
      "partial_top_k_str (integer (tf,df) composite, term-byte " +
      "tie-break) — no per-doc window sort, no persist, no eager action."),
    "t17_bpe_encode" -> ("BPE application: the merge table rides in as " +
      "plan literals and every document encodes inside one map-only " +
      "projection of codegen'd string functions — zero shuffles over the " +
      "corpus; only the vocabulary-sized merge derivation aggregates."),
    "m04_phash_neardup" -> ("Perceptual near-dup: candidates from the " +
      "(band_idx, band_val) equi-join over 16-bit hash bands — exact for " +
      "ham <= 3 by pigeonhole — deduped as id pairs before the 4 bands " +
      "re-attach; payloads never shuffle, no cartesian."),
    "v11_indexed_ann" -> ("Persisted sign-bit index: the shortlist scans " +
      "stored signatures (no per-query re-packing) and the rerank joins " +
      "id-only candidates against the vec_id bucket layout — bucketed " +
      "scans, zero corpus-side exchanges; only heap partials and the " +
      "candidate set move."),
    "v02_cosine_pairs" -> ("Exact all-pairs cosine as a distributed block " +
      "grid: vectors hash to B blocks, replicate to their B grid cells " +
      "(shuffle n x B embedding copies — a join materializes n^2 rows), " +
      "and each cell pairs two blocks locally in one flatMapGroups pass. " +
      "No driver collect, no corpus broadcast, no CartesianProduct node; " +
      "the n^2 COMPUTE is the contract (this is the audit baseline the " +
      "ANN paths are graded against), spread over B(B+1)/2 tasks."),
    "d13_indexed_neardup" -> ("Persisted minhash index: pairing reads " +
      "stored banded signatures from the doc_id-bucketed layout — the " +
      "corpus shingle payload never re-hashes and never shuffles; only " +
      "(band, band_hash) postings and id pairs move, and admission " +
      "composes the same scans with a LEFT ANTI."),
    "d14_chunk_remove" -> ("Exact substring-span removal: map-only CDC " +
      "chunking (in-kernel fold, no word rows), first-owner election as " +
      "a partial-aggregated min over 16-byte hashes, and ONE " +
      "hash-equi-join + ONE doc_id groupBy move the chunk payload — the " +
      "floor for an operator whose OUTPUT is rewritten text; re-assembly " +
      "sorts each doc's own chunks inside the aggregate (array_sort), " +
      "never a Window."),
    "t19_dsir_weights" -> ("DSIR importance weights in ONE job: the " +
      "k-row hashed model aggregates with map-side partials, totals ride " +
      "in-plan as a broadcast scalar, the probe joins tokens to the " +
      "model by BROADCAST (the token side never exchanges), and the " +
      "per-doc score is a partial-aggregated sum of integer micro-logs " +
      "— no FP accumulation, no driver action, no persist."),
    "t20_quality_classifier" -> ("Hashed linear quality filter as PURE " +
      "MAP: bucket->weight is an expression, scoring is one in-kernel " +
      "fold per doc inside WholeStageCodegen — no explode, no join; the " +
      "one Exchange below is the oracle-determinism ORDER BY the " +
      "registered query appends — the operator itself is a single " +
      "corpus scan at any scale (PlanSpec asserts the no-exchange " +
      "form)."),
    "v12_indexed_ivf" -> ("Persisted IVF index: probed query lists " +
      "equi-join the cl-bucketed layout with the query side BROADCAST, " +
      "so corpus vectors are scored where they sit at the bucketed scan " +
      "— unlike the inline IVF there is no candidate re-attach shuffle; " +
      "the only hash exchange is the top-k heap's partial->final re-key " +
      "on query_id (ScaleOpsSpec asserts <= 1)."),
    "s14_compaction" -> ("Small-file compaction: sub-threshold files " +
      "fold through a NARROW coalesce — each writer task streams whole " +
      "input files, zero exchange, and files above threshold are never " +
      "read — cost is the small-file bytes, not the table; the readback " +
      "is a plain pushdown scan of the compacted dir."),
    "d16_semantic_dedup" -> ("SemDeDup: the pairwise stage is a " +
      "self-equi-join on the k-means cluster id — sum(|cluster|^2) " +
      "comparisons instead of |corpus|^2, no cross product; the closure " +
      "moves 8-byte id labels, and survivor election is one arg_max " +
      "hash aggregate on the component id (no window sort)."),
    "x19_bfs_dist" -> ("Multi-source BFS: round h equi-joins only the " +
      "(h-1) FRONTIER against the edge list on the 8-byte src id and " +
      "anti-joins the known set — a shrinking variant side against a " +
      "loop-invariant edge side (servable from the bucketed layout, " +
      "where it never shuffles), with an early exit when the frontier " +
      "empties. Integer hop counts: bit-stable across engines and " +
      "reruns."),
    "x22_covisit_sim" -> ("Co-visitation similarity graph: candidate " +
      "pairs generate KEYED ON THE SHARED USER (one equi self-join, " +
      "ReuseExchange serves both sides from one incidence exchange), so " +
      "cost is sum C(fanout,2) — never |pages|^2; per-page set sizes " +
      "ride in as BROADCAST aggregates and the Jaccard threshold is an " +
      "integer cross-multiplication inside the join condition — no FP, " +
      "no second pass."),
    "x23_triangle_count" -> ("Triangle counting via degree-ordered " +
      "orientation: every triangle has exactly one wedge owner, max " +
      "oriented out-degree is O(sqrt E), and a hub's edges all point IN " +
      "— the quadratic wedge hot key vanishes by construction, not by " +
      "salting. Wedge generation and the closure check are both " +
      "equi-joins (src id; canonical (a,b) pair); no cartesian, no " +
      "window."),
    "x24_trustrank" -> ("TrustRank: the x16 PageRank round shape — one " +
      "edge equi-join + one partial-aggregated groupBy per iteration — " +
      "with the teleport term gated by a 0/1 seed flag carried ON the " +
      "node frame, so personalization adds zero joins to the loop; " +
      "integer-exact ranks, scale auto-sized on the seed count as an " +
      "in-plan broadcast scalar."),
    "v15_ivfpq" -> ("IVFADC: the coarse cell equi-join prunes WHICH " +
      "vectors are scored (nprobe/c of the corpus), PQ residual codes " +
      "compress WHAT the scan reads per scored vector (8 offset-codes, " +
      "not 64 floats) — multiplicative composition of the v05 and v13 " +
      "prunings; per-(query,cell) ADC tables broadcast, the fold is " +
      "codegen'd builtins, exact cosine rerank restores order."),
    "v16_indexed_ivfpq" -> ("Persisted IVFADC: probes land on the " +
      "cl-BUCKETED stored layout — only probed lists are read, stored " +
      "codes scan as-is (nothing re-encodes at query time), the rerank " +
      "re-attaches embeddings from the SAME table rows; the only " +
      "exchanges are the two query-keyed heap aggregations " +
      "(ScaleOpsSpec asserts <= 2)."),
    "t22_quality_buckets" -> ("CCNet terciles: the t12 score pipeline " +
      "feeds a per-LANGUAGE ntile — languages distribute across tasks; " +
      "one language's ranking sorts in one task (the exact form CCNet " +
      "itself runs per-language; at corpus scale the documented swap is " +
      "sampled-quantile thresholds, which turns the window into a " +
      "broadcast-joined map)."),
    "st12_outer_join" -> ("Stream-stream LEFT OUTER interval join " +
      "(batch mirror): user-keyed equi-join with the time-range " +
      "predicate as the join condition — never a nested loop; in " +
      "streaming the same two-sided watermark bounds buffered state and " +
      "times out unmatched clicks into null-padded rows."),
    "d17_containment" -> ("Near-containment: the d03 inverted-index " +
      "candidate generator (skew-guarded postings equi-join) with " +
      "ASYMMETRIC normalization — containment |A∩B|/|A| catches the " +
      "quoted-short-doc case the symmetric Jaccard dilutes; both " +
      "directions explode from one verified pair row, nothing " +
      "corpus-sized moves twice."),
    "x25_kcore" -> ("k-core peel (final-round plan shown; the loop ran " +
      "to fixpoint): per round one partial-aggregated degree count + " +
      "two LEFT SEMI equi-joins over a monotonically SHRINKING, " +
      "checkpointed edge set — the convergence count is the same action " +
      "that materializes the round, no extra job."),
    "st14_upsert_state" -> ("Streaming upsert state (batch-applied " +
      "mirror): per batch, last-wins election is ONE arg_max hash " +
      "aggregate (map-side partials), the merge reads back ONLY touched " +
      "hash partitions, and the write is a dynamic partition overwrite " +
      "— cost per batch ~ batch + touched partitions, never the table."),
    "m05_video_neardup" -> ("Cross-video shared-frame near-dup: frames " +
      "explode map-side, hash in the native perceptual_hash codegen " +
      "kernel straight off the scan, candidates from the exact 4-band " +
      "pigeonhole equi-join; band-collision duplicates are absorbed by " +
      "the terminal count(DISTINCT frame), so the pair set shuffles " +
      "once, not twice."),
    "x26_assortativity" -> ("Degree assortativity from INTEGER " +
      "sufficient statistics: one edge-degree join + one total " +
      "aggregate; the only FP op is the final correlation expression " +
      "over six exact 64-bit sums — deterministic, so the rounded " +
      "coefficient hash-compares."),
    "t23_mixture_weights" -> ("Temperature mix weights: exact integer " +
      "token counts (native word-count kernel, map-side partial sums), " +
      "one IEEE-exact sqrt per language, totals ride as a broadcast " +
      "1-row aggregate — the language-count-sized tail of a corpus-" +
      "sized map."),
    "a22_hist_quantiles" -> ("Exact histogram quantiles: the corpus " +
      "reduces to a DOMAIN-sized (type, cent) histogram in one " +
      "partial-aggregated shuffle; the cumulative window then sorts " +
      "per-type HISTOGRAMS (<= |domain| rows), never the corpus — the " +
      "bounded-state exact-percentile plan a06's value-buffering form " +
      "can't give."),
    "a24_retention" -> ("Stored-bitmap retention: raw (day, user) rows " +
      "fold map-side into ONE roaring bitmap per day (bitmap_agg " +
      "partials merge by OR); the trailing-7-day window is a range " +
      "join over the tiny per-day frame and a bitmap_or_count of <= 7 " +
      "stored bitmaps — the raw id space crosses the wire once, not " +
      "once per window."),
    "x27_harmonic" -> ("Landmark harmonic centrality: L per-seed BFS " +
      "runs fused into ONE multi-frontier loop — frontier rows are " +
      "(seed, node) pairs, each round one src equi-join against the " +
      "loop-invariant edge side + one anti-join against the " +
      "binary-counter-folded known set; the integer 12/d fold is a " +
      "partial-aggregated sum, no window."),
    "x28_label_prop" -> ("Label propagation: per round one edge " +
      "equi-join + one partial-aggregated (node, label) vote count + " +
      "the arg_max ObjectHashAggregate on (cnt, -label) — one winner " +
      "row per node crosses the shuffle, no per-node sort, plan cut " +
      "per round at a localCheckpoint."),
    "t24_leakfree_split" -> ("Leak-free split: the component closure " +
      "moves 8-byte id labels only; totalization is one LEFT join of " +
      "the label table onto doc ids, and the md5 cluster-hash split is " +
      "a map-only expression — no text ever shuffles."),
    "v17_index_delete" -> ("Index takedown delete: the serve plan is " +
      "v11's bucketed zero-corpus-exchange shape plus ONE broadcast " +
      "LEFT ANTI against the tombstone side table — tombstones are " +
      "takedown-sized, so the delete costs a broadcast, not a corpus " +
      "rewrite; vacuum folds them physically off the serve path."),
    "v18_mips" -> ("Exact MIPS: queries broadcast, one corpus scan " +
      "scores raw dots, partial_top_k keeps k pairs per query " +
      "map-side — shuffle volume queries x k; the augmented-cosine " +
      "reduction (constant-norm padding) makes every cosine ANN index " +
      "serve the same ranking."),
    "v19_knn_graph" -> ("kNN graph: all-vs-all pairs through the v02 " +
      "block-grid kernel (no cartesian node, no driver collect), " +
      "doubled by one explode, per-node selection through " +
      "partial_top_k — shuffle nodes x k, never a per-node sort."),
    "st15_decontaminate" -> ("Streaming decontamination gate (batch " +
      "mirror): the Bloom literal rejects the clean majority inside " +
      "the map stage (no state, no shuffle); only bloom suspects reach " +
      "the broadcast per-doc LEFT ANTI, whose match rule is row-local " +
      "array_intersect — stream-side rows never exchange."),
    "t26_chunk_windows" -> ("Context-window chunking: split + in-row " +
      "transform over the start sequence + one Generate (posexplode) — " +
      "a single map-only stage; the chunker runs at scan speed and its " +
      "OUTPUT is what downstream packing shuffles."),
    "t28_fertility" -> ("Tokenizer fertility: per-doc token counts in " +
      "the native bpe_token_count kernel (map-only byte scans, merges " +
      "as plan literals), then ONE partial-aggregated language rollup " +
      "— corpus text never shuffles, only language-count-sized sums."),
    "s16_wap" -> ("Write-Audit-Publish: all audits evaluate in ONE " +
      "aggregation job over the staged scan (boolean aggregate " +
      "columns), publish is a filesystem rename — the gate adds one " +
      "bounded job to any write, independent of audit count."),
    "a25_mad_outliers" -> ("MAD outlier census: one corpus scan builds " +
      "the cent histogram; median, the deviation histogram, MAD, and " +
      "the 3-MAD census all derive from that domain-sized frame — " +
      "windows sort histograms, never events, and every rule is " +
      "64-bit-integer exact."),
    "x29_hybrid_rrf" -> ("Hybrid RRF: the BM25 leg ends in " +
      "TakeOrderedAndProject (top-20, no global sort), the dense leg " +
      "in the kNN heap; fusion joins <= 40 rows and ranks with integer " +
      "10^9 div (60+r) keys — two incomparable score scales never " +
      "meet, and the whole fusion tail is constant-sized."),
    "d20_semantic_admission" -> ("Semantic admission: the day's batch " +
      "BROADCASTS, the corpus streams ONCE map-side through the " +
      "broadcast join, per-batch max-cos partial-aggregates, and the " +
      "LEFT ANTI is batch-sized — the corpus never shuffles and holds " +
      "no state; the paraphrase gate costs one corpus scan per day."),
    "t29_blocklist" -> ("Blocklist gate: the term list is a broadcast " +
      "TABLE (model-as-data — 10^4-term lists stay a hash join, never " +
      "a plan string), hits count through one explode + equi-join with " +
      "map-side partials, and the keep rule is an integer threshold; " +
      "clean docs totalize at 0 via the LEFT join."),
    "st16_full_join" -> ("FULL OUTER interval join (batch mirror): " +
      "user-keyed equi-join with the time-range predicate in the join " +
      "condition — no nested loop; in streaming the two-sided " +
      "watermark bounds both buffers and null-pads each side's " +
      "unmatched rows exactly once."),
    "t31_langid_confusion" -> ("Langid confusion: one partial-" +
      "aggregated (lang, guess) cell count over the native scoring " +
      "map, marginals joined from the same tiny frame — classifier " +
      "observability at one corpus scan, integer ppm cells."),
    "st17_rate_limit" -> ("Rate-limited admission (batch mirror): the " +
      "quota contract as a window rank over HOUR-BOUNDED groups — each " +
      "sort is one hour of one type regardless of log length; the " +
      "streaming form replaces the window with one counter per open " +
      "(type, hour) in keyed state, pruned at the watermark."),
    "x30_ktruss" -> ("k-truss: per round one degree-ordered triangle " +
      "enumeration over the SHRINKING edge set (hubs generate zero " +
      "wedges) + a per-edge support count with map-side partials + a " +
      "LEFT SEMI filter — monotone removal, lineage cut per round, no " +
      "cartesian, no window."),
    "st18_dedup_redelivery" -> ("Exactly-once dedup over an " +
      "at-least-once log (batch mirror): one hash-aggregate dedup on " +
      "event_id — the streaming form holds one id per event inside the " +
      "watermark horizon instead; either way the payload shuffles once " +
      "on the key, never sorts."),
    "st19_neardedup_election" -> ("Streaming near-dup dedup (election " +
      "mirror): fingerprinting is MAP-ONLY (shingle + md5 min in-row), " +
      "the election shuffles 16-byte fingerprints + ids, and the " +
      "winner semi-join is the only time doc rows move — text never " +
      "crosses the exchange twice; the streaming form swaps the " +
      "election for keep-first keyed state, same key."),
    "st20_maintained_agg" -> ("Maintained-aggregate sink (batch-applied " +
      "mirror): each delta pre-aggregates map-side to (key, cnt, sum) " +
      "partials, only the touched hash slots of the stored table are " +
      "read back and merged by the distributive law, dynamic overwrite " +
      "keeps untouched slot files — refresh costs delta + touched, " +
      "never the log."),
    "v22_margin_mining" -> ("Margin-based bitext mining: pairs come " +
      "from the v19 block-grid kernel + bounded heap (no cartesian), " +
      "per-node neighborhood stats are one tiny aggregate over ids+" +
      "micro-cosines, and the mutual gate + margin join move ids only " +
      "— embeddings never cross an exchange after the kNN stage."),
    "t30_repetition" -> ("Top-gram census: one explode to (doc, 3-gram) " +
      "rows, a partial-aggregated per-gram count, then a per-doc max + " +
      "tie-broken min-gram election — hash aggregates and one semi-join " +
      "on (doc, cnt), no window, no in-row quadratic."),
    "m07_aspect_buckets" -> ("Aspect bucketing: the 7-entry bucket " +
      "list rides the plan as a literal array, the argmin is an in-row " +
      "array_sort — map-only, zero shuffle, zero FP (lcm-scaled " +
      "integer cross-multiplication decides nearest)."),
    "a28_inactivity_gaps" -> ("Inactivity gaps: one window partitioned " +
      "by user (each sort is one user's events — bounded however long " +
      "the log), then a hash aggregate; gap math is integer epoch-" +
      "micros end to end."),
    "t32_phrase_index" -> ("Phrase index: one explode off the dedup " +
      "shingle kernel, a partial-aggregated df count with the hub cap, " +
      "a 3-row TakeOrderedAndProject for the query phrases (never a " +
      "full sort), broadcast serve join — postings shuffle once, docs " +
      "never move."),
    "a29_gapfill_spine" -> ("Gap fill: corpus touched once for the " +
      "hourly counts; the spine explodes from a per-type (min, max) " +
      "aggregate — rows ~ types x hours, joined back on the tiny " +
      "side."),
    "d22_source_overlap" -> ("Source overlap: the closure labels reduce " +
      "to (cluster, source) pairs first, so the self-join's fan-out is " +
      "sources-per-cluster, never docs-per-cluster — a 10k-doc mirror " +
      "cluster costs the same as a 2-doc one."),
    "v23_kmeans_assign" -> ("Lloyd assignment: 8x64 centroid literal " +
      "rides the plan (model-as-data), per-row distance + argmin are " +
      "in-row HOFs — map-only, zero shuffle, zero join; the scan IS " +
      "the iteration cost."),
    "x32_temporal_reach" -> ("Temporal reachability: per round one " +
      "delta-frontier equi-join on src + a partial-aggregated min + a " +
      "min-merge — the BFS round shape with relaxation, expansion " +
      "bounded by improved rows only (min-merge dominance proof in " +
      "the scaladoc), lineage cut per round."),
    "s20_snapshot_expire" -> ("Snapshot expiry: pure filesystem-" +
      "catalog work — a bounded listing + per-doomed-version recursive " +
      "delete; no data read, no job, and the pointer target is spared " +
      "so serving never breaks mid-expiry."),
    "s21_table_history" -> ("Table history: one tiny aggregate per " +
      "retained snapshot (catalog-sized loop under the retention " +
      "bound), unioned lazily — stats come from the snapshots " +
      "themselves, so the listing cannot drift from the data."),
    "m08_frame_coherence" -> ("Frame coherence: frames hash in the " +
      "native perceptual_hash codegen kernel straight off the scan; " +
      "the lag window's partitions are <= 8 frames by construction, " +
      "then one hash aggregate — per-video cost is constant."),
    "t33_word_dropout" -> ("Word dropout: in-row index filter + gather " +
      "+ rebuild — map-only, zero shuffle, zero RNG state; determinism " +
      "comes from hashing (doc, position), so retried tasks emit " +
      "identical rows."),
    "t34_length_buckets" -> ("Length buckets: tier id is integer " +
      "bit-length math in the scan projection, then one tiny " +
      "per-tier fold — map-side combine leaves ~10 rows to shuffle."),
    "x33_join_profile" -> ("Join profile: two map-side partial-" +
      "aggregated key histograms + a key-on-key full join — shuffle " +
      "volume is DISTINCT KEYS, never data rows; forecasting a 100 TB " +
      "join's cardinality costs a key census, not the join."),
    "x34_random_walks" -> ("Random walks: the ranked adjacency builds " +
      "once (one window pass over src partitions); each of the 3 steps " +
      "joins the SEEDS-SIZED frontier against it — walk cost scales " +
      "with walks, not with the graph."),
    "a30_kanonymity" -> ("k-anonymity: ONE corpus-sized census (map-" +
      "side partials), then the generalization walk runs over CLASS " +
      "COUNTS — two tiny aggregations, rows never touched again."),
    "x35_fd_profile" -> ("FD profile: per candidate one (lhs, rhs) " +
      "dedup with map-side partials + a per-lhs count — shuffle is " +
      "distinct pairs; verdicts are exact, not sampled."),
    "a47_bcubed" -> ("B-cubed: the per-item sums collapse onto the " +
      "(pred, gold) contingency table — one corpus fold to cells + two " +
      "broadcast marginals. Cells are bounded by cluster overlap, never " +
      "n^2 pairs; at 100 TB the metric costs one aggregation."),
    "a48_krippendorff" -> ("Krippendorff alpha: one scan explodes 3 " +
      "in-row rater structs (map-only), then two bounded folds " +
      "(per-item, per-class) and a broadcast summary — missingness is a " +
      "filter, never a join against a ratings table."),
    "t48_sft_assembly" -> ("SFT gate: ONE scan, ONE exchange on the " +
      "conversation key — pos2-as-running-count makes the alternation " +
      "violation per-row, so both window functions and the render fold " +
      "share one partitioning; no join, no second pass."),
    "t49_quality_tradeoff" -> ("Quality operating points: one corpus " +
      "fold to (lang, bucket) cells, then an 11-row-per-lang window — " +
      "the threshold sweep costs one aggregation regardless of corpus " +
      "size; no per-threshold rescans."),
    "st25_sft_gate" -> ("Streaming SFT gate in bounded execution: the " +
      "flatMapGroupsWithState assembler — one exchange on the " +
      "conversation key, state bounded by the day bucket. The plan is " +
      "the streaming twin of t48's; semantics proven equal in " +
      "StreamingSpec."),
    "v26_pca_power" -> ("PCA serve: train is ONE bounded TakeOrdered " +
      "sample collect + driver-local iterations; serve is map-only at " +
      "scan speed (centered dot + residual per row, component as plan " +
      "literal) — zero shuffle, zero join; only the output sort " +
      "exchanges."),
    "x45_coreset" -> ("Coreset: both trained models ride as literals; " +
      "assignment + projection + residual are ONE map-only scan, " +
      "admission is a scan filter, and the only shuffle is the " +
      "per-cluster election window (early-stopped at rnk <= 4)."),
    "m12_av_align" -> ("AV align: segment extraction is in-row list " +
      "algebra; the interval join is doc-local (<= nw segments x <= 8 " +
      "shots), one shuffle on doc_id — never a corpus-level interval " +
      "join."),
    "x46_zonemap_census" -> ("Zone-map census: one corpus scan feeds " +
      "the per-file zone-map and match folds; the probe x file " +
      "intersection is a 40 x 16 broadcast join. The census itself is " +
      "the scale argument — it MEASURES what pruning saves at 100 TB."))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("PLANS.md")
    val sf = "/root/testdata/sf0.001"
    val spark = Sessions.get("local[4]", 4)
    spark.sparkContext.setLogLevel("ERROR")

    val curated = headline.toMap
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of every registered query\n\n")
    sb.append("Generated by `sbt \"runMain graft.Plans\"` at sf0.001 (plan shape is\n")
    sb.append("scale-invariant for a fixed query). Executable assertions for these\n")
    sb.append("properties live in `graft.queries.PlanSpec` (incl. the no-cartesian\n")
    sb.append("sweep over the full registry). Curated sections carry a per-plan\n")
    sb.append("scale rationale; the rest exist so a plan regression is DIFFABLE —\n")
    sb.append("their scale contracts live in the query scaladoc (Queries.scala).\n")
    var n = 0
    Queries.all.foreach { case (name, fn) =>
      val why = curated.getOrElse(name,
        "Plan dump for regression diffing; scale rationale in the query's " +
          "scaladoc (Queries.scala), cartesian guard in PlanSpec.")
      try {
        val df = fn(spark, sf)
        df.collect() // finalize AQE
        sb.append(s"\n## $name\n\n$why\n\n```\n")
        sb.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode).take(8000))
        sb.append("\n```\n")
        n += 1
      } catch { case e: Throwable =>
        sb.append(s"\n## $name\n\n$why\n\nPLAN DUMP FAILED: ${e.getMessage}\n")
      }
      SessionResources.release(spark)
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out ($n plans of ${Queries.all.size} queries)")
    spark.stop()
  }
}
