"""Regenerate PLANS.md: formatted physical plans of headline queries with
the scale commentary the plan is supposed to prove. Run from repo root:

    python scripts/dump_plans.py [sf_dir] [--only name,name]

--only rewrites just the named sections of the existing PLANS.md.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vecgo_spark.session import get_spark  # noqa: E402

COMMENTARY = {
    "knn_l2": (
        "Exact k-NN. The plan must end in `TakeOrderedAndProject` (bounded "
        "per-partition heaps + driver merge of k rows), never a global "
        "`Sort` — the only driver-side data is k rows. Distance is a native "
        "Column expression inside `WholeStageCodegen`; `ReadSchema` shows "
        "only (vec_id, embedding) are scanned."
    ),
    "knn_l2_filtered": (
        "Filtered k-NN. The metadata predicate reaches the scan as "
        "`PushedFilters` (parquet row-group pruning at 100 TB); the vecgo "
        "missing-field semantics ride along as IsNotNull."
    ),
    "knn_batch": (
        "Batch search (the reference's BatchSearch broadcast theta-join). "
        "The query side is tiny → `BroadcastNestedLoopJoin`/broadcast "
        "exchange, NOT a shuffle of the corpus; per-query top-k is a "
        "window over (qid) after scoring."
    ),
    "ann_ivf": (
        "IVF probe: the cluster-id predicate prunes to nprobe clusters "
        "before any distance math. On a cluster-partitioned layout this is "
        "partition pruning — the scan never opens non-probed files."
    ),
    "tpch_q6_forecast_revenue": (
        "Pure filter+agg: every predicate in `PushedFilters`, partial "
        "aggregation before the single-row exchange (map-side combine)."
    ),
    "tpch_q3_shipping_priority": (
        "Join query: small dims broadcast (`BroadcastHashJoin`), no "
        "shuffle of lineitem for the dimension side."
    ),
    "events_asof_join": (
        "As-of join via union+window: exactly one hash partitioning on "
        "user_id, no `Join` node at all — the O(|L|·|R|) range-join "
        "blow-up is structurally impossible."
    ),
    "topk_per_group_salted": (
        "Skew-safe top-k: phase-1 window partitions by (key, salt) so a "
        "zipfian-hot key is spread over n_salts tasks; phase 2 ranks the "
        "bounded survivors."
    ),
    "embedding_neardup": (
        "Exact cosine near-dup, fully distributed: block-pair candidate "
        "generation runs as a broadcast join of the tiny block-pair table "
        "+ one hash partitioning on (blk_a, blk_b) feeding applyInPandas "
        "(`FlatMapGroupsInPandas`) — NO corpus rows on the driver, no "
        "all-pairs join node; the exact-verify joins hash on candidate "
        "ids only. Strategy is AUTO (r7): above 10M rows the candidate "
        "stage switches to the linear hyperplane-LSH collision join, so "
        "the O(n²) matmul can never be the silent default at corpus "
        "scale."
    ),
    "contamination_ngram": (
        "Benchmark-decontamination overlap: the benchmark shingle set "
        "rides a `BroadcastExchange` (eval suites stay small when the "
        "corpus is 100 TB); the corpus side streams scan→shingle→join "
        "with its only wide exchange at the final groupBy(doc)."
    ),
    "sample_hash_bernoulli": (
        "Deterministic hash sampling: a pure scan+Filter plan — zero "
        "exchanges before the display sort, no Python, membership "
        "independent of partitioning (stable md5-derived hash)."
    ),
    "pack_sequences_budget": (
        "Sequence packing: windows partition by hash shard "
        "(`hashpartitioning(shard)`), never a single global window — "
        "1000 executors pack 1000 shards concurrently; cumsum state is "
        "bounded per shard."
    ),
    "stats_percentiles": (
        "Exact percentiles by distributed selection: range repartition "
        "by value, per-partition `row_number` windows "
        "(`hashpartitioning(pid)`), partition offsets broadcast back — "
        "no global-window single task, no driver collect of data rows; "
        "the lineage below the InMemoryRelation is computed once."
    ),
    "tpch_q5_local_supplier": (
        "6-way join: region/nation broadcast as literal-filtered dims, "
        "fact-fact joins shuffle on their keys with AQE free to elect "
        "broadcast at runtime; revenue accumulates in exact integer "
        "cents inside codegen."
    ),
    "dedup_simhash": (
        "SimHash near-dup: signatures are FULLY JVM-side — "
        "explode(tokens) → md5-derived 60-bit hash → 20 SWAR-packed "
        "`sum`s (3 bit-counters per long, unpacked in-row) in ONE "
        "`HashAggregate` pair (partial map-side, final after a single "
        "`hashpartitioning(id)` exchange); no "
        "Python/Arrow nodes anywhere in the signature stage. The banded "
        "chunk join is the pigeonhole candidate join with the hot-bucket "
        "cap, and pair dedup is an IN-ROW min-surviving-chunk predicate "
        "over the two joined signatures — there must be NO exchange "
        "between the chunk join and the hamming filter (the pair-sized "
        "`.distinct()` is gone). r7: chunk rows come from ONE "
        "explode(array of (chunk,key) structs) pass over the persisted "
        "signatures instead of an n_chunks-way union — each of the three "
        "consumers (hot agg + both join legs) now reads the cache once, "
        "not n_chunks times."
    ),
    "dedup_minhash_lsh": (
        "MinHash-LSH near-dup: ONE aggregation builds the 16-hash "
        "signatures (H min()s over a single (id,hash) shuffle), then ONE "
        "self-join on the banded 60-bit keys. Band rows carry the full "
        "signature, so min-surviving-band pair dedup AND the "
        "match-count verification are in-row expressions — no pair "
        "`.distinct()`, no back-joins against the signature table. r7: "
        "band rows come from ONE explode pass (not a num_bands-way "
        "union) — see the dedup_simhash note."
    ),
    "dedup_minhash_incremental": (
        "Incremental ingest dedup, r8: the corpus side is served from "
        "the STORED signature artifact (minhash_at_rest parquet — the "
        "scan below reads the fixed-width m0..m15 columns, never the "
        "corpus text; no split()/shingle explode on that leg). Batch "
        "band rows equi-join corpus band rows — no corpus self-join, so "
        "per-batch cost is ONE batch signature aggregation plus a "
        "signature-column scan; hot corpus buckets leave via an "
        "unhinted anti-join and the match-count verification is in-row "
        "over the carried signatures."
    ),
    "doc_repetition": (
        "Intra-doc repetition profile (Gopher-style): the ENTIRE plan is "
        "a per-row projection — no Exchange, no Python nodes. The n-gram "
        "mode comes from a linear run-length fold over `array_sort` "
        "output; distinct fractions from `array_distinct`. "
        "Embarrassingly parallel over a 100 TB scan. r7: the token and "
        "gram arrays sit behind eval_once projection barriers — the plan "
        "carries ONE tokenizer copy (the unbarriered r6 plan held 25, "
        "7 inside transform lambdas; see tests/test_perf_plans.py)."
    ),
    "tpch_q4_order_priority": (
        "EXISTS decorrelated to a LEFT SEMI join keyed on o_orderkey "
        "with the non-equi shipdate correlation as the join residual; "
        "the semi join never widens rows and AQE picks broadcast vs "
        "shuffle by size (broadcast at bench SF, shuffled at 100 TB)."
    ),
    "tpch_q19_discounted_revenue": (
        "OR-of-ANDs brand/size/quantity predicate: part broadcasts "
        "(`BroadcastHashJoin`), the compound predicate evaluates "
        "post-join inside codegen, revenue accumulates in exact integer "
        "e4 cents with map-side partial aggregation before the "
        "single-row exchange."
    ),
    "tpch_q22_idle_customers": (
        "Derived-threshold anti-join: the positive-balance average is a "
        "ONE-ROW aggregate that broadcasts (`BroadcastNestedLoopJoin` of "
        "a single row — no customer shuffle for the threshold), the "
        "threshold compare is cross-multiplied exact cents inside "
        "codegen, and no-orders is a `LeftAnti` hash join on o_custkey."
    ),
    "doc_chunking_overlap": (
        "Context-window chunking: split → sequence → posexplode → slice "
        "— per-row generators only, ZERO exchanges before the display "
        "sort and no Python nodes; 1000 executors chunk a 100 TB corpus "
        "with no coordination."
    ),
    "events_funnel_conversion": (
        "Funnel conversion: next-purchase comes from a min() over the "
        "FORWARD window frame — exactly one `hashpartitioning(user_id)` "
        "exchange, no self-join of events against events (the O(|E|²) "
        "pair blow-up is structurally impossible); the per-user rollup "
        "reuses the same partitioning."
    ),
    "tpch_q7_nation_volume": (
        "Nation-pair volume: supplier/customer/nation dims all broadcast "
        "(`BroadcastHashJoin` ×4 — nation appears twice under different "
        "aliases), lineitem joins orders on the fact key; exact-cent "
        "revenue aggregates with map-side partials."
    ),
    "tpch_q8_market_share": (
        "Deepest join tree in the suite: lineitem ⋈ orders shuffles on "
        "the fact key once; part/supplier/customer/nation×2/region ALL "
        "broadcast — seven joins, one wide exchange. Numerator and "
        "denominator are conditional exact-cent sums in ONE aggregate "
        "(no second pass)."
    ),
    "embedding_cluster_balance": (
        "Cluster-balanced subsampling: nearest-centroid assignment is a "
        "pure Column argmin over literal centroids (no Python, no join), "
        "then ONE hashpartitioning(cluster_id) window ranks by stable "
        "hash; the per-cluster cap is a filter on row_number."
    ),
    "events_retention_cohorts": (
        "Cohort retention matrix: ONE user-keyed HashAggregate carries "
        "the first week AND the bounded distinct-week set (collect_set), "
        "exploded into (cohort, offset) cells — exactly one "
        "hashpartitioning(user_id) exchange, no join, no second shuffle "
        "of events; the final cell count is a small aggregate."
    ),
    "ann_hnsw_batch": (
        "Per-partition HNSW batch ANN: ONE `MapInPandas` over the corpus "
        "(each partition builds + searches its own graph — the corpus "
        "never leaves its partitions until the bounded k-per-query "
        "candidate emit), then a per-query `Window` rank over the tiny "
        "candidate stream. No rangepartitioning (no global sort), no "
        "corpus collect, no second pass."
    ),
    "tpch_q21_waiting_supplier": (
        "Waiting suppliers: the classic EXISTS + NOT-EXISTS pair of "
        "lineitem self-joins collapses into a two-level aggregation — "
        "per (order, supplier) first, then per order — so there is no "
        "`Expand` node (the countDistinct formulation would double the "
        "lineitem stream) and both exchanges hash on the l_orderkey "
        "prefix; a Filter on (n_supps ≥ 2, n_late = 1) replaces both "
        "correlated subqueries, the supplier-name join broadcasts, and "
        "the top-20 is a `TakeOrderedAndProject`."
    ),
    "tpch_q13_custdist": (
        "Order-count distribution: LEFT OUTER join keeps zero-order "
        "customers (the c_count=0 bucket); the per-customer count rides "
        "the join's exchange, and the distribution aggregate runs over "
        "≤ max-orders-per-customer distinct values — effectively free."
    ),
    "chunk_dedup_frac": (
        "Chunk-level exact dedup: chunks group on md5(chunk_text) — a "
        "fixed-width shuffle key regardless of chunk size; duplicate "
        "marking is `row_number` over ONE hashpartitioning(h) window "
        "(no self-join: a boilerplate chunk repeated 1M× is one hot "
        "key being RANKED, never paired), then one groupBy(doc) rollup. "
        "Two narrow exchanges total; zero Python nodes."
    ),
    "doc_perplexity_bigram": (
        "Bigram-LM scoring: the tokenized stream persists once "
        "(`InMemoryRelation`, released per call) and feeds all four "
        "consumers — instances, C12, C1, vocab — so the corpus parquet "
        "is scanned ONCE; the count-table joins carry NO broadcast hint "
        "(r7: the bigram table is vocab-sized, unbounded at web scale — "
        "Catalyst/AQE picks a runtime broadcast when it measures small, "
        "a shuffle join otherwise; broadcast_counts=True/False pins "
        "either mode), and the per-doc rollup is one groupBy(id)."
    ),
    "docs_pattern_scrub": (
        "Pattern scrubbing: counts + redaction hash are pure codegen "
        "regexp expressions fused into the scan projection — the only "
        "exchange is the presentation-order rangepartitioning for the "
        "deterministic oracle compare; the audit itself is map-only, so "
        "at 100 TB it rides the scan with zero shuffle."
    ),
    "docs_rule_funnel": (
        "Quality-rule funnel: all six integer rule flags evaluate inside "
        "one WholeStageCodegen projection over the scan; the only "
        "exchange is the tiny groupBy(source) rollup with map-side "
        "partial aggregation — per-executor output is O(#sources), not "
        "O(#docs)."
    ),
    "tpch_q11_important_parts": (
        "Important parts: one hashpartitioning(l_partkey) exchange for "
        "the per-part rollup, which PERSISTS so the grand-total leg "
        "re-aggregates the tiny cached stream instead of re-scanning "
        "lineitem; the 1-row total broadcasts back "
        "(BroadcastNestedLoopJoin — the scalar-subquery shape), so the "
        "share filter never reshuffles the per-part stream."
    ),
    "tpch_q20_dominant_supplier": (
        "Dominant suppliers: lineitem collapses to (part, supplier) "
        "pairs in one wide exchange; the per-part totals come from a "
        "window OVER THE PAIR AGG (orders of magnitude smaller than "
        "lineitem) whose hashpartitioning(l_partkey) is the only other "
        "exchange; supplier names broadcast and the final rollup is "
        "O(#suppliers)."
    ),
    "kmv_distinct_shingles": (
        "KMV distinct sketch: the prefilter (h < 2^60/4) cuts ~75% of "
        "the shingle stream BEFORE the wide (grp, h) dedupe exchange "
        "gets it; the per-group k-smallest is a bounded row_number "
        "window whose hashpartitioning(grp) the final rollup reuses. "
        "The estimate is two IEEE divisions — deterministic, so the "
        "sketch oracle-matches bit-for-bit despite being approximate. "
        "r7: the token array is pinned behind an eval_once barrier (one "
        "tokenizer copy in the Generate, never inside its lambda), and "
        "underfull prefiltered groups scale by 2^prefilter_bits instead "
        "of undercounting."
    ),
    "docs_bloom_decontam": (
        "Bloom-prescreen decontamination — the 100 TB shape of "
        "contamination_ngram: the benchmark folds into a 16 KB bit "
        "vector embedded as a PLAN LITERAL, so the corpus side has NO "
        "join node at all — scan → shingle Generate → literal-array bit "
        "probes (one md5 per shingle, k positions via Kirsch-"
        "Mitzenmacher) → one groupBy(doc). False positives are "
        "deterministic (both engines compute the identical bit vector), "
        "so the oracle matches bit-for-bit."
    ),
    "docs_dsir_weights": (
        "DSIR importance weights: both hashed-bucket count tables are "
        "B=4096-row aggregates — bounded BY CONSTRUCTION, so their "
        "`BroadcastExchange` is sound at any corpus size (contrast the "
        "perplexity vocab tables, which must stay AQE-decided); the raw "
        "side is one explode → broadcast probe → groupBy(doc). The "
        "per-bucket log-ratio is computed once in the tiny weight table. "
        "The corpus is scanned twice (count pass + probe pass), both "
        "map-only before their exchanges; the count pass shuffles only "
        "B-row partials thanks to map-side combine."
    ),
    "docs_token_budget_mixture": (
        "Token-budget mixture cut, r8: the running sum is a TWO-PHASE "
        "prefix sum — the data window partitions by (source, _bk) where "
        "_bk is a deterministic range bucket from the priority hash's "
        "top bits (shiftright in the scan projection), so no window "
        "group ever holds a whole source; the per-(source, bucket) "
        "token subtotals are a map-side-combined aggregate whose "
        "exclusive prefix offsets broadcast-join back. Budgets still "
        "ride as a literal CASE (no join); the only source-partitioned "
        "window runs over the 4096-row subtotal aggregate. Plan pin: "
        "tests/test_perf_plans.py::test_token_budget_no_single_"
        "partition_window."
    ),
    "docs_exact_substring_spans": (
        "ExactSubstr dedup (Lee et al. 2021) via run-merging: window "
        "positions + hashes are scan-fused projections behind the "
        "eval_once barrier; the duplicated-hash keys come from ONE "
        "map-side-combined groupBy(h) and return via a LeftSemi "
        "equi-join on the hash — never a pos x pos self-join of the "
        "token stream; the island merge is a per-document window "
        "(bounded by doc length). r9: persist_windows=True caches the "
        "window stream, so both legs read InMemoryTableScan and the "
        "corpus text tokenizes ONCE (plan pin: tests/test_plans.py::"
        "test_exact_substring_dedup_single_tokenize_when_persisted)."
    ),
    "dedup_semantic_clusters": (
        "SemDeDup removal action FROM THE STORED ARTIFACT (r13): the "
        "pair graph is read from the _index/semdedup-v* pair sidecar "
        "(exact-verified at build — no gemm, no applyInPandas in this "
        "plan on a clean snapshot) and collapses to duplicate groups "
        "via connected components — a size-gated driver union-find "
        "under 1M edges, distributed pointer-jumping past the cap — "
        "and the keep choice is ONE row_number window partitioned by "
        "group_id; cent_cos comes from the stored narrow assignment "
        "rows (the corpus vector column is never touched). The comp "
        "label map joins back as a small broadcastable local relation."
    ),
    "dedup_simhash": (
        "Banded SimHash near-dup from STORED signatures (r9): the plan "
        "starts at the simhash artifact scan (one long per doc — the "
        "text column is never re-hashed; visibility algebra on sig "
        "rows), then the minimal-chunk banded self-join — by pigeonhole "
        "any pair within max_hamming shares an exact chunk, so no "
        "O(n²); hot chunk buckets dropped via plan literals."
    ),
    "bm25_search_at_rest": (
        "BM25 from the PERSISTENT lexical index: the scan reads the "
        "postings artifact with `term IN (query terms)` pushed down "
        "(term-sorted files → row-group pruning — the postings-lookup "
        "analog), N/avgdl come from manifest counters with ZERO jobs on "
        "a clean snapshot, per-term docFreq from the stored df sidecars "
        "(bm25.go:29-53's running counters; a |terms|-row lookup) — so "
        "the plan has exactly ONE postings scan, and since the sidecar "
        "dfmap bounds the candidate set it sits inside an "
        "InMemoryRelation that keeps the frame RESIDENT (r12): a repeat "
        "query is a top-k over InMemoryTableScan, zero reads — the "
        "reference's resident-postings serving. The text column is "
        "never touched. idf values ride as literals into one codegen "
        "score projection; top-k is TakeOrderedAndProject."
    ),
    "bm25_search_churned_at_rest": (
        "BM25 from stored postings UNDER CHURN (upserts + deletes landed "
        "after the build). ONE visibility mechanism: the term-filtered "
        "postings are filtered by the table's cached kill set "
        "(table._vis_vmax — read on the driver from the `_pk/` sidecars "
        "and tombstones, the same loaded PK index df() serves vector "
        "reads from) as one `CASE WHEN id IN (…) THEN _lsn > L … ELSE "
        "TRUE END` predicate — no join, no exchange of a kill frame, no "
        "broadcast. A cold query builds its visible rows once: the "
        "N/Σdl/docFreq aggregate reads them with the marker rows, the "
        "scoring pass drops those (`term IS NOT NULL`), which removes "
        "the recompute leg's marker branch from the plan. The (candidate "
        "frame, dfmap) pair is keyed by (snapshot, artifact, terms) and "
        "reused across calls, so a repeat query's plan is a top-k over "
        "InMemoryTableScan — zero postings reads. Bit-identical to "
        "recomputing over the live snapshot — the oracle applies the "
        "same churn relationally."
    ),
    "ann_ivf_churned_at_rest": (
        "Probe-pruned search over a churned cluster layout — the "
        "adversarial shape for the subset-visibility fix: the upserted "
        "victim's stale rank-1 row sits in a PROBED cluster while its "
        "live version moved to an unprobed one. The driver query "
        "collects this search in its call; shown is the search's own "
        "plan: the probed file scan and ONE Filter carrying the "
        "snapshot's kill set (`CASE WHEN id IN (…) THEN _lsn > L … ELSE "
        "TRUE END`, the persisted PK index engine.go:2226-2262 read on "
        "the driver from the tiny `_pk/` (id, _lsn) sidecars and the "
        "tombstones — never a corpus segment outside the probe set), "
        "which excludes the stale row; pre-fix code returns it as the "
        "top hit and hash-mismatches. No join, no exchange, no "
        "broadcast: a cold read after a commit is one job. Past "
        "VIS_PREDICATE_MAX_IDS kill ids the filter becomes one join on "
        "a persisted (id, _kill_lsn) kill frame."
    ),
    "point_get_churned": (
        "Churned point-get — the id-RESTRICTED PK consult (the "
        "reference's per-read O(candidates) index lookup, mvcc.go:125). "
        "The id predicate prunes the far-half segment via manifest "
        "stats and reaches the segment scan as In(id, …) in "
        "PushedFilters; visibility is the snapshot's cached kill set as "
        "one in-plan predicate, so no sidecar or tombstone scan runs at "
        "all. Past VIS_PREDICATE_MAX_IDS kill ids the id predicate is "
        "pushed into the kill frame's sidecar and tombstone scans "
        "instead (row-group pruning rather than aggregating every id "
        "of the table); at 100 TB the plan touches one segment's row "
        "groups + key-only sidecar bytes."
    ),
    "hybrid_rrf_indexed_at_rest": (
        "The COMPLETE one-table two-index serving path (engine.go:"
        "1538-1634 with the 1549 stance that an indexed table never "
        "corpus-scans): the vector leg is search(nprobe=) over the "
        "at-rest IVF layout — probe selection is driver-side "
        "arithmetic on the centroids, the scan touches only probed "
        "cluster files (file-pruning pin in test_lexical_at_rest) and "
        "the plan is built without a Spark job — the "
        "lexical leg reads stored postings, and the shared RRF fuses "
        "two k-row legs. Oracle: the cluster-restricted hybrid twin "
        "(the ann_ivf literal-centroid pattern)."
    ),
    "hybrid_rrf_at_rest": (
        "The reference's full serving path (engine.go:1538-1634) over "
        "ONE table carrying both index families: exact vector top-k "
        "over the live snapshot (TakeOrderedAndProject) + BM25 from "
        "stored postings + the shared 0-based-rank RRF fuse over two "
        "k-row legs — driver-side data is 2·vector_k rows; bit-identical "
        "to hybrid_rrf (shared oracle)."
    ),
    "hybrid_rrf_filtered_at_rest": (
        "Filtered hybrid over the at-rest table: the metadata predicate "
        "reaches only the vector leg's scan as a pushed filter "
        "(SearchOptions → SearchIter, engine.go:1549) while the stored "
        "lexical leg stays filter-agnostic (engine.go:1555); both legs "
        "are k-row, the fuse is driver-bounded."
    ),
    "ann_ivf_early_terminate": (
        "SegmentPriority early termination (stats.go:643-677): probe "
        "selection and the skip test are pure driver-side manifest "
        "arithmetic (centroid/radius lower bounds — no I/O); the plan "
        "that runs is a scan restricted to the surviving probed files "
        "+ TakeOrderedAndProject. Phase 1 is the same plan over ONE "
        "segment to pin D_k; results are bit-identical to "
        "search(nprobe) by the triangle-inequality argument, checked "
        "against the shared ann_ivf oracle."
    ),
    "dedup_semantic_pairs": (
        "SemDeDup within-cluster cosine pruning FROM THE STORED "
        "ARTIFACT (r13): on a clean snapshot the plan is two narrow "
        "parquet scans — the exact-verified pair list joined (pairs as "
        "the statistics-known broadcast side, the corpus-sized assigned "
        "frame STREAMED, zero exchanges of it) against the per-version "
        "visibility rows; the per-cluster applyInPandas gemm ran ONCE "
        "at index build and appears in no serving plan. Dirty clusters "
        "(unindexed row versions, hot transitions) take a recompute leg "
        "restricted to exactly those clusters; cross-cluster pairs stay "
        "structurally impossible and stored cos_sim/drop_id are the "
        "same sequential-fold doubles the recompute emits "
        "(oracle-bit-exact)."
    ),
    "dedup_semantic_pairs_churned": (
        "The stored SemDeDup artifact under CHURN (upserts + deletes + "
        "a refresh, r14): the serving plan is still stored-only — NO "
        "applyInPandas gemm (the upsert rows' pairs were gemm'd once at "
        "refresh and live in the -pairs sidecar) — with the (id, lsn) "
        "endpoint-visibility joins composing with the snapshot's kill "
        "set, applied as one in-plan predicate on the assigned rows "
        "(the one visibility mechanism every serving path consults). "
        "The corpus-sized "
        "assigned frame streams through the statistics-broadcast pair "
        "list exactly as in the clean plan; churn adds per-row "
        "FILTERS, not exchanges of the corpus."
    ),
    "tpch_q12_ship_priority": (
        "Q12 shape: the date + flag filter reaches the lineitem scan as "
        "PushedFilters; the orderkey equi-join is AQE-decided (orders "
        "is not broadcast-sized at TPC-H scale); the two-bucket "
        "conditional counts are map-side partial aggregates."
    ),
    "docs_weighted_sample": (
        "Weighted sampling: priority = hash/weight is one codegen "
        "division in the scan projection, and the global top-50 is a "
        "TakeOrderedAndProject — per-partition heaps, k·P rows to the "
        "driver, NO rangepartitioning global sort anywhere."
    ),
    "docs_exact_substring_dedup": (
        "ExactSubstr removal action: the span rows aggregate into one "
        "per-doc span list (bounded by spans-per-doc), LEFT-joined back "
        "on the doc id (plain equi-join — span volume is "
        "corpus-proportional, never broadcast-hinted), and the token "
        "drop is a codegen filter-with-index over the token array "
        "against the in-row span list — per-token cost O(spans in doc), "
        "no Python anywhere. r9: the shared token frame AND the window "
        "stream persist, so the whole spans+rewrite pipeline tokenizes "
        "the corpus exactly once (was three scans)."
    ),
    "docs_tfidf_keywords": (
        "Per-doc TF-IDF keywords: one (doc, term) groupBy for tf "
        "(map-side combine), a vocabulary-sized df aggregate joined "
        "back on term (AQE-decided), and a per-doc rank window — "
        "WindowGroupLimit keeps the top-k map-side. The rank key is the "
        "6-decimal-rounded score, so ordering is engine-identical "
        "despite libm ln() last-ulp drift."
    ),
    "embedding_label_purity": (
        "Cluster-vs-label purity: the argmin assignment is a plan "
        "literal (O(nlist)), the contingency groupBy is map-side "
        "combined with at most nlist x #labels output rows, and the "
        "dominant-label rollup is nlist-sized — manifest-sized results "
        "at any corpus scale, one division per cluster."
    ),
    "docs_length_quantiles_by_source": (
        "Per-group exact quantiles by distributed selection: ONE "
        "range-repartition over (group, value), per-(partition, group) "
        "row_number windows (bounded by partition size — a mega-source "
        "spreads across partitions, never one window task), tiny "
        "count/offset aggregates broadcast back, and the interpolation "
        "join against the per-group (p, lo, hi, frac) target table. "
        "Plan pin: tests/test_stats.py::test_grouped_percentiles_no_"
        "per_group_window."
    ),
    "events_anomaly_zscore": (
        "Rolling anomaly flags: the (n, Σx, Σx²) frame sums share ONE "
        "`hashpartitioning(event_type)` exchange + sort (the Window "
        "nodes stack on the same ordering — no second shuffle), and the "
        "anomaly test is integer cross-multiplied inside codegen — no "
        "float, no Python, state bounded by the ROWS frame."
    ),
}


def _churned_ivf_search(spark, sf_dir: str):
    import __spark_entry__ as entry

    return entry._churned_ivf_table(spark, sf_dir).search(
        entry._query_vector(spark, sf_dir), k=10, nprobe=3)


# sections whose driver query returns a collected local relation: the
# plan worth reading is the one its call ran
PLAN_OF = {"ann_ivf_churned_at_rest": _churned_ivf_search}


def main() -> None:
    args = sys.argv[1:]
    only = None
    if "--only" in args:
        i = args.index("--only")
        only = set(args[i + 1].split(","))
        del args[i:i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    spark = get_spark("plan-dump")
    import __spark_entry__ as entry

    qs = entry.queries()
    out = [
        "# PLANS — physical-plan audit of headline queries",
        "",
        f"Generated by `python scripts/dump_plans.py {sf_dir}` "
        "(re-run after planner-affecting changes). Each section states the "
        "scale property the plan must exhibit, then the "
        "`explain('formatted')` output that proves it. Programmatic "
        "assertions for these postures live in `tests/test_plans.py`.",
        "",
    ]
    sections = {}
    for name, note in COMMENTARY.items():
        if only is not None and name not in only:
            continue
        df = PLAN_OF.get(name, qs[name])(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        sections[name] = "\n".join(
            [f"## {name}", "", note, "", "```", plan.rstrip(), "```", ""])
    dest = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    if only is None:
        text = "\n".join(out + list(sections.values()))
    else:
        with open(dest) as f:
            text = f.read()
        for name, section in sections.items():
            start = text.index(f"## {name}\n")
            end = text.find("\n## ", start)
            text = text[:start] + section + (text[end:] if end >= 0 else "")
    with open(dest, "w") as f:
        f.write(text)
    print(f"wrote {dest} ({len(sections)} plans)")


if __name__ == "__main__":
    main()
