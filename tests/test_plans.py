"""Physical-plan posture checks — the properties that make these operators
survive a 100× scale-up. These assert on explain() output, so a regression
that silently de-optimizes a plan (lost pushdown, global sort, broadcast →
shuffle join, Python in the hot path) fails CI."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from vecgo_spark.explain import QueryStats, spark_plan
from vecgo_spark.filters import FilterSet
from vecgo_spark.operators import knn
from vecgo_spark.sources.registry import load_table


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    """eq/gt predicates must appear as PushedFilters in the parquet scan."""
    docs = load_table(spark, sf_dir, "documents")
    fs = FilterSet().eq("lang", "en").gt("n_chars", 200)
    plan = spark_plan(docs.where(fs.to_column()).select("doc_id"))
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "lang" in pushed and "n_chars" in pushed


def test_column_pruning_reaches_parquet(spark, sf_dir):
    """A 2-column projection must not read the text column."""
    docs = load_table(spark, sf_dir, "documents")
    plan = spark_plan(docs.select("doc_id", "lang"))
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "text" not in read_schema


def test_topk_uses_take_ordered_not_global_sort(spark, sf_dir):
    """orderBy(score).limit(k) must compile to TakeOrderedAndProject —
    O(k) per partition + O(k·parts) at the driver — never a full sort
    shuffle (which at 100 TB would shuffle the whole corpus)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = [0.0] * 64
    plan = spark_plan(knn.search(emb, q, k=10, id_col="vec_id", vector_col="embedding"))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_knn_score_stays_jvm_side(spark, sf_dir):
    """Distance scoring must never cross into Python (no BatchEvalPython /
    ArrowEvalPython) — the JVM-side guarantee of functions/vector.py.
    (Higher-order exprs like aggregate/zip_with are JVM-interpreted, not
    whole-stage-codegen'd, so we assert absence of Python nodes rather
    than presence of codegen.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    plan = spark_plan(knn.search(emb, [0.0] * 64, k=10, id_col="vec_id", vector_col="embedding"))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Scan parquet" in plan


def test_antijoin_broadcasts_small_side(spark, sf_dir):
    plan = spark_plan(entry._tombstone_antijoin(spark, sf_dir))
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan


def test_batch_search_broadcasts_queries(spark, sf_dir):
    """batch kNN = broadcast(queries) × corpus — the corpus must never
    shuffle for the join."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvector")
    )
    df = knn.batch_search(emb, queries, k=5, id_col="vec_id", vector_col="embedding")
    plan = spark_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_query_stats_surface(spark, tmp_path):
    from vecgo_spark.plans.table import VectorTable

    t = VectorTable.create(spark, str(tmp_path / "t"), dim=2, metric="l2")
    t.insert(
        spark.createDataFrame([(1, [0.0, 0.0], 5), (2, [1.0, 1.0], 5)],
                              "id LONG, vector ARRAY<DOUBLE>, price INT"))
    t.commit()
    t.insert(
        spark.createDataFrame([(3, [2.0, 2.0], 50), (4, [3.0, 3.0], 50)],
                              "id LONG, vector ARRAY<DOUBLE>, price INT"))
    t.commit()

    df, stats = t.search_with_stats([0.0, 0.0], k=2, filter=FilterSet().gt("price", 10))
    assert df.count() == 2
    assert stats.segments_total == 2
    assert stats.segments_pruned == 1  # first segment max(price)=5 can't match
    assert stats.segments_searched == 1
    assert stats.rows_considered == 2 and stats.rows_filtered_out == 2
    assert stats.estimated_cost() == 2 + 0.3 * 2
    text = stats.explain()
    assert "segments: total=2 searched=1 pruned=1" in text
    assert "spark physical plan" in text and stats.elapsed_ms > 0


def test_estimated_cost_formula():
    s = QueryStats(rows_considered=100, rows_filtered_out=50)
    assert s.estimated_cost() == 100 + 0.3 * 50  # model/types.go:212-221


def test_contamination_broadcasts_bench_side(spark, sf_dir):
    """The benchmark shingle set must join via BroadcastExchange (eval
    suites are tiny vs a 100 TB corpus — never shuffle the corpus side)."""
    from vecgo_spark.operators import pipeline

    docs = load_table(spark, sf_dir, "documents")
    plan = spark_plan(
        pipeline.contamination_overlap(
            docs.where(F.col("doc_id") % 97 != 0), docs.where(F.col("doc_id") % 97 == 0)
        )
    )
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pack_sequences_windows_are_per_shard(spark, sf_dir):
    """Sequence packing must window per shard (hashpartitioning on shard),
    never a single global window over all documents."""
    from vecgo_spark.operators import pipeline

    docs = load_table(spark, sf_dir, "documents")
    plan = spark_plan(pipeline.pack_sequences(docs, budget=512, n_shards=8))
    assert "hashpartitioning(shard" in plan
    # no single-partition exchange feeding the window
    assert "Exchange SinglePartition, ENSURE_REQUIREMENTS" not in plan


def test_hash_sample_is_pure_filter(spark, sf_dir):
    """hash_sample must stay a scan+filter (no shuffle, no Python)."""
    from vecgo_spark.operators import pipeline

    docs = load_table(spark, sf_dir, "documents")
    plan = spark_plan(pipeline.hash_sample(docs, 0.1).select("doc_id"))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_simhash_signature_stays_jvm_side(spark, sf_dir):
    """The SimHash signature stage must be pure Column aggregation — no
    Python/Arrow nodes (per-batch kernels were the one remaining Python
    hot spot) and exactly one wide exchange for the groupBy(id)."""
    from vecgo_spark.operators.dedup import simhash

    docs = load_table(spark, sf_dir, "documents")
    plan = spark_plan(simhash(docs))
    for node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
                 "MapInPandas"):
        assert node not in plan
    assert "HashAggregate" in plan


def test_exact_percentiles_no_global_window(spark, sf_dir):
    """The selection plan's row_number windows must be per-partition
    (hashpartitioning(pid)) — a global-window implementation would put
    the whole table through one task at 100 TB."""
    from vecgo_spark.operators.stats import exact_percentiles

    orders = load_table(spark, sf_dir, "orders")
    out = exact_percentiles(orders, "o_totalprice", [0.5], n_partitions=4)
    plan = spark_plan(out)
    assert "hashpartitioning(pid" in plan
    cached = getattr(exact_percentiles, "last_cached", None)
    if cached is not None:
        cached.unpersist()


def test_simhash_pairs_no_exchange_after_chunk_join(spark, sf_dir):
    """Pair dedup is an in-row min-surviving-chunk predicate: the plan
    must contain NO aggregate/exchange between the banded self-join and
    the hamming filter (the pair-sized .distinct() is gone). Concretely:
    every HashAggregate in the plan belongs to the signature stage or the
    hot-bucket count — none may group on the pair columns."""
    from vecgo_spark.operators.dedup import simhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    plan = spark_plan(simhash_pairs(docs))
    assert "id_a" in plan  # sanity: the pair projection exists
    for ln in plan.splitlines():
        if "HashAggregate" in ln:
            assert "id_a" not in ln and "id_b" not in ln


def test_minhash_pairs_single_join_no_backjoin(spark, sf_dir):
    """Band rows carry the signatures, so the whole candidate+verify
    pipeline is ONE self-join: exactly one join node in the plan, no
    pair-column aggregate, no Python nodes."""
    from vecgo_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    import re

    plan = spark_plan(minhash_lsh_pairs(docs))
    joins = set(re.findall(
        r"\((\d+)\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan))
    assert len(joins) == 1, joins
    for ln in plan.splitlines():
        if "HashAggregate" in ln:
            assert "id_a" not in ln and "id_b" not in ln
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_doc_chunking_is_per_row_generate(spark, sf_dir):
    """Chunking must be generator-only: no Exchange before the display
    sort (drop the orderBy and there must be NO exchange at all), no
    Python nodes — 1000 executors chunk independently."""
    import __spark_entry__ as em

    df = em.queries()["doc_chunking_overlap"](spark, sf_dir)
    plan = spark_plan(df.limit(10))          # limit displaces the orderBy sort
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # count exchanges excluding the TakeOrdered/limit machinery: a pure
    # generate pipeline has none
    body = plan.split("TakeOrderedAndProject")[0] if "TakeOrderedAndProject" in plan else plan
    assert "hashpartitioning" not in body and "rangepartitioning" not in body


def test_funnel_single_user_exchange_no_self_join(spark, sf_dir):
    """The funnel must ride ONE hashpartitioning(user_id) exchange (the
    forward-frame window) with the per-user rollup reusing it — and no
    join node anywhere (a view×purchase self-join would be O(|E|²) on a
    hot user)."""
    import __spark_entry__ as em

    df = em.queries()["events_funnel_conversion"](spark, sf_dir)
    plan = spark_plan(df)
    assert "Join" not in plan
    assert plan.count("hashpartitioning(user_id") == 1


def test_retention_cohorts_single_user_exchange(spark, sf_dir):
    """The cohort matrix must ride ONE user-keyed exchange (the per-user
    agg carrying first week + collect_set of weeks) — no join, no second
    wide shuffle of events."""
    import __spark_entry__ as em

    df = em.queries()["events_retention_cohorts"](spark, sf_dir)
    plan = spark_plan(df)
    assert "Join" not in plan
    assert plan.count("hashpartitioning(user_id") == 1


def test_q21_two_level_agg_no_self_join_no_expand(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS self-join pair must stay collapsed into
    the two-level (order,supplier)→order aggregation riding ONE
    orderkey exchange (r14: pair cardinality ≈ row count, so the
    up-front l_orderkey repartition serves pair dedup AND rollup — the
    old plan re-shuffled the stream between them), NO lineitem×lineitem
    join, and NO Expand (the countDistinct formulation would double the
    lineitem stream)."""
    df = entry.queries()["tpch_q21_waiting_supplier"](spark, sf_dir)
    plan = spark_plan(df)
    assert plan.count("hashpartitioning(l_orderkey") == 1
    assert "Expand" not in plan
    # both remaining joins are broadcast; no shuffled join anywhere
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_chunk_dedup_ranks_never_pairs(spark, sf_dir):
    """Chunk dedup must RANK duplicate chunks (window over the md5 key),
    never self-join them — no join node at all, and no Python."""
    df = entry.queries()["chunk_dedup_frac"](spark, sf_dir)
    plan = spark_plan(df)
    assert "Join" not in plan
    assert "Window" in plan
    assert "Python" not in plan and "MapInPandas" not in plan


def test_perplexity_scans_corpus_once(spark, sf_dir):
    """The persisted token stream must feed all four consumers — exactly
    one documents parquet scan reaches the plan; count tables broadcast."""
    df = entry.queries()["doc_perplexity_bigram"](spark, sf_dir)
    plan = spark_plan(df)
    # every consumer reads the cached token stream (the parquet lineage
    # only appears REPRINTED inside the InMemoryRelation blocks)
    assert plan.count("InMemoryTableScan") >= 3
    assert "BroadcastExchange" in plan


def test_rolling_anomaly_single_key_exchange(spark, sf_dir):
    """All three frame sums must share one event_type exchange; the flag
    math is integer codegen (no floats in the compare, no Python)."""
    df = entry.queries()["events_anomaly_zscore"](spark, sf_dir)
    plan = spark_plan(df)
    assert plan.count("hashpartitioning(event_type") == 1
    assert "Python" not in plan


def test_rule_funnel_single_source_exchange(spark, sf_dir):
    """All six rule flags must fuse into the scan projection — the only
    exchange is the groupBy(source) rollup, and nothing is Python."""
    df = entry.queries()["docs_rule_funnel"](spark, sf_dir)
    plan = spark_plan(df)
    assert plan.count("hashpartitioning(source") == 1
    assert "Join" not in plan
    assert "Python" not in plan and "MapInPandas" not in plan


def test_q11_scalar_subquery_broadcasts(spark, sf_dir):
    """The grand-total row must broadcast back over the PERSISTED
    per-part stream (both legs read the cache — lineitem parquet feeds
    one aggregation, not two) with no shuffled join."""
    df = entry.queries()["tpch_q11_important_parts"](spark, sf_dir)
    plan = spark_plan(df)
    assert plan.count("InMemoryTableScan") >= 2
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_q20_window_rides_pair_agg(spark, sf_dir):
    """Pair agg and per-part window must share ONE l_partkey exchange
    (r14: pair cardinality ≈ row count, so the old partial-agg shuffle +
    window re-shuffle moved the table twice for nothing — the explicit
    l_partkey repartition satisfies both distributions), and no shuffled
    join."""
    df = entry.queries()["tpch_q20_dominant_supplier"](spark, sf_dir)
    plan = spark_plan(df)
    assert plan.count("hashpartitioning(l_partkey") == 1
    assert "Window" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_weighted_sample_is_takeordered(spark, sf_dir):
    """Global weighted top-k must be TakeOrderedAndProject (partition
    heaps + driver merge), never a rangepartitioning global sort."""
    df = entry.queries()["docs_weighted_sample"](spark, sf_dir)
    plan = spark_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan
    assert "Python" not in plan


def test_kmv_prefilter_precedes_shuffle(spark, sf_dir):
    """The 2^58 hash prefilter must sit BELOW the first exchange (cutting
    the shingle stream before the wide dedupe shuffles it), the per-group
    top-64 must get a map-side WindowGroupLimit, and nothing is Python."""
    import re

    df = entry.queries()["kmv_distinct_shingles"](spark, sf_dir)
    plan = spark_plan(df)
    # formatted mode numbers nodes leaf-first: the prefilter Filter must
    # carry a LOWER node number than every hashpartitioning Exchange
    blocks = re.split(r"\n\((\d+)\) ", plan)
    filter_n = min((int(n) for n, b in zip(blocks[1::2], blocks[2::2])
                    if str(1 << 58) in b), default=None)
    exch_ns = [int(n) for n, b in zip(blocks[1::2], blocks[2::2])
               if b.startswith("Exchange") and "hashpartitioning" in b]
    assert filter_n is not None and exch_ns and filter_n < min(exch_ns)
    assert "WindowGroupLimit" in plan
    assert "Python" not in plan


def test_tombstone_broadcast_is_size_gated(spark, tmp_path, monkeypatch):
    """The visibility anti-join must broadcast the per-id max-LSN side
    only when manifest tombstone stats bound it (tomb_broadcastable);
    a huge tombstone table must be able to degrade to a shuffle join —
    an unconditional F.broadcast hint would OOM at 100 TB churn."""
    from vecgo_spark.plans import table as tbl_mod
    from vecgo_spark.plans.table import VectorTable

    t = VectorTable.create(spark, str(tmp_path / "tbl"), dim=2)
    rows = [(i, [float(i), 0.0]) for i in range(1, 41)]
    t.insert(spark.createDataFrame(rows, "id long, vector array<float>"))
    t.commit()
    t.delete(list(range(1, 11)))
    t.commit()
    # the join exists past the in-plan kill-set bound only
    monkeypatch.setattr(tbl_mod, "VIS_PREDICATE_MAX_IDS", 0)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # kill Catalyst's own auto-broadcast so only the explicit hint (or
    # its absence) decides the static strategy
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # small tombstone set → stats-gated hint keeps the broadcast
        assert t.tomb_broadcastable()
        plan = spark_plan(t.df())
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        # simulate a tombstone table beyond the bound → no hint → the
        # static plan is a shuffle join (AQE may still improve it at
        # runtime from observed sizes — that's the point)
        monkeypatch.setattr(tbl_mod, "TOMB_BROADCAST_MAX_IDS", 0)
        assert not t.tomb_broadcastable()
        plan = spark_plan(t.df())
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # unknown stats (legacy manifest) must also refuse the hint
    t.manifest.tombstone_stats = {}
    assert not t.tomb_broadcastable()


def test_tombstone_broadcast_gate_covers_minhash_at_rest(spark, tmp_path, monkeypatch):
    """stored_minhash_signatures shares the same gate — with the bound
    forced to 0 its visibility join must not carry the broadcast hint."""
    from vecgo_spark.operators import minhash_at_rest as mar
    from vecgo_spark.plans import table as tbl_mod
    from vecgo_spark.plans.table import VectorTable

    t = VectorTable.create(spark, str(tmp_path / "tbl2"), dim=2)
    rows = [(i, [float(i), 1.0], f"doc text number {i} common tail words")
            for i in range(1, 21)]
    t.insert(spark.createDataFrame(rows, "id long, vector array<float>, text string"))
    t.commit()
    t.build_minhash_index(text_col="text", n=3, num_hashes=8)
    t.delete([1, 2])
    t.commit()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        monkeypatch.setattr(tbl_mod, "TOMB_BROADCAST_MAX_IDS", 0)
        plan = spark_plan(mar.stored_minhash_signatures(t))
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_exact_substring_dedup_single_tokenize_when_persisted(spark, sf_dir):
    """persist_windows=True must cache BOTH the token frame and the
    window stream: every downstream leg (dup-hash count, semi-join,
    rewrite) reads an InMemoryTableScan, and strictly fewer parquet
    scans of the corpus survive in the plan than the unpersisted shape
    (physically: the text column is tokenized once — r8 verdict #4 /
    ADVICE dead-parameter fix)."""
    from vecgo_spark.operators import dedup
    from vecgo_spark.sources.registry import load_table as lt

    docs = lt(spark, sf_dir, "documents")
    dedup.release_caches()
    before = len(dedup._CACHED)
    # unpersisted plan FIRST — once the caches exist Spark's cache
    # manager substitutes matching fragments into ANY equivalent plan
    plan_n = spark_plan(dedup.exact_substring_dedup(
        docs, min_len=15, persist_windows=False))
    plan_p = spark_plan(dedup.exact_substring_dedup(
        docs, min_len=15, persist_windows=True))
    assert len(dedup._CACHED) == before + 2  # token frame + window stream
    assert "InMemoryTableScan" in plan_p
    assert "InMemoryTableScan" not in plan_n
    assert plan_p.count("Scan parquet") < plan_n.count("Scan parquet")
    dedup.release_caches()
    assert not dedup._CACHED


def test_lexical_postings_scan_pushes_term_filter(spark, tmp_path):
    """The at-rest BM25 plan must push `term IN (query terms)` INTO the
    postings parquet scan (PushedFilters) — with the term-range file
    layout that is the postings-lookup analog; the text column must not
    appear anywhere in the read schema."""
    from vecgo_spark.operators import lexical_at_rest as lex
    from vecgo_spark.plans.table import VectorTable

    t = VectorTable.create(spark, str(tmp_path / "tlexplan"), dim=None)
    t.insert(spark.createDataFrame(
        [(i, f"alpha beta tok{i % 5}") for i in range(1, 21)],
        "id long, text string"))
    t.commit()
    t.build_lexical_index()
    plan = spark_plan(lex.bm25_search_at_rest(t, "beta tok3", k=5))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and any("In(term" in ln for ln in pushed)
    schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schema and all("text" not in ln for ln in schema)
    assert "TakeOrderedAndProject" in plan


def test_simhash_stored_pairs_no_tokenizer(spark, tmp_path):
    """simhash_pairs served from stored signatures must plan as artifact
    scan → banded self-join: no tokenizer split(), no text scan, no
    Python node anywhere."""
    from vecgo_spark.operators import dedup
    from vecgo_spark.operators import simhash_at_rest as sar
    from vecgo_spark.plans.table import VectorTable

    t = VectorTable.create(spark, str(tmp_path / "tsimplan"), dim=None)
    t.insert(spark.createDataFrame(
        [(i, f"the quick brown fox doc{i}") for i in range(1, 21)],
        "id long, text string"))
    t.commit()
    t.build_simhash_index()
    plan = spark_plan(dedup.simhash_pairs(
        None, max_hamming=3, sigs=sar.stored_simhash_signatures(t)))
    assert "split(" not in plan
    assert "text#" not in plan
    assert "Python" not in plan


def test_load_table_reader_cache_identity_and_laziness(spark, sf_dir):
    """r14: load_table memoizes the LAZY reader per (session, dir, table)
    — repeat builds must not re-pay parquet schema/footer resolution —
    while staying plan-metadata-only: the cached frame re-executes
    against the files every action, and the events normalization is
    cached post-transform (ts stays a session TIMESTAMP)."""
    a = load_table(spark, sf_dir, "documents")
    b = load_table(spark, sf_dir, "documents")
    assert a is b  # cache hit: the identical lazy plan object
    assert load_table(spark, sf_dir, "orders") is not a
    ev1 = load_table(spark, sf_dir, "events")
    ev2 = load_table(spark, sf_dir, "events")
    assert ev1 is ev2
    assert dict(ev1.dtypes)["ts"] == "timestamp"
    # the cached object is unexecuted: every action still runs the scan
    assert a.count() == b.count() > 0


def test_vector_table_reader_cache_shared_across_opens(spark, tmp_path):
    """r14: the segment reader cache is module-level (applicationId +
    write-once file set), so re-OPENING a table — what serving entry
    points do per query — reuses the resolved reader instead of paying
    schema/footer resolution again; a commit that adds a segment changes
    the file set and therefore misses to a fresh reader."""
    from vecgo_spark.plans.table import VectorTable

    t = VectorTable.create(spark, str(tmp_path / "trdrcache"), dim=None)
    t.insert(spark.createDataFrame([(1, "a"), (2, "b")], "id long, text string"))
    t.commit()
    t1 = VectorTable.open(spark, str(tmp_path / "trdrcache"))
    t2 = VectorTable.open(spark, str(tmp_path / "trdrcache"))
    d1 = t1._segment_df(list(t1.manifest.segments))
    d2 = t2._segment_df(list(t2.manifest.segments))
    assert d1 is d2  # shared across instances of the same session
    t2w = VectorTable.open(spark, str(tmp_path / "trdrcache"))
    t2w.insert(spark.createDataFrame([(3, "c")], "id long, text string"))
    t2w.commit()
    t3 = VectorTable.open(spark, str(tmp_path / "trdrcache"))
    d3 = t3._segment_df(list(t3.manifest.segments))
    assert d3 is not d1  # new file set → new reader
    assert d3.count() == 3  # and it reads the new segment's rows
