"""BM25 lexical index at rest (operators/lexical_at_rest.py): lifecycle
(build → search → refresh → compact-reindex → vacuum), bit-parity of the
stored search path against bm25.bm25_search over df() under tombstones /
upserts / delta segments, zero-job corpus counters on clean snapshots,
and the plan guarantee that indexed reads never touch the text column."""

import pytest
from pyspark.sql import functions as F

from vecgo_spark.operators import bm25
from vecgo_spark.operators import lexical_at_rest as lex
from vecgo_spark.plans.table import VectorTable


@pytest.fixture()
def tdir(tmp_path):
    return str(tmp_path / "tbl")


def _docs(spark, ids, text=None):
    rows = [(i, text if text is not None
             else f"alpha beta gamma tok{i % 7} beta tok{i % 5} end{i % 11}")
            for i in ids]
    return spark.createDataFrame(rows, "id long, text string")


def _res(df):
    return [(r["id"], r["score"]) for r in df.collect()]


def _fresh(tbl, q, k=10):
    return _res(bm25.bm25_search(tbl.df(), q, k=k, id_col="id", text_col="text"))


Q = "beta tok3 end2"


def test_build_and_search_parity(spark, tdir):
    tbl = VectorTable.create(spark, tdir, dim=None)
    tbl.insert(_docs(spark, range(1, 41)))
    tbl.commit()
    v0 = tbl.manifest.version
    assert tbl.build_lexical_index() == v0 + 1
    got = _res(lex.bm25_search_at_rest(tbl, Q, k=10))
    assert got == _fresh(tbl, Q) and got
    # the table front serves the stored index transparently
    assert _res(tbl.bm25_search(Q, k=10)) == got
    # empty / zero-token queries
    assert lex.bm25_search_at_rest(tbl, "   ", k=5).count() == 0


def test_clean_snapshot_counts_are_zero_job(spark, tdir):
    tbl = VectorTable.create(spark, tdir, dim=None)
    tbl.insert(_docs(spark, range(1, 21)))
    tbl.insert(_docs(spark, [21], text=""))  # zero-token doc counts toward N
    tbl.commit()
    tbl.build_lexical_index()
    n, total = lex.corpus_counts(tbl)
    toks = [len(r) for r in [
        f"alpha beta gamma tok{i % 7} beta tok{i % 5} end{i % 11}".split()
        for i in range(1, 21)]]
    assert n == 21 and total == sum(toks)
    # manifest fast path must agree with the marker-scan path
    info = tbl.manifest.meta["lexical"]
    row = (lex._visible_rows(tbl, terms=[], markers=True)
           .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("t")).first())
    assert (n, total) == (int(row["n"]), int(row["t"]))
    assert set(info["seg_counts"]) == {s.path for s in tbl.manifest.segments}


def test_delta_tombstone_upsert_parity(spark, tdir):
    """Post-build segments take the recompute delta leg; deletes and
    upserts replay df()'s visibility algebra on the index rows —
    including the trap where the WINNING version contains none of the
    query terms (a stale version's postings must not resurface)."""
    tbl = VectorTable.create(spark, tdir, dim=None)
    tbl.insert(_docs(spark, range(1, 31)))
    tbl.commit()
    tbl.build_lexical_index()
    tbl.insert(_docs(spark, range(31, 36)))               # delta segment
    tbl.insert(_docs(spark, [5], text="completely different words now"))
    tbl.insert(_docs(spark, [6], text=""))                # zero-token upsert
    tbl.commit()
    tbl.delete([7, 8, 33])
    tbl.commit()
    got = _res(lex.bm25_search_at_rest(tbl, Q, k=30))
    assert got == _fresh(tbl, Q, k=30)
    ids = {i for i, _ in got}
    assert not {5, 6, 7, 8, 33} & ids  # upsert-shadowed + deleted gone
    assert 31 in ids or 34 in ids      # delta leg serves new docs


def test_reinsert_after_delete_visible(spark, tdir):
    tbl = VectorTable.create(spark, tdir, dim=None)
    tbl.insert(_docs(spark, range(1, 11)))
    tbl.commit()
    tbl.build_lexical_index()
    tbl.delete([3])
    tbl.commit()
    tbl.insert(_docs(spark, [3]))  # resurrected AFTER the delete
    tbl.commit()
    got = _res(lex.bm25_search_at_rest(tbl, Q, k=20))
    assert got == _fresh(tbl, Q, k=20)
    assert 3 in {i for i, _ in got}


def test_refresh_and_counts_ride_manifest(spark, tdir):
    tbl = VectorTable.create(spark, tdir, dim=None)
    tbl.insert(_docs(spark, range(1, 21)))
    tbl.commit()
    tbl.build_lexical_index()
    v = tbl.manifest.version
    assert tbl.refresh_lexical_index() == v  # no-op
    tbl.insert(_docs(spark, range(21, 31)))
    tbl.commit()
    v2 = tbl.refresh_lexical_index()
    assert v2 > v
    info = tbl.manifest.meta["lexical"]
    assert len(info["paths"]) == 2
    assert set(info["seg_counts"]) == {s.path for s in tbl.manifest.segments}
    n, total = lex.corpus_counts(tbl)
    assert n == 30
    assert _res(lex.bm25_search_at_rest(tbl, Q, k=30)) == _fresh(tbl, Q, k=30)


def test_compact_reindexes_and_vacuum_collects(spark, tdir):
    import os

    tbl = VectorTable.create(spark, tdir, dim=None)
    tbl.insert(_docs(spark, range(1, 21)))
    tbl.commit()
    tbl.build_lexical_index()
    rel = tbl.manifest.meta["lexical"]["path"]
    tbl.delete([2])
    tbl.commit()
    tbl.compact()  # default reindex=True rebuilds the family
    info = tbl.manifest.meta["lexical"]
    assert set(info["segments"]) == {s.path for s in tbl.manifest.segments}
    got = _res(lex.bm25_search_at_rest(tbl, Q, k=20))
    assert got == _fresh(tbl, Q, k=20)
    assert 2 not in {i for i, _ in got}
    tbl.vacuum(keep_versions=1)
    assert not os.path.isdir(os.path.join(tbl.path, rel))  # stale dir GC'd
    assert os.path.isdir(os.path.join(tbl.path, info["path"]))
    # reindex=False drops the family
    tbl.compact(reindex=False)
    assert "lexical" not in tbl.manifest.meta
    with pytest.raises(KeyError, match="lexical"):
        lex.bm25_search_at_rest(tbl, Q)


def test_indexed_search_never_touches_text(spark, tdir):
    """The 100-TB point: with every live segment indexed and a clean
    snapshot, the at-rest search plan reads the postings artifact only —
    no tokenizer split(), no text column scan anywhere."""
    tbl = VectorTable.create(spark, tdir, dim=None)
    tbl.insert(_docs(spark, range(1, 21)))
    tbl.commit()
    tbl.build_lexical_index()
    df = lex.bm25_search_at_rest(tbl, Q, k=5)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "split(" not in plan
    assert "text#" not in plan


def test_hybrid_search_at_rest_parity(spark, tdir):
    """The full serving path over one table (vector leg + stored-postings
    BM25 + RRF) must equal hybrid_search over the equivalent collection
    DataFrame — both legs bit-identical, shared fuse."""
    import numpy as np

    from vecgo_spark.operators import hybrid

    rng = np.random.default_rng(31)
    rows = [(i, rng.standard_normal(4).tolist(),
             f"alpha beta tok{i % 5} end{i % 7}") for i in range(1, 31)]
    coll = spark.createDataFrame(rows, "id long, vector array<double>, text string")
    tbl = VectorTable.create(spark, tdir, dim=4, metric="l2")
    tbl.insert(coll)
    tbl.commit()
    tbl.build_lexical_index()
    qv = [0.1, -0.2, 0.3, 0.0]
    got = [(r["id"], r["rrf_score"]) for r in hybrid.hybrid_search_at_rest(
        tbl, qv, "beta tok3", k=8).collect()]
    want = [(r["id"], r["rrf_score"]) for r in hybrid.hybrid_search(
        coll, qv, "beta tok3", k=8, metric="l2",
        id_col="id", vector_col="vector", text_col="text").collect()]
    assert got == want and got


def test_refresh_folds_dirs_at_cap_and_counts_survive(spark, tdir):
    """Bounded dir growth for the lexical family: with max_dirs=2
    repeated refreshes fold still-live postings into the new dir; the
    manifest doc/len counters stay exact across every fold (the
    info_update hook must prune dead segment entries and keep fold
    survivors), search parity holds, and vacuum collects superseded
    dirs."""
    import os

    tbl = VectorTable.create(spark, tdir, dim=None)
    tbl.insert(_docs(spark, range(1, 11)))
    tbl.commit()
    tbl.build_lexical_index()
    seen = set(tbl.manifest.meta["lexical"].get(
        "paths", [tbl.manifest.meta["lexical"]["path"]]))
    n_docs = 10
    for i in range(4):
        tbl.insert(_docs(spark, range(100 + 10 * i, 105 + 10 * i)))
        tbl.commit()
        tbl.refresh_lexical_index(max_dirs=2)
        n_docs += 5
        info = tbl.manifest.meta["lexical"]
        assert len(info["paths"]) <= 2, info["paths"]
        seen.update(info["paths"])
        assert set(info["seg_counts"]) == {s.path for s in tbl.manifest.segments}
        n, _total = lex.corpus_counts(tbl)
        assert n == n_docs
        assert _res(lex.bm25_search_at_rest(tbl, Q, k=50)) == _fresh(tbl, Q, k=50)
    assert len(seen) > 2  # folding actually happened
    live = set(tbl.manifest.meta["lexical"]["paths"])
    tbl.vacuum(keep_versions=1)
    for p in seen:
        assert os.path.isdir(os.path.join(tbl.path, p)) == (p in live), p
    assert _res(lex.bm25_search_at_rest(tbl, Q, k=50)) == _fresh(tbl, Q, k=50)


def test_partial_compaction_parity_and_refresh_reindexes(spark, tdir):
    """maybe_compact replaces indexed segments with a merged one the
    artifact doesn't know: reads must fall back to the recompute delta
    leg for it (bit-parity throughout), corpus_counts must decline the
    stale manifest counters, and a refresh re-indexes the merged
    segment so the next read is fully stored again."""
    from vecgo_spark.plans.policy import CompactionTask

    tbl = VectorTable.create(spark, tdir, dim=None)
    tbl.insert(_docs(spark, range(1, 11)))
    tbl.commit()
    tbl.insert(_docs(spark, range(11, 21)))
    tbl.commit()
    tbl.build_lexical_index()

    class PickAll:
        def pick(self, segments):
            return CompactionTask(segments=list(segments))

    tbl.maybe_compact(PickAll())
    merged = {s.path for s in tbl.manifest.segments}
    assert merged.isdisjoint(set(tbl.manifest.meta["lexical"]["segments"]))
    # delta leg serves the merged segment from text — parity holds
    assert _res(lex.bm25_search_at_rest(tbl, Q, k=30)) == _fresh(tbl, Q, k=30)
    n, _ = lex.corpus_counts(tbl)   # marker/delta path, not stale counters
    assert n == 20
    tbl.refresh_lexical_index()
    info = tbl.manifest.meta["lexical"]
    assert merged <= set(info["segments"])
    assert set(info["seg_counts"]) >= merged
    assert _res(lex.bm25_search_at_rest(tbl, Q, k=30)) == _fresh(tbl, Q, k=30)


def test_table_hybrid_search_front(spark, tdir):
    """VectorTable.hybrid_search delegates to the at-rest path when the
    lexical family exists and the from-text path otherwise — identical
    results either way."""
    import numpy as np

    rng = np.random.default_rng(37)
    rows = [(i, rng.standard_normal(4).tolist(),
             f"alpha beta tok{i % 5} end{i % 7}") for i in range(1, 21)]
    tbl = VectorTable.create(spark, tdir, dim=4, metric="l2")
    tbl.insert(spark.createDataFrame(
        rows, "id long, vector array<double>, text string"))
    tbl.commit()
    qv = [0.2, 0.1, -0.3, 0.0]
    before = [(r["id"], r["rrf_score"])
              for r in tbl.hybrid_search(qv, "beta tok2", k=6).collect()]
    tbl.build_lexical_index()
    after = [(r["id"], r["rrf_score"])
             for r in tbl.hybrid_search(qv, "beta tok2", k=6).collect()]
    assert before == after and before


def test_single_postings_scan_per_query(spark, tdir):
    """Clean snapshot: per-term docFreq comes from the stored df
    sidecars, so the serving plan contains EXACTLY ONE scan of the
    postings dir (the scoring pass; the df aggregate never reads the
    postings a second time) — and since the sidecar dfmap proves the
    candidate set bounded, that one read also populates the resident
    frame (r12: InMemoryTableScan in the plan, a REPEAT query is a
    cache hit with no new entry). Under churn the candidate frame is
    persisted by the df aggregate. Results unchanged everywhere."""
    from vecgo_spark import cache_stats

    tbl = VectorTable.create(spark, tdir, dim=None)
    tbl.insert(_docs(spark, range(1, 41)))
    tbl.commit()
    tbl.build_lexical_index()
    lex.release_caches()
    cache_stats.reset()
    res = lex.bm25_search_at_rest(tbl, Q, k=10)
    plan = res._jdf.queryExecution().executedPlan().toString()
    # exactly one parquet scan in the whole serving plan (the postings
    # read feeding the score pass — it sits inside the InMemoryRelation
    # that keeps the frame resident; the tiny df-sidecar lookup happened
    # in its own collect, it is not part of this plan), with the term
    # filter pushed to it
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 1, f"expected one postings scan, plan:\n{plan}"
    assert "In(term" in scans[0]  # pushed term filter
    assert _res(res) == _fresh(tbl, Q)
    assert len(lex._CACHED.get(tbl.path, {})) == 1  # clean-path residency
    # repeat clean query: cache hit, no new entry, identical result
    assert _res(lex.bm25_search_at_rest(tbl, Q, k=10)) == _res(res)
    assert len(lex._CACHED[tbl.path]) == 1
    assert cache_stats.cache_stats_detail(scope=tbl.path)[
        "lexical_candidates"]["hits"] == 1
    # churn: delete one doc → df sidecar no longer authoritative → the
    # persisted-candidate path serves, still bit-identical
    tbl.delete([3])
    tbl.commit()
    lex.release_caches()
    res2 = lex.bm25_search_at_rest(tbl, Q, k=10)
    plan2 = res2._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan2
    assert _res(res2) == _fresh(tbl, Q)
    assert len(lex._CACHED.get(tbl.path, {})) == 1
    lex.release_caches()
    assert not lex._CACHED
    cache_stats.reset()


def test_clean_residency_gate_streams_oversized_candidates(spark, tdir,
                                                           monkeypatch):
    """The clean-path residency gate: when Σ df over the query terms
    exceeds _RESIDENT_MAX_CANDIDATES, the frame STREAMS (no persist, no
    cache entry — a stop-word query on a 100 TB corpus must never pin a
    corpus-sized frame); results identical either way."""
    tbl = VectorTable.create(spark, tdir, dim=None)
    tbl.insert(_docs(spark, range(1, 31)))
    tbl.commit()
    tbl.build_lexical_index()
    lex.release_caches()
    monkeypatch.setattr(lex, "_RESIDENT_MAX_CANDIDATES", 0)
    res = lex.bm25_search_at_rest(tbl, Q, k=10)
    assert _res(res) == _fresh(tbl, Q)
    assert not lex._CACHED.get(tbl.path)  # gate held: nothing resident
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan
    lex.release_caches()


def test_resident_docfreq_is_one_map_per_snapshot(spark, tdir):
    """A clean snapshot's docFreq comes from a map loaded once from the
    df sidecars (their row count recorded at build and at refresh). The
    map is keyed by the snapshot: its committed and include_pending
    views share it, an older snapshot keeps its own, and
    release_caches() drops them."""
    def maps():
        return {k[1]: v[2] for k, v in lex._COUNTS_CACHE.items()
                if k[0] == tbl.path and v[2] is not None}

    tbl = VectorTable.create(spark, tdir, dim=None)
    tbl.insert(_docs(spark, range(1, 21)))
    tbl.commit()
    tbl.build_lexical_index()
    v1 = tbl.manifest.version
    assert _res(lex.bm25_search_at_rest(tbl, Q, k=10)) == _fresh(tbl, Q)
    first = maps()
    assert list(first) == [v1]
    assert _res(lex.bm25_search_at_rest(tbl, "alpha end3", k=10,
                                        include_pending=True)) == \
        _fresh(tbl, "alpha end3")
    assert maps() == first and maps()[v1] is first[v1]
    tbl.insert(_docs(spark, range(21, 31)))
    tbl.commit()
    tbl.refresh_lexical_index()
    info = tbl.manifest.meta["lexical"]
    assert set(info["df_rows"]) == set(info["paths"])
    assert _res(lex.bm25_search_at_rest(tbl, Q, k=10)) == _fresh(tbl, Q)
    held = maps()
    assert sorted(held) == [v1, tbl.manifest.version]
    assert held[tbl.manifest.version]["beta"] == 30
    lex.release_caches(tbl.path)
    assert not maps()


def test_resident_docfreq_maps_share_one_term_budget(monkeypatch):
    """The maps of all tables hold at most _RESIDENT_MAX_DF_TERMS terms
    together; past it the oldest map goes first. Entries without a map
    (churned snapshots' N/Σdl) stay."""
    monkeypatch.setattr(lex, "_COUNTS_CACHE", {})
    monkeypatch.setattr(lex, "_RESIDENT_MAX_DF_TERMS", 5)
    lex._memo_counts(("a", 1), (3, 9, {"x": 1, "y": 1, "z": 1}))
    lex._memo_counts(("churned", 1), (2, 4, None))
    lex._memo_counts(("b", 1), (2, 6, {"x": 1, "y": 2}))
    assert list(lex._COUNTS_CACHE) == [("a", 1), ("churned", 1), ("b", 1)]
    lex._memo_counts(("a", 2), (4, 9, {"w": 1, "x": 1, "y": 1, "z": 1}))
    assert list(lex._COUNTS_CACHE) == [("churned", 1), ("a", 2)]


def test_df_sidecar_written_folded_and_vacuumed(spark, tdir):
    """The df sidecar rides every build/refresh/fold: Σ_seg stored df ==
    true per-term docFreq on clean snapshots across refreshes and the
    fold at max_dirs; vacuum keeps live sidecars and collects superseded
    ones."""
    import os

    tbl = VectorTable.create(spark, tdir, dim=None)
    tbl.insert(_docs(spark, range(1, 21)))
    tbl.commit()
    tbl.build_lexical_index()
    info = tbl.manifest.meta["lexical"]
    assert os.path.exists(os.path.join(tdir, lex.df_dir(info["path"])))
    dfmap = lex._stored_term_df(tbl, info, ["beta", "tok3", "nosuchterm"])
    docs = {i: f"alpha beta gamma tok{i % 7} beta tok{i % 5} end{i % 11}"
            for i in range(1, 21)}
    assert dfmap == {
        "beta": sum("beta" in t.split() for t in docs.values()),
        "tok3": sum("tok3" in t.split() for t in docs.values()),
        "nosuchterm": 0}
    # two refreshes with max_dirs=2 → second one folds; sidecars follow
    for lo, hi in ((21, 31), (31, 41)):
        tbl.insert(_docs(spark, range(lo, hi)))
        tbl.commit()
        tbl.refresh_lexical_index(max_dirs=2)
    info = tbl.manifest.meta["lexical"]
    paths = info.get("paths", [info["path"]])
    assert len(paths) <= 2
    for p in paths:
        assert os.path.exists(os.path.join(tdir, lex.df_dir(p)))
    docs = {i: f"alpha beta gamma tok{i % 7} beta tok{i % 5} end{i % 11}"
            for i in range(1, 41)}
    dfmap = lex._stored_term_df(tbl, info, ["beta", "end2"])
    assert dfmap == {
        "beta": 40, "end2": sum("end2" in t.split() for t in docs.values())}
    got = _res(lex.bm25_search_at_rest(tbl, Q, k=10))
    assert got == _fresh(tbl, Q) and got
    # vacuum: live sidecars survive, superseded dirs (and their sidecars)
    # are collected
    removed = tbl.vacuum(keep_versions=1)["removed_files"]
    for p in paths:
        assert os.path.exists(os.path.join(tdir, lex.df_dir(p)))
    assert any(r.endswith("-df") for r in removed)
    assert _res(lex.bm25_search_at_rest(tbl, Q, k=10)) == got


def test_manifest_records_blob_bytes(spark, tdir):
    """Every at-rest family build/refresh records {dir: bytes} in its
    manifest info (incl. the lexical df sidecar), stats() sums them
    with no store walk, and the accounting follows folds."""
    import os

    tbl = VectorTable.create(spark, tdir, dim=None)
    tbl.insert(_docs(spark, range(1, 21)))
    tbl.commit()
    tbl.build_lexical_index()
    info = tbl.manifest.meta["lexical"]
    assert set(info["bytes"]) == {info["path"]}
    posted = sum(os.path.getsize(os.path.join(r, f))
                 for r, _, fs in os.walk(os.path.join(tdir, info["path"]))
                 for f in fs)
    side = sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(os.path.join(tdir, lex.df_dir(info["path"])))
               for f in fs)
    assert info["bytes"][info["path"]] == posted + side > 0
    assert tbl.stats()["index_bytes"] == posted + side
    tbl.insert(_docs(spark, range(21, 31)))
    tbl.commit()
    tbl.refresh_lexical_index()
    info = tbl.manifest.meta["lexical"]
    assert set(info["bytes"]) == set(info.get("paths", [info["path"]]))
    assert tbl.stats()["index_bytes"] == sum(info["bytes"].values())


def test_hybrid_indexed_at_rest_parity_and_file_pruning(spark, tdir,
                                                       monkeypatch):
    """One table, two index families, fully indexed serving: with
    nprobe the vector leg is search(nprobe=) — bit-identical to it
    composed with the shared fuse — and the fuse's one collect (both
    legs) reads SEGMENT files of ONLY probed clusters (the lexical leg
    reads postings files, never segments' text)."""
    import numpy as np

    from vecgo_spark.operators import hybrid as hybridmod
    from vecgo_spark.operators import knn

    rng = np.random.default_rng(7)
    centers = np.zeros((4, 6))
    for c in range(4):
        centers[c, c] = 40.0
    rows = [(i, (centers[i % 4] + rng.normal(0, 0.1, 6)).tolist(),
             f"alpha beta tok{i % 5} end{i % 7}") for i in range(1, 81)]
    tbl = VectorTable.create(spark, tdir, dim=6, metric="l2")
    tbl.insert(spark.createDataFrame(
        rows, "id long, vector array<double>, text string"))
    tbl.commit()
    tbl.compact(cluster_by=4)
    tbl.build_lexical_index()
    qv = centers[1].tolist()
    DataFrame = type(spark.range(1))
    collect, read = DataFrame.collect, []
    monkeypatch.setattr(DataFrame, "collect",
                        lambda df: read.extend(df.inputFiles()) or collect(df))
    got = hybridmod.hybrid_search_at_rest(tbl, qv, "beta tok2", k=6, nprobe=2)
    monkeypatch.undo()
    # parity: vector leg == search(nprobe=2), fused with the stored
    # lexical leg by shared code
    vk = max(2 * 6, 50)
    vec = tbl.search(qv, k=vk, nprobe=2)
    lexr = lex.bm25_search_at_rest(tbl, "beta tok2", k=vk)
    want = hybridmod.rrf_fuse(vec, lexr, k=6, rrf_k=60,
                              vec_ascending=knn.metric_ascending("l2"))
    pairs = [(r["id"], r["rrf_score"]) for r in got.collect()]
    assert pairs == [(r["id"], r["rrf_score"]) for r in want.collect()] and pairs
    # file pruning: segment files the fuse reads stay within the
    # probed clusters (≤2 of 4 cluster dirs); postings files are the
    # lexical leg's own
    seg_files = [f for f in read if "_part=" in f]
    touched = {f.split("_part=")[1].split("/")[0] for f in seg_files}
    assert seg_files and len(touched) <= 2
    all_parts = {f.split("_part=")[1].split("/")[0]
                 for f in tbl.df().inputFiles() if "_part=" in f}
    assert len(touched) < len(all_parts)  # strictly fewer files than a scan


def test_uncovered_text_col_falls_back_to_recompute(spark, tdir):
    """A text_col the stored index does NOT cover must never be served
    from the index (that would score the wrong column silently — r9
    ADVICE): bm25_search/hybrid_search fall back to the recompute path
    and return the results of the REQUESTED column."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = [(i, rng.standard_normal(4).tolist(),
             f"alpha beta tok{i % 5}", f"zeta eta tok{(i + 3) % 5}")
            for i in range(1, 21)]
    tbl = VectorTable.create(spark, tdir, dim=4, metric="l2")
    tbl.insert(spark.createDataFrame(
        rows, "id long, vector array<double>, text string, title string"))
    tbl.commit()
    tbl.build_lexical_index(text_col="text")
    q = "tok2 beta zeta"
    want_title = _res(bm25.bm25_search(tbl.df(), q, k=8,
                                       id_col="id", text_col="title"))
    got_title = _res(tbl.bm25_search(q, k=8, text_col="title"))
    assert got_title == want_title and want_title
    # and it differs from the indexed column's answer (proof it did not
    # silently serve the index)
    assert got_title != _res(tbl.bm25_search(q, k=8, text_col="text"))
    # hybrid front: uncovered text_col → from-text path on that column
    from vecgo_spark.operators import hybrid as hybridmod
    qv = [0.5, -0.2, 0.1, 0.3]
    coll = tbl.df().select("id", "vector", F.col("title").alias("t"))
    want_h = [(r["id"], r["rrf_score"]) for r in hybridmod.hybrid_search(
        coll, qv, q, k=6, metric="l2", id_col="id",
        vector_col="vector", text_col="t").collect()]
    got_h = [(r["id"], r["rrf_score"])
             for r in tbl.hybrid_search(qv, q, k=6, text_col="title").collect()]
    assert got_h == want_h and got_h


def test_churn_visibility_served_from_pk_index_frame(spark, tdir,
                                                    monkeypatch):
    """r11 verdict #1 — ONE visibility mechanism: under upsert churn the
    lexical serving path resolves latest-version-wins against the SAME
    cached winning-LSN frame df() consults (the persisted PK index,
    table._vis_vmax / mvcc.go:125), not by re-aggregating its own marker
    rows. Pins: (a) the frame lands in table._VIS_CACHE with pk-sidecar-
    only lineage, (b) the serving plan carries NO `term IS NULL` marker
    clause (the pre-r12 signature of the second mechanism), (c) results
    stay bit-identical to the from-text path, including the stale-
    postings trap (winning version contains none of the query terms).
    The frame serves past the in-plan kill-set bound (forced to 0)."""
    from vecgo_spark.plans import table as tmod

    monkeypatch.setattr(tmod, "VIS_PREDICATE_MAX_IDS", 0)
    tbl = VectorTable.create(spark, tdir, dim=None)
    tbl.insert(_docs(spark, range(1, 31)))
    tbl.commit()
    tbl.build_lexical_index()
    tbl.insert(_docs(spark, [5], text="completely different words now"))
    tbl.insert(_docs(spark, [6], text=""))  # zero-token upsert
    tbl.commit()
    tbl.delete([7])
    tbl.commit()
    assert tbl.manifest.meta.get("has_upserts") is True
    tmod.release_vis_caches()
    lex.release_caches()
    res = lex.bm25_search_at_rest(tbl, Q, k=30)
    got = _res(res)
    assert got == _fresh(tbl, Q, k=30) and got
    assert not {5, 6, 7} & {i for i, _ in got}
    # (a) the shared frame was built and is pk-sidecar-only
    mine = [v for key, v in tmod._VIS_CACHE.items() if key[0] == tbl.path]
    assert mine, "lexical churn path did not consult the PK-index frame"
    for _frame, pk_files, uncovered in mine:
        assert pk_files and all("/_pk/" in f for f in pk_files)
        assert uncovered == []
    # (b) no marker clause anywhere in the serving plan
    plan = res._jdf.queryExecution().optimizedPlan().toString()
    assert "isnull(term" not in plan.lower().replace(" ", "")
    # (c) a second query on the same snapshot REUSES the frame (cache
    # hit, no second build) — the serving-session economics of the
    # reference's load-once PK index
    before = len(tmod._VIS_CACHE)
    assert _res(lex.bm25_search_at_rest(tbl, "alpha tok2", k=5)) == _fresh(
        tbl, "alpha tok2", k=5)
    assert len(tmod._VIS_CACHE) == before
    lex.release_caches()
    tmod.release_vis_caches()


def test_churn_cache_registry_self_caps(spark, tdir):
    """The churn-path candidate cache registry evicts oldest-first at
    _CACHED_CAP — a serving session issuing many churn queries keeps a
    bounded cache footprint, and evicted queries still answer correctly
    (unpersist only forgets the cache, not the plan)."""
    tbl = VectorTable.create(spark, tdir, dim=None)
    tbl.insert(_docs(spark, range(1, 31)))
    tbl.commit()
    tbl.build_lexical_index()
    tbl.delete([5])  # churn → persist path
    tbl.commit()
    lex.release_caches()
    frames = []
    for i in range(lex._CACHED_CAP + 3):
        # DISTINCT term sets: identical queries now share one entry by
        # design (r12 repeat-query reuse), so cap pressure needs
        # distinct keys
        frames.append(lex.bm25_search_at_rest(tbl, f"beta tok{i}", k=5))
    assert len(lex._CACHED[tbl.path]) == lex._CACHED_CAP
    # earliest (evicted) and latest (cached) both still answer correctly
    assert _res(frames[0]) == _res(bm25.bm25_search(
        tbl.df(), "beta tok0", k=5, id_col="id", text_col="text"))
    lex.release_caches()
    assert not lex._CACHED


def test_churn_cache_scoped_per_table(spark, tmp_path):
    """r10 verdict #7: the candidate-cache registry is keyed by table
    path — two churned tables served from one session each keep their
    own _CACHED_CAP slots, so a hot table can never evict another
    table's frames; release_caches(table_path) frees one table only."""
    tables = []
    for name in ("a", "b"):
        t = VectorTable.create(spark, str(tmp_path / name), dim=None)
        t.insert(_docs(spark, range(1, 21)))
        t.commit()
        t.build_lexical_index()
        t.delete([2])  # churn → persist path
        t.commit()
        tables.append(t)
    ta, tb = tables
    lex.release_caches()
    # alternate CAP queries per table: under the old module-global list
    # this would hold only the last CAP frames across BOTH tables
    for i in range(lex._CACHED_CAP):
        # distinct term sets per call (identical queries share an entry
        # since the r12 repeat-query reuse)
        lex.bm25_search_at_rest(ta, f"beta tok{i}", k=3)
        lex.bm25_search_at_rest(tb, f"alpha tok{i}", k=3)
    assert len(lex._CACHED[ta.path]) == lex._CACHED_CAP
    assert len(lex._CACHED[tb.path]) == lex._CACHED_CAP
    lex.release_caches(ta.path)
    assert ta.path not in lex._CACHED
    assert len(lex._CACHED[tb.path]) == lex._CACHED_CAP
    lex.release_caches()
    assert not lex._CACHED


def test_churn_cache_global_bound_across_tables():
    """Per-table keying (r11) must not lose the TOTAL bound: a session
    touching many churned tables would otherwise hold _CACHED_CAP frames
    per table forever. Past _CACHED_GLOBAL_CAP the oldest-registered
    table loses its oldest frame first."""
    from unittest.mock import MagicMock

    from vecgo_spark.operators import lexical_at_rest as lex

    lex.release_caches()
    per, cap = lex._CACHED_CAP, lex._CACHED_GLOBAL_CAP
    n_tables = cap // per + 2
    frames = {}
    for t in range(n_tables):
        for i in range(per):
            f = MagicMock()
            frames.setdefault(f"t{t}", []).append(f)
            lex._cache_candidate(f"t{t}", (1, "p", ("term", i)), f)
    total = sum(len(v) for v in lex._CACHED.values())
    assert total <= cap
    # the first-registered table was evicted first, oldest frames first
    assert frames["t0"][0].unpersist.called
    # the newest table keeps its full per-table allotment
    assert len(lex._CACHED[f"t{n_tables - 1}"]) == per
    lex.release_caches()
    assert not lex._CACHED


def test_repeat_churn_query_served_from_cache(spark, tdir):
    """r12: the churn-path (candidate frame, dfmap) pair is keyed by
    (snapshot, artifact, terms) — a REPEAT query reuses both (zero new
    cache entries, bit-identical results, counted as a cache hit), a
    different term set builds its own entry, and a new commit (new
    snapshot) never serves through the stale key."""
    from vecgo_spark import cache_stats

    tbl = VectorTable.create(spark, tdir, dim=None)
    tbl.insert(_docs(spark, range(1, 31)))
    tbl.commit()
    tbl.build_lexical_index()
    tbl.delete([5])  # churn
    tbl.commit()
    lex.release_caches()
    cache_stats.reset()
    first = _res(lex.bm25_search_at_rest(tbl, Q, k=10))
    assert len(lex._CACHED[tbl.path]) == 1
    assert cache_stats.cache_stats_detail(scope=tbl.path)[
        "lexical_candidates"] == {"hits": 0, "misses": 1}
    again = _res(lex.bm25_search_at_rest(tbl, Q, k=10))
    assert again == first == _fresh(tbl, Q)
    assert len(lex._CACHED[tbl.path]) == 1  # reused, not re-added
    assert cache_stats.cache_stats_detail(scope=tbl.path)[
        "lexical_candidates"] == {"hits": 1, "misses": 1}
    # different terms → second entry
    lex.bm25_search_at_rest(tbl, "alpha tok1", k=5).count()
    assert len(lex._CACHED[tbl.path]) == 2
    # new snapshot → the old entry is never consulted (fresh build)
    tbl.delete([6])
    tbl.commit()
    fresh = _res(lex.bm25_search_at_rest(tbl, Q, k=10))
    assert fresh == _fresh(tbl, Q)
    assert 6 not in {i for i, _ in fresh}
    lex.release_caches()
    cache_stats.reset()


def test_drop_and_recreate_never_serves_stale_cache(spark, tdir):
    """r12 self-review: the counts memo and candidate cache are keyed by
    (path, version, artifact) — a table DROPPED and RE-CREATED at the
    same path restarts its version numbers, so the keys also carry the
    uuid-suffixed segment identity. The re-created table must answer
    from ITS corpus, never the predecessor's cached frames/counters."""
    import shutil

    tbl = VectorTable.create(spark, tdir, dim=None)
    tbl.insert(_docs(spark, range(1, 21)))
    tbl.commit()
    tbl.build_lexical_index()
    tbl.delete([5])  # churn → memo + candidate cache populate
    tbl.commit()
    old = _res(lex.bm25_search_at_rest(tbl, Q, k=10))
    assert old and lex.corpus_counts(tbl)[0] == 19
    # drop and re-create at the SAME path with a DIFFERENT corpus,
    # replaying the same op sequence so version numbers line up
    shutil.rmtree(tdir)
    t2 = VectorTable.create(spark, tdir, dim=None)
    t2.insert(_docs(spark, range(1, 11)))  # half the docs
    t2.commit()
    t2.build_lexical_index()
    t2.delete([5])
    t2.commit()
    assert t2.manifest.version == tbl.manifest.version  # keys would clash
    assert lex.corpus_counts(t2)[0] == 9  # not the stale 19
    got = _res(lex.bm25_search_at_rest(t2, Q, k=10))
    assert got == _fresh(t2, Q)
    assert {i for i, _ in got} <= set(range(1, 11))
    lex.release_caches()


def test_vacuum_evicts_stale_candidate_frames(spark, tdir):
    """r12 self-review (the _VIS_CACHE vacuum stance, applied to the
    lexical caches): after a compact+vacuum GCs superseded postings
    dirs, the table's cached candidate frames and count memos for the
    OLD snapshot are evicted — a cap-evicted stale frame could otherwise
    recompute against deleted files. The new snapshot's queries rebuild
    and re-cache cleanly."""
    tbl = VectorTable.create(spark, tdir, dim=None)
    tbl.insert(_docs(spark, range(1, 21)))
    tbl.commit()
    tbl.build_lexical_index()
    tbl.delete([5])  # churn → candidate frame + counts memo populate
    tbl.commit()
    lex.release_caches()
    lex.bm25_search_at_rest(tbl, Q, k=10).count()
    assert len(lex._CACHED.get(tbl.path, {})) == 1
    assert any(k[0] == tbl.path for k in lex._COUNTS_CACHE)
    tbl.compact()            # new snapshot + reindexed family
    tbl.vacuum(keep_versions=1)
    assert not lex._CACHED.get(tbl.path)  # stale frame evicted
    assert not any(k[0] == tbl.path for k in lex._COUNTS_CACHE)
    # fresh snapshot serves and re-caches correctly
    got = _res(lex.bm25_search_at_rest(tbl, Q, k=10))
    assert got == _fresh(tbl, Q) and 5 not in {i for i, _ in got}
    lex.release_caches()


def test_read_your_writes_pending_parity(spark, tdir):
    """include_pending=True serves STAGED rows through the at-rest path
    (r12 verdict #2 — the reference's insert-immediately-searchable
    lexicalIndex.Add, engine.go:833-921): staged inserts/upserts/deletes
    are bit-identical to the plain path over df(include_pending=True),
    while the committed-view default is untouched — and after commit the
    pending view converges to the committed one."""
    tbl = VectorTable.create(spark, tdir, dim=None)
    tbl.insert(_docs(spark, range(1, 31)))
    tbl.commit()
    tbl.build_lexical_index()
    committed = _fresh(tbl, Q)
    # stage (NO commit): new rows, an upsert rewriting a committed doc to
    # carry the query terms, and a delete of a committed matcher
    tbl.insert(_docs(spark, range(31, 36)))
    tbl.insert(_docs(spark, [3], text="beta beta tok3 end2 fresh staged"))
    tbl.delete([10])
    want = _res(bm25.bm25_search(tbl.df(include_pending=True), Q, k=10,
                                 id_col="id", text_col="text"))
    got = _res(lex.bm25_search_at_rest(tbl, Q, k=10, include_pending=True))
    assert got == want
    assert 3 in {i for i, _ in got}            # staged upsert visible
    assert 10 not in {i for i, _ in got}       # staged delete shadows
    # committed-view default unchanged by the staged batch
    assert _res(lex.bm25_search_at_rest(tbl, Q, k=10)) == committed
    # table front exposes the same option
    assert _res(tbl.bm25_search(Q, k=10, include_pending=True)) == want
    # post-commit: both views converge and parity holds from the
    # (partly recompute-delta) stored path
    tbl.commit()
    assert _res(lex.bm25_search_at_rest(tbl, Q, k=10)) == _fresh(tbl, Q)
    assert _res(lex.bm25_search_at_rest(tbl, Q, k=10,
                                        include_pending=True)) == _fresh(tbl, Q)


def _hpairs(df):
    return [(r["id"], r["rrf_score"]) for r in df.collect()]


def test_hybrid_read_your_writes_pending_parity(spark, tdir):
    """r13 verdict #1 — the last read-your-writes hole: hybrid fuses
    BOTH legs over ONE staged-inclusive snapshot (the reference's
    HybridSearch reads a single view that includes the memtable on both
    legs, engine.go:1538-1634 + 833-921). At every staged state,
    hybrid_search_at_rest(include_pending=True) must be bit-identical to
    rrf_fuse of the plain vector + BM25 legs over
    df(include_pending=True); the committed-view default is untouched;
    and after commit the views converge."""
    import numpy as np

    from vecgo_spark.operators import hybrid as hybridmod
    from vecgo_spark.operators import knn

    rng = np.random.default_rng(19)
    mk = lambda ids, boost=0.0: [
        (int(i), (rng.standard_normal(4) + boost).tolist(),
         f"alpha beta tok{i % 5} end{i % 7}") for i in ids]
    tbl = VectorTable.create(spark, tdir, dim=4, metric="l2")
    tbl.insert(spark.createDataFrame(
        mk(range(1, 31)), "id long, vector array<double>, text string"))
    tbl.commit()
    tbl.build_lexical_index()
    qv = [0.1, -0.2, 0.3, 0.0]
    qt = "beta tok3"

    def want_pending():
        base = tbl.df(include_pending=True)
        vec = knn.search(base, qv, k=max(2 * 6, 50), metric="l2",
                         id_col="id", vector_col="vector")
        lexr = bm25.bm25_search(base, qt, k=max(2 * 6, 50),
                                id_col="id", text_col="text")
        return _hpairs(hybridmod.rrf_fuse(
            vec, lexr, k=6, vec_ascending=knn.metric_ascending("l2")))

    committed = _hpairs(hybridmod.hybrid_search_at_rest(tbl, qv, qt, k=6))
    # stage (NO commit): inserts near the query vector carrying the query
    # terms, an upsert rewriting a committed doc, a staged delete
    tbl.insert(spark.createDataFrame(
        [(100 + j, [0.1, -0.2, 0.3, 0.0], "beta tok3 beta staged")
         for j in range(3)], "id long, vector array<double>, text string"))
    tbl.insert(spark.createDataFrame(
        [(3, [0.1, -0.2, 0.3, 0.01], "beta tok3 rewritten")],
        "id long, vector array<double>, text string"))
    tbl.delete([10])
    got = _hpairs(hybridmod.hybrid_search_at_rest(
        tbl, qv, qt, k=6, include_pending=True))
    assert got == want_pending() and got
    assert {100, 101, 102} & {i for i, _ in got}  # staged rows fused in
    # committed-view default unchanged by the staged batch
    assert _hpairs(hybridmod.hybrid_search_at_rest(tbl, qv, qt, k=6)) \
        == committed
    # table front exposes the same flag
    assert _hpairs(tbl.hybrid_search(qv, qt, k=6,
                                     include_pending=True)) == got
    # post-commit: both views converge
    tbl.commit()
    after = _hpairs(hybridmod.hybrid_search_at_rest(tbl, qv, qt, k=6))
    assert _hpairs(hybridmod.hybrid_search_at_rest(
        tbl, qv, qt, k=6, include_pending=True)) == after == want_pending()


def test_hybrid_indexed_pending_parity(spark, tdir):
    """The staged flag is honored by the indexed (nprobe) vector leg
    too: the leg reads the probe set over the pending-inclusive view —
    the fused result must equal
    rrf_fuse(search(nprobe=, include_pending=True), staged-inclusive
    BM25), and staged rows inside a probed cluster must surface."""
    import numpy as np

    from vecgo_spark.operators import hybrid as hybridmod
    from vecgo_spark.operators import knn

    rng = np.random.default_rng(23)
    centers = np.zeros((4, 6))
    for c in range(4):
        centers[c, c] = 40.0
    rows = [(i, (centers[i % 4] + rng.normal(0, 0.1, 6)).tolist(),
             f"alpha beta tok{i % 5} end{i % 7}") for i in range(1, 81)]
    tbl = VectorTable.create(spark, tdir, dim=6, metric="l2")
    tbl.insert(spark.createDataFrame(
        rows, "id long, vector array<double>, text string"))
    tbl.commit()
    tbl.compact(cluster_by=4)
    tbl.build_lexical_index()
    qv = centers[1].tolist()
    # stage a row INSIDE the probed cluster carrying the query terms
    tbl.insert(spark.createDataFrame(
        [(500, (centers[1] + rng.normal(0, 0.05, 6)).tolist(),
          "beta tok2 beta staged")],
        "id long, vector array<double>, text string"))
    vk = max(2 * 6, 50)
    vec = tbl.search(qv, k=vk, nprobe=2, include_pending=True)
    lexr = bm25.bm25_search(tbl.df(include_pending=True), "beta tok2",
                            k=vk, id_col="id", text_col="text")
    want = _hpairs(hybridmod.rrf_fuse(
        vec, lexr, k=6, vec_ascending=knn.metric_ascending("l2")))
    got = _hpairs(hybridmod.hybrid_search_at_rest(
        tbl, qv, "beta tok2", k=6, nprobe=2, include_pending=True))
    assert got == want and got
    assert 500 in {i for i, _ in got}
    # committed-view default: the staged row is invisible to the
    # probe-set leg
    com = hybridmod.hybrid_search_at_rest(tbl, qv, "beta tok2", k=6, nprobe=2)
    assert 500 not in {i for i, _ in _hpairs(com)}
    want_com = _hpairs(hybridmod.rrf_fuse(
        tbl.search(qv, k=vk, nprobe=2),
        lex.bm25_search_at_rest(tbl, "beta tok2", k=vk),
        k=6, vec_ascending=knn.metric_ascending("l2")))
    assert _hpairs(com) == want_com


@pytest.mark.parametrize("seed", [11])
def test_random_staged_interleaving_pending_parity(spark, tdir, seed):
    """Randomized model check for the read-your-writes leg: a random
    interleaving of staged inserts/upserts/deletes and commits must keep
    bm25_search_at_rest(include_pending=True) bit-identical to the plain
    path over df(include_pending=True) at EVERY state (staged and
    committed), while the committed-view serve stays bit-identical to
    the plain committed path — the cache keys carry the staged state, so
    a repeat query after staging more rows must never serve the earlier
    staged frame."""
    import random

    rng = random.Random(seed)
    tbl = VectorTable.create(spark, tdir, dim=None)
    tbl.insert(_docs(spark, range(1, 21)))
    tbl.commit()
    tbl.build_lexical_index()
    live = set(range(1, 21))
    next_id = 21
    for _ in range(8):
        op = rng.choice(["sins", "sups", "sdel", "cmt"])
        if op == "sins":
            ids = list(range(next_id, next_id + 2))
            next_id += 2
            tbl.insert(_docs(spark, ids))
            live |= set(ids)
        elif op == "sups" and live:
            i = rng.choice(sorted(live))
            tbl.insert(_docs(spark, [i],
                             text=f"beta tok3 rewritten staged v{next_id}"))
        elif op == "sdel" and len(live) > 2:
            v = rng.choice(sorted(live))
            tbl.delete([v])
            live.discard(v)
        elif op == "cmt":
            tbl.commit()
        want_pending = _res(bm25.bm25_search(
            tbl.df(include_pending=True), Q, k=10,
            id_col="id", text_col="text"))
        got_pending = _res(lex.bm25_search_at_rest(
            tbl, Q, k=10, include_pending=True))
        assert got_pending == want_pending, (seed, op)
        assert _res(lex.bm25_search_at_rest(tbl, Q, k=10)) == _fresh(tbl, Q), \
            (seed, op)
    tbl.commit()
    assert _res(lex.bm25_search_at_rest(tbl, Q, k=10)) == _fresh(tbl, Q)
