"""MVCC visibility edge cases: every read family agrees with a Python model.

Each case drives a table through one edge case, then compares `get`,
`df(segments=<one segment>)`, `df()`, `search(nprobe=<every list>)`,
`bm25_search` and the stored MinHash signatures with a dict model of the
live rows (id -> (tag, text, vector)). Every write carries its own tag, so
a row version is identified by (id, tag) without tracking LSNs; the
BM25 and MinHash expectations run the from-text operators over the
model's rows."""

import os

from vecgo_spark.operators import bm25, dedup
from vecgo_spark.operators import minhash_at_rest as mar
from vecgo_spark.plans import table as tmod
from vecgo_spark.plans.policy import CompactionTask
from vecgo_spark.plans.table import VectorTable

NLIST = 2
K = 6
Q_TEXT = "alpha tok3 w2"
Q_VEC = [7.2, 0.0]


class Model:
    """The writer's view (`live`) and the last committed view."""

    def __init__(self, spark, t):
        self.spark, self.t = spark, t
        self.live: dict[int, tuple] = {}
        self.committed: dict[int, tuple] = {}
        self.writes = 0

    def insert(self, ids):
        self.writes += 1
        ver = self.writes
        rows = [(i, f"v{ver}", f"alpha beta tok{i % 5} w{ver} end{i % 7}",
                 [float(i) + 0.01 * ver, float(ver)]) for i in ids]
        self.t.insert(self.spark.createDataFrame(
            rows, "id long, tag string, text string, vector array<double>"))
        for r in rows:
            self.live[r[0]] = r[1:]

    def delete(self, ids):
        self.t.delete(ids)
        for i in ids:
            self.live.pop(i, None)

    def commit(self):
        self.t.commit()
        self.committed = dict(self.live)


class _Pick:
    """Compaction policy that merges exactly the segments `want` selects."""

    def __init__(self, want):
        self.want = want

    def pick(self, segments):
        return CompactionTask(segments=[s for s in segments if self.want(s)])


def _table(spark, tmp_path):
    t = VectorTable.create(spark, str(tmp_path / "t"), dim=2)
    m = Model(spark, t)
    m.insert(range(1, 21))
    m.commit()
    t.compact(cluster_by=NLIST)
    t.build_lexical_index()
    t.build_minhash_index()
    return t, m


def _check(spark, t, m, probe_ids, pending=False):
    view = m.live if pending else m.committed
    if not pending:  # get() reads the committed snapshot
        for i in probe_ids:
            got = [(r["id"], r["tag"]) for r in t.get(i).collect()]
            assert got == ([(i, view[i][0])] if i in view else []), i
    segs = list(t.manifest.segments) + (list(t._pending) if pending else [])
    for s in segs:
        raw = spark.read.parquet(os.path.join(t.path, s.path))
        raw = {(r["id"], r["tag"]) for r in raw.select("id", "tag").collect()}
        want = {(i, tag) for i, tag in raw if i in view and view[i][0] == tag}
        got = {(r["id"], r["tag"]) for r in
               t.df(segments=[s], include_pending=pending).collect()}
        assert got == want, s.path
    got = sorted((r["id"], r["tag"]) for r in
                 t.df(include_pending=pending).collect())
    assert got == sorted((i, v[0]) for i, v in view.items())
    got = [r["id"] for r in t.search(Q_VEC, k=K, nprobe=NLIST,
                                     include_pending=pending).collect()]

    def d2(i):
        return sum((a - b) ** 2 for a, b in zip(view[i][2], Q_VEC))
    assert got == sorted(view, key=lambda i: (d2(i), i))[:K]
    docs = spark.createDataFrame([(i, v[1]) for i, v in view.items()],
                                 "id long, text string")
    want = [tuple(r) for r in bm25.bm25_search(docs, Q_TEXT, k=K).collect()]
    got = [tuple(r) for r in
           t.bm25_search(Q_TEXT, k=K, include_pending=pending).collect()]
    assert got == want and got
    want = {tuple(r) for r in dedup.minhash_signatures(
        docs.withColumnRenamed("id", "doc_id")).collect()}
    got = {tuple(r) for r in
           mar.stored_minhash_signatures(t, include_pending=pending).collect()}
    assert got == want


def test_merge_holding_two_versions_of_one_id(spark, tmp_path):
    t, m = _table(spark, tmp_path)
    base_lsn = t.manifest.lsn
    m.insert([3, 30])
    m.commit()
    m.insert([3, 8])
    m.commit()
    assert t.maybe_compact(_Pick(lambda s: s.lsn > base_lsn)) is not None
    merged = [s for s in t.manifest.segments if "-tier-" in s.path]
    assert len(merged) == 1
    raw = spark.read.parquet(os.path.join(t.path, merged[0].path))
    assert raw.where("id = 3").count() == 2
    _check(spark, t, m, [3, 8, 30, 1])


def test_delete_then_reinsert_same_id(spark, tmp_path):
    t, m = _table(spark, tmp_path)
    m.delete([4, 5])
    m.commit()
    m.insert([4])
    m.commit()
    _check(spark, t, m, [4, 5, 1])


def test_upsert_and_delete_in_one_uncommitted_batch(spark, tmp_path):
    t, m = _table(spark, tmp_path)
    m.insert([6, 40])
    m.delete([6])
    m.delete([7])
    m.insert([7])
    _check(spark, t, m, [], pending=True)
    _check(spark, t, m, [6, 7, 40, 1])
    m.commit()
    _check(spark, t, m, [6, 7, 40, 1])


def test_tombstones_without_upserts(spark, tmp_path):
    t, m = _table(spark, tmp_path)
    m.delete([2, 9])
    m.commit()
    m.insert([50, 51])
    m.commit()
    assert not t.manifest.meta.get("has_upserts")
    assert t.manifest.tombstone_files
    _check(spark, t, m, [2, 9, 50, 1])


def test_folded_mixed_lsn_tombstone_file(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tmod, "TOMB_FOLD_MAX_FILES", 1)
    t, m = _table(spark, tmp_path)
    base_lsn = t.manifest.lsn
    m.delete([2])
    m.commit()
    m.insert([2, 60])
    m.commit()
    m.delete([11, 60])
    m.commit()
    m.insert([61])
    m.commit()
    assert t.maybe_compact(_Pick(lambda s: s.lsn > base_lsn)) is not None
    stats = [t.manifest.tombstone_stats.get(f) for f in t.manifest.tombstone_files]
    assert len(stats) == 1 and stats[0]["mixed"]
    _check(spark, t, m, [2, 11, 60, 61, 1])


def _all_reads(t, pending):
    """Every visibility consumer's answer on `t`, as comparable lists."""
    from vecgo_spark.operators import semdedup_at_rest as sdr
    from vecgo_spark.operators import simhash_at_rest as sar

    def rows(df, ordered=False):
        out = [repr(tuple(r)) for r in df.collect()]
        return out if ordered else sorted(out)

    segs = list(t.manifest.segments) + (list(t._pending) if pending else [])
    reads = {f"df-seg-{s.path}": rows(t.df(segments=[s], include_pending=pending))
             for s in segs}
    reads["df"] = rows(t.df(include_pending=pending))
    reads["search"] = rows(t.search(Q4, k=K, nprobe=NLIST,
                                    include_pending=pending), True)
    reads["bm25"] = rows(t.bm25_search(Q_TEXT, k=K, include_pending=pending), True)
    reads["minhash"] = rows(mar.stored_minhash_signatures(t, include_pending=pending))
    reads["semdedup"] = rows(sdr.semantic_dedup_at_rest(t, include_pending=pending))
    if not pending:
        reads["simhash"] = rows(sar.stored_simhash_signatures(t))
    return reads


Q4 = [3.5, 0.0, 1.0, 0.0]


def test_kill_set_predicate_matches_kill_frame(spark, tmp_path, monkeypatch):
    """The driver-read kill set applied as an in-plan predicate and the
    kill-frame join (the path past VIS_PREDICATE_MAX_IDS, reached here by
    forcing the bound to 0) return identical rows for every read family,
    over a seeded random lifecycle: upserts, a partial merge holding two
    versions of one id, delete then re-insert, delete_where, a folded
    mixed-LSN tombstone file, NULL ids and ids above 2^53, and the
    writer's include_pending view."""
    import random

    import numpy as np

    from vecgo_spark.operators import lexical_at_rest as lex
    from vecgo_spark.operators.ivf import IVFModel

    monkeypatch.setattr(tmod, "TOMB_FOLD_MAX_FILES", 1)
    rng = random.Random(7)
    big = [2 ** 53 + 1, 2 ** 62]
    t = VectorTable.create(spark, str(tmp_path / "t"), dim=4)
    writes = [0]

    def insert(ids):
        writes[0] += 1
        w = writes[0]
        t.insert(spark.createDataFrame(
            [(i, f"v{w}", f"alpha beta tok{(i or 0) % 5} w{w}",
              [float((i or 0) % 9) + 0.01 * w, float(w % 3), float((i or 0) % 2), 0.5])
             for i in ids],
            "id long, tag string, text string, vector array<double>"))

    insert(list(range(1, 31)) + [None] + big)
    t.commit()
    t.compact(cluster_by=NLIST)
    t.build_lexical_index()
    t.build_minhash_index()
    t.build_simhash_index()
    t.build_semdedup_index(IVFModel(
        centroids=np.array([[1.0, 0.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]]),
        metric="l2"), threshold=0.9)
    base_lsn = t.manifest.lsn
    pool = list(range(1, 31)) + big
    for _ in range(3):
        insert(rng.sample(pool, 4) + [None])  # upserts, one more NULL id
        t.delete(rng.sample(pool, 3))
        t.commit()
    gone = rng.choice(pool)
    t.delete([gone])
    t.commit()
    insert([gone, 8, 40] + big)  # re-insert after delete; 8 twice past base_lsn
    t.commit()
    insert([8])
    t.commit()
    assert t.delete_where("id % 6 = 1") > 0
    t.commit()
    assert t.maybe_compact(_Pick(lambda s: s.lsn > base_lsn)) is not None
    merged = [s for s in t.manifest.segments if "-tier-" in s.path]
    raw = spark.read.parquet(os.path.join(t.path, merged[0].path))
    assert raw.where("id = 40").count() == 1 and raw.where("id = 8").count() >= 2
    stats = [t.manifest.tombstone_stats.get(f) for f in t.manifest.tombstone_files]
    assert len(stats) == 1 and stats[0]["mixed"]
    insert([3, 41])  # staged: read only through include_pending
    t.delete([big[0], 9])

    def both(pending):
        tmod.release_vis_caches()
        lex.release_caches()
        plan = t.df(include_pending=pending)._jdf.queryExecution() \
            .optimizedPlan().toString()
        assert "_kill_lsn" not in plan
        inplan = _all_reads(t, pending)
        with monkeypatch.context() as mp:
            mp.setattr(tmod, "VIS_PREDICATE_MAX_IDS", 0)
            tmod.release_vis_caches()
            lex.release_caches()
            plan = t.df(include_pending=pending)._jdf.queryExecution() \
                .optimizedPlan().toString()
            assert "_kill_lsn" in plan
            framed = _all_reads(t, pending)
        tmod.release_vis_caches()
        lex.release_caches()
        return inplan, framed

    for pending in (False, True):
        inplan, framed = both(pending)
        assert inplan.keys() == framed.keys()
        for name in inplan:
            assert inplan[name] == framed[name], (pending, name)
        assert inplan["df"] and inplan["bm25"] and inplan["search"]
        ids = {eval(r)[0] for r in inplan["df"]}
        assert None in ids and 2 ** 62 in ids
        assert (big[0] in ids) != pending
