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
