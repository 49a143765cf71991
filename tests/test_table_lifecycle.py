"""Lifecycle E2E — mirrors the reference's integration tests:
crud_lifecycle_test.go (insert→commit→delete→compact→search),
timetravel_test.go, isolation_test.go (deleted rows never surface),
edge_case_test.go."""

import pytest

from vecgo_spark.filters import FilterSet
from vecgo_spark.plans.manifest import load_manifest
from vecgo_spark.plans.table import VectorTable


@pytest.fixture()
def tdir(tmp_path):
    return str(tmp_path / "tbl")


def _mk_rows(spark, ids, cat="A"):
    rows = [(i, [float(i), float(i + 1)], cat, float(i) * 10.0) for i in ids]
    return spark.createDataFrame(rows, "id long, vector array<float>, category string, price double")


def test_create_insert_commit_search(spark, tdir):
    t = VectorTable.create(spark, tdir, dim=2, metric="l2")
    t.insert(_mk_rows(spark, range(1, 11)))
    assert t.count() == 0  # invisible before commit (no-WAL discipline)
    v = t.commit()
    assert v == 2 and t.count() == 10
    res = t.search([3.0, 4.0], k=3).collect()
    assert [r["id"] for r in res] == [3, 2, 4]  # exact L2 + id tiebreak


def test_delete_then_search_never_surfaces(spark, tdir):
    t = VectorTable.create(spark, tdir, dim=2)
    t.insert(_mk_rows(spark, range(1, 21)))
    t.commit()
    t.delete([1, 2, 3])
    t.commit()
    assert t.count() == 17
    ids = {r["id"] for r in t.search([1.0, 2.0], k=20).collect()}
    assert ids.isdisjoint({1, 2, 3})


def test_upsert_latest_wins(spark, tdir):
    t = VectorTable.create(spark, tdir, dim=2)
    t.insert(_mk_rows(spark, range(1, 6), cat="old"))
    t.commit()
    t.insert(_mk_rows(spark, [3], cat="new"))
    t.commit()
    rows = {r["id"]: r["category"] for r in t.df().collect()}
    assert rows[3] == "new" and rows[1] == "old"
    assert t.count() == 5


def test_time_travel_and_versions(spark, tdir):
    t = VectorTable.create(spark, tdir, dim=2)
    t.insert(_mk_rows(spark, range(1, 6)))
    t.commit()  # v2
    t.delete([1])
    t.commit()  # v3
    t.insert(_mk_rows(spark, range(6, 9)))
    t.commit()  # v4
    assert t.versions() == [1, 2, 3, 4]
    old = VectorTable.open(spark, tdir, version=2)
    assert old.count() == 5
    assert {r["id"] for r in old.df().collect()} == {1, 2, 3, 4, 5}
    assert not old.writable
    with pytest.raises(RuntimeError):
        old.delete([2])
    assert VectorTable.open(spark, tdir).count() == 7


def test_compact_drops_tombstones_and_dedups(spark, tdir):
    t = VectorTable.create(spark, tdir, dim=2)
    t.insert(_mk_rows(spark, range(1, 11)))
    t.commit()
    t.insert(_mk_rows(spark, [5], cat="new"))
    t.delete([1, 2])
    t.commit()
    before = {r["id"]: r["category"] for r in t.df().collect()}
    t.compact()
    m = t.manifest
    assert len(m.segments) == 1 and not m.tombstone_files and not m.meta["has_upserts"]
    after = {r["id"]: r["category"] for r in t.df().collect()}
    assert after == before
    assert after[5] == "new" and 1 not in after


def test_vacuum_gc(spark, tdir):
    t = VectorTable.create(spark, tdir, dim=2)
    for batch in (range(1, 4), range(4, 7), range(7, 10)):
        t.insert(_mk_rows(spark, batch))
        t.commit()
    t.compact()
    res = t.vacuum(keep_versions=1)
    assert len(res["removed_manifests"]) >= 3
    # the three pre-compaction segments + their three PK sidecars
    assert len(res["removed_files"]) == 6
    assert t.count() == 9  # live snapshot untouched
    with pytest.raises(ValueError):
        VectorTable.open(spark, tdir, version=2)


def test_segment_pruning_skips_files(spark, tdir):
    t = VectorTable.create(spark, tdir, dim=2)
    t.insert(_mk_rows(spark, range(1, 11), cat="A"))     # price 10..100
    t.insert(_mk_rows(spark, range(100, 111), cat="B"))  # price 1000..1100
    t.commit()
    fs = FilterSet().gt("price", 500.0)
    from vecgo_spark.plans.pruning import prune_segments
    kept = prune_segments(t.manifest.segments, fs)
    assert len(t.manifest.segments) == 2 and len(kept) == 1
    assert {r["id"] for r in t.df(fs).collect()} == set(range(100, 111))
    # categorical pruning
    kept_b = prune_segments(t.manifest.segments, FilterSet().eq("category", "B"))
    assert len(kept_b) == 1


def test_dim_validation_and_id_assignment(spark, tdir):
    t = VectorTable.create(spark, tdir, dim=2)
    bad = spark.createDataFrame([(1, [1.0, 2.0, 3.0])], "id long, vector array<float>")
    with pytest.raises(ValueError, match="dimension"):
        t.insert(bad)
    noid = spark.createDataFrame([([1.0, 2.0],), ([3.0, 4.0],)], "vector array<float>")
    t.insert(noid, assign_ids=True)
    t.commit()
    assert sorted(r["id"] for r in t.df().collect()) == [1, 2]
    t.insert(noid, assign_ids=True)
    t.commit()
    assert sorted(r["id"] for r in t.df().collect()) == [1, 2, 3, 4]


def test_time_travel_by_timestamp(spark, tdir):
    import time as _time
    t = VectorTable.create(spark, tdir, dim=2)
    t.insert(_mk_rows(spark, range(1, 4)))
    t.commit()
    ts_after_v2 = _time.time()
    _time.sleep(0.01)
    t.insert(_mk_rows(spark, range(4, 7)))
    t.commit()
    old = VectorTable.open(spark, tdir, timestamp=ts_after_v2)
    assert old.manifest.version == 2 and old.count() == 3


def test_commit_noop_and_stats(spark, tdir):
    t = VectorTable.create(spark, tdir, dim=2)
    assert t.commit() == 1  # nothing staged → same version
    t.insert(_mk_rows(spark, range(1, 4)))
    t.commit()
    s = t.stats()
    assert s["segments"] == 1 and s["rows_upper_bound"] == 3 and s["version"] == 2
    m = load_manifest(tdir)
    assert m.segments[0].stats["price"]["min"] == 10.0

def test_delete_then_reinsert_same_batch_visible(spark, tdir):
    """Regression: LSNs must come from ONE counter across pending segments
    AND tombstones — a delete followed by an insert in the same uncommitted
    batch must leave the re-inserted rows visible (MVCC re-insert-after-
    delete, internal/pk/mvcc.go:258)."""
    t = VectorTable.create(spark, tdir, dim=2)
    t.insert(_mk_rows(spark, range(1, 6), cat="old"))
    t.commit()
    t.delete([2, 3])
    t.insert(_mk_rows(spark, [2], cat="reborn"))  # same uncommitted batch
    t.commit()
    rows = {r["id"]: r["category"] for r in t.df().collect()}
    assert rows[2] == "reborn"
    assert 3 not in rows
    assert set(rows) == {1, 2, 4, 5}


def test_delete_where_large_predicate_no_driver_collect(spark, tdir):
    """delete_where writes tombstones executor-side; a >10k-row predicate
    delete must work without materializing ids on the driver."""
    n = 20000
    df = spark.range(1, n + 1).selectExpr(
        "id", "array(cast(id as float), cast(id+1 as float)) as vector",
        "case when id % 2 = 0 then 'even' else 'odd' end as category",
        "cast(id * 10 as double) as price",
    )
    t = VectorTable.create(spark, tdir, dim=2)
    t.insert(df)
    t.commit()
    removed = t.delete_where(FilterSet().eq("category", "even"))
    assert removed == n // 2
    t.commit()
    assert t.count() == n // 2
    sample = {r["id"] for r in t.df(FilterSet().lte("price", 100.0)).collect()}
    assert sample == {1, 3, 5, 7, 9}
    # empty-match predicate stages nothing
    assert t.delete_where(FilterSet().eq("category", "nope")) == 0
    assert not t._pending_tombs


def test_pending_read_your_writes(spark, tdir):
    """include_pending=True = the writer's read-your-writes view
    (engine.go:833-921): staged inserts and tombstones visible before
    commit; other readers (and plain df()) still see only the manifest."""
    t = VectorTable.create(spark, tdir, dim=2, metric="l2")
    t.insert(_mk_rows(spark, range(1, 6)))
    t.commit()

    t.insert(_mk_rows(spark, range(6, 11)))   # staged, uncommitted
    t.delete([1, 2])                           # staged tombstone
    assert t.count() == 5                      # committed view unchanged
    pend = t.df(include_pending=True)
    assert {r["id"] for r in pend.collect()} == {3, 4, 5, 6, 7, 8, 9, 10}
    got = [r["id"] for r in
           t.search([6.0, 7.0], k=2, include_pending=True).collect()]
    assert got == [6, 5]                       # staged row 6 wins; 5/7 tie → id 5

    # an independent reader of the same path sees only the commit
    other = VectorTable.open(spark, t.path)
    assert other.count() == 5

    t.commit()
    assert t.count() == 8                      # pending view == post-commit view


def test_metrics_observer_callbacks(spark, tdir):
    """MetricsObserver parity (internal/engine/metrics.go:6-25): write
    path, read path and background ops all fire on an attached observer."""
    from vecgo_spark.observer import RecordingObserver

    t = VectorTable.create(spark, tdir, dim=2, metric="l2")
    obs = RecordingObserver()
    t.set_observer(obs)

    t.insert(_mk_rows(spark, range(1, 21)))
    t.delete([1, 2])
    t.commit()
    t.compact(cluster_by=2)
    _, _stats = t.search_with_stats([3.0, 4.0], k=3)
    t.get(5).count()

    names = [n for n, _ in obs.events]
    assert names == ["insert", "delete", "flush", "compaction", "build",
                     "search", "get"]
    by = dict(obs.events[:5])
    ins = obs.events[0][1]
    assert ins["rows"] == 20 and ins["bytes"] > 0 and ins["latency_s"] > 0
    assert obs.events[1][1]["rows"] == 2
    assert obs.events[2][1]["rows"] == 20  # flush reports staged rows
    comp = obs.events[3][1]
    assert comp["created"] == 2            # cluster_by=2 -> 2 segments
    assert obs.events[4][1]["index_type"] == "ivf"
    assert obs.events[5][1]["k"] == 3


# ------------------------------------------------- declared metadata schema

def test_schema_rejects_wrong_type(spark, tdir):
    t = VectorTable.create(spark, tdir, dim=2, schema={"price": "float"})
    bad = spark.createDataFrame(
        [(1, [1.0, 2.0], "cheap")], "id long, vector array<float>, price string")
    with pytest.raises(TypeError, match="price"):
        t.insert(bad)
    # nothing staged, nothing published
    t.commit()
    assert t.count() == 0


def test_schema_widens_int_to_float_and_normalizes_long(spark, tdir):
    t = VectorTable.create(
        spark, tdir, dim=2, schema={"price": "float", "qty": "int"})
    df = spark.createDataFrame(
        [(1, [1.0, 2.0], 7, 3)], "id long, vector array<float>, price int, qty int")
    t.insert(df)
    t.commit()
    out = t.df()
    types = dict(out.dtypes)
    assert types["price"] == "double"  # int -> float upgrade (schema.go:89)
    assert types["qty"] == "bigint"    # integrals normalize to one at-rest type
    r = out.collect()[0]
    assert r["price"] == 7.0 and r["qty"] == 3


def test_schema_passthrough_and_missing(spark, tdir):
    t = VectorTable.create(spark, tdir, dim=2, schema={"price": "float"})
    # undeclared column passes through untouched; missing declared field OK
    df = spark.createDataFrame(
        [(1, [1.0, 2.0], "x")], "id long, vector array<float>, tag string")
    t.insert(df)
    t.commit()
    out = t.df()
    assert out.collect()[0]["tag"] == "x"
    assert "price" not in out.columns


def test_schema_null_column_is_valid(spark, tdir):
    from pyspark.sql import functions as F

    t = VectorTable.create(spark, tdir, dim=2, schema={"price": "float"})
    df = spark.createDataFrame([(2, [1.0, 2.0])], "id long, vector array<float>")
    # NULL-typed column is always valid (schema.go:81-83) and lands as the
    # declared at-rest type
    t.insert(df.withColumn("price", F.lit(None)))
    t.commit()
    out = t.df()
    assert dict(out.dtypes)["price"] == "double"
    assert out.collect()[0]["price"] is None


def test_schema_bool_string_array_kinds(spark, tdir):
    t = VectorTable.create(
        spark, tdir, dim=2,
        schema={"ok": "bool", "name": "string", "tags": "array"})
    good = spark.createDataFrame(
        [(1, [1.0, 2.0], True, "a", ["x", "y"])],
        "id long, vector array<float>, ok boolean, name string, tags array<string>")
    t.insert(good)
    t.commit()
    assert t.count() == 1
    bad = spark.createDataFrame(
        [(2, [1.0, 2.0], 1)], "id long, vector array<float>, ok long")
    with pytest.raises(TypeError, match="ok"):
        t.insert(bad)


def test_schema_unknown_type_rejected_at_create(spark, tdir):
    with pytest.raises(ValueError, match="unknown type"):
        VectorTable.create(spark, tdir, dim=2, schema={"x": "decimal"})


def test_manifest_count_matches_scan_in_every_state(spark, tdir):
    """count() answers from SegmentMeta.rows (zero jobs) only when that is
    exact — no tombstones, no upserts; it must agree with the full
    visibility scan in every lifecycle state."""
    t = VectorTable.create(spark, tdir, dim=2)
    t.insert(spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(20)], "id long, vector array<float>"))
    t.commit()
    assert t.count() == t.df().count() == 20          # manifest fast path
    t.delete([0, 1, 2, 999])                          # one id never existed
    t.commit()
    assert t.count() == t.df().count() == 17          # tombstones → scan path
    t.insert(spark.createDataFrame(               # colliding id → upsert
        [(3, [9.0, 9.0])], "id long, vector array<float>"))
    t.commit()
    assert t.count() == t.df().count() == 17          # upserts → scan path
    t.compact()
    assert t.count() == t.df().count() == 17          # compacted → fast again


def test_auto_ids_never_collide_with_explicit_ids(spark, tdir):
    """An explicit-id insert must advance the auto-id counter past its
    max id, or a later assign_ids=True insert would mint a duplicate
    (the reference's nextID invariant, engine.go:866)."""
    t = VectorTable.create(spark, tdir, dim=2)
    t.insert(spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 1.0])], "id long, vector array<float>"))
    t.commit()
    t.insert(spark.createDataFrame(
        [([2.0, 2.0],), ([3.0, 3.0],)], "vector array<float>"), assign_ids=True)
    t.commit()
    ids = [r["id"] for r in t.df().select("id").collect()]
    assert len(ids) == len(set(ids)) == 4
    assert min(i for i in ids if i not in (100, 101)) >= 102


def test_duplicate_ids_in_one_batch_collapse_at_write(spark, tdir):
    """[5,5,7,8]: the reference's memtable keeps ONE row per id (every
    Add overwrites, engine.go:833-921), and a Spark batch has no row
    order — so the insert collapses the duplicate AT WRITE with a
    deterministic content-hash tiebreak and rewrites the segment. The
    stored segment then holds one row per (id, lsn): every serving path
    (df, artifacts) agrees by construction (r14 self-found — the
    semdedup artifact used to emit BOTH copies), the manifest row count
    is the collapsed one, and a clean bulk load with an accidental dup
    no longer pays the has_upserts visibility tax forever."""
    t = VectorTable.create(spark, tdir, dim=2)
    df = spark.createDataFrame(
        [(5, [1.0, 0.0]), (5, [2.0, 0.0]), (7, [3.0, 0.0]), (8, [4.0, 0.0])],
        "id long, vector array<float>")
    t.insert(df)
    t.commit()
    # one stored row per id — the raw segment itself, not just the view
    seg = t.manifest.segments[0]
    raw = spark.read.parquet(f"{t.path}/{seg.path}")
    assert raw.count() == 3 and seg.rows == 3
    assert raw.where("id = 5").count() == 1
    # ids provably fresh after the collapse → no upsert tax
    assert not t.manifest.meta.get("has_upserts")
    assert not t.manifest.meta.get("has_dup_ids")
    assert t.count() == 3
    assert t.get(5).count() == 1
    # deterministic winner: replaying the same batch on a fresh table
    # stores the same vector for id 5
    t2 = VectorTable.create(spark, str(tdir) + "2", dim=2)
    t2.insert(df)
    t2.commit()
    assert (t.get(5).collect()[0]["vector"]
            == t2.get(5).collect()[0]["vector"])


def test_schema_null_array_and_any_columns_writable(spark, tdir):
    """All-NULL columns declared 'array'/'any' must land as a concrete
    parquet-writable type, not void."""
    from pyspark.sql import functions as F

    t = VectorTable.create(
        spark, tdir, dim=2, schema={"tags": "array", "extra": "any"})
    df = spark.createDataFrame([(1, [1.0, 2.0])], "id long, vector array<float>")
    t.insert(df.withColumn("tags", F.lit(None)).withColumn("extra", F.lit(None)))
    t.commit()
    out = t.df()
    assert dict(out.dtypes)["tags"] == "array<string>"
    assert dict(out.dtypes)["extra"] == "string"
    row = out.collect()[0]
    assert row["tags"] is None and row["extra"] is None


def _forbid_scan(t):
    """Make any df()-based fallback explode so a test can PROVE count()
    answered from the manifest alone (zero Spark jobs)."""
    def boom(*a, **kw):  # noqa: ANN001
        raise AssertionError("count() fell back to a scan")
    t.df = boom
    return t


def test_count_zero_job_with_dense_tombstones(spark, tdir):
    """Dense-interval tombstone over dense-interval segments → count()
    answers from manifest interval arithmetic, no scan (the time-travel
    query's per-version counts become zero-job)."""
    t = VectorTable.create(spark, tdir, dim=2)
    t.insert(spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(40)], "id long, vector array<float>"))
    t.commit()
    t.insert(spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(40, 60)], "id long, vector array<float>"))
    t.delete(list(range(10)))
    t.commit()
    assert t.df().count() == 50
    assert _forbid_scan(t).count() == 50


def test_count_zero_job_after_delete_where(spark, tdir):
    """delete_where's Observation records the same tombstone id stats the
    driver-side delete() path does, so a dense predicate delete keeps
    count() manifest-only."""
    t = VectorTable.create(spark, tdir, dim=2)
    rows = [(i, [float(i), 0.0], "A" if i < 5 else "B") for i in range(20)]
    t.insert(spark.createDataFrame(rows, "id long, vector array<float>, category string"))
    t.commit()
    n = t.delete_where("category = 'A'")   # ids 0..4 — a dense interval
    assert n == 5
    t.commit()
    assert t.df().count() == 15
    assert _forbid_scan(t).count() == 15


def test_count_falls_back_on_overlapping_or_sparse_tombstones(spark, tdir):
    """Overlapping tombstones (double delete) or a sparse id set cannot be
    proven from intervals → count() must take the scan path, not guess."""
    t = VectorTable.create(spark, tdir, dim=2)
    t.insert(spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(20)], "id long, vector array<float>"))
    t.commit()
    t.delete([3, 4, 5])
    t.commit()
    t.delete([5, 6])                       # overlaps the first tombstone
    t.commit()
    assert t._manifest_count(t.manifest) is None
    assert t.count() == 16                 # {3,4,5}∪{5,6} hidden; scan exact
    t2 = VectorTable.create(spark, str(tdir) + "2", dim=2)
    t2.insert(spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(20)], "id long, vector array<float>"))
    t2.commit()
    t2.delete([2, 9, 17])                  # sparse → dense=False
    t2.commit()
    assert t2._manifest_count(t2.manifest) is None
    assert t2.count() == 17


def test_empty_explicit_id_insert_keeps_fast_count(spark, tdir):
    """A 0-row explicit-id batch cannot collide with anything; it must not
    flip has_upserts and permanently disable the zero-job count path."""
    t = VectorTable.create(spark, tdir, dim=2)
    t.insert(spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(5)], "id long, vector array<float>"))
    t.commit()
    empty = spark.createDataFrame([], "id long, vector array<float>")
    t.insert(empty)
    t.commit()
    assert t.manifest.meta.get("has_upserts", False) is False
    assert _forbid_scan(t).count() == 5


def test_concrete_type_pinned_across_batches(spark, tdir):
    """One parquet type per declared column across segments: the first
    typed write pins it; later batches widen losslessly into it or are
    rejected — never two segments with conflicting parquet types (the
    union read would become footer-order-dependent)."""
    from pyspark.sql import functions as F

    t = VectorTable.create(
        spark, tdir, dim=2, schema={"x": "any", "tags": "array"})
    base = spark.createDataFrame([(1, [1.0, 2.0])], "id long, vector array<float>")
    t.insert(base
             .withColumn("x", F.lit(7).cast("double"))
             .withColumn("tags", F.array(F.lit(1.5))))       # pins double / array<double>
    t.commit()
    t2 = spark.createDataFrame([(2, [3.0, 4.0])], "id long, vector array<float>")
    t.insert(t2
             .withColumn("x", F.lit(9))                       # long → widens to double
             .withColumn("tags", F.array(F.lit(2))))          # array<int> → array<double>
    t.commit()
    out = VectorTable.open(spark, tdir).df()
    assert dict(out.dtypes)["x"] == "double"
    assert dict(out.dtypes)["tags"] == "array<double>"
    assert sorted(r["x"] for r in out.collect()) == [7.0, 9.0]
    bad = spark.createDataFrame([(3, [5.0, 6.0])], "id long, vector array<float>")
    with pytest.raises(TypeError, match="already stores"):
        t.insert(bad.withColumn("x", F.lit("seven")))         # string ↛ double


def test_all_null_first_write_pins_default_and_rejects_conflict(spark, tdir):
    """An all-NULL 'any' column pins the writable default (string); a
    later long batch must be REJECTED, not silently written as a second
    conflicting parquet type (the round-4 advice scenario)."""
    from pyspark.sql import functions as F

    t = VectorTable.create(spark, tdir, dim=2, schema={"x": "any"})
    base = spark.createDataFrame([(1, [1.0, 2.0])], "id long, vector array<float>")
    t.insert(base.withColumn("x", F.lit(None)))
    t.commit()
    assert t.manifest.meta["schema_concrete"]["x"] == "string"
    nxt = spark.createDataFrame([(2, [3.0, 4.0])], "id long, vector array<float>")
    with pytest.raises(TypeError, match="already stores"):
        t.insert(nxt.withColumn("x", F.lit(5)))
    # a string batch is fine, and the pin survives reopen via the manifest
    t.insert(nxt.withColumn("x", F.lit("five")))
    t.commit()
    reopened = VectorTable.open(spark, tdir)
    assert reopened.manifest.meta["schema_concrete"]["x"] == "string"
    assert sorted(r["x"] for r in reopened.df().collect()
                  if r["x"] is not None) == ["five"]


def test_null_first_then_typed_int_batch_accepted(spark, tdir):
    """Review repro: declared 'int' column, all-NULL first batch (pins the
    long default), then a real integer batch — Spark names LongType
    'bigint', so the pin/compare must use one naming or valid inserts get
    rejected as 'bigint vs long'."""
    from pyspark.sql import functions as F

    t = VectorTable.create(spark, tdir, dim=2, schema={"qty": "int", "w": "any"})
    base = spark.createDataFrame([(1, [1.0, 2.0])], "id long, vector array<float>")
    t.insert(base.withColumn("qty", F.lit(None)).withColumn("w", F.lit(0.5)))
    t.commit()
    nxt = spark.createDataFrame([(2, [3.0, 4.0])], "id long, vector array<float>")
    t.insert(nxt.withColumn("qty", F.lit(7)).withColumn("w", F.lit(9)))
    t.commit()                                     # long widens into double 'w'
    out = {r["id"]: (r["qty"], r["w"]) for r in t.df().collect()}
    assert out[2] == (7, 9.0)
    assert dict(t.df().dtypes)["qty"] == "bigint"
    assert dict(t.df().dtypes)["w"] == "double"


def test_rejected_batch_leaves_no_type_pin(spark, tdir):
    """A batch rejected mid-validation must not pin concrete types for its
    earlier columns — nothing was written, so nothing may constrain the
    next insert."""
    from pyspark.sql import functions as F

    t = VectorTable.create(spark, tdir, dim=2, schema={"a": "any", "b": "int"})
    base = spark.createDataFrame([(1, [1.0, 2.0])], "id long, vector array<float>")
    with pytest.raises(TypeError):
        t.insert(base.withColumn("a", F.lit(1.5)).withColumn("b", F.lit("oops")))
    assert "a" not in t.manifest.meta.get("schema_concrete", {})
    # a later batch is free to pin 'a' as a string
    t.insert(base.withColumn("a", F.lit("fine")).withColumn("b", F.lit(2)))
    t.commit()
    assert t.manifest.meta["schema_concrete"]["a"] == "string"


def test_schema_pin_not_committed_on_failed_write(spark, tdir):
    """ADVICE r5: a batch that validates against the declared schema but
    fails at segment-write time (here: vector dim mismatch, caught by the
    fused write-job assert) must leave NO concrete-type pin behind —
    otherwise the phantom pin is persisted by the next successful commit
    and later batches are validated against a type no segment stores."""
    t = VectorTable.create(spark, tdir, dim=2, schema={"price": "float"})
    bad_dim = spark.createDataFrame(
        [(1, [1.0], 7)], "id long, vector array<float>, price int")
    with pytest.raises(ValueError, match="dimension"):
        t.insert(bad_dim)
    assert "price" not in t.manifest.meta.get("schema_concrete", {})
    # the first SUCCESSFUL write is what pins the concrete type
    good = spark.createDataFrame(
        [(2, [1.0, 2.0], 7)], "id long, vector array<float>, price int")
    t.insert(good)
    assert t.manifest.meta["schema_concrete"]["price"] == "double"
    t.commit()
    assert dict(t.df().dtypes)["price"] == "double"


def test_compact_reindex_on_emptied_table(spark, tdir):
    """Delete everything, then compact with all three text-index
    families present: the rewrite publishes an empty segment, the
    reindex rebuilds every family against it without error, and every
    stored read serves the (empty) live snapshot."""
    from vecgo_spark.operators import lexical_at_rest as lex
    from vecgo_spark.operators import minhash_at_rest as mar
    from vecgo_spark.operators import simhash_at_rest as sar

    t = VectorTable.create(spark, tdir, dim=None)
    t.insert(spark.createDataFrame(
        [(i, f"alpha beta doc{i}") for i in range(1, 11)],
        "id long, text string"))
    t.commit()
    mar.build_minhash_index(t)
    sar.build_simhash_index(t)
    t.build_lexical_index()
    t.delete(list(range(1, 11)))
    t.commit()
    t.compact()
    assert {"minhash", "simhash", "lexical"} <= set(t.manifest.meta)
    assert t.manifest.tombstone_files == []
    assert t.count() == 0
    assert mar.stored_minhash_signatures(t).count() == 0
    assert sar.stored_simhash_signatures(t).count() == 0
    assert lex.bm25_search_at_rest(t, "alpha", k=5).count() == 0


def test_subset_scans_never_elect_stale_versions(spark, tdir):
    """MVCC × pruning trap (found+fixed r10): when a stats-pruned filter
    or an explicit segment subset drops the segment holding an id's
    WINNING version, the latest-LSN resolution must still see the full
    snapshot — a window over the subset would resurrect the stale
    version (the exact hazard the lexical index's marker rows guard).
    Covers the cluster-moved upsert through probe-pruned search, a
    metadata filter whose new version is stats-pruned away, and the
    delete→re-insert interplay."""
    import numpy as np

    from pyspark.sql import functions as F
    from vecgo_spark.filters import Filter, FilterSet
    from vecgo_spark.operators import ivf as ivfmod
    from vecgo_spark.plans.table import CLUSTER_COL

    rng = np.random.default_rng(5)
    centers = np.zeros((2, 4))
    centers[0, 0] = 20.0
    centers[1, 1] = 20.0
    rows = [(i, (centers[i % 2] + rng.normal(0, .1, 4)).tolist(), "a")
            for i in range(40)]
    t = VectorTable.create(spark, tdir, dim=4, metric="l2")
    t.insert(spark.createDataFrame(
        rows, "id long, vector array<double>, label string"))
    t.commit()
    t.compact(cluster_by=2)
    # move id 0 to the OTHER cluster and flip its label; the new version
    # lands in its own segment whose stats exclude the old cluster/label
    t.insert(spark.createDataFrame(
        [(0, centers[1].tolist(), "b")],
        "id long, vector array<double>, label string"))
    t.commit()
    model = t._load_ivf()
    q = centers[0].tolist()
    probes = ivfmod.probe_clusters(model, q, 1)
    fs = FilterSet([Filter(CLUSTER_COL, "in", probes)])
    # the probed view must not contain any version of id 0 (its live
    # version sits in the pruned cluster)
    assert t.df(fs).where(F.col("id") == 0).count() == 0
    assert not any(r["id"] == 0
                   for r in t.search(q, k=40, nprobe=1).collect())
    # metadata filter: id 0's LIVE label is b → eq(label, a) excludes it
    # even though its stale 'a' version sits in a kept segment
    assert t.df(FilterSet().eq("label", "a")).where(
        F.col("id") == 0).count() == 0
    # explicit segment subset (the segment_budget shape): visibility
    # still resolves globally. Pick the segments that actually HOLD each
    # version of id 0 (r10 ADVICE: segments[0] held no version of id 0,
    # so the old assertion was vacuously true): the subset holding only
    # the STALE 'a' version must surface nothing for id 0 — its winner
    # lives outside the subset — while the subset holding the winner
    # returns exactly the live row.
    import os as _os

    holders = [s for s in t.manifest.segments
               if t.spark.read.parquet(_os.path.join(t.path, s.path))
               .where(F.col("id") == 0).count() > 0]
    hi = max(s.lsn for s in holders)
    stale_segs = [s for s in holders if s.lsn < hi]
    assert stale_segs, "the old 'a' version must still exist on disk"
    assert t.df(segments=stale_segs).where(F.col("id") == 0).count() == 0
    live_segs = [s for s in holders if s.lsn == hi]
    got = t.df(segments=live_segs).where(F.col("id") == 0).collect()
    assert len(got) == 1 and got[0]["vector"][1] > 19.0
    # full view unchanged: exactly one live id 0, the new vector
    live = t.df().where(F.col("id") == 0).collect()
    assert len(live) == 1 and round(live[0]["vector"][1], 1) == 20.0
    # delete → re-insert: the re-inserted version wins in subset views too
    t.delete([2])
    t.commit()
    t.insert(spark.createDataFrame(
        [(2, centers[1].tolist(), "b")],
        "id long, vector array<double>, label string"))
    t.commit()
    assert t.df(fs).where(F.col("id") == 2).count() == 0
    assert t.df().where(F.col("id") == 2).count() == 1


def test_subset_scan_collapses_same_lsn_duplicates(spark, tdir):
    """In-batch duplicate ids collapse at segment write (r14), so every
    read path — full view, stats-pruned subset scan, point get — sees
    exactly ONE row per id without any visibility machinery. A LATER
    cross-batch upsert still resolves through the winning-LSN join, and
    the write-time collapse composes with it."""
    t = VectorTable.create(spark, tdir, dim=2)
    t.insert(spark.createDataFrame(
        [(5, [1.0, 0.0]), (5, [2.0, 0.0]), (7, [3.0, 0.0])],
        "id long, vector array<float>"))
    t.commit()
    t.insert(spark.createDataFrame(  # second segment so pruning can drop it
        [(9, [4.0, 0.0])], "id long, vector array<float>"))
    t.commit()
    assert not t.manifest.meta.get("has_upserts")  # collapse, not upsert tax
    assert t.df(FilterSet().eq("id", 5)).count() == 1
    assert t.get(5).count() == 1
    # cross-batch upsert of the formerly-duplicated id: latest wins
    t.insert(spark.createDataFrame(
        [(5, [9.0, 9.0])], "id long, vector array<float>"))
    t.commit()
    assert t.manifest.meta.get("has_upserts") is True
    got = t.get(5).collect()
    assert len(got) == 1 and got[0]["vector"] == [9.0, 9.0]


def test_clean_tables_skip_subset_visibility_join(spark, tdir):
    """The global-version visibility join exists ONLY under upserts: a
    bulk-loaded table's pruned scans stay prune-only (no extra (id,_lsn)
    scan, no join) — the 100-TB fast path is untouched by the r10 fix."""
    t = VectorTable.create(spark, tdir, dim=2)
    t.insert(spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(20)],
        "id long, vector array<float>"))
    t.commit()
    assert not t.manifest.meta.get("has_upserts")
    df = t.df(FilterSet().eq("id", 7))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "_vis_lsn" not in plan and "Join" not in plan
    assert [r["id"] for r in df.collect()] == [7]


def test_subset_visibility_scan_stays_narrow_and_pushed(spark, tdir,
                                                       monkeypatch):
    """The global-visibility side-scan (r10 fix) must stay cheap at
    scale: it reads ONLY (id, _lsn) — column pruning through the
    union — and for an id-predicate filter Catalyst propagates the
    equi-join key into the side-scan's pushed filters, so even the
    'full snapshot' pass is row-group-pruned to the touched ids. The
    side-scan exists past the in-plan kill-set bound only (forced to 0
    here)."""
    import re

    from vecgo_spark.plans import table as tmod

    monkeypatch.setattr(tmod, "VIS_PREDICATE_MAX_IDS", 0)
    t = VectorTable.create(spark, tdir, dim=2)
    t.insert(spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(20)],
        "id long, vector array<float>"))
    t.commit()
    t.insert(spark.createDataFrame(
        [(3, [9.0, 9.0])], "id long, vector array<float>"))
    t.commit()
    assert t.manifest.meta.get("has_upserts")
    plan = t.df(FilterSet().eq("id", 5))._jdf.queryExecution() \
        .executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 2  # pruned base + visibility side-scan
    narrow = [ln for ln in scans if re.search(r"\[id#\d+L,_lsn#\d+L\]", ln)]
    assert len(narrow) == 1, plan  # side-scan projects exactly (id, _lsn)
    assert "= 5)" in narrow[0]     # join key pushed into the side-scan


def test_compact_with_staged_batch_flushes_first(spark, tdir):
    """r11 self-review find: compact() while a STAGED (uncommitted) batch
    carries colliding ids used to publish has_upserts=False (the staged
    collision survived the reset — df() then skipped version dedup and
    returned BOTH versions) and restarted the LSN cursor so the first
    staged batch's LSN tied the compacted rows'. compact() now flushes
    staged state first (the reference compacts flushed segments), folding
    the staged rows into the rewrite itself."""
    t = VectorTable.create(spark, tdir, dim=2)
    t.insert(spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(6)],
        "id long, vector array<float>"))
    t.commit()
    # staged upsert of id 3 — NOT committed
    t.insert(spark.createDataFrame(
        [(3, [99.0, 0.0])], "id long, vector array<float>"))
    assert t.manifest.meta.get("has_upserts") is True  # set at insert
    t.compact()
    # the rewrite folded the staged version in: one row per id, id 3 is
    # the staged (latest) version, flags honestly reset
    assert not t._pending and not t._pending_tombs
    assert t.manifest.meta.get("has_upserts") is False
    rows = {r["id"]: r["vector"][0] for r in t.df().collect()}
    assert rows == {0: 0.0, 1: 1.0, 2: 2.0, 3: 99.0, 4: 4.0, 5: 5.0}
    t.commit()  # idempotent: nothing staged remains
    assert {r["id"] for r in t.df().collect()} == set(range(6))
    # staged DELETE before compact folds the same way
    t.delete([5])
    t.compact(cluster_by=2)
    assert not t._pending_tombs
    assert t.manifest.meta.get("has_upserts") is False
    assert {r["id"] for r in t.df().collect()} == {0, 1, 2, 3, 4}
    assert t.df(FilterSet().eq("id", 3)).collect()[0]["vector"][0] == 99.0
