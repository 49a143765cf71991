"""Manifest stats parity with the reference's collector: Bloom filters on
high-cardinality strings (bloom.go), 16-bin log-scale histograms with
per-bin min/max (stats_collector.go:446-529), and vector centroid/radius
stats feeding SegmentPriority probe ordering (stats.go:643-677)."""

import base64
import json
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from vecgo_spark.filters import FilterSet
from vecgo_spark.plans.manifest import SegmentMeta
from vecgo_spark.plans.pruning import (
    bloom_might_contain,
    collect_stats,
    collect_vector_stats,
    prune_segments,
    segment_priority,
)
from vecgo_spark.plans.table import VectorTable


def _seg(stats, rows=100):
    return SegmentMeta(path="s", rows=rows, lsn=1, stats=stats)


def test_bloom_collected_for_high_cardinality_strings(spark):
    df = spark.createDataFrame(
        [(i, f"user-{i:04d}") for i in range(100)], "id long, name string"
    )
    stats = collect_stats(df)
    assert "values" not in stats["name"]  # >16 distinct → set truncated
    bloom = stats["name"]["bloom"]
    # every present value answers "maybe"; absent values answer "no"
    assert all(bloom_might_contain(bloom, f"user-{i:04d}") for i in range(100))
    absent_hits = sum(
        bloom_might_contain(bloom, f"ghost-{i}") for i in range(500)
    )
    assert absent_hits < 25  # <5% fp at 100 values / 2048 bits


def test_bloom_prunes_eq_probe_on_wide_string_column(spark):
    df = spark.createDataFrame(
        [(i, f"user-{i:04d}") for i in range(100)], "id long, name string"
    )
    seg = _seg(collect_stats(df))
    kept = prune_segments([seg], FilterSet().eq("name", "user-0050"))
    assert kept == [seg]
    kept = prune_segments([seg], FilterSet().eq("name", "nobody-here"))
    assert kept == []  # the r1 gap: this used to degrade to "keep"
    kept = prune_segments([seg], FilterSet().isin("name", ["ghost-a", "ghost-b"]))
    assert kept == []


def test_log_histogram_per_bin_bounds_prove_gaps(spark):
    # values cluster at 1..10 and 1e6..1e6+10: a huge empty middle that a
    # linear histogram's global min/max cannot expose
    vals = [float(v) for v in list(range(1, 11)) + [1_000_000 + v for v in range(11)]]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    stats = collect_stats(df)
    lh = stats["x"]["log_histogram"]
    assert len(lh["bins"]) == 16
    assert sum(b["n"] for b in lh["bins"]) == len(vals)
    seg = _seg(stats, rows=len(vals))
    # eq probe into the gap → pruned; probes at real values → kept
    assert prune_segments([seg], FilterSet().eq("x", 5000.0)) == []
    assert prune_segments([seg], FilterSet().eq("x", 5.0)) == [seg]
    assert prune_segments([seg], FilterSet().eq("x", 1_000_003.0)) == [seg]


def test_vector_stats_numpy_parity(spark):
    rng = np.random.default_rng(11)
    m = rng.standard_normal((200, 6))
    df = spark.createDataFrame(
        [(i, m[i].tolist()) for i in range(200)], "id long, vector array<double>"
    )
    vs = collect_vector_stats(df, "vector", 6)
    np.testing.assert_allclose(vs["centroid"], m.mean(axis=0), rtol=1e-9)
    cent = m.mean(axis=0)
    np.testing.assert_allclose(
        vs["radius"], np.linalg.norm(m - cent[None, :], axis=1).max(), rtol=1e-9
    )
    np.testing.assert_allclose(
        vs["max_norm"], np.linalg.norm(m, axis=1).max(), rtol=1e-9
    )


def test_segment_priority_orders_by_distance_bound():
    def seg_at(center, radius, path):
        return SegmentMeta(
            path=path, rows=10, lsn=1,
            stats={"vector": {"centroid": center, "radius": radius}},
        )

    a = seg_at([0.0, 0.0], 1.0, "near")
    b = seg_at([10.0, 0.0], 1.0, "far")
    c = seg_at([100.0, 0.0], 1.0, "farther")
    ordered = segment_priority([c, b, a], [0.5, 0.0], "vector")
    assert [s.path for s, _ in ordered] == ["near", "far", "farther"]
    assert ordered[0][1] == 0.0  # query inside the near ball → bound 0
    assert ordered[1][1] == pytest.approx(math.hypot(9.5, 0) - 1.0)


def test_table_priority_search_scans_only_budgeted_segments(spark, tmp_path):
    t = VectorTable.create(spark, str(tmp_path / "t"), dim=4, metric="l2")
    rng = np.random.default_rng(2)
    # three well-separated segments (one insert each → one segment each)
    for base, start in [(0.0, 0), (50.0, 100), (200.0, 200)]:
        rows = [
            (start + i, (base + rng.standard_normal(4) * 0.1).tolist())
            for i in range(30)
        ]
        t.insert(spark.createDataFrame(rows, "id long, vector array<double>"))
    t.commit()
    q = [49.9] * 4
    pr = t.segment_priorities(q)
    assert pr[0][1] == 0.0 or pr[0][1] < pr[1][1]
    budgeted = t.search(q, k=5, segment_budget=1)
    got = {r["id"] for r in budgeted.collect()}
    assert got <= set(range(100, 130))  # only the middle segment's rows
    assert len(set(budgeted.inputFiles())) < len(set(t.df().inputFiles()))


def test_numeric_moments_collected(spark):
    """sum/sumsq running moments (StatsCollector parity) → mean/stddev."""
    import numpy as np

    vals = [1.0, 2.0, 3.0, 4.0, 10.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    cs = collect_stats(df)["x"]
    assert cs["sum"] == sum(vals)
    assert cs["sumsq"] == sum(v * v for v in vals)
    assert cs["mean"] == pytest.approx(np.mean(vals))
    assert cs["stddev"] == pytest.approx(np.std(vals))


def test_observed_stats_equal_two_pass_stats(spark, tmp_path):
    """observe_segment_stats (pass 1 riding the write job) must produce
    the SAME manifest stats as the standalone two-pass collector over the
    written files — min/max/nulls/values/moments/histograms/bloom/vector
    profile, everything the pruner reads."""
    import numpy as np

    from vecgo_spark.plans.pruning import (
        collect_segment_stats,
        observe_segment_stats,
    )

    rng = np.random.default_rng(31)
    rows = [
        (i, float(rng.normal(50, 20)), f"cat{i % 5}", f"wide{i}",
         [float(x) for x in rng.standard_normal(4)])
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "id long, price double, category string, tag string, vector array<double>")
    dest = str(tmp_path / "seg")
    obs_df, fin = observe_segment_stats(df, vector_col="vector", dim=4)
    obs_df.write.parquet(dest)
    written = spark.read.parquet(dest)
    got = fin(written)
    want = collect_segment_stats(written, vector_col="vector", dim=4)
    # float sums may differ in accumulation order between the two runs —
    # everything else must be identical, the sums equal to 1e-9 rel
    def norm(d):
        out = {}
        for col, cs in d.items():
            if not isinstance(cs, dict):
                out[col] = cs
                continue
            out[col] = {k: (round(v, 6) if isinstance(v, float) else v)
                        for k, v in cs.items() if k != "bloom"}
            if "bloom" in cs:
                out[col]["bloom"] = cs["bloom"]["bits"]
            if "centroid" in cs:
                out[col]["centroid"] = [round(x, 6) for x in cs["centroid"]]
        return out
    assert norm(got) == norm(want)


# ---------------------------------------------------------------- golden
#
# Every manifest stat of a segment against a NumPy/Python oracle, compared
# as canonical JSON — so each value's Python type (int vs float) counts,
# not just its magnitude. The data keeps every float sum exact in any
# order (integer multiples of a power of two, far from the 53-bit limit),
# so the oracle does not depend on Spark's partition merge order.

_BIG = 1 << 53
_GOLDEN_SCHEMA = ("id long, i32 int, f32 float, f64 double, cat string, "
                  "tag string, vector array<double>")
_GOLDEN_NUMERIC = ("id", "i32", "f32", "f64")
_GOLDEN_STRING = ("cat", "tag")


def _golden_rows(n=40, seed=7):
    """Ids: multiples of 2^30 from negative to above 2^53, plus 2^53 + 1
    (not a double: its log-bin min/max must stay an exact int). Vectors:
    integer entries with integer norms, so every norm is exact."""
    rng = np.random.default_rng(seed)
    pool = [[float(x - 4) for x in v] for v in np.ndindex(*(9,) * 4)
            if math.isqrt(q := sum((x - 4) ** 2 for x in v)) ** 2 == q]
    ms = [-9, -4, -1, 0, 2, 3, 5, 8, 13, 21] + [(1 << 23) + j for j in range(1, n - 10)]
    ids = [m << 30 for m in ms[: n - 1]] + [_BIG + 1]
    rows = []
    for i, rid in enumerate(ids):
        v = pool[int(rng.integers(len(pool)))]
        rows.append((
            rid,
            None if i % 7 == 3 else int(rng.integers(-50, 50)),
            None if i % 5 == 1 else float(np.float32(int(rng.integers(-300, 900)) / 2)),
            None if i % 6 == 2 else int(rng.integers(-4000, 4000)) / 4,
            None if i % 9 == 4 else "abcde"[int(rng.integers(5))],
            None if i % 8 == 5 else f"tag-{int(rng.integers(1000)):03d}",
            v,
        ))
    return rows


def _exact_sum(terms):
    """Sum that Spark reproduces bit-for-bit in any merge order: scaled to
    integers, every term is a multiple of 2**tz and Σ|term| / 2**tz <
    2**53, so every partial sum is representable. Asserts the data keeps
    that."""
    from fractions import Fraction

    k = max(Fraction(t).denominator for t in terms)
    ints = [int(Fraction(t) * k) for t in terms]
    tz = min(((x & -x).bit_length() - 1 for x in ints if x), default=0)
    assert sum(abs(x) for x in ints) >> tz < 2 ** 53, "test data sums round"
    return float(Fraction(sum(ints), k))


def _oracle_stats(rows, vector_col="vector", ndv_col=None):
    from vecgo_spark.functions.hashing import stable_hash64_py
    from vecgo_spark.plans.pruning import BLOOM_K, BLOOM_M, LOG_BINS

    names = ["id", "i32", "f32", "f64", "cat", "tag", "vector"]
    cols = {c: [r[i] for r in rows] for i, c in enumerate(names)}
    n = len(rows)
    out = {"__rows": n}
    for c in _GOLDEN_NUMERIC + _GOLDEN_STRING:
        vals = [v for v in cols[c] if v is not None]
        cs = {"min": min(vals), "max": max(vals), "null_count": n - len(vals)}
        if c in _GOLDEN_NUMERIC:
            d = [float(v) for v in vals]
            cs["sum"] = _exact_sum(d)
            cs["sumsq"] = _exact_sum([x * x for x in d])
            mean = cs["sum"] / len(d)
            cs["mean"] = mean
            cs["stddev"] = math.sqrt(max(0.0, cs["sumsq"] / len(d) - mean * mean))
            lo, hi = float(cs["min"]), float(cs["max"])
            hist = [0] * 8
            for x in d:
                hist[min(7, max(0, math.floor((x - lo) / (hi - lo) * 8)))] += 1
            cs["histogram"] = hist
            tlo = math.copysign(math.log1p(abs(lo)), lo)
            thi = math.copysign(math.log1p(abs(hi)), hi)
            tspan = (thi - tlo) or 1.0
            bins = [[] for _ in range(LOG_BINS)]
            for v in vals:
                s = (math.copysign(math.log1p(abs(float(v))), float(v)) - tlo) / tspan * LOG_BINS
                # the executor's log1p may differ from libm's in the last
                # ulp: keep values clear of every bin edge (min, max and 0
                # transform exactly everywhere)
                if v not in (cs["min"], cs["max"], 0):
                    assert abs(s - round(s)) > 1e-9, f"{c}={v} sits on a log-bin edge"
                bins[min(LOG_BINS - 1, max(0, math.floor(s)))].append(v)
            cs["log_histogram"] = {"lo": lo, "hi": hi, "bins": [
                {"n": len(b), "min": min(b) if b else None, "max": max(b) if b else None}
                for b in bins]}
        else:
            distinct = sorted(set(vals))
            if len(distinct) <= 16:
                cs["values"] = distinct
                cs["value_counts"] = {v: vals.count(v) for v in distinct}
            else:
                bits = bytearray(BLOOM_M // 8)
                for v in vals:
                    for s in range(BLOOM_K):
                        p = stable_hash64_py(v, seed=s) % BLOOM_M
                        bits[p >> 3] |= 1 << (p & 7)
                cs["bloom"] = {"m": BLOOM_M, "k": BLOOM_K,
                               "bits": base64.b64encode(bytes(bits)).decode()}
        out[c] = cs
    if ndv_col is not None and n > 1:
        out[ndv_col]["ndv"] = len({v for v in cols[ndv_col] if v is not None})
    vecs = cols["vector"]
    dim = len(vecs[0])
    cent = [_exact_sum([v[i] for v in vecs]) / n for i in range(dim)]

    def seq_norm(v, c):
        acc = 0.0
        for x, y in zip(v, c):
            acc = acc + (x - y) * (x - y)
        return math.sqrt(acc)

    norms = [seq_norm(v, [0.0] * dim) for v in vecs]
    assert all(x == int(x) for x in norms)
    out[vector_col] = {
        "centroid": cent,
        "radius": max(seq_norm(v, cent) for v in vecs),
        "mean_norm": _exact_sum(norms) / n,
        "max_norm": max(norms),
    }
    return out


def _canon(stats):
    return json.dumps(stats, sort_keys=True)


def test_golden_segment_stats_match_oracle(spark, tmp_path):
    """Standalone collector and the write-fused observed path both equal
    the oracle: histogram, log histogram per-bin n/min/max with their
    Python types, bloom bits, value_counts, moments and vector shape."""
    from vecgo_spark.plans.pruning import (
        collect_segment_stats,
        observe_segment_stats,
    )

    rows = _golden_rows()
    df = spark.createDataFrame(rows, _GOLDEN_SCHEMA)
    want = _canon(_oracle_stats(rows))
    assert _canon(collect_segment_stats(df, vector_col="vector", dim=4)) == want
    dest = str(tmp_path / "seg")
    obs_df, fin = observe_segment_stats(df, vector_col="vector", dim=4)
    obs_df.write.parquet(dest)
    assert _canon(fin(spark.read.parquet(dest))) == want


def _seg_stats(seg):
    return _canon({"__rows": seg.rows, **seg.stats})


def test_golden_insert_rewrite_and_partial_merge_stats(spark, tmp_path):
    """Table write paths, ndv included: an insert whose batch carries a
    duplicate id (collapsed by the segment rewrite), and a maybe_compact
    over an upserted id, whose merged segment keeps both versions
    (ndv < rows)."""
    from vecgo_spark.plans.policy import TieredPolicy

    rows = _golden_rows()
    t = VectorTable.create(spark, str(tmp_path / "t"), dim=4)
    t.insert(spark.createDataFrame(rows + [rows[3], rows[17]], _GOLDEN_SCHEMA))
    assert len(t._pending) == 1
    assert _seg_stats(t._pending[0]) == _canon(_oracle_stats(rows, ndv_col="id"))
    assert not t.manifest.meta["has_dup_ids"]
    t.commit()
    # the upsert: one id of the first batch again, new payload, + new ids
    rows2 = [(rows[5][0], 7, 1.5, -2.25, "e", "tag-new", [1.0, 2.0, 2.0, 0.0])]
    rows2 += [(r[0] + (100 << 30), *r[1:]) for r in _golden_rows(6, seed=8)[:5]]
    t.insert(spark.createDataFrame(rows2, _GOLDEN_SCHEMA))
    t.commit()
    assert t.manifest.meta["has_upserts"]
    assert t.maybe_compact(TieredPolicy(min_segments=2, max_merge=2)) is not None
    (seg,) = t.manifest.segments
    merged = rows + rows2
    want = _oracle_stats(merged, ndv_col="id")
    assert want["id"]["ndv"] == len(merged) - 1
    assert _seg_stats(seg) == _canon(want)


def test_pass2_quotes_names_and_values(spark):
    """Pass 2 builds its entries as SQL text: column names with spaces
    and values with quotes, backslashes, backticks or escape look-alikes
    must come back exactly."""
    from collections import Counter

    vals = ["a'b", "c\\d", "\\u0041", "é \"q\"", "x`y"]
    rows = [(vals[i % 5], i * 0.5 - 3) for i in range(23)]
    df = spark.createDataFrame(rows, "`cat col` string, `n m` double")
    stats = collect_stats(df)
    assert stats["cat col"]["value_counts"] == dict(Counter(r[0] for r in rows))
    assert sum(stats["n m"]["histogram"]) == len(rows)
    assert stats["n m"]["log_histogram"]["bins"][0]["min"] == -3.0
