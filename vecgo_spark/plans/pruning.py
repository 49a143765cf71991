"""Manifest-stats segment pruning — the reference's signature planner step.

Port of CanPruneNumeric / CanPruneCategorical / missing-field pruning
(internal/manifest/stats.go:234-287,449-483;
internal/engine/segment_pruning.go:15-121): O(1) per segment against
min/max/null stats collected at commit, running driver-side BEFORE the
file list is handed to spark.read — so pruned segments are never opened
(on 100 TB this is the difference between touching 3 files and 3000).
Catalyst's parquet row-group pruning then handles the intra-file level.

Conservative by construction: prune only when stats PROVE no row can
match; unknown columns/operators → keep.
"""

from __future__ import annotations

import base64
import math
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, IntegralType, NumericType, StringType

from vecgo_spark.filters import Filter, FilterSet
from vecgo_spark.functions.hashing import stable_hash64_expr_sql, stable_hash64_py
from vecgo_spark.plans.manifest import SegmentMeta

# Bloom sizing (≙ internal/manifest/bloom.go): 2048 bits / 4 hashes gives
# <1% fp up to ~200 distinct values and degrades gracefully above — the
# filter only ever *keeps* extra segments, never wrongly prunes.
BLOOM_M = 2048
BLOOM_K = 4

LOG_BINS = 16


def collect_stats(df: DataFrame, exclude: tuple[str, ...] = ()) -> dict[str, Any]:
    """Scalar-column stats (see collect_segment_stats)."""
    return collect_segment_stats(df, exclude=exclude)


def _pass1_spec(
    schema, exclude: tuple[str, ...], vector_col: str | None, dim: int | None,
) -> tuple[list[str], list[str], list[str], bool]:
    names = [f.name for f in schema.fields]
    cols = [
        f.name for f in schema.fields
        if f.name not in exclude
        and isinstance(f.dataType, (NumericType, StringType, BooleanType))
    ]
    string_cols = [
        f.name for f in schema.fields
        if f.name in cols and isinstance(f.dataType, StringType)
    ]
    numeric_cols = [
        f.name for f in schema.fields
        if f.name in cols and isinstance(f.dataType, NumericType)
    ]
    do_vec = bool(vector_col is not None and dim and vector_col in names)
    return cols, string_cols, numeric_cols, do_vec


def _pass1_agg(
    cols: list[str], string_cols: list[str], numeric_cols: list[str],
    do_vec: bool, vector_col: str | None, dim: int | None,
):
    """Every pass-1 aggregate as fields of ONE struct column `s`, parsed
    from one SQL string (the pass-2 idiom): built from Column calls they
    cost several py4j round trips apiece, 0.1-0.2 s of driver time per
    segment write."""
    aggs = ["count(1) AS __n"]
    for c in cols:
        q = _sql_col(c)

        def name(stat: str) -> str:
            return _sql_col(f"{c}__{stat}")
        aggs += [f"min({q}) AS {name('min')}", f"max({q}) AS {name('max')}",
                 f"sum(CASE WHEN {q} IS NULL THEN 1 ELSE 0 END) AS {name('nulls')}"]
        if c in numeric_cols:
            # sum + sumsq (StatsCollector's running moments,
            # stats_collector.go) → mean/stddev for cost estimation
            x = f"CAST({q} AS DOUBLE)"
            aggs += [f"sum({x}) AS {name('sum')}", f"sum({x} * {x}) AS {name('sumsq')}"]
        if c in string_cols:
            # collect_set caps driver cost via slice; if truncated (>16
            # distinct) the set is dropped as unusable
            aggs.append(f"slice(sort_array(collect_set({q})), 1, 17) AS {name('vals')}")
    if do_vec:
        v = f"CAST({_sql_col(vector_col)} AS ARRAY<DOUBLE>)"
        aggs += [f"sum({v}[{i}]) AS __vs{i}" for i in range(dim)]
    return F.expr(f"struct({', '.join(aggs)}) AS s")


def _pass1_finalize(
    row, cols: list[str], string_cols: list[str], numeric_cols: list[str],
    do_vec: bool, dim: int | None,
) -> tuple[dict[str, Any], list[float] | None]:
    """row is the pass-1 struct (see _pass1_agg), a Row of stat → value."""
    n_rows = int(row["__n"] or 0)
    # the row count rides the stats pass for free — callers (segment
    # builds) use it instead of issuing a separate count() job
    out: dict[str, Any] = {"__rows": n_rows}
    for c in cols:
        cs: dict[str, Any] = {
            "min": row[f"{c}__min"],
            "max": row[f"{c}__max"],
            "null_count": int(row[f"{c}__nulls"] or 0),
        }
        if c in numeric_cols and row[f"{c}__sum"] is not None:
            nn = n_rows - cs["null_count"]
            cs["sum"] = float(row[f"{c}__sum"])
            cs["sumsq"] = float(row[f"{c}__sumsq"])
            if nn > 0:
                mean = cs["sum"] / nn
                cs["mean"] = mean
                cs["stddev"] = math.sqrt(max(0.0, cs["sumsq"] / nn - mean * mean))
        if c in string_cols:
            vals = row[f"{c}__vals"] or []
            if len(vals) <= 16:
                cs["values"] = list(vals)
        out[c] = cs
    centroid = None
    if do_vec and n_rows > 0 and row["__vs0"] is not None:
        centroid = [float(row[f"__vs{i}"]) / n_rows for i in range(dim)]
    return out, centroid


def collect_segment_stats(
    df: DataFrame, exclude: tuple[str, ...] = (),
    vector_col: str | None = None, dim: int | None = None,
) -> dict[str, Any]:
    """ALL per-segment commit-time stats in two aggregates
    (≙ StatsCollector.Add/Finalize, stats_collector.go:110-615):

      pass 1  per scalar column: min / max / null_count / ≤16-value set
              (CanPruneCategorical, stats.go:449-483); per vector column:
              per-dim sums + count (→ centroid).
      pass 2  everything that depends on pass-1 results: 8-bin linear
              histogram + 16-bin LOG histogram with per-bin min/max
              (stats_collector.go:446-529), Bloom positions for
              >16-distinct strings (bloom.go), exact value counts for
              ≤16-distinct strings, and vector radius / mean / max norm
              against the centroid — one narrow grouped aggregate.

    No id ndv here: segment writes count it in the PK sidecar write
    (VectorTable._segment_pk). Segment builds fuse pass 1 INTO the write
    job via observe_segment_stats (no extra scan), so an ingest pays
    write + ONE stats pass — matching the reference's single-pass
    collector + finalize."""
    cols, string_cols, numeric_cols, do_vec = _pass1_spec(
        df.schema, exclude, vector_col, dim)
    if not cols and not do_vec:
        return {}
    row = df.agg(_pass1_agg(cols, string_cols, numeric_cols,
                            do_vec, vector_col, dim)).first()["s"]
    out, centroid = _pass1_finalize(row, cols, string_cols, numeric_cols, do_vec, dim)
    return _pass2_apply(df, out, centroid, cols, string_cols, numeric_cols,
                        vector_col)


def observe_segment_stats(
    df: DataFrame, exclude: tuple[str, ...] = (),
    vector_col: str | None = None, dim: int | None = None,
):
    """Fuse pass 1 into the caller's next ACTION on df (a segment write):
    returns (df_with_observation, finalize) where finalize(written_df)
    reads the observed metrics — available once the write job ran, at
    zero extra scans — and runs only pass 2 over the written files.
    The reference collects stats streaming inside the segment writer
    (stats_collector.go:110-445); this is the Spark-native equivalent.
    Like collect_segment_stats, no id ndv: the segment's PK sidecar
    write supplies it."""
    from pyspark.sql import Observation

    cols, string_cols, numeric_cols, do_vec = _pass1_spec(
        df.schema, exclude, vector_col, dim)
    if not cols and not do_vec:
        return df, lambda written: {}
    obs = Observation()
    df = df.observe(obs, _pass1_agg(cols, string_cols, numeric_cols,
                                    do_vec, vector_col, dim))

    def finalize(written: DataFrame) -> dict[str, Any]:
        row = obs.get["s"]
        out, centroid = _pass1_finalize(
            row, cols, string_cols, numeric_cols, do_vec, dim)
        return _pass2_apply(written, out, centroid, cols, string_cols,
                            numeric_cols, vector_col)

    return df, finalize


HIST_BINS = 8
# pass-2 entry kinds: each row emits one (k, c, b, i, d) struct per stat
_K_HIST, _K_LOG, _K_BLOOM, _K_VALUE, _K_VEC = range(5)


def _sql_double(v: float) -> str:
    return f"({v!r}D)" if math.isfinite(v) else f"CAST('{v}' AS DOUBLE)"


def _sql_col(c: str) -> str:
    return "`" + c.replace("`", "``") + "`"


def _pass2_frame(
    df: DataFrame, out: dict[str, Any], centroid: list[float] | None,
    cols: list[str], hist_cols: list[str], bloom_cols: list[str],
    value_cols: list[str], vector_col: str | None,
) -> DataFrame | None:
    """Pass 2 as ONE long-format aggregate: every row emits
    (kind, column index, bin, integral value, floating value) structs,
    exploded and grouped by (kind, column, bin). The aggregate list is
    fixed however many columns the segment has; bin bounds and the
    centroid are plan literals. A NULL input lands in bin NULL. The
    entries are SQL text: as Columns they cost ~3k py4j round trips
    (~0.4 s of driver time per segment at dim 64)."""
    integral = {f.name for f in df.schema.fields
                if isinstance(f.dataType, IntegralType)}

    def entry(kind: int, c: str | None, b: str, i="NULL", d="NULL") -> str:
        return (f"named_struct('k', {kind}, 'c', {-1 if c is None else cols.index(c)}, "
                f"'b', CAST({b} AS INT), 'i', CAST({i} AS BIGINT), "
                f"'d', CAST({d} AS DOUBLE))")

    def bin_of(x: str, pos: str, n: int) -> str:  # greatest() skips NULLs
        return (f"CASE WHEN {x} IS NOT NULL THEN least({n - 1}, greatest(0, "
                f"CAST(floor(({pos}) * {n}) AS INT))) END")

    entries = []
    for c in hist_cols:
        q = _sql_col(c)
        x = f"CAST({q} AS DOUBLE)"
        lo, hi = float(out[c]["min"]), float(out[c]["max"])
        entries.append(entry(_K_HIST, c, bin_of(
            x, f"({x} - {_sql_double(lo)}) / {_sql_double(hi - lo)}", HIST_BINS)))
        tlo, thi = _log_t_py(lo), _log_t_py(hi)
        t = f"signum({x}) * log1p(abs({x}))"
        lidx = bin_of(x, f"({t} - {_sql_double(tlo)}) / {_sql_double((thi - tlo) or 1.0)}",
                      LOG_BINS)
        # per-bin min/max keep the column's own type: an integral column
        # rides the long field, so ids past 2**53 stay exact
        entries.append(entry(_K_LOG, c, lidx, **{"i" if c in integral else "d": q}))
    for c in bloom_cols:
        entries += [entry(_K_BLOOM, c, f"pmod({stable_hash64_expr_sql(_sql_col(c), s)}, {BLOOM_M})")
                    for s in range(BLOOM_K)]
    # exact per-value frequencies for low-cardinality strings (the values
    # are known from pass 1): turns categorical-eq selectivity estimates
    # from the uniform 1/|values| guess into the exact match fraction —
    # the filtered ANN strategy cutover (graph_at_rest.py) depends on it
    for c in value_cols:
        vals = ", ".join("'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
                         for v in out[c]["values"])
        entries.append(entry(_K_VALUE, c, f"array_position(array({vals}), {_sql_col(c)}) - 1"))
    if centroid is not None:
        v = f"CAST({_sql_col(vector_col)} AS ARRAY<DOUBLE>)"
        cent = "array(" + ", ".join(_sql_double(float(x)) for x in centroid) + ")"
        d2 = (f"aggregate(zip_with({v}, {cent}, (x, y) -> (x - y) * (x - y)), "
              "0.0D, (acc, x) -> acc + x)")
        nrm = f"sqrt(aggregate(zip_with({v}, {v}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x))"
        entries += [entry(_K_VEC, None, "0", d=f"sqrt({d2})"),
                    entry(_K_VEC, None, "1", d=nrm)]
    if not entries:
        return None
    return (df.selectExpr(f"inline(array({', '.join(entries)}))").groupBy("k", "c", "b")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("i").alias("imin"), F.max("i").alias("imax"),
                 F.min("d").alias("dmin"), F.max("d").alias("dmax"),
                 F.avg("d").alias("davg")))


def _pass2_apply(
    df: DataFrame, out: dict[str, Any], centroid: list[float] | None,
    cols: list[str], string_cols: list[str], numeric_cols: list[str],
    vector_col: str | None,
) -> dict[str, Any]:
    """Run pass 2 (when something depends on pass-1 results) into `out`."""
    hist_cols = [c for c in numeric_cols if out[c]["min"] is not None
                 and float(out[c]["max"]) > float(out[c]["min"])]
    bloom_cols = [c for c in string_cols if "values" not in out[c]]
    value_cols = [c for c in string_cols if out[c].get("values")]
    frame = _pass2_frame(df, out, centroid, cols, hist_cols, bloom_cols,
                         value_cols, vector_col)
    if frame is None:
        return out
    for c in hist_cols:
        out[c]["histogram"] = [0] * HIST_BINS
        out[c]["log_histogram"] = {
            "lo": float(out[c]["min"]), "hi": float(out[c]["max"]),
            "bins": [{"n": 0, "min": None, "max": None} for _ in range(LOG_BINS)],
        }
    for c in value_cols:
        out[c]["value_counts"] = dict.fromkeys(out[c]["values"], 0)
    blooms = {c: bytearray(BLOOM_M // 8) for c in bloom_cols}
    vec = [None, None]
    for r in frame.collect():
        kind, c, b = r["k"], cols[r["c"]] if r["c"] >= 0 else None, r["b"]
        if b is None:
            continue  # the column's NULL inputs
        if kind == _K_HIST:
            out[c]["histogram"][b] = r["n"]
        elif kind == _K_LOG:
            ival = r["imin"] is not None
            out[c]["log_histogram"]["bins"][b] = {
                "n": r["n"], "min": r["imin"] if ival else r["dmin"],
                "max": r["imax"] if ival else r["dmax"]}
        elif kind == _K_BLOOM:
            blooms[c][b >> 3] |= 1 << (b & 7)
        elif kind == _K_VALUE:
            out[c]["value_counts"][out[c]["values"][b]] = r["n"]
        else:
            vec[b] = r
    for c, bits in blooms.items():
        out[c]["bloom"] = {
            "m": BLOOM_M, "k": BLOOM_K,
            "bits": base64.b64encode(bytes(bits)).decode(),
        }
    if centroid is not None:
        out[vector_col] = {
            "centroid": centroid,
            "radius": float(vec[0]["dmax"]),
            "mean_norm": float(vec[1]["davg"]),
            "max_norm": float(vec[1]["dmax"]),
        }
    return out


def _log_t_py(v: float) -> float:
    """Signed log transform: sign(v)·log1p(|v|) — monotone over ℝ, log-
    compresses both tails (the reference's log-scale binning stance)."""
    return math.copysign(math.log1p(abs(v)), v)


def _log_bin_py(v: float, lo: float, hi: float) -> int:
    tlo, thi = _log_t_py(lo), _log_t_py(hi)
    span = (thi - tlo) or 1.0
    b = math.floor((_log_t_py(v) - tlo) / span * LOG_BINS)
    return max(0, min(LOG_BINS - 1, int(b)))


def bloom_might_contain(bloom: dict[str, Any], value: Any) -> bool:
    """Driver-side probe using the Python twin of the executor-side hash."""
    bits = base64.b64decode(bloom["bits"])
    m, k = bloom["m"], bloom["k"]
    for s in range(k):
        p = stable_hash64_py(str(value), seed=s) % m
        if not (bits[p >> 3] >> (p & 7)) & 1:
            return False
    return True


def collect_vector_stats(df: DataFrame, vector_col: str, dim: int) -> dict[str, Any]:
    """Per-segment vector shape stats alone (stats_collector.go:554-614):
    centroid / radius / mean+max norm. Thin wrapper over
    collect_segment_stats restricted to the vector column."""
    out = collect_segment_stats(
        df, exclude=tuple(c for c in df.columns if c != vector_col),
        vector_col=vector_col, dim=dim,
    )
    return out.get(vector_col, {})


def segment_priority(
    segments: list[SegmentMeta], query: list[float], vector_col: str,
) -> list[tuple[SegmentMeta, float]]:
    """Segments ordered by a LOWER BOUND on the distance from `query` to
    any vector inside: max(0, ||q − centroid|| − radius) (triangle
    inequality; ≙ SegmentPriority, stats.go:643-677). Nearest-first is the
    probe/early-termination order; segments without vector stats sort
    first (bound 0 — conservative)."""
    out = []
    for seg in segments:
        vs = seg.stats.get(vector_col) or {}
        cent = vs.get("centroid")
        if not cent:
            out.append((seg, 0.0))
            continue
        d = math.sqrt(sum((q - c) ** 2 for q, c in zip(query, cent)))
        out.append((seg, max(0.0, d - float(vs.get("radius", 0.0)))))
    out.sort(key=lambda t: (t[1], t[0].path))
    return out


def estimate_selectivity(stats: dict[str, Any], rows: int, fs: "FilterSet") -> float:
    """Fraction of rows expected to match (EstimateSelectivity,
    stats.go:340-427): histogram mass for ranges (uniform-within-bin
    interpolation), 1/|values| for categorical eq, null-ratio aware;
    ANDed filters multiply (independence). Unknown columns → 1.0
    (conservative: never claims MORE selective than provable)."""
    if rows <= 0:
        return 1.0
    sel = 1.0
    for f in fs.filters:
        cs = stats.get(f.key)
        if cs is None:
            continue
        nulls = cs.get("null_count", 0)
        non_null = max(rows - nulls, 0) / rows
        vals = cs.get("values")
        hist = cs.get("histogram")
        lo, hi = cs.get("min"), cs.get("max")
        s = non_null
        counts = cs.get("value_counts")
        if f.op == "eq" and counts:
            s = counts.get(f.value, 0) / rows      # exact match fraction
        elif f.op == "eq" and vals:
            s = non_null / len(vals) if f.value in vals else 0.0
        elif f.op == "in" and counts:
            try:
                s = sum(counts.get(x, 0) for x in f.value) / rows
            except TypeError:
                s = non_null
        elif f.op == "in" and vals:
            try:
                present = sum(1 for x in f.value if x in vals)
            except TypeError:
                present = len(vals)
            s = non_null * present / max(len(vals), 1)
        elif f.op in ("gt", "gte", "lt", "lte") and hist and lo is not None and hi is not None:
            lo_f, hi_f = float(lo), float(hi)
            total = sum(hist) or 1
            width = (hi_f - lo_f) / len(hist)
            mass = 0.0
            for b, cnt in enumerate(hist):
                b_lo, b_hi = lo_f + b * width, lo_f + (b + 1) * width
                v = float(f.value)
                if f.op in ("gt", "gte"):
                    if b_lo >= v:
                        frac = 1.0
                    elif b_hi <= v:
                        frac = 0.0
                    else:
                        frac = (b_hi - v) / width
                else:
                    if b_hi <= v:
                        frac = 1.0
                    elif b_lo >= v:
                        frac = 0.0
                    else:
                        frac = (v - b_lo) / width
                mass += cnt * frac
            s = non_null * (mass / total)
        sel *= max(0.0, min(1.0, s))
    return sel


class AdaptiveSelectivity:
    """Per-field-set observed-selectivity feedback — the Spark-side
    translation of the reference's adaptive selectivity EMA
    (internal/manifest/stats.go:205-224: every executed filtered search
    folds its OBSERVED match fraction into a per-field moving average
    that refines later estimates).

    Recall-safety invariant: `adjust` blends with **min(estimate, ema)**
    — feedback may only claim the filter is MORE selective than the
    static histogram estimate, and the filtered-ANN tiers widen probes
    monotonically as selectivity falls (ivf.search: <2% → all clusters,
    ≤30% → boosted, >30% → plain). The adaptive probe set is therefore
    always a SUPERSET of the static one, so recall can never drop below
    the static-cutoff behavior (property-tested across adversarial
    distributions in tests/test_selectivity.py). The useful direction is
    exactly the one histograms get wrong: ANDed correlated fields
    multiply per-field fractions (independence), OVERestimating matches
    — the EMA observes the true (lower) fraction and widens the probe
    set the static estimate would have kept narrow.

    Observations arrive either explicitly (`observe`) or free-riding a
    query's own action via `pyspark.sql.Observation` (`attach` wraps the
    scan with matched/scanned counters; `drain` folds every completed
    observation in, non-blocking — a query that was never executed just
    stays pending, capped at PENDING_CAP oldest-evicted).

    PruneAccuracy weighting (stats.go:210-214): each drained observation
    that carried the static estimate + the decision threshold also
    scores the DECISION — correct iff the static estimate and the
    observed fraction land on the same side of the threshold
    (correct_prunes + correct_non_prunes over total, as an EMA). adjust
    then blends `acc·static + (1-acc)·min(static, ema)`: a historically
    accurate static estimator keeps its own estimate; an inaccurate one
    defers to the observed feedback. Both blend inputs are ≤ the static
    estimate, so the convex combination preserves the min-blend recall
    invariant above. Until any decision is scored acc defaults to 0.0 —
    the plain min-blend.

    HotField (stats.go:216-219): every adjust/observe bumps per-field
    filter counters; `hot_field()` names the most frequently filtered
    field so the owner can surface an index / cluster-by recommendation
    (VectorTable.stats() does when the EMA is enabled)."""

    PENDING_CAP = 64  # un-executed attached frames are dropped oldest-
    # first past this — feedback is best-effort, the registry must not
    # grow with abandoned plans (r10 ADVICE)
    _warned_internals = False  # log once when the JVM probe is missing

    def __init__(self, alpha: float = 0.3, persist: bool = False):
        self.alpha = float(alpha)
        self.persist = bool(persist)
        self._ema: dict[tuple, float] = {}
        self._acc: dict[tuple, float] = {}      # PruneAccuracy per key
        self._fields: dict[str, int] = {}       # HotField counters
        self._pending: list[tuple[Any, tuple, float | None, float | None]] = []

    @staticmethod
    def key(fs: "FilterSet") -> tuple:
        return tuple(sorted((f.key, f.op) for f in fs.filters))

    def _bump_fields(self, fs: "FilterSet") -> None:
        for f in fs.filters:
            self._fields[f.key] = self._fields.get(f.key, 0) + 1

    def hot_field(self) -> str | None:
        """The most frequently filtered field (RuntimeStats.HotField) —
        the adaptive-indexing recommendation input."""
        if not self._fields:
            return None
        return max(self._fields.items(), key=lambda kv: (kv[1], kv[0]))[0]

    def observe(self, fs: "FilterSet", observed: float) -> None:
        self._bump_fields(fs)
        k = self.key(fs)
        prev = self._ema.get(k)
        x = max(0.0, min(1.0, float(observed)))
        self._ema[k] = x if prev is None else (
            self.alpha * x + (1.0 - self.alpha) * prev)

    def adjust(self, fs: "FilterSet", estimate: float) -> float:
        """Accuracy-weighted min-blend — never LESS selective than the
        static estimate (see class docstring for why that direction is
        recall-safe)."""
        self.drain()
        self._bump_fields(fs)
        k = self.key(fs)
        e = self._ema.get(k)
        if e is None:
            return estimate
        acc = self._acc.get(k, 0.0)
        return acc * estimate + (1.0 - acc) * min(estimate, e)

    def attach(self, df, fs: "FilterSet", cond,
               estimate: float | None = None,
               threshold: float | None = None):
        """Wrap `df` (the pre-filter scan) so the caller's own action
        reports (scanned, matched) — zero extra jobs. Returns the frame
        to keep building on (with the observation riding it), already
        filtered by `cond`. estimate/threshold (both optional) let drain
        score the pruning DECISION for the accuracy weighting."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        df = df.observe(
            obs, F.count(F.lit(1)).alias("scanned"),
            F.sum(cond.cast("long")).alias("matched"))
        while len(self._pending) >= self.PENDING_CAP:
            self._pending.pop(0)
        self._pending.append((obs, self.key(fs), estimate, threshold))
        return df.where(cond)

    def drain(self) -> None:
        """Fold completed pending observations into the EMA (non-blocking
        via the JVM Observation's getRowOrEmpty — no public non-blocking
        probe exists; Observation.get would BLOCK on a never-executed
        query. An un-executed query stays pending; if the internal handle
        is unavailable the hook degrades to a no-op, logged once)."""
        import logging

        still = []
        for obs, k, est, thr in self._pending:
            try:
                opt = obs._jo.getRowOrEmpty()
                if opt.isEmpty():
                    still.append((obs, k, est, thr))
                    continue
                row = opt.get()
                scanned = int(row.getAs("scanned") or 0)
                matched = int(row.getAs("matched") or 0)
            except Exception:
                if not AdaptiveSelectivity._warned_internals:
                    AdaptiveSelectivity._warned_internals = True
                    logging.getLogger(__name__).warning(
                        "AdaptiveSelectivity: non-blocking Observation "
                        "probe unavailable on this PySpark build — "
                        "selectivity feedback disabled (estimates stay "
                        "static; recall unaffected)")
                continue  # drop: internals unavailable → no feedback
            if scanned > 0:
                prev = self._ema.get(k)
                x = matched / scanned
                self._ema[k] = x if prev is None else (
                    self.alpha * x + (1.0 - self.alpha) * prev)
                if est is not None and thr is not None:
                    correct = 1.0 if (est < thr) == (x < thr) else 0.0
                    pa = self._acc.get(k)
                    self._acc[k] = correct if pa is None else (
                        self.alpha * correct + (1.0 - self.alpha) * pa)
        self._pending = still

    # ------------------------------------------------- opt-in persistence
    # The reference recomputes RuntimeStats from a FeedbackStore on load
    # (stats.go:205-208: "Not persisted - recomputed from FeedbackStore");
    # the Spark analog is an opt-in manifest-meta snapshot written at
    # commit and loaded by enable_adaptive_selectivity(persist=True) so a
    # serving fleet warms from history. Disabled by default.

    @staticmethod
    def _k2s(k: tuple) -> str:
        # JSON, not a hand-rolled separator: field names may contain
        # '|' or ':' (r11 review — a split-based round-trip silently
        # corrupted such keys, so warmed estimates never applied)
        import json

        return json.dumps([list(pair) for pair in k])

    @staticmethod
    def _s2k(s: str) -> tuple:
        import json

        try:
            return tuple(tuple(pair) for pair in json.loads(s))
        except (ValueError, TypeError):
            # pre-r11 separator format — best-effort legacy parse
            return tuple(tuple(p.rsplit(":", 1)) for p in s.split("|") if p)

    def to_meta(self) -> dict:
        self.drain()
        return {
            "alpha": self.alpha,
            "ema": {self._k2s(k): v for k, v in self._ema.items()},
            "acc": {self._k2s(k): v for k, v in self._acc.items()},
            "fields": dict(self._fields),
        }

    def load_meta(self, meta: dict) -> None:
        self._ema.update({self._s2k(s): float(v)
                          for s, v in (meta.get("ema") or {}).items()})
        self._acc.update({self._s2k(s): float(v)
                          for s, v in (meta.get("acc") or {}).items()})
        for f, n in (meta.get("fields") or {}).items():
            self._fields[f] = self._fields.get(f, 0) + int(n)


def _can_prune(filter: Filter, stats: dict[str, Any], rows: int) -> bool:
    """True iff NO row in the segment can satisfy `filter`."""
    cs = stats.get(filter.key)
    if cs is None:
        return False  # no stats → conservative keep
    lo, hi, nulls = cs.get("min"), cs.get("max"), cs.get("null_count", 0)
    if lo is None and hi is None:
        # column exists but all values NULL → no filter matches
        # (missing-field semantics, metadata/filter.go:9-13)
        return nulls >= rows and rows > 0
    v = filter.value
    vals = cs.get("values")
    if vals is not None:
        # exact distinct-value set (categorical purity): membership proof
        if filter.op == "eq":
            return v not in vals
        if filter.op == "in":
            try:
                return all(x not in vals for x in v)
            except TypeError:
                return False
    bloom = cs.get("bloom")
    if bloom is not None:
        # high-cardinality strings (>16 distinct): Bloom absence is proof
        # of absence (bloom.go; pruning use stats.go:449-483)
        if filter.op == "eq":
            return not bloom_might_contain(bloom, v)
        if filter.op == "in":
            try:
                return all(not bloom_might_contain(bloom, x) for x in v)
            except TypeError:
                return False
    lh = cs.get("log_histogram")
    if lh is not None and filter.op in ("eq", "in"):
        probes = [v] if filter.op == "eq" else v
        try:
            if all(_log_hist_excludes(lh, float(x)) for x in probes):
                return True
        except (TypeError, ValueError):
            pass
    try:
        if filter.op == "eq":
            return v < lo or v > hi
        if filter.op == "gt":
            return hi <= v
        if filter.op == "gte":
            return hi < v
        if filter.op == "lt":
            return lo >= v
        if filter.op == "lte":
            return lo > v
        if filter.op == "in":
            return all(x < lo or x > hi for x in v)
    except TypeError:
        return False  # incomparable types → keep
    return False  # ne / contains: range stats can't prove absence


def _log_hist_excludes(lh: dict[str, Any], v: float) -> bool:
    """True iff the log-histogram PROVES no row equals v: the value's bin
    (±1 to tolerate last-ulp transform disagreement between the executor
    expression and this python twin) is empty or its [min, max] bounds
    exclude v."""
    bins = lh["bins"]
    b = _log_bin_py(v, lh["lo"], lh["hi"])
    for bb in (b - 1, b, b + 1):
        if not 0 <= bb < len(bins):
            continue
        e = bins[bb]
        if e["n"] and e["min"] is not None and e["min"] <= v <= e["max"]:
            return False
    return True


def prune_segments(segments: list[SegmentMeta], fs: FilterSet) -> list[SegmentMeta]:
    """Drop segments where any ANDed filter is provably unsatisfiable."""
    out = []
    for seg in segments:
        if any(_can_prune(f, seg.stats, seg.rows) for f in fs.filters):
            continue
        out.append(seg)
    return out
