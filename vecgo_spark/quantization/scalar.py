"""Scalar quantization: SQ8 (8-bit) and INT4 (4-bit) per-dimension codes.

Reference semantics (/root/reference/internal/quantization/):
  SQ8  — per-dim [min, max]; scale = 255/(max-min); constant dims get
         max = min + 1e-6 (quantizer.go:165-175); code = round((x-min)*scale)
         clamped to [0,255]; ADC decodes val = min + code*invScale and
         accumulates (q-val)^2 / q*val (quantizer.go:80-120).
  INT4 — per-dim [min, diff]; diff==0 → 1.0 (int4.go:54-59); code =
         round(clamp((x-min)/diff, 0, 1) * 15) (int4.go:76-99); ADC via
         per-dim dequant lookup val = min + code*(diff/15).

Spark design: Train is ONE distributed agg (posexplode → groupBy(dim) →
min/max) whose result is O(d) — collected to the driver and baked into
literal arrays, so encode + ADC scoring are pure Column expressions inside
whole-stage codegen. At 100 TB the train pass is a full scan with a
64-double result; encode/score never leave the JVM.

All arithmetic is double with a fixed operation order, mirrored verbatim
by the *_sql oracle builders → bit-exact vs DuckDB.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class ScalarParams:
    """Trained per-dimension bounds. levels=255 → SQ8, levels=15 → INT4."""

    mins: tuple[float, ...]
    maxs: tuple[float, ...]
    levels: int

    @property
    def dim(self) -> int:
        return len(self.mins)

    @property
    def diffs(self) -> tuple[float, ...]:
        return tuple(mx - mn for mn, mx in zip(self.mins, self.maxs))


# trained-params cache — the train_ivf/train_pq amortization (r13)
# applied to the remaining per-query trainer (r14): the reference trains
# quantizers at segment build (quantizer.go via compaction), NOT per
# query, yet every SQ8/INT4 query build re-ran the O(corpus·dim)
# min/max reduce. Keyed by caller corpus key + hyperparameters; bounded.
_PARAMS_CACHE: dict[str, "ScalarParams"] = {}
PARAMS_CACHE_CAP = 128


def train_scalar(
    df: DataFrame, vector_col: str, levels: int = 255,
    sample_fraction: float | None = None,
    cache_key: str | None = None, scope: str | None = None,
) -> ScalarParams:
    """Per-dim min/max via one distributed reduce (Train,
    quantizer.go:129-160 / int4.go:29-64). min/max of float32 widened to
    double is exact, so the trained params are engine-independent.

    `cache_key` / `scope`: identical contract to train_ivf/train_pq —
    hyperparameters ride the key, lookups land in the CacheStats ledger
    (per-table when the caller is a table)."""
    if cache_key is not None:
        from vecgo_spark import cache_stats

        cache_key = f"{cache_key}|sq:l{levels}:f{sample_fraction}"
        cache_stats.record("sq_params", cache_key in _PARAMS_CACHE,
                           scope=scope)
        if cache_key in _PARAMS_CACHE:
            return _PARAMS_CACHE[cache_key]
    src = df.sample(sample_fraction, seed=42) if sample_fraction else df
    rows = (
        src.select(F.posexplode(F.col(vector_col).cast("array<double>")).alias("dim", "x"))
        .groupBy("dim")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .orderBy("dim")
        .collect()
    )
    mins = [r["mn"] for r in rows]
    maxs = [r["mx"] for r in rows]
    if levels == 255:
        # constant-dim rule, quantizer.go:168-171
        maxs = [mn + 1e-6 if mx == mn else mx for mn, mx in zip(mins, maxs)]
    out = ScalarParams(mins=tuple(mins), maxs=tuple(maxs), levels=levels)
    if cache_key is not None:
        while len(_PARAMS_CACHE) >= PARAMS_CACHE_CAP:
            _PARAMS_CACHE.pop(next(iter(_PARAMS_CACHE)))
        _PARAMS_CACHE[cache_key] = out
    return out


def _lit_arr(vals) -> Column:
    from vecgo_spark.functions.vector import double_array_expr

    return double_array_expr(vals)


def encode(params: ScalarParams, vector_col: Column | str) -> Column:
    """ARRAY<INT> codes. SQ8: round((x-mn)*scale) clamp [0,255].
    INT4: round(clamp((x-mn)/diff,0,1)*15) — note the different clamp
    placement, mirrored from quantizer.go vs int4.go:76-99."""
    v = (F.col(vector_col) if isinstance(vector_col, str) else vector_col).cast("array<double>")
    mn, mx = _lit_arr(params.mins), _lit_arr(params.maxs)
    L = float(params.levels)
    if params.levels == 255:
        code = lambda x, i: F.least(
            F.lit(L),
            F.greatest(
                F.lit(0.0),
                F.floor(
                    (x - F.get(mn, i)) * (F.lit(L) / (F.get(mx, i) - F.get(mn, i))) + F.lit(0.5)
                ).cast("double"),
            ),
        )
    else:
        diff = _lit_arr(d if d != 0.0 else 1.0 for d in params.diffs)
        code = lambda x, i: F.floor(
            F.least(F.lit(1.0), F.greatest(F.lit(0.0), (x - F.get(mn, i)) / F.get(diff, i)))
            * F.lit(L)
            + F.lit(0.5)
        ).cast("double")
    return F.transform(v, lambda x, i: code(x, i).cast("int"))


def _inv_scale(params: ScalarParams) -> list[float]:
    return [((d if d != 0.0 else 1.0) if params.levels == 15 else d) / params.levels
            for d in params.diffs]


def _decode_sql(params: ScalarParams, codes_col: Column | str) -> str | None:
    """decode() as SQL text for a plain column name; None for a Column."""
    from vecgo_spark.functions.vector import _NAME, _darray_sql

    if not (isinstance(codes_col, str) and _NAME.fullmatch(codes_col)):
        return None
    return (f"transform(`{codes_col}`, (x, i) -> get({_darray_sql(params.mins)}, i)"
            f" + CAST(x AS DOUBLE) * get({_darray_sql(_inv_scale(params))}, i))")


def decode(params: ScalarParams, codes_col: Column | str) -> Column:
    """ARRAY<DOUBLE> dequantized values: mn_i + code_i * (diff_i/levels).
    A named codes column goes to the JVM as ONE parsed SQL string (the
    vector.py idiom: the lambda-built form costs ~20 ms of py4j per
    128-d build); a Column operand takes the Column builder, same
    expression."""
    sql = _decode_sql(params, codes_col)
    if sql is not None:
        return F.expr(sql)
    mn, inv = _lit_arr(params.mins), _lit_arr(_inv_scale(params))
    return F.transform(codes_col, lambda x, i: F.get(mn, i) + x.cast("double") * F.get(inv, i))


def _adc(params: ScalarParams, query: list[float], codes_col: Column | str,
         term_sql: str, term) -> Column:
    """Σ term(q_i, decoded_i), folded left to right from 0.0."""
    from vecgo_spark.functions.vector import _darray_sql

    dec = _decode_sql(params, codes_col)
    if dec is not None:
        return F.expr(f"aggregate(zip_with({_darray_sql(query)}, {dec}, (a, b) -> "
                      f"{term_sql}), 0.0D, (acc, x) -> acc + x)")
    return F.aggregate(F.zip_with(_lit_arr(query), decode(params, codes_col), term),
                       F.lit(0.0), lambda acc, x: acc + x)


def adc_sq_l2(params: ScalarParams, query: list[float], codes_col: Column | str) -> Column:
    """Asymmetric squared-L2: Σ (q_i - decoded_i)^2, sequential accumulation
    (Sq8uL2BatchPerDimension semantics, quantizer.go:85-107)."""
    return _adc(params, query, codes_col, "(a - b) * (a - b)",
                lambda a, b: (a - b) * (a - b))


def adc_dot(params: ScalarParams, query: list[float], codes_col: Column | str) -> Column:
    """Asymmetric dot: Σ q_i * decoded_i (DotProduct, quantizer.go:109-120)."""
    return _adc(params, query, codes_col, "a * b", lambda a, b: a * b)


# ---------------------------------------------------------------- oracles
# Self-contained DuckDB SQL mirroring train+encode+score with identical
# double op order. `table`/`vcol` name the corpus; dim is the (known)
# vector dimensionality.


def params_cte_sql(table: str, vcol: str, dim: int, levels: int) -> str:
    """CTE `p(mins, maxs, diffs)` — per-dim bounds with the scheme's
    constant-dim rule applied."""
    if levels == 255:
        fix_mx = "CASE WHEN mx = mn THEN mn + 1e-6 ELSE mx END"
        fix_diff = f"{fix_mx} - mn"
    else:
        fix_mx = "mx"
        fix_diff = "CASE WHEN mx - mn = 0 THEN 1.0 ELSE mx - mn END"
    return f"""
    dims AS (
        SELECT i AS dim,
               MIN({vcol}[i])::DOUBLE AS mn,
               MAX({vcol}[i])::DOUBLE AS mx
        FROM {table}, range(1, {dim + 1}) t(i)
        GROUP BY i
    ),
    p AS (
        SELECT list(mn ORDER BY dim) AS mins,
               list({fix_mx} ORDER BY dim) AS maxs,
               list({fix_diff} ORDER BY dim) AS diffs
        FROM dims
    )"""


def code_term_sql(vcol: str, i: str, levels: int) -> str:
    """One dimension's code (double-valued), same op order as encode()."""
    x = f"{vcol}[{i}]::DOUBLE"
    mn, diff = f"p.mins[{i}]", f"p.diffs[{i}]"
    if levels == 255:
        return f"least(255.0, greatest(0.0, floor(({x} - {mn}) * (255.0 / {diff}) + 0.5)))"
    return f"floor(least(1.0, greatest(0.0, ({x} - {mn}) / {diff})) * 15.0 + 0.5)"


def adc_sq_l2_sql(vcol: str, qcol: str, dim: int, levels: int) -> str:
    """Σ (q_i - (mn_i + code_i * (diff_i/levels)))^2 via list_sum — the
    verified bit-exact accumulation pattern (vecgo_spark/oracles.py)."""
    L = float(levels)
    dec = f"(p.mins[i] + {code_term_sql(vcol, 'i', levels)} * (p.diffs[i] / {L}))"
    term = f"({qcol}[i]::DOUBLE - {dec}) * ({qcol}[i]::DOUBLE - {dec})"
    return f"list_sum(list_transform(range(1, {dim + 1}), i -> {term}))"
