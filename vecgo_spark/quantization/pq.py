"""Product Quantization (PQ) and Optimized PQ (OPQ).

Reference semantics (/root/reference/internal/quantization/):
  PQ  — split D dims into m subvectors of D/m; per subvector a 256-centroid
        k-means codebook (pq.go:20-145); encode = nearest-centroid id per
        subvector; query-time ADC: per-subvector distance table
        (BuildDistanceTable pq.go:468) then dist = Σ_m table[m][code_m]
        (AdcDistance pq.go:495).
  OPQ — PQ after a learned orthonormal rotation R; R trained by
        alternating encode / Procrustes-SVD steps (opq.go:15-305).

Spark design (the 100 TB shape):
  * TRAIN on a driver-side numpy sample (codebooks are m·256·(D/m) floats —
    tiny). The reference likewise trains on the segment being flushed.
  * ENCODE distributed via ONE Arrow-batched pandas UDF (argmin over 256
    centroids per subvector — a numpy matmul; this is the documented
    "UDFs are the slow path, use Arrow batches" escape hatch).
  * ADC SCORING is a pure Column expression: the per-query distance table
    is a literal ARRAY<ARRAY<DOUBLE>> (m × 256) zipped against the codes
    column — stays inside whole-stage codegen, no Python per row.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType

from vecgo_spark import cache_stats
from vecgo_spark.functions.vector import double_matrix_expr


@dataclass
class PQCodebooks:
    """m × k × (D/m) centroids (+ optional OPQ rotation R: D × D)."""

    codebooks: np.ndarray
    rotation: np.ndarray | None = field(default=None)

    @property
    def m(self) -> int:
        return self.codebooks.shape[0]

    @property
    def k(self) -> int:
        return self.codebooks.shape[1]

    @property
    def subdim(self) -> int:
        return self.codebooks.shape[2]

    @property
    def dim(self) -> int:
        return self.m * self.subdim


def _lloyd(x: np.ndarray, k: int, iters: int, rng: np.random.Generator) -> np.ndarray:
    """Plain Lloyd's k-means (the reference's internal/kmeans/kmeans.go:16-141
    is the same algorithm); deterministic via seeded init."""
    n = x.shape[0]
    k = min(k, n)
    centroids = x[rng.choice(n, size=k, replace=False)].astype(np.float64)
    for _ in range(iters):
        # ||x-c||² = ||c||² - 2 x·c (+ ||x||², constant per row) — O(n·k)
        # memory instead of the O(n·k·d) broadcast tensor
        d2 = (centroids**2).sum(axis=1)[None, :] - 2.0 * x @ centroids.T
        assign = d2.argmin(axis=1)
        counts = np.bincount(assign, minlength=k)
        sums = np.zeros_like(centroids)
        np.add.at(sums, assign, x)
        live = counts > 0
        centroids[live] = sums[live] / counts[live, None]
    return centroids


def _sample_vectors(
    df: DataFrame, vector_col: str, max_rows: int, order_col: str | None = None
) -> np.ndarray:
    """order_col=None: optimistic single job (limit+collect; seeded random
    sample only if the corpus exceeds the budget). order_col="id": fully
    deterministic ORDER BY id LIMIT n — the first max_rows rows by id, a
    TakeOrderedAndProject (no global sort) — so a trainer fed this sample
    is bit-reproducible across sessions AND matches an oracle-side reader
    that sorts the same parquet by the same column. NULL vectors are
    left out of both samples: they have no coordinates to train on."""
    df = df.where(F.col(vector_col).isNotNull())
    if order_col is not None:
        rows = df.orderBy(order_col).select(vector_col).limit(max_rows).collect()
        return np.array([list(r[0]) for r in rows], dtype=np.float64)
    rows = df.select(vector_col).limit(max_rows).collect()
    if len(rows) == max_rows:
        n = df.count()
        if n > max_rows:
            frac = min(1.0, max_rows / n)
            rows = df.select(vector_col).sample(frac, seed=42).limit(max_rows).collect()
    return np.array([list(r[0]) for r in rows], dtype=np.float64)


# codebook artifact cache — same amortization stance as ivf._MODEL_CACHE
# (the reference trains PQ once per segment build, pq.go:68-145)
_PQ_CACHE: dict[str, "PQCodebooks"] = {}
PQ_CACHE_CAP = 128  # oldest-first eviction (the ivf.MODEL_CACHE_CAP stance)


def _pq_cache_put(key: str, books: "PQCodebooks") -> None:
    while len(_PQ_CACHE) >= PQ_CACHE_CAP:
        _PQ_CACHE.pop(next(iter(_PQ_CACHE)))
    _PQ_CACHE[key] = books


def train_pq_np(
    x: np.ndarray, m: int = 8, k: int = 256, iters: int = 10, seed: int = 42
) -> PQCodebooks:
    """Pure-numpy PQ training on a prepared sample — deterministic given
    (x, params): the Spark path and the DuckDB-oracle generator both call
    this on the SAME ordered sample and get bit-identical codebooks."""
    dim = x.shape[1]
    if dim % m != 0:
        raise ValueError(f"dimension {dim} not divisible by m={m} (pq.go:41-43)")
    sub = dim // m
    rng = np.random.default_rng(seed)
    books = np.stack(
        [_lloyd(x[:, i * sub : (i + 1) * sub], k, iters, rng) for i in range(m)]
    )
    return PQCodebooks(codebooks=books)


def train_pq(
    df: DataFrame,
    vector_col: str,
    m: int = 8,
    k: int = 256,
    iters: int = 10,
    max_train_rows: int = 50_000,
    seed: int = 42,
    cache_key: str | None = None,
    order_col: str | None = None,
    scope: str | None = None,
) -> PQCodebooks:
    """Train m sub-codebooks on a bounded sample (Train, pq.go:68-145).
    order_col pins the sample to ORDER BY order_col LIMIT n → reproducible
    codebooks (required for oracle-checked queries). `scope` (a table
    path) attributes the cache lookup to that table's CacheStats ledger
    (r12 verdict #6 — table-driven quantize paths pass their path)."""
    if cache_key is not None:
        cache_key = f"{cache_key}|pq:m{m}:k{k}:i{iters}:n{max_train_rows}:s{seed}:o{order_col}"
        cache_stats.record("pq_codebooks", cache_key in _PQ_CACHE,
                           scope=scope)
        if cache_key in _PQ_CACHE:
            return _PQ_CACHE[cache_key]
    x = _sample_vectors(df, vector_col, max_train_rows, order_col=order_col)
    out = train_pq_np(x, m=m, k=k, iters=iters, seed=seed)
    if cache_key is not None:
        _pq_cache_put(cache_key, out)
    return out


def train_opq_np(
    x: np.ndarray,
    m: int = 8,
    k: int = 256,
    iters: int = 10,
    opq_iters: int = 5,
    seed: int = 42,
) -> PQCodebooks:
    """Pure-numpy OPQ-NP training (deterministic twin of train_pq_np)."""
    dim = x.shape[1]
    sub = dim // m
    rng = np.random.default_rng(seed)
    r = np.eye(dim)
    books = None
    for _ in range(opq_iters):
        xr = x @ r
        books = np.stack(
            [_lloyd(xr[:, i * sub : (i + 1) * sub], k, max(2, iters // 2), rng) for i in range(m)]
        )
        codes = _encode_np(xr, books)
        xhat = _decode_np(codes, books)
        u, _, vt = np.linalg.svd(x.T @ xhat)
        r = u @ vt
    return PQCodebooks(codebooks=books, rotation=r)


def train_opq(
    df: DataFrame,
    vector_col: str,
    m: int = 8,
    k: int = 256,
    iters: int = 10,
    opq_iters: int = 5,
    max_train_rows: int = 50_000,
    seed: int = 42,
    cache_key: str | None = None,
    order_col: str | None = None,
    scope: str | None = None,
) -> PQCodebooks:
    """OPQ-NP: alternate (encode under R) / (Procrustes R = UVᵀ of XᵀX̂)
    — opq.go:15-305 runs the same SVD iteration. `scope`: see train_pq."""
    if cache_key is not None:
        # fold the hyperparameters in: a key reused with different settings
        # must never serve the first call's codebooks
        cache_key = (f"{cache_key}|opq:m{m}:k{k}:i{iters}:oi{opq_iters}"
                     f":n{max_train_rows}:s{seed}:o{order_col}")
        cache_stats.record("pq_codebooks", cache_key in _PQ_CACHE,
                           scope=scope)
        if cache_key in _PQ_CACHE:
            return _PQ_CACHE[cache_key]
    x = _sample_vectors(df, vector_col, max_train_rows, order_col=order_col)
    out = train_opq_np(x, m=m, k=k, iters=iters, opq_iters=opq_iters, seed=seed)
    if cache_key is not None:
        _pq_cache_put(cache_key, out)
    return out


def _encode_np(x: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Nearest-centroid codes per subvector. Distances accumulate with a
    SEQUENTIAL left fold over the sub-dimensions (acc += diff² for j=0..sub)
    so every distance is bit-identical to the Spark Column fold
    (F.aggregate) and the DuckDB list_sum fold — argmin (first-min
    tiebreak) then picks the same code in all three engines."""
    m, k, sub = books.shape
    codes = np.empty((x.shape[0], m), dtype=np.int32)
    for i in range(m):
        seg = x[:, i * sub : (i + 1) * sub]
        acc = np.zeros((x.shape[0], k), dtype=np.float64)
        for j in range(sub):
            d = seg[:, j][:, None] - books[i][None, :, j]
            acc += d * d
        codes[:, i] = acc.argmin(axis=1)
    return codes


def _rotate_np(x: np.ndarray, rot: np.ndarray) -> np.ndarray:
    """x @ rot with a SEQUENTIAL fold over input dims (acc += x_j·rot[j,:])
    — bit-identical to the DuckDB per-output-dim list_sum fold, unlike
    BLAS matmul whose summation order is unspecified."""
    out = np.zeros((x.shape[0], rot.shape[1]), dtype=np.float64)
    for j in range(rot.shape[0]):
        out += x[:, j][:, None] * rot[j][None, :]
    return out


def _decode_np(codes: np.ndarray, books: np.ndarray) -> np.ndarray:
    m = books.shape[0]
    return np.concatenate([books[i][codes[:, i]] for i in range(m)], axis=1)


def encode(pq: PQCodebooks, df: DataFrame, vector_col: str, codes_col: str = "pq_codes") -> DataFrame:
    """Add ARRAY<INT> codes (length m) via one Arrow-batched pandas UDF —
    the per-row argmin is a numpy matmul per batch (Encode, pq.go:150+)."""
    books = pq.codebooks
    rot = pq.rotation

    @F.pandas_udf(ArrayType(IntegerType()))
    def _enc(vs: pd.Series) -> pd.Series:
        # a NULL vector (the insert dim check lets it through) gets NULL
        # codes, as the scalar encoder gives it
        live = vs.notna().to_numpy()
        out = [None] * len(vs)
        if live.any():
            x = np.array(vs[live].tolist(), dtype=np.float64)
            if rot is not None:
                x = _rotate_np(x, rot)
            for i, c in zip(np.flatnonzero(live), _encode_np(x, books)):
                out[i] = c.tolist()
        return pd.Series(out, dtype=object)

    return df.withColumn(codes_col, _enc(F.col(vector_col)))


def adc_table(pq: PQCodebooks, query: list[float]) -> list[list[float]]:
    """Per-query m×k squared-L2 distance table (BuildDistanceTable,
    pq.go:468-493) computed driver-side in numpy. Sequential-fold
    accumulation per entry (and sequential rotation) so every table value
    is bit-identical to the DuckDB-oracle arithmetic."""
    q = np.asarray(query, dtype=np.float64)
    if pq.rotation is not None:
        q = _rotate_np(q[None, :], pq.rotation)[0]
    sub = pq.subdim
    out = []
    for i in range(pq.m):
        acc = np.zeros(pq.k, dtype=np.float64)
        for j in range(sub):
            d = pq.codebooks[i][:, j] - q[i * sub + j]
            acc += d * d
        out.append(acc.tolist())
    return out


def adc_score(pq: PQCodebooks, query: list[float], codes_col: Column | str) -> Column:
    """dist = Σ_m table[m][code_m] (AdcDistance, pq.go:495-500).

    Arrow-batched pandas UDF: the per-query m×k table is a numpy closure
    and the per-batch score is one fancy-indexed gather + row sum. This
    beats inlining the table as an m·k-literal Column expression (8×256 =
    2048 Column objects) whose analysis/codegen cost dominates — the UDF
    moves only m ints per row over Arrow and scales linearly with
    executors. `adc_score_expr` keeps the pure-expression form."""
    c = F.col(codes_col) if isinstance(codes_col, str) else codes_col
    tbl = np.asarray(adc_table(pq, query), dtype=np.float64)
    col_idx = np.arange(tbl.shape[0])[None, :]

    @F.pandas_udf("double")
    def _adc(codes: pd.Series) -> pd.Series:
        cm = np.array(codes.tolist(), dtype=np.int64)
        gathered = tbl[col_idx, cm]
        # sequential fold over the m subvector terms (not np.sum's pairwise
        # tree) — matches the DuckDB oracle's left-fold addition bit-for-bit
        acc = np.zeros(len(cm), dtype=np.float64)
        for i in range(gathered.shape[1]):
            acc += gathered[:, i]
        return pd.Series(acc)

    return _adc(c)


# ---------------------------------------------------------------- oracles


def books_cte_sql(pq: PQCodebooks, name: str = "books") -> str:
    """CTE exposing the m×k×sub codebooks as one nested DOUBLE literal
    (e-notation floats — exact round-trip)."""
    from vecgo_spark.oracles import double_list_sql

    lit = "[" + ", ".join(
        "[" + ", ".join(double_list_sql(c) for c in book) + "]"
        for book in pq.codebooks
    ) + "]"
    return f"{name} AS (SELECT {lit} AS b)"


def rotation_cte_sql(pq: PQCodebooks, name: str = "rot") -> str:
    """CTE exposing the OPQ rotation as output-dim columns:
    r[d][j] = rotation[j][d], so rotate_sql's fold over j mirrors
    _rotate_np's sequential accumulation exactly."""
    from vecgo_spark.oracles import double_list2_sql

    R = pq.rotation
    cols = [[float(R[j][d]) for j in range(R.shape[0])] for d in range(R.shape[1])]
    return f"{name} AS (SELECT {double_list2_sql(cols)} AS r)"


def rotate_sql(vcol: str, rot_ref: str = "rot.r") -> str:
    """Rotated vector: out[d] = Σ_j v[j]·R[j][d] (sequential fold ==
    _rotate_np)."""
    return (
        f"list_transform({rot_ref}, col -> "
        f"list_sum(list_transform(list_zip({vcol}::DOUBLE[], col), x -> x[1]*x[2])))"
    )


def _sub_d2_sql(c_ref: str, vsub: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({c_ref}, {vsub}), "
        f"x -> (x[1]-x[2])*(x[1]-x[2])))"
    )


def adc_table_cte_sql(pq: PQCodebooks, qcol: str, name: str = "tbl",
                      books_ref: str = "books.b", from_sql: str = "q, books") -> str:
    """Per-query m×k ADC distance-table CTE (mirror of adc_table: same
    fold per entry). qcol is the (already rotated, for OPQ) query vector."""
    sub = pq.subdim
    parts = []
    for i in range(pq.m):
        qsub = f"list_slice({qcol}, {i * sub + 1}, {(i + 1) * sub})"
        parts.append(f"list_transform({books_ref}[{i + 1}], c -> {_sub_d2_sql('c', qsub)})")
    return f"{name} AS (SELECT [" + ", ".join(parts) + f"] AS t FROM {from_sql})"


def adc_score_sql(pq: PQCodebooks, vcol: str, books_ref: str = "books.b",
                  tbl_ref: str = "tbl.t") -> str:
    """Coarse ADC score: per subvector, code = argmin_c ||v_sub − c||²
    (fold arithmetic == _encode_np, first-min tiebreak == argmin), then
    score = Σ_i t[i][code_i] left-to-right (== the _adc sequential fold).
    vcol is the (already rotated, for OPQ) corpus vector."""
    sub = pq.subdim
    terms = []
    for i in range(pq.m):
        vsub = f"list_slice({vcol}, {i * sub + 1}, {(i + 1) * sub})"
        dv = f"list_transform({books_ref}[{i + 1}], c -> {_sub_d2_sql('c', vsub)})"
        code = f"list_position({dv}, list_min({dv}))"
        terms.append(f"{tbl_ref}[{i + 1}][{code}]")
    return "(" + " + ".join(terms) + ")"


def adc_score_expr(pq: PQCodebooks, query: list[float], codes_col: Column | str) -> Column:
    """ADC as a pure Column expression (table inlined as a literal array) —
    JVM-only path, no Python workers; pays O(m·k) analyzer/codegen cost per
    query so only worth it when Python workers are unavailable."""
    c = F.col(codes_col) if isinstance(codes_col, str) else codes_col
    table = adc_table(pq, query)
    lit_table = double_matrix_expr(table)
    return F.aggregate(
        F.zip_with(c, lit_table, lambda code, row: F.get(row, code)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
