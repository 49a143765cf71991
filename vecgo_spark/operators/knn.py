"""Exact k-NN search operators — the engine's hot path.

Reproduces the reference's search pipeline (internal/engine/search.go:
120-1128) as a single declarative DataFrame plan:

    scan parquet (pushed filters, pruned columns)
      → native distance expression (functions/vector.py, codegen)
      → deterministic top-k (sort+limit, or window per query)

Scale notes (100 TB posture):
  - Single-query ``search`` compiles to TakeOrderedAndProject: each task
    keeps a k-sized heap, the driver merges #partitions × k rows — the
    distributed twin of the reference's bounded CandidateHeap
    (internal/searcher/). No global sort, no shuffle of the corpus.
  - ``batch_search`` broadcasts the (small) query set and does one corpus
    scan for ALL queries (BroadcastNestedLoopJoin) — the reference's
    BatchSearch (internal/engine/engine.go:1305-1376). Per-query top-k is
    a window over (qid, score): the only shuffle is on candidate rows
    already cut down by scoring, not the corpus.
  - Exact scan gives recall=1.0, which satisfies every recall floor the
    reference tests (quantization_recall_test.go); the IVF operator
    (operators/ivf.py) is the approximate scale path.

Determinism: ties broken by ascending id, matching the reference's
(score, segment, row) tiebreak (internal/engine/search.go:70-114) — pinned
so DuckDB-oracle hashes reproduce.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from vecgo_spark.filters import to_condition
from vecgo_spark.functions.vector import cosine_similarity, dot, hamming, sq_l2


def _hamming_metric(vector_col: Column | str, query) -> Column:
    """Hamming over integer code arrays (the BQ/packed-bits layout) as a
    registered provider — the reference's distance.Provider also serves
    Hamming (distance/distance.go:97-106)."""
    v = F.col(vector_col) if isinstance(vector_col, str) else vector_col
    q = query if isinstance(query, Column) else F.array(*[F.lit(int(x)) for x in query])
    return hamming(v, q).cast("long")


# Pluggable distance-provider registry (the reference's
# distance.Provider(metric), distance/distance.go:97-106): name →
# (score expression builder, ascending?). Ascending=True means
# lower-is-better (L2); polarity per internal/engine/search.go:188.
METRICS: dict[str, tuple] = {
    "l2": (sq_l2, True),
    "dot": (dot, False),
    "cosine": (cosine_similarity, False),
    "hamming": (_hamming_metric, True),
}


def register_metric(name: str, score_fn, ascending: bool) -> None:
    """Register a custom distance provider; score_fn(vector_col, query)
    must return a Column (the UDF-surface analog of implementing
    distance.Provider — SURVEY §2.11)."""
    METRICS[name] = (score_fn, ascending)


def score_expr(metric: str, vector_col: Column | str, query: Column | Sequence[float]) -> Column:
    """Distance/similarity expression for one metric."""
    try:
        fn, _ = METRICS[metric]
    except KeyError:
        raise ValueError(f"unknown metric {metric!r}; expected one of {sorted(METRICS)}") from None
    return fn(vector_col, query)


def metric_ascending(metric: str) -> bool:
    try:
        return METRICS[metric][1]
    except KeyError:
        raise ValueError(f"unknown metric {metric!r}; expected one of {sorted(METRICS)}") from None


def _score_order(metric: str) -> Column:
    """Best-first score order. A NULL score (a NULL vector, which the
    insert dim check admits) sorts last for either polarity: Spark's
    ascending default is NULLS FIRST, which would rank it ahead of every
    real match."""
    return (F.col("score").asc_nulls_last() if metric_ascending(metric)
            else F.col("score").desc_nulls_last())


def _ordered(df: DataFrame, metric: str, id_col: str) -> DataFrame:
    return df.orderBy(_score_order(metric), F.col(id_col).asc())


def search(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    metric: str = "l2",
    filter=None,
    id_col: str = "id",
    vector_col: str = "vector",
    projection: list[str] | None = None,
) -> DataFrame:
    """Top-k nearest records to one query vector (DB.Search,
    internal/engine/search.go:1133-1167).

    ``projection`` mirrors WithVector/WithMetadata/WithPayload/WithoutData
    (vecgo.go:279-292): None → ids+score only; list → those columns too.
    """
    if k <= 0:
        raise ValueError("k must be positive")  # search.go:137-144
    cond = to_condition(filter)
    if cond is not None:
        df = df.where(cond)
    out_cols = [F.col(id_col)] + [F.col(c) for c in (projection or [])]
    scored = df.select(*out_cols, score_expr(metric, vector_col, query).alias("score"))
    if metric == "cosine":
        scored = scored.where(F.col("score").isNotNull())  # zero vectors excluded
    return _ordered(scored, metric, id_col).limit(k)


def batch_search(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "l2",
    filter=None,
    id_col: str = "id",
    vector_col: str = "vector",
    qid_col: str = "qid",
    qvector_col: str = "qvector",
) -> DataFrame:
    """Top-k per query over a query table (BatchSearch,
    internal/engine/engine.go:1305-1376): one corpus scan for all queries.

    The query side is broadcast (queries ≪ corpus); scoring happens where
    the corpus lives, so the corpus never shuffles.
    """
    cond = to_condition(filter)
    if cond is not None:
        df = df.where(cond)
    joined = df.crossJoin(F.broadcast(queries.select(qid_col, qvector_col)))
    scored = joined.select(
        F.col(qid_col),
        F.col(id_col),
        score_expr(metric, vector_col, F.col(qvector_col)).alias("score"),
    )
    if metric == "cosine":
        scored = scored.where(F.col("score").isNotNull())
    w = Window.partitionBy(qid_col).orderBy(_score_order(metric),
                                             F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(qid_col, id_col, "score", "rank")
    )


def threshold_search(
    df: DataFrame,
    query: Sequence[float],
    threshold: float,
    max_results: int = 100,
    metric: str = "l2",
    filter=None,
    id_col: str = "id",
    vector_col: str = "vector",
) -> DataFrame:
    """Top-``max_results`` then keep score<=t (l2) / >=t (dot, cosine) —
    SearchWithThreshold, internal/engine/engine.go:1483-1532.

    NOTE the reference truncates to max_results FIRST, then applies the
    threshold — reproduced exactly (not a plain WHERE).
    """
    top = search(df, query, k=max_results, metric=metric, filter=filter,
                 id_col=id_col, vector_col=vector_col)
    keep = F.col("score") <= threshold if metric_ascending(metric) else F.col("score") >= threshold
    return top.where(keep)


def range_search(
    df: DataFrame,
    query: Sequence[float],
    radius: float,
    metric: str = "l2",
    filter=None,
    id_col: str = "id",
    vector_col: str = "vector",
    projection: list[str] | None = None,
) -> DataFrame:
    """ALL records within ``radius`` of the query (score<=r for ascending
    metrics, >=r for similarity metrics), deterministically ordered by
    (score, id). Beyond-reference: the standard vector-DB range/radius
    query (complements threshold_search, which truncates to top-N first).

    The radius predicate is part of the scan filter, so the plan is a
    single filtered projection — no top-k heap, no global state; result
    size is data-dependent, so callers at scale should treat it as a
    stream (write/sink), not a collect.
    """
    cond = to_condition(filter)
    if cond is not None:
        df = df.where(cond)
    out_cols = [F.col(id_col)] + [F.col(c) for c in (projection or [])]
    scored = df.select(*out_cols, score_expr(metric, vector_col, query).alias("score"))
    keep = F.col("score") <= radius if metric_ascending(metric) else F.col("score") >= radius
    if metric == "cosine":
        keep = keep & F.col("score").isNotNull()
    return _ordered(scored.where(keep), metric, id_col)


def rerank(
    candidates: DataFrame,
    df: DataFrame,
    query: Sequence[float],
    k: int,
    metric: str = "l2",
    id_col: str = "id",
    vector_col: str = "vector",
) -> DataFrame:
    """Exact re-scoring of an approximate candidate set (the refine pass,
    internal/engine/search.go:913-965 + WithRefineFactor vecgo.go:239-241).

    ``candidates`` holds ids only (k·refine_factor of them — BOUNDED),
    e.g. a graph blob probe's, which carry no vectors. For such a
    source the id collect is the one collect the architecture allows.
    Collecting the id list once and pushing it into the scan as an IN
    filter beats a broadcast join two ways: the parquet reader
    row-group-prunes on the ids, and the (possibly expensive — e.g. a
    quantized-scoring plan with a pandas UDF) candidate lineage is
    evaluated exactly once instead of once per downstream consumer. A
    candidate frame that carries its vectors needs neither: the
    quantized refine re-scores it in the same plan
    (VectorTable.search_quantized).
    """
    from vecgo_spark.operators.util import isin_longs

    # dedupe DRIVER-side: the collect is bounded (k·refine ids) either
    # way, and a .distinct() before it adds a full shuffle — under AQE a
    # whole extra job per serve (r15 job-count profile: graph at-rest
    # builds paid 3 jobs, 2 of them the distinct's stage materialization)
    ids = sorted({r[0] for r in candidates.select(id_col).collect()})
    try:
        cond = isin_longs(id_col, ids)  # one-parse IN for integral ids
    except (TypeError, ValueError):
        cond = F.col(id_col).isin(ids)  # non-integral ids: literal path
    survivors = df.where(cond)
    exact = survivors.select(
        F.col(id_col), score_expr(metric, vector_col, query).alias("score")
    )
    return _ordered(exact, metric, id_col).limit(k)


def point_get(df: DataFrame, record_id: int, id_col: str = "id") -> DataFrame:
    """PK point lookup (Get, internal/engine/engine.go:1638-1698)."""
    return df.where(F.col(id_col) == F.lit(record_id))
