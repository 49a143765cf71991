"""Hybrid search: vector kNN + BM25 fused by Reciprocal Rank Fusion.

Reference: HybridSearch (internal/engine/engine.go:1538-1634):
  1. vectorK = max(2k, 50)                      (engine.go:1545-1548)
  2. vector top-vectorK + lexical top-vectorK
  3. RRF: score[id] = Σ 1/(rrfK + rank + 1), rank 0-based within each
     list (engine.go:1560-1577), default rrfK=60
  4. sort desc, truncate k (engine.go:1588-1602)

Rank determinism (SURVEY §7.3): ranks come from (score, id) ordering in
each list — the same tiebreak as every other operator — so the RRF sums
are reproducible. Final tiebreak on equal fused score: id asc.

Plan shape: two bounded top-vectorK DataFrames (each already ≤ ~2k rows
regardless of corpus size) → full outer join on id → arithmetic. The
expensive parts are the underlying searches; fusion itself is O(k).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from vecgo_spark.operators import bm25 as bm25_mod
from vecgo_spark.operators import knn

DEFAULT_RRF_K = 60


def rrf_fuse(
    vec_results: DataFrame,
    lex_results: DataFrame,
    k: int,
    rrf_k: int = DEFAULT_RRF_K,
    vec_ascending: bool = True,
    id_col: str = "id",
) -> DataFrame:
    """Fuse two scored lists (id, score) by RRF (engine.go:1560-1602)."""
    def ranked(df: DataFrame, ascending: bool) -> DataFrame:
        order = [F.col("score").asc() if ascending else F.col("score").desc(),
                 F.col(id_col).asc()]
        w = Window.orderBy(*order)
        # rank is 0-based in the reference's loop (engine.go:1565-1576)
        return df.select(id_col, (F.row_number().over(w) - F.lit(1)).alias("rank"))

    v = ranked(vec_results, vec_ascending).withColumnRenamed("rank", "vrank")
    l = ranked(lex_results, False).withColumnRenamed("rank", "lrank")
    rrf = lambda r: F.when(r.isNotNull(), F.lit(1.0) / (F.lit(float(rrf_k)) + r + F.lit(1.0))).otherwise(F.lit(0.0))
    fused = (
        v.join(l, id_col, "full_outer")
        .select(
            id_col,
            (rrf(F.col("vrank").cast("double")) + rrf(F.col("lrank").cast("double"))).alias("rrf_score"),
        )
    )
    return fused.orderBy(F.col("rrf_score").desc(), F.col(id_col).asc()).limit(k)


def hybrid_search(
    collection: DataFrame,
    query_vector: Sequence[float],
    query_text: str,
    k: int = 10,
    rrf_k: int = DEFAULT_RRF_K,
    metric: str = "l2",
    filter=None,
    id_col: str = "id",
    vector_col: str = "vector",
    text_col: str = "text",
) -> DataFrame:
    """(id, rrf_score) top-k — HybridSearch, engine.go:1538-1634."""
    vector_k = max(2 * k, 50)  # engine.go:1545-1548
    vec = knn.search(collection, query_vector, k=vector_k, metric=metric,
                     filter=filter, id_col=id_col, vector_col=vector_col)
    vec = vec.withColumnRenamed(id_col, "id") if id_col != "id" else vec
    # the lexical index is filter-agnostic in the reference (engine.go:1555)
    lex = bm25_mod.bm25_search(collection, query_text, k=vector_k,
                               id_col=id_col, text_col=text_col)
    lex = lex.withColumnRenamed(id_col, "id") if id_col != "id" else lex
    return rrf_fuse(vec, lex, k=k, rrf_k=rrf_k,
                    vec_ascending=knn.metric_ascending(metric), id_col="id")


def hybrid_oracle_sql(
    knn_score_sql: str,
    query_text: str,
    k: int,
    rrf_k: int = DEFAULT_RRF_K,
    vec_order: str = "ASC",
    vec_where: str = "",
) -> str:
    """DuckDB twin of hybrid_search over the joined documents×embeddings
    collection. ``knn_score_sql`` scores e.embedding vs the query vector
    subquery ``q`` (see __spark_entry__). ``vec_where`` filters the vector
    leg only — the lexical index is filter-agnostic, mirroring the
    reference (engine.go:1555)."""
    vector_k = max(2 * k, 50)
    bm25_inner = bm25_mod.bm25_oracle_sql(query_text, vector_k, docs_table="coll",
                                          id_col="id", text_col="text")
    where = f"WHERE {vec_where}" if vec_where else ""
    return f"""
    WITH coll AS (
        SELECT d.doc_id AS id, d.text AS text, d.lang AS lang, e.embedding AS embedding
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    ),
    vec AS (
        SELECT c.id, {knn_score_sql} AS score
        FROM coll c, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
        {where}
        ORDER BY score {vec_order}, c.id ASC
        LIMIT {vector_k}
    ),
    lex AS ({bm25_inner}),
    vr AS (SELECT id, CAST(row_number() OVER (ORDER BY score {vec_order}, id ASC) AS BIGINT) - 1 AS vrank FROM vec),
    lr AS (SELECT id, CAST(row_number() OVER (ORDER BY score DESC, id ASC) AS BIGINT) - 1 AS lrank FROM lex),
    fused AS (
        SELECT COALESCE(vr.id, lr.id) AS id,
               (CASE WHEN vrank IS NOT NULL THEN 1.0 / ({float(rrf_k)!r} + CAST(vrank AS DOUBLE) + 1.0) ELSE 0.0 END
              + CASE WHEN lrank IS NOT NULL THEN 1.0 / ({float(rrf_k)!r} + CAST(lrank AS DOUBLE) + 1.0) ELSE 0.0 END) AS rrf_score
        FROM vr FULL OUTER JOIN lr ON vr.id = lr.id
    )
    SELECT id, rrf_score FROM fused ORDER BY rrf_score DESC, id ASC LIMIT {k}
    """


def hybrid_search_at_rest(
    tbl, query_vector: Sequence[float], query_text: str, k: int = 10,
    rrf_k: int = DEFAULT_RRF_K, filter=None, nprobe: int | None = None,
    include_pending: bool = False,
) -> DataFrame:
    """HybridSearch served from ONE VectorTable carrying both index
    families — the reference's actual serving path (engine.go:1538-1634:
    vector leg + persistent lexicalIndex.Search + RRF): the lexical leg
    reads STORED postings (operators/lexical_at_rest.py), the vector leg
    is the table's top-k over the live snapshot, and the fuse is the
    same 0-based-rank RRF.

    include_pending=True is the writer's read-your-writes view, matching
    the reference's one-snapshot hybrid: HybridSearch runs BOTH legs
    over the same pinned snapshot that includes the memtable
    (engine.go:1538-1634 calls Search and the lexical index over one
    view; every insert is immediately visible to both,
    engine.go:833-921). The ONE flag threads through BOTH legs — the
    staged-inclusive vector top-k and bm25_search_at_rest's
    pending-inclusive postings replay — so the fused ranks come from a
    single world; results are bit-identical to rrf_fuse of the plain
    vector + BM25 legs over df(include_pending=True). The committed-view
    default is unchanged, and other readers still see committed-only.

    Vector leg economics (engine.go:1549: SearchIter rides the table's
    INDEXED path, never a corpus scan): with `nprobe` and the at-rest
    IVF layout, the leg is `search(nprobe=)` — probe pruning == file
    pruning, the same one-scan probe set an IVF read opens. The leg
    runs no job while the plan is built: the SegmentPriority stop rule
    of `search_early_terminate` would skip some probed segments, but it
    needs the nearest segment's top-k collected first, and that job
    costs more than the files it saves. Without `nprobe` the leg stays
    the exact full scan (SURVEY §7.1's primary path).
    Either way the fuse is shared code, so results are bit-identical to
    `hybrid_search` over the equivalent (id, vector, text) collection
    restricted to the same cluster set."""
    from vecgo_spark.operators import lexical_at_rest as lex

    vector_k = max(2 * k, 50)  # engine.go:1545-1548
    if nprobe is not None:
        vec = tbl.search(query_vector, k=vector_k, nprobe=nprobe,
                         filter=filter, include_pending=include_pending)
    else:
        vec = knn.search(
            tbl.df(include_pending=include_pending), query_vector,
            k=vector_k, metric=tbl.metric, filter=filter,
            id_col=tbl.id_col, vector_col=tbl.vector_col)
    if tbl.id_col != "id":
        vec = vec.withColumnRenamed(tbl.id_col, "id")
    lexr = lex.bm25_search_at_rest(tbl, query_text, k=vector_k,
                                   include_pending=include_pending)
    return rrf_fuse(vec, lexr, k=k, rrf_k=rrf_k,
                    vec_ascending=knn.metric_ascending(tbl.metric), id_col="id")
