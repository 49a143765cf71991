"""BM25 lexical search — distributed re-expression of the reference's
in-memory DAAT index (lexical/bm25/bm25.go).

Semantics pinned to the reference:
  - Tokenizer: split on ASCII whitespace (c <= ' ') runs + lowercase; NO
    punctuation stripping (bm25.go:92-178).
  - Constants k1=1.2, b=0.75 (bm25.go:13-16).
  - idf = ln(1 + (N - n + 0.5)/(n + 0.5)), n = docFreq (bm25.go:383-387).
  - score(d, q) = Σ_t qtf·idf·tf·(k1+1) / (tf + k1(1-b) + (k1·b/avgDL)·dl)
    (bm25.go:337-349). A query term repeated qtf times creates qtf
    iterators in the reference — x+x == 2x in IEEE, so a qtf multiplier
    is exact.
  - Docs with score 0 are dropped; top-k desc with id-asc tiebreak.

Architecture (100 TB posture): corpus statistics are classic distributed
IR — explode(tokens) → partial-aggregated groupBys; they'd be materialized
once per corpus version in production. Query-time work touches only the
postings of the query's terms: the tiny term list broadcasts into a
semi-join, so the full corpus is never rescanned per query.

Determinism: per-doc term contributions are summed in sorted-term order
via a sequential array fold (float addition is order-sensitive; a plain
SUM() would be engine/partition-order dependent and break oracle parity).
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vecgo_spark.functions.vector import _dlit_sql

K1 = 1.2
B = 0.75


def _sql_str(s: str) -> str:
    """One SQL string literal. Backslash-escaped (Spark's default,
    non-ANSI-escape string parsing) so arbitrary token bytes — quotes
    and backslashes included — round-trip to the identical string."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

# cached frames from the LAST query (tokenize is the expensive stage and
# is shared between the stats agg and the scoring pass of one query).
# Each new query releases the previous query's cache, so a long-lived
# session holds at most one query's worth of storage; bm25_release()
# frees even that.
_CACHED: list = []


def _cache(df: DataFrame) -> DataFrame:
    _CACHED.append(df.persist())
    return df


def bm25_release() -> None:
    """Unpersist all BM25 caches (callers owning many corpora can call
    this between corpora)."""
    while _CACHED:
        _CACHED.pop().unpersist()


def _spread_src(docs: DataFrame) -> DataFrame:
    """Spread a narrow source (one small file ⇒ one task) before the
    CPU-heavy regex tokenizer."""
    from vecgo_spark.operators.util import ensure_parallelism

    return ensure_parallelism(docs)


def tokenize_expr(text_col: Column | str) -> Column:
    """ARRAY<STRING> of lowercase whitespace-split tokens (bm25.go:92-129).

    The reference's ASCII fast path treats every byte <= 0x20 as
    whitespace; ``\\s`` covers [ \\t\\n\\x0b\\f\\r] — extended with the
    remaining control range for parity.
    """
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(F.lower(col), "[\\x00-\\x20]+"), lambda t: t != "")


def tokenize_py(text: str) -> list[str]:
    """Driver-side twin of tokenize_expr for query strings."""
    return [t.lower() for t in re.split(r"[\x00-\x20]+", text) if t]


def corpus_stats(
    docs: DataFrame, id_col: str = "id", text_col: str = "text",
    terms: list[str] | None = None,
) -> tuple[DataFrame, DataFrame, int, int]:
    """(term_freq, doc_len, doc_count, total_len).

    term_freq: (id, term, tf); doc_len: (id, dl). doc_count/total_len are
    scalars (N and Σdl — bm25.go:29-53). Zero-token docs still count
    toward N and avgdl, as in the reference's Add().

    With `terms` given, the explode is filtered to those terms BEFORE the
    groupBy — identical tf/df values for the query's terms, but the
    shuffle carries |query terms| instead of |vocabulary| rows per doc
    (at 100 TB this is the difference between a postings lookup and
    re-indexing the corpus per query).
    """
    # the regex tokenizer is the CPU hot spot: spread a narrow source
    # across the cluster first, and persist the token arrays so tokenize
    # runs ONCE for doc_len + tf (previous query's cache released first)
    bm25_release()
    src = _spread_src(docs)
    toks = _cache(src.select(F.col(id_col).alias("id"), tokenize_expr(text_col).alias("toks")))
    doc_len = toks.select("id", F.size("toks").alias("dl"))
    exploded = toks.select("id", F.explode("toks").alias("term"))
    if terms is not None:
        exploded = exploded.where(F.col("term").isin(list(terms)))
    term_freq = _cache(
        exploded.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    counts = doc_len.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("total")
    ).first()
    return term_freq, doc_len, int(counts["n"]), int(counts["total"] or 0)


def bm25_score(
    docs: DataFrame,
    query_text: str,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """(id, score) for every doc with score > 0 (bm25.go:282-387).

    Scan-fused DAAT: the query has a handful of terms, so per-term tf is
    computed INSIDE the scan as size(filter(tokens, =t)) — no explode, no
    shuffle. One O(corpus) agg collects (N, \u03a3dl, df_t\u2026) as a single tiny
    row; idf_t become literals; scoring is a second narrow pass over the
    persisted (id, dl, tf\u2026) frame. Two jobs, zero wide shuffles — the
    Spark analog of the reference's DAAT postings iterators (per-doc work
    \u221d |query terms|).

    Determinism: contributions are summed in sorted-term order as a fixed
    left-to-right expression — the same order as the oracle's term-sorted
    list fold, so the doubles match bit-for-bit.
    """
    spark = docs.sparkSession
    qterms: dict[str, int] = {}
    for t in tokenize_py(query_text):
        qterms[t] = qterms.get(t, 0) + 1
    if not qterms:
        return spark.createDataFrame([], "id long, score double")
    terms = sorted(qterms)

    bm25_release()
    src = _spread_src(docs)
    toks = src.select(F.col(id_col).alias("id"), tokenize_expr(text_col).alias("toks"))

    # r14: the per-term tf columns, the df aggregates and the score fold
    # below are each built as ONE parsed SQL string (the isin_longs /
    # double_array_expr discipline): the Column-op form paid ~15 py4j
    # round-trips per query term per build (~0.3-0.4 s for a 5-term
    # query), while F.expr parses to the IDENTICAL trees JVM-side.
    per = _cache(toks.selectExpr(
        "id",
        "size(toks) AS dl",
        *[f"size(filter(toks, x -> x = {_sql_str(t)})) AS tf_{i}"
          for i, t in enumerate(terms)],
    ))

    # r15 measured-and-REJECTED: riding this stats row in-plan as a
    # one-row broadcast aggregate (crossJoin(F.broadcast(agg)), the tfidf
    # in-plan-N recipe) removes the .first() driver job but AQE then
    # materializes the broadcast-fed chain stage-by-stage — 6-8 jobs at
    # exec where this form pays 4 at build + 1 at exec. Interleaved A/B
    # (3 reps, B on the FASTER host): bm25_search 0.311->0.368 s (+18%),
    # hybrid_rrf +4%. The .first() is one bounded row over the persisted
    # frame; keep it.
    row = per.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("total"),
        *[F.expr(f"sum(CAST((tf_{i} > 0) AS BIGINT)) AS df_{i}")
          for i in range(len(terms))],
    ).first()
    n_docs = int(row["n"])
    avg_dl = float(row["total"] or 0) / float(n_docs) if n_docs else 0.0
    if n_docs == 0 or avg_dl == 0.0:
        # empty corpus, or every doc tokenizes to zero tokens: the
        # reference's idf/score math yields no postings → empty result
        # (bm25.go Add/Search on empty index); avoids K1·B/avg_dl = x/0
        bm25_release()
        return spark.createDataFrame([], "id long, score double")
    dfs = [int(row[f"df_{i}"] or 0) for i in range(len(terms))]
    score = score_sql(terms, qterms, dfs, n_docs, avg_dl)
    return (per.selectExpr("id", f"({score}) AS score")
            .where(F.col("score") > 0.0))


def score_sql(terms: list[str], qterms: dict[str, int], dfs: list[int],
              n_docs: int, avg_dl: float) -> str:
    """The BM25 score of a row carrying `dl` and `tf_<i>` per sorted query
    term (docFreq `dfs[i]`) as ONE SQL string: ((0.0 + c_0) + c_1) + ...,
    every double literal in IEEE shortest-round-trip form (_dlit_sql), so
    the per-row sum is the same op sequence, bit for bit, wherever it is
    built."""
    n = float(n_docs)
    parts = []
    for i, (t, df_t) in enumerate(zip(terms, dfs)):
        idf = math.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5))
        contrib = (
            f"{_dlit_sql(float(qterms[t]))} * ({_dlit_sql(idf)} * "
            f"((CAST(tf_{i} AS DOUBLE) * {_dlit_sql(K1 + 1.0)}) / "
            f"(CAST(tf_{i} AS DOUBLE) + {_dlit_sql(K1 * (1.0 - B))} + "
            f"{_dlit_sql(K1 * B / avg_dl)} * CAST(dl AS DOUBLE))))"
        )
        parts.append(f"CASE WHEN tf_{i} > 0 THEN {contrib} ELSE 0.0D END")
    return " + ".join(["0.0D", *parts])


def bm25_search(
    docs: DataFrame,
    query_text: str,
    k: int = 10,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k BM25 (lexical.Index.Search), score desc, id-asc tiebreak.

    The reported score is rounded to 10 decimals: Spark (JVM Math.log) and
    DuckDB (libm log) disagree in the last ulp of ln(), so the raw double
    is not oracle-comparable. Ordering uses full precision.
    """
    return (
        bm25_score(docs, query_text, id_col, text_col)
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(k)
        .select("id", F.round(F.col("score"), 10).alias("score"))
    )


def bm25_oracle_sql(query_text: str, k: int, docs_table: str = "documents",
                    id_col: str = "doc_id", text_col: str = "text") -> str:
    """DuckDB twin of bm25_search, mirroring the float ops exactly."""
    qterms: dict[str, int] = {}
    for t in tokenize_py(query_text):
        qterms[t] = qterms.get(t, 0) + 1
    qvals = ", ".join(f"('{t}', {float(c)})" for t, c in qterms.items())
    return f"""
    WITH toks AS (
        SELECT {id_col} AS id,
               list_filter(string_split_regex(lower({text_col}), '[\\x00-\\x20]+'), t -> t != '') AS toks
        FROM {docs_table}
    ),
    doc_len AS (SELECT id, CAST(len(toks) AS INT) AS dl FROM toks),
    corpus AS (SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avg_dl FROM doc_len),
    tf AS (
        SELECT id, term, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT id, unnest(toks) AS term FROM toks)
        GROUP BY id, term
    ),
    q(term, qtf) AS (VALUES {qvals}),
    dft AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf
        WHERE term IN (SELECT term FROM q) GROUP BY term
    ),
    contribs AS (
        SELECT tf.id, tf.term,
               q.qtf * (ln(1.0 + (corpus.n - dft.df + 0.5) / (dft.df + 0.5))
                        * ((CAST(tf.tf AS DOUBLE) * {K1 + 1.0!r}) /
                           (CAST(tf.tf AS DOUBLE) + {K1 * (1.0 - B)!r}
                            + ({K1!r} * {B!r} / corpus.avg_dl) * CAST(doc_len.dl AS DOUBLE)))) AS contrib
        FROM tf
        JOIN q ON tf.term = q.term
        JOIN dft ON tf.term = dft.term
        JOIN doc_len ON tf.id = doc_len.id
        CROSS JOIN corpus
    ),
    per_doc AS (
        SELECT id,
               list_sum(list_transform(array_agg(contrib ORDER BY term, contrib), x -> x)) AS score
        FROM contribs GROUP BY id
    )
    SELECT id, round(score, 10) AS score FROM (
        SELECT id, score FROM per_doc WHERE score > 0.0
        ORDER BY score DESC, id ASC LIMIT {k}
    )
    """
