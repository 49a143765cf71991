import pytest
from pyspark.sql import functions as F

from vecgo_spark.operators import bm25, hybrid


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox"),
        (2, "the quick quick dog"),
        (3, "lazy dog sleeps"),
        (4, ""),
        (5, "THE Quick\tFOX\njumps"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_tokenizer_whitespace_and_case(spark, docs):
    toks = docs.where("doc_id = 5").select(bm25.tokenize_expr("text").alias("t")).first()["t"]
    assert toks == ["the", "quick", "fox", "jumps"]
    assert bm25.tokenize_py("THE Quick\tFOX\njumps") == ["the", "quick", "fox", "jumps"]


def test_empty_doc_counts_toward_corpus(spark, docs):
    _, _, n, total = bm25.corpus_stats(docs, "doc_id", "text")
    assert n == 5  # doc 4 (empty) still counts — bm25.go Add()
    assert total == 4 + 4 + 3 + 0 + 4


def test_repeated_query_term_scores_double(spark, docs):
    s1 = {r["id"]: r["score"] for r in bm25.bm25_score(docs, "quick", "doc_id", "text").collect()}
    s2 = {r["id"]: r["score"] for r in bm25.bm25_score(docs, "quick quick", "doc_id", "text").collect()}
    for k in s1:
        assert s2[k] == 2 * s1[k]  # qtf multiplier == repeated iterators


def test_no_matching_terms_empty(spark, docs):
    assert bm25.bm25_search(docs, "zebra", 10, "doc_id", "text").count() == 0
    assert bm25.bm25_search(docs, "", 10, "doc_id", "text").count() == 0


def test_rrf_fuse_known_values(spark):
    vec = spark.createDataFrame([(1, 0.1), (2, 0.2), (3, 0.3)], "id long, score double")
    lex = spark.createDataFrame([(2, 9.0), (4, 8.0)], "id long, score double")
    out = {r["id"]: r["rrf_score"] for r in hybrid.rrf_fuse(vec, lex, k=10).collect()}
    # vec ranks (asc): 1→0, 2→1, 3→2 ; lex ranks (desc): 2→0, 4→1
    assert out[1] == 1.0 / 61.0
    assert out[2] == 1.0 / 62.0 + 1.0 / 61.0
    assert out[3] == 1.0 / 63.0
    assert out[4] == 1.0 / 62.0


def test_all_empty_docs_returns_empty_not_div_zero(spark):
    """avg_dl == 0 (every doc tokenizes to nothing): the reference yields
    no postings and returns empty; the K1·B/avgDL factor must not raise."""
    docs = spark.createDataFrame([(1, ""), (2, "   "), (3, None)],
                                 "id long, text string")
    assert bm25.bm25_search(docs, "anything", k=5).count() == 0


def _window_join_rrf(vec, lex, k, rrf_k=60, vec_ascending=True):
    """The DataFrame RRF the in-process fuse replaced, composed by hand:
    0-based row_number ranks over each leg's (score, id) order, a full
    outer join on id, Σ 1/(rrf_k + rank + 1), (rrf_score desc, id asc)."""
    from pyspark.sql.window import Window

    def ranked(df, ascending, name):
        order = F.col("score").asc() if ascending else F.col("score").desc()
        w = Window.orderBy(order, F.col("id").asc())
        return df.select("id", (F.row_number().over(w) - F.lit(1)).alias(name))

    def rrf(r):
        return F.when(r.isNotNull(), F.lit(1.0) / (F.lit(float(rrf_k)) + r + F.lit(1.0))
                      ).otherwise(F.lit(0.0))

    fused = (ranked(vec, vec_ascending, "vrank")
             .join(ranked(lex, False, "lrank"), "id", "full_outer")
             .select("id", (rrf(F.col("vrank").cast("double"))
                            + rrf(F.col("lrank").cast("double"))).alias("rrf_score")))
    return fused.orderBy(F.col("rrf_score").desc(), F.col("id").asc()).limit(k)


@pytest.mark.parametrize("vec_ascending", [True, False])
@pytest.mark.parametrize("k", [3, 10, 100])
@pytest.mark.parametrize("rrf_k", [60, 1])
def test_rrf_fuse_equals_window_join_rrf(spark, vec_ascending, k, rrf_k):
    """The in-process fuse returns exactly the rows of the Window + full
    outer join RRF: equal scores inside a leg (ranked by id), ids in one
    leg only, k past the union, and both vector polarities (l2 ascending,
    dot/cosine descending), down to the last bit of every fused score."""
    import random

    rng = random.Random(7 + k + rrf_k + vec_ascending)
    ids = rng.sample(range(1, 400), 80)
    vec_rows = [(i, float(rng.choice([0.5, 1.25, -2.0, rng.random()]))) for i in ids[:50]]
    lex_rows = [(i, float(rng.choice([3.0, 7.5, rng.random() * 9])))
                for i in ids[30:]]  # ids[30:50] sit in both legs
    schema = "id long, score double"
    vec = spark.createDataFrame(vec_rows, schema)
    lex = spark.createDataFrame(lex_rows, schema)
    got = [(r["id"], r["rrf_score"]) for r in hybrid.rrf_fuse(
        vec, lex, k=k, rrf_k=rrf_k, vec_ascending=vec_ascending).collect()]
    want = [(r["id"], r["rrf_score"]) for r in _window_join_rrf(
        vec, lex, k, rrf_k, vec_ascending).collect()]
    assert got == want
    assert len(got) == min(k, 80)


def test_rrf_fuse_empty_legs(spark):
    schema = "id long, score double"
    empty = spark.createDataFrame([], schema)
    vec = spark.createDataFrame([(4, 0.5), (2, 0.5)], schema)
    assert hybrid.rrf_fuse(empty, empty, k=5).collect() == []
    assert [(r["id"], r["rrf_score"]) for r in hybrid.rrf_fuse(vec, empty, k=5).collect()] == [
        (2, 1.0 / 61.0), (4, 1.0 / 62.0)]
