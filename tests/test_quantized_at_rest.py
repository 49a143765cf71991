"""Quantized codes persisted INTO the table layout: compact(quantize=)
writes the _q_code column + trained bounds, search_quantized scores from
stored codes (no per-query encode pass), inserts stay code-fresh, and a
plain rewrite without quantize drops the stale index entry.

Reference contract: internal/segment/flat/writer.go:57-519 persists SQ8
codes inside flat segments; quantized search reads codes at rest
(flat/segment.go:447-753).
"""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from vecgo_spark.plans.table import QCODE_COL, VectorTable
from vecgo_spark.quantization import scalar as sqz

DIM = 8
N = 300


@pytest.fixture(scope="module")
def tdir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("sq_table"))


@pytest.fixture(scope="module")
def table(spark, tdir):
    rng = np.random.default_rng(11)
    rows = [(i, rng.standard_normal(DIM).tolist()) for i in range(N)]
    t = VectorTable.create(spark, tdir, dim=DIM, metric="l2")
    t.insert(spark.createDataFrame(rows, "id long, vector array<double>"))
    t.commit()
    t.compact(cluster_by=4, quantize="sq8")
    return t


def test_codes_and_bounds_persisted(table, tdir):
    meta = table.manifest.meta
    assert meta["sq"]["levels"] == 255
    assert os.path.exists(os.path.join(tdir, meta["sq"]["path"]))
    # the written segment files really carry the code column
    raw = table.df(keep_codes=True)
    assert QCODE_COL in raw.columns
    row = raw.limit(1).collect()[0]
    assert len(row[QCODE_COL]) == DIM
    # default scans keep the layout column hidden
    assert QCODE_COL not in table.df().columns


def test_stored_codes_equal_fresh_encode(table):
    """Parquet-roundtripped codes == encode-at-query-time codes bit-for-bit."""
    params = table._load_sq()
    fresh = table.df().select(
        "id", sqz.encode(params, "vector").alias("e")
    )
    stored = table.df(keep_codes=True).select("id", F.col(QCODE_COL).alias("s"))
    diff = fresh.join(stored, "id").where(F.col("e") != F.col("s")).count()
    assert diff == 0


def test_search_quantized_matches_encode_path(table):
    """ADC scores from stored codes == the per-query encode pipeline."""
    q = [0.25] * DIM
    params = table._load_sq()
    expect = (
        table.df()
        .select("id", sqz.adc_sq_l2(params, q, sqz.encode(params, "vector")).alias("score"))
        .orderBy(F.col("score").asc(), F.col("id").asc())
        .limit(10)
        .collect()
    )
    got = table.search_quantized(q, k=10).collect()
    assert [(r["id"], r["score"]) for r in got] == [(r["id"], r["score"]) for r in expect]


def test_search_quantized_nprobe_prunes_files(table):
    q = [0.25] * DIM
    full_files = set(table.df().inputFiles())
    probed = table.search_quantized(q, k=5, nprobe=1)
    assert set(probed.inputFiles()) < full_files
    assert probed.count() == 5


def test_refine_restores_exact_order_topk(table):
    """With a large refine window the two-stage result == exact search."""
    q = [-0.4] * DIM
    exact = [r["id"] for r in table.search(q, k=10).collect()]
    refined = [r["id"] for r in table.search_quantized(q, k=10, refine=N).collect()]
    assert refined == exact


def test_search_quantized_respects_filter(table):
    """A metadata filter composes with the stored-code scorer: results ==
    the same scorer over the filtered exact snapshot."""
    q = [0.1] * DIM
    got = [r["id"] for r in
           table.search_quantized(q, k=5, filter="id >= 100").collect()]
    assert got and all(i >= 100 for i in got)
    params = table._load_sq()
    expect = [
        r["id"] for r in table.df().where("id >= 100")
        .select("id", sqz.adc_sq_l2(params, q, sqz.encode(params, "vector")).alias("s"))
        .orderBy(F.col("s").asc(), F.col("id").asc()).limit(5).collect()
    ]
    assert got == expect


def test_sq_scoring_plan_stays_jvm_side(table):
    """The scalar ADC over stored codes must be pure Column arithmetic —
    no Python/Arrow nodes anywhere in the coarse plan."""
    plan = (
        table.search_quantized([0.0] * DIM, k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas"):
        assert node not in plan


def test_insert_after_quantize_stays_searchable(spark, tdir, table):
    v = [3.0] * DIM
    table.insert(spark.createDataFrame([(9100, v)], "id long, vector array<double>"))
    table.commit()
    # the staged segment carries codes → quantized search sees the new row
    got = [r["id"] for r in table.search_quantized(v, k=1).collect()]
    assert got == [9100]


def test_pq_codes_at_rest_match_encode_path(spark, tmp_path):
    """compact(quantize=PQCodebooks) stores m-length codes; stored-code
    ADC == encode-at-query ADC, and refine restores the exact top-k."""
    from vecgo_spark.plans.table import PQCODE_COL
    from vecgo_spark.quantization import pq as pqz

    rng = np.random.default_rng(17)
    rows = [(i, rng.standard_normal(DIM).tolist()) for i in range(200)]
    t = VectorTable.create(spark, str(tmp_path / "tpq"), dim=DIM, metric="l2")
    df = spark.createDataFrame(rows, "id long, vector array<double>")
    t.insert(df)
    t.commit()
    books = pqz.train_pq(t.df(), "vector", m=4, k=16, iters=5, order_col="id")
    t.compact(cluster_by=2, quantize=books)
    assert t.manifest.meta["pq"] == {
        "m": 4, "k": 16, "path": t.manifest.meta["pq"]["path"]}
    raw = t.df(keep_codes=True)
    assert PQCODE_COL in raw.columns
    assert len(raw.limit(1).collect()[0][PQCODE_COL]) == 4

    q = [0.1] * DIM
    expect = (
        pqz.encode(books, t.df(), "vector")
        .select("id", pqz.adc_score(books, q, "pq_codes").alias("score"))
        .orderBy(F.col("score").asc(), F.col("id").asc())
        .limit(10)
        .collect()
    )
    got = t.search_quantized(q, k=10, codes="pq").collect()
    assert [(r["id"], r["score"]) for r in got] == [(r["id"], r["score"]) for r in expect]
    # reopened-table path: codes + codebooks come back from disk
    t2 = VectorTable.open(spark, str(tmp_path / "tpq"))
    got2 = t2.search_quantized(q, k=10, codes="pq").collect()
    assert [(r["id"], r["score"]) for r in got2] == [(r["id"], r["score"]) for r in expect]
    exact = [r["id"] for r in t.search(q, k=10).collect()]
    refined = [r["id"] for r in t.search_quantized(q, k=10, refine=200, codes="pq").collect()]
    assert refined == exact


def test_opq_rotation_roundtrips_through_layout(spark, tmp_path):
    """An OPQ model (rotation != None) persisted at compaction must score
    identically after reopening from disk — rotation survives the JSON
    roundtrip and applies to both encode and the query distance table."""
    from vecgo_spark.quantization import pq as pqz

    rng = np.random.default_rng(19)
    rows = [(i, rng.standard_normal(DIM).tolist()) for i in range(150)]
    path = str(tmp_path / "topq")
    t = VectorTable.create(spark, path, dim=DIM, metric="l2")
    t.insert(spark.createDataFrame(rows, "id long, vector array<double>"))
    t.commit()
    opq = pqz.train_opq(t.df(), "vector", m=4, k=16, iters=4, opq_iters=2,
                        order_col="id")
    assert opq.rotation is not None
    t.compact(quantize=opq)
    q = [0.3] * DIM
    expect = [(r["id"], r["score"]) for r in
              t.search_quantized(q, k=10, codes="pq").collect()]
    t2 = VectorTable.open(spark, path)
    got = [(r["id"], r["score"]) for r in
           t2.search_quantized(q, k=10, codes="pq").collect()]
    assert got == expect
    loaded = t2._load_pq()
    assert np.allclose(loaded.rotation, opq.rotation)
    assert np.array_equal(loaded.codebooks, opq.codebooks)


def test_opq_full_serving_pipeline_at_rest(spark, tmp_path):
    """IVF partitions + OPQ codes in one compaction — the knn_opq_adc /
    ann_ivf_opq_at_rest serving shape: nprobe prunes files, the STORED
    rotated codes score identically to a fresh rotate+encode pass, and a
    full-window refine restores the exact top-k."""
    from vecgo_spark.quantization import pq as pqz

    rng = np.random.default_rng(29)
    rows = [(i, rng.standard_normal(DIM).tolist()) for i in range(240)]
    t = VectorTable.create(spark, str(tmp_path / "topqs"), dim=DIM, metric="l2")
    t.insert(spark.createDataFrame(rows, "id long, vector array<double>"))
    t.commit()
    opq = pqz.train_opq(t.df(), "vector", m=4, k=16, iters=4, opq_iters=2,
                        order_col="id")
    t.compact(cluster_by=4, quantize=opq)

    q = [0.2] * DIM
    expect = (
        pqz.encode(opq, t.df(), "vector")
        .select("id", pqz.adc_score(opq, q, "pq_codes").alias("score"))
        .orderBy(F.col("score").asc(), F.col("id").asc())
        .limit(10)
        .collect()
    )
    got = t.search_quantized(q, k=10, codes="pq").collect()
    assert [(r["id"], r["score"]) for r in got] == [(r["id"], r["score"]) for r in expect]
    # probe == file pruning even with the OPQ family riding the layout
    probed = t.search_quantized(q, k=5, nprobe=1, codes="pq")
    assert set(probed.inputFiles()) < set(t.df().inputFiles())
    assert probed.count() == 5
    exact = [r["id"] for r in t.search(q, k=10).collect()]
    refined = [r["id"] for r in
               t.search_quantized(q, k=10, refine=240, codes="pq").collect()]
    assert refined == exact


def test_vacuum_keeps_live_quantizer_artifacts(spark, tmp_path):
    """Retention GC must treat sq/pq artifacts like the IVF centroids —
    referenced by the live manifest, never collected."""
    rng = np.random.default_rng(23)
    t = VectorTable.create(spark, str(tmp_path / "tv"), dim=DIM, metric="l2")
    t.insert(spark.createDataFrame(
        [(i, rng.standard_normal(DIM).tolist()) for i in range(60)],
        "id long, vector array<double>"))
    t.commit()
    t.compact(quantize="sq8")
    t.compact(quantize="sq8")  # second version so vacuum has one to drop
    t.vacuum(keep_versions=1)
    assert os.path.exists(os.path.join(str(tmp_path / "tv"),
                                       t.manifest.meta["sq"]["path"]))
    assert t.search_quantized([0.0] * DIM, k=3).count() == 3


def test_plain_compact_drops_sq(spark, tmp_path):
    rng = np.random.default_rng(13)
    t = VectorTable.create(spark, str(tmp_path / "t3"), dim=DIM, metric="l2")
    t.insert(spark.createDataFrame(
        [(i, rng.standard_normal(DIM).tolist()) for i in range(40)],
        "id long, vector array<double>"))
    t.commit()
    t.compact(quantize="int4")
    assert t.manifest.meta["sq"]["levels"] == 15
    assert t.search_quantized([0.0] * DIM, k=3).count() == 3
    t.compact()  # plain rewrite drops codes AND the index entry
    assert "sq" not in t.manifest.meta
    with pytest.raises(KeyError):
        t.search_quantized([0.0] * DIM, k=3)


# ------------------------------------------------------ binary (BQ/RaBitQ)


def test_bq_codes_at_rest_match_encode_path(spark, tmp_path):
    """compact(quantize='bq') persists packed sign words (binary.go:23-130,
    writer.go:57-519); stored words == pack_bits-at-query bit-for-bit and
    Hamming serving reads them back without an encode pass."""
    from vecgo_spark.plans.table import BINCODE_COL
    from vecgo_spark.quantization import binary as bqz

    rng = np.random.default_rng(21)
    t = VectorTable.create(spark, str(tmp_path / "tbq"), dim=DIM, metric="l2")
    t.insert(spark.createDataFrame(
        [(i, rng.standard_normal(DIM).tolist()) for i in range(80)],
        "id long, vector array<double>"))
    t.commit()
    t.compact(quantize="bq")
    assert t.manifest.meta["binary"] == {"kind": "bq", "threshold": 0.0}
    stored = t.df(keep_codes=True).select("id", F.col(BINCODE_COL).alias("s"))
    fresh = t.df().select("id", bqz.pack_bits("vector", DIM).alias("e"))
    assert fresh.join(stored, "id").where(F.col("e") != F.col("s")).count() == 0
    # serving: stored-word Hamming == encode-path Hamming, exact order
    q = rng.standard_normal(DIM).tolist()
    q_words = F.array(*[F.lit(w).cast("bigint") for w in bqz.pack_bits_py(q)])
    expect = (
        t.df().select("id", bqz.hamming_words(bqz.pack_bits("vector", DIM), q_words).alias("score"))
        .orderBy(F.col("score").asc(), F.col("id").asc()).limit(5).collect())
    got = t.search_quantized(q, k=5, codes="bq").collect()
    assert [(r["id"], r["score"]) for r in got] == [(r["id"], r["score"]) for r in expect]
    # the default family resolution picks the only stored codes
    assert [r["id"] for r in t.search_quantized(q, k=5).collect()] == [r["id"] for r in got]


def test_rabitq_at_rest_serves_estimator_and_survives_reopen(spark, tmp_path):
    """compact(quantize='rabitq') stores words + norms (rabitq.go:13-190);
    the at-rest estimator == the encode-path estimator bit-for-bit, the
    layout reopens from disk, inserts stay code-fresh, and refine reranks
    against full vectors."""
    from vecgo_spark.functions import vector as vfn
    from vecgo_spark.plans.table import BINCODE_COL, BINNORM_COL
    from vecgo_spark.quantization import binary as bqz

    rng = np.random.default_rng(22)
    path = str(tmp_path / "trq")
    t = VectorTable.create(spark, path, dim=DIM, metric="l2")
    t.insert(spark.createDataFrame(
        [(i, rng.standard_normal(DIM).tolist()) for i in range(80)],
        "id long, vector array<double>"))
    t.commit()
    t.compact(quantize="rabitq")
    raw = t.df(keep_codes=True)
    assert BINCODE_COL in raw.columns and BINNORM_COL in raw.columns
    # stored norm == the l2_norm expression recomputed fresh
    diff = (
        t.df().select("id", vfn.l2_norm("vector").alias("e"))
        .join(raw.select("id", F.col(BINNORM_COL).alias("s")), "id")
        .where(F.col("e") != F.col("s")).count())
    assert diff == 0

    q = rng.standard_normal(DIM).tolist()
    q_words = F.array(*[F.lit(w).cast("bigint") for w in bqz.pack_bits_py(q)])
    q_norm = vfn.l2_norm(F.array(*[F.lit(float(x)) for x in q]))
    h = bqz.hamming_words(bqz.pack_bits("vector", DIM), q_words)
    expect = (
        t.df().select(
            "id",
            bqz.rabitq_l2_estimate(h, vfn.l2_norm("vector"), q_norm, DIM).alias("score"))
        .orderBy(F.col("score").asc(), F.col("id").asc()).limit(5).collect())
    got = t.search_quantized(q, k=5, codes="rabitq").collect()
    assert [(r["id"], r["score"]) for r in got] == [(r["id"], r["score"]) for r in expect]

    # reopen from disk: inline manifest params round-trip
    t2 = VectorTable.open(spark, path)
    got2 = t2.search_quantized(q, k=5, codes="rabitq").collect()
    assert [(r["id"], r["score"]) for r in got2] == [(r["id"], r["score"]) for r in got]
    # insert-path encoding keeps the index fresh without recompaction
    v = [9.0] * DIM
    t2.insert(spark.createDataFrame([(9200, v)], "id long, vector array<double>"))
    t2.commit()
    assert 9200 in {r["id"] for r in t2.search_quantized(v, k=1, codes="bq").collect()}
    # refine reranks the coarse estimate against full-precision vectors:
    # ground truth = exact L2 rerank of the coarse estimator's top-20
    # pool computed independently here, so a rerank miswiring can't pass
    ref = t2.search_quantized(q, k=3, codes="rabitq", refine=20).collect()
    coarse_pool = [r["id"] for r in (
        t2.df().select(
            "id",
            bqz.rabitq_l2_estimate(
                bqz.hamming_words(bqz.pack_bits("vector", DIM), q_words),
                vfn.l2_norm("vector"), q_norm, DIM).alias("est"))
        .orderBy(F.col("est").asc(), F.col("id").asc()).limit(20).collect())]
    want = (
        t2.df().where(F.col("id").isin(coarse_pool))
        .select("id", vfn.sq_l2("vector", F.array(*[F.lit(float(x)) for x in q])).alias("score"))
        .orderBy(F.col("score").asc(), F.col("id").asc()).limit(3).collect())
    assert [(r["id"], r["score"]) for r in ref] == [(r["id"], r["score"]) for r in want]


def test_bq_table_rejects_rabitq_serving_and_plain_compact_drops_binary(spark, tmp_path):
    rng = np.random.default_rng(23)
    t = VectorTable.create(spark, str(tmp_path / "tbq2"), dim=DIM, metric="l2")
    t.insert(spark.createDataFrame(
        [(i, rng.standard_normal(DIM).tolist()) for i in range(30)],
        "id long, vector array<double>"))
    t.commit()
    t.compact(quantize="bq")
    with pytest.raises(ValueError, match="without norms"):
        t.search_quantized([0.0] * DIM, k=3, codes="rabitq")
    t.compact()  # plain rewrite drops the binary entry with the codes
    assert "binary" not in t.manifest.meta
    with pytest.raises(KeyError):
        t.search_quantized([0.0] * DIM, k=3, codes="bq")


def test_segment_budget_priority_order_recall(spark, tmp_path):
    """SegmentPriority probe ordering extended to quantized scans
    (stats.go:643-677 over ADC): with planted far-separated clusters and
    a query deep inside one, a budget of ONE segment must already return
    the same top-k as the unbudgeted probe set (the priority order puts
    the true cluster first → recall 1.0 at minimal budget), the plan
    must touch strictly fewer files, and budget ≥ #segments must be
    bit-identical to no budget at all."""
    rng = np.random.default_rng(29)
    centers = np.zeros((4, DIM))
    for c in range(4):
        centers[c, c] = 50.0
    rows = [(i, (centers[i % 4] + rng.normal(0, 0.1, DIM)).tolist())
            for i in range(200)]
    t = VectorTable.create(spark, str(tmp_path / "tbudget"), dim=DIM, metric="l2")
    t.insert(spark.createDataFrame(rows, "id long, vector array<double>"))
    t.commit()
    t.compact(cluster_by=4, quantize="sq8")
    n_segs = len(t.manifest.segments)
    assert n_segs > 1
    q = centers[1].tolist()

    def res(df):
        return [(r["id"], r["score"]) for r in df.collect()]

    full = res(t.search_quantized(q, k=5, nprobe=n_segs))
    one = t.search_quantized(q, k=5, nprobe=n_segs, segment_budget=1)
    assert res(one) == full  # priority order → recall 1.0 at budget 1
    assert len(set(one.inputFiles())) < len(set(
        t.search_quantized(q, k=5, nprobe=n_segs).inputFiles()))
    # budget covering everything == no budget, bit for bit
    assert res(t.search_quantized(q, k=5, nprobe=n_segs,
                                  segment_budget=n_segs)) == full
    # the indexless path: priority order over ALL segments
    exact_all = res(t.search_quantized(q, k=5))
    assert res(t.search_quantized(q, k=5, segment_budget=1)) == exact_all
    assert res(t.search_quantized(q, k=5, segment_budget=n_segs)) == exact_all
    # refine composes with the budget (rerank stays on full precision)
    fr = res(t.search_quantized(q, k=3, nprobe=n_segs, refine=20,
                                segment_budget=1))
    assert fr == res(t.search_quantized(q, k=3, nprobe=n_segs, refine=20))


@pytest.fixture(scope="module", params=["sq", "pq"])
def churned_codes(spark, tmp_path_factory, request):
    """An IVF + quantized table after a commit with upserts, tombstones
    and one NULL-vector row (NULL codes, NULL coarse score)."""
    from vecgo_spark.quantization import pq as pqz

    rng = np.random.default_rng(31)
    schema = "id long, vector array<double>"
    t = VectorTable.create(
        spark, str(tmp_path_factory.mktemp(f"refine_{request.param}") / "t"),
        dim=DIM, metric="l2")
    t.insert(spark.createDataFrame(
        [(i, rng.standard_normal(DIM).tolist()) for i in range(120)], schema))
    t.commit()
    quantize = "sq8" if request.param == "sq" else pqz.train_pq(
        t.df(), "vector", m=4, k=16, iters=5, order_col="id")
    t.compact(cluster_by=4, quantize=quantize)
    t.insert(spark.createDataFrame(
        [(i, rng.standard_normal(DIM).tolist()) for i in (3, 17, 40, 200)]
        + [(201, None)], schema))
    t.delete([5, 17, 66])
    t.commit()
    assert t.manifest.meta["has_upserts"] and t.manifest.tombstone_files
    return request.param, t


@pytest.mark.parametrize("nprobe", [None, 2])
def test_refine_equals_hand_composed_rerank(churned_codes, nprobe):
    """search_quantized(refine=R) returns exactly the rows of reranking
    its own coarse top-R against the live snapshot by hand — scores,
    order, and where a NULL-vector candidate lands (the coarse order puts
    its NULL estimate last; the exact order is knn's (score, id))."""
    from vecgo_spark.operators import knn

    codes, t = churned_codes
    rng = np.random.default_rng(37)
    for q, refine in ((rng.standard_normal(DIM).tolist(), 25),
                      ([0.0] * DIM, 500)):
        coarse = t.search_quantized(q, k=refine, nprobe=nprobe, codes=codes)
        want = knn.rerank(coarse, t.df(), q, k=10, metric=t.metric,
                          id_col=t.id_col, vector_col=t.vector_col).collect()
        got = t.search_quantized(q, k=10, nprobe=nprobe, refine=refine,
                                 codes=codes).collect()
        assert [(r["id"], r["score"]) for r in got] == [
            (r["id"], r["score"]) for r in want]
        ids = [r["id"] for r in got]
        assert len(ids) == 10 and not {5, 17, 66} & set(ids)
        if nprobe is None and refine == 500:
            assert 201 in {r["id"] for r in coarse.collect()}


@pytest.mark.parametrize("nprobe", [None, 4])
def test_null_vector_row_never_ranks_first(spark, tmp_path, nprobe):
    """A NULL-vector row (the insert dim check admits it) scores NULL; an
    ascending metric must sort it last, not at rank 0 ahead of every real
    match — in knn.search, knn.rerank, the quantized refine and the
    hybrid vector leg's ranks alike."""
    from vecgo_spark.operators import knn

    rng = np.random.default_rng(41)
    t = VectorTable.create(spark, str(tmp_path / "t"), dim=DIM, metric="l2")
    schema = "id long, text string, vector array<double>"
    t.insert(spark.createDataFrame(
        [(i, "alpha", rng.standard_normal(DIM).tolist()) for i in range(120)], schema))
    t.commit()
    t.compact(cluster_by=4, quantize="sq8")
    t.insert(spark.createDataFrame([(201, "omega", None)], schema))
    t.commit()
    t.build_lexical_index()
    q = [0.0] * DIM
    firsts = {
        "search": t.search(q, k=3, nprobe=nprobe),
        "rerank": knn.rerank(t.df().select("id"), t.df(), q, k=3),
        "refine": t.search_quantized(q, k=3, nprobe=nprobe, refine=500),
        # no lexical match: the fused order is the vector leg's rank order
        "hybrid": t.hybrid_search(q, "nomatch", k=3, nprobe=nprobe),
    }
    for name, df in firsts.items():
        ids = [r["id"] for r in df.collect()]
        assert len(ids) == 3 and 201 not in ids, (name, ids)
    want = [r["id"] for r in firsts["search"].collect()]
    assert [r["id"] for r in firsts["hybrid"].collect()] == want
