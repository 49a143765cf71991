"""The benchmark's workloads: one closed-loop client driving the public
``VectorTable`` and operator APIs, every output checked against an
oracle.

``query_serve``  read-only serving on a compacted table (IVF layout,
                 SQ8 codes, lexical index), then one offline phase:
                 a ``batch_search`` and MinHash-LSH near-duplicate pairs.
``ingest_churn`` insert/upsert/delete/commit cycles, each followed by
                 checked reads on the new snapshot, with policy-driven
                 ``maybe_compact``.
"""

from __future__ import annotations

import os
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass

import numpy as np

import gen
from spans import Tracer

K = 10


@dataclass(frozen=True)
class Sizes:
    rows: int            # query_serve corpus rows
    churn_start: int     # ingest_churn rows before the first cycle
    dim: int
    nlist: int           # IVF partitions
    nprobe: int
    refine: int          # SQ8 coarse candidates reranked exactly
    batch_queries: int   # queries in the offline batch_search
    dup_frac: float      # planted near-duplicate share of the corpus
    churn_insert: int    # new rows per churn cycle
    churn_upsert: int    # existing ids rewritten per cycle
    churn_delete: int    # ids deleted per cycle


FULL = Sizes(rows=6_000, churn_start=5_000, dim=128, nlist=8, nprobe=3,
             refine=40, batch_queries=8, dup_frac=0.02, churn_insert=1_000,
             churn_upsert=50, churn_delete=50)
SMOKE = Sizes(rows=1_500, churn_start=1_500, dim=16, nlist=4, nprobe=2,
              refine=20, batch_queries=4, dup_frac=0.02, churn_insert=200,
              churn_upsert=10, churn_delete=10)

SELECTIVITIES = (0.01, 0.10, 0.50)
# reads on each new snapshot after a churn commit, beside the two gets
INGEST_IVF_READS = 2
INGEST_BM25_READS = 2
READ_KINDS = ("knn_filtered", "ivf", "sq8_refine", "bm25", "hybrid", "get")
# engine caches whose lookups over the traced steps are reported
CACHES = ("pk_index", "ivf_model", "sq_params", "lexical_candidates")
WRITE_KINDS = ("insert", "delete", "commit", "maybe_compact")


def percentile(xs, q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=np.float64), q)) if xs else 0.0


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class Client:
    """One closed-loop client: runs an operation, waits for its result,
    checks it, then sends the next. Keeps every latency and outcome."""

    def __init__(self, spark, tracer: Tracer, workdir: str):
        self.spark = spark
        self.tracer = tracer
        self.workdir = workdir
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.phase = "setup"
        # per phase: list of (kind, plan_s, exec_s, op_id, rows_returned)
        self.ops: dict[str, list[tuple]] = defaultdict(list)
        self.recalls: dict[str, list[float]] = defaultdict(list)
        self.phase_s: dict[str, float] = {}
        self.scans: dict[int, list[tuple[int, int, int]]] = defaultdict(list)
        self._op_id = 0

    def fail(self, kind: str, msg: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(f"{self.phase}/{kind}: {msg}"[:400])

    def timed_phase(self, name: str, fn):
        t0 = time.perf_counter()
        with self.tracer.span(name, "bench"):
            out = fn()
        self.phase_s[name] = time.perf_counter() - t0
        return out

    def op(self, kind: str, plan, check=None, collect: bool = True):
        """Run one operation: ``plan()`` returns a lazy DataFrame (or does
        the whole write when ``collect`` is False); ``collect()`` runs it;
        ``check(rows)`` returns (ok, recall or None). Returns the rows, or
        None when the operation raised."""
        self.attempted += 1
        self._op_id += 1
        self.tracer.op_id = self._op_id
        self.tracer.phase = self.phase
        rows = None
        try:
            t0 = time.perf_counter()
            with self.tracer.span(kind, "bench"):
                with self.tracer.span(f"{kind}.plan", "plans.table"):
                    out = plan()
                t1 = time.perf_counter()
                if collect:
                    with self.tracer.span(f"{kind}.exec", "spark"):
                        rows = out.collect()
                else:
                    rows = out
            t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 — a failed op is a result
            self.fail(kind, f"{type(e).__name__}: {e} "
                            f"{traceback.format_exc(limit=3)}")
            return None
        finally:
            self.tracer.op_id = None
        n = len(rows) if collect else 0
        self.ops[self.phase].append((kind, t1 - t0, t2 - t1, self._op_id, n))
        if check is not None:
            try:
                ok, rec = check(rows)
            except Exception as e:  # noqa: BLE001
                ok, rec = False, None
                self.fail(kind, f"check raised {type(e).__name__}: {e}")
            else:
                if not ok:
                    self.fail(kind, "wrong result")
            if rec is not None:
                self.recalls[self.phase].append(rec)
        return rows

    def latencies(self, phase: str, kinds) -> list[float]:
        return [p + e for k, p, e, _, _ in self.ops[phase] if k in kinds]

    def busy_s(self, phase: str) -> float:
        return sum(p + e for _, p, e, _, _ in self.ops[phase])

    def spark_source(self, corpus: gen.Corpus, name: str):
        """Write ``corpus`` as the client's parquet input file and return
        it as a DataFrame; the engine only ever sees this frame."""
        import pyarrow.parquet as pq

        path = os.path.join(self.workdir, f"{name}.parquet")
        pq.write_table(corpus.to_arrow(), path)
        return self.spark.read.parquet(path)


# ----------------------------------------------------------------- state


class Live:
    """The client's model of the table's live rows: vectors, prices,
    versions and BM25 document statistics by id."""

    def __init__(self, dim: int):
        self.index: dict[int, int] = {}
        self.ids = np.zeros(0, dtype=np.int64)
        self.vectors = np.zeros((0, dim))
        self.price = np.zeros(0)
        self.ver = np.zeros(0, dtype=np.int64)
        self.alive = np.zeros(0, dtype=bool)
        self.bm25 = gen.BM25Oracle()

    def put(self, c: gen.Corpus) -> None:
        new = [i for i, x in enumerate(c.ids) if int(x) not in self.index]
        old = [i for i, x in enumerate(c.ids) if int(x) in self.index]
        for i in old:
            r = self.index[int(c.ids[i])]
            self.vectors[r], self.price[r], self.ver[r] = c.vectors[i], c.price[i], c.ver[i]
            self.alive[r] = True
        if new:
            base = len(self.ids)
            for j, i in enumerate(new):
                self.index[int(c.ids[i])] = base + j
            self.ids = np.concatenate([self.ids, c.ids[new]])
            self.vectors = np.concatenate([self.vectors, c.vectors[new]])
            self.price = np.concatenate([self.price, c.price[new]])
            self.ver = np.concatenate([self.ver, c.ver[new]])
            self.alive = np.concatenate([self.alive, np.ones(len(new), dtype=bool)])
        for i in range(len(c)):
            self.bm25.put(int(c.ids[i]), c.text[i])

    def delete(self, ids) -> None:
        for x in ids:
            self.alive[self.index[int(x)]] = False
            self.bm25.remove(int(x))

    def live_ids(self) -> np.ndarray:
        return self.ids[self.alive]

    def topk(self, q, k, mask=None):
        m = self.alive if mask is None else (self.alive & mask)
        return gen.exact_topk(self.ids, self.vectors, q, k, m)

    def score_of(self, ids, q) -> dict[int, float]:
        rows = [self.index[int(i)] for i in ids if int(i) in self.index]
        d = gen.sq_l2(self.vectors[rows], q) if rows else []
        return {int(self.ids[r]): float(s) for r, s in zip(rows, d)
                if self.alive[r]}


# ---------------------------------------------------------------- checks


def check_exact_knn(live: Live, q, k, mask):
    _, want = live.topk(q, k, mask)

    def check(rows):
        ids = [r["id"] for r in rows]
        truth = live.score_of(ids, q)
        if mask is not None and not all(mask[live.index[int(i)]] for i in ids if int(i) in live.index):
            return False, None
        return gen.topk_matches(ids, [r["score"] for r in rows], truth, want, True), None
    return check


def check_approx_knn(live: Live, q, k):
    """Approximate top-k: every returned id is live and carries its true
    distance, scores come back ascending; recall against the exact top-k."""
    want_ids, _ = live.topk(q, k)

    def check(rows):
        ids = [int(r["id"]) for r in rows]
        got = np.array([r["score"] for r in rows], dtype=np.float64)
        truth = live.score_of(ids, q)
        ok = (len(ids) == len(want_ids) and len(set(ids)) == len(ids)
              and all(i in truth for i in ids)
              and np.allclose(got, [truth.get(i, np.nan) for i in ids], rtol=1e-9)
              and bool(np.all(np.diff(got) >= 0)))
        return ok, gen.recall(ids, want_ids)
    return check


def check_bm25(live: Live, text, k):
    truth = live.bm25.scores(text)
    want = np.array(sorted(truth.values(), reverse=True)[:k])

    def check(rows):
        ids = [int(r["id"]) for r in rows]
        return gen.topk_matches(ids, [r["score"] for r in rows], truth, want, False), None
    return check


def check_hybrid(live: Live, k):
    """RRF output shape: k distinct live ids, fused scores descending and
    within the two-list RRF maximum."""
    top = 2.0 / 61.0

    def check(rows):
        ids = [int(r["id"]) for r in rows]
        s = np.array([r["rrf_score"] for r in rows], dtype=np.float64)
        ok = (len(ids) == k and len(set(ids)) == k
              and all(int(i) in live.index and live.alive[live.index[int(i)]] for i in ids)
              and bool(np.all(np.diff(s) <= 0)) and bool(np.all((s > 0) & (s <= top + 1e-12))))
        return ok, None
    return check


def check_get(live: Live, rid: int):
    r = live.index.get(rid)
    present = r is not None and bool(live.alive[r])

    def check(rows):
        if not present:
            return len(rows) == 0, None
        if len(rows) != 1:
            return False, None
        row = rows[0]
        ok = (int(row["ver"]) == int(live.ver[r]) and row["price"] == live.price[r]
              and np.array_equal(np.asarray(row["vector"]), live.vectors[r]))
        return ok, None
    return check


# ------------------------------------------------------------- workloads


class Workload:
    """A workload's window is whole steps (a read round or a churn
    cycle) run until --seconds have passed, at least ``min_steps``, after
    ``warmup_steps`` untimed steps inside set-up."""

    name = ""
    warmup_steps = 0
    min_steps = 2

    def __init__(self, client: Client, sizes: Sizes, seed: int):
        self.c = client
        self.s = sizes
        self.seed = seed
        self.g = gen.Generator(seed, sizes.dim)
        self.live = Live(sizes.dim)
        self.table = None
        self.user_bytes = 0
        self.setup_excluded_s = 0.0   # oracle/generation time inside setup
        self.extra: dict[str, float] = {}
        # cache name -> [hits, misses] over the traced steps
        self.cache_delta = {name: [0, 0] for name in CACHES}
        self.steps_run = 0
        self.window_s = 0.0

    @property
    def table_path(self) -> str:
        return os.path.join(self.c.workdir, "table")

    def _load(self, corpus: gen.Corpus):
        from vecgo_spark.plans.table import VectorTable

        src = self.c.spark_source(corpus, "initial")
        t = VectorTable.create(self.c.spark, self.table_path, dim=self.s.dim)
        t.insert(src)
        t.commit()
        self.user_bytes += corpus.user_bytes()
        return t

    def _build_indexes(self, quantize):
        from vecgo_spark.operators import ivf

        t = self.table
        model = self.c.timed_phase("ivf_train", lambda: ivf.train_ivf(
            t.df(), nlist=self.s.nlist, trainer="driver", seed=self.seed,
            max_iter=10, max_train_rows=20_000))
        self.c.timed_phase("compact", lambda: t.compact(
            cluster_by=model, quantize=quantize))
        self.c.timed_phase("lexical_build", t.build_lexical_index)

    @staticmethod
    def cache_stats() -> dict[str, dict[str, int]]:
        from vecgo_spark.plans.table import VectorTable

        return VectorTable.cache_stats_detail()

    def space_amp(self) -> float:
        return sum(dir_files(self.table_path).values()) / max(1, self.user_bytes)


class QueryServe(Workload):
    # rounds of a fresh JVM keep getting faster until about the fourth
    # (round times 4.8, 4.4, 3.5, 3.0 s after one warm-up round), and a
    # run whose JIT warmed slowly read 25 % slower: three warm-up rounds
    name = "query_serve"
    warmup_steps = 3

    def setup(self):
        t0 = time.perf_counter()
        corpus = self.g.rows(np.arange(1, self.s.rows + 1))
        self.planted = self.g.plant_duplicates(corpus, self.s.dup_frac)
        self.live.put(corpus)
        self.setup_excluded_s += time.perf_counter() - t0
        self.table = self.c.timed_phase("load", lambda: self._load(corpus))
        self._build_indexes("sq8")

    def step(self):
        """One round of the read mix, in a fixed order so every window
        holds the same op shares. Oracles are computed before each op is
        sent and checks run after it returns, both outside its latency."""
        from vecgo_spark.filters import FilterSet

        t, s, g, live = self.table, self.s, self.g, self.live
        for sel in SELECTIVITIES:
            q = g.query_vector()
            lo, hi = g.price_range(sel)
            fs = FilterSet().gte("price", lo).lt("price", hi)
            mask = (live.price >= lo) & (live.price < hi)
            self.c.op("knn_filtered", lambda: t.search(q.tolist(), k=K, filter=fs),
                      check_exact_knn(live, q, K, mask))
        q = g.query_vector()
        self.c.op("ivf", lambda: t.search(q.tolist(), k=K, nprobe=s.nprobe),
                  check_approx_knn(live, q, K))
        q = g.query_vector()
        self.c.op("sq8_refine", lambda: t.search_quantized(
            q.tolist(), k=K, nprobe=s.nprobe, refine=s.refine),
            check_approx_knn(live, q, K))
        # the hybrid search repeats the BM25 text: one new and one
        # repeated text per round
        text = g.query_text()
        self.c.op("bm25", lambda: t.bm25_search(text, k=K), check_bm25(live, text, K))
        q = g.query_vector()
        self.c.op("hybrid", lambda: t.hybrid_search(q.tolist(), text, k=K, nprobe=s.nprobe),
                  check_hybrid(live, K))
        rid = int(g.rng.integers(1, s.rows + 1))
        self.c.op("get", lambda: t.get(rid), check_get(live, rid))

    def offline(self):
        """Batch ANN and near-duplicate detection over the served table:
        the batch-pipeline operators, timed once per run."""
        from vecgo_spark.operators import dedup

        t, s, live = self.table, self.s, self.live
        lat = self.batch_search()
        if lat is not None:
            self.extra["ivf.batch_search_s"] = lat
            self.extra["batch_queries_per_s"] = s.batch_queries / lat
        docs = t.df().selectExpr("id AS doc_id", "text")
        holder = {}

        def signatures():
            holder["sigs"] = sigs = dedup.minhash_signatures(docs).persist()
            sigs.count()
            return sigs
        t0 = time.perf_counter()
        self.c.op("dedup_signatures", signatures, collect=False)
        self.extra["dedup.signatures_s"] = time.perf_counter() - t0
        planted = set(self.planted)

        def check_pairs(rows):
            found = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])) for r in rows}
            self.extra["dedup.pair_precision"] = (
                len(found & planted) / len(found) if found else 0.0)
            return planted <= found, None
        t0 = time.perf_counter()
        sigs = holder.get("sigs")
        if sigs is not None:
            self.c.op("dedup_lsh", lambda: dedup.minhash_lsh_pairs(None, sigs=sigs),
                      check_pairs)
            sigs.unpersist()
        self.extra["dedup.lsh_pairs_s"] = time.perf_counter() - t0
        self.extra["dedup_docs_per_s"] = len(live.live_ids()) / max(
            1e-9, self.extra["dedup.signatures_s"] + self.extra["dedup.lsh_pairs_s"])

    def batch_search(self) -> float | None:
        """One checked ``batch_search`` of fresh queries; returns its
        latency (call + ``collect()``), or None when it raised."""
        t, s, g, live = self.table, self.s, self.g, self.live
        qs = [g.query_vector() for _ in range(s.batch_queries)]
        want = [live.topk(q, K)[0] for q in qs]
        qdf = self.c.spark.createDataFrame(
            [(i, q.tolist()) for i, q in enumerate(qs)], "qid long, qvector array<double>")

        def check_batch(rows):
            by_q = defaultdict(list)
            for r in rows:
                by_q[int(r["qid"])].append((r["rank"], int(r["id"]), r["score"]))
            ok = set(by_q) == set(range(len(qs)))
            recs = []
            for i, q in enumerate(qs):
                got = sorted(by_q.get(i, []))
                ids = [x[1] for x in got]
                truth = live.score_of(ids, q)
                ok = ok and len(ids) == K and np.allclose(
                    [x[2] for x in got], [truth.get(x, np.nan) for x in ids], rtol=1e-9)
                recs.append(gen.recall(ids, want[i]))
            return ok, float(np.mean(recs))
        if self.c.op("batch_search", lambda: t.batch_search(qdf, k=K, nprobe=s.nprobe),
                     check_batch) is None:
            return None
        _, plan_s, exec_s, _, _ = self.c.ops[self.c.phase][-1]
        return plan_s + exec_s

    def throughput(self, phase: str = "window") -> float:
        """Reads per second of the client's busy time."""
        return len(self.c.latencies(phase, READ_KINDS)) / max(1e-9, self.c.busy_s(phase))


class IngestChurn(Workload):
    # a step is one churn cycle, and every cycle merges once (see the
    # policy in setup), so a window of any length does the same work per
    # cycle. No warm-up: a cycle takes 10 s or more on a 4-core host, and
    # the set-up already ran an insert and a compaction.
    name = "ingest_churn"
    min_steps = 1

    def setup(self):
        from vecgo_spark.plans.policy import TieredPolicy

        t0 = time.perf_counter()
        corpus = self.g.rows(np.arange(1, self.s.churn_start + 1))
        self.live.put(corpus)
        self.next_id = self.s.churn_start + 1
        self.cycle_no = 0
        self.rows_committed: dict[str, int] = defaultdict(int)
        self.write_lat: dict[str, list[float]] = defaultdict(list)
        self.compacted_bytes = 0
        self.setup_excluded_s += time.perf_counter() - t0
        self.table = self.c.timed_phase("load", lambda: self._load(corpus))
        self._build_indexes(None)
        # a merge is due once a churn commit has added a segment to the
        # IVF layout, whatever number of lists came out non-empty; merging
        # the two smallest segments takes the count back to where it
        # started, so the policy fires after every commit
        self.policy = TieredPolicy(
            min_segments=len(self.table.manifest.segments) + 1, max_merge=2)
        self.written = dir_files(self.table_path)

    def reads(self, upserted: int, deleted: int):
        """The reads on each new snapshot. The first of each kind meets
        cold per-snapshot caches, the repeat warm ones. With one read of
        each kind (all cold) the read figure spread about twice as wide
        between runs: IQR / median 0.52 over ten seeds, against 0.21 and
        0.27 in two ten-seed sets with the repeats."""
        t, s, g, live = self.table, self.s, self.g, self.live
        self.c.op("get", lambda: t.get(upserted), check_get(live, upserted))
        self.c.op("get", lambda: t.get(deleted), check_get(live, deleted))
        for _ in range(INGEST_IVF_READS):
            q = g.query_vector()
            self.c.op("ivf", lambda: t.search(q.tolist(), k=K, nprobe=s.nprobe),
                      check_approx_knn(live, q, K))
        text = g.query_text()
        for _ in range(INGEST_BM25_READS):   # a new text, then repeats
            self.c.op("bm25", lambda: t.bm25_search(text, k=K),
                      check_bm25(live, text, K))

    def step(self):
        """One churn cycle: insert (new rows + upserts) → delete → commit, then checked
        reads on the new snapshot, then the compaction policy."""
        t, s, g, live = self.table, self.s, self.g, self.live
        self.cycle_no += 1
        new_ids = np.arange(self.next_id, self.next_id + s.churn_insert)
        self.next_id += s.churn_insert
        pool = live.live_ids()
        pick = g.rng.choice(pool, size=s.churn_upsert + s.churn_delete, replace=False)
        up_ids, del_ids = pick[:s.churn_upsert], pick[s.churn_upsert:]
        batch = g.rows(np.concatenate([new_ids, up_ids]), ver=self.cycle_no)
        src = self.c.spark_source(batch, f"batch-{self.c.phase}-{self.cycle_no}")
        before = len(self.c.ops[self.c.phase])
        self.c.op("insert", lambda: t.insert(src), collect=False)
        self.c.op("delete", lambda: t.delete([int(x) for x in del_ids]), collect=False)
        self.c.op("commit", t.commit, collect=False)
        done = self.c.ops[self.c.phase][before:]
        if len(done) == 3:
            self.write_lat[self.c.phase].append(sum(p + e for _, p, e, _, _ in done))
        live.put(batch)
        live.delete(del_ids)
        self.user_bytes += batch.user_bytes()
        self.rows_committed[self.c.phase] += len(batch)
        self.reads(int(up_ids[0]), int(del_ids[0]))
        segs = {x.path: x.bytes for x in t.manifest.segments}
        out = self.c.op("maybe_compact", lambda: t.maybe_compact(self.policy), collect=False)
        if out is not None:
            kept = {x.path for x in t.manifest.segments}
            self.compacted_bytes += sum(b for p, b in segs.items() if p not in kept)
        for p, n in dir_files(self.table_path).items():
            self.written[p] = max(n, self.written.get(p, 0))

    def offline(self):
        pass

    def throughput(self, phase: str = "window") -> float:
        """Rows committed per second of the client's busy time."""
        return self.rows_committed[phase] / max(1e-9, self.c.busy_s(phase))


WORKLOADS = {w.name: w for w in (QueryServe, IngestChurn)}
