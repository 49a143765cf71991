"""Spans recorded from the benchmark's side of each layer boundary.

A traced run wraps the public entry points of the engine's layers (the
functions listed in ``LAYER_HOOKS``) and PySpark's execution calls, so
every call into a layer opens a span: name, layer, start, end, parent
and the id of the benchmark operation that caused it. Each span runs its
Spark work under its own job group, so the span also records the Spark
jobs and tasks it started. Spans stay in memory and are written once at
the end. The program itself is not modified: wrappers are installed in
this process only, and an untraced run installs none.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from contextlib import contextmanager

# (module, attributes, layer). Functions imported by name into other
# engine modules are replaced there too (see install_hooks).
LAYER_HOOKS: list[tuple[str, list[str], str]] = [
    ("vecgo_spark.plans.pruning",
     ["prune_segments", "segment_priority", "estimate_selectivity",
      "observe_segment_stats"], "plans.pruning"),
    ("vecgo_spark.plans.manifest",
     ["save_manifest", "load_manifest", "list_versions"], "plans.manifest"),
    ("vecgo_spark.plans.policy", ["TieredPolicy.pick"], "plans.policy"),
    ("vecgo_spark.operators.knn",
     ["search", "batch_search", "rerank"], "operators.knn"),
    ("vecgo_spark.operators.ivf",
     ["train_ivf", "probe_clusters", "assign_expr", "batch_search"],
     "operators.ivf"),
    ("vecgo_spark.quantization.scalar",
     ["train_scalar", "encode", "adc_sq_l2"], "quantization.scalar"),
    ("vecgo_spark.operators.lexical_at_rest",
     ["bm25_search_at_rest", "build_lexical_index", "refresh_lexical_index",
      "corpus_counts"], "operators.lexical"),
    ("vecgo_spark.operators.bm25", ["bm25_search"], "operators.lexical"),
    ("vecgo_spark.operators.hybrid",
     ["hybrid_search_at_rest", "hybrid_search", "rrf_fuse"], "operators.hybrid"),
    ("vecgo_spark.operators.dedup",
     ["minhash_signatures", "minhash_lsh_pairs"], "operators.dedup"),
    # Catalyst/JVM execution as the engine reaches it from Python
    ("pyspark.sql.classic.dataframe",
     ["DataFrame.collect", "DataFrame.count", "DataFrame.take",
      "DataFrame.first", "DataFrame.toPandas"], "spark"),
    ("pyspark.sql.readwriter",
     ["DataFrameWriter.parquet", "DataFrameReader.parquet"], "spark"),
]

LAYERS = sorted({layer for _, _, layer in LAYER_HOOKS} | {"plans.table"})


class Tracer:
    """In-memory span recorder. ``active`` switches recording on and
    off; installed wrappers pass straight through while it is off."""

    def __init__(self, sc=None):
        self.sc = sc
        self.active = False
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self.phase = ""
        self._stack: list[dict] = []
        self._next = 0
        self.bookkeeping_s = 0.0   # time spent inside the tracer itself

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.active:
            yield None
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {"id": self._next, "parent": parent["id"] if parent else None,
               "op": self.op_id, "phase": self.phase, "name": name,
               "layer": layer, "group": f"perfbench-{self._next}"}
        self._next += 1
        self._set_group(rec["group"])
        self._stack.append(rec)
        rec["t0"] = t0 = time.perf_counter()
        self.bookkeeping_s += t0 - t_in
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            rec["t1"] = t1
            rec["jobs"], rec["tasks"] = self._count(rec.pop("group"))
            self._set_group(self._stack[-1]["group"] if self._stack else "perfbench-idle")
            self.spans.append(rec)
            self.bookkeeping_s += time.perf_counter() - t1

    def _set_group(self, group: str) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(group, group)

    def _count(self, group: str) -> tuple[int, int]:
        if self.sc is None:
            return 0, 0
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                stage = st.getStageInfo(s)
                tasks += stage.numTasks if stage else 0
        return len(jobs), tasks

    def current_layer(self) -> str | None:
        return self._stack[-1]["layer"] if self._stack else None


def _wrap(fn, name: str, layer: str, tracer: Tracer):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        # a call from inside the same layer stays in its caller's span
        if not tracer.active or tracer.current_layer() == layer:
            return fn(*args, **kwargs)
        with tracer.span(name, layer):
            return fn(*args, **kwargs)
    traced.__wrapped_by_perfbench__ = fn
    return traced


def install_hooks(tracer: Tracer) -> None:
    """Wrap every LAYER_HOOKS entry point, in its home module and in
    every engine module that imported it by name."""
    replaced: dict[int, object] = {}
    for mod_name, attrs, layer in LAYER_HOOKS:
        mod = importlib.import_module(mod_name)
        for attr in attrs:
            owner, _, fname = attr.rpartition(".")
            holder = getattr(mod, owner) if owner else mod
            fn = getattr(holder, fname)
            if hasattr(fn, "__wrapped_by_perfbench__"):
                continue
            wrapped = _wrap(fn, f"{mod_name.rsplit('.', 1)[-1]}.{attr}",
                            layer, tracer)
            setattr(holder, fname, wrapped)
            if not owner:
                replaced[id(fn)] = (fn, wrapped)
    for name, mod in list(sys.modules.items()):
        if not name.startswith("vecgo_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            hit = replaced.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, attr, hit[1])


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time in seconds: its duration minus the time its
    child spans cover (children of one span never overlap: the client
    is single-threaded)."""
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] is not None and s["parent"] in child:
            child[s["parent"]] += s["t1"] - s["t0"]
    return {s["id"]: max(0.0, (s["t1"] - s["t0"]) - child[s["id"]]) for s in spans}
