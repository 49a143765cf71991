"""Benchmark of the vecgo_spark engine.

    python3 perfbench/run.py --workload query_serve --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds every input from ``--seed``, runs
one workload (see workloads.py) through the public VectorTable and
operator APIs on ``local[nproc / 2]`` with a single closed-loop client,
warms up, measures whole steps for ``--seconds``, checks every output,
and prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` alternates untraced and traced
steps, then runs the workload's offline phase, and reports the per-layer
metrics plus the tracing overhead. A
host/config stamp and every workload-specific figure are printed as one
JSON line just before the result and saved, with the
spans of a traced run, under ``.perfbench_out/``. ``--smoke`` shrinks
every size for a quick end-to-end check.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
DEADLINE_S = 170          # the run aborts (non-zero exit) past this
RSS_SAMPLE_S = 0.25


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="length of the measured window: whole steps are run until "
                        "it has passed (at least Workload.min_steps)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny sizes: a quick correctness pass, not a measurement")
    return p.parse_args(argv)


# ------------------------------------------------------------ host probes


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (the
    Python driver, the Spark JVM and its Python workers), from /proc."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self):
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, self.tree_rss())
            self._stop_evt.wait(RSS_SAMPLE_S)

    def stop(self):
        self._stop_evt.set()
        self.join(timeout=5)
        self.peak = max(self.peak, self.tree_rss())


def cpu_stat() -> tuple[float, float] | None:
    """(total, steal) jiffies from /proc/stat's aggregate cpu line."""
    try:
        with open("/proc/stat") as fh:
            vals = [float(v) for v in fh.readline().split()[1:]]
        return sum(vals), (vals[7] if len(vals) > 7 else 0.0)
    except (OSError, ValueError, IndexError):
        return None


def gemm_gflops() -> float:
    """Best of three 1024^3 float64 matmuls: a host-health reading (a
    starved or throttled host shows single digits)."""
    import numpy as np

    n = 1024
    a = np.ones((n, n))
    a @ a
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        a @ a
        best = min(best, time.perf_counter() - t0)
    return 2.0 * n ** 3 / best / 1e9


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, timeout=10,
                             capture_output=True, text=True)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# -------------------------------------------------------------- spark env


def spark_cpus() -> int:
    """Task threads for Spark: half the host's cores. The other half
    runs the client, the driver's planning, the JVM's GC and JIT threads
    and the Python workers. On a shared 4-core host, local[4] read
    latency ranged 38 % over four runs where local[2] ranged 13 %, at
    the same median: a stage of one task per core waits for the most
    contended core."""
    return max(1, nproc() // 2)


def configure_env(workdir: str) -> None:
    """Pin Spark to half this host's cores and keep every file it writes
    inside the run's work directory."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cpus())
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM (the spark-submit launcher and the driver): temp files in
    # the work directory, no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 — the JVM may already be gone
                pass
        if proc is not None:
            try:
                if proc.stdin:
                    proc.stdin.close()
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None


# ---------------------------------------------------------------- metrics


def geomean(xs) -> float:
    return math.exp(sum(map(math.log, xs)) / len(xs))


def kind_geomean_ms(w, phase: str) -> float:
    """Geometric mean over the read kinds of each kind's geometric-mean
    latency: every kind weighs the same however many reads of it a step
    makes, and every sample counts (with a handful of reads per kind, a
    median spread wider between runs)."""
    from workloads import READ_KINDS

    vals = [geomean(v) for v in (w.c.latencies(phase, (k,)) for k in READ_KINDS) if v]
    return geomean(vals) * 1e3 if vals else 0.0


def window_stats(w, phase: str) -> dict:
    from workloads import READ_KINDS, percentile

    reads = w.c.latencies(phase, READ_KINDS)
    by_kind = {k: w.c.latencies(phase, (k,)) for k in READ_KINDS}
    out = {
        "read_latency_ms": kind_geomean_ms(w, phase),
        "read_latency_pooled_p50_ms": percentile(reads, 50) * 1e3,
        "read_latency_pooled_p90_ms": percentile(reads, 90) * 1e3,
        "reads": len(reads),
        "read_p50_ms_by_kind": {k: [percentile(v, 50) * 1e3, len(v)]
                                for k, v in by_kind.items() if v},
    }
    lat = getattr(w, "write_lat", {}).get(phase)
    if lat:
        out["write_latency_p50_ms"] = percentile(lat, 50) * 1e3
        out["write_latency_p90_ms"] = percentile(lat, 90) * 1e3
        out["writes"] = len(lat)
        out["write_rows_per_s"] = w.throughput(phase)
    return out


def end_to_end(w, setup_s: float) -> dict:
    import numpy as np

    ws = window_stats(w, "window")
    recalls = w.c.recalls["window"]
    return {
        "setup_s": (setup_s, "s"),
        "read_latency_ms": (ws["read_latency_ms"], "ms"),
        "throughput_per_s": (w.throughput(), "1/s"),
        "recall_at_10": (float(np.mean(recalls)) if recalls else 0.0, "ratio"),
        "space_amp": (w.space_amp(), "ratio"),
    }


def per_layer(w, tracer) -> dict:
    """Per-layer figures of the traced steps (phase "traced"), plus the
    offline phase's own timings, from the recorded spans."""
    import numpy as np

    from spans import LAYERS, self_times
    from workloads import READ_KINDS, WRITE_KINDS

    c = w.c
    phases = ("traced", "offline")
    # spans of the client's operations only, not of its input preparation
    spans = [s for s in tracer.spans if s["phase"] in phases and s["op"] is not None]
    selft = self_times(spans)
    out: dict[str, tuple[float, str]] = {}

    # layer self time per operation of the traced steps; the offline
    # phase's few long operations are reported by their own *_s figures
    traced_ops = c.ops["traced"]
    layer_ms = dict.fromkeys(LAYERS, 0.0)
    for s in spans:
        if s["phase"] == "traced" and s["layer"] in layer_ms:
            layer_ms[s["layer"]] += selft[s["id"]] * 1e3
    del layer_ms["operators.dedup"]   # offline only: see dedup.*_s
    for layer, ms in layer_ms.items():
        out[f"self_ms_per_op.{layer}"] = (ms / max(1, len(traced_ops)), "ms")

    jobs_by_op: dict[int, list[int]] = {}
    for s in spans:
        j = jobs_by_op.setdefault(s["op"], [0, 0])
        j[0] += s["jobs"]
        j[1] += s["tasks"]
    for kind in READ_KINDS + WRITE_KINDS:
        mine = [o for o in traced_ops if o[0] == kind]
        plan = [o[1] * 1e3 for o in mine]
        exe = [o[2] * 1e3 for o in mine]
        jobs = [jobs_by_op.get(o[3], [0, 0]) for o in mine]
        plan_ms = float(np.median(plan)) if plan else 0.0
        if kind in READ_KINDS:
            out[f"table.plan_ms.{kind}"] = (plan_ms, "ms")
            out[f"spark.exec_ms.{kind}"] = (float(np.median(exe)) if exe else 0.0, "ms")
        else:   # a write runs whole inside its call
            out[f"table.{kind}_ms"] = (plan_ms, "ms")
        out[f"spark.jobs_per_op.{kind}"] = (
            float(np.mean([j[0] for j in jobs])) if jobs else 0.0, "count")
        out[f"spark.tasks_per_op.{kind}"] = (
            float(np.mean([j[1] for j in jobs])) if jobs else 0.0, "count")
    batch = [jobs_by_op.get(o[3], [0, 0])[0] for o in c.ops["offline"] if o[0] == "batch_search"]
    out["spark.jobs_per_op.batch_search"] = (float(np.mean(batch)) if batch else 0.0, "count")

    for kind in ("knn_filtered", "ivf", "sq8_refine", "hybrid"):
        mine = [o for o in traced_ops if o[0] == kind]
        scanned = total = rows = results = 0
        for o in mine:
            for n_seg, n_all, n_rows in c.scans.get(o[3], ()):
                scanned += n_seg
                total += n_all
                rows += n_rows
            results += o[4]
        out[f"pruning.segments_scanned_frac.{kind}"] = (scanned / total if total else 0.0, "ratio")
        out[f"pruning.rows_examined_per_result.{kind}"] = (
            rows / results if results else 0.0, "ratio")

    probes = [s["t1"] - s["t0"] for s in spans if s["name"] == "ivf.probe_clusters"]
    out["ivf.probe_ms"] = (float(np.mean(probes)) * 1e3 if probes else 0.0, "ms")

    for name, (hits, misses) in w.cache_delta.items():
        out[f"cache.{name}.hit_ratio"] = (
            hits / (hits + misses) if hits + misses else 0.0, "ratio")
        out[f"cache.{name}.lookups"] = (float(hits + misses), "count")

    m = w.table.manifest
    out["storage.segments_live"] = (float(len(m.segments)), "count")
    out["storage.tombstone_files"] = (float(len(m.tombstone_files)), "count")
    # a read-only workload writes nothing past set-up: 0
    written = getattr(w, "written", None)
    out["storage.write_amp"] = (
        sum(written.values()) / max(1, w.user_bytes) if written else 0.0, "ratio")
    out["compaction.bytes_rewritten"] = (float(getattr(w, "compacted_bytes", 0)), "bytes")

    ph = c.phase_s
    out["table.load_s"] = (ph.get("load", 0.0), "s")
    out["ivf.train_s"] = (ph.get("ivf_train", 0.0), "s")
    out["table.compact_s"] = (ph.get("compact", 0.0), "s")
    out["lexical.build_s"] = (ph.get("lexical_build", 0.0), "s")
    for key in ("ivf.batch_search_s", "dedup.signatures_s", "dedup.lsh_pairs_s"):
        out[key] = (w.extra.get(key, 0.0), "s")
    out["dedup.pair_precision"] = (w.extra.get("dedup.pair_precision", 0.0), "ratio")

    # both halves follow the warm-up, so they compare like for like
    untraced = kind_geomean_ms(w, "window")
    traced = kind_geomean_ms(w, "traced")
    out["tracing.overhead_pct"] = (
        (traced / untraced - 1.0) * 100.0 if untraced else 0.0, "%")
    n_ops = sum(len(c.ops[ph]) for ph in phases)
    out["tracing.bookkeeping_ms_per_op"] = (tracer.bookkeeping_s * 1e3 / max(1, n_ops), "ms")
    return out


def warm_up(w) -> None:
    """``w.warmup_steps`` checked steps before the window, inside
    ``setup_s``: the first steps of a fresh JVM run up to twice as
    slow as later ones, and their JIT warms at a different pace on each
    run."""
    w.c.phase = "warmup"
    for _ in range(w.warmup_steps):
        w.step()


def run_window(w, tracer, traced: bool, seconds: float) -> None:
    """The measured window: whole steps (a read round or a churn
    cycle) until ``seconds`` have passed, at least ``w.min_steps``, one
    closed-loop client. A traced run alternates untraced and traced
    steps, untraced first, so both halves see the same host and engine
    state and the gap between them is the tracing overhead."""
    t0 = time.perf_counter()
    i = 0
    min_steps = max(w.min_steps, 2 if traced else 1)   # a traced run needs both halves
    while i < min_steps or time.perf_counter() - t0 < seconds:
        tracer.active = traced and i % 2 == 1
        w.c.phase = "traced" if tracer.active else "window"
        before = w.cache_stats() if tracer.active else None
        w.step()
        if before is not None:
            after = w.cache_stats()
            for name, delta in w.cache_delta.items():
                for j, side in enumerate(("hits", "misses")):
                    delta[j] += (after.get(name, {}).get(side, 0)
                                 - before.get(name, {}).get(side, 0))
        i += 1
    tracer.active = False
    w.steps_run = i
    w.window_s = time.perf_counter() - t0


def install_scan_hook(client) -> None:
    """Count, per traced operation, the segments each snapshot read
    opens against the segments the snapshot holds."""
    from vecgo_spark.plans.table import VectorTable

    orig = VectorTable._segment_df

    def counted(self, segments):
        op = client.tracer.op_id
        if client.tracer.active and op is not None and segments is not None:
            client.scans[op].append((len(segments), len(self.manifest.segments),
                                     sum(s.rows for s in segments)))
        return orig(self, segments)
    VectorTable._segment_df = counted


# ------------------------------------------------------------------- main


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "vecgo_spark")):
        print(f"perfbench: the engine package vecgo_spark is not next to "
              f"{os.path.basename(HERE)}/; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    def on_deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S}s")
    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)

    workdir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    os.makedirs(OUT, exist_ok=True)
    stat0 = cpu_stat()
    health_s0 = time.perf_counter()
    gflops = gemm_gflops()
    excluded_s = time.perf_counter() - health_s0
    configure_env(workdir)
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        from vecgo_spark.session import get_spark

        from spans import Tracer, install_hooks

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark.sparkContext if args.trace else None)
        client = workloads.Client(spark, tracer, workdir)
        sizes = workloads.SMOKE if args.smoke else workloads.FULL
        w = workloads.WORKLOADS[args.workload](client, sizes, args.seed)
        if args.trace:
            install_hooks(tracer)
            install_scan_hook(client)
        w.setup()
        warm_up(w)
        setup_s = time.perf_counter() - T_START - excluded_s - w.setup_excluded_s

        spark._jvm.System.gc()  # start every window from a collected heap
        run_window(w, tracer, traced=bool(args.trace), seconds=args.seconds)
        if args.trace:
            # the offline phase feeds only per-layer figures: an untraced
            # run skips it and ends sooner
            client.phase = "offline"
            tracer.active = True
            w.offline()
            tracer.active = False
        rss.stop()
        if args.trace:
            metrics = per_layer(w, tracer)
        else:
            metrics = end_to_end(w, setup_s)
        stat1 = cpu_stat()
        report = build_report(args, spark, w, setup_s, rss.peak, gflops, stat0, stat1)
        save(args, report, metrics, tracer.spans, client.ops)
        print(json.dumps(report), flush=True)
        result = {
            "correct": client.failed == 0,
            "attempted": client.attempted,
            "failed": client.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        signal.alarm(0)
        rss.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass


def build_report(args, spark, w, setup_s, rss_peak, gflops, stat0, stat1) -> dict:
    import numpy as np

    c = w.c
    steal = None
    if stat0 and stat1 and stat1[0] > stat0[0]:
        steal = 100.0 * (stat1[1] - stat0[1]) / (stat1[0] - stat0[0])
    figures = window_stats(w, "window")
    figures.update({k: v for k, v in w.extra.items() if not k.startswith("dedup.")})
    ph = c.phase_s
    if "compact" in ph:
        figures["index_build_s"] = ph.get("ivf_train", 0.0) + ph["compact"]
    recalls = c.recalls["window"] + c.recalls["offline"]
    figures.update({
        "steps": w.steps_run,
        "window_s": w.window_s,
        "setup_s": setup_s,
        "throughput_per_s": w.throughput(),
        "recall_at_10": float(np.mean(recalls)) if recalls else None,
        "recall_queries": len(recalls),
        "error_rate": c.failed / max(1, c.attempted),
        "space_amp": w.space_amp(),
        "peak_rss_mb": rss_peak / 2 ** 20,
        "setup_phases_s": dict(ph),
    })
    return {
        "stamp": {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "smoke": args.smoke,
            "nproc": nproc(), "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "spark_master": spark.sparkContext.master,
            "pyspark": __import__("pyspark").__version__,
            "python": platform.python_version(), "commit": git_commit(),
            "gemm_gflops": round(gflops, 1),
            "cpu_steal_pct": round(steal, 2) if steal is not None else None,
        },
        "figures": figures,
        "failures": c.failures,
    }


def save(args, report, metrics, spans, ops) -> None:
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(OUT, name + ".json"), "w") as fh:
        json.dump({**report, "metrics": {k: v for k, (v, _) in metrics.items()},
                   "ops": ops}, fh, indent=1)
    if spans:
        with open(os.path.join(OUT, name + ".spans.jsonl"), "w") as fh:
            for s in spans:
                fh.write(json.dumps(s) + "\n")


if __name__ == "__main__":
    sys.exit(main())
