"""Per-query job/stage accounting: how many Spark jobs (and driver
seconds) does one serve of each query cost?  The r14 profile showed the
serving families bounded by the ~0.1-0.15 s per-job scheduling floor, so
the r15 lever is JOB COUNT, not stage compute — this script attributes it.

Plan building is driver work bounded by py4j: every DataFrame/functions
call crosses to the JVM at least once, and the count does not depend on
the host. So next to the job counts it prints the py4j round trips of
each plan build (send_command calls of the live gateway client, object
deletes excluded).

Usage: python scripts/profile_jobs.py [sf_dir] [--only substr,...]
Prints: name, build_s, exec_s, jobs_build, jobs_exec, py4j_build, total.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, ".")

ONLY: list[str] = []
if "--only" in sys.argv:
    i = sys.argv.index("--only")
    ONLY = sys.argv[i + 1].split(",")
    del sys.argv[i : i + 2]

sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
    "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

import __spark_entry__ as entrymod  # noqa: E402
from vecgo_spark.session import get_spark  # noqa: E402


def main() -> None:
    spark = get_spark("profile-jobs")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    def next_job_id() -> int:
        # DAGScheduler.nextJobId is the monotonically increasing job
        # counter; the delta across a region is the number of jobs it ran
        return int(sc._jsc.sc().dagScheduler().nextJobId())

    client = sc._gateway._gateway_client
    send = client.send_command
    round_trips = [0]

    def counted(command, *a, **kw):
        # py4j's finalizer thread sends object deletes through the same
        # client whenever Python frees old proxies: not the build's own
        if not command.startswith("m\nd\n"):
            round_trips[0] += 1
        return send(command, *a, **kw)

    client.send_command = counted

    queries = entrymod.queries()
    if ONLY:
        queries = {k: v for k, v in queries.items()
                   if any(s in k for s in ONLY)}

    # warm pass (fixtures, JIT) — same as bench.py
    for name, fn in queries.items():
        try:
            fn(spark, sf_dir).count()
        except Exception as exc:  # noqa: BLE001
            print(f"WARM FAIL {name}: {exc}", file=sys.stderr)

    print(f"{'query':40s} {'build_s':>8s} {'exec_s':>8s} "
          f"{'j_build':>7s} {'j_exec':>6s} {'py4j':>6s} {'total_s':>8s}")
    for name, fn in queries.items():
        sc.setJobDescription(f"profile:{name}")
        j0 = next_job_id()
        t0 = time.perf_counter()
        r0 = round_trips[0]
        try:
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            # the job-id probe below is itself a round trip: read first
            r1 = round_trips[0]
            j1 = next_job_id()
            df.count()
            t2 = time.perf_counter()
            j2 = next_job_id()
        except Exception as exc:  # noqa: BLE001
            print(f"{name:40s} FAIL {exc}")
            continue
        print(f"{name:40s} {t1 - t0:8.3f} {t2 - t1:8.3f} "
              f"{j1 - j0:7d} {j2 - j1:6d} {r1 - r0:6d} {t2 - t0:8.3f}")
        sc.setJobDescription(None)
    del client.send_command
    spark.stop()


if __name__ == "__main__":
    main()
