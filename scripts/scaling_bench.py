#!/usr/bin/env python
"""Scaling-efficiency evidence: identical job at two parallelism levels.

The BASELINE rule requires ≥0.8 throughput scaling efficiency between
N and 4N executors.  No real cluster exists in this sandbox, so (per
BASELINE.md) we run the *identical* index-build + query job on the same
input at ``local[8]`` and ``local[32]`` in separate JVMs and report

    efficiency = (throughput_32 / throughput_8) / 4

Usage: python scripts/scaling_bench.py [n_files]  → JSON on stdout.
Each level runs in a subprocess so the JVM/master is clean per level.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

N_FILES = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
# N and 4N parallelism levels; override e.g. SCALING_LEVELS=2,8 when the
# host carries external load (local[32] can't get 32 free cores then)
LEVELS = [int(x) for x in os.environ.get("SCALING_LEVELS", "8,32").split(",")]

CHILD = r"""
import json, os, shutil, sys, tempfile, threading, time

# RAM-backed scratch (same rationale as bench.py): the sandbox's shared
# disk shows IO contention that poisons wall times; tmpfs stands in for
# the executor-local NVMe of a real cluster node.
scratch = os.environ.get("BENCH_SCRATCH")
if not scratch:
    scratch = "/dev/shm" if os.access("/dev/shm", os.W_OK) else tempfile.gettempdir()
os.environ.setdefault("SPARK_LOCAL_SCRATCH", os.path.join(scratch, "spark_local"))
os.makedirs(os.environ["SPARK_LOCAL_SCRATCH"], exist_ok=True)

from docinsight_spark.session import get_spark
from docinsight_spark.corpus import make_corpus, make_queries
from docinsight_spark.index.builder import IndexBuilder
from docinsight_spark.index.wand import wand_search

# In-run steal telemetry: a pre-run gate cannot see co-tenant steal that
# arrives MID-leg, and on this host even 2-3 stolen cores turn a wide
# parquet-write phase into a kernel spin storm (25+ cores of system
# time, ~1 core of user work — lock-holder preemption).  The parent
# rejects reps whose in-run steal exceeds its threshold.
_steal = {"max": 0.0, "sum": 0.0, "n": 0}
def _read():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]
def _sampler(stop):
    prev = _read()
    while not stop.wait(2.0):
        cur = _read(); d = [b - a for a, b in zip(prev, cur)]; prev = cur
        tot = sum(d)
        if tot > 0 and len(d) > 7:
            s = d[7] / tot
            _steal["max"] = max(_steal["max"], s)
            _steal["sum"] += s; _steal["n"] += 1

cores = int(sys.argv[1]); n_files = int(sys.argv[2])
spark = get_spark(app_name=f"scaling_{cores}", cores=cores)
idx = tempfile.mkdtemp(prefix=f"scale_idx_{cores}_", dir=scratch)
cdir = tempfile.mkdtemp(prefix=f"scale_corpus_{cores}_", dir=scratch)
N_QUERIES = 200
try:
    make_corpus(spark, n_files, partitions=cores * 2,
                stmts_range=(30, 80)).write.mode("overwrite").parquet(cdir)
    corpus = spark.read.parquet(cdir)
    stop = threading.Event()
    th = threading.Thread(target=_sampler, args=(stop,), daemon=True)
    th.start()
    t0 = time.time()
    # n_buckets fixed across parallelism levels: the JOB must be identical,
    # only the resources change (the north-rule scaling criterion).
    b = IndexBuilder(spark, idx, n_buckets=32)
    b.build(corpus, dedup_within_run=False)
    build_s = time.time() - t0
    queries = make_queries(spark, corpus_n=n_files, n_queries=N_QUERIES)
    t0 = time.time()
    rows = wand_search(spark, idx, queries, k=10).count()
    query_s = time.time() - t0
    stop.set(); th.join(timeout=3)
    print("CHILD_RESULT " + json.dumps({
        "cores": cores, "build_sec": round(build_s, 3),
        "query_sec": round(query_s, 3), "files_per_sec": round(n_files / build_s, 2),
        "qps": round(N_QUERIES / query_s, 2), "result_rows": rows,
        "steal_max_pct": round(_steal["max"] * 100, 2),
        "steal_mean_pct": round(
            (_steal["sum"] / _steal["n"] if _steal["n"] else 0.0) * 100, 2),
    }))
finally:
    shutil.rmtree(idx, ignore_errors=True)
    shutil.rmtree(cdir, ignore_errors=True)
    spark.stop()
"""


REPEATS = int(os.environ.get("SCALING_REPEATS", "2"))
# Reject a repeat whose IN-RUN steal exceeded this (see CHILD comment);
# retry up to SCALING_MAX_TRIES total attempts per level before
# accepting a contaminated rep (flagged in the output).
STEAL_REJECT_PCT = float(os.environ.get("SCALING_STEAL_REJECT_PCT", "1.0"))
MAX_TRIES = int(os.environ.get("SCALING_MAX_TRIES", "5"))


def run_level(cores: int) -> dict:
    env = dict(os.environ)
    # memory scales with cores (as adding executors would), capped sanely
    env["SPARK_DRIVER_MEM"] = f"{min(2 * cores, 48)}g"
    best, clean_reps, tries = None, 0, 0
    while clean_reps < REPEATS and tries < MAX_TRIES:
        tries += 1
        # Gate EVERY attempt on host quiescence (loadavg AND hypervisor
        # steal): a busy physical host makes wide legs pathologically
        # slow (lock-holder preemption — see hostload.py), which once
        # produced local[32] slower than local[8] on this very script.
        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        from docinsight_spark.hostload import wait_quiet

        gate = wait_quiet()
        print(f"# level {cores} try {tries}: gate {gate}", file=sys.stderr)
        out = subprocess.run(
            [sys.executable, "-c", CHILD, str(cores), str(N_FILES)],
            capture_output=True, text=True, env=env, timeout=3600,
        )
        got = None
        for line in out.stdout.splitlines():
            if line.startswith("CHILD_RESULT "):
                got = json.loads(line[len("CHILD_RESULT "):])
        if got is None:
            raise RuntimeError(
                f"level {cores} failed:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}"
            )
        # reject on mean OR burst max: a 10% steal burst landing in one
        # write phase wrecks a wide rep even when the run mean stays low
        contaminated = (
            got.get("steal_mean_pct", 0.0) > STEAL_REJECT_PCT
            or got.get("steal_max_pct", 0.0) > 5 * STEAL_REJECT_PCT
        )
        got["in_run_contaminated"] = contaminated
        print(f"# level {cores} try {tries}: {got}", file=sys.stderr)
        if not contaminated:
            clean_reps += 1
        # best-of-N over clean reps; fall back to the least-bad
        # contaminated rep if the host never quiets down
        if best is None or (
            (not contaminated and best["in_run_contaminated"])
            or (
                contaminated == best["in_run_contaminated"]
                and got["build_sec"] + got["query_sec"]
                < best["build_sec"] + best["query_sec"]
            )
        ):
            best = got
    return best


def main() -> None:
    results = {c: run_level(c) for c in LEVELS}
    out = {"n_files": N_FILES, "levels": results}
    if len(LEVELS) >= 2:
        lo, hi = results[LEVELS[0]], results[LEVELS[-1]]
        ratio = LEVELS[-1] / LEVELS[0]
        out["build_scaling_efficiency"] = round(
            (hi["files_per_sec"] / lo["files_per_sec"]) / ratio, 3
        )
        out["query_scaling_efficiency"] = round((hi["qps"] / lo["qps"]) / ratio, 3)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
