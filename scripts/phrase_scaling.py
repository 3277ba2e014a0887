#!/usr/bin/env python
"""Scaling legs for the positional/phrase path: identical job at two
parallelism levels (same methodology as ``scaling_bench.py`` — this
sandbox has no cluster, so N vs 4N cores in separate JVMs stands in for
N vs 4N executors; see BENCH/BASELINE.md for the 8→32 single-box
memory-bus caveat).

The job per level: positional index build (positions=True) over a
deterministic corpus + a 100-phrase exact-phrase batch in one plan.
Reports per-level build files/sec and phrase qps plus

    efficiency = (throughput_hi / throughput_lo) / (hi / lo)

Usage: python scripts/phrase_scaling.py [n_files] → JSON on stdout.
Levels via SCALING_LEVELS (default "2,8"); host-gated, steal-rejecting,
best-of-N like every bench in this repo.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

N_FILES = int(sys.argv[1]) if len(sys.argv) > 1 else 60_000
LEVELS = [int(x) for x in os.environ.get("SCALING_LEVELS", "2,8").split(",")]

CHILD = r"""
import json, os, shutil, sys, tempfile, threading, time

scratch = os.environ.get("BENCH_SCRATCH")
if not scratch:
    scratch = "/dev/shm" if os.access("/dev/shm", os.W_OK) else tempfile.gettempdir()
os.environ.setdefault("SPARK_LOCAL_SCRATCH", os.path.join(scratch, "spark_local"))
os.makedirs(os.environ["SPARK_LOCAL_SCRATCH"], exist_ok=True)

from docinsight_spark.session import get_spark
from docinsight_spark.corpus import make_corpus
from docinsight_spark.functions.tokenizer import tokenize_code_pandas
from docinsight_spark.index.builder import IndexBuilder
from docinsight_spark.index.phrase import phrase_search

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
spark = get_spark(app_name=f"phrase_scaling_{cores}", cores=cores)
idx = tempfile.mkdtemp(prefix=f"phsc_idx_{cores}_", dir=scratch)
cdir = tempfile.mkdtemp(prefix=f"phsc_corpus_{cores}_", dir=scratch)
N_PHRASES = 100
try:
    make_corpus(spark, n_files, partitions=cores * 2,
                stmts_range=(30, 80)).write.mode("overwrite").parquet(cdir)
    corpus = spark.read.parquet(cdir)
    stop = threading.Event()
    th = threading.Thread(target=_sampler, args=(stop,), daemon=True)
    th.start()
    t0 = time.time()
    # identical job across levels: only resources change
    b = IndexBuilder(spark, idx, n_buckets=32, positions=True)
    b.build(corpus, dedup_within_run=False)
    build_s = time.time() - t0
    # deterministic phrase set straight from the corpus GENERATOR (not a
    # limit() sample — limit is partitioning-dependent, which would give
    # each parallelism level a different workload): doc i's tokens are
    # identical on every level by construction
    import pandas as pd
    from docinsight_spark.corpus import gen_file

    gpdf = pd.DataFrame([gen_file(i, 42, (30, 80)) for i in range(3 * N_PHRASES)])
    toks = tokenize_code_pandas(gpdf["content"], gpdf["lang"])
    phrases = []
    for i, ts in enumerate(toks):
        if len(phrases) >= N_PHRASES:
            break
        ts = list(ts)
        if len(ts) < 10:
            continue
        n = 2 + (i % 2)
        st = (i * 17) % (len(ts) - n)
        phrases.append((len(phrases), " ".join(ts[st : st + n])))
    t0 = time.time()
    rows = phrase_search(spark, idx, phrases, k=10).count()
    phrase_s = time.time() - t0
    stop.set(); th.join(timeout=3)
    print("CHILD_RESULT " + json.dumps({
        "cores": cores, "build_sec": round(build_s, 3),
        "phrase_sec": round(phrase_s, 3),
        "files_per_sec": round(n_files / build_s, 2),
        "phrase_qps": round(len(phrases) / phrase_s, 2),
        "result_rows": rows,
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
STEAL_REJECT_PCT = float(os.environ.get("SCALING_STEAL_REJECT_PCT", "1.0"))
MAX_TRIES = int(os.environ.get("SCALING_MAX_TRIES", "5"))


def run_level(cores: int) -> dict:
    env = dict(os.environ)
    env["SPARK_DRIVER_MEM"] = f"{min(2 * cores, 48)}g"
    best, clean_reps, tries = None, 0, 0
    while clean_reps < REPEATS and tries < MAX_TRIES:
        tries += 1
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
        contaminated = (
            got.get("steal_mean_pct", 0.0) > STEAL_REJECT_PCT
            or got.get("steal_max_pct", 0.0) > 5 * STEAL_REJECT_PCT
        )
        got["in_run_contaminated"] = contaminated
        print(f"# level {cores} try {tries}: {got}", file=sys.stderr)
        if not contaminated:
            clean_reps += 1
        if best is None or (
            (not contaminated and best["in_run_contaminated"])
            or (
                contaminated == best["in_run_contaminated"]
                and got["build_sec"] + got["phrase_sec"]
                < best["build_sec"] + best["phrase_sec"]
            )
        ):
            best = got
    return best


def main() -> None:
    lo, hi = run_level(LEVELS[0]), run_level(LEVELS[1])
    ratio = LEVELS[1] / LEVELS[0]
    out = {
        "n_files": N_FILES,
        "levels": LEVELS,
        "lo": lo,
        "hi": hi,
        "build_efficiency": round(
            (hi["files_per_sec"] / lo["files_per_sec"]) / ratio, 3
        ),
        "phrase_efficiency": round(
            (hi["phrase_qps"] / lo["phrase_qps"]) / ratio, 3
        ),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
