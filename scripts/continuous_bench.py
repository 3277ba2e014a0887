#!/usr/bin/env python
"""Continuous-mode scale record: 100+ streaming micro-batches with
in-sink folds, compaction, generation GC and L0 run GC engaged.

Drives ``stream_ingest(refresh_every=R)`` over ``N_BATCHES`` pre-written
micro-batches (one file each → one epoch each) totalling ~sf0.5-scale
file counts, while a concurrent reader thread issues top-k queries
against the live index (the Searcher flips atomically at each
``_meta.json`` commit).  Records, as one JSON object per line:

* per-fold refresh latency trajectory (does fold cost stay O(delta)?)
* generation-count trajectory (does compaction bound fan-out?)
* query latency during folds (p50/p95; queries share the cluster)
* manifest-ledger evidence (loose manifest files stay bounded)
* L0 storage before/after ``gc_runs``

Env: CONT_BATCHES (default 100), CONT_FILES (files per batch, default
1000), CONT_REFRESH_EVERY (default 4), SPARK_GRAFT_CPUS (default 32),
BENCH_SCRATCH.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_BATCHES = int(os.environ.get("CONT_BATCHES", "100"))
FILES = int(os.environ.get("CONT_FILES", "1000"))
REFRESH_EVERY = int(os.environ.get("CONT_REFRESH_EVERY", "4"))
# readers run concurrently: victims need a real grace period (the
# documented contract -- grace must exceed the worst-case scan time)
GC_GRACE = float(os.environ.get("CONT_GC_GRACE", "30"))
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def main() -> None:
    scratch = os.environ.get("BENCH_SCRATCH") or (
        "/dev/shm" if os.access("/dev/shm", os.W_OK) else tempfile.gettempdir()
    )
    os.environ.setdefault(
        "SPARK_LOCAL_SCRATCH", os.path.join(scratch, "spark_local")
    )
    os.makedirs(os.environ["SPARK_LOCAL_SCRATCH"], exist_ok=True)

    from docinsight_spark.corpus import make_corpus, make_queries
    from docinsight_spark.index.builder import IndexBuilder
    from docinsight_spark.index.wand import Searcher
    from docinsight_spark.session import get_spark
    from docinsight_spark.streaming.incremental import refresh, stream_ingest

    spark = get_spark(app_name="continuous_bench", cores=CPUS)
    base = tempfile.mkdtemp(prefix="cont_", dir=scratch)
    inbox, ckpt, idx = f"{base}/inbox", f"{base}/ckpt", f"{base}/idx"
    os.makedirs(inbox, exist_ok=True)

    t0 = time.time()
    # pre-write the micro-batches: one parquet file per batch → one
    # streaming epoch per batch (maxFilesPerTrigger=1)
    for i in range(N_BATCHES):
        make_corpus(
            spark, FILES, start=i * FILES, partitions=int(CPUS)
        ).repartition(1).write.mode("append").parquet(inbox)
    datagen_sec = round(time.time() - t0, 1)

    b = IndexBuilder(spark, idx, n_buckets=32)

    # instrument the fold path: record each refresh/compact duration and
    # the generation count + loose-manifest count after each fold
    folds: list[dict] = []
    orig_refresh = b.refresh_delta
    orig_compact = b.compact

    def timed_refresh():
        t = time.time()
        gid = orig_refresh()
        dt = time.time() - t
        loose = sum(
            1 for f in os.listdir(f"{idx}/manifests")
            if f.endswith(".json") and f != "_ledger.json"
        )
        meta = b.meta() if os.path.exists(f"{idx}/_meta.json") else {}
        folds.append(
            {
                "gid": gid,
                "refresh_sec": round(dt, 2),
                "generations": len(meta.get("generations", [])),
                "n_docs": meta.get("n_docs"),
                "loose_manifests": loose,
            }
        )
        return gid

    def timed_compact(**kw):
        t = time.time()
        out = orig_compact(**kw)
        if folds:
            folds[-1]["compact_sec"] = round(time.time() - t, 2)
            folds[-1]["compacted"] = out
        return out

    # cumulative L0 reclaim accounting (the sink GCs every fold)
    gc_total = {"n": 0, "bytes": 0}
    orig_gc_runs = b.gc_runs

    def counting_gc_runs():
        pre = _du(f"{idx}/runs")
        got = orig_gc_runs()
        gc_total["n"] += len(got)
        gc_total["bytes"] += max(0, pre - _du(f"{idx}/runs"))
        return got

    b.refresh_delta = timed_refresh
    b.compact = timed_compact
    b.gc_runs = counting_gc_runs

    # concurrent reader: top-k queries against the live index while the
    # stream folds (FIFO-shared scheduler — the honest latency)
    qlat: list[float] = []
    errors: list[str] = []
    stop = threading.Event()
    queries = make_queries(spark, corpus_n=FILES, n_queries=4)

    def reader():
        s = None
        while not stop.is_set():
            t = time.time()
            try:
                if s is None:
                    if not os.path.exists(f"{idx}/_meta.json"):
                        time.sleep(0.5)
                        continue
                    s = Searcher(spark, idx, cache=False)
                s.search(queries, k=10).count()
                qlat.append(time.time() - t)
            except Exception as exc:  # mid-swap transient; reload next tick
                errors.append(repr(exc)[:200])
                s = None
            time.sleep(0.2)

    rt = threading.Thread(target=reader, daemon=True)
    rt.start()

    t0 = time.time()
    q = stream_ingest(
        spark, b, inbox, ckpt, available_now=True,
        refresh_every=REFRESH_EVERY, compact_max_generations=8,
        gc_grace_sec=GC_GRACE, max_files_per_trigger=1,
    )
    q.awaitTermination(3600)
    refresh(b)  # fold the off-cycle tail
    stream_sec = round(time.time() - t0, 1)
    stop.set()
    rt.join(timeout=30)

    runs_bytes_after = _du(f"{idx}/runs")

    meta = b.meta()
    qlat.sort()
    # only real folds count toward latency stats (a no-op refresh of an
    # already-covered tail records gid=None at ~0s)
    fold_secs = sorted(f["refresh_sec"] for f in folds if f["gid"])
    out = {
        "metric": "continuous-mode stream: fold latency + query latency "
        "during folds",
        "n_batches": N_BATCHES,
        "files_per_batch": FILES,
        "total_files": N_BATCHES * FILES,
        "refresh_every": REFRESH_EVERY,
        "datagen_sec": datagen_sec,
        "stream_wall_sec": stream_sec,
        "ingest_files_per_sec": round(N_BATCHES * FILES / stream_sec, 1),
        "n_folds": len(folds),
        "fold_p50_sec": fold_secs[len(fold_secs) // 2] if fold_secs else None,
        "fold_p95_sec": fold_secs[int(len(fold_secs) * 0.95)] if fold_secs else None,
        "fold_first3": [f["refresh_sec"] for f in folds[:3]],
        "fold_last3": [f["refresh_sec"] for f in folds[-3:]],
        "generations_trajectory": [f["generations"] for f in folds],
        "loose_manifests_max": max((f["loose_manifests"] for f in folds), default=0),
        "final_generations": len(meta.get("generations", [])),
        "final_n_docs": meta.get("n_docs"),
        "query_count_during_stream": len(qlat),
        "query_p50_sec": round(qlat[len(qlat) // 2], 2) if qlat else None,
        "query_p95_sec": round(qlat[int(len(qlat) * 0.95)], 2) if qlat else None,
        "runs_bytes_after_gc": runs_bytes_after,
        "gc_runs_reclaimed_total": gc_total["n"],
        "gc_runs_bytes_reclaimed": gc_total["bytes"],
        "reader_errors": errors[:3],
        "folds": folds,
    }
    shutil.rmtree(base, ignore_errors=True)
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
