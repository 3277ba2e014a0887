#!/usr/bin/env python
"""Offline-batch query throughput: a big query batch against one index.

The interactive path is measured by ``bench.py`` (40-query batch, p50
latency).  This measures the OTHER regime the engine claims to handle —
a large offline batch (default 10,000 queries), where the round-2/3
engineering matters: bounded query waves (``wand.QUERY_CHUNK_SIZE``)
keep the per-task kernel loop O(shards × wave) and the query-map
broadcast bounded, while decoded posting-block caches amortize across
every query that shares a term in a wave.

Usage: python scripts/batch_query_bench.py [n_files] [n_queries]
→ JSON on stdout.  Host-gated like every bench in this repo.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_FILES = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
N_QUERIES = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000


def main() -> None:
    from docinsight_spark.hostload import wait_quiet

    gate = wait_quiet()
    print(f"# gate {gate}", file=sys.stderr)

    scratch = os.environ.get("BENCH_SCRATCH") or (
        "/dev/shm" if os.access("/dev/shm", os.W_OK) else tempfile.gettempdir()
    )
    os.environ.setdefault("SPARK_LOCAL_SCRATCH", os.path.join(scratch, "spark_local"))
    os.makedirs(os.environ["SPARK_LOCAL_SCRATCH"], exist_ok=True)

    from docinsight_spark.corpus import make_corpus, make_queries
    from docinsight_spark.index.builder import IndexBuilder
    from docinsight_spark.index.wand import wand_search
    from docinsight_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="batch_query_bench", cores=cores)
    idx = tempfile.mkdtemp(prefix="batch_idx_", dir=scratch)
    cdir = tempfile.mkdtemp(prefix="batch_corpus_", dir=scratch)
    try:
        make_corpus(spark, N_FILES, partitions=cores * 2).write.mode(
            "overwrite"
        ).parquet(cdir)
        corpus = spark.read.parquet(cdir)
        t0 = time.time()
        IndexBuilder(spark, idx, n_buckets=32).build(
            corpus, dedup_within_run=False
        )
        build_s = time.time() - t0

        queries = make_queries(spark, corpus_n=N_FILES, n_queries=N_QUERIES)
        queries.cache().count()
        wave_stats: dict = {}
        t0 = time.time()
        rows = wand_search(spark, idx, queries, k=10, stats_out=wave_stats).count()
        batch_s = time.time() - t0

        # boolean-AND batch (round 6): the same query set served
        # conjunctively through the kernel's mandatory-term intersection
        t0 = time.time()
        and_rows = wand_search(
            spark, idx, queries, k=10, require_all=True
        ).count()
        and_batch_s = time.time() - t0

        def _vm(key: str) -> int:
            with open("/proc/self/status") as fh:
                for line in fh:
                    if line.startswith(key):
                        return int(line.split()[1])  # kB
            return 0

        wave_stats["driver_peak_rss_mb"] = round(_vm("VmHWM") / 1024, 1)
        print(
            json.dumps(
                {
                    "n_files": N_FILES,
                    "n_queries": N_QUERIES,
                    "cores": cores,
                    "build_sec": round(build_s, 2),
                    "batch_sec": round(batch_s, 2),
                    "qps": round(N_QUERIES / batch_s, 1),
                    "result_rows": rows,
                    "and_batch_sec": round(and_batch_s, 2),
                    "and_qps": round(N_QUERIES / and_batch_s, 1),
                    "and_result_rows": and_rows,
                    # bounded-driver evidence: pairs resident per wave,
                    # not per batch (wand._wave_qmaps)
                    **wave_stats,
                }
            )
        )
    finally:
        shutil.rmtree(idx, ignore_errors=True)
        shutil.rmtree(cdir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
