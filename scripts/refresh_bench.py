#!/usr/bin/env python
"""Incremental-refresh cost: O(delta), not O(corpus).

Builds a base index over N_FILES, then adds a DELTA_FILES run and
measures ``refresh_delta`` (merge+encode of the delta generation only)
against a from-scratch rebuild of base+delta.  The north-rule claim this
evidences: refresh cost tracks the delta size — on a continuously
ingesting 10^12-file corpus a micro-batch refresh must not re-encode
the index.

Usage: python scripts/refresh_bench.py [n_files] [delta_files]
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
DELTA_FILES = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000


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
    from docinsight_spark.evaluation import oracle_from_index
    from docinsight_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="refresh_bench", cores=cores)
    inc = tempfile.mkdtemp(prefix="refresh_inc_", dir=scratch)
    full = tempfile.mkdtemp(prefix="refresh_full_", dir=scratch)
    cdir = tempfile.mkdtemp(prefix="refresh_corpus_", dir=scratch)
    try:
        make_corpus(spark, N_FILES, seed=1, partitions=cores * 2).write.mode(
            "overwrite"
        ).parquet(f"{cdir}/base")
        make_corpus(spark, DELTA_FILES, seed=2, partitions=cores).write.mode(
            "overwrite"
        ).parquet(f"{cdir}/delta")
        base = spark.read.parquet(f"{cdir}/base")
        delta = spark.read.parquet(f"{cdir}/delta")

        t0 = time.time()
        b = IndexBuilder(spark, inc, n_buckets=32)
        b.build(base, dedup_within_run=False)
        base_s = time.time() - t0

        b.add_run(delta, "delta", dedup_within_run=False)
        t0 = time.time()
        gid = b.refresh_delta()
        refresh_s = time.time() - t0

        t0 = time.time()
        IndexBuilder(spark, full, n_buckets=32).build(
            base.unionByName(delta), dedup_within_run=False
        )
        full_s = time.time() - t0

        # correctness spot-check: incremental == exact oracle on its own
        # relations (rank-identity through the generation path)
        q = make_queries(spark, corpus_n=N_FILES, n_queries=12)
        fast = sorted(
            map(tuple, wand_search(spark, inc, q, k=10)
                .select("query_id", "rank", "docID").collect())
        )
        orc = sorted(
            map(tuple, oracle_from_index(spark, inc, q, k=10)
                .select("query_id", "rank", "docID").collect())
        )
        print(
            json.dumps(
                {
                    "n_files": N_FILES,
                    "delta_files": DELTA_FILES,
                    "cores": cores,
                    "generation": gid,
                    "base_build_sec": round(base_s, 2),
                    "refresh_sec": round(refresh_s, 2),
                    "full_rebuild_sec": round(full_s, 2),
                    "refresh_vs_rebuild": round(refresh_s / full_s, 3),
                    "delta_fraction": round(DELTA_FILES / (N_FILES + DELTA_FILES), 3),
                    "rank_identical": fast == orc,
                    "result_rows": len(fast),
                }
            )
        )
    finally:
        for d in (inc, full, cdir):
            shutil.rmtree(d, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
