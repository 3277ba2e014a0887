#!/usr/bin/env python
"""Query cost vs generation count, and the compaction payoff.

Each delta refresh adds a segment generation; the query path unions
them (read amplification — the LSM tradeoff `IndexBuilder.compact`
exists to bound).  This measures a base index absorbing N_DELTAS
delta refreshes: per-refresh wall time, the query-batch wall time at
each generation count, compaction wall time, and the query time after
compaction — the numbers that justify the compaction policy's
`max_generations` knob.

Usage: python scripts/generation_bench.py [base_files] [delta_files] [n_deltas]
→ JSON on stdout.  Host-gated like every bench in this repo.
Env ``GEN_BENCH_POSITIONS=1`` runs the WHOLE life-cycle with
``positions=True`` (``array<int>`` position lists riding every
merge/fold) — the positional generation-overhead record.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_FILES = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
DELTA_FILES = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000
N_DELTAS = int(sys.argv[3]) if len(sys.argv) > 3 else 5


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
    spark = get_spark(app_name="generation_bench", cores=cores)
    idx = tempfile.mkdtemp(prefix="gen_bench_", dir=scratch)
    queries = make_queries(spark, corpus_n=BASE_FILES, n_queries=40)
    queries.cache().count()

    def qtime() -> float:
        t0 = time.time()
        wand_search(spark, idx, queries, k=10).count()
        return round(time.time() - t0, 2)

    try:
        positions = os.environ.get("GEN_BENCH_POSITIONS", "") == "1"
        b = IndexBuilder(spark, idx, n_buckets=32, positions=positions)
        t0 = time.time()
        b.build(
            make_corpus(spark, BASE_FILES, seed=1, partitions=cores * 2),
            n_runs=2, fanin=2, dedup_within_run=False,
        )
        base_s = round(time.time() - t0, 2)
        query_by_gens = {0: qtime()}
        refresh_secs = []
        for i in range(N_DELTAS):
            b.add_run(
                make_corpus(
                    spark, DELTA_FILES, seed=1, partitions=cores,
                    start=BASE_FILES + i * DELTA_FILES,
                ),
                f"delta{i}", dedup_within_run=False,
            )
            t0 = time.time()
            b.refresh_delta(fanin=2)
            refresh_secs.append(round(time.time() - t0, 2))
            query_by_gens[i + 1] = qtime()
        t0 = time.time()
        gid = b.compact(force=True)
        compact_s = round(time.time() - t0, 2)
        q_after_compact = qtime()
        print(
            json.dumps(
                {
                    "positions": positions,
                    "base_files": BASE_FILES,
                    "delta_files": DELTA_FILES,
                    "n_deltas": N_DELTAS,
                    "cores": cores,
                    "base_build_sec": base_s,
                    "refresh_secs": refresh_secs,
                    "query_sec_by_generations": query_by_gens,
                    "compact_sec": compact_s,
                    "compacted_into": gid,
                    "query_sec_after_compact": q_after_compact,
                }
            )
        )
    finally:
        shutil.rmtree(idx, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
