#!/usr/bin/env python
"""Phase-level profiling of the index build (guide §1: measure first).

Replicates exactly what bench.py's ``index_build`` / ``positional_build``
stages do (build(corpus, n_runs=4, fanin=2)) but times every phase:
the fused multi-run ingest, merge_all, and finalize with its stats and
encode phases.  Writes one JSON line.  Not part of the driver contract
— measurement only.

Usage: python scripts/profile_build.py [n_files] [--positions]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_FILES = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 20000
POSITIONS = "--positions" in sys.argv
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    scratch = "/dev/shm"
    os.environ.setdefault("SPARK_LOCAL_SCRATCH", os.path.join(scratch, "spark_local"))
    os.makedirs(os.environ["SPARK_LOCAL_SCRATCH"], exist_ok=True)

    from docinsight_spark.corpus import make_corpus
    from docinsight_spark.index.builder import IndexBuilder
    from docinsight_spark.session import get_spark

    spark = get_spark(app_name="profile_build", cores=CPUS)
    sc = spark.sparkContext
    t: dict[str, float] = {}

    def clock(name, fn):
        sc.setJobDescription(name)
        t0 = time.time()
        out = fn()
        t[name] = round(time.time() - t0, 3)
        sc.setJobDescription(None)
        return out

    def timed(name, fn):
        return lambda *a: clock(name, lambda: fn(*a))

    corpus_dir = tempfile.mkdtemp(prefix="prof_corpus_", dir=scratch)
    idx_dir = tempfile.mkdtemp(prefix="prof_idx_", dir=scratch)
    try:
        clock("datagen", lambda: make_corpus(
            spark, N_FILES, partitions=int(CPUS) * 2
        ).write.mode("overwrite").parquet(corpus_dir))
        corpus = spark.read.parquet(corpus_dir)

        for rnd in range(2):
            t.clear()
            shutil.rmtree(idx_dir, ignore_errors=True)
            os.makedirs(idx_dir, exist_ok=True)
            b = IndexBuilder(spark, idx_dir, n_buckets=32, positions=POSITIONS)

            t0_all = time.time()
            clock("add_runs", lambda: b._ingest_runs(corpus, 4, True))
            clock("merge_all", lambda: b.merge_all(fanin=2))
            # finalize's stats and encode phases, timed inside the
            # builder's own finalize() call
            b._write_doc_term_stats = timed(
                "fin_doc_term_stats", b._write_doc_term_stats
            )
            b._encode_segments = timed("fin_encode_segments", b._encode_segments)
            clock("finalize", b.finalize)
            t["build_total"] = round(time.time() - t0_all, 3)
            print(json.dumps({
                "round": rnd, "n_files": N_FILES, "positions": POSITIONS,
                "phases": dict(t),
            }))
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
        shutil.rmtree(corpus_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
