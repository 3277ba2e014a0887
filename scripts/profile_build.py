#!/usr/bin/env python
"""Phase-level profiling of the index build (guide §1: measure first).

Replicates exactly what bench.py's ``index_build`` / ``positional_build``
stages do (build(corpus, n_runs=4, fanin=2)) but times every phase:
per-run add_run, merge_all, finalize split into stats vs encode.  Writes
one JSON line.  Not part of the driver contract — measurement only.

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
            clock("add_runs", lambda: _add_runs(b, corpus))
            clock("merge_all", lambda: b.merge_all(fanin=2))

            # finalize, split into its internal phases (mirrors finalize())
            final = [m for m in b.manifests() if m["unit"] == "merged-final"][0]
            merged_dir = final["source"]
            postings = spark.read.parquet(f"{merged_dir}/postings")
            stats = clock(
                "fin_doc_term_stats",
                lambda: b._write_doc_term_stats(postings, b.dir),
            )
            n_docs, avgdl, sum_dl = stats
            from docinsight_spark.index.builder import _atomic_write_json

            meta = {
                "n_docs": n_docs, "avgdl": avgdl, "sum_dl": sum_dl,
                "n_buckets": b.n_buckets, "n_subs": b.n_subs,
                "block_size": b.block_size, "k1": b.k1, "b": b.b,
                "code_aware": b.code_aware, "positions": b.positions,
                "query_lang": "java", "version": 5,
                "base": {"avgdl_enc": avgdl, "n_docs": n_docs,
                         "sum_dl": sum_dl, "runs": final.get("runs", [])},
                "generations": [],
            }
            _atomic_write_json(f"{b.dir}/_meta.json", meta)
            clock(
                "fin_encode_segments",
                lambda: b._encode_segments(
                    postings, f"{b.dir}/segments", avgdl, [b.dir]
                ),
            )
            t["build_total"] = round(time.time() - t0_all, 3)
            print(json.dumps({
                "round": rnd, "n_files": N_FILES, "positions": POSITIONS,
                "phases": dict(t),
            }))
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
        shutil.rmtree(corpus_dir, ignore_errors=True)
        spark.stop()


def _add_runs(b, corpus) -> None:
    """Mirror IndexBuilder.build()'s multi-run ingest phase."""
    if hasattr(b, "_ingest_runs"):
        b._ingest_runs(corpus, 4, True)
        return
    slices = corpus.randomSplit([1.0] * 4, seed=42)
    for i, sl in enumerate(slices):
        b.add_run(sl, f"run{i:05d}", True)


if __name__ == "__main__":
    main()
