#!/usr/bin/env python
"""Skew stress bench: a pathological hot-term corpus must not straggle.

VERDICT r2 item 6: the engine's skew story (doc-partitioned shards —
``builder.py`` — and salted df aggregation — ``postings.py``) was argued
but never measured.  This script builds an index over a corpus where one
term appears in ~90 % of documents, then reads **per-task durations**
for every completed stage from the Spark UI REST API and reports
max/median task time for the heaviest stages.  A skew-broken plan shows
one task ~N× the median (the straggler); the doc-partitioned design
should keep max/median bounded (~≤4 even with AQE coalescing noise).

Usage: python scripts/skew_bench.py [n_files] → JSON on stdout.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_FILES = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
HOT_FRACTION = 0.9


def _scratch() -> str:
    env = os.environ.get("BENCH_SCRATCH")
    if env:
        return env
    return "/dev/shm" if os.access("/dev/shm", os.W_OK) else tempfile.gettempdir()


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read().decode())


def task_summaries(spark) -> list[dict]:
    """max/median task duration per completed stage, heaviest first."""
    ui = spark.sparkContext.uiWebUrl
    apps = _get_json(f"{ui}/api/v1/applications")
    app_id = apps[0]["id"]
    stages = _get_json(f"{ui}/api/v1/applications/{app_id}/stages?status=COMPLETE")
    out = []
    for st in stages:
        sid, att = st["stageId"], st["attemptId"]
        n = st.get("numCompleteTasks", 0)
        if n < 8:  # skew is a multi-task phenomenon
            continue
        try:
            q = _get_json(
                f"{ui}/api/v1/applications/{app_id}/stages/{sid}/{att}/taskSummary"
                "?quantiles=0.5,1.0"
            )
        except Exception:
            continue
        p50, mx = q["executorRunTime"]
        if mx <= 0 or p50 <= 0:
            continue
        out.append(
            {
                "stage": sid,
                "name": st.get("name", "")[:60],
                "tasks": n,
                "task_p50_ms": round(p50, 1),
                "task_max_ms": round(mx, 1),
                "max_over_median": round(mx / p50, 2),
                "stage_ms": st.get("executorRunTime", 0),
            }
        )
    out.sort(key=lambda d: -d["stage_ms"])
    return out


def main() -> None:
    from docinsight_spark.hostload import wait_quiet

    gate = wait_quiet()
    print(f"# gate {gate}", file=sys.stderr)
    scratch = _scratch()
    os.environ.setdefault(
        "SPARK_LOCAL_SCRATCH", os.path.join(scratch, "spark_local")
    )
    os.makedirs(os.environ["SPARK_LOCAL_SCRATCH"], exist_ok=True)

    from pyspark.sql import functions as F

    from docinsight_spark.corpus import make_corpus
    from docinsight_spark.index.builder import IndexBuilder
    from docinsight_spark.index.wand import wand_search
    from docinsight_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="skew_bench", cores=cores, ui=True)
    idx = tempfile.mkdtemp(prefix="skew_idx_", dir=scratch)
    cdir = tempfile.mkdtemp(prefix="skew_corpus_", dir=scratch)
    try:
        # ~90 % of documents get the hot term appended (several times, so
        # its postings dominate tf mass too, not just df)
        hot = F.when(
            F.pmod(F.xxhash64("path"), F.lit(100)) < int(HOT_FRACTION * 100),
            F.concat(F.col("content"), F.lit(" hotterm" * 8)),
        ).otherwise(F.col("content"))
        make_corpus(spark, N_FILES, partitions=cores * 2).withColumn(
            "content", hot
        ).write.mode("overwrite").parquet(cdir)
        corpus = spark.read.parquet(cdir)

        t0 = time.time()
        b = IndexBuilder(spark, idx, n_buckets=32)
        b.build(corpus, dedup_within_run=False)
        build_s = time.time() - t0

        # hot-term query + mixed query against the skewed index
        q = spark.createDataFrame(
            [(0, "hotterm"), (1, "hotterm return int"), (2, "static void")],
            "query_id long, query_text string",
        )
        t0 = time.time()
        rows = wand_search(spark, idx, q, k=10).count()
        query_s = time.time() - t0

        stages = task_summaries(spark)
        top = stages[:8]
        worst = max((s["max_over_median"] for s in top), default=0.0)
        print(
            json.dumps(
                {
                    "n_files": N_FILES,
                    "hot_fraction": HOT_FRACTION,
                    "cores": cores,
                    "build_sec": round(build_s, 2),
                    "files_per_sec": round(N_FILES / build_s, 1),
                    "query_sec": round(query_s, 2),
                    "query_rows": rows,
                    "worst_max_over_median_top_stages": worst,
                    "top_stages": top,
                },
                indent=1,
            )
        )
    finally:
        shutil.rmtree(idx, ignore_errors=True)
        shutil.rmtree(cdir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
