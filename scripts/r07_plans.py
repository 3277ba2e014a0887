#!/usr/bin/env python
"""Capture ``explain("formatted")`` plans for the round-7 deliverable.

Runs against EITHER the current tree or a checkout of the round-6 code
(pass the repo root as argv[1], tag "before"/"after" as argv[2]); writes
``plans/r07/<name>_<tag>.txt`` under argv[3] (default: this repo).
Feature-detects the round-7 seams (``_shard_partitioned``,
``_dedup_by_doc_id``) and falls back to the literal round-6 expressions
when absent, so the same script produces both sides.  Measurement-free —
plan capture only; not part of the driver contract.

Usage: python scripts/r07_plans.py <repo_root> <before|after> [out_root]
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import sys
import tempfile

USAGE = "usage: python scripts/r07_plans.py <repo_root> <before|after> [out_root]"
if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
    sys.exit(USAGE)
REPO = os.path.abspath(sys.argv[1])
TAG = sys.argv[2]
OUT = os.path.join(
    os.path.abspath(sys.argv[3]) if len(sys.argv) > 3
    else os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans", "r07",
)
sys.path.insert(0, REPO)
os.makedirs(OUT, exist_ok=True)

N_FILES = int(os.environ.get("R07_PLAN_FILES", "2000"))
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "8")


def grab(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def save(name: str, text: str) -> None:
    with open(os.path.join(OUT, f"{name}_{TAG}.txt"), "w") as f:
        f.write(text)
    print(f"wrote {name}_{TAG}.txt ({len(text)} bytes)")


def main() -> None:
    scratch = "/dev/shm"
    os.environ.setdefault("SPARK_LOCAL_SCRATCH", os.path.join(scratch, "spark_local"))
    os.makedirs(os.environ["SPARK_LOCAL_SCRATCH"], exist_ok=True)

    from docinsight_spark.corpus import make_corpus, make_queries
    from docinsight_spark.evaluation import oracle_from_index
    from docinsight_spark.functions.tokenizer import tokenize_code_pandas
    from docinsight_spark.index.builder import IndexBuilder
    from docinsight_spark.index.phrase import phrase_search, proximity_search
    from docinsight_spark.index.wand import Searcher
    from docinsight_spark.operators.postings import with_doc_id
    from docinsight_spark.session import get_spark

    spark = get_spark(app_name=f"r07_plans_{TAG}", cores=CPUS)
    corpus_dir = tempfile.mkdtemp(prefix="plan_corpus_", dir=scratch)
    idx_dir = tempfile.mkdtemp(prefix="plan_idx_", dir=scratch)
    pos_dir = tempfile.mkdtemp(prefix="plan_pos_", dir=scratch)
    try:
        make_corpus(spark, N_FILES, partitions=int(CPUS) * 2).write.mode(
            "overwrite"
        ).parquet(corpus_dir)
        corpus = spark.read.parquet(corpus_dir)

        # ingest-dedup plan: the docID dedup inside add_run (round 7:
        # key-only agg + broadcast anti/semi vs full-content shuffle)
        b = IndexBuilder(spark, idx_dir, n_buckets=32)
        docs = with_doc_id(corpus)
        if hasattr(b, "_dedup_by_doc_id"):
            deduped = b._dedup_by_doc_id(docs)
        else:
            deduped = docs.dropDuplicates(["docID"])
        save("ingest_dedup", grab(deduped))

        b.build(corpus)

        # merge-wave plan: the repartition feeding one merge write
        # (round 7: probe-int hash repartition vs repartitionByRange)
        runs_root = f"{idx_dir}/runs"
        run_postings = sorted(
            f"{runs_root}/{r}/postings" for r in os.listdir(runs_root)
        )
        postings = b._read_plain(run_postings)
        if hasattr(b, "_shard_partitioned"):
            part = b._shard_partitioned(postings)
        else:
            part = postings.repartitionByRange(
                b.n_shards, "doc_bucket", "doc_sub"
            )
        save(
            "merge_wave",
            grab(part.sortWithinPartitions(
                "doc_bucket", "doc_sub", "term", "docID"
            )),
        )

        # exact-BM25 oracle over the index (round 7: driver-side qterms
        # replace the per-call tokenize-UDF job + distinct exchange)
        queries = make_queries(spark, corpus_n=N_FILES, n_queries=40)
        save("oracle_search", grab(
            oracle_from_index(spark, idx_dir, queries, k=10)
        ))

        # positional index for phrase/NEAR plans (bench geometry)
        IndexBuilder(spark, pos_dir, n_buckets=32, positions=True).build(corpus)
        pdf_s = corpus.limit(30).toPandas()
        toks_s = tokenize_code_pandas(pdf_s["content"], pdf_s["lang"])
        phrases: list[tuple[int, str]] = []
        for i, ts in enumerate(toks_s):
            if len(phrases) >= 10:
                break
            ts = list(ts)
            if len(ts) < 8:
                continue
            n = 2 + (i % 2)
            st = (i * 13) % (len(ts) - n)
            phrases.append((len(phrases), " ".join(ts[st : st + n])))
        assert phrases, "no corpus doc yielded a phrase to capture"

        save("phrase_topk", grab(phrase_search(spark, pos_dir, phrases, k=10)))
        save("proximity_topk", grab(
            proximity_search(spark, pos_dir, phrases, k=10, window=4)
        ))

        # warm Searcher phrase serving (round 7: pinned positional
        # frames — the warm plan reads InMemoryRelation, not parquet)
        s = Searcher(spark, pos_dir, cache=True)
        s.phrase(phrases[:1], k=10).count()  # warm the pins
        save("searcher_phrase_warm", grab(s.phrase(phrases[:2], k=10)))
    finally:
        shutil.rmtree(corpus_dir, ignore_errors=True)
        shutil.rmtree(idx_dir, ignore_errors=True)
        shutil.rmtree(pos_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
