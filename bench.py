#!/usr/bin/env python
"""Headline benchmark: one JSON line for the driver.

Runs the engine's flagship workloads at ``$SPARK_GRAFT_SF_DIR``
(default ``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]``:

* ``index_build``   — full physical index build (tokenize → postings →
                      merge → block-max segments) over a deterministic
                      synthetic source-code corpus (BASELINE input
                      shape), plus files/sec derived metric
* ``wand_query``    — batch BM25 top-10 via the block-max fast path
* ``refresh_delta`` — O(delta) incremental refresh: a 5% delta folded
                      into the index as a segment generation (runs after
                      the base-index stages; excluded from the headline
                      total so round totals stay comparable — read
                      ``extras.refresh_vs_build``)
* ``delete_docs``   — O(tombstone) doc-level delete of a ~2% slice
                      (excluded from the total; read
                      ``extras.delete_vs_build``)
* ``bm25_oracle``   — exact DataFrame BM25 top-10 on the sf documents
* ``minhash_dedup`` — MinHash+LSH near-dup sweep on sf documents
* ``cosine_topk``   — brute-force embedding ANN baseline
* ``originality``   — scoring pipeline (normalize→fuse→gate→decay→
                      spans→roll-up) over sf events
* ``neardup_probe`` — incremental near-dup gate: delta probes the
                      persisted signature store (excluded from the
                      total; read ``extras.neardup_probe_vs_batch``)
* ``positional_build`` / ``phrase_query`` — positions=True build
                      buy-in (``extras.positional_vs_build``) and a
                      10-phrase exact-phrase batch in one plan
                      (``extras.phrase_batch_qps``); both excluded
                      from the total (new stages in round 5; round 6
                      packs positions delta-gap+VByte and scores in a
                      candidate-bounded kernel)
* ``proximity_query`` — NEAR(4) windowed-containment batch over the
                      positional index (``extras.proximity_batch_qps``;
                      excluded from the total, new in round 6)
* ``and_query``     — the 40-query mix served conjunctively through
                      the block-max kernel's mandatory-term
                      intersection (``extras.and_qps``; excluded from
                      the total, new in round 6)

Scaling evidence (local[8] vs local[32]) is produced separately by
``scripts/scaling_bench.py`` and recorded in ``BENCH/BASELINE.md``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# corpus files for the index-build benchmark (the BASELINE input shape)
N_FILES = int(os.environ.get("BENCH_CORPUS_FILES", "20000"))
# shared-host methodology (BENCH/BASELINE.md): refuse to record numbers on a
# contended machine, and take best-of-N per stage to shave residual noise.
LOAD_MAX = float(os.environ.get("BENCH_LOAD_MAX", "3.0"))
LOAD_WAIT_SEC = float(os.environ.get("BENCH_LOAD_WAIT_SEC", "900"))
REPEATS = max(1, int(os.environ.get("BENCH_REPEATS", "2")))


def _scratch_base() -> str:
    """RAM-backed scratch when available: this sandbox's disk is shared
    with other tenants (loadavg spikes from D-state IO waiters while the
    CPU sits ~98% idle), which made round-2 numbers irreproducible.  The
    benchmark measures the ENGINE, so its writable dirs (corpus, index,
    shuffle spill) go to tmpfs — the stand-in for the executor-local
    NVMe a real cluster node would have.  Override with $BENCH_SCRATCH."""
    env = os.environ.get("BENCH_SCRATCH")
    if env:
        return env
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return shm
    return tempfile.gettempdir()


def _loadavg() -> float:
    from docinsight_spark.hostload import loadavg

    return loadavg()


def _load_gate(extras: dict) -> None:
    """Block until the host is quiet (loadavg < LOAD_MAX AND hypervisor
    steal < 2 % — see docinsight_spark/hostload.py for why loadavg alone
    is blind to co-tenant VMs) or the wait budget runs out; record what
    happened either way."""
    from docinsight_spark.hostload import wait_quiet

    got = wait_quiet(load_max=LOAD_MAX, wait_sec=LOAD_WAIT_SEC)
    extras["load_gate_max"] = LOAD_MAX
    extras["load_gate_waited_sec"] = got["waited_sec"]
    extras["load_gate_steal_pct"] = got["steal_pct"]
    extras["load_gate_ok"] = got["quiet"]


def main() -> None:
    scratch = _scratch_base()
    os.environ.setdefault("SPARK_LOCAL_SCRATCH", os.path.join(scratch, "spark_local"))
    os.makedirs(os.environ["SPARK_LOCAL_SCRATCH"], exist_ok=True)

    from pyspark.sql import functions as F

    from docinsight_spark.corpus import make_corpus, make_queries
    from docinsight_spark.index.builder import IndexBuilder
    from docinsight_spark.index.wand import wand_search
    from docinsight_spark.session import get_spark

    spark = get_spark(app_name="docinsight_bench", cores=CPUS)
    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    timings: dict[str, float] = {}
    stage_load: dict[str, float] = {}
    stage_steal: dict[str, float] = {}
    extras: dict = {}
    _load_gate(extras)
    extras["loadavg_start"] = _loadavg()

    from docinsight_spark.hostload import _read_stat

    def _steal_during(fn):
        """(result, wall_sec, steal_fraction) for one call — steal is
        measured across exactly the call's wall interval."""
        a = _read_stat()
        t0 = time.time()
        out = fn()
        dt = time.time() - t0
        b = _read_stat()
        tot = sum(y - x for x, y in zip(a, b))
        steal = (b[7] - a[7]) / tot if tot > 0 and len(b) > 7 else 0.0
        return out, dt, steal

    # a stage attempt whose in-run steal exceeds this is suspect: allow
    # extra attempts (bounded) so the recorded best is a clean one when
    # the host permits it at all
    STEAL_RETRY_PCT = float(os.environ.get("BENCH_STEAL_RETRY_PCT", "1.0"))
    MAX_ATTEMPTS = max(REPEATS, int(os.environ.get("BENCH_MAX_ATTEMPTS", "4")))

    def bench(name, fn, repeats=REPEATS):
        """Run ``fn`` at least ``repeats`` times; record the fastest
        CLEAN attempt (in-run steal ≤ STEAL_RETRY_PCT — co-tenant CPU
        theft mid-stage is the noise source a pre-run gate cannot see),
        falling back to the overall fastest only when no clean attempt
        exists.  Mirrors scaling_bench.run_level(): a clean-but-slower
        rep beats a faster contaminated one.  If every attempt so far
        was contaminated, keep trying up to MAX_ATTEMPTS."""
        attempts: list[tuple[float, float, float, object]] = []  # (dt, load, steal, out)
        while len(attempts) < repeats or (
            not any(a[2] * 100 <= STEAL_RETRY_PCT for a in attempts)
            and len(attempts) < MAX_ATTEMPTS
        ):
            load = _loadavg()
            out, dt, steal = _steal_during(fn)
            attempts.append((dt, load, steal, out))
        clean = [a for a in attempts if a[2] * 100 <= STEAL_RETRY_PCT]
        best, best_load, best_steal, result = min(
            clean or attempts, key=lambda a: a[0]
        )
        timings[name] = round(best, 3)
        stage_load[name] = best_load
        stage_steal[name] = round(best_steal * 100, 2)
        return result

    idx_dir = tempfile.mkdtemp(prefix="bench_idx_", dir=scratch)
    corpus_dir = tempfile.mkdtemp(prefix="bench_corpus_", dir=scratch)
    extras["scratch"] = scratch
    try:
        # -- materialize the input table once (the engine's input is a
        #    stored Iceberg/parquet table, not a generator) ----------------
        def _datagen():
            make_corpus(spark, N_FILES, partitions=int(CPUS) * 2).write.mode(
                "overwrite"
            ).parquet(corpus_dir)

        bench("datagen", _datagen)
        corpus = spark.read.parquet(corpus_dir)

        # -- index build over the synthetic code corpus -------------------
        # each repeat rebuilds into a fresh dir (the builder is resumable,
        # so reusing the dir would measure a no-op second run)
        def _build():
            shutil.rmtree(idx_dir, ignore_errors=True)
            os.makedirs(idx_dir, exist_ok=True)
            b = IndexBuilder(spark, idx_dir, n_buckets=32)
            b.build(corpus)

        bench("index_build", _build)
        extras["index_build_files_per_sec"] = round(
            N_FILES / timings["index_build"], 2
        )
        extras["index_n_files"] = N_FILES

        # -- WAND query batch over the built index -------------------------
        queries = make_queries(spark, corpus_n=N_FILES, n_queries=40)

        def _wand():
            res = wand_search(spark, idx_dir, queries, k=10)
            return res, res.count()

        res, n = bench("wand_query", _wand)
        extras["wand_result_rows"] = n
        extras["wand_qps"] = round(40 / timings["wand_query"], 2)

        # -- model-quality metric: WAND vs exact oracle rank correlation
        #    (reference analog: scripts/evaluate_models.py Spearman) -------
        from docinsight_spark.evaluation import (
            oracle_from_index,
            per_query_rank_correlation,
            rank_correlation_summary,
        )

        def _quality():
            oracle = oracle_from_index(spark, idx_dir, queries, k=10)
            return rank_correlation_summary(
                per_query_rank_correlation(res, oracle)
            )

        corr = bench("quality_eval", _quality, repeats=1)
        extras["spearman_wand_vs_oracle"] = round(corr["mean_spearman"], 6)
        extras["min_spearman"] = round(corr["min_spearman"], 6)
        extras["pearson_wand_vs_oracle"] = round(corr["mean_pearson"], 6)

        # -- single-query latency percentiles (BASELINE: p50/p95) ----------
        # server mode: resident index (the reference serves queries from a
        # loaded FAISS index; Searcher is the analog)
        from docinsight_spark.index.wand import Searcher

        searcher = Searcher(spark, idx_dir, cache=True)
        lat = []
        for qid in range(12):
            one = queries.filter(F.col("query_id") == qid)
            t0 = time.time()
            searcher.search(one, k=10).count()
            lat.append(time.time() - t0)
        lat = lat[2:]  # drop warmup
        lat.sort()
        extras["query_p50_sec"] = round(lat[len(lat) // 2], 3)
        extras["query_p95_sec"] = round(lat[int(len(lat) * 0.95)], 3)

        # -- O(delta) incremental refresh: fold a 5% delta into the index
        #    as a segment generation (the base is not re-encoded).  Runs
        #    AFTER every stage that measures the base index, and is
        #    excluded from the headline total (new stage in round 4 —
        #    keeps the suite total comparable across rounds); the metric
        #    is the ratio vs index_build: refresh cost tracks the delta.
        delta_n = max(N_FILES // 20, 100)
        refresh_attempt = {"i": 0}

        def _refresh():
            # each retry attempt ingests a DISTINCT delta range — a
            # repeated range would dedup to an empty (cheap) generation
            # and the best-of pick would measure the wrong path
            refresh_attempt["i"] += 1
            b = IndexBuilder(spark, idx_dir, n_buckets=32)
            b.add_run(
                make_corpus(
                    spark, delta_n, partitions=int(CPUS),
                    start=N_FILES + refresh_attempt["i"] * delta_n,
                ),
                f"bdelta{refresh_attempt['i']}", dedup_within_run=False,
            )
            b.refresh_delta()

        bench("refresh_delta", _refresh, repeats=1)
        extras["refresh_delta_files"] = delta_n
        extras["refresh_vs_build"] = round(
            timings["refresh_delta"] / timings["index_build"], 3
        )

        # -- O(tombstone) doc deletes: drop a ~2% slice from the built
        #    index (no rebuild; kernel-side exclusion + df corrections).
        #    Excluded from the headline total (new stage in round 5);
        #    the metric is delete_vs_build — delete cost must track the
        #    victim set, not the corpus.
        del_attempt = {"i": 0}

        def _delete():
            # distinct victim slice per retry attempt: re-deleting an
            # already-tombstoned set no-ops and would measure nothing
            del_attempt["i"] += 1
            b = IndexBuilder(spark, idx_dir, n_buckets=32)
            victims = b.docs_dim().filter(
                F.pmod(F.xxhash64("docID"), F.lit(50))
                == (del_attempt["i"] - 1) % 50
            ).select("docID")
            return b.delete_docs(victims)

        bench("delete_docs", _delete, repeats=1)
        bmeta = IndexBuilder(spark, idx_dir, n_buckets=32).meta()
        extras["delete_n_docs"] = sum(
            t["n_docs"] for t in bmeta.get("tombstones", [])
        )
        extras["delete_vs_build"] = round(
            timings["delete_docs"] / timings["index_build"], 3
        )

        # -- contract headline queries at SF_DIR ---------------------------
        from docinsight_spark.contract import QUERIES

        heads = {
            "bm25_oracle": "bm25_topk",
            "minhash_dedup": "minhash_lsh_neardup",
            "cosine_topk": "embedding_cosine_topk",
            "originality": "originality_report",
        }
        for label, qname in heads.items():
            bench(label, lambda q=qname: QUERIES[q](spark, SF_DIR).count())

        # -- incremental near-dup gate: a 5% delta probes a store of the
        #    other 95% of the sf documents (the continuous-ingest
        #    shape: delta << corpus).  The recurring per-batch cost is
        #    the PROBE (delta-only shingling + band equi-join against
        #    persisted signatures); compare against minhash_dedup, the
        #    full batch recompute.  Excluded from the headline total
        #    (round 5).
        from docinsight_spark.index.neardup import NearDupStore

        nd_root = tempfile.mkdtemp(prefix="bench_nd_", dir=scratch)
        sf_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

        def _nd_store():
            shutil.rmtree(nd_root, ignore_errors=True)
            s = NearDupStore(spark, nd_root, n=2, n_hashes=8, bands=4)
            s.add(
                sf_docs.filter(F.col("doc_id") % 20 != 0), "base",
                id_col="doc_id", text_col="text",
            )
            return s

        nds = bench("neardup_store_build", _nd_store, repeats=1)

        def _nd_probe():
            return nds.probe(
                sf_docs.filter(F.col("doc_id") % 20 == 0),
                id_col="doc_id", text_col="text", threshold=0.5,
            ).count()

        extras["neardup_probe_pairs"] = bench("neardup_probe", _nd_probe)
        extras["neardup_probe_vs_batch"] = round(
            timings["neardup_probe"] / timings["minhash_dedup"], 3
        )

        # -- positional index + exact phrase retrieval (round 5).
        #    Excluded from the headline total: positional_build is the
        #    positions=True buy-in vs index_build (same corpus/geometry);
        #    phrase_query runs a 10-phrase batch of REAL corpus bigrams/
        #    trigrams in ONE plan (the offline regime — single-phrase
        #    latency is Spark-fixed-cost-bound, see BENCH/BASELINE.md).
        from docinsight_spark.functions.tokenizer import tokenize_code_pandas
        from docinsight_spark.index.phrase import phrase_search

        pos_dir = tempfile.mkdtemp(prefix="bench_pos_", dir=scratch)

        def _pos_build():
            shutil.rmtree(pos_dir, ignore_errors=True)
            os.makedirs(pos_dir, exist_ok=True)
            IndexBuilder(
                spark, pos_dir, n_buckets=32, positions=True
            ).build(corpus)

        bench("positional_build", _pos_build, repeats=1)
        extras["positional_vs_build"] = round(
            timings["positional_build"] / timings["index_build"], 3
        )

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

        def _phrase():
            return phrase_search(spark, pos_dir, phrases, k=10).count()

        extras["phrase_batch_rows"] = bench("phrase_query", _phrase)
        extras["phrase_batch_qps"] = round(
            len(phrases) / timings["phrase_query"], 2
        )

        # -- proximity NEAR(4) over the same positional index (round 6):
        #    the same 10 term-sets served with windowed containment
        from docinsight_spark.index.phrase import proximity_search

        def _prox():
            return proximity_search(
                spark, pos_dir, phrases, k=10, window=4
            ).count()

        extras["proximity_batch_rows"] = bench("proximity_query", _prox)
        extras["proximity_batch_qps"] = round(
            len(phrases) / timings["proximity_query"], 2
        )

        # -- boolean AND through the block-max kernel (round 6): the
        #    standard 40-query mix served conjunctively on the MAIN index
        def _and():
            return wand_search(
                spark, idx_dir, queries, k=10, require_all=True
            ).count()

        extras["and_result_rows"] = bench("and_query", _and)
        extras["and_qps"] = round(40 / timings["and_query"], 2)
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
        shutil.rmtree(corpus_dir, ignore_errors=True)
        for p in os.listdir(scratch):
            if p.startswith(("bench_nd_", "bench_pos_")):
                shutil.rmtree(os.path.join(scratch, p), ignore_errors=True)
        spark.stop()

    extras["loadavg_end"] = _loadavg()
    extras["repeats"] = REPEATS
    extras["stage_loadavg"] = stage_load
    extras["stage_steal_pct"] = stage_steal
    total = round(
        sum(
            v for k, v in timings.items()
            if k not in ("datagen", "refresh_delta", "delete_docs",
                         "neardup_store_build", "neardup_probe",
                         "positional_build", "phrase_query",
                         "proximity_query", "and_query")
        ),
        3,
    )
    out = {
        "metric": "headline-suite wall time (index build + BM25 WAND/oracle "
        "+ near-dup + ANN + originality)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "extras": extras,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    sys.exit(main())
