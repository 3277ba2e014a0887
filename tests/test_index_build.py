"""Physical index build + merge waves + resume + WAND rank identity
(SURVEY §5 items 2-4)."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from docinsight_spark.corpus import make_corpus, make_queries
from docinsight_spark.index.builder import IndexBuilder
from docinsight_spark.index.wand import wand_search
from docinsight_spark.operators.postings import (
    build_postings,
    corpus_stats,
    doc_stats,
    term_stats,
    with_doc_id,
)
from docinsight_spark.operators.query import search


@pytest.fixture(scope="module")
def built_index(spark, tmp_path_factory, tiny_corpus):
    d = str(tmp_path_factory.mktemp("idx"))
    b = IndexBuilder(spark, d, n_buckets=8)
    b.build(tiny_corpus, n_runs=3, fanin=2)
    return b


def test_manifests_and_lineage(built_index):
    units = {m["unit"] for m in built_index.manifests()}
    assert {"run-run00000", "run-run00001", "run-run00002"} <= units
    assert any(u.startswith("merge-w0") for u in units)  # wave 0 ran
    assert "merged-final" in units and "finalize" in units
    fin = [m for m in built_index.manifests() if m["unit"] == "finalize"][0]
    assert fin["segments_built"] > 0
    assert fin["postings_merged"] > 0
    assert fin["bytes_compressed"] > 0
    # per-partition lineage counters exist and cover all buckets
    assert os.path.exists(f"{built_index.dir}/lineage_segments.json")
    with open(f"{built_index.dir}/lineage_segments.json") as fh:
        lineage = json.load(fh)
    assert len(lineage["per_bucket"]) == 8
    assert sum(v["segments_built"] for v in lineage["per_bucket"].values()) == (
        lineage["segments_built"]
    )


def test_merged_postings_equal_direct_build(spark, built_index, tiny_corpus):
    """Splitting into runs + merging must reproduce the one-shot postings."""
    direct = build_postings(with_doc_id(tiny_corpus))
    final = [m for m in built_index.manifests() if m["unit"] == "merged-final"][0]
    merged = spark.read.parquet(f"{final['source']}/postings").select(
        "term", "docID", "tf"
    )
    assert merged.count() == direct.count()
    assert merged.exceptAll(direct).count() == 0


def test_wand_rank_identical_to_oracle(spark, built_index, tiny_corpus):
    docs = with_doc_id(tiny_corpus)
    postings = build_postings(docs).cache()
    ts, ds = term_stats(postings), doc_stats(postings)
    st = corpus_stats(ds)
    queries = make_queries(spark, corpus_n=200, n_queries=20)

    oracle = search(queries, postings, ts, ds, st, k=10).toPandas()
    fast = wand_search(spark, built_index.dir, queries, k=10).toPandas()

    o = oracle.sort_values(["query_id", "rank"]).reset_index(drop=True)
    f = fast.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert len(o) == len(f), (len(o), len(f))
    for qid in o["query_id"].unique():
        oq = o[o["query_id"] == qid]
        fq = f[f["query_id"] == qid]
        # scores equal within 1e-9 rank-by-rank
        assert (abs(oq["score"].values - fq["score"].values) < 1e-9).all(), qid
        # docIDs identical except inside exact-tie groups
        for r in range(len(oq)):
            if oq["docID"].values[r] != fq["docID"].values[r]:
                tied = abs(oq["score"].values - oq["score"].values[r]) < 1e-9
                assert fq["docID"].values[r] in set(oq["docID"].values[tied]), (
                    qid, r, oq, fq)


def test_resume_skips_completed_units(spark, built_index, tiny_corpus, tmp_path):
    """Kill-and-restart: completed manifests short-circuit recompute and the
    final stats are byte-identical."""
    d = str(tmp_path / "idx2")
    b1 = IndexBuilder(spark, d, n_buckets=8)
    slices = tiny_corpus.randomSplit([1.0, 1.0, 1.0], seed=42)
    for i, sl in enumerate(slices):
        b1.add_run(sl, f"run{i:05d}")
    b1.merge_all(fanin=2)
    # simulate a crash before finalize: restart with a fresh builder
    b2 = IndexBuilder(spark, d, n_buckets=8)
    pre = {m["unit"]: m.get("ts") for m in b2.manifests()}
    b2.build(tiny_corpus, n_runs=3, fanin=2)  # must skip all completed units
    post = {m["unit"]: m.get("ts") for m in b2.manifests()}
    for unit, ts in pre.items():
        assert post[unit] == ts, f"unit {unit} was recomputed on resume"
    # and the resumed index answers queries identically to the first build
    q = make_queries(spark, corpus_n=200, n_queries=6)
    a = wand_search(spark, built_index.dir, q, k=5).toPandas()
    c = wand_search(spark, d, q, k=5).toPandas()
    a = a.sort_values(["query_id", "rank"]).reset_index(drop=True)
    c = c.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert (abs(a["score"] - c["score"]) < 1e-9).all()


def test_incremental_add_run_dedups_prior_docs(spark, tmp_path, tiny_corpus):
    d = str(tmp_path / "idx3")
    b = IndexBuilder(spark, d, n_buckets=4)
    b.add_run(tiny_corpus, "base")
    # adding an overlapping slice: only genuinely new docs are indexed
    extra = make_corpus(spark, 250, seed=42)  # 200 overlap + 50 new
    b.add_run(extra, "delta")
    m = {x["unit"]: x for x in b.manifests()}
    assert m["run-delta"]["docs"] == 50
    b.merge_all(fanin=2)
    b.finalize()
    assert b.meta()["n_docs"] == 250


def test_incremental_bloom_gate_matches_broadcast_gate(spark, tmp_path, tiny_corpus):
    """Force the Bloom pre-gate path (broadcast_seen_max=0): same dedup
    result as the broadcast path, and the seen side is never broadcast
    whole (no broadcast hint anywhere in the gated plan)."""
    from docinsight_spark.plans.checks import plan_text

    d = str(tmp_path / "idx_bloom")
    b = IndexBuilder(spark, d, n_buckets=4, broadcast_seen_max=0)
    b.add_run(tiny_corpus, "base")
    extra = make_corpus(spark, 250, seed=42)  # 200 overlap + 50 new
    seen = spark.read.parquet(f"{d}/runs/base/docs").select("docID")
    gated = b._gate_new_docs(with_doc_id(extra), seen, seen_total=200)
    assert "ResolvedHint" not in plan_text(gated, "extended")
    b.add_run(extra, "delta")
    m = {x["unit"]: x for x in b.manifests()}
    assert m["run-delta"]["docs"] == 50
    b.merge_all(fanin=2)
    b.finalize()
    assert b.meta()["n_docs"] == 250


def test_bloom_filter_has_no_false_negatives():
    import numpy as np

    from docinsight_spark.index.bloom import _positions, bloom_params

    rng = np.random.RandomState(7)
    keys = rng.randint(-(2**62), 2**62, size=5000, dtype=np.int64)
    m_bits, k = bloom_params(len(keys), fpp=0.01)
    bits = np.zeros((m_bits + 7) // 8, dtype=np.uint8)
    pos = _positions(keys, m_bits, k).ravel()
    np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))

    def contains(vals):
        p = _positions(vals, m_bits, k)
        hit = np.ones(len(vals), dtype=bool)
        for i in range(k):
            hit &= (bits[p[i] >> 3] >> (p[i] & 7).astype(np.uint8)) & 1 == 1
        return hit

    assert contains(keys).all()  # no false negatives, ever
    fresh = rng.randint(-(2**62), 2**62, size=20000, dtype=np.int64)
    fresh = fresh[~np.isin(fresh, keys)]
    assert contains(fresh).mean() < 0.03  # fp rate near the 1% design point


def test_merge_all_refuses_stale_run_set(spark, tmp_path, tiny_corpus):
    """After a finalized merge, adding a run and re-merging must fail
    loudly (not silently serve an index missing the new run); refresh()
    is the sanctioned path and must succeed."""
    from docinsight_spark.streaming.incremental import refresh

    d = str(tmp_path / "idx_stale")
    b = IndexBuilder(spark, d, n_buckets=4)
    b.add_run(tiny_corpus, "base")
    b.merge_all(fanin=2)
    b.merge_all(fanin=2)  # same run set: short-circuit, no error
    b.add_run(make_corpus(spark, 250, seed=42), "delta")
    with pytest.raises(ValueError, match="refresh"):
        b.merge_all(fanin=2)
    refresh(b, fanin=2)
    assert b.meta()["n_docs"] == 250


def test_purge_run_exact_manifest_match(spark, tmp_path, tiny_corpus):
    """Purging run 'r1' must not delete manifests of run 'r10'."""
    from docinsight_spark.index.builder import purge_run

    d = str(tmp_path / "idx_purge")
    b = IndexBuilder(spark, d, n_buckets=4)
    s1, s2 = tiny_corpus.randomSplit([1.0, 1.0], seed=1)
    b.add_run(s1, "r1")
    b.add_run(s2, "r10")
    purge_run(d, "r1")
    units = {m["unit"] for m in b.manifests()}
    assert "run-r10" in units and "run-r1" not in units


def test_strict_dl_flag_fails_on_corrupt_doc_stats(spark, tmp_path, tiny_corpus,
                                                   monkeypatch):
    """With DOCINSIGHT_STRICT_DL=1 a doc_stats/postings inconsistency
    surfaces as an error instead of silently mis-scoring."""
    import pyarrow.parquet as pq

    d = str(tmp_path / "idx_corrupt")
    IndexBuilder(spark, d, n_buckets=2).build(tiny_corpus)
    # corrupt: drop half the rows from one doc_stats bucket
    for f in glob.glob(f"{d}/doc_stats/doc_bucket=*/*.parquet"):
        t = pq.read_table(f)
        if t.num_rows > 1:
            pq.write_table(t.slice(0, t.num_rows // 2), f)
            break
    q = make_queries(spark, corpus_n=200, n_queries=10)
    monkeypatch.setenv("DOCINSIGHT_STRICT_DL", "1")
    from py4j.protocol import Py4JJavaError

    with pytest.raises((Py4JJavaError, Exception), match="doc_stats"):
        wand_search(spark, d, q, k=5).count()
    # default (non-strict) mode still answers
    monkeypatch.delenv("DOCINSIGHT_STRICT_DL")
    assert wand_search(spark, d, q, k=5).count() >= 0


def test_segment_files_partitioned_by_bucket(built_index):
    parts = glob.glob(f"{built_index.dir}/segments/doc_bucket=*")
    assert len(parts) == 8
    with open(f"{built_index.dir}/_meta.json") as fh:
        meta = json.load(fh)
    assert meta["n_docs"] == 200 and meta["n_buckets"] == 8


def test_segment_rows_hold_the_merged_postings(spark, built_index):
    """On disk, every segment row's docs/tfs arrays are the term's
    shard-local postings: docIDs strictly ascending, arrays aligned with
    ``n`` and the block sizes, block maxima per block — and together the
    rows hold exactly the merged (term, docID, tf) triples."""
    from docinsight_spark.index.codec import block_starts

    seg = spark.read.parquet(f"{built_index.dir}/segments")
    pdf = seg.toPandas()
    assert len(pdf) > 0
    for r in pdf.itertuples():
        docs, tfs, bn = r.docs, r.tfs, r.bn
        assert len(docs) == len(tfs) == r.n == bn.sum()
        assert (docs[1:] > docs[:-1]).all()
        assert (bn[:-1] == built_index.block_size).all()
        assert len(r.max_score) == len(r.tf_max) == len(r.dl_min) == len(bn)
        s = block_starts(bn)
        assert r.tf_max.tolist() == [tfs[a:e].max() for a, e in zip(s[:-1], s[1:])]
    final = [m for m in built_index.manifests() if m["unit"] == "merged-final"][0]
    merged = spark.read.parquet(f"{final['source']}/postings").select(
        "term", "docID", F.col("tf").cast("int").alias("tf")
    )
    stored = seg.select(
        "term", F.inline(F.arrays_zip(F.col("docs").alias("docID"), "tfs"))
    ).select("term", "docID", F.col("tfs").alias("tf"))
    assert stored.count() == merged.count()
    assert stored.exceptAll(merged).count() == 0


def test_footer_counts_distributed_matches_threaded(spark, built_index, monkeypatch):
    """Past FOOTER_DRIVER_MAX files, footer counters run as a Spark job;
    both paths must agree exactly (and per-dir splits too)."""
    import docinsight_spark.index.builder as bmod

    path = f"{built_index.dir}/segments"
    threaded_total, threaded_per = bmod._footer_rows(path, "doc_bucket")
    monkeypatch.setattr(bmod, "FOOTER_DRIVER_MAX", 0)
    dist_total, dist_per = bmod._footer_rows(path, "doc_bucket", spark=spark)
    assert dist_total == threaded_total and dist_per == threaded_per
    lin_threaded = bmod._segment_lineage(path)
    lin_dist = bmod._segment_lineage(path, spark=spark)
    assert lin_dist == lin_threaded


def test_stale_merge_guard_missing_runs_key(spark, tmp_path, tiny_corpus):
    """A merged-final manifest without a recorded run set cannot prove
    coverage — merge_all must fail loudly instead of serving it."""
    import json as _json

    d = str(tmp_path / "staleidx")
    b = IndexBuilder(spark, d, n_buckets=4)
    b.build(tiny_corpus.limit(50), n_runs=1, fanin=2)
    # the manifest may live in the rolled-up ledger by now; a loose
    # per-unit file overrides it, so write the corrupted copy loose
    m = b._manifest("merged-final")
    del m["runs"]
    with open(f"{d}/manifests/merged-final.json", "w") as fh:
        _json.dump(m, fh)
    with pytest.raises(ValueError, match="no run set"):
        b.merge_all()
