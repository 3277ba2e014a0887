"""DFS-safe lineage IO: the whole index lifecycle must work when the
index dir is a filesystem URI (``file://`` stands in for s3://hdfs://
— every driver-side file op goes through pyarrow.fs, never os/glob)."""

from __future__ import annotations

import pytest
from conftest import add_runs
from pyarrow import fs as pafs

from docinsight_spark.corpus import make_corpus, make_queries
from docinsight_spark.index import fsio
from docinsight_spark.index.builder import IndexBuilder, purge_index
from docinsight_spark.index.wand import wand_search


def test_resolve_uri_and_plain(tmp_path):
    fs, p = fsio.resolve(f"file://{tmp_path}")
    assert isinstance(fs, pafs.LocalFileSystem) and p == str(tmp_path)
    fs2, p2 = fsio.resolve(str(tmp_path))
    assert isinstance(fs2, pafs.LocalFileSystem) and p2 == str(tmp_path)


def test_json_roundtrip_and_listing_via_uri(tmp_path):
    base = f"file://{tmp_path}/lineage"
    fsio.makedirs(base)
    fsio.write_json_atomic(f"{base}/a.json", {"x": 1})
    fsio.write_json_atomic(f"{base}/b.json", {"y": [1, 2]})
    assert fsio.read_json(f"{base}/a.json") == {"x": 1}
    assert fsio.listdir(base) == ["a.json", "b.json"]
    assert fsio.exists(f"{base}/a.json") and not fsio.exists(f"{base}/c.json")
    fsio.remove(f"{base}/a.json")
    assert fsio.listdir(base) == ["b.json"]
    fsio.rmtree(base)
    assert not fsio.exists(base)
    assert fsio.listdir(base) == []


def test_full_build_and_query_on_file_uri(spark, tmp_path, tiny_corpus):
    """End-to-end: build, manifest lineage, footer counters, bucket-local
    doc-stats reads inside kernels, query — all against file://."""
    idx = f"file://{tmp_path}/idx_uri"
    b = IndexBuilder(spark, idx, n_buckets=4)
    add_runs(b, tiny_corpus, 2)
    b.merge_all()
    b.finalize()
    units = {m["unit"] for m in b.manifests()}
    assert "merged-final" in units and "finalize" in units
    assert b.meta()["n_docs"] == 200
    q = make_queries(spark, corpus_n=200, n_queries=6)
    res = wand_search(spark, idx, q, k=5)
    assert res.count() > 0
    # resume still short-circuits through the URI
    b2 = IndexBuilder(spark, idx, n_buckets=4)
    add_runs(b2, tiny_corpus, 2)
    b2.merge_all()
    b2.finalize()
    purge_index(idx)
    assert not fsio.exists(f"{idx}/segments")


def test_stray_tmp_manifest_ignored(spark, tmp_path, tiny_corpus):
    """A crash between tmp-write and rename must not poison lineage."""
    idx = str(tmp_path / "idx_tmpfile")
    b = IndexBuilder(spark, idx, n_buckets=4)
    b.add_run(tiny_corpus, "base")
    stray = f"{idx}/manifests/run-ghost.json.tmp.12345"
    fsio.makedirs(f"{idx}/manifests")
    import json

    with open(stray, "w") as f:
        json.dump({"unit": "run-ghost", "status": "complete",
                   "run_id": "ghost", "docs": 1}, f)
    units = {m["unit"] for m in b.manifests()}
    assert units == {"run-base"}


def test_incremental_gate_on_file_uri(spark, tmp_path, tiny_corpus):
    idx = f"file://{tmp_path}/idx_uri2"
    b = IndexBuilder(spark, idx, n_buckets=4)
    b.add_run(tiny_corpus, "base")
    b.add_run(make_corpus(spark, 250, seed=42), "delta")
    m = {x["unit"]: x for x in b.manifests()}
    assert m["run-delta"]["docs"] == 50
