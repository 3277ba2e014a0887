"""Crash points checked against the input corpus, not only against the
index's own consistency (``fsck`` cannot see a document that was never
indexed).

* The set writer (``IndexBuilder._write_set``) behind ``finalize``,
  ``refresh_delta`` and ``compact`` lands all data before ``_meta.json``
  moves: a crash in the segment encode leaves the meta untouched, and a
  rerun converges to the uncrashed index.
* The fused multi-run ingest resumes on the same ``pmod(xxhash64(docID),
  k)`` run key: a crash at any per-run commit loses no document.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pytest

from docinsight_spark.corpus import make_corpus, make_queries
from docinsight_spark.index.builder import IndexBuilder, load_doc_stats
from docinsight_spark.index.wand import wand_search
from docinsight_spark.operators.postings import with_doc_id

STAGES = ("finalize", "refresh_delta", "compact")


def _corpora(spark):
    return (
        make_corpus(spark, 150, seed=71, partitions=2),
        make_corpus(spark, 60, seed=72, partitions=2),
        make_corpus(spark, 40, seed=73, partitions=2),
    )


def _advance(b: IndexBuilder, corpora, stage: str) -> None:
    """Drive ``b`` through the life-cycle up to (not including) ``stage``."""
    base, d1, d2 = corpora
    b.add_run(base, "run00000")
    b.merge_all(fanin=2)
    if stage == "finalize":
        return
    b.finalize()
    b.add_run(d1, "d1")
    if stage == "refresh_delta":
        return
    b.refresh_delta(fanin=2)
    b.add_run(d2, "d2")
    b.refresh_delta(fanin=2)


def _run_stage(b: IndexBuilder, stage: str) -> None:
    if stage == "finalize":
        b.finalize()
    elif stage == "refresh_delta":
        assert b.refresh_delta(fanin=2) == "gen0001"
    else:
        assert b.compact(force=True) == "gen0003"


def _state(spark, d: str) -> tuple[int, int, list]:
    meta = IndexBuilder(spark, d, n_buckets=4).meta()
    q = make_queries(spark, corpus_n=150, n_queries=10)
    res = sorted(
        (int(r["query_id"]), int(r["rank"]), int(r["docID"]), float(r["score"]))
        for r in wand_search(spark, d, q, k=10).collect()
    )
    return int(meta["n_docs"]), int(meta["sum_dl"]), res


@pytest.fixture(scope="module")
def uncrashed(spark, tmp_path_factory):
    """Index state after each stage of one uncrashed life-cycle."""
    d = str(tmp_path_factory.mktemp("uncrashed"))
    b = IndexBuilder(spark, d, n_buckets=4)
    base, d1, d2 = _corpora(spark)
    b.add_run(base, "run00000")
    b.merge_all(fanin=2)
    b.finalize()
    out = {"finalize": _state(spark, d)}
    b.add_run(d1, "d1")
    b.refresh_delta(fanin=2)
    out["refresh_delta"] = _state(spark, d)
    b.add_run(d2, "d2")
    b.refresh_delta(fanin=2)
    b.compact(force=True)
    out["compact"] = _state(spark, d)
    return out


@pytest.mark.parametrize("stage", STAGES)
def test_set_writer_crash_leaves_meta_and_converges(
    spark, tmp_path, monkeypatch, uncrashed, stage
):
    d = str(tmp_path / "idx")
    _advance(IndexBuilder(spark, d, n_buckets=4), _corpora(spark), stage)
    meta = Path(d) / "_meta.json"
    before = meta.read_bytes() if meta.exists() else None
    assert (before is None) == (stage == "finalize")

    def boom(self, *a, **k):
        raise RuntimeError("injected crash in segment encode")

    monkeypatch.setattr(IndexBuilder, "_encode_segments", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        _run_stage(IndexBuilder(spark, d, n_buckets=4), stage)
    monkeypatch.undo()
    after = meta.read_bytes() if meta.exists() else None
    assert after == before  # readers never saw the half-written set

    _run_stage(IndexBuilder(spark, d, n_buckets=4), stage)
    n, s, res = _state(spark, d)
    n_ref, s_ref, res_ref = uncrashed[stage]
    assert (n, s) == (n_ref, s_ref)
    assert len(res) > 0
    assert [r[:3] for r in res] == [r[:3] for r in res_ref]
    assert np.allclose([r[3] for r in res], [r[3] for r in res_ref], atol=1e-9)
    assert IndexBuilder(spark, d, n_buckets=4).fsck()["ok"]


N_RUNS = 4


@pytest.mark.parametrize("crash_at", range(1, N_RUNS + 1))
def test_ingest_resume_after_run_commit_crash_loses_no_docs(
    spark, tmp_path, monkeypatch, tiny_corpus, crash_at
):
    """Crash at the ``crash_at``-th per-run commit of a fused
    ``build(n_runs=4)``, rerun with a fresh builder: the indexed docID
    set is the corpus docID set, each doc admitted exactly once."""
    d = str(tmp_path / "idx")
    orig = IndexBuilder._commit
    seen = []

    def crashing_commit(self, unit, **counters):
        if unit.startswith("run-"):
            seen.append(unit)
            if len(seen) == crash_at:
                raise RuntimeError(f"injected crash at {unit}")
        return orig(self, unit, **counters)

    monkeypatch.setattr(IndexBuilder, "_commit", crashing_commit)
    with pytest.raises(RuntimeError, match="injected crash"):
        IndexBuilder(spark, d, n_buckets=4).build(tiny_corpus, n_runs=N_RUNS)
    monkeypatch.undo()

    b = IndexBuilder(spark, d, n_buckets=4)
    b.build(tiny_corpus, n_runs=N_RUNS)
    want = {
        int(r["docID"])
        for r in with_doc_id(tiny_corpus).select("docID").distinct().collect()
    }
    meta = b.meta()
    got = [int(r["docID"]) for r in load_doc_stats(spark, d, meta).collect()]
    assert sorted(got) == sorted(want)
    assert meta["n_docs"] == len(want)
    runs = [m for m in b.manifests() if m["unit"].startswith("run-")]
    assert len(runs) == N_RUNS
    assert sum(int(m["docs"]) for m in runs) == len(want)
    assert b.fsck()["ok"]
