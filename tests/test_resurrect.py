"""Resurrection: re-ingesting a doc after a tombstone delete, without a
rebuild.

The reference re-indexes a purged source by simply running ingest again
(``/root/reference/pipeline_ingest.py`` after ``db_manager.py:145-165``'s
cascade DELETE); an LSM segment index needs ordering instead: tombstone
markers are ROOT-scoped ("the copy in this root is dead"), the ingest
gate re-admits a docID once every past copy is dead (live markers +
graveyard entries == run-doc copies), and the new copy lands in a newer
root no marker covers — so the kernel's per-root exclusion and
newest-root-wins doc stats make it visible again with zero special
casing and no rebuild.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from conftest import add_runs, assert_feeds_match, result_rows
from pyspark.sql import functions as F

from docinsight_spark.corpus import make_corpus, make_queries
from docinsight_spark.evaluation import oracle_from_index
from docinsight_spark.index.builder import IndexBuilder
from docinsight_spark.index.wand import wand_search
from docinsight_spark.operators.postings import with_doc_id


def _res(df):
    return sorted(
        (int(r["query_id"]), int(r["rank"]), int(r["docID"]), float(r["score"]))
        for r in df.collect()
    )


def _assert_same(a, b, atol=1e-9):
    assert [(q, rk, d) for q, rk, d, _ in a] == [(q, rk, d) for q, rk, d, _ in b]
    assert np.allclose([s for *_, s in a], [s for *_, s in b], atol=atol)


def VICTIM_COND():
    return F.xxhash64("content_sha") % 4 == 0


@pytest.fixture(scope="module")
def rez_setup(spark, tmp_path_factory):
    """Build 200 docs (2 runs), delete a slice, then RE-INGEST the very
    same rows and fold them into a generation.  The index should be
    result-identical to one that never saw the delete."""
    root = tmp_path_factory.mktemp("rez")
    corpus = make_corpus(spark, 200, seed=21, partitions=4)
    d = str(root / "idx")
    b = IndexBuilder(spark, d, n_buckets=4)
    add_runs(b, corpus, 2)
    b.merge_all()
    b.finalize()
    n0 = b.meta()["n_docs"]

    did = b.delete_matching(VICTIM_COND())
    assert did is not None
    n_vic = b.meta()["tombstones"][0]["n_docs"]
    assert 0 < n_vic < n0

    victims = with_doc_id(corpus).filter(VICTIM_COND()).select(
        "repo", "path", "commit", "lang", "content"
    )
    b.add_run(victims, "rez1")
    gid = b.refresh_delta()
    assert gid is not None

    full = str(root / "rebuild")
    IndexBuilder(spark, full, n_buckets=4).build(corpus)
    q = make_queries(spark, corpus_n=200, n_queries=6)
    return {
        "builder": b, "idx": d, "rebuild": full, "queries": q,
        "corpus": corpus, "victims": victims, "n_full": n0, "n_vic": n_vic,
    }


def test_gate_admits_resurrected(rez_setup):
    """The ingest gate re-admits fully-dead docIDs: the delta run
    carries every victim, and global stats return to the full corpus's
    exactly (the tombstone still subtracts the dead copies; the new
    generation adds the live ones)."""
    b = rez_setup["builder"]
    meta = b.meta()
    runs = {m["run_id"]: m for m in b.manifests() if m["unit"].startswith("run-")}
    assert runs["rez1"]["docs"] == rez_setup["n_vic"]
    assert meta["n_docs"] == rez_setup["n_full"]
    assert meta["tombstones"], "markers must survive until physical reclaim"


def test_resurrected_rank_identical_to_never_deleted(spark, rez_setup):
    """WAND over delete+re-ingest == WAND over an index that never saw
    the delete (ranks AND scores: N, avgdl, df all restored exactly)."""
    q = rez_setup["queries"]
    a = _res(wand_search(spark, rez_setup["idx"], q, k=5))
    c = _res(wand_search(spark, rez_setup["rebuild"], q, k=5))
    assert len(a) > 0
    _assert_same(a, c)


def test_resurrected_matches_exact_oracle(spark, rez_setup):
    """Root-aware loaders (doc stats, merged postings, term stats) feed
    the exact scorer the same surviving corpus the kernel sees."""
    q = rez_setup["queries"]
    a = _res(wand_search(spark, rez_setup["idx"], q, k=5))
    _assert_same(a, _res(oracle_from_index(spark, rez_setup["idx"], q, k=5)))


def test_resurrected_feeds_match_exact_oracle(spark, rez_setup, monkeypatch):
    """Both feeds drop only the dead copies (root-scoped tombstones) and
    take the live copy's length from its newer root: rank-identical to
    the exact oracle."""
    idx, q = rez_setup["idx"], rez_setup["queries"]
    want = result_rows(oracle_from_index(spark, idx, q, k=5))
    assert_feeds_match(monkeypatch, lambda: wand_search(spark, idx, q, k=5), want)


def test_reingest_while_live_is_still_gated(spark, rez_setup):
    """A second re-ingest of the SAME docs while they are live must drop
    every row (the resurrection carve-out applies only to fully-dead
    docIDs — a live copy blocks, as before)."""
    b = rez_setup["builder"]
    pre = b.meta()["n_docs"]
    b.add_run(rez_setup["victims"], "rez2")
    runs = {m["run_id"]: m for m in b.manifests() if m["unit"].startswith("run-")}
    assert runs["rez2"]["docs"] == 0
    gid = b.refresh_delta()
    assert b.meta()["n_docs"] == pre
    assert gid is None or any(
        m.get("empty") for m in b.manifests()
        if m["unit"] == f"generation-{gid}"
    )


def test_docs_dim_is_live_and_duplicate_free(spark, rez_setup):
    """docs_dim resolves the contested docIDs: one row per live doc,
    dead copies invisible, count == meta n_docs."""
    b = rez_setup["builder"]
    dim = b.docs_dim()
    assert dim.count() == b.meta()["n_docs"]
    assert dim.select("docID").distinct().count() == b.meta()["n_docs"]


def test_re_delete_after_resurrection(spark, rez_setup):
    """Deleting the resurrected docs again marks the NEW copies (the
    generation root) without double-subtracting the old ones, and the
    results match both the exact oracle and a rebuild without the
    victims.  (Sequential: later tests build on this second delete.)"""
    b = rez_setup["builder"]
    q = rez_setup["queries"]
    pre = b.meta()
    did2 = b.delete_matching(VICTIM_COND())
    assert did2 is not None
    meta = b.meta()
    t2 = [t for t in meta["tombstones"] if t["id"] == did2][0]
    assert "base" not in t2["per_root"], "old copies must not re-mark"
    assert t2["n_docs"] == rez_setup["n_vic"]
    assert meta["n_docs"] == pre["n_docs"] - rez_setup["n_vic"]
    a = _res(wand_search(spark, b.dir, q, k=5))
    _assert_same(a, _res(oracle_from_index(spark, b.dir, q, k=5)))
    out = b.fsck()
    assert out["ok"], out


def test_compact_folds_dead_and_live_copies(spark, rez_setup):
    """Resurrect AGAIN (third life), then force-compact so the fold
    reads a dead copy and a live copy of the same docID in one pass:
    the (docID, root)-scoped anti-join must keep exactly the live one.
    The reclaimed markers move to the graveyard and results still match
    the never-deleted rebuild."""
    b = rez_setup["builder"]
    q = rez_setup["queries"]
    b.add_run(rez_setup["victims"], "rez3")
    assert b.refresh_delta() is not None
    assert b.meta()["n_docs"] == rez_setup["n_full"]

    gid = b.compact(force=True)
    assert gid is not None
    meta = b.meta()
    assert meta["n_docs"] == rez_setup["n_full"]
    # every generation-root marker was reclaimed into the graveyard
    assert os.path.exists(f"{b.dir}/graveyard/{gid}")
    gy = b._graveyard_ids()
    assert gy is not None and gy.count() == rez_setup["n_vic"]
    # the folded generation holds exactly ONE live copy per victim
    gnew = [g for g in meta["generations"] if g["id"] == gid][0]
    assert gnew["n_docs"] == rez_setup["n_vic"]
    a = _res(wand_search(spark, b.dir, q, k=5))
    _assert_same(a, _res(wand_search(spark, rez_setup["rebuild"], q, k=5)))
    _assert_same(a, _res(oracle_from_index(spark, b.dir, q, k=5)))
    out = b.fsck()
    assert out["ok"], out


def test_resurrect_after_physical_reclaim(spark, rez_setup):
    """Delete → compact (copies physically gone, markers → graveyard) →
    re-ingest: the gate's accounting must re-admit from graveyard
    entries alone, and the doc comes back live.  (Fourth life.)"""
    b = rez_setup["builder"]
    q = rez_setup["queries"]
    assert b.delete_matching(VICTIM_COND()) is not None
    assert b.compact(force=True) is not None
    meta = b.meta()
    assert meta["n_docs"] == rez_setup["n_full"] - rez_setup["n_vic"]
    assert not any(
        t for t in meta.get("tombstones", [])
        if any(r != "base" for r in t["per_root"])
    )
    b.add_run(rez_setup["victims"], "rez4")
    runs = {m["run_id"]: m for m in b.manifests() if m["unit"].startswith("run-")}
    assert runs["rez4"]["docs"] == rez_setup["n_vic"]
    assert b.refresh_delta() is not None
    assert b.meta()["n_docs"] == rez_setup["n_full"]
    a = _res(wand_search(spark, b.dir, q, k=5))
    _assert_same(a, _res(wand_search(spark, rez_setup["rebuild"], q, k=5)))
    out = b.fsck()
    assert out["ok"], out


def test_resurrection_with_changed_content(spark, tmp_path):
    """Same doc key (repo, path, commit → same docID) re-ingested with
    DIFFERENT content after a delete: the kernel must score the new
    copy with the NEW doc length (newest-root-wins dl) and new df — the
    engine matches a from-scratch rebuild of the edited corpus."""
    corpus = make_corpus(spark, 80, seed=31, partitions=2)
    d = str(tmp_path / "edit_idx")
    b = IndexBuilder(spark, d, n_buckets=4)
    add_runs(b, corpus, 2)
    b.merge_all()
    b.finalize()

    cond = F.xxhash64("content_sha") % 5 == 0
    assert b.delete_matching(cond) is not None
    edited = (
        with_doc_id(corpus).filter(cond)
        .select(
            "repo", "path", "commit", "lang",
            F.concat(
                F.col("content"),
                F.lit("\n        edited_marker_token = edited_marker_token + 1\n"),
            ).alias("content"),
        )
    )
    b.add_run(edited, "edit1")
    assert b.refresh_delta() is not None

    full = str(tmp_path / "edit_rebuild")
    rebuilt_corpus = (
        corpus.join(
            with_doc_id(corpus).filter(cond).select("repo", "path", "commit"),
            ["repo", "path", "commit"],
            "left_anti",
        ).unionByName(edited)
    )
    IndexBuilder(spark, full, n_buckets=4).build(rebuilt_corpus)

    q = make_queries(spark, corpus_n=80, n_queries=6)
    a = _res(wand_search(spark, d, q, k=5))
    c = _res(wand_search(spark, full, q, k=5))
    assert len(a) > 0
    _assert_same(a, c)
    # the edited token is searchable and resolves to the edited docs
    qe = spark.createDataFrame(
        [(0, "edited_marker_token")], "query_id long, query_text string"
    )
    hits = wand_search(spark, d, qe, k=50)
    assert hits.count() > 0


def test_score_shard_root_scoped_exclusion():
    """Kernel unit: the same docID in two roots with a marker on one —
    only that root's copy is excluded from the accumulator."""
    from docinsight_spark.index.wand import _SegRow, _score_shard

    k1, b, avgdl = 1.2, 0.75, 10.0

    def seg_row(root: str, docs, tfs):
        return _SegRow("t", 3.0, docs, np.asarray(tfs, np.int64), root=root)

    rows = [seg_row("base", [1, 2], [3, 1]), seg_row("gen0002", [2], [5])]

    def dl_of(docs):
        return np.full(len(docs), 10.0, np.float64)

    dead_base = {("base",): np.asarray([2], np.int64)}

    def excl_of(root):
        return dead_base.get((root,))

    got = _score_shard(
        rows, {0: ["t"]}, 100, avgdl, k1, b, 10, dl_of, excl_of=excl_of
    )
    by_doc = {doc: score for (_q, doc, score) in got}
    assert set(by_doc) == {1, 2}
    # doc 2's base copy (tf=3) is dead; its score must come ONLY from
    # the gen0002 copy (tf=5) — strictly different from base+gen summed
    got_all = _score_shard(
        rows, {0: ["t"]}, 100, avgdl, k1, b, 10, dl_of
    )
    all_by_doc = {doc: score for (_q, doc, score) in got_all}
    assert by_doc[2] < all_by_doc[2]
    assert by_doc[1] == pytest.approx(all_by_doc[1])


def test_graveyard_rollup_bounds_ingest_reads(spark, tmp_path, monkeypatch):
    """Round-6 graveyard rollup: after many delete→compact cycles the
    ingest gate reads ONE consolidated graveyard set (meta-listed), not
    O(all-time deletes) dirs — with resurrection semantics (copy
    multiplicity!) unchanged: a doc deleted and physically reclaimed
    TWICE still resurrects, and a pending third copy still blocks."""
    from docinsight_spark.index import builder as B

    monkeypatch.setattr(B, "GRAVEYARD_FOLD_MIN", 2)  # fold early in test
    idx = str(tmp_path / "gyroll")
    base = make_corpus(spark, 50, seed=77, partitions=2)
    b = IndexBuilder(spark, idx, n_buckets=2)
    b.build(base)

    # five ingest→delete-a-generation-doc→compact cycles: each physical
    # reclaim moves that cycle's markers into a fresh graveyard set
    # (base markers never reach the graveyard — base doesn't compact)
    deleted_paths = []
    for i in range(5):
        newdocs = make_corpus(spark, 5, seed=100 + i, partitions=1,
                              start=60 + 5 * i)
        b.add_run(newdocs, f"d{i}")
        assert b.refresh_delta() is not None
        vp = newdocs.toPandas().sort_values("path")["path"].iloc[0]
        deleted_paths.append(vp)
        assert b.delete_docs(
            b.docs_dim().filter(F.col("path") == vp)
        ) is not None
        assert b.compact(force=True, delete_victims=True) is not None

    meta = b.meta()
    assert "graveyard" in meta and meta["graveyard"]
    assert len(meta["graveyard"]) <= B.GRAVEYARD_FOLD_MIN + 1
    assert any(d.startswith("fold") for d in meta["graveyard"])
    # physically: unlisted dirs were swept inline
    on_disk = set(os.listdir(f"{idx}/graveyard"))
    assert on_disk == set(meta["graveyard"])
    # the base copies were NOT compacted (base never rewrites), so their
    # markers are still live; generation-root markers moved to the
    # graveyard.  The accounting identity must still hold: fsck green.
    audit = b.fsck()
    assert audit["ok"], audit
    assert audit["checks"]["graveyard"]["ok"]

    # resurrection still works through the folded set: every copy of a
    # cycle-0 victim is dead (its marker moved to the graveyard long
    # ago and was folded) — re-ingest must admit it and make it live
    rez_path = deleted_paths[0]
    assert b.docs_dim().filter(F.col("path") == rez_path).count() == 0
    b.add_run(
        make_corpus(spark, 5, seed=100, partitions=1, start=60)
        .filter(F.col("path") == rez_path),
        "rez",
    )
    assert b.refresh_delta() is not None
    assert b.docs_dim().filter(F.col("path") == rez_path).count() == 1
