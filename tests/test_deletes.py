"""Doc-level deletes without rebuild: tombstone sets, exact stats
correction, physical reclaim at compaction, L0 run GC.

The reference purges a source with a cascade DELETE + reindex
(``/root/reference/db/db_manager.py:145-165``); the engine's analog is
an LSM delete marker: ``IndexBuilder.delete_docs`` records per-(root,
bucket) docID tombstones + per-(root, term) df corrections and fixes
N/Σdl/avgdl exactly in ``_meta.json`` — queries are immediately
rank-identical to a rebuild without the victims, and compaction later
drops the postings physically.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from conftest import add_runs, assert_feeds_match, result_rows
from pyspark.sql import functions as F

from docinsight_spark.corpus import make_corpus, make_queries
from docinsight_spark.evaluation import oracle_from_index
from docinsight_spark.index.builder import (
    IndexBuilder,
    load_doc_stats,
    load_merged_postings,
    load_term_stats,
)
from docinsight_spark.index.wand import Searcher, wand_search


def _res(df):
    return sorted(
        (int(r["query_id"]), int(r["rank"]), int(r["docID"]), float(r["score"]))
        for r in df.collect()
    )


def _assert_same(a, b, atol=1e-9):
    assert [(q, rk, d) for q, rk, d, _ in a] == [(q, rk, d) for q, rk, d, _ in b]
    assert np.allclose([s for *_, s in a], [s for *_, s in b], atol=atol)


def _survivor_corpus(spark, b, corpus):
    """The corpus minus every tombstoned doc (rebuilt-without-victims
    input), reconstructed through the runs' docs dim."""
    from docinsight_spark.index.builder import load_tombstone_docs

    tomb = load_tombstone_docs(spark, b.dir, b.meta())
    surv = b.docs_dim().join(tomb, "docID", "left_anti").select(
        "repo", "path", "commit", "lang"
    )
    return surv.join(corpus, ["repo", "path", "commit", "lang"]).select(
        "repo", "path", "commit", "lang", "content"
    )


@pytest.fixture(scope="module")
def del_setup(spark, tmp_path_factory):
    """Base (200 docs) + one delta generation (100 docs), then delete a
    slice spanning BOTH roots; compare against a from-scratch rebuild of
    the survivors."""
    root = tmp_path_factory.mktemp("dels")
    base = make_corpus(spark, 200, seed=11, partitions=4)
    delta = make_corpus(spark, 100, seed=12, partitions=2)

    d = str(root / "idx")
    b = IndexBuilder(spark, d, n_buckets=4)
    add_runs(b, base, 2)
    b.merge_all()
    b.finalize()
    b.add_run(delta, "delta1")
    b.refresh_delta()
    pre_meta = b.meta()

    did = b.delete_matching(F.xxhash64("content_sha") % 3 == 0)
    assert did == "del0001"

    full = str(root / "rebuild")
    corpus = base.unionByName(delta)
    IndexBuilder(spark, full, n_buckets=4).build(
        _survivor_corpus(spark, b, corpus)
    )
    q = make_queries(spark, corpus_n=200, n_queries=6)
    return {
        "builder": b, "idx": d, "rebuild": full, "queries": q,
        "pre_meta": pre_meta, "corpus": corpus, "did": did,
    }


def test_delete_spans_both_roots(del_setup):
    """The victim set hits base AND generation docs, and the tombstone
    entry records exact per-root accounting."""
    meta = del_setup["builder"].meta()
    t = meta["tombstones"][0]
    assert set(t["per_root"]) == {"base", "gen0001"}
    assert t["n_docs"] == sum(v["n_docs"] for v in t["per_root"].values())
    pre = del_setup["pre_meta"]
    assert meta["n_docs"] == pre["n_docs"] - t["n_docs"]
    assert meta["sum_dl"] == pre["sum_dl"] - t["sum_dl"]
    assert meta["avgdl"] == pytest.approx(meta["sum_dl"] / meta["n_docs"])


def test_delete_rank_identical_to_rebuild(spark, del_setup):
    """WAND over the tombstoned index == WAND over a from-scratch
    rebuild without the victims (ranks AND scores — N/avgdl/df all
    corrected exactly)."""
    q = del_setup["queries"]
    a = _res(wand_search(spark, del_setup["idx"], q, k=5))
    c = _res(wand_search(spark, del_setup["rebuild"], q, k=5))
    assert len(a) > 0
    _assert_same(a, c)


def test_delete_matches_exact_oracle(spark, del_setup):
    """The exact-scorer path (tombstone-aware loaders + corrected meta
    stats) agrees with the fast path after the delete."""
    q = del_setup["queries"]
    a = _res(wand_search(spark, del_setup["idx"], q, k=5))
    o = _res(oracle_from_index(spark, del_setup["idx"], q, k=5))
    _assert_same(a, o)


@pytest.mark.parametrize("require_all", [False, True], ids=["or", "and"])
def test_delete_feeds_match_exact_oracle(spark, del_setup, monkeypatch, require_all):
    """Both feeds apply the root-scoped tombstones and the df
    corrections of the tombstone's live roots: rank-identical to the
    exact oracle."""
    idx = del_setup["idx"]
    q = del_setup["queries"]
    if require_all:
        q = q.withColumn(
            "query_text", F.array_join(F.slice(F.split("query_text", " "), 1, 2), " ")
        )
    want = result_rows(oracle_from_index(spark, idx, q, k=5, require_all=require_all))
    assert_feeds_match(
        monkeypatch,
        lambda: wand_search(spark, idx, q, k=5, require_all=require_all),
        want,
    )


def test_deleted_docs_never_surface(spark, del_setup):
    """No tombstoned docID appears in any result set."""
    from docinsight_spark.index.builder import load_tombstone_docs

    b = del_setup["builder"]
    tomb = {
        int(r["docID"])
        for r in load_tombstone_docs(spark, b.dir, b.meta()).collect()
    }
    res = wand_search(spark, del_setup["idx"], del_setup["queries"], k=20)
    hit = {int(r["docID"]) for r in res.collect()}
    assert tomb and not (hit & tomb)


def test_loaders_exclude_tombstones(spark, del_setup):
    """load_doc_stats / load_merged_postings drop victims; term_stats df
    equals the rebuilt index's df for every term."""
    b = del_setup["builder"]
    meta = b.meta()
    assert load_doc_stats(spark, b.dir, meta).count() == meta["n_docs"]
    t = meta["tombstones"][0]
    posts = load_merged_postings(spark, b.dir, meta)
    rb_meta = IndexBuilder.for_index(spark, del_setup["rebuild"]).meta()
    assert meta["n_docs"] == rb_meta["n_docs"]
    # df parity vs rebuild on every term (positive rows only: a term
    # whose last doc died keeps a df=0 row engine-side, which the
    # rebuild simply doesn't have)
    mine = {
        r["term"]: r["df"]
        for r in load_term_stats(spark, b.dir, meta).collect()
        if r["df"] > 0
    }
    theirs = {
        r["term"]: r["df"]
        for r in load_term_stats(
            spark, del_setup["rebuild"], rb_meta
        ).collect()
    }
    assert mine == theirs
    # and postings row count agrees with the rebuild's merge output
    assert posts.count() == load_merged_postings(
        spark, del_setup["rebuild"], rb_meta
    ).count()


def test_double_delete_no_double_subtraction(spark, del_setup):
    """Re-deleting already-tombstoned docs is a no-op (None) and leaves
    stats untouched."""
    b = del_setup["builder"]
    before = b.meta()
    assert b.delete_matching(F.xxhash64("content_sha") % 3 == 0) is None
    after = b.meta()
    assert after["n_docs"] == before["n_docs"]
    assert after["sum_dl"] == before["sum_dl"]
    assert [t["id"] for t in after["tombstones"]] == ["del0001"]


def test_delete_requires_finalized_index(spark, tmp_path):
    d = str(tmp_path / "nofin")
    b = IndexBuilder(spark, d, n_buckets=4)
    b.add_run(make_corpus(spark, 40, seed=13, partitions=2), "r0")
    with pytest.raises(ValueError, match="finalized"):
        b.delete_docs(spark.range(5).select(F.col("id").alias("docID")))


def test_delete_unknown_docids_noop(spark, del_setup):
    """Deleting docIDs that don't exist anywhere returns None and
    changes nothing."""
    b = del_setup["builder"]
    before = b.meta()
    ghosts = spark.range(5).select((F.col("id") + 10**15).alias("docID"))
    assert b.delete_docs(ghosts) is None
    assert b.meta()["n_docs"] == before["n_docs"]


def test_searcher_reloads_after_delete(spark, tmp_path):
    """A resident Searcher picks up a delete without being recreated
    (meta signature includes the tombstone list)."""
    d = str(tmp_path / "sdel")
    b = IndexBuilder(spark, d, n_buckets=4)
    b.build(make_corpus(spark, 150, seed=14, partitions=2))
    s = Searcher(spark, d, cache=False)
    q = make_queries(spark, corpus_n=150, n_queries=4)
    pre = {int(r["docID"]) for r in s.search(q, k=10).collect()}
    victims = spark.createDataFrame(
        [(x,) for x in sorted(pre)[: max(1, len(pre) // 2)]], "docID long"
    )
    assert b.delete_docs(victims) is not None
    post = {int(r["docID"]) for r in s.search(q, k=10).collect()}
    gone = {int(r["docID"]) for r in victims.collect()}
    assert not (post & gone)


def test_compact_physically_reclaims_tombstones(spark, del_setup):
    """force-compact after the delete: the new generation excludes the
    generation-root victims, the tombstone entry shrinks to base-only,
    results stay identical, and term_stats_neg partitions for the
    reclaimed root are GC-able."""
    b = del_setup["builder"]
    q = del_setup["queries"]
    before = _res(wand_search(spark, b.dir, q, k=5))
    t0 = b.meta()["tombstones"][0]
    gen_victims = t0["per_root"]["gen0001"]["n_docs"]
    assert gen_victims > 0
    gid = b.compact(force=True, delete_victims=False)
    assert gid is not None
    meta = b.meta()
    t1 = meta["tombstones"][0]
    assert set(t1["per_root"]) == {"base"}  # gen root physically gone
    assert t1["n_docs"] == t0["n_docs"] - gen_victims
    # global stats unchanged by compaction
    assert meta["n_docs"] == del_setup["pre_meta"]["n_docs"] - t0["n_docs"]
    # the new generation's docs exclude the reclaimed victims
    gnew = [g for g in meta["generations"] if g["id"] == gid][0]
    assert gnew["n_docs"] == 100 - gen_victims
    after = _res(wand_search(spark, b.dir, q, k=5))
    _assert_same(before, after)
    # exact oracle still agrees post-reclaim
    _assert_same(after, _res(oracle_from_index(spark, b.dir, q, k=5)))
    # deferred cleanup: gc reclaims victim generation AND the dropped
    # tombstone partitions
    reclaimed = b.gc_generations(grace_sec=0)
    assert "gen0001" in reclaimed
    assert not os.path.exists(
        f"{b.dir}/tombstones/{t1['id']}/docs/root=gen0001"
    )
    assert os.path.exists(f"{b.dir}/tombstones/{t1['id']}/docs/root=base")
    final = _res(wand_search(spark, b.dir, q, k=5))
    _assert_same(before, final)


def test_boolean_modes_match_exact_after_delete(spark, del_setup):
    """Boolean AND / NOT through the block-max kernel (round 6) stay
    rank-identical to the exact path on a tombstoned, multi-generation
    index: root-scoped exclusion applies inside the intersection and
    the ban set alike."""
    idx = del_setup["idx"]
    q = del_setup["queries"]
    a = _res(wand_search(spark, idx, q, k=5, require_all=True))
    o = _res(oracle_from_index(spark, idx, q, k=5, require_all=True))
    assert len(a) > 0
    _assert_same(a, o)
    # NOT: ban two mid-frequency terms across every query (a term in
    # EVERY doc would make both sides legitimately empty — no signal)
    from docinsight_spark.index.builder import load_term_stats

    b = del_setup["builder"]
    n_live = int(b.meta()["n_docs"])
    hot = [
        r["term"]
        for r in load_term_stats(spark, idx, b.meta())
        .filter(F.col("df") < n_live // 3)
        .orderBy(F.col("df").desc(), "term").limit(2).collect()
    ]
    qids = [int(r["query_id"]) for r in q.select("query_id").collect()]
    negs_txt = spark.createDataFrame(
        [(qid, " ".join(hot)) for qid in qids],
        "query_id long, query_text string",
    )
    negs_terms = spark.createDataFrame(
        [(qid, t) for qid in qids for t in hot],
        "query_id long, term string",
    )
    an = _res(wand_search(spark, idx, q, k=5, neg_queries=negs_txt))
    on = _res(oracle_from_index(spark, idx, q, k=5, neg_terms=negs_terms))
    assert len(an) > 0
    _assert_same(an, on)


def test_compact_refold_sees_tombstones_added_after_crash(
    spark, tmp_path, monkeypatch
):
    """A compact that crashed AFTER committing its fold, followed by a
    delete_docs marking docs in a victim generation, must RE-FOLD on
    retry: reusing the stale fold would carry the new victims' postings
    into the new generation while the meta commit drops their markers —
    silent resurrection of just-deleted docs (round-6 fold guard:
    tombstone fingerprint in the fold manifest)."""
    d = str(tmp_path / "idx")
    b = IndexBuilder(spark, d, n_buckets=2)
    b.build(make_corpus(spark, 120, seed=21, partitions=2))
    b.add_run(make_corpus(spark, 80, seed=22, partitions=2), "delta1")
    assert b.refresh_delta() == "gen0001"

    orig = IndexBuilder._write_doc_term_stats

    def boom(self, *a, **k):
        raise RuntimeError("crash after fold commit")

    monkeypatch.setattr(IndexBuilder, "_write_doc_term_stats", boom)
    with pytest.raises(RuntimeError, match="crash after fold"):
        b.compact(force=True)
    monkeypatch.setattr(IndexBuilder, "_write_doc_term_stats", orig)

    # the fold committed; now delete docs living in the victim generation
    gen_ids = [
        int(r["docID"])
        for r in spark.read.parquet(f"{d}/generations/gen0001/doc_stats")
        .select("docID").limit(5).collect()
    ]
    vic = spark.createDataFrame([(i,) for i in gen_ids], "docID long")
    assert b.delete_docs(vic) is not None
    assert any(
        "gen0001" in t["per_root"] for t in b.meta().get("tombstones", [])
    )

    gid = b.compact(force=True)
    assert gid is not None
    meta = b.meta()
    # deleted docs must NOT have come back: neither live doc stats nor
    # the merged postings of the new generation may contain them
    live = {
        int(r["docID"])
        for r in load_doc_stats(spark, d, meta)
        .join(vic, "docID", "left_semi").collect()
    }
    assert live == set()
    merged = {
        int(r["docID"])
        for r in load_merged_postings(spark, d, meta)
        .join(vic, "docID", "left_semi").select("docID").distinct().collect()
    }
    assert merged == set()
    audit = b.fsck()
    assert audit["ok"], audit


def test_fsck_green_on_healthy_lifecycle(spark, del_setup):
    """fsck passes on an index carrying generations AND tombstones, and
    each check reports a sensible detail string."""
    out = del_setup["builder"].fsck()
    assert out["ok"], out
    names = set(out["checks"])
    assert "stats_identity" in names and "root_base" in names
    assert any(n.startswith("tombstone_") for n in names)


def test_fsck_detects_corruption(spark, tmp_path):
    """Tampered stats → stats_identity red; a deleted generation
    doc_stats dir → root check red; exit path is loud, not silent."""
    import shutil as _sh

    from docinsight_spark.index import fsio

    d = str(tmp_path / "sick")
    b = IndexBuilder(spark, d, n_buckets=4)
    b.build(make_corpus(spark, 120, seed=91, partitions=2))
    b.add_run(make_corpus(spark, 60, seed=92, partitions=2), "d1")
    b.refresh_delta()
    assert b.fsck()["ok"]

    meta = b.meta()
    meta["n_docs"] += 5  # silent stat drift
    fsio.write_json_atomic(f"{d}/_meta.json", meta)
    out = b.fsck()
    assert not out["ok"] and not out["checks"]["stats_identity"]["ok"]
    meta["n_docs"] -= 5
    fsio.write_json_atomic(f"{d}/_meta.json", meta)
    assert b.fsck()["ok"]

    _sh.rmtree(f"{d}/generations/gen0001/doc_stats")
    out = b.fsck()
    assert not out["ok"] and not out["checks"]["root_gen0001"]["ok"]


def test_gc_runs_after_compaction(spark, del_setup):
    """L0 GC: covered runs' postings are reclaimable; queries, a further
    refresh and a further compact all still work off merged outputs.
    (Runs module-last: depends on the compaction of the previous test.)"""
    b = del_setup["builder"]
    q = del_setup["queries"]
    before = _res(wand_search(spark, b.dir, q, k=5))
    removed = b.gc_runs()
    assert removed  # all runs are covered by now
    for rid in removed:
        assert not os.path.exists(f"{b.dir}/runs/{rid}/postings")
        assert os.path.exists(f"{b.dir}/runs/{rid}/docs")  # gate/dim kept
    _assert_same(before, _res(wand_search(spark, b.dir, q, k=5)))
    # further incremental work functions without raw run postings
    b.add_run(make_corpus(spark, 60, seed=15, partitions=2), "late1")
    gid = b.refresh_delta()
    assert gid is not None
    assert wand_search(spark, b.dir, q, k=5).count() > 0
    gid2 = b.compact(force=True)
    assert gid2 is not None
    assert wand_search(spark, b.dir, q, k=5).count() > 0
    # exact oracle parity survives the whole life-cycle
    a = _res(wand_search(spark, b.dir, q, k=5))
    _assert_same(a, _res(oracle_from_index(spark, b.dir, q, k=5)))


def test_second_delete_after_full_lifecycle(spark, del_setup):
    """A SECOND delete set layered on an index that has since been
    compacted, run-GC'd, refreshed and re-compacted: ids stay monotonic,
    overlap with the first delete doesn't double-subtract, the fast path
    still matches the exact oracle, and fsck stays green.
    (Module-last ordering: relies on the prior tests' compactions.)"""
    b = del_setup["builder"]
    q = del_setup["queries"]
    pre = b.meta()
    did2 = b.delete_matching(F.xxhash64("content_sha") % 7 == 1)
    assert did2 is not None and did2 != del_setup["did"]
    meta = b.meta()
    ids = [t["id"] for t in meta.get("tombstones", [])]
    assert len(ids) == len(set(ids))
    newly = sum(t["n_docs"] for t in meta["tombstones"]) - sum(
        t["n_docs"] for t in pre.get("tombstones", [])
    )
    assert meta["n_docs"] == pre["n_docs"] - newly
    a = _res(wand_search(spark, b.dir, q, k=5))
    _assert_same(a, _res(oracle_from_index(spark, b.dir, q, k=5)))
    out = b.fsck()
    assert out["ok"], out
