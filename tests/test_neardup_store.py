"""Incremental near-dup gate: persisted signature store + delta probe.

The batch pipeline (operators/dedup.minhash_near_duplicates) re-shingles
everything each run; the store probes a DELTA against persisted band
keys and verifies exact Jaccard only for candidates — the near-dup
analog of the builder's exact-sha cross-run gate (reference:
``/root/reference/pipeline_ingest.py:265-269``).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docinsight_spark.corpus import make_corpus
from docinsight_spark.index import neardup as nd
from docinsight_spark.index.neardup import NearDupStore
from docinsight_spark.operators.dedup import minhash_near_duplicates


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "docID long, content string"
    )


BASE_TEXT = (
    "public static void main process the quick brown fox jumps over the "
    "lazy dog while counting tokens in every partition of the corpus"
)

BASE_ROWS = [
    (0, BASE_TEXT),
    (1, "totally different text about shuffle joins and broadcast hints "
        "inside the catalyst optimizer pipeline stages"),
    (2, "yet another unrelated document mentioning parquet row groups "
        "and vectorized readers with adaptive execution enabled"),
]

DELTA_ROWS = [
    (10, BASE_TEXT),                                      # exact dup of 0
    (11, BASE_TEXT.replace("lazy", "sleepy")),            # near dup of 0
    (12, "fresh content entirely new sentences nothing shared with any "
         "base document at all in this delta batch"),
]


@pytest.fixture()
def store(spark, tmp_path):
    s = NearDupStore(
        spark, str(tmp_path / "nd"), n=2, n_hashes=12, bands=6
    )
    s.add(_docs(spark, BASE_ROWS), "base")
    return s


def test_probe_flags_cross_run_neardups(spark, store):
    """A near-dup arriving in a later delta is flagged against the BASE
    corpus, with exact Jaccard values."""
    got = store.probe(
        _docs(spark, DELTA_ROWS), threshold=0.5
    ).toPandas()
    pairs = {(int(r.new_id), int(r.base_id)) for r in got.itertuples()}
    assert (10, 0) in pairs
    assert (11, 0) in pairs
    assert all(n != 12 for n, _ in pairs)
    exact = {
        (int(r.new_id), int(r.base_id)): float(r.jaccard)
        for r in got.itertuples()
    }
    assert exact[(10, 0)] == pytest.approx(1.0)
    assert 0.5 <= exact[(11, 0)] < 1.0


def test_probe_does_not_reshingle_base(spark, store, monkeypatch):
    """The probe's shingling touches ONLY the delta — the base corpus is
    read back as persisted signatures, never re-shingled."""
    shingled_ids = []
    orig = nd.shingles

    def spy(df, id_col, text_col, n):
        out = orig(df, id_col, text_col, n)
        shingled_ids.append({int(r[0]) for r in df.select(id_col).collect()})
        return out

    monkeypatch.setattr(nd, "shingles", spy)
    store.probe(_docs(spark, DELTA_ROWS), threshold=0.5).count()
    assert len(shingled_ids) == 1  # one shingle pass, the delta's
    assert shingled_ids[0] == {10, 11, 12}


def test_probe_matches_batch_pipeline(spark, store):
    """Store-probe results == the batch LSH pipeline run over
    base ∪ delta, restricted to cross (new, base) pairs — the
    incremental gate flags exactly what a full recompute would."""
    everything = _docs(spark, BASE_ROWS + DELTA_ROWS)
    batch = minhash_near_duplicates(
        everything, "docID", "content", n=2, n_hashes=12, bands=6,
        threshold=0.5,
    ).toPandas()
    base_ids = {r[0] for r in BASE_ROWS}
    new_ids = {r[0] for r in DELTA_ROWS}
    batch_cross = {
        (max(a, b), min(a, b)): round(j, 9)
        for a, b, j in batch[["id_a", "id_b", "jaccard"]].values
        if (a in new_ids) != (b in new_ids)
    }
    got = store.probe(_docs(spark, DELTA_ROWS), threshold=0.5).toPandas()
    mine = {
        (int(n), int(b)): round(float(j), 9)
        for n, b, j in got[["new_id", "base_id", "jaccard"]].values
    }
    assert mine == batch_cross


def test_gate_drops_dups_and_registers_survivors(spark, store):
    """gate(): near-dups dropped, survivors' signatures appended — a
    THIRD batch near-duplicating a second-batch survivor is caught."""
    surv = store.gate(_docs(spark, DELTA_ROWS), "delta1", threshold=0.5)
    assert {int(r["docID"]) for r in surv.collect()} == {12}
    third = _docs(
        spark,
        [(20, DELTA_ROWS[2][1].replace("fresh", "stale")),  # near-dup of 12
         (21, "and one more genuinely novel row with its own words")],
    )
    surv2 = store.gate(third, "delta2", threshold=0.5)
    assert {int(r["docID"]) for r in surv2.collect()} == {21}


def test_add_is_idempotent_per_unit(spark, store):
    """A replayed unit (streaming micro-batch retry) appends nothing."""
    before = store._read("bands").count()
    store.add(_docs(spark, BASE_ROWS), "base")  # replay
    assert store._read("bands").count() == before


def test_settings_pinned_on_reopen(spark, store):
    reopened = NearDupStore.open(spark, store.root)
    assert (reopened.n, reopened.n_hashes, reopened.bands) == (2, 12, 6)
    with pytest.raises(ValueError, match="not comparable"):
        NearDupStore(spark, store.root, n=3, n_hashes=12, bands=6)


def test_builder_add_run_with_neardup_gate(spark, tmp_path):
    """End-to-end through IndexBuilder.add_run: a delta run's near-dup
    of an indexed doc is dropped before tokenization; the run manifest
    counts only survivors."""
    from docinsight_spark.index.builder import IndexBuilder

    d = str(tmp_path / "idx")
    store = NearDupStore(spark, f"{d}/neardup", n=2, n_hashes=12, bands=6)
    b = IndexBuilder(spark, d, n_buckets=4)
    base = make_corpus(spark, 60, seed=21, partitions=2)
    b.add_run(base, "r0", neardup_store=store)
    m0 = b._manifest("run-r0")
    assert m0["docs"] == 60

    # delta: 20 fresh docs + 1 near-dup (a base doc with one token edited)
    fresh = make_corpus(spark, 20, seed=22, partitions=2, start=1000)
    one = base.limit(1).select(
        F.concat(F.col("repo"), F.lit("-copy")).alias("repo"),
        "path", "commit", "lang",
        F.regexp_replace("content", "int ", "long ").alias("content"),
    )
    b.add_run(fresh.unionByName(one), "r1", neardup_store=store,
              neardup_threshold=0.5)
    m1 = b._manifest("run-r1")
    assert m1["docs"] == 20  # the near-dup was gated out
    b.merge_all()
    b.finalize()
    assert b.meta()["n_docs"] == 80


def test_fold_preserves_probe_and_bounds_dirs(spark, store):
    """fold(): many per-unit dirs collapse into one fold dir per side;
    probe results are IDENTICAL before and after; add keeps working;
    replay of a covered unit stays a no-op; gc reclaims victims."""
    for i in range(4):
        store.add(
            _docs(spark, [(100 + i, f"unit specific text number {i} with "
                                    f"some shared vocabulary tokens")]),
            f"u{i}",
        )
    delta = _docs(spark, DELTA_ROWS)
    before = {
        (int(r["new_id"]), int(r["base_id"]), round(float(r["jaccard"]), 9))
        for r in store.probe(delta, threshold=0.5).collect()
    }
    n_units_before = len(store.units())
    fid = store.fold(target_files=2)
    assert fid == 0
    # read path is now exactly one dir per side
    for sub in ("bands", "shingles"):
        paths = [
            p for p in [f"{store.root}/{sub}/fold={fid}"]
            if nd.fsio.exists(p)
        ]
        assert paths, sub
    assert store._loose_units() == []
    assert len(store.units()) == n_units_before  # coverage, not loss
    after = {
        (int(r["new_id"]), int(r["base_id"]), round(float(r["jaccard"]), 9))
        for r in store.probe(delta, threshold=0.5).collect()
    }
    assert after == before and before  # identical, non-empty
    # replayed covered unit: still a no-op
    n = store._read("bands").count()
    store.add(_docs(spark, BASE_ROWS), "base")
    assert store._read("bands").count() == n
    # adds after the fold land as loose units and are probed
    store.add(_docs(spark, [(200, BASE_TEXT + " trailing tail")]), "u9")
    got = store.probe(_docs(spark, [(300, BASE_TEXT)]), threshold=0.5)
    assert {int(r["base_id"]) for r in got.collect()} >= {0, 200}
    # gc: victims tombstoned, reclaimed only past grace
    assert store.gc(grace_sec=3600) == []
    removed = store.gc(grace_sec=0.0)
    assert removed and all(not nd.fsio.exists(p) for p in removed)
    # a second fold covers the post-fold unit and the prior fold
    fid2 = store.fold(target_files=2)
    assert fid2 == 1
    store.gc(grace_sec=0.0)
    got2 = store.probe(_docs(spark, [(300, BASE_TEXT)]), threshold=0.5)
    assert {int(r["base_id"]) for r in got2.collect()} >= {0, 200}


def test_fold_crash_before_commit_is_invisible(spark, store):
    """An orphan fold data dir WITHOUT the _fold.json commit (crash
    mid-fold) changes nothing: probe ignores it, the next fold
    overwrites it."""
    store._read("bands").limit(1).write.mode("overwrite").parquet(
        f"{store.root}/bands/fold=0"
    )
    delta = _docs(spark, DELTA_ROWS)
    got = {
        int(r["base_id"])
        for r in store.probe(delta, threshold=0.5).collect()
    }
    assert 0 in got  # full base still probed, orphan ignored
    fid = store.fold(target_files=1)
    assert fid == 0  # overwrote the orphan
    got2 = {
        int(r["base_id"])
        for r in store.probe(delta, threshold=0.5).collect()
    }
    assert 0 in got2


def test_gate_replay_after_partial_commit_is_idempotent(spark, store):
    """Crash-replay shape: the store's add() committed but the caller's
    downstream commit didn't, so the SAME batch is gated again.  A
    within-batch near-dup pair must not flag itself against its own
    stored copy on the second attempt — survivors are identical."""
    batch = _docs(
        spark,
        [(50, "alpha beta gamma delta epsilon zeta eta theta iota"),
         (51, "alpha beta gamma delta epsilon zeta eta theta kappa"),
         (52, "completely independent words nothing in common here")],
    )
    first = {int(r["docID"]) for r in
             store.gate(batch, "replayed", threshold=0.4).collect()}
    assert first == {50, 51, 52}  # within-batch pair kept (batch op's job)
    again = {int(r["docID"]) for r in
             store.gate(batch, "replayed", threshold=0.4).collect()}
    assert again == first


def test_forget_unblocks_deleted_docs(spark, store):
    """forget(): probes stop flagging new content against a deleted
    doc's signatures immediately; other stored docs still gate."""
    delta = _docs(spark, DELTA_ROWS)
    before = {
        (int(r["new_id"]), int(r["base_id"]))
        for r in store.probe(delta, threshold=0.5).collect()
    }
    assert (10, 0) in before and (11, 0) in before
    n = store.forget(spark.createDataFrame([(0,)], "docID long"))
    assert n == 1
    after = {
        (int(r["new_id"]), int(r["base_id"]))
        for r in store.probe(delta, threshold=0.5).collect()
    }
    assert not {p for p in after if p[1] == 0}
    # a near-dup of a LIVE stored doc still gates
    live = _docs(spark, [(40, BASE_ROWS[1][1].replace("totally", "fully"))])
    hits = store.probe(live, threshold=0.5).collect()
    assert {int(r["base_id"]) for r in hits} == {1}


def test_forget_then_readd_restores_gating(spark, store):
    """Resurrection parity: re-registering a forgotten docID (via
    add/gate) clears its forget entry — near-dups of the re-ingested
    content are flagged again."""
    store.forget(spark.createDataFrame([(0,)], "docID long"))
    surv = store.gate(
        _docs(spark, [(0, BASE_TEXT)]), "readd", threshold=0.5
    )
    # the re-add itself must NOT be gated by its own dead copy
    assert {int(r["docID"]) for r in surv.collect()} == {0}
    assert int((store._forgotten_info() or {}).get("n", 0)) == 0
    hits = store.probe(
        _docs(spark, [(30, BASE_TEXT.replace("lazy", "busy"))]),
        threshold=0.5,
    ).collect()
    assert (30, 0) in {(int(r["new_id"]), int(r["base_id"])) for r in hits}


def test_fold_reclaims_forgotten_rows(spark, store):
    """fold() after forget(): the forgotten doc's band/shingle rows are
    physically gone from the consolidated dirs and the forget set
    clears; live docs' gating is unchanged."""
    store.forget(spark.createDataFrame([(0,)], "docID long"))
    fid = store.fold(target_files=2)
    assert fid == 0
    assert int((store._forgotten_info() or {}).get("n", 0)) == 0
    for sub in ("bands", "shingles"):
        ids = {
            int(r["id"])
            for r in spark.read.parquet(
                f"{store.root}/{sub}/fold={fid}"
            ).select("id").distinct().collect()
        }
        assert 0 not in ids and {1, 2} <= ids
    got = store.probe(_docs(spark, DELTA_ROWS), threshold=0.5).collect()
    assert not {r for r in got if int(r["base_id"]) == 0}
    live = _docs(spark, [(41, BASE_ROWS[2][1].replace("another", "some"))])
    assert {
        int(r["base_id"])
        for r in store.probe(live, threshold=0.5).collect()
    } == {2}


def test_builder_delete_forgets_in_store(spark, tmp_path):
    """IndexBuilder.delete_matching(neardup_store=...) forgets the
    victims' signatures: a later ingest of near-dup content passes the
    gate instead of being blocked by a deleted doc."""
    from docinsight_spark.index.builder import IndexBuilder

    d = str(tmp_path / "idxf")
    store = NearDupStore(spark, f"{d}/neardup", n=2, n_hashes=12, bands=6)
    b = IndexBuilder(spark, d, n_buckets=4)
    base = make_corpus(spark, 40, seed=31, partitions=2)
    b.add_run(base, "r0", neardup_store=store)
    b.merge_all()
    b.finalize()

    victim_repo = base.limit(1).collect()[0]["repo"]
    did = b.delete_matching(
        F.col("repo") == victim_repo, neardup_store=store
    )
    assert did is not None
    assert store.forgotten_ids() is not None

    # near-dup of the DELETED doc now passes the near-dup gate
    edited = base.filter(F.col("repo") == victim_repo).select(
        F.concat(F.col("repo"), F.lit("-v2")).alias("repo"),
        "path", "commit", "lang",
        F.regexp_replace("content", "int ", "long ").alias("content"),
    )
    b.add_run(edited, "r1", neardup_store=store, neardup_threshold=0.5)
    assert b._manifest("run-r1")["docs"] == edited.count()
