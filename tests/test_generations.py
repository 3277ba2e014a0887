"""O(delta) incremental refresh: segment generations whose pruning
bounds stay admissible as the corpus grows.

The reference's incremental update
(``/root/reference/index/index_manager.py:124-201``) only embeds/indexes
new chunks; the engine analog is ``IndexBuilder.refresh_delta`` — new
runs fold into a NEW segment generation, the base is never re-encoded,
and global BM25 statistics (N, avgdl, df) stay exact, so fast-path
results remain rank-identical to a from-scratch rebuild even as the
corpus (and its avgdl) drifts.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pytest
from conftest import add_runs, assert_feeds_match, result_rows

from docinsight_spark.corpus import make_corpus, make_queries
from docinsight_spark.evaluation import oracle_from_index
from docinsight_spark.index.builder import IndexBuilder
from docinsight_spark.index.wand import wand_search


def _seg_state(d: str) -> dict[str, float]:
    return {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{d}/segments/doc_bucket=*/*.parquet")
    }


def _res(df):
    return sorted(
        (int(r["query_id"]), int(r["rank"]), int(r["docID"]), float(r["score"]))
        for r in df.collect()
    )


def _assert_same_results(a, b, atol=1e-9):
    assert [(q, rk, d) for q, rk, d, _ in a] == [(q, rk, d) for q, rk, d, _ in b]
    assert np.allclose([s for *_, s in a], [s for *_, s in b], atol=atol)


@pytest.fixture(scope="module")
def gen_setup(spark, tmp_path_factory):
    """Incremental (base + 2 delta generations) vs one-shot rebuild."""
    root = tmp_path_factory.mktemp("gens")
    base = make_corpus(spark, 300, seed=1, partitions=4)
    d1 = make_corpus(spark, 150, seed=2, partitions=2)
    d2 = make_corpus(spark, 100, seed=3, partitions=2)

    inc_dir = str(root / "inc")
    b = IndexBuilder(spark, inc_dir, n_buckets=4)
    add_runs(b, base, 2)
    b.merge_all()
    b.finalize()
    base_files = _seg_state(inc_dir)

    b.add_run(d1, "delta1")
    gid1 = b.refresh_delta()
    b.add_run(d2, "delta2")
    gid2 = b.refresh_delta()

    full_dir = str(root / "full")
    IndexBuilder(spark, full_dir, n_buckets=4).build(
        base.unionByName(d1).unionByName(d2)
    )
    return {
        "builder": b,
        "inc": inc_dir,
        "full": full_dir,
        "base_files": base_files,
        "gids": [gid1, gid2],
    }


def test_refresh_builds_generations_without_touching_base(spark, gen_setup):
    b = gen_setup["builder"]
    assert gen_setup["gids"] == ["gen0001", "gen0002"]
    # O(delta): the base segment files are bit-for-bit untouched
    assert _seg_state(gen_setup["inc"]) == gen_setup["base_files"]
    for gid in gen_setup["gids"]:
        assert os.path.isdir(f"{gen_setup['inc']}/generations/{gid}/segments")
    meta = b.meta()
    assert meta["n_docs"] == 550
    assert [g["id"] for g in meta["generations"]] == gen_setup["gids"]
    # exact global stats: sum over base + generations
    assert meta["sum_dl"] == meta["base"]["sum_dl"] + sum(
        g["sum_dl"] for g in meta["generations"]
    )
    assert meta["avgdl"] == pytest.approx(meta["sum_dl"] / meta["n_docs"])


def test_refresh_rank_identical_to_full_rebuild(spark, gen_setup):
    q = make_queries(spark, corpus_n=300, n_queries=16)
    inc = _res(wand_search(spark, gen_setup["inc"], q, k=10))
    full = _res(wand_search(spark, gen_setup["full"], q, k=10))
    assert len(inc) > 0
    _assert_same_results(inc, full)


def test_refresh_matches_exact_oracle(spark, gen_setup):
    """Admissibility of the multi-generation fast path: block-max pruning
    over three segment sets must lose nothing vs the exact scorer."""
    q = make_queries(spark, corpus_n=300, n_queries=12)
    fast = _res(wand_search(spark, gen_setup["inc"], q, k=10))
    oracle = _res(oracle_from_index(spark, gen_setup["inc"], q, k=10))
    _assert_same_results(fast, oracle)


def test_refresh_noop_when_covered(spark, gen_setup):
    b = gen_setup["builder"]
    before = b.meta()
    assert b.refresh_delta() is None
    assert b.meta() == before
    # merge_all sees generation-covered runs — no stale-run-set error
    b.merge_all()


def test_empty_delta_records_coverage(spark, tmp_path, tiny_corpus):
    """A delta that fully dedups away must still mark its runs covered
    (no dirs, no meta change) or every later call re-merges it."""
    d = str(tmp_path / "empty_delta")
    b = IndexBuilder(spark, d, n_buckets=4)
    b.build(tiny_corpus)
    before = b.meta()
    b.add_run(tiny_corpus, "dupe")  # 100% overlap → gate removes all
    gid = b.refresh_delta()
    assert gid == "gen0001"
    assert b.meta() == before
    assert not os.path.isdir(f"{d}/generations/{gid}")
    assert b.refresh_delta() is None
    b.merge_all()  # covered → no error


def test_generation_feeds_match_exact_oracle(spark, gen_setup, monkeypatch):
    """Both feeds read every root's segments and sum df across the
    roots: rank-identical to the exact oracle."""
    q = make_queries(spark, corpus_n=300, n_queries=16)
    want = result_rows(oracle_from_index(spark, gen_setup["inc"], q, k=10))
    assert_feeds_match(
        monkeypatch, lambda: wand_search(spark, gen_setup["inc"], q, k=10), want
    )


def test_drift_safe_bounds_when_avgdl_grows(spark, tmp_path, monkeypatch):
    """The admissibility stress: base built over SHORT docs, delta adds
    LONG docs → global avgdl rises far past the base's own avgdl, so
    any bound fixed when the base was written would under-bound true
    scores.  The kernel's query-time bound must keep pruning
    admissible: fast-path results stay rank-identical to the exact
    oracle."""
    d = str(tmp_path / "drift")
    b = IndexBuilder(spark, d, n_buckets=4)
    short = make_corpus(spark, 250, seed=11, partitions=4, stmts_range=(3, 6))
    long = make_corpus(spark, 250, seed=12, partitions=4, stmts_range=(40, 60))
    add_runs(b, short, 2)
    b.merge_all()
    b.finalize()
    b.add_run(long, "longdocs")
    b.refresh_delta()
    meta = b.meta()
    # the test only means something if we really are in the drift regime
    base = meta["base"]
    assert meta["avgdl"] > base["sum_dl"] / base["n_docs"] * 1.5
    q = make_queries(spark, corpus_n=250, n_queries=16)
    oracle = _res(oracle_from_index(spark, d, q, k=10))
    # both feeds: the driver feed and the distributed feed
    assert_feeds_match(monkeypatch, lambda: wand_search(spark, d, q, k=10), oracle)


def test_mismatched_builder_geometry_refused(spark, tmp_path):
    """A delta sharded with different n_buckets would land postings in
    buckets whose doc_stats the kernels never read — the builder must
    refuse, and for_index() must configure itself from the meta."""
    d = str(tmp_path / "geom")
    IndexBuilder(spark, d, n_buckets=4).build(
        make_corpus(spark, 120, seed=41, partitions=2)
    )
    wrong = IndexBuilder(spark, d, n_buckets=8)
    with pytest.raises(ValueError, match="do not match"):
        wrong.add_run(make_corpus(spark, 50, seed=42), "d1")
    # BM25 constants count too: a delta encoded at different k1 stores
    # block maxima that under-bound query scores (silent wrong pruning)
    with pytest.raises(ValueError, match="do not match"):
        IndexBuilder(spark, d, n_buckets=4, k1=0.5).add_run(
            make_corpus(spark, 50, seed=42), "d1"
        )
    right = IndexBuilder.for_index(spark, d)
    assert right.n_buckets == 4 and right.code_aware is True
    right.add_run(make_corpus(spark, 50, seed=42, partitions=2), "d1")
    assert right.refresh_delta() == "gen0001"


def test_writer_lease_second_writer_refused(spark, tmp_path):
    """Two builders on one index dir: the second mutating op is refused
    while the first holds the lease; a crashed writer's stale lease is
    taken over after TTL; a fenced-out writer fails before committing."""
    import json as _json
    import time as _time

    from docinsight_spark.index.builder import WriterLeaseHeld

    d = str(tmp_path / "leased")
    b1 = IndexBuilder(spark, d, n_buckets=4)
    b2 = IndexBuilder(spark, d, n_buckets=4)
    corpus = make_corpus(spark, 60, seed=81, partitions=2)

    with b1._lease():  # b1 mid-op
        with pytest.raises(WriterLeaseHeld, match="live writer lease"):
            b2.add_run(corpus, "r0")
        # fence: b1's lease stolen out from under it → commit refused
        lock = _json.load(open(f"{d}/_writer.lock"))
        lock["owner"] = "thief"
        with open(f"{d}/_writer.lock", "w") as fh:
            _json.dump(lock, fh)
        with pytest.raises(WriterLeaseHeld, match="taken over"):
            b1._commit("run-r0", run_id="r0")
    os.remove(f"{d}/_writer.lock")  # thief's lock; clear for next phase

    # crashed writer: stale lease (ts far in the past) is taken over
    with open(f"{d}/_writer.lock", "w") as fh:
        _json.dump({"owner": "dead", "ts": _time.time() - 999.0,
                    "ttl": 1.0, "pid": 0}, fh)
    b2.add_run(corpus, "r0")  # takeover succeeds
    assert b2._done("run-r0")
    assert not os.path.exists(f"{d}/_writer.lock")  # released at op end

    # normal sequential ops keep working
    b1.merge_all()
    b1.finalize()
    assert b1.meta()["n_docs"] == 60


def test_manifest_ledger_flat_reads(spark, tmp_path, monkeypatch):
    """Rollup ledger: after fold_ledger(), manifests() is ONE driver
    JSON read no matter how many units accumulated (the continuous-mode
    O(runs²) ledger cost is gone), lineage is preserved exactly, and a
    post-fold loose commit overrides its ledger copy."""
    from docinsight_spark.index import builder as B

    d = str(tmp_path / "ledger")
    b = IndexBuilder(spark, d, n_buckets=4)
    for i in range(120):  # simulated micro-batch run manifests
        b._commit(f"run-r{i:04d}", run_id=f"r{i:04d}", postings=7, docs=3,
                  langs={}, settings=b._settings())
    pre = {m["unit"]: m["ts"] for m in b.manifests()}
    assert b.fold_ledger() == 120
    loose = [f for f in os.listdir(f"{d}/manifests")
             if f.endswith(".json") and f != "_ledger.json"]
    assert loose == []
    post = {m["unit"]: m["ts"] for m in b.manifests()}
    assert post == pre  # nothing lost, timestamps intact
    assert b.fold_ledger() == 0  # idempotent

    calls = {"n": 0}
    orig = B.fsio.read_json

    def counting(path):
        calls["n"] += 1
        return orig(path)

    monkeypatch.setattr(B.fsio, "read_json", counting)
    b.manifests()
    assert calls["n"] == 1  # the ledger file only
    monkeypatch.undo()

    # a unit re-committed after folding: the loose file wins
    b._commit("run-r0000", run_id="r0000", postings=99, docs=3, langs={},
              settings=b._settings())
    m = {x["unit"]: x for x in b.manifests()}
    assert m["run-r0000"]["postings"] == 99
    assert b._manifest("run-r0000")["postings"] == 99
    assert len(m) == 120


def test_read_manifests_survives_concurrent_fold(spark, tmp_path, monkeypatch):
    """A reader listing the manifests dir while a writer's fold_ledger
    deletes a just-folded loose file must NOT crash and must still see
    the folded unit (the documented 'readers are unrestricted during a
    refresh' contract): the fold commits the ledger BEFORE deleting
    loose files, so the reader re-reads the fresh ledger on a vanished
    file."""
    from docinsight_spark.index import builder as B
    from docinsight_spark.index import fsio as FS

    d = str(tmp_path / "race")
    b = IndexBuilder(spark, d, n_buckets=2)
    b._commit("run-base", run_id="base", postings=1, docs=1, langs={},
              settings=b._settings())
    b.fold_ledger()
    payload = {"unit": "extra-unit", "status": "complete", "x": 1}
    B._atomic_write_json(f"{d}/manifests/extra-unit.json", payload)

    real_read = FS.read_json
    state = {"raced": False}

    def racy_read(path):
        if path.endswith("manifests/extra-unit.json") and not state["raced"]:
            # simulate the concurrent fold: ledger gains the unit FIRST,
            # then the loose file vanishes — exactly the writer's order
            state["raced"] = True
            units = dict(real_read(f"{d}/manifests/_ledger.json")["units"])
            units["extra-unit"] = payload
            B._atomic_write_json(
                f"{d}/manifests/_ledger.json", {"units": units, "ts": 0.0}
            )
            FS.remove(path)
            raise FileNotFoundError(path)
        return real_read(path)

    monkeypatch.setattr(B.fsio, "read_json", racy_read)
    got = {m["unit"]: m for m in B.read_manifests(d)}
    assert state["raced"]
    assert got["extra-unit"]["x"] == 1  # folded unit still served
    assert "run-base" in got


def test_ledger_survives_build_refresh_cycle(spark, tmp_path):
    """End-to-end: build → ingest → refresh with ledger folds at every
    finalize/refresh; coverage, resume short-circuits and queries keep
    working off the rolled-up lineage."""
    d = str(tmp_path / "ledgercycle")
    b = IndexBuilder(spark, d, n_buckets=4)
    b.build(make_corpus(spark, 120, seed=71, partitions=2))
    # finalize folded everything: only the ledger remains
    loose = [f for f in os.listdir(f"{d}/manifests")
             if f.endswith(".json") and f != "_ledger.json"]
    assert loose == []
    b.add_run(make_corpus(spark, 60, seed=72, partitions=2), "d1")
    gid = b.refresh_delta()
    assert gid == "gen0001"
    assert b.refresh_delta() is None  # covered via ledger lineage
    q = make_queries(spark, corpus_n=120, n_queries=4)
    assert wand_search(spark, d, q, k=5).count() > 0
    # a fresh builder resumes entirely off the ledger
    b2 = IndexBuilder(spark, d, n_buckets=4)
    assert b2._done("finalize") and b2._done("merged-final")
    assert b2.refresh_delta() is None


def test_pre_meta_run_settings_refused(spark, tmp_path):
    """Before the first finalize there is no _meta.json to validate
    against — run manifests record the builder settings, and a second
    `ingest --no-refresh`-style run with different geometry/tokenizer
    must be refused (it would merge mixed sharding into one index)."""
    d = str(tmp_path / "premeta")
    b = IndexBuilder(spark, d, n_buckets=4)
    b.add_run(make_corpus(spark, 60, seed=61, partitions=2), "r0")
    assert not os.path.exists(f"{d}/_meta.json")
    with pytest.raises(ValueError, match="do not match run"):
        IndexBuilder(spark, d, n_buckets=8).add_run(
            make_corpus(spark, 40, seed=62, partitions=2), "r1"
        )
    with pytest.raises(ValueError, match="do not match run"):
        IndexBuilder(spark, d, n_buckets=4, code_aware=False).add_run(
            make_corpus(spark, 40, seed=62, partitions=2), "r1"
        )
    # identical settings proceed, and the index finalizes cleanly
    IndexBuilder(spark, d, n_buckets=4).add_run(
        make_corpus(spark, 40, seed=62, partitions=2), "r1"
    )
    b.merge_all()
    b.finalize()
    assert b.meta()["n_buckets"] == 4


def test_purge_run_clears_generations(spark, tmp_path):
    """Purging any run invalidates downstream generations and meta; the
    rebuild path (merge_all + finalize) starts clean."""
    from docinsight_spark.index.builder import purge_run

    d = str(tmp_path / "purgeg")
    b = IndexBuilder(spark, d, n_buckets=4)
    b.build(make_corpus(spark, 120, seed=51, partitions=2))
    b.add_run(make_corpus(spark, 60, seed=52, partitions=2), "d1")
    b.refresh_delta()
    purge_run(d, "d1")
    assert not os.path.isdir(f"{d}/generations")
    assert not os.path.exists(f"{d}/_meta.json")
    units = {m["unit"] for m in b.manifests()}
    assert not any(u.startswith(("generation-", "genmerge-", "merge")) for u in units)
    b.merge_all()
    b.finalize()
    assert b.meta()["n_docs"] == 120 and b.meta()["generations"] == []
    q = make_queries(spark, corpus_n=120, n_queries=4)
    assert wand_search(spark, d, q, k=5).count() > 0


def test_crashed_fold_with_changed_inputs_remerges(spark, tmp_path):
    """A merge-wave manifest left by a CRASHED fold must not be trusted
    when the rerun's input set differs (new runs arrived, or the
    generation id was reused after a crashed compact): the wave must
    re-merge, or the new runs' documents silently never get indexed."""
    d = str(tmp_path / "crashfold")
    b = IndexBuilder(spark, d, n_buckets=4)
    b.build(make_corpus(spark, 150, seed=91, partitions=2))
    b.add_run(make_corpus(spark, 60, seed=92, partitions=2), "r1")
    # simulate a refresh that crashed after its merge wave committed but
    # before doc/term stats, meta, and the generation manifest
    groot = f"{d}/generations/gen0001"
    b._merge_waves([f"{d}/runs/r1"], f"{groot}/merged", "genmerge-gen0001")
    b.add_run(make_corpus(spark, 60, seed=93, partitions=2), "r2")
    gid = b.refresh_delta()
    assert gid == "gen0001"  # id reused — with inputs now [r1, r2]
    meta = b.meta()
    assert meta["n_docs"] == 150 + 60 + 60  # r2 indexed, r1 not doubled
    assert sorted(meta["generations"][0]["runs"]) == ["r1", "r2"]


def test_crashed_multiwave_fold_remerges_downstream(spark, tmp_path, monkeypatch):
    """Past wave 0, path equality of direct inputs cannot detect that an
    upstream output was re-merged with different content — reuse must
    compare the transitively covered source set, re-merging downstream
    waves while still reusing untouched sibling groups."""
    from docinsight_spark.index import builder as B

    monkeypatch.setattr(B, "MERGE_MAX_WIDTH", 2)
    d = str(tmp_path / "crashmw")
    b = IndexBuilder(spark, d, n_buckets=4)
    b.build(make_corpus(spark, 150, seed=95, partitions=2))
    for i, seed in enumerate((96, 97, 98), start=1):
        b.add_run(make_corpus(spark, 60, seed=seed, partitions=2), f"r{i}")
    groot = f"{d}/generations/gen0001"
    # crash after ALL merge waves of a 3-run fold committed (2 waves at
    # merge width 2), before stats/meta/manifest
    _src, waves = b._merge_waves(
        [f"{d}/runs/r{i}" for i in (1, 2, 3)],
        f"{groot}/merged", "genmerge-gen0001",
    )
    assert waves == 2
    steps = ("w0-g0", "w0-g1", "w1-g0")

    def step_ts():
        return {s: b._manifest(f"genmerge-gen0001-{s}")["ts"] for s in steps}

    ts_before = step_ts()
    b.add_run(make_corpus(spark, 60, seed=99, partitions=2), "r4")
    gid = b.refresh_delta()
    assert gid == "gen0001"
    meta = b.meta()
    assert meta["n_docs"] == 150 + 4 * 60  # r4 indexed, nothing doubled
    assert sorted(meta["generations"][0]["runs"]) == ["r1", "r2", "r3", "r4"]
    ts_after = step_ts()
    assert ts_after["w0-g0"] == ts_before["w0-g0"]  # [r1, r2] reused
    assert ts_after["w0-g1"] != ts_before["w0-g1"]  # [r3] -> [r3, r4]
    assert ts_after["w1-g0"] != ts_before["w1-g0"]  # downstream re-merged


def test_refresh_crash_between_meta_and_manifest_converges(spark, tmp_path):
    """The commit point is the _meta.json write; the generation manifest
    is lineage.  A crash in between must not double-ingest the runs on
    rerun (coverage counts meta-listed generations) and must not break
    the stale-run-set guard."""
    from docinsight_spark.index import fsio

    d = str(tmp_path / "crashwin")
    b = IndexBuilder(spark, d, n_buckets=4)
    b.build(make_corpus(spark, 150, seed=31, partitions=2))
    b.add_run(make_corpus(spark, 100, seed=32, partitions=2), "d1")
    gid = b.refresh_delta()
    n_docs = b.meta()["n_docs"]
    # simulate the crash window: generation manifest lost, meta committed
    # (the manifest may be loose OR already rolled into the ledger —
    # strip it from wherever it is)
    from docinsight_spark.index.builder import _ledger_strip

    if fsio.exists(f"{d}/manifests/generation-{gid}.json"):
        fsio.remove(f"{d}/manifests/generation-{gid}.json")
    _ledger_strip(d, lambda u: u == f"generation-{gid}")
    assert b.refresh_delta() is None  # runs covered via meta
    assert b.meta()["n_docs"] == n_docs      # no double count
    b.merge_all()                     # coverage guard satisfied
    # and the index still answers, generation included
    q = make_queries(spark, corpus_n=150, n_queries=4)
    assert wand_search(spark, d, q, k=5).count() > 0


def test_searcher_reloads_after_refresh(spark, tmp_path):
    """A resident Searcher must serve a refreshed index without being
    recreated: each search re-reads _meta.json (no Spark job) and
    reloads/uncaches only when the generation set changed."""
    from docinsight_spark.index.wand import Searcher

    d = str(tmp_path / "srch")
    b = IndexBuilder(spark, d, n_buckets=4)
    b.build(make_corpus(spark, 200, seed=21, partitions=2))
    s = Searcher(spark, d, cache=True)
    q = make_queries(spark, corpus_n=200, n_queries=6)
    before = _res(s.search(q, k=5))
    assert len(before) > 0
    b.add_run(make_corpus(spark, 200, seed=22, partitions=2), "d1")
    b.refresh_delta()
    served = _res(s.search(q, k=5))        # same resident Searcher
    fresh = _res(wand_search(spark, d, q, k=5))
    _assert_same_results(served, fresh)
    assert served != before  # the delta actually changed some top-k


def test_strict_dl_covers_generation_doc_stats(spark, tmp_path):
    """The doc_stats membership check must also fire on a corrupt
    GENERATION doc_stats bucket — the multi-root kernel read path, not
    just the base's."""
    import glob as _glob

    import pyarrow.parquet as pq

    d = str(tmp_path / "strictgen")
    b = IndexBuilder(spark, d, n_buckets=2)
    b.build(make_corpus(spark, 120, seed=44, partitions=2))
    b.add_run(make_corpus(spark, 80, seed=45, partitions=2), "d1")
    b.refresh_delta()
    for f in _glob.glob(
        f"{d}/generations/gen0001/doc_stats/doc_bucket=*/*.parquet"
    ):
        t = pq.read_table(f)
        if t.num_rows > 1:
            pq.write_table(t.slice(0, t.num_rows // 2), f)
            break
    q = make_queries(spark, corpus_n=120, n_queries=10)
    with pytest.raises(Exception, match="doc_stats"):
        wand_search(spark, d, q, k=5).count()


def test_compact_folds_generations_same_results(spark, gen_setup):
    """Size-tiered compaction folds the delta generations into one; the
    query surface must not move.  (Runs last in the module — it mutates
    the shared index.)"""
    b = gen_setup["builder"]
    q = make_queries(spark, corpus_n=300, n_queries=12)
    before = _res(wand_search(spark, gen_setup["inc"], q, k=10))
    assert b.compact(max_generations=8) is None  # 2 gens: no-op
    gid = b.compact(force=True)
    assert gid == "gen0003"
    meta = b.meta()
    assert [g["id"] for g in meta["generations"]] == [gid]
    assert meta["n_docs"] == 550  # same docs, same stats
    for old in ("gen0001", "gen0002"):
        assert not os.path.isdir(f"{gen_setup['inc']}/generations/{old}")
    after = _res(wand_search(spark, gen_setup["inc"], q, k=10))
    _assert_same_results(before, after)
    # base still untouched through the whole lifecycle
    assert _seg_state(gen_setup["inc"]) == gen_setup["base_files"]


def test_read_manifests_raises_io_errors_on_present_files(spark, tmp_path, monkeypatch):
    """Only a manifest that is GONE counts as a fold race: an OSError on
    a file that is still there (disk, permission) propagates, while an
    OSError on a vanished file is served from the ledger like a
    FileNotFoundError."""
    from docinsight_spark.index import builder as B
    from docinsight_spark.index import fsio as FS

    d = str(tmp_path / "ioerr")
    b = IndexBuilder(spark, d, n_buckets=2)
    b._commit("run-base", run_id="base", postings=1, docs=1, langs={},
              settings=b._settings())
    loose = f"{d}/manifests/run-base.json"
    real_read = FS.read_json

    def denied(path):
        if path == loose:
            raise PermissionError(path)
        return real_read(path)

    monkeypatch.setattr(B.fsio, "read_json", denied)
    with pytest.raises(PermissionError):
        B.read_manifests(d)

    state = {"raced": False}

    def vanished(path):
        if path == loose and not state["raced"]:
            state["raced"] = True
            b.fold_ledger()  # ledger gains the unit, then the file goes
            raise OSError(f"cannot open {path}")
        return real_read(path)

    monkeypatch.setattr(B.fsio, "read_json", vanished)
    got = {m["unit"]: m for m in B.read_manifests(d)}
    assert state["raced"] and not FS.exists(loose)
    assert got["run-base"]["run_id"] == "base"
