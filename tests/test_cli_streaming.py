"""CLI driver + streaming incremental ingest + golden top-k."""

import json
import os

import pytest
from pyspark.sql import functions as F

from docinsight_spark.cli import main as cli_main
from docinsight_spark.corpus import make_corpus, make_queries
from docinsight_spark.index.builder import IndexBuilder
from docinsight_spark.index.wand import wand_search
from docinsight_spark.streaming.incremental import refresh, stream_ingest


@pytest.fixture(scope="module")
def cli_env(spark, tmp_path_factory, tiny_corpus):
    root = tmp_path_factory.mktemp("cli")
    corpus_path = str(root / "corpus")
    tiny_corpus.write.mode("overwrite").parquet(corpus_path)
    queries_path = str(root / "queries")
    make_queries(spark, corpus_n=200, n_queries=6).write.mode("overwrite").parquet(
        queries_path
    )
    return {"root": str(root), "corpus": corpus_path, "queries": queries_path}


def test_cli_build_query_report(spark, cli_env, capsys):
    idx = f"{cli_env['root']}/idx"
    assert cli_main([
        "build", "--corpus", cli_env["corpus"], "--index", idx,
        "--runs", "2", "--fanin", "2", "--buckets", "4",
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["status"] == "built" and out["meta"]["n_docs"] == 200

    res_out = f"{cli_env['root']}/res"
    assert cli_main([
        "query", "--index", idx, "--queries", cli_env["queries"],
        "--k", "5", "--out", res_out,
    ]) == 0
    res = spark.read.parquet(res_out)
    assert res.count() > 0
    assert res.groupBy("query_id").agg(F.max("rank")).agg(
        F.max("max(rank)")
    ).collect()[0][0] <= 5

    rep_out = f"{cli_env['root']}/report.json"
    assert cli_main([
        "report", "--index", idx, "--queries", cli_env["queries"],
        "--k", "10", "--out", rep_out,
    ]) == 0
    with open(rep_out) as f:
        rep = json.load(f)
    assert rep["n_documents"] > 0
    for r in rep["originality"]:
        assert 0.0 <= r["originality_score"] <= 1.0
        assert r["total_sentences"] >= 1
    # the reference emits a JSON + HTML pair (enhanced_pipeline.py:649-721);
    # the HTML must carry the per-document scores
    html_out = f"{cli_env['root']}/report.html"
    assert os.path.exists(html_out)
    with open(html_out) as f:
        page = f.read()
    assert "<table>" in page
    for r in rep["originality"]:
        assert f"{r['originality_score']:.4f}" in page


def test_cli_ingest_and_compact(spark, cli_env, capsys):
    """`ingest` folds a delta slice O(delta); `compact` folds
    generations — the reference's ingest/reindex CLI analogs."""
    idx = f"{cli_env['root']}/idx_inc"
    assert cli_main([
        "build", "--corpus", cli_env["corpus"], "--index", idx,
        "--runs", "1", "--buckets", "4",
    ]) == 0
    capsys.readouterr()
    delta = f"{cli_env['root']}/delta"
    make_corpus(spark, 100, seed=77).write.mode("overwrite").parquet(delta)
    assert cli_main([
        "ingest", "--corpus", delta, "--index", idx,
        "--run-id", "d1", "--fanin", "2", "--buckets", "4",
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["status"] == "ingested" and out["generation"] == "gen0001"
    assert cli_main(["compact", "--index", idx]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["status"] == "noop"  # one gen, no drift: nothing to fold
    assert cli_main(["compact", "--index", idx, "--force"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["status"] == "compacted" and out["generations"] == [out["generation"]]
    res = wand_search(
        spark, idx, make_queries(spark, corpus_n=200, n_queries=4), k=5
    )
    assert res.count() > 0
    # tombstone delete via the CLI: no rebuild, exact stats correction
    pre = IndexBuilder.for_index(spark, idx).meta()["n_docs"]
    assert cli_main([
        "delete", "--index", idx, "--where", "repo LIKE 'org0/%'",
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["status"] == "deleted" and out["tombstoned"] > 0
    assert out["n_docs"] == pre - out["tombstoned"]
    assert cli_main([
        "delete", "--index", idx, "--where", "repo LIKE 'org0/%'",
    ]) == 0  # idempotent: everything already tombstoned
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["status"] == "noop"
    res = wand_search(
        spark, idx, make_queries(spark, corpus_n=200, n_queries=4), k=5
    )
    assert res.count() > 0


def test_streaming_incremental_ingest(spark, tmp_path):
    inbox = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ckpt")
    idx = str(tmp_path / "idx")
    os.makedirs(inbox, exist_ok=True)

    # first drop of files
    make_corpus(spark, 60).write.mode("append").parquet(inbox)
    b = IndexBuilder(spark, idx, n_buckets=4)
    q = stream_ingest(spark, b, inbox, ckpt, available_now=True)
    q.awaitTermination(120)
    runs1 = [m for m in b.manifests() if m["unit"].startswith("run-")]
    assert len(runs1) >= 1
    assert sum(m["docs"] for m in runs1) == 60

    # second drop — only new files are picked up by the checkpointed source
    make_corpus(spark, 100).filter(F.xxhash64("repo", "path", "commit") % 2 == 0) \
        .write.mode("append").parquet(inbox)
    q = stream_ingest(spark, b, inbox, ckpt, available_now=True)
    q.awaitTermination(120)
    runs2 = [m for m in b.manifests() if m["unit"].startswith("run-")]
    assert len(runs2) > len(runs1)
    # cross-run anti-join: the 60 originals overlap the second drop's files,
    # so indexed docs < 60 + drop2 rows
    total_docs = sum(m["docs"] for m in runs2)

    refresh(b, fanin=2)  # first refresh = full base build
    assert b.meta()["n_docs"] == total_docs
    queries = make_queries(spark, corpus_n=60, n_queries=4)
    res = wand_search(spark, idx, queries, k=5)
    assert res.count() > 0

    # third drop AFTER the base is finalized → the streaming refresh
    # folds it into a delta generation (O(delta), base untouched)
    make_corpus(spark, 140).filter(
        F.xxhash64("repo", "path", "commit") % 2 == 1
    ).write.mode("append").parquet(inbox)
    q = stream_ingest(spark, b, inbox, ckpt, available_now=True)
    q.awaitTermination(120)
    gid = refresh(b, fanin=2)
    assert gid is not None and gid != "base"
    meta = b.meta()
    assert [g["id"] for g in meta["generations"]] == [gid]
    total_docs2 = sum(
        m["docs"] for m in b.manifests() if m["unit"].startswith("run-")
    )
    assert meta["n_docs"] == total_docs2 > total_docs
    assert wand_search(spark, idx, queries, k=5).count() > 0


def test_streaming_continuous_refresh_and_compact(spark, tmp_path):
    """Fully continuous mode: refresh_every folds every micro-batch into
    the queryable index (base build first, then O(delta) generations)
    and compaction bounds the generation fan-out inside the stream."""
    inbox = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ckpt")
    idx = str(tmp_path / "idx")
    os.makedirs(inbox, exist_ok=True)
    b = IndexBuilder(spark, idx, n_buckets=4)

    def drop_and_drain(start, n):
        make_corpus(spark, n, start=start).write.mode("append").parquet(inbox)
        q = stream_ingest(
            spark, b, inbox, ckpt, available_now=True,
            refresh_every=1, compact_max_generations=1,
        )
        q.awaitTermination(120)

    drop_and_drain(0, 60)       # first batch → full base build
    assert b.meta()["n_docs"] == 60 and b.meta()["generations"] == []
    drop_and_drain(60, 40)      # delta generation (1 gen ≤ cap: no fold)
    assert len(b.meta()["generations"]) == 1
    drop_and_drain(100, 40)     # second delta → compaction folds to one
    meta = b.meta()
    assert meta["n_docs"] == 140
    assert len(meta["generations"]) == 1  # compacted inside the stream
    live = meta["generations"][0]["id"]
    # deferred reclamation: victims are tombstoned, kept on disk for the
    # grace period (an in-flight query may still scan them), then GC'd
    import glob as _glob
    leftovers = [
        p for p in _glob.glob(f"{idx}/generations/gen*")
        if os.path.basename(p) != live
    ]
    assert leftovers  # victims awaiting grace
    assert b.gc_generations(grace_sec=0)
    assert not [
        p for p in _glob.glob(f"{idx}/generations/gen*")
        if os.path.basename(p) != live
    ]
    queries = make_queries(spark, corpus_n=60, n_queries=4)
    assert wand_search(spark, idx, queries, k=5).count() > 0


def test_streaming_crash_mid_fold_rerun_converges(spark, tmp_path):
    """A crash DURING the in-sink fold (run committed, stats/meta not)
    fails the streaming query; a rerun on the SAME checkpoint replays
    the epoch, the idempotent run manifest no-ops the re-ingest, the
    fold completes, and the final state equals a clean run's."""
    inbox = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ckpt")
    idx = str(tmp_path / "idx")
    os.makedirs(inbox, exist_ok=True)

    b = IndexBuilder(spark, idx, n_buckets=4)
    make_corpus(spark, 60).coalesce(1).write.mode("append").parquet(inbox)
    q = stream_ingest(spark, b, inbox, ckpt, available_now=True,
                      refresh_every=1)
    q.awaitTermination(120)
    assert b.meta()["n_docs"] == 60

    # second batch: inject a crash mid-fold — after the delta's merge
    # waves, before doc/term stats + the meta commit
    make_corpus(spark, 40, start=60).coalesce(1).write.mode(
        "append"
    ).parquet(inbox)

    def boom(*a, **kw):
        raise RuntimeError("injected crash mid-fold")

    b._write_doc_term_stats = boom
    q = stream_ingest(spark, b, inbox, ckpt, available_now=True,
                      refresh_every=1)
    from pyspark.errors import StreamingQueryException

    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    assert b.meta()["n_docs"] == 60  # meta never advanced

    # rerun on the same checkpoint with a healthy builder
    b2 = IndexBuilder(spark, idx, n_buckets=4)
    q = stream_ingest(spark, b2, inbox, ckpt, available_now=True,
                      refresh_every=1)
    q.awaitTermination(120)
    refresh(b2)  # fold any off-cycle tail
    meta = b2.meta()
    assert meta["n_docs"] == 100  # converged, nothing double-ingested
    queries = make_queries(spark, corpus_n=60, n_queries=4)
    assert wand_search(spark, idx, queries, k=5).count() > 0


GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "golden_topk.json")


def test_golden_topk(spark, tmp_path, tiny_corpus):
    """Committed golden top-k of the oracle on the deterministic tiny
    corpus; the fast path must reproduce it exactly (rank + 1e-6 score).
    Mirrors the reference's committed demo report artifacts."""
    idx = str(tmp_path / "gidx")
    IndexBuilder(spark, idx, n_buckets=4).build(tiny_corpus)
    queries = make_queries(spark, corpus_n=200, n_queries=10)
    got = (
        wand_search(spark, idx, queries, k=5)
        .orderBy("query_id", "rank")
        .collect()
    )
    rows = [
        {"query_id": r["query_id"], "rank": r["rank"], "docID": str(r["docID"]),
         "score": round(r["score"], 6)}
        for r in got
    ]
    if not os.path.exists(GOLDEN_PATH):  # first run commits the golden
        with open(GOLDEN_PATH, "w") as f:
            json.dump(rows, f, indent=0)
        pytest.skip("golden file created; commit it")
    with open(GOLDEN_PATH) as f:
        want = json.load(f)
    assert len(rows) == len(want)
    for a, b in zip(rows, want):
        assert (a["query_id"], a["rank"], a["docID"]) == (
            b["query_id"], b["rank"], b["docID"]), (a, b)
        assert abs(a["score"] - b["score"]) < 1e-6


def test_streaming_with_neardup_store_folds_signatures(spark, tmp_path):
    """Continuous mode + incremental near-dup gate: per-micro-batch
    probes drop cross-batch near-dups, and on the refresh cycle the
    store's per-unit dirs fold into one consolidated dir (plus GC) —
    signature storage stays bounded under continuous ingest."""
    from docinsight_spark.index.neardup import NearDupStore

    inbox = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ckpt")
    idx = str(tmp_path / "idx")
    os.makedirs(inbox, exist_ok=True)
    b = IndexBuilder(spark, idx, n_buckets=4)
    nds = NearDupStore(spark, str(tmp_path / "nd"), n=2, n_hashes=12,
                       bands=6)

    def drain():
        q = stream_ingest(
            spark, b, inbox, ckpt, available_now=True, refresh_every=1,
            gc_grace_sec=0.0, neardup_store=nds, neardup_threshold=0.5,
        )
        q.awaitTermination(120)

    base = make_corpus(spark, 40, seed=7)
    base.write.mode("append").parquet(inbox)
    drain()
    assert b.meta()["n_docs"] == 40

    # second drop: 20 fresh docs + 2 byte-identical copies of base docs
    # under new identities (the near-dup gate's job, cross-batch)
    fresh = make_corpus(spark, 20, seed=8, start=1000)
    dups = base.limit(2).select(
        F.concat(F.col("repo"), F.lit("-mirror")).alias("repo"),
        "path", "commit", "lang", "content",
    )
    fresh.unionByName(dups).write.mode("append").parquet(inbox)
    drain()
    assert b.meta()["n_docs"] == 60  # dups gated, only fresh indexed

    # the refresh cycle folded the store: no loose unit dirs remain and
    # the fold manifest covers every unit ever added
    assert nds._loose_units() == []
    fold = nds._fold_info()
    assert fold is not None and len(fold["covered_units"]) >= 2
    # gc at grace 0 ran inside the sink: victim unit dirs are gone
    import glob as _glob
    assert not _glob.glob(f"{nds.root}/bands/unit=*")
    # and the folded store still gates: replaying the (never-registered)
    # mirror dups still hits their stored base twins
    from docinsight_spark.operators.postings import with_doc_id

    got = nds.probe(
        with_doc_id(dups).select("docID", "content"), threshold=0.5
    )
    assert got.count() > 0


def test_cli_ingest_with_neardup_store(spark, tmp_path, capsys):
    """`ingest --neardup-store`: the store is created on first use,
    later runs reopen it, near-dup slices are gated out, and
    `compact --neardup-store` folds the per-unit signature dirs."""
    idx = str(tmp_path / "idx")
    nd = str(tmp_path / "nd")
    base = make_corpus(spark, 80, seed=31)
    c0 = str(tmp_path / "c0")
    base.write.mode("overwrite").parquet(c0)
    assert cli_main([
        "ingest", "--corpus", c0, "--index", idx, "--run-id", "r0",
        "--fanin", "2", "--buckets", "4", "--neardup-store", nd,
    ]) == 0
    capsys.readouterr()
    # delta: 10 fresh + 5 near-identical mirrors of base docs
    fresh = make_corpus(spark, 10, seed=32, start=500)
    mirror = base.limit(5).select(
        F.concat(F.col("repo"), F.lit("-m")).alias("repo"),
        "path", "commit", "lang", "content",
    )
    c1 = str(tmp_path / "c1")
    fresh.unionByName(mirror).write.mode("overwrite").parquet(c1)
    assert cli_main([
        "ingest", "--corpus", c1, "--index", idx, "--run-id", "r1",
        "--fanin", "2", "--neardup-store", nd,
        "--neardup-threshold", "0.5",
    ]) == 0
    capsys.readouterr()
    b = IndexBuilder.for_index(spark, idx)
    assert b.meta()["n_docs"] == 90  # mirrors gated, fresh indexed
    assert cli_main([
        "compact", "--index", idx, "--neardup-store", nd,
        "--gc-grace", "0",
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["neardup_fold"] == 0  # first fold committed
    import glob as _glob
    assert not _glob.glob(f"{nd}/bands/unit=*")  # victims reclaimed


def test_cli_report_evidence_snippet_text(spark, cli_env, capsys):
    """`report --evidence-window W --corpus <parquet>` renders the
    actual matched KWIC token span (round 6) — JSON carries
    match_snippet_text and the HTML page shows it (the reference
    displays matched text in its report)."""
    import html as _html

    idx = f"{cli_env['root']}/idx_pos"
    assert cli_main([
        "build", "--corpus", cli_env["corpus"], "--index", idx,
        "--buckets", "4", "--positions",
    ]) == 0
    capsys.readouterr()
    rep_out = f"{cli_env['root']}/report_ev.json"
    assert cli_main([
        "report", "--index", idx, "--queries", cli_env["queries"],
        "--k", "5", "--evidence-window", "8",
        "--corpus", cli_env["corpus"], "--out", rep_out,
    ]) == 0
    with open(rep_out) as f:
        rep = json.load(f)
    ev = rep.get("evidence", [])
    assert ev, "no evidence rows (verbatim queries should match)"
    with_text = [e for e in ev if e.get("match_snippet_text")]
    assert with_text, ev[:2]
    for e in with_text:
        assert len(e["match_snippet_text"].split(" ")) >= 1
        assert e["match_snippet_start"] is not None
    with open(rep_out[: -len(".json")] + ".html") as f:
        page = f.read()
    assert "Matched-sentence evidence" in page
    assert _html.escape(with_text[0]["match_snippet_text"][:200]) in page
