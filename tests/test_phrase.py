"""Positional postings + exact phrase search: kernel parity with the
tokenizer, a full python BM25 phrase oracle, and the index life-cycle
(generations, deletes, resurrection, compaction) seen through phrase
queries."""

from __future__ import annotations

import sys
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from conftest import assert_positional_feeds_match
from docinsight_spark.corpus import make_corpus
from docinsight_spark.functions.tokenizer import tokenize_code_pandas
from docinsight_spark.index.builder import IndexBuilder
from docinsight_spark.index.phrase import phrase_search, proximity_search
from docinsight_spark.operators.postings import build_postings

K1, B = 1.2, 0.75


# ---------------------------------------------------------------------------
# python reference oracle
# ---------------------------------------------------------------------------


def _doc_tokens(corpus_pdf: pd.DataFrame) -> pd.Series:
    return tokenize_code_pandas(corpus_pdf["content"], corpus_pdf["lang"])


def _phrase_counts(tokens: list[str], ptoks: list[str]) -> int:
    n = len(ptoks)
    return sum(
        1 for i in range(len(tokens) - n + 1) if tokens[i : i + n] == ptoks
    )


def _oracle_scores(
    corpus_pdf: pd.DataFrame, phrase: str, lang: str = "java"
) -> dict[str, float]:
    """{path: bm25 score} for every doc matching the phrase, over the
    code-aware token stream (the engine's production tokenizer)."""
    toks = _doc_tokens(corpus_pdf)
    ptoks = list(
        tokenize_code_pandas(pd.Series([phrase]), pd.Series([lang]))[0]
    )
    dl = toks.map(len)
    live = dl > 0
    n_docs = int(live.sum())
    avgdl = float(dl[live].mean())
    tf = toks.map(lambda ts: _phrase_counts(list(ts), ptoks))
    hit = tf > 0
    df = int(hit.sum())
    if df == 0:
        return {}
    import math

    idf = math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
    out = {}
    for path, t, d in zip(
        corpus_pdf["path"][hit], tf[hit], dl[hit], strict=True
    ):
        out[path] = idf * t * (K1 + 1) / (t + K1 * (1 - B + B * d / avgdl))
    return out


def _engine_scores(spark, b: IndexBuilder, idx: str, phrase: str) -> dict:
    res = phrase_search(spark, idx, [(0, phrase)], k=10_000)
    dim = b.docs_dim().select("docID", "path")
    return {
        r["path"]: r["score"]
        for r in res.join(dim, "docID").select("path", "score").collect()
    }


def _pick_phrase(corpus_pdf: pd.DataFrame, doc_i: int, start: int, n: int) -> str:
    toks = list(_doc_tokens(corpus_pdf).iloc[doc_i])
    return " ".join(toks[start : start + n])


def _half_up4(x: float) -> float:
    """Spark's ``round(x, 4)``: HALF_UP on the double's decimal string."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def _want_rows(b: IndexBuilder, scores: dict[int, dict[str, float]], k: int):
    """Oracle ``{query_id: {path: score}}`` as the engine's top-k rows:
    rank by 4-dp rounded score desc, then docID."""
    ids = {
        r["path"]: int(r["docID"])
        for r in b.docs_dim().select("path", "docID").collect()
    }
    out = []
    for q, by_path in scores.items():
        ranked = sorted(
            ((ids[p], sc) for p, sc in by_path.items()),
            key=lambda x: (-_half_up4(x[1]), x[0]),
        )[:k]
        out.extend((q, r + 1, d, sc) for r, (d, sc) in enumerate(ranked))
    return sorted(out)


def _assert_feeds_oracle(monkeypatch, spark, b, idx, queries, want, w=None, k=10_000):
    """Phrase (``w`` None) or NEAR(``w``) search of ``queries`` on both
    feeds, each rank-identical to the oracle's ``want``
    (``{query_id: {path: score}}``)."""
    if w is None:
        def search():
            return phrase_search(spark, idx, queries, k=k)
    else:
        def search():
            return proximity_search(spark, idx, queries, k=k, window=w)
    assert_positional_feeds_match(monkeypatch, search, _want_rows(b, want, k))


def _assert_same_scores(a: dict, b: dict, atol=1e-9):
    assert set(a) == set(b), (sorted(set(a) - set(b))[:3], sorted(set(b) - set(a))[:3])
    for k in a:
        assert abs(a[k] - b[k]) < atol, (k, a[k], b[k])


# ---------------------------------------------------------------------------
# postings-level positions parity
# ---------------------------------------------------------------------------


def test_kernel_positions_match_token_stream(spark, tiny_corpus):
    sub = tiny_corpus.limit(40)
    pdf = sub.toPandas()
    posts = build_postings(sub, code_aware=True, with_positions=True).toPandas()
    toks = _doc_tokens(pdf)
    # docID is xxhash64(repo,path,commit); recover via a spark round trip
    ids = {
        r["path"]: r["docID"]
        for r in build_postings(sub, code_aware=True)
        .sparkSession.createDataFrame(pdf)
        .withColumn("docID", F.xxhash64("repo", "path", "commit"))
        .select("path", "docID")
        .collect()
    }
    by_doc = posts.groupby("docID")
    for path, ts in zip(pdf["path"], toks, strict=True):
        g = by_doc.get_group(ids[path]).set_index("term")
        expect: dict[str, list[int]] = {}
        for i, t in enumerate(ts):
            expect.setdefault(t, []).append(i)
        assert set(g.index) == set(expect)
        for t, pos in expect.items():
            got = list(g.loc[t, "positions"])
            assert got == pos, (path, t, got[:5], pos[:5])
            assert int(g.loc[t, "tf"]) == len(pos)


def test_declarative_positions_match_simple_tokens(spark):
    docs = spark.createDataFrame(
        [("r", "p1", "0", "en", "a b a  c\tb a")],
        "repo string, path string, commit string, lang string, content string",
    )
    posts = {
        r["term"]: (r["tf"], list(r["positions"]))
        for r in build_postings(
            docs, code_aware=False, with_positions=True
        ).collect()
    }
    assert posts == {
        "a": (3, [0, 2, 5]),
        "b": (2, [1, 4]),
        "c": (1, [3]),
    }


# ---------------------------------------------------------------------------
# end-to-end phrase search vs python oracle + life-cycle
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def ph_setup(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("phx"))
    base = make_corpus(spark, 120, seed=31, partitions=3)
    b = IndexBuilder(spark, idx, n_buckets=4, positions=True)
    b.build(base)
    pdf = base.toPandas().sort_values("path").reset_index(drop=True)
    return {"idx": idx, "b": b, "base": base, "pdf": pdf}


def test_phrase_matches_python_oracle(spark, ph_setup, monkeypatch):
    pdf = ph_setup["pdf"]
    for doc_i, start, n in [(3, 4, 2), (10, 2, 3), (40, 0, 2)]:
        phrase = _pick_phrase(pdf, doc_i, start, n)
        want = _oracle_scores(pdf, phrase)
        assert want, f"picked phrase {phrase!r} matches nothing"
        got = _engine_scores(spark, ph_setup["b"], ph_setup["idx"], phrase)
        _assert_same_scores(got, want)
        _assert_feeds_oracle(
            monkeypatch, spark, ph_setup["b"], ph_setup["idx"],
            [(0, phrase)], {0: want},
        )


def test_phrase_unknown_or_empty(spark, ph_setup):
    res = phrase_search(
        spark, ph_setup["idx"], [(0, "zzznope qqqnada"), (1, "   ")], k=5
    )
    assert res.count() == 0


def test_phrase_requires_positions(spark, tmp_path):
    idx = str(tmp_path / "nopos")
    b = IndexBuilder(spark, idx, n_buckets=4)
    b.build(make_corpus(spark, 30, seed=32, partitions=2))
    with pytest.raises(ValueError, match="positions"):
        phrase_search(spark, idx, [(0, "anything")], k=5)


def test_mixed_positions_setting_refused(spark, ph_setup, tmp_path):
    # finalized index: meta compat gate
    b2 = IndexBuilder(spark, ph_setup["idx"], n_buckets=4, positions=False)
    with pytest.raises(ValueError, match="do not match"):
        b2.add_run(make_corpus(spark, 10, seed=33), "bad")
    # pre-meta: run-manifest compat gate
    idx2 = str(tmp_path / "mixed")
    a = IndexBuilder(spark, idx2, n_buckets=4, positions=True)
    a.add_run(make_corpus(spark, 10, seed=34), "r0")
    c = IndexBuilder(spark, idx2, n_buckets=4, positions=False)
    with pytest.raises(ValueError, match="settings"):
        c.add_run(make_corpus(spark, 10, seed=35, start=10), "r1")


def test_phrase_across_generations(spark, tmp_path, monkeypatch):
    """A phrase whose only match arrives in a delta generation is found,
    and scores equal a single-shot rebuild over the union (global
    N/avgdl exactness through refresh_delta)."""
    idx = str(tmp_path / "gen")
    base = make_corpus(spark, 80, seed=41, partitions=2)
    delta = make_corpus(spark, 40, seed=41, partitions=2, start=80)
    b = IndexBuilder(spark, idx, n_buckets=4, positions=True)
    b.build(base)
    b.add_run(delta, "d1")
    assert b.refresh_delta() is not None

    union_pdf = base.unionByName(delta).toPandas()
    dpdf = delta.toPandas().reset_index(drop=True)
    phrase = _pick_phrase(dpdf, 5, 3, 2)
    want = _oracle_scores(union_pdf, phrase)
    got = _engine_scores(spark, b, idx, phrase)
    _assert_same_scores(got, want)
    _assert_feeds_oracle(monkeypatch, spark, b, idx, [(0, phrase)], {0: want})
    # at least one match must be a delta doc (the generation is visible)
    delta_paths = set(dpdf["path"])
    assert set(got) & delta_paths


def test_phrase_delete_resurrect_compact(spark, tmp_path, monkeypatch):
    """Life-cycle under phrase queries: a deleted doc's phrases stop
    matching (root-scoped exclusion), a re-ingested copy matches again,
    and a forced compaction (physical reclaim; positions ride the fold)
    keeps scores oracle-exact."""
    idx = str(tmp_path / "life")
    base = make_corpus(spark, 60, seed=51, partitions=2)
    delta = make_corpus(spark, 30, seed=51, partitions=2, start=60)
    b = IndexBuilder(spark, idx, n_buckets=4, positions=True)
    b.build(base)
    b.add_run(delta, "d1")
    assert b.refresh_delta() is not None

    dpdf = delta.toPandas().reset_index(drop=True)
    victim_path = dpdf["path"][4]
    phrase = _pick_phrase(dpdf, 4, 1, 3)
    got0 = _engine_scores(spark, b, idx, phrase)
    assert victim_path in got0

    dim = b.docs_dim()
    assert b.delete_docs(dim.filter(F.col("path") == victim_path)) is not None
    surv_pdf = (
        base.unionByName(delta)
        .filter(F.col("path") != victim_path)
        .toPandas()
    )
    got1 = _engine_scores(spark, b, idx, phrase)
    assert victim_path not in got1
    _assert_same_scores(got1, _oracle_scores(surv_pdf, phrase))
    # the victim's phrase may now match nothing: a second phrase keeps
    # the feed comparison non-empty
    other = _pick_phrase(dpdf, 7, 2, 2)
    _assert_feeds_oracle(
        monkeypatch, spark, b, idx, [(0, phrase), (1, other)],
        {0: _oracle_scores(surv_pdf, phrase), 1: _oracle_scores(surv_pdf, other)},
    )

    # resurrection: re-ingest the victim row, fold a new generation; the
    # live copy scores with its own root's doc length on both feeds
    victim_rows = delta.filter(F.col("path") == victim_path)
    b.add_run(victim_rows, "rez")
    assert b.refresh_delta() is not None
    got2 = _engine_scores(spark, b, idx, phrase)
    full_pdf = base.unionByName(delta).toPandas()
    _assert_same_scores(got2, _oracle_scores(full_pdf, phrase))
    _assert_feeds_oracle(
        monkeypatch, spark, b, idx, [(0, phrase)],
        {0: _oracle_scores(full_pdf, phrase)},
    )

    # physical reclaim: force-fold every generation; positions survive
    assert b.compact(force=True, delete_victims=True) is not None
    got3 = _engine_scores(spark, b, idx, phrase)
    _assert_same_scores(got3, _oracle_scores(full_pdf, phrase))
    _assert_feeds_oracle(
        monkeypatch, spark, b, idx, [(0, phrase)],
        {0: _oracle_scores(full_pdf, phrase)},
    )


# ---------------------------------------------------------------------------
# proximity NEAR(w) retrieval (round 6)
# ---------------------------------------------------------------------------


def _prox_counts(tokens: list[str], qtoks: list[str], w: int) -> int:
    """Anchored NEAR(w): count positions of qtoks[0] with every other
    query token occurring within ±w tokens."""
    pos: dict[str, list[int]] = {}
    for i, t in enumerate(tokens):
        pos.setdefault(t, []).append(i)
    if any(t not in pos for t in qtoks):
        return 0
    return sum(
        1
        for p in pos[qtoks[0]]
        if all(any(abs(q - p) <= w for q in pos[t]) for t in qtoks[1:])
    )


def _prox_oracle_scores(
    corpus_pdf: pd.DataFrame, query: str, w: int, lang: str = "java"
) -> dict[str, float]:
    import math

    toks = _doc_tokens(corpus_pdf)
    qtoks = list(
        tokenize_code_pandas(pd.Series([query]), pd.Series([lang]))[0]
    )
    dl = toks.map(len)
    live = dl > 0
    n_docs, avgdl = int(live.sum()), float(dl[live].mean())
    tf = toks.map(lambda ts: _prox_counts(list(ts), qtoks, w))
    hit = tf > 0
    df = int(hit.sum())
    if df == 0:
        return {}
    idf = math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
    return {
        path: idf * t * (K1 + 1) / (t + K1 * (1 - B + B * d / avgdl))
        for path, t, d in zip(
            corpus_pdf["path"][hit], tf[hit], dl[hit], strict=True
        )
    }


def _prox_engine_scores(spark, b, idx, query: str, w: int) -> dict:
    res = proximity_search(spark, idx, [(0, query)], k=10_000, window=w)
    dim = b.docs_dim().select("docID", "path")
    return {
        r["path"]: r["score"]
        for r in res.join(dim, "docID").select("path", "score").collect()
    }


def _pick_near_pair(corpus_pdf: pd.DataFrame, doc_i: int, gap: int) -> str:
    """Two tokens of one doc separated by ``gap`` positions (NOT
    adjacent) — a query phrase search would miss but NEAR(≥gap) hits."""
    ts = list(_doc_tokens(corpus_pdf).iloc[doc_i])
    for i in range(len(ts) - gap):
        a, bb = ts[i], ts[i + gap]
        if a != bb and ts[i + 1] != bb:  # ensure not also adjacent here
            return f"{a} {bb}"
    raise AssertionError("fixture doc too short to pick a near pair")


def test_proximity_matches_python_oracle(spark, ph_setup, monkeypatch):
    pdf = ph_setup["pdf"]
    for doc_i, gap, w in [(3, 3, 4), (10, 4, 4), (40, 2, 8)]:
        q = _pick_near_pair(pdf, doc_i, gap)
        want = _prox_oracle_scores(pdf, q, w)
        assert want, f"picked near-pair {q!r} matches nothing"
        got = _prox_engine_scores(spark, ph_setup["b"], ph_setup["idx"], q, w)
        _assert_same_scores(got, want)
        _assert_feeds_oracle(
            monkeypatch, spark, ph_setup["b"], ph_setup["idx"],
            [(0, q)], {0: want}, w=w,
        )


def test_repeated_term_feeds_match_exact_oracle(spark, ph_setup, monkeypatch):
    """A query repeating a term (``a b a``: one posting row feeds two
    offsets) is rank-identical to the oracle on both feeds, as a phrase
    and as NEAR(4)."""
    pdf = ph_setup["pdf"]
    q = next(
        " ".join(ts[i : i + 3])
        for ts in map(list, _doc_tokens(pdf))
        for i in range(len(ts) - 2)
        if ts[i] == ts[i + 2] != ts[i + 1]
    )
    want = _oracle_scores(pdf, q)
    assert want
    _assert_feeds_oracle(
        monkeypatch, spark, ph_setup["b"], ph_setup["idx"], [(0, q)], {0: want}
    )
    _assert_feeds_oracle(
        monkeypatch, spark, ph_setup["b"], ph_setup["idx"], [(0, q)],
        {0: _prox_oracle_scores(pdf, q, 4)}, w=4,
    )


def test_proximity_wider_than_phrase(spark, ph_setup):
    """A non-adjacent co-occurring pair: phrase search misses it in the
    picked doc, NEAR(w) finds it; NEAR(1) behaves like unordered
    adjacency (subset check)."""
    pdf = ph_setup["pdf"]
    q = _pick_near_pair(pdf, 7, 3)
    doc_path = pdf["path"][7]
    phr = _engine_scores(spark, ph_setup["b"], ph_setup["idx"], q)
    near = _prox_engine_scores(spark, ph_setup["b"], ph_setup["idx"], q, 4)
    assert doc_path in near
    assert doc_path not in phr
    w1 = _prox_oracle_scores(pdf, q, 1)
    got1 = _prox_engine_scores(spark, ph_setup["b"], ph_setup["idx"], q, 1)
    _assert_same_scores(got1, w1)


def test_searcher_proximity_matches_direct(spark, ph_setup):
    from docinsight_spark.index.wand import Searcher

    q = _pick_near_pair(ph_setup["pdf"], 9, 3)
    s = Searcher(spark, ph_setup["idx"], cache=False)
    direct = _prox_engine_scores(spark, ph_setup["b"], ph_setup["idx"], q, 4)
    dim = ph_setup["b"].docs_dim().select("docID", "path")
    via = {
        r["path"]: r["score"]
        for r in s.proximity([(0, q)], k=10_000, window=4)
        .join(dim, "docID").select("path", "score").collect()
    }
    assert direct
    _assert_same_scores(via, direct)


def test_proximity_window_validation(spark, ph_setup):
    with pytest.raises(ValueError, match="window"):
        proximity_search(spark, ph_setup["idx"], [(0, "a b")], window=0)


def test_proximity_delete_resurrect(spark, tmp_path, monkeypatch):
    """NEAR(w) under the delete life-cycle: a deleted doc stops
    matching (root-scoped exclusion inside the kernel), a re-ingested
    copy matches again — scores oracle-exact at each step."""
    idx = str(tmp_path / "proxlife")
    base = make_corpus(spark, 60, seed=57, partitions=2)
    b = IndexBuilder(spark, idx, n_buckets=4, positions=True)
    b.build(base)
    pdf = base.toPandas().sort_values("path").reset_index(drop=True)
    q = _pick_near_pair(pdf, 5, 3)
    w = 4
    victim_path = pdf["path"][5]
    got0 = _prox_engine_scores(spark, b, idx, q, w)
    assert victim_path in got0
    _assert_same_scores(got0, _prox_oracle_scores(pdf, q, w))

    assert b.delete_docs(
        b.docs_dim().filter(F.col("path") == victim_path)
    ) is not None
    surv = pdf[pdf["path"] != victim_path]
    got1 = _prox_engine_scores(spark, b, idx, q, w)
    assert victim_path not in got1
    _assert_same_scores(got1, _prox_oracle_scores(surv, q, w))
    # the victim's pair may now match nothing: a second pair keeps the
    # feed comparison non-empty
    q2 = _pick_near_pair(pdf, 9, 3)
    _assert_feeds_oracle(
        monkeypatch, spark, b, idx, [(0, q), (1, q2)],
        {0: _prox_oracle_scores(surv, q, w), 1: _prox_oracle_scores(surv, q2, w)},
        w=w,
    )

    b.add_run(base.filter(F.col("path") == victim_path), "rez")
    assert b.refresh_delta() is not None
    got2 = _prox_engine_scores(spark, b, idx, q, w)
    _assert_same_scores(got2, _prox_oracle_scores(pdf, q, w))
    _assert_feeds_oracle(
        monkeypatch, spark, b, idx, [(0, q)], {0: _prox_oracle_scores(pdf, q, w)},
        w=w,
    )


# ---------------------------------------------------------------------------
# keyword-in-context snippets
# ---------------------------------------------------------------------------


def _py_best_window(mpos: list[int], w: int) -> tuple[int, int]:
    best = None
    for p in mpos:
        m = sum(1 for q in mpos if p <= q < p + w)
        if best is None or m > best[1]:
            best = (p, m)
    return best


def test_snippet_windows_match_python_oracle(spark, ph_setup):
    from docinsight_spark.index.phrase import snippet_windows

    pdf = ph_setup["pdf"]
    toks = _doc_tokens(pdf)
    # two query term sets drawn from real docs
    qsets = {
        0: set(list(toks.iloc[3])[:3]),
        1: set(list(toks.iloc[10])[4:7]),
    }
    qterms = spark.createDataFrame(
        [(q, t) for q, ts in qsets.items() for t in ts],
        "query_id long, term string",
    )
    # candidates: every doc matching ≥1 term of the query
    cands, want = [], {}
    ids = {
        r["path"]: r["docID"]
        for r in ph_setup["b"].docs_dim().select("path", "docID").collect()
    }
    W = 6
    for q, ts in qsets.items():
        for path, dt in zip(pdf["path"], toks, strict=True):
            mpos = [i for i, t in enumerate(dt) if t in ts]
            if mpos:
                cands.append((q, ids[path]))
                want[(q, ids[path])] = _py_best_window(mpos, W)
    cand_df = spark.createDataFrame(cands, "query_id long, docID long")
    got = {
        (r["query_id"], r["docID"]): (r["snippet_start"], r["n_matches"])
        for r in snippet_windows(
            spark, ph_setup["idx"], cand_df, qterms, window=W
        ).collect()
    }
    assert got == want


def test_snippet_requires_positions(spark, tmp_path):
    from docinsight_spark.index.phrase import snippet_windows

    idx = str(tmp_path / "nopos2")
    b = IndexBuilder(spark, idx, n_buckets=2)
    b.build(make_corpus(spark, 20, seed=71, partitions=2))
    qt = spark.createDataFrame([(0, "x")], "query_id long, term string")
    cd = spark.createDataFrame([(0, 1)], "query_id long, docID long")
    with pytest.raises(ValueError, match="positions"):
        snippet_windows(spark, idx, cd, qt)


def test_fsck_positions_integrity(spark, ph_setup):
    """fsck(deep=True) verifies the positional layout (Σtf ==
    Σ|positions| per live root); the default audit skips the O(corpus)
    scan entirely (round-6 ADVICE: cost surprise)."""
    shallow = ph_setup["b"].fsck()
    assert "positions_integrity" not in shallow["checks"]
    assert shallow["ok"], shallow
    out = ph_setup["b"].fsck(deep=True)
    assert out["checks"]["positions_integrity"]["ok"], out
    assert out["ok"], out


def test_report_pipeline_evidence_snippets(spark, ph_setup, tmp_path):
    """analyze_documents(evidence_window=W): a sentence copied verbatim
    from an indexed doc carries a non-null evidence span on its best
    match; a positionless index is refused loudly."""
    from docinsight_spark.operators.pipeline import analyze_documents

    pdf = ph_setup["pdf"]
    # query doc = two verbatim STATEMENT lines of an indexed doc
    # (header/comment lines tokenize to nothing under comment stripping)
    lines = [
        ln for ln in pdf["content"][7].split("\n")
        if ln.startswith(("    ", "        ")) and ln.strip()
    ][:2]
    assert lines, "fixture doc had no statement lines"
    qdocs = spark.createDataFrame(
        [(1, "\n".join(lines))], "doc_id long, content string"
    )
    sent, _spans, _orig = analyze_documents(
        spark, ph_setup["idx"], qdocs, k=5, evidence_window=8,
        corpus=ph_setup["base"],
    )
    rows = sent.filter(F.col("best_match") != "").collect()
    assert rows, "verbatim sentences found no match"
    assert all(r["match_snippet_start"] is not None for r in rows)
    assert all(r["match_snippet_matches"] >= 1 for r in rows)
    # rendered KWIC text (round 6): the snippet string is the EXACT
    # token slice [start, start+W) of the matched doc's token stream
    dim = {
        str(r["docID"]): r["path"]
        for r in ph_setup["b"].docs_dim().select("docID", "path").collect()
    }
    toks_by_path = dict(
        zip(pdf["path"], _doc_tokens(pdf), strict=True)
    )
    for r in rows:
        ts = list(toks_by_path[dim[r["best_match"]]])
        start = int(r["match_snippet_start"])
        want_txt = " ".join(ts[start : start + 8])
        assert r["match_snippet_text"] == want_txt, (
            r["match_snippet_text"], want_txt)

    # positionless index → loud
    idx2 = str(tmp_path / "nopos3")
    IndexBuilder(spark, idx2, n_buckets=2).build(
        make_corpus(spark, 20, seed=81, partitions=2)
    )
    with pytest.raises(ValueError, match="positions"):
        analyze_documents(spark, idx2, qdocs, k=3, evidence_window=8)


def test_searcher_phrase_prefix_refresh_transparent(spark, tmp_path):
    """Server-mode phrase/prefix: results equal the direct functions,
    and a refresh_delta is picked up without recreating the Searcher."""
    from docinsight_spark.index.wand import Searcher, prefix_search

    idx = str(tmp_path / "srv")
    base = make_corpus(spark, 60, seed=91, partitions=2)
    delta = make_corpus(spark, 30, seed=91, partitions=2, start=60)
    b = IndexBuilder(spark, idx, n_buckets=4, positions=True)
    b.build(base)
    s = Searcher(spark, idx, cache=False)

    dpdf = delta.toPandas().reset_index(drop=True)
    phrase = _pick_phrase(dpdf, 2, 5, 2)
    direct0 = {
        (r["docID"], round(r["score"], 9))
        for r in phrase_search(spark, idx, [(0, phrase)], k=50).collect()
    }
    via0 = {
        (r["docID"], round(r["score"], 9))
        for r in s.phrase([(0, phrase)], k=50).collect()
    }
    assert via0 == direct0

    b.add_run(delta, "d1")
    assert b.refresh_delta() is not None
    # same Searcher now sees the generation
    direct1 = {
        (r["docID"], round(r["score"], 9))
        for r in phrase_search(spark, idx, [(0, phrase)], k=50).collect()
    }
    via1 = {
        (r["docID"], round(r["score"], 9))
        for r in s.phrase([(0, phrase)], k=50).collect()
    }
    assert via1 == direct1 and len(direct1) > len(direct0)

    pfx = phrase.split()[0][:2]
    dp = {
        (r["docID"], round(r["score"], 9))
        for r in prefix_search(spark, idx, [(0, pfx)], k=20).collect()
    }
    vp = {
        (r["docID"], round(r["score"], 9))
        for r in s.prefix([(0, pfx)], k=20).collect()
    }
    assert vp == dp and dp


def test_near_anchor_tf_matches_per_group_reference():
    """Kernel-parity for the batch-wide NEAR counting (round 7): the
    composite-key slot passes must reproduce the straightforward
    per-group searchsorted loop on randomized group layouts — varied
    phrase lengths (incl. single-term), incomplete groups, duplicate
    and boundary positions."""
    import numpy as np

    from docinsight_spark.index.phrase import _near_anchor_tf

    rng = np.random.RandomState(1234)
    for trial in range(20):
        w = int(rng.randint(1, 9))
        n_groups = int(rng.randint(1, 60))
        rows, n_req_g, complete = [], [], []
        for _g in range(n_groups):
            k = int(rng.randint(1, 6))          # offsets per query
            n_req_g.append(k)
            miss = rng.rand() < 0.2 and k > 1   # incomplete copy
            n_rows = k - 1 if miss else k
            complete.append(not miss)
            for _r in range(n_rows):
                n_pos = int(rng.randint(1, 12))
                rows.append(np.sort(rng.randint(0, 300, size=n_pos)).astype(np.int64))
        pos_objs = np.empty(len(rows), dtype=object)
        for i, r in enumerate(rows):
            pos_objs[i] = r
        lens = np.fromiter((len(p) for p in pos_objs), np.int64, len(pos_objs))
        counts = [
            (n_req_g[g] if complete[g] else n_req_g[g] - 1)
            for g in range(n_groups)
        ]
        starts = np.concatenate(([0], np.cumsum(counts)[:-1])).astype(np.int64)
        rows_per_g = np.asarray(counts, dtype=np.int64)
        n_req = np.asarray(n_req_g, dtype=np.int64)

        got = _near_anchor_tf(pos_objs, starts, n_req, rows_per_g, lens, w)

        # reference: the round-6 per-group loop
        want = np.zeros(n_groups, dtype=np.int64)
        for g in range(n_groups):
            s = starts[g]
            e = s + rows_per_g[g]
            if rows_per_g[g] < n_req[g]:
                continue
            anchors = np.asarray(pos_objs[s], dtype=np.int64)
            ok = np.ones(len(anchors), dtype=bool)
            for i in range(s + 1, e):
                q = np.asarray(pos_objs[i], dtype=np.int64)
                lo = np.searchsorted(q, anchors - w, side="left")
                hi = np.searchsorted(q, anchors + w, side="right")
                ok &= hi > lo
            want[g] = int(ok.sum())
        assert (got == want).all(), (trial, got.tolist(), want.tolist())


def test_alive_queries_at_the_batch_cap():
    """``_alive_queries`` (queries whose every term occurs) over a
    batch at ``MAX_PHRASE_BATCH``: one pass over the offsets, equal to
    a per-query scan on sampled ids."""
    import random

    from docinsight_spark.index.phrase import MAX_PHRASE_BATCH, _alive_queries

    rng = random.Random(7)
    offsets = [
        (q, off, f"t{rng.randrange(500)}")
        for q in range(MAX_PHRASE_BATCH)
        for off in range(rng.randint(1, 4))
    ]
    df_map = {f"t{i}": i % 7 for i in range(500)}  # every 7th term absent
    alive = _alive_queries(offsets, df_map)
    assert 0 < len(alive) < MAX_PHRASE_BATCH
    for qid in rng.sample(range(MAX_PHRASE_BATCH), 50):
        mine = [t for q, _, t in offsets if q == qid]
        assert (qid in alive) == all(df_map.get(t, 0) > 0 for t in mine)


def _phrase_batch(toks: list[list[str]], n_queries: int, rng) -> list[tuple[int, str]]:
    """Phrases of 2-3 adjacent tokens of random docs; every tenth gets
    a corpus-absent term appended."""
    batch = []
    for qid in range(n_queries):
        ts = toks[rng.randrange(len(toks))]
        n = rng.randint(2, 3)
        start = rng.randrange(max(len(ts) - n, 1))
        phrase = " ".join(ts[start : start + n])
        if qid % 10 == 0:
            phrase += " zzznope"
        batch.append((qid, phrase))
    return batch


def test_large_phrase_batch_matches_single_calls(spark, ph_setup):
    """A 5,000-phrase batch returns, for sampled ids, the rows of the
    same phrase searched alone (incl. phrases with an unknown term)."""
    import random

    pdf = ph_setup["pdf"]
    toks = [list(t) for t in _doc_tokens(pdf)]
    rng = random.Random(11)
    batch = _phrase_batch(toks, 5000, rng)
    res = phrase_search(spark, ph_setup["idx"], batch, k=5)
    got = {}
    for r in res.collect():
        got.setdefault(int(r["query_id"]), []).append(
            (int(r["rank"]), int(r["docID"]), round(float(r["score"]), 9))
        )
    assert len(got) > 4000
    sample = rng.sample(range(5000), 6) + [0, 10]
    for qid in sample:
        one = sorted(
            (int(r["rank"]), int(r["docID"]), round(float(r["score"]), 9))
            for r in phrase_search(
                spark, ph_setup["idx"], [(qid, batch[qid][1])], k=5
            ).collect()
        )
        assert sorted(got.get(qid, [])) == one, (qid, batch[qid][1])
        assert bool(one) == (qid % 10 != 0)


def test_phrase_batch_feeds_match_exact_oracle(spark, ph_setup, monkeypatch):
    """A multi-query batch within the driver feed's query cap (the
    generator of the 5,000-phrase test, unknown terms included), as
    phrases and as NEAR(4): both feeds rank-identical to the oracle."""
    import math
    import random

    from docinsight_spark.index.wand import DRIVER_TOKENIZE_MAX

    pdf = ph_setup["pdf"]
    toks = [list(t) for t in _doc_tokens(pdf)]
    batch = _phrase_batch(toks, 300, random.Random(11))
    assert len(batch) <= DRIVER_TOKENIZE_MAX
    dl = [len(ts) for ts in toks]
    n_docs = sum(1 for d in dl if d)
    avgdl = sum(dl) / n_docs

    qtoks = tokenize_code_pandas(
        pd.Series([t for _, t in batch]), pd.Series(["java"] * len(batch))
    )
    vocab = [set(ts) for ts in toks]
    d_of = dict(zip(pdf["path"], dl))

    def oracle(count) -> dict[int, dict[str, float]]:
        out = {}
        for (q, _), qt in zip(batch, qtoks):
            qt = list(qt)
            tf = {
                p: count(ts, qt)
                for p, ts, v in zip(pdf["path"], toks, vocab)
                if v.issuperset(qt)
            }
            tf = {p: t for p, t in tf.items() if t}
            if not tf:
                continue
            idf = math.log((n_docs - len(tf) + 0.5) / (len(tf) + 0.5) + 1.0)
            out[q] = {
                p: idf * t * (K1 + 1) / (t + K1 * (1 - B + B * d_of[p] / avgdl))
                for p, t in tf.items()
            }
        return out

    b, idx = ph_setup["b"], ph_setup["idx"]
    want = oracle(_phrase_counts)
    assert len(want) > 200
    _assert_feeds_oracle(monkeypatch, spark, b, idx, batch, want, k=5)
    _assert_feeds_oracle(
        monkeypatch, spark, b, idx, batch,
        oracle(lambda ts, qt: _prox_counts(ts, qt, 4)), w=4, k=5,
    )


def test_spark_round4_matches_spark_round(spark):
    """The driver feed's rank key equals Spark's ``round(x, 4)`` (HALF_UP
    on the decimal string) on half-way doubles and their neighbours —
    where ``np.round`` (half-even on the binary value) differs."""
    import numpy as np

    from docinsight_spark.index.phrase import spark_round4

    ties = [0.12345, 2.00005, 0.00015, 1.23455, 3.99995, 0.00005, 7.77775, 12.34565]
    xs = [
        float(v)
        for t in ties
        for v in (t, np.nextafter(t, 0.0), np.nextafter(t, np.inf))
    ]
    got = spark.createDataFrame([(x,) for x in xs], "x double").select(
        F.round("x", 4).alias("r")
    ).collect()
    want = np.array([r["r"] for r in got])
    assert (spark_round4(np.array(xs)) == want).all(), list(
        zip(xs, spark_round4(np.array(xs)), want)
    )
    # the test has teeth: half-even rounding mis-ranks some of these ties
    assert (np.round(np.array(xs), 4) != want).any()
