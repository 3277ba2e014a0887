"""Prefix (wildcard) retrieval and conjunctive-AND semantics: expansion
cap/order against a pandas recompute, score parity with a python BM25
oracle, delete-corrected df exclusion, and the require_all gate."""

from __future__ import annotations

import math
import sys
from pathlib import Path

import pandas as pd
import pytest
from conftest import assert_feeds_match, result_rows
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from docinsight_spark.corpus import make_corpus
from docinsight_spark.functions.tokenizer import tokenize_code_pandas
from docinsight_spark.index.builder import IndexBuilder
from docinsight_spark.index.wand import (
    _dict_patterns,
    _expand_local,
    _LocalIndex,
    _query_term_map,
    dictionary_search,
    expand_dictionary,
    expand_prefix,
    prefix_search,
)

K1, B = 1.2, 0.75


@pytest.fixture(scope="module")
def px_setup(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("pfx"))
    corpus = make_corpus(spark, 100, seed=61, partitions=2)
    b = IndexBuilder(spark, idx, n_buckets=4)
    b.build(corpus)
    pdf = corpus.toPandas().reset_index(drop=True)
    toks = tokenize_code_pandas(pdf["content"], pdf["lang"])
    return {"idx": idx, "b": b, "pdf": pdf, "toks": toks}


def _pandas_expansion(toks: pd.Series, prefix: str, m: int) -> list[str]:
    df: dict[str, int] = {}
    for ts in toks:
        for t in set(ts):
            if t.startswith(prefix):
                df[t] = df.get(t, 0) + 1
    ranked = sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))
    return [t for t, _ in ranked[:m]]


def test_expansion_cap_and_order(spark, px_setup):
    for prefix, m in [("s", 4), ("re", 3), ("v", 8)]:
        got = [
            r["term"]
            for r in expand_prefix(
                spark, px_setup["idx"], [(0, prefix)], max_expansions=m
            )
            .orderBy(F.col("df").desc(), "term")
            .collect()
        ]
        want = _pandas_expansion(px_setup["toks"], prefix, m)
        assert got == want, (prefix, got, want)


def test_prefix_scores_match_python_oracle(spark, px_setup):
    toks, pdf = px_setup["toks"], px_setup["pdf"]
    m = 4
    prefix = "s"
    exp = _pandas_expansion(toks, prefix, m)
    dl = toks.map(len)
    n_docs, avgdl = int((dl > 0).sum()), float(dl[dl > 0].mean())
    want: dict[str, float] = {}
    for term in exp:
        df = sum(1 for ts in toks if term in ts)
        idf = math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        for path, ts, d in zip(pdf["path"], toks, dl, strict=True):
            tf = sum(1 for t in ts if t == term)
            if tf:
                want[path] = want.get(path, 0.0) + idf * tf * (K1 + 1) / (
                    tf + K1 * (1 - B + B * d / avgdl)
                )
    res = prefix_search(
        spark, px_setup["idx"], [(0, prefix)], k=10_000, max_expansions=m
    )
    dim = px_setup["b"].docs_dim().select("docID", "path")
    got = {
        r["path"]: r["score"]
        for r in res.join(dim, "docID").select("path", "score").collect()
    }
    assert set(got) == set(want)
    for p in want:
        assert abs(got[p] - want[p]) < 1e-9, (p, got[p], want[p])


def _expansion_oracle(spark, idx, qmap, k):
    """Exact top-k of each query's expansion terms: the oracle over their
    text, once the index's tokenizer is checked to give back exactly
    those terms."""
    from docinsight_spark.evaluation import oracle_from_index
    from docinsight_spark.index import fsio

    texts = [(q, " ".join(ts)) for q, ts in qmap.items() if ts]
    meta = fsio.read_json(f"{idx}/_meta.json")
    assert _query_term_map(texts, meta, len(texts)) == {
        q: sorted(ts) for q, ts in qmap.items() if ts
    }
    q = spark.createDataFrame(texts, "query_id long, query_text string")
    return result_rows(oracle_from_index(spark, idx, q, k=k))


@pytest.mark.parametrize(
    "mode,pats",
    [
        ("prefix", [(0, "s"), (1, "re"), (1, "buf"), (2, "zzqx")]),
        ("contains", [(0, "uff"), (1, "ash"), (1, "ort")]),
    ],
)
def test_expansion_feeds_match_spark_and_oracle(spark, px_setup, monkeypatch, mode, pats):
    """Prefix and contains patterns expand to the same terms on the
    driver (pyarrow over the term_stats roots) as on Spark, and both
    feeds serve the expansions rank-identically to the exact oracle."""
    idx = px_setup["idx"]
    spark_exp: dict[int, list[str]] = {}
    for r in expand_dictionary(spark, idx, pats, 4, mode=mode).collect():
        spark_exp.setdefault(int(r["query_id"]), []).append(r["term"])
    local = _LocalIndex(idx, px_setup["b"].meta())
    driver_exp = _expand_local(local, _dict_patterns(pats, mode), mode, 4)
    assert {q: sorted(ts) for q, ts in driver_exp.items() if ts} == {
        q: sorted(ts) for q, ts in spark_exp.items()
    }
    assert_feeds_match(
        monkeypatch,
        lambda: dictionary_search(spark, idx, pats, k=10, max_expansions=4, mode=mode),
        _expansion_oracle(spark, idx, spark_exp, 10),
    )


def test_prefix_excludes_fully_deleted_terms(spark, tmp_path, monkeypatch):
    """A term whose every holder is tombstoned reaches df 0 through the
    lazy corrections and must drop out of the expansion — on Spark and
    on the driver, whose feeds then agree with the exact oracle."""
    idx = str(tmp_path / "pdel")
    docs = spark.createDataFrame(
        [
            ("r", "p1", "0", "java", "alpha common beta"),
            ("r", "p2", "0", "java", "alphonly common"),
            ("r", "p3", "0", "java", "alpha common gamma"),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    b = IndexBuilder(spark, idx, n_buckets=2)
    b.build(docs)
    before = {
        r["term"]
        for r in expand_prefix(spark, idx, [(0, "alph")], max_expansions=8).collect()
    }
    assert before == {"alpha", "alphonly"}
    b.delete_docs(b.docs_dim().filter(F.col("path") == "p2"))
    after = {
        r["term"]
        for r in expand_prefix(spark, idx, [(0, "alph")], max_expansions=8).collect()
    }
    assert after == {"alpha"}
    local = _LocalIndex(idx, b.meta())
    assert _expand_local(local, [(0, "alph")], "prefix", 8) == {0: ["alpha"]}
    assert_feeds_match(
        monkeypatch,
        lambda: prefix_search(spark, idx, [(0, "alph")], k=5, max_expansions=8),
        _expansion_oracle(spark, idx, {0: ["alpha"]}, 5),
    )


def test_prefix_empty_and_nomatch(spark, px_setup):
    assert (
        prefix_search(spark, px_setup["idx"], [(0, "zzqx")], k=5).count() == 0
    )
    assert prefix_search(spark, px_setup["idx"], [(0, "")], k=5).count() == 0


def test_require_all_conjunctive(spark, px_setup):
    """require_all keeps exactly the docs containing EVERY query term,
    with unchanged scores for the survivors."""
    from docinsight_spark.operators.postings import (
        build_postings,
        corpus_stats,
        doc_stats,
        term_stats,
    )
    from docinsight_spark.operators.query import bm25_scores, query_terms

    pdf, toks = px_setup["pdf"], px_setup["toks"]
    corpus = spark.createDataFrame(pdf)
    postings = build_postings(corpus, code_aware=True).cache()
    dstats = doc_stats(postings)
    tstats = term_stats(postings)
    stats = corpus_stats(dstats)
    # query 0: three tokens that genuinely co-occur in doc 0 (so the
    # conjunction is non-empty) but are not universal; query 1 mixes a
    # real token with one absent from the corpus
    t0 = sorted(set(toks.iloc[0]))
    q0_terms = [t0[0], t0[len(t0) // 2], t0[-1]]
    queries = spark.createDataFrame(
        [(0, " ".join(q0_terms)), (1, f"{q0_terms[0]} zqnosuchterm")],
        "query_id long, query_text string",
    )
    qt = query_terms(queries, code_aware=True)
    loose = bm25_scores(qt, postings, tstats, dstats, stats).toPandas()
    strict = bm25_scores(
        qt, postings, tstats, dstats, stats, require_all=True
    ).toPandas()

    ids = corpus.withColumn(
        "docID", F.xxhash64("repo", "path", "commit")
    ).select("path", "docID").toPandas()
    tok_by_id = {
        docid: set(ts)
        for docid, ts in zip(ids["docID"], toks, strict=True)
    }
    want0 = {d for d, ts in tok_by_id.items() if set(q0_terms) <= ts}
    got0 = set(strict[strict.query_id == 0]["docID"])
    assert want0, "picked terms never co-occur — fixture broke"
    assert got0 == want0
    # query 1 contains a term absent from the corpus: strict AND = empty
    assert (strict.query_id == 1).sum() == 0
    # survivors keep their loose scores exactly
    merged = strict.merge(loose, on=["query_id", "docID"], suffixes=("_s", "_l"))
    assert len(merged) == len(strict)
    assert (merged["score_s"] - merged["score_l"]).abs().max() < 1e-12


def _res(df):
    import numpy as np

    rows = sorted(
        (int(r["query_id"]), int(r["rank"]), int(r["docID"]), float(r["score"]))
        for r in df.collect()
    )
    return rows, np.array([s for *_, s in rows])


def _assert_same(a, b, atol=1e-9):
    import numpy as np

    ra, sa = a
    rb, sb = b
    assert [(q, rk, d) for q, rk, d, _ in ra] == [(q, rk, d) for q, rk, d, _ in rb]
    assert np.allclose(sa, sb, atol=atol)


@pytest.fixture(scope="module")
def bool_queries(px_setup):
    """(positive text, negative words) per query over terms that
    genuinely co-occur: AND is non-empty for q0/q2, q1 carries a term
    absent from the corpus (strict AND = empty), q3 is single-term
    (AND == OR)."""
    toks = px_setup["toks"]
    t0 = sorted(set(toks.iloc[0]))
    t5 = sorted(set(toks.iloc[5]))
    return {
        "pos": [
            (0, f"{t0[0]} {t0[len(t0) // 2]} {t0[-1]}"),
            (1, f"{t0[0]} zqnosuchterm"),
            (2, f"{t5[0]} {t5[-1]}"),
            (3, t0[1]),
        ],
        "neg": [(0, t5[1]), (2, t0[2]), (3, t0[-2])],
    }


def test_wand_require_all_rank_identical_to_exact(spark, px_setup, bool_queries):
    """Boolean AND through the block-max kernel (round 6) must be
    rank-identical (ranks AND scores) to the exact-scoring path."""
    from docinsight_spark.evaluation import oracle_from_index
    from docinsight_spark.index.wand import wand_search

    q = spark.createDataFrame(
        bool_queries["pos"], "query_id long, query_text string"
    )
    fast = _res(wand_search(spark, px_setup["idx"], q, k=8, require_all=True))
    exact = _res(
        oracle_from_index(spark, px_setup["idx"], q, k=8, require_all=True)
    )
    assert len(fast[0]) > 0
    assert not any(r[0] == 1 for r in fast[0])  # absent term → strict empty
    _assert_same(fast, exact)


def test_wand_neg_terms_rank_identical_to_exact(spark, px_setup, bool_queries):
    """Boolean NOT through the block-max kernel: banned docs are
    excluded BEFORE accumulation, results rank-identical to the exact
    path's anti-join."""
    from docinsight_spark.evaluation import oracle_from_index
    from docinsight_spark.index.wand import wand_search

    q = spark.createDataFrame(
        bool_queries["pos"], "query_id long, query_text string"
    )
    negs_txt = spark.createDataFrame(
        bool_queries["neg"], "query_id long, query_text string"
    )
    negs_terms = spark.createDataFrame(
        bool_queries["neg"], "query_id long, term string"
    )
    fast = _res(
        wand_search(spark, px_setup["idx"], q, k=8, neg_queries=negs_txt)
    )
    exact = _res(
        oracle_from_index(spark, px_setup["idx"], q, k=8, neg_terms=negs_terms)
    )
    assert len(fast[0]) > 0
    _assert_same(fast, exact)
    # AND + NOT combined
    fast2 = _res(
        wand_search(
            spark, px_setup["idx"], q, k=8,
            require_all=True, neg_queries=negs_txt,
        )
    )
    exact2 = _res(
        oracle_from_index(
            spark, px_setup["idx"], q, k=8,
            require_all=True, neg_terms=negs_terms,
        )
    )
    _assert_same(fast2, exact2)


@pytest.mark.parametrize(
    "require_all,neg", [(True, False), (False, True), (True, True)],
    ids=["and", "not", "and_not"],
)
def test_boolean_feeds_rank_identical_to_exact(
    spark, px_setup, bool_queries, monkeypatch, require_all, neg
):
    """AND, NOT and AND+NOT: the driver feed and the distributed feed
    are rank-identical to the exact path."""
    from docinsight_spark.evaluation import oracle_from_index
    from docinsight_spark.index.wand import wand_search

    idx = px_setup["idx"]
    q = spark.createDataFrame(bool_queries["pos"], "query_id long, query_text string")
    negs = bool_queries["neg"] if neg else None
    neg_terms = (
        spark.createDataFrame(negs, "query_id long, term string") if neg else None
    )
    want = result_rows(
        oracle_from_index(
            spark, idx, q, k=8, require_all=require_all, neg_terms=neg_terms
        )
    )
    assert_feeds_match(
        monkeypatch,
        lambda: wand_search(
            spark, idx, q, k=8, require_all=require_all, neg_queries=negs
        ),
        want,
    )


def test_searcher_list_and_frame_inputs_identical(spark, px_setup, bool_queries):
    """``Searcher.search`` takes ``(query_id, text)`` lists for the
    queries and the NOT words as well as frames, with identical rows for
    OR, AND and NOT."""
    from docinsight_spark.index.wand import Searcher

    s = Searcher(spark, px_setup["idx"])
    schema = "query_id long, query_text string"
    pos, neg = bool_queries["pos"], bool_queries["neg"]
    for require_all, negs in ((False, None), (True, None), (False, neg)):
        as_list = result_rows(
            s.search(pos, k=8, require_all=require_all, neg_queries=negs)
        )
        as_frame = result_rows(
            s.search(
                spark.createDataFrame(pos, schema), k=8, require_all=require_all,
                neg_queries=spark.createDataFrame(negs, schema) if negs else None,
            )
        )
        assert as_list and as_list == as_frame, (require_all, negs)


def test_wand_boolean_distributed_wave_path(
    spark, px_setup, bool_queries, monkeypatch
):
    """AND/NOT also hold on the distributed-wave path (driver tokenize
    budget 0 forces per-wave tokenization in executors)."""
    from docinsight_spark.index import wand as wand_mod
    from docinsight_spark.index.wand import wand_search

    q = spark.createDataFrame(
        bool_queries["pos"], "query_id long, query_text string"
    )
    neg_qmap = {
        qid: [t] for qid, t in bool_queries["neg"]
    }
    ref = _res(
        wand_search(
            spark, px_setup["idx"], q, k=8,
            require_all=True, _neg_qmap=neg_qmap,
        )
    )
    monkeypatch.setattr(wand_mod, "DRIVER_TOKENIZE_MAX", 0)
    monkeypatch.setattr(wand_mod, "QUERY_CHUNK_SIZE", 2)
    waved = _res(
        wand_search(
            spark, px_setup["idx"], q, k=8,
            require_all=True, _neg_qmap=neg_qmap,
        )
    )
    assert len(ref[0]) > 0
    _assert_same(ref, waved)


def test_neg_terms_boolean_not(spark, px_setup):
    """neg_terms drops exactly the docs containing any negative term;
    survivors keep their scores."""
    from docinsight_spark.operators.postings import (
        build_postings,
        corpus_stats,
        doc_stats,
        term_stats,
    )
    from docinsight_spark.operators.query import bm25_scores, query_terms

    pdf, toks = px_setup["pdf"], px_setup["toks"]
    corpus = spark.createDataFrame(pdf)
    postings = build_postings(corpus, code_aware=True).cache()
    dstats, tstats = doc_stats(postings), term_stats(postings)
    stats = corpus_stats(dstats)
    t0 = sorted(set(toks.iloc[0]))
    pos_terms, neg_term = t0[:2], t0[-1]
    queries = spark.createDataFrame(
        [(0, " ".join(pos_terms))], "query_id long, query_text string"
    )
    qt = query_terms(queries, code_aware=True)
    negs = spark.createDataFrame([(0, neg_term)], "query_id long, term string")
    loose = bm25_scores(qt, postings, tstats, dstats, stats).toPandas()
    strict = bm25_scores(
        qt, postings, tstats, dstats, stats, neg_terms=negs
    ).toPandas()

    ids = corpus.withColumn(
        "docID", F.xxhash64("repo", "path", "commit")
    ).select("path", "docID").toPandas()
    banned = {
        d for d, ts in zip(ids["docID"], toks, strict=True) if neg_term in set(ts)
    }
    assert banned, "picked neg term matches nothing — fixture broke"
    assert set(strict["docID"]) == set(loose["docID"]) - banned
    merged = strict.merge(loose, on=["query_id", "docID"], suffixes=("_s", "_l"))
    assert len(merged) == len(strict)
    assert len(strict) > 0
    assert (merged["score_s"] - merged["score_l"]).abs().max() < 1e-12


# ---------------------------------------------------------------------------
# contains / regex dictionary-expansion modes (round 6)
# ---------------------------------------------------------------------------


def _pandas_dict_expansion(toks: pd.Series, pat: str, m: int,
                           mode: str) -> list[str]:
    import re as _re

    if mode == "prefix":
        match = lambda t: t.startswith(pat)  # noqa: E731
    elif mode == "contains":
        match = lambda t: pat in t  # noqa: E731
    else:
        rx = _re.compile(pat)
        match = lambda t: rx.search(t) is not None  # noqa: E731
    df: dict[str, int] = {}
    for ts in toks:
        for t in set(ts):
            if match(t):
                df[t] = df.get(t, 0) + 1
    ranked = sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))
    return [t for t, _ in ranked[:m]]


def test_contains_expansion_cap_and_order(spark, px_setup):
    from docinsight_spark.index.wand import expand_dictionary

    for sub, m in [("et", 4), ("a", 3), ("ue", 8)]:
        got = [
            r["term"]
            for r in expand_dictionary(
                spark, px_setup["idx"], [(0, sub)], max_expansions=m,
                mode="contains",
            )
            .orderBy(F.col("df").desc(), "term")
            .collect()
        ]
        want = _pandas_dict_expansion(px_setup["toks"], sub, m, "contains")
        assert got == want, (sub, got, want)


def test_regex_expansion_cap_and_order(spark, px_setup):
    from docinsight_spark.index.wand import expand_dictionary

    for pat, m in [("^v.*e$", 4), ("[0-9]", 6), ("a.e", 3)]:
        got = [
            r["term"]
            for r in expand_dictionary(
                spark, px_setup["idx"], [(0, pat)], max_expansions=m,
                mode="regex",
            )
            .orderBy(F.col("df").desc(), "term")
            .collect()
        ]
        want = _pandas_dict_expansion(px_setup["toks"], pat, m, "regex")
        assert got == want, (pat, got, want)


def test_contains_scores_match_prefix_machinery(spark, px_setup):
    """contains-mode search over a substring that happens to be a
    prefix must equal prefix-mode search: same expansion, same scores
    — pins that mode only changes the dictionary predicate."""
    from docinsight_spark.index.wand import dictionary_search

    toks = px_setup["toks"]
    # a substring that only occurs term-initially in this vocab
    vocab = {t for ts in toks for t in ts}
    pat = next(
        (
            p for p in ("wh", "qu", "st", "tr")
            if any(t.startswith(p) for t in vocab)
            and all(p not in t[1:] for t in vocab)
        ),
        None,
    )
    if pat is None:
        pytest.skip("no term-initial-only substring in this vocab")
    a = dictionary_search(
        spark, px_setup["idx"], [(0, pat)], k=50, max_expansions=4,
        mode="contains",
    )
    b = prefix_search(
        spark, px_setup["idx"], [(0, pat)], k=50, max_expansions=4
    )
    _assert_same(_res(a), _res(b))


def test_regex_case_sensitive_not_lowercased(spark, px_setup):
    """Regex patterns must NOT be lowercased (\\S != \\s): an upper-case
    literal class matches nothing against the lowercase vocabulary."""
    from docinsight_spark.index.wand import dictionary_search, expand_dictionary

    assert (
        expand_dictionary(
            spark, px_setup["idx"], [(0, "^[A-Z]+$")], max_expansions=8,
            mode="regex",
        ).count()
        == 0
    )
    assert (
        dictionary_search(
            spark, px_setup["idx"], [(0, "^[A-Z]+$")], k=5, mode="regex"
        ).count()
        == 0
    )


def test_dictionary_mode_validation(spark, px_setup):
    from docinsight_spark.index.wand import expand_dictionary

    with pytest.raises(ValueError, match="mode"):
        expand_dictionary(
            spark, px_setup["idx"], [(0, "x")], mode="glob"
        ).count()


def test_searcher_dictionary_modes(spark, px_setup):
    from docinsight_spark.index.wand import Searcher

    s = Searcher(spark, px_setup["idx"], cache=False)
    got = _res(s.dictionary([(0, "a.e")], k=10, max_expansions=4,
                            mode="regex"))
    from docinsight_spark.index.wand import dictionary_search

    want = _res(dictionary_search(
        spark, px_setup["idx"], [(0, "a.e")], k=10, max_expansions=4,
        mode="regex",
    ))
    _assert_same(got, want)
    # prefix() still routes through the same machinery
    _assert_same(
        _res(s.prefix([(0, "s")], k=10, max_expansions=4)),
        _res(prefix_search(spark, px_setup["idx"], [(0, "s")], k=10,
                           max_expansions=4)),
    )
