"""Unit tests for the MaxScore kernel: the pruning path must trigger AND
stay exact (pure-Python, no Spark session needed)."""

import math

import numpy as np

from docinsight_spark.index.codec import encode_postings
from docinsight_spark.index.wand import _SegRow, _score_shard

K1, B = 1.2, 0.75
N_DOCS, AVGDL = 1000, 50.0


def bm25(tf, df, dl):
    idf = math.log((N_DOCS - df + 0.5) / (df + 0.5) + 1.0)
    return idf * tf * (K1 + 1) / (tf + K1 * (1 - B + B * dl / AVGDL))


def make_row(term, doc_tf: dict[int, int], df=None, block_size=4):
    docs = np.array(sorted(doc_tf), dtype=np.int64)
    tfs = np.array([doc_tf[d] for d in docs], dtype=np.int64)
    df = df if df is not None else len(docs)
    scores = np.array([bm25(t, df, AVGDL) for t in tfs], dtype=np.float32)
    seg_docs, seg_tfs, m = encode_postings(docs, tfs, scores, block_size=block_size)
    return _SegRow(term, df, seg_docs, seg_tfs, m.n, float(scores.max()))


def dl_of(docs):
    return np.full(len(docs), AVGDL)


def brute_force(rows, terms, k):
    acc = {}
    by_term = {}
    for r in rows:
        by_term.setdefault(r.term, []).append(r)
    for t in set(terms):
        for r in by_term.get(t, []):
            for doc, f in zip(r.docs, r.tfs):
                acc[doc] = acc.get(doc, 0.0) + bm25(f, r.df, AVGDL)
    ranked = sorted(acc.items(), key=lambda x: (-x[1], x[0]))[:k]
    return ranked


def test_pruning_triggers_and_is_exact():
    # rare term: 3 docs, huge idf → processed first, θ establishes fast;
    # hot term: 200 docs, low idf → its remaining upper bound falls
    # below θ → pruned phase (block skipping) must engage for k=2
    rare = make_row("rare", {10: 5, 20: 4, 30: 3}, df=3)
    hot = make_row("hot", {d: 1 for d in range(0, 400, 2)}, df=200)
    rows = [rare, hot]
    # sanity: pruning condition reachable — θ after rare > upper(hot)
    theta_after_rare = bm25(4, 3, AVGDL)  # 2nd best of rare (k=2)
    assert theta_after_rare > hot.upper
    got = _score_shard(
        rows, {0: ["rare", "hot"]}, N_DOCS, AVGDL, K1, B, 2, dl_of
    )
    want = brute_force(rows, ["rare", "hot"], 2)
    assert [(d, round(s, 9)) for (_, d, s) in got] == [
        (d, round(s, 9)) for d, s in want
    ]
    # block-skip effectiveness: only blocks containing accumulated docs
    # (10, 20, 30) were scored from the hot list
    assert hot._full is None
    scored_hot_blocks = set(hot._scores)
    overlapping = {
        bi for bi, blk in enumerate(np.split(hot.docs, hot.starts[1:-1]))
        if any(blk[0] <= d <= blk[-1] for d in (10, 20, 30))
    }
    assert scored_hot_blocks == overlapping
    assert len(scored_hot_blocks) < len(hot.bn)  # skipping happened


def test_no_pruning_small_theta_still_exact():
    a = make_row("a", {1: 1, 2: 2, 3: 1}, df=300)   # low idf
    b = make_row("b", {2: 1, 4: 3}, df=400)
    got = _score_shard([a, b], {7: ["a", "b"]}, N_DOCS, AVGDL, K1, B, 10, dl_of)
    want = brute_force([a, b], ["a", "b"], 10)
    assert [(d, round(s, 9)) for (_, d, s) in got] == [
        (d, round(s, 9)) for d, s in want
    ]


def test_multi_fragment_term_rows():
    # the same term split across two segment rows (merge fragments)
    f1 = make_row("t", {1: 2, 5: 1}, df=4)
    f2 = make_row("t", {9: 3, 12: 1}, df=4)
    got = _score_shard([f1, f2], {0: ["t"]}, N_DOCS, AVGDL, K1, B, 10, dl_of)
    docs = sorted(d for (_, d, _) in got)
    assert docs == [1, 5, 9, 12]


def test_tie_break_by_docid():
    r = make_row("t", {100: 2, 50: 2, 75: 2}, df=3)
    got = _score_shard([r], {0: ["t"]}, N_DOCS, AVGDL, K1, B, 2, dl_of)
    assert [d for (_, d, _) in got] == [50, 75]


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    st.lists(  # up to 4 terms, each a dict of doc->tf
        st.dictionaries(
            st.integers(min_value=0, max_value=500),
            st.integers(min_value=1, max_value=9),
            min_size=1, max_size=60,
        ),
        min_size=1, max_size=4,
    ),
    st.integers(min_value=1, max_value=15),  # k
    st.integers(min_value=2, max_value=8),   # block size
)
def test_kernel_matches_brute_force_property(term_lists, k, block_size):
    rows = [
        make_row(f"t{i}", dtf, block_size=block_size)
        for i, dtf in enumerate(term_lists)
    ]
    terms = [r.term for r in rows]
    got = _score_shard(rows, {0: terms}, N_DOCS, AVGDL, K1, B, k, dl_of)
    want = brute_force(rows, terms, k)
    assert [(d, round(s, 9)) for (_, d, s) in got] == [
        (d, round(s, 9)) for d, s in want
    ]
