"""Segment layout tests incl. property-based (SURVEY §5 item 1)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from docinsight_spark.index.codec import block_starts, encode_postings
from docinsight_spark.index.wand import _SegRow


def _seg_row(docs, tfs, meta):
    return _SegRow("t", len(docs), docs, tfs, meta.n, 1.0)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),  # docID
            st.integers(min_value=1, max_value=10_000),            # tf
        ),
        min_size=1,
        max_size=700,
        unique_by=lambda t: t[0],
    )
)
def test_postings_roundtrip_property(pairs):
    docs = np.array([p[0] for p in pairs], dtype=np.int64)
    tfs = np.array([p[1] for p in pairs], dtype=np.int64)
    scores = (tfs * 0.5).astype(np.float32)
    seg_docs, seg_tfs, meta = encode_postings(docs, tfs, scores, block_size=64)
    row = _seg_row(seg_docs, seg_tfs, meta)
    parts = [row.decode(bi) for bi in range(len(meta.n))]
    got_docs = np.concatenate([p[0] for p in parts])
    got_tfs = np.concatenate([p[1] for p in parts])
    order = np.argsort(docs, kind="stable")
    assert got_docs.tolist() == docs[order].tolist()
    assert got_tfs.tolist() == tfs[order].tolist()
    assert int(meta.n.sum()) == len(docs) and (meta.n <= 64).all()


def test_block_meta_and_selective_decode():
    n = 1000
    rng = np.random.RandomState(7)
    docs = np.cumsum(rng.randint(1, 2**30, size=n).astype(np.int64))
    tfs = rng.randint(1, 50, size=n).astype(np.int64)
    scores = (tfs / (tfs + 1.5)).astype(np.float32)
    seg_docs, seg_tfs, meta = encode_postings(docs, tfs, scores, block_size=128)
    assert len(meta.n) == 8  # ceil(1000/128)
    assert block_starts(meta.n).tolist() == [0, 128, 256, 384, 512, 640, 768, 896, 1000]
    # block-max correctness
    for bi in range(8):
        lo, hi = bi * 128, min((bi + 1) * 128, n)
        assert abs(meta.max_score[bi] - scores[lo:hi].max()) < 1e-7
    row = _seg_row(seg_docs, seg_tfs, meta)
    # skip ranges: a filter inside blocks 2 and 3 selects only those
    assert row.blocks_overlapping(docs[[300, 400]]).tolist() == [2, 3]
    assert row.blocks_overlapping(np.array([docs[0] - 1])).tolist() == []
    # selective decode of middle blocks only
    d = np.concatenate([row.decode(2)[0], row.decode(3)[0]])
    t = np.concatenate([row.decode(2)[1], row.decode(3)[1]])
    assert d.tolist() == docs[256:512].tolist()
    assert t.tolist() == tfs[256:512].tolist()
    # single block decode
    d0, t0 = row.decode(0)
    assert d0.tolist() == docs[:128].tolist()


def test_block_tf_max_dl_min_fields():
    """Drift-bound inputs: per-block tf_max / dl_min must be exact
    maxima/minima over the docID-sorted block membership."""
    n = 700
    rng = np.random.RandomState(11)
    docs = rng.permutation(np.cumsum(rng.randint(1, 2**20, size=n).astype(np.int64)))
    tfs = rng.randint(1, 400, size=n).astype(np.int64)
    dls = rng.randint(1, 5000, size=n).astype(np.int64)
    scores = (tfs / (tfs + 1.5)).astype(np.float32)
    _, _, meta = encode_postings(docs, tfs, scores, block_size=128, dls=dls)
    order = np.argsort(docs, kind="stable")
    ts, ds = tfs[order], dls[order]
    for bi in range(len(meta.n)):
        lo, hi = bi * 128, min((bi + 1) * 128, n)
        assert meta.tf_max[bi] == ts[lo:hi].max()
        assert meta.dl_min[bi] == ds[lo:hi].min()


@settings(deadline=None, max_examples=200)
@given(
    tf=st.integers(min_value=1, max_value=10_000),
    dl=st.integers(min_value=1, max_value=10**6),
    tf_extra=st.integers(min_value=0, max_value=500),
    dl_extra=st.integers(min_value=0, max_value=10**5),
    avgdl_enc=st.floats(min_value=1.0, max_value=10**5),
    avgdl_now=st.floats(min_value=1.0, max_value=10**5),
)
def test_drift_bound_admissible(tf, dl, tf_extra, dl_extra, avgdl_enc, avgdl_now):
    """The query-side drift-safe block bound must upper-bound the true
    tf-normalized score of EVERY posting under the CURRENT avgdl, for
    any drift direction — the wand kernel's bound formula verbatim
    (index/wand.py _wave_local_topk), with (tf_max, dl_min) standing in
    for a block containing this posting."""
    k1, b = 1.2, 0.75

    def s(tf_, dl_, avgdl_):
        return tf_ * (k1 + 1.0) / (tf_ + k1 * (1.0 - b + b * dl_ / avgdl_))

    tf_max, dl_min = tf + tf_extra, dl  # dl_min ≤ any member's dl
    member_dl = dl + dl_extra           # the posting's dl ≥ dl_min
    true_score = s(tf, member_dl, avgdl_now)
    stored_max = np.float32(s(tf, member_dl, avgdl_enc))  # f32, as stored
    bound = s(tf_max, dl_min, avgdl_now)
    if avgdl_now <= avgdl_enc * (1.0 + 1e-12):
        bound = min(bound, float(stored_max))
    # the kernel inflates term uppers by (1+1e-6)+1e-12 for f32 slack
    assert bound * (1.0 + 1e-6) + 1e-12 >= true_score
