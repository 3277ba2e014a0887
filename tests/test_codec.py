"""Segment layout tests incl. property-based (SURVEY §5 item 1): a
segment row's ``docs`` / ``tfs`` arrays and the kernel's fixed-size skip
blocks sliced from them."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from docinsight_spark.index.wand import BLOCK_SIZE, _SegRow


def _seg_row(docs, tfs):
    return _SegRow("t", len(docs), docs, tfs)


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
    docs = np.array(sorted(p[0] for p in pairs), dtype=np.int64)
    by_doc = dict(pairs)
    tfs = np.array([by_doc[d] for d in docs.tolist()], dtype=np.int32)
    row = _seg_row(docs, tfs)
    n_blocks = len(row.starts) - 1
    parts = [row.decode(bi) for bi in range(n_blocks)]
    got_docs = np.concatenate([p[0] for p in parts])
    got_tfs = np.concatenate([p[1] for p in parts])
    assert got_docs.tolist() == docs.tolist()
    assert got_tfs.tolist() == tfs.tolist()
    sizes = np.diff(row.starts)
    assert int(sizes.sum()) == len(docs) and (sizes <= BLOCK_SIZE).all()
    assert n_blocks == -(-len(docs) // BLOCK_SIZE)


def test_block_meta_and_selective_decode():
    n = 1000
    rng = np.random.RandomState(7)
    docs = np.cumsum(rng.randint(1, 2**30, size=n).astype(np.int64))
    tfs = rng.randint(1, 50, size=n).astype(np.int32)
    row = _seg_row(docs, tfs)
    assert BLOCK_SIZE == 128
    assert row.starts.tolist() == [0, 128, 256, 384, 512, 640, 768, 896, 1000]
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
