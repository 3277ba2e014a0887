"""Posting-segment layout: the block split and the block maxima.

The physical index analog of the reference's FAISS flat index file
(``/root/reference/index/faiss_index.py:121-160`` persists raw float32
vectors; we persist posting blocks).  All work is **numpy-vectorized** —
it runs inside Arrow-batched ``mapInPandas``, never per-row Python in
the plan.

Layout per (doc_bucket, doc_sub, term) segment row (``SEGMENT_SCHEMA``):

* ``docs`` / ``tfs``: the term's shard-local docIDs (ascending, signed
  int64) and their term frequencies, as plain parquet arrays.
* ``bn``: postings per block of ≤ ``block_size``; block ``bi`` is
  ``docs[s[bi]:s[bi + 1]]`` with ``s = block_starts(bn)``, and its skip
  range is ``[docs[s[bi]], docs[s[bi + 1] - 1]]``.
* ``max_score`` / ``tf_max`` / ``dl_min``: per-block maxima (block-max
  WAND metadata, see :class:`BlockMeta`).

The arrays carry no delta-gap or varint packing: docIDs are xxhash64
values, so the gaps within a shard average about 2^64 / shard size and
a VByte encoding saved nothing over parquet's own encodings.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

BLOCK_SIZE = 128

SEGMENT_SCHEMA = (
    "doc_bucket int, doc_sub int, term string, n long, "
    "docs array<long>, tfs array<int>, bn array<int>, "
    "max_score array<float>, tf_max array<long>, dl_min array<long>"
)


@dataclass
class BlockMeta:
    n: np.ndarray           # int32 postings per block
    max_score: np.ndarray   # float32 block-max BM25 contribution
    # Drift-safe bound inputs (incremental generations): the stored
    # max_score bakes in encode-time avgdl, which goes stale as the
    # corpus grows.  (tf_max, dl_min) let the query side recompute an
    # admissible block bound under the CURRENT avgdl — the tf-normalized
    # score is increasing in tf and decreasing in dl, so
    # s(tf_max, dl_min, avgdl_now) upper-bounds every posting in the
    # block at any avgdl.
    tf_max: np.ndarray      # int64 per block
    dl_min: np.ndarray      # int64 per block


def block_starts(bn: np.ndarray) -> np.ndarray:
    """Start offsets of every block plus the end: ``len(bn) + 1``
    entries, block ``bi`` spans ``[s[bi], s[bi + 1])``."""
    s = np.zeros(len(bn) + 1, dtype=np.int64)
    np.cumsum(bn, out=s[1:])
    return s


def encode_postings(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    scores: np.ndarray,
    block_size: int = BLOCK_SIZE,
    dls: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, BlockMeta]:
    """Sort one term's posting list by docID and split it into blocks →
    (docs int64, tfs int32, block metadata).

    ``dls`` (per-posting document lengths, same order as ``doc_ids``)
    feeds the per-block ``dl_min`` drift-safe bound; omitted → 1."""
    order = np.argsort(doc_ids, kind="stable")
    docs = doc_ids[order].astype(np.int64)
    tf_sorted = tfs[order].astype(np.int32)
    sc = scores[order].astype(np.float32)
    dl = dls[order].astype(np.int64) if dls is not None else np.ones(len(docs), np.int64)
    bounds = np.arange(0, len(docs), block_size)
    meta = BlockMeta(
        n=np.diff(np.append(bounds, len(docs))).astype(np.int32),
        max_score=np.maximum.reduceat(sc, bounds),
        tf_max=np.maximum.reduceat(tf_sorted, bounds).astype(np.int64),
        dl_min=np.minimum.reduceat(dl, bounds),
    )
    return docs, tf_sorted, meta
