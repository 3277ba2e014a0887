"""Fast BM25 top-k over posting segments: one MaxScore kernel
(:func:`_score_shard`) with a bounded top-k selection, fed one of two
ways.

* **Driver feed** (:func:`_driver_topk`): a batch of at most
  :data:`DRIVER_TOKENIZE_MAX` queries whose matched row groups' compressed
  bytes, times its query count, stay within
  :data:`DRIVER_FEED_MAX_BYTES` (estimated from the parquet footers,
  never from the data) is served on the driver with no Spark job.  pyarrow reads the query terms' segment rows of
  every root, df comes from the same roots' term_stats minus the live
  tombstone corrections, the kernel scores each shard, and the global
  top-k comes back as an Arrow-built local frame.
* **Distributed feed** (:func:`_wave_local_topk`): everything larger,
  in the shape below.

Both feeds build the same ``_SegRow`` objects (:func:`_seg_rows`) and
score shards through the same loop (:func:`_score_shards`); they
differ only in where the rows come from.  Prefix and contains
expansions follow the same split (:func:`_expand_local`); regex
expansion always runs on Spark (Java regex semantics).

The distributed shape (document-partitioned search, the classic
shard-per-bucket design):

1. Segment scan **pruned to the query's terms** — ``doc_bucket``
   partition dirs narrow the file listing, and the ``term IN (…)``
   predicate prunes parquet row groups because segments are written
   sorted by ``term`` (min/max stats per row group).
2. One task per shard ``(doc_bucket, doc_sub)`` via a hash
   ``repartition`` of the *matched rows only* — equal keys stay whole,
   and every shard holds the complete postings of its documents, so
   scoring is shard-local.
3. Inside the task, a vectorized MaxScore kernel scores each query
   against the shard's matched posting lists:

   * each (shard, term) list gets one upper bound, computed at query
     time from the postings themselves: ``idf · s(max tf, dl_min)``,
     where ``dl_min`` is the shortest doc length of the shard's bucket
     (BM25 rises with tf and falls with dl, and every posting is scored
     with a length from that same map, so the bound is admissible at
     any avgdl — segments store no maxima);
   * terms processed in descending upper-bound order, exact scores
     accumulated with numpy;
   * once the running top-k threshold θ (k-th best partial — a lower
     bound of the k-th best final score) exceeds the remaining terms'
     upper-bound sum, docs outside the accumulator can no longer reach
     the top-k, so remaining lists are pruned: only blocks of
     :data:`BLOCK_SIZE` postings whose ``[first_doc, last_doc]`` range
     intersects the accumulated candidate set are scored, and their
     postings are filtered to accumulated docs;
   * block scores are cached per shard across the query batch — a
     term's block is scored at most once per task;
   * a bounded selection (``np.partition`` / ``np.lexsort``) maintains
     θ and the final top-k — the min-heap analog, vectorized.

4. Each (shard, query) emits its local top-k; the global merge is a
   tiny ``shards × k``-row window per query.

Boolean shapes (round 6) run through the SAME kernel: conjunctive AND
(``require_all=True``) replaces the MaxScore loop with a mandatory-term
intersection — the shard-locally rarest term seeds the candidate set,
every further term only reads blocks overlapping it, and the set can
only shrink (skipping strictly stronger than the OR bound).  Boolean
NOT (``neg_queries`` / ``_neg_qmap``) reads the negative terms'
shard-local postings once (cached) and excludes banned docs BEFORE
accumulation, keeping the top-k threshold θ admissible.

Incremental generations (round 4): the scan is the UNION of the base
segment set and every committed delta generation
(``builder.load_segments``), each row tagged with its root.  Exact
scores and the bounds alike use the CURRENT global stats (N/avgdl from
``_meta.json``, df summed lazily across sets), so results are
rank-identical to a from-scratch rebuild however far avgdl moved since
a set was written.

Rank-identity contract vs the exact oracle
(:mod:`docinsight_spark.operators.query`): same formula, same
tie-break (score desc, docID asc) — the engine's analog of the
reference's FAISS-vs-numpy dual implementation
(``/root/reference/test_faiss_fallback.py:8-20``).
"""

from __future__ import annotations

import bisect
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from docinsight_spark.functions.tokenizer import (
    query_terms,
    query_tokenizer,
    query_tokens,
)
from docinsight_spark.index import fsio
from docinsight_spark.index.builder import (
    _dir_value,
    _read_footers,
    doc_stats_roots,
    load_segments,
    load_term_stats,
    lookup_dl,
    read_doc_stats_bucket,
    read_doc_stats_bucket_multi,
    read_tombstone_bucket,
    restrict_terms,
    tombstone_root_dirs,
)


def _load_meta(index_dir: str) -> dict:
    return fsio.read_json(f"{index_dir}/_meta.json")


# Postings per skip block: block ``bi`` of a segment row is
# ``docs[starts[bi]:starts[bi + 1]]`` and its skip range is its first
# and last docID, sliced from the sorted arrays at query time.
BLOCK_SIZE = 128


class _SegRow:
    """One (shard, term) posting segment: block slices of the stored
    ``docs`` / ``tfs`` arrays, scored lazily and cached across the query
    batch.  ``upper`` is the row's MaxScore bound, set by
    :func:`_score_shard` for the call's statistics.

    Two score tiers: per-block (selective queries score only blocks
    overlapping the accumulated candidate set) and whole-row (once any
    query touches every block, later queries reuse ONE array pair —
    per-block python loops per (query, term) were the kernel's hotspot
    on hot terms: ~100 blocks × 200 queries of dict hits and per-block
    searchsorted)."""

    __slots__ = ("term", "df", "docs", "tfs", "starts", "upper",
                 "root", "_scores", "_full")

    def __init__(self, term, df, docs, tfs, root: str = "base"):
        self.term = term
        self.df = float(df)
        self.docs = np.asarray(docs, np.int64)
        self.tfs = np.asarray(tfs)
        n = len(self.docs)
        self.starts = np.append(np.arange(0, n, BLOCK_SIZE), n)
        self.upper: float | None = None
        # physical root (base / generation id) this segment row belongs
        # to — tombstone exclusion is ROOT-scoped so a doc re-ingested
        # after a delete (live copy in a newer root) still scores
        self.root = root
        self._scores: dict[int, np.ndarray] = {}
        self._full: tuple[np.ndarray, np.ndarray] | None = None

    def blocks_overlapping(self, doc_filter: np.ndarray | None) -> np.ndarray:
        nb = len(self.starts) - 1
        if doc_filter is None or nb == 0:
            return np.arange(nb)
        # skip ranges [first_doc, last_doc] straight from the sorted docs
        lo = np.searchsorted(doc_filter, self.docs[self.starts[:-1]], side="left")
        hi = np.searchsorted(doc_filter, self.docs[self.starts[1:] - 1], side="right")
        return np.flatnonzero(hi > lo)

    def decode(self, bi: int) -> tuple[np.ndarray, np.ndarray]:
        s, e = self.starts[bi], self.starts[bi + 1]
        return self.docs[s:e], self.tfs[s:e]

    def scores(self, bi: int, scorer) -> tuple[np.ndarray, np.ndarray]:
        docs, tfs = self.decode(bi)
        sc = self._scores.get(bi)
        if sc is None:
            sc = scorer(docs, tfs, self.df)
            self._scores[bi] = sc
        return docs, sc

    def full_scores(self, scorer) -> tuple[np.ndarray, np.ndarray]:
        """(all docs, all scores) — built once, then the block score
        cache is dropped (the full arrays supersede it)."""
        if self._full is None:
            self._full = (self.docs, scorer(self.docs, self.tfs, self.df))
            self._scores.clear()
        return self._full


def _score_shard(
    rows: list[_SegRow],
    queries: dict[int, list[str]],
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
    k: int,
    dl_of,
    excl_of=None,
    require_all: bool = False,
    neg_map: dict[int, list[str]] | None = None,
    dl_min: float = 0.0,
) -> list[tuple[int, int, float]]:
    """``dl_of``: docIDs → their doc lengths; ``dl_min``: a length no
    scored doc is shorter than (the shard's shortest doc; 0 always
    holds, at the cost of a looser bound).

    ``excl_of``: optional callable root → sorted np.ndarray of
    tombstoned docIDs for that root (or None) — exclusion is per
    segment row's root, not global by docID, so a resurrected doc's
    live copy (newer root, no marker) keeps scoring while its dead
    copy is dropped.

    ``require_all`` (boolean AND): conjunctive retrieval with
    mandatory-term skipping — per query, the shard-locally RAREST
    term's postings seed the candidate set, every further term only
    reads blocks overlapping it (skip ranges), and the set can
    only shrink; docs of the index are never touched beyond the
    rarest term's df.  Shard-local conjunction is globally correct
    because a document's postings live wholly inside its shard.  A
    query term absent from the shard (or corpus) makes the query
    empty there — strict AND, matching the exact path.

    ``neg_map`` (boolean NOT): {query_id: [terms]} — docs containing
    any of a query's negative terms are excluded BEFORE accumulation
    (not post-filtered), so the top-k threshold θ never inflates on a
    doc that is about to be banned (which would wrongly prune
    legitimate candidates).  Cost is bounded by the negative terms'
    shard-local df; block scores are cached across the batch like
    any other term's."""
    term_rows: dict[str, list[_SegRow]] = {}
    for r in rows:
        term_rows.setdefault(r.term, []).append(r)

    def bm25(tf, dl, df: float):
        idf = np.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        return idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))

    def scorer(docs: np.ndarray, tfs: np.ndarray, df: float) -> np.ndarray:
        return bm25(tfs.astype(np.float64), dl_of(docs), df)

    # MaxScore bound per row: the score rises with tf and falls with dl,
    # and no posting is scored at a length below dl_min, so
    # bm25(max tf, dl_min) bounds the row at the current avgdl.  Inflated
    # by a hair: rounding the numerator and denominator apart can lift a
    # real score an ulp over the same formula at (max tf, dl_min), and a
    # bound under a real score would wrongly prune it.
    for r in rows:
        r.upper = float(bm25(float(r.tfs.max(initial=0)), dl_min, r.df))
    term_upper = {
        t: max(r.upper for r in rs) * (1.0 + 1e-6) + 1e-12
        for t, rs in term_rows.items()
    }

    def gather(term: str, doc_filter: np.ndarray | None):
        ds, ss = [], []
        for r in term_rows[term]:
            if doc_filter is None or r._full is not None:
                d, s = r.full_scores(scorer)
            else:
                # selective path: score only blocks overlapping the
                # accumulated candidate set (the block-skip win)
                parts = [
                    r.scores(int(bi), scorer)
                    for bi in r.blocks_overlapping(doc_filter)
                ]
                if not parts:
                    continue
                d = np.concatenate([p[0] for p in parts])
                s = np.concatenate([p[1] for p in parts])
            if doc_filter is not None and len(d):
                # one vectorized membership filter per (row, query)
                keep = (
                    np.searchsorted(doc_filter, d, side="right")
                    - np.searchsorted(doc_filter, d, side="left")
                ) > 0
                d, s = d[keep], s[keep]
            excl = excl_of(r.root) if excl_of is not None else None
            if excl is not None and len(d):
                # tombstone exclusion: this root's deleted copies never
                # enter the accumulator (bounds stay admissible —
                # dropping docs only removes scores under the bound)
                keep = (
                    np.searchsorted(excl, d, side="right")
                    - np.searchsorted(excl, d, side="left")
                ) == 0
                d, s = d[keep], s[keep]
            if len(d):
                ds.append(d)
                ss.append(s)
        if not ds:
            return np.empty(0, np.int64), np.empty(0, np.float64)
        return np.concatenate(ds), np.concatenate(ss)

    def _drop_member(sorted_arr: np.ndarray, d: np.ndarray, s: np.ndarray):
        """(d, s) without rows whose doc is in ``sorted_arr``."""
        keep = (
            np.searchsorted(sorted_arr, d, side="right")
            - np.searchsorted(sorted_arr, d, side="left")
        ) == 0
        return d[keep], s[keep]

    out: list[tuple[int, int, float]] = []
    for qid, qterms in queries.items():
        qset = set(qterms)
        # sorted, not set order: both feeds then sum a doc's term scores
        # in one order whatever the process's string hash seed
        terms = sorted(t for t in qset if t in term_rows)
        if not terms:
            continue
        banned = None
        negs = [
            t for t in (neg_map.get(qid, ()) if neg_map else ())
            if t in term_rows
        ]
        if negs:
            nd = [gather(t, None)[0] for t in negs]
            nd = [d for d in nd if len(d)]
            if nd:
                banned = np.unique(np.concatenate(nd))
        if require_all:
            if len(terms) < len(qset):
                continue  # a required term has no postings here: strict AND
            # rarest-first by shard-local posting count: the first list
            # bounds everything after it
            terms.sort(
                key=lambda t: sum(len(r.docs) for r in term_rows[t])
            )
            d0, s0 = gather(terms[0], None)
            if banned is not None and len(d0):
                d0, s0 = _drop_member(banned, d0, s0)
            if not len(d0):
                continue
            cand, inv = np.unique(d0, return_inverse=True)
            acc = np.zeros(len(cand), np.float64)
            np.add.at(acc, inv, s0)
            alive = True
            for t in terms[1:]:
                d, s = gather(t, cand)
                if not len(d):
                    alive = False
                    break
                uq, inv = np.unique(d, return_inverse=True)
                ss = np.zeros(len(uq), np.float64)
                np.add.at(ss, inv, s)
                pos = np.searchsorted(uq, cand)
                pc = np.clip(pos, 0, len(uq) - 1)
                hit = (pos < len(uq)) & (uq[pc] == cand)
                if not hit.any():
                    alive = False
                    break
                cand = cand[hit]
                acc = acc[hit] + ss[pc[hit]]
            if not alive or len(cand) == 0:
                continue
            kk = min(k, len(cand))
            idx = np.lexsort((cand, -acc))[:kk]
            out.extend((qid, int(cand[i]), float(acc[i])) for i in idx)
            continue
        terms.sort(key=lambda t: term_upper[t], reverse=True)
        uppers = np.array([term_upper[t] for t in terms])
        rem = np.concatenate([np.cumsum(uppers[::-1])[::-1], [0.0]])
        acc_docs = np.empty(0, np.int64)
        acc_scores = np.empty(0, np.float64)
        theta = -np.inf
        for ti, term in enumerate(terms):
            # MaxScore split: a doc first seen at term ti can total at most
            # rem[ti]; once θ exceeds that, restrict to accumulated docs.
            prune = theta > rem[ti]
            d, s = gather(term, acc_docs if prune and len(acc_docs) else None)
            if banned is not None and len(d):
                d, s = _drop_member(banned, d, s)
            if len(d):
                md = np.concatenate([acc_docs, d])
                ms = np.concatenate([acc_scores, s])
                uniq, inv = np.unique(md, return_inverse=True)
                sums = np.zeros(len(uniq), np.float64)
                np.add.at(sums, inv, ms)
                acc_docs, acc_scores = uniq, sums
            if len(acc_scores) >= k:
                theta = float(
                    np.partition(acc_scores, len(acc_scores) - k)[len(acc_scores) - k]
                )
        if len(acc_docs) == 0:
            continue
        kk = min(k, len(acc_docs))
        idx = np.lexsort((acc_docs, -acc_scores))[:kk]
        out.extend((qid, int(acc_docs[i]), float(acc_scores[i])) for i in idx)
    return out


def _seg_rows(cols) -> Iterator[tuple[tuple[int, int], _SegRow]]:
    """((doc_bucket, doc_sub), :class:`_SegRow`) per segment row of a
    batch — a pandas frame or a dict of numpy columns — carrying the
    segment columns plus ``df`` and ``_root``: the one row builder
    behind both feeds."""
    bks, subs, terms, dfs, rts, docs, tfs = (
        np.asarray(cols[c]) for c in (
            "doc_bucket", "doc_sub", "term", "df", "_root", "docs", "tfs",
        )
    )
    for i in range(len(terms)):
        row = _SegRow(terms[i], dfs[i], docs[i], tfs[i], root=rts[i])
        yield (int(bks[i]), int(subs[i])), row


def _sorted_dl(ds: dict | None) -> tuple[np.ndarray, np.ndarray] | None:
    """A doc_stats read as (sorted docIDs, float64 dl), or None."""
    if ds is None:
        return None
    o = np.argsort(ds["docID"], kind="stable")
    return ds["docID"][o], ds["dl"][o].astype(np.float64)


class _ShardStats:
    """Per-bucket doc lengths and per-(root, bucket) tombstoned docIDs,
    read with pyarrow on first use and kept: one per kernel task on the
    distributed feed, one per committed index version on the driver
    feed (a :class:`Searcher` keeps it across calls)."""

    def __init__(self, dl_roots: list[str], tomb_dirs: dict[str, list[str]]):
        self.dl_roots, self.tomb_dirs = dl_roots, tomb_dirs
        self._dl: dict[int, tuple | None] = {}
        self._root_dl: dict[tuple[str, int], tuple | None] = {}
        self._excl: dict[tuple[str, int], np.ndarray | None] = {}

    def dl(self, bucket: int) -> tuple[np.ndarray, np.ndarray] | None:
        """(sorted docIDs, float64 dl) of one bucket, newest root winning
        (:func:`read_doc_stats_bucket_multi`), or None."""
        if bucket not in self._dl:
            self._dl[bucket] = _sorted_dl(
                read_doc_stats_bucket_multi(self.dl_roots, bucket)
            )
        return self._dl[bucket]

    def root_dl(self, root_dir: str, bucket: int) -> tuple[np.ndarray, np.ndarray] | None:
        """:meth:`dl` of ONE root's copies — each copy's own length, as
        a (doc_bucket, docID, _root) join reads it."""
        key = (root_dir, bucket)
        if key not in self._root_dl:
            self._root_dl[key] = _sorted_dl(read_doc_stats_bucket(root_dir, bucket))
        return self._root_dl[key]

    def excl_of(self, bucket: int):
        """root → sorted dead docIDs for (root, bucket), or a plain
        None when the index has no live tombstones (fast path: the
        kernel skips per-row exclusion entirely)."""
        if not self.tomb_dirs:
            return None

        def of(root: str):
            key = (root, bucket)
            if key not in self._excl:
                dirs = self.tomb_dirs.get(root)
                self._excl[key] = read_tombstone_bucket(dirs, bucket) if dirs else None
            return self._excl[key]

        return of


def _score_shards(
    by_shard: dict[tuple[int, int], list[_SegRow]],
    stats: _ShardStats,
    qmap: dict[int, list[str]],
    neg_map: dict[int, list[str]] | None,
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
    k: int,
    require_all: bool,
) -> list[tuple[int, int, float]]:
    """Shard-local top-k rows (query_id, docID, score) of every shard."""
    out: list[tuple[int, int, float]] = []
    for (bucket, _sub), rows in by_shard.items():
        ds = stats.dl(bucket)
        if ds is None:
            continue
        ds_docs, ds_dl = ds

        def dl_of(docs: np.ndarray) -> np.ndarray:
            return lookup_dl(ds_docs, ds_dl, docs)

        out.extend(
            _score_shard(
                rows, qmap, n_docs, avgdl, k1, b, k, dl_of,
                excl_of=stats.excl_of(bucket),
                require_all=require_all, neg_map=neg_map,
                dl_min=float(ds_dl.min()) if len(ds_dl) else 0.0,
            )
        )
    return out


class Searcher:
    """Server mode: reuse one (optionally cached) segment scan + metadata
    across many search calls — the repeated-query analog of the
    reference's resident FAISS index (``index_manager.py:64-69`` loads
    once, serves many).  With ``cache=True`` the segment dataset is
    pinned in executor memory after the first query touches it.  The
    driver feeds' state (footer indexes of the segments and, on a
    positional index, the merged postings; doc lengths and tombstones —
    :class:`_LocalIndex`) is kept per committed index version, so a warm
    driver-sized WAND, phrase or NEAR query reads only its terms' rows.

    Refresh-transparent: every ``search`` re-reads ``_meta.json`` (one
    tiny driver-side file read — no Spark job) and reloads the segment
    frames when an incremental refresh or compaction changed the
    committed generation set, dropping the stale caches."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        cache: bool = True,
        auto_reload: bool = True,
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.cache = cache
        self.auto_reload = auto_reload
        self._load()

    @staticmethod
    def _sig(meta: dict) -> tuple:
        return (
            int(meta.get("n_docs", 0)),
            tuple(g["id"] for g in meta.get("generations", [])),
            # deletes change results without changing the segment set —
            # the cached term_stats (df sums) must reload; per-root keys
            # count too (compaction shrinks a tombstone in place)
            tuple(
                (t["id"], tuple(sorted(t.get("per_root", {}))))
                for t in meta.get("tombstones", [])
            ),
        )

    def _load(self) -> None:
        self.meta = _load_meta(self.index_dir)
        self._meta_sig = self._sig(self.meta)
        self.segments = load_segments(self.spark, self.index_dir, self.meta)
        self.term_stats = load_term_stats(self.spark, self.index_dir, self.meta)
        # positional frames (phrase/NEAR serving) build lazily on first
        # use — a plain-index Searcher never touches them
        self._pos_frames: dict[str, "DataFrame"] | None = None
        self._pos_ds_frames: dict[str, "DataFrame"] | None = None
        self._local = _LocalIndex(self.index_dir, self.meta)
        if self.cache:
            self.segments = self.segments.cache()
            self.term_stats = self.term_stats.cache()

    def _maybe_reload(self) -> None:
        meta = _load_meta(self.index_dir)
        if self._sig(meta) != self._meta_sig:
            if self.cache:
                self.segments.unpersist()
                self.term_stats.unpersist()
                for frames in (self._pos_frames, self._pos_ds_frames):
                    for f in (frames or {}).values():
                        f.unpersist()
            self._load()

    def _positional_frames(self):
        """Per-root merged-postings and doc_stats frames for phrase/NEAR
        serving, pinned once (round 7 — VERDICT r6 #1: ``Searcher.phrase``
        re-read the merged postings per call, leaving single-query latency
        at the cold-scan fixed cost).  ``cache=True`` pins them
        MEMORY_AND_DISK like the segment frames; term/bucket filters
        still prune the in-memory batches via their min/max stats."""
        if not self.meta.get("positions", False):
            return None, None
        if self._pos_frames is None:
            from docinsight_spark.index.phrase import merged_roots

            from pyspark.sql import functions as _F

            frames: dict[str, DataFrame] = {}
            ds_frames: dict[str, DataFrame] = {}
            stats_dirs = {"base": self.index_dir, **{
                g["id"]: f"{self.index_dir}/generations/{g['id']}"
                for g in self.meta.get("generations", [])
            }}
            for rid, src in merged_roots(self.index_dir, self.meta):
                f = self.spark.read.parquet(src)
                ds = (
                    self.spark.read.parquet(f"{stats_dirs[rid]}/doc_stats")
                    .select("docID", "dl", "doc_bucket")
                    .withColumn("_root", _F.lit(rid))
                )
                if self.cache:
                    f = f.cache()
                    ds = ds.cache()
                frames[rid] = f
                ds_frames[rid] = ds
            self._pos_frames = frames
            self._pos_ds_frames = ds_frames
        return self._pos_frames, self._pos_ds_frames

    def search(self, queries: DataFrame | list[tuple[int, str]], k: int = 10,
               require_all: bool = False,
               neg_queries: DataFrame | list[tuple[int, str]] | None = None,
               ) -> DataFrame:
        """:func:`wand_search` in server mode; a list of
        ``(query_id, text)`` skips the query frame's collect job."""
        if self.auto_reload:
            self._maybe_reload()
        return wand_search(
            self.spark, self.index_dir, queries, k=k,
            _segments=self.segments, _meta=self.meta, _tstats=self.term_stats,
            require_all=require_all, neg_queries=neg_queries,
            _local=self._local,
        )

    def phrase(self, queries: DataFrame | list[tuple[int, str]],
               k: int = 10) -> DataFrame:
        """Exact phrase top-k in server mode (needs a positions=True
        index); refresh-transparent like :meth:`search`.  A driver-sized
        batch reads through the kept :class:`_LocalIndex` (its merged
        postings' footer index) with no Spark job; for the Spark plan
        the per-root merged-postings and doc_stats frames are pinned on
        first use, so warm repeat queries skip the parquet re-read."""
        from docinsight_spark.index.phrase import phrase_search

        if self.auto_reload:
            self._maybe_reload()
        frames, ds_frames = self._positional_frames()
        return phrase_search(
            self.spark, self.index_dir, queries, k=k, _meta=self.meta,
            _frames=frames, _ds_frames=ds_frames, _tstats=self.term_stats,
            _local=self._local,
        )

    def proximity(self, queries: DataFrame | list[tuple[int, str]],
                  k: int = 10, window: int = 8) -> DataFrame:
        """NEAR(w) proximity top-k in server mode (needs a
        positions=True index); refresh-transparent like :meth:`search`,
        fed like :meth:`phrase`."""
        from docinsight_spark.index.phrase import proximity_search

        if self.auto_reload:
            self._maybe_reload()
        frames, ds_frames = self._positional_frames()
        return proximity_search(
            self.spark, self.index_dir, queries, k=k, window=window,
            _meta=self.meta, _frames=frames, _ds_frames=ds_frames,
            _tstats=self.term_stats, _local=self._local,
        )

    def prefix(self, prefixes: list[tuple[int, str]], k: int = 10,
               max_expansions: int = 16) -> DataFrame:
        """Wildcard top-k in server mode (:meth:`dictionary`)."""
        return self.dictionary(prefixes, k=k, max_expansions=max_expansions,
                               mode="prefix")

    def dictionary(self, patterns: list[tuple[int, str]], k: int = 10,
                   max_expansions: int = 16,
                   mode: str = "prefix") -> DataFrame:
        """Dictionary-expansion top-k (prefix / contains / regex) in
        server mode, refresh-transparent like :meth:`search`: prefix and
        contains expand on the driver through the kept footer index; a
        regex (or an over-budget) expansion pre-filters the CACHED
        dictionary frame, so it never re-reads the term_stats parquet."""
        if self.auto_reload:
            self._maybe_reload()
        return dictionary_search(
            self.spark, self.index_dir, patterns, k=k,
            max_expansions=max_expansions, mode=mode,
            _meta=self.meta, _tstats=self.term_stats,
            _segments=self.segments, _local=self._local,
        )


# Query frames up to this many rows tokenize driver-side (saves one
# Spark job per search call), and term maps up to this many queries may
# take the driver feed; larger frames tokenize in executors so the
# driver never becomes the tokenizer (a list is on the driver already).
DRIVER_TOKENIZE_MAX = 512


def _pairs_map(pairs) -> dict[int, list[str]]:
    """{query_id: sorted distinct terms} from (query_id, term) pairs."""
    qmap: dict[int, list[str]] = {}
    for qid, t in pairs:
        qmap.setdefault(int(qid), []).append(t)
    return {qid: sorted(set(ts)) for qid, ts in qmap.items()}


def _query_term_map(
    queries: DataFrame | list[tuple[int, str]], meta: dict, driver_max: int
) -> dict[int, list[str]] | None:
    """{query_id: sorted distinct terms} tokenized on the driver with
    the index's own tokenizer: a list always (it is driver-resident
    already), a frame of at most ``driver_max`` rows (one collect job);
    ``None`` for a larger frame."""
    if isinstance(queries, DataFrame):
        head = queries.select("query_id", "query_text").limit(driver_max + 1).collect()
        if len(head) > driver_max:
            return None
        queries = [(r["query_id"], r["query_text"]) for r in head]
    toks = query_tokens([t for _, t in queries], **query_tokenizer(meta))
    return _pairs_map((q, t) for (q, _), ts in zip(queries, toks) for t in ts)


def _batch_terms(
    queries: DataFrame | list[tuple[int, str]], meta: dict
) -> dict[int, list[str]] | DataFrame:
    """A query batch's distinct (query_id, term) pairs in the form
    :func:`wand_search` takes as ``_qmap``: a driver dict for a list or
    a frame of up to :data:`DRIVER_TOKENIZE_MAX` rows, else the column
    form's frame (tokenized in executors)."""
    qmap = _query_term_map(queries, meta, DRIVER_TOKENIZE_MAX)
    if qmap is not None:
        return qmap
    return query_terms(queries, **query_tokenizer(meta))


def _pairs_frame(spark: SparkSession, qmap: dict[int, list[str]]) -> DataFrame:
    """A driver term map as a (query_id, term) frame."""
    return spark.createDataFrame(
        [(q, t) for q, ts in qmap.items() for t in ts], "query_id long, term string"
    )


def _collect_pairs(pairs: DataFrame) -> dict[int, list[str]] | None:
    """A (query_id, term) frame as a driver term map when it holds at
    most :data:`QUERY_CHUNK_SIZE` pairs (so at most one wave of
    queries) — one collect job; ``None`` past that."""
    rows = pairs.select("query_id", "term").limit(QUERY_CHUNK_SIZE + 1).collect()
    if len(rows) > QUERY_CHUNK_SIZE:
        return None
    return _pairs_map(rows)


def _wave_qmaps(pairs: DataFrame, chunk: int, stats_out: dict | None = None):
    """Yield per-wave {query_id: terms} dicts for a LARGE batch of
    distinct (query_id, term) pairs.

    Each query_id is assigned a wave (row_number over sorted ids /
    chunk) and the driver collects ONE wave's pairs at a time — driver
    residency is O(chunk × terms-per-query), never O(batch).  The pair
    frame is persisted so the per-wave filters are cheap re-reads, not
    re-tokenizations."""
    from pyspark import StorageLevel

    # wave id per query: ids only cross the shuffle (the single-task
    # window sorts ~8 bytes/query — bounded and cheap even at 10^7)
    wv = Window.orderBy("query_id")
    qw = (
        pairs.select("query_id")
        .distinct()
        .withColumn("_wave", ((F.row_number().over(wv) - 1) / chunk).cast("int"))
    )
    pw = pairs.join(qw, "query_id").persist(StorageLevel.MEMORY_AND_DISK)
    try:
        last = pw.agg(F.max("_wave").alias("m")).first()["m"]
        if last is None:
            return
        max_pairs = 0
        for w in range(int(last) + 1):
            rows = pw.filter(F.col("_wave") == w).select("query_id", "term").collect()
            max_pairs = max(max_pairs, len(rows))
            yield _pairs_map(rows)
        if stats_out is not None:
            stats_out["n_waves"] = int(last) + 1
            stats_out["driver_pairs_max_wave"] = max_pairs
    finally:
        pw.unpersist()


# Above this many queries in one batch, the query map is split into
# waves: the full-map broadcast otherwise bloats (O(batch) per executor)
# and _score_shard's per-shard loop over EVERY query makes per-task work
# O(shards × batch).  Each wave prunes the segment scan to its own terms,
# so per-task work is O(shards × wave) with a bounded broadcast.
QUERY_CHUNK_SIZE = 10_000

# Per-wave results accumulate via unionByName; past this many waves the
# accumulated frame is localCheckpoint'ed so the logical plan stays
# bounded (a 10^6-query batch is ~100 waves — a linearly growing plan
# costs analysis time and driver memory per wave).
CHECKPOINT_WAVES = 32

_RESULT_SCHEMA = StructType([
    StructField("query_id", LongType()), StructField("rank", IntegerType()),
    StructField("docID", LongType()), StructField("score", DoubleType()),
])


def wand_search(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame | list[tuple[int, str]] | None,
    k: int = 10,
    _segments: DataFrame | None = None,
    _meta: dict | None = None,
    _tstats: DataFrame | None = None,
    stats_out: dict | None = None,
    _qmap: dict[int, list[str]] | DataFrame | None = None,
    require_all: bool = False,
    neg_queries: DataFrame | list[tuple[int, str]] | None = None,
    _neg_qmap: dict[int, list[str]] | None = None,
    _local: _LocalIndex | None = None,
) -> DataFrame:
    """(query_id, rank, docID, score) — fast path over the segment index.

    ``queries``: a (query_id, query_text) frame or list.  A term map of
    at most :data:`DRIVER_TOKENIZE_MAX` queries within
    :data:`DRIVER_FEED_MAX_BYTES` takes the driver feed (no Spark job;
    a list input also skips the query frame's collect); anything else
    takes the distributed feed.  ``_local`` is the caller's kept
    :class:`_LocalIndex` (a :class:`Searcher`'s), else one is built;
    ``_segments`` / ``_tstats`` are the caller's kept
    :func:`load_segments` / :func:`load_term_stats` frames of the same
    index — both feeds must read the same rows.

    ``stats_out`` (optional dict) receives wave telemetry on the
    distributed-batch path: number of waves and the max driver-resident
    (query_id, term) pair count per wave.

    ``_qmap`` — ALREADY-NORMALIZED index terms, bypassing query
    tokenization entirely (``queries`` may then be None): a
    {query_id: [terms]} dict (:func:`prefix_search` derives terms from
    the index's own vocabulary), or a distinct (query_id, term) frame
    (``analyze_documents`` tokenizes each sentence once and shares the
    frame with its snippet and idf consumers).  A frame of at most
    :data:`QUERY_CHUNK_SIZE` pairs is collected in one job and served
    like a dict; a larger one is served one wave at a time.

    ``require_all`` — boolean AND: only docs containing EVERY query
    term score, served by the kernel's mandatory-term intersection
    (rarest-first candidate shrinking — stronger skipping than the OR
    MaxScore bound).  Works on both feeds.

    ``neg_queries`` — boolean NOT: a (query_id, query_text) frame or
    list of words per query whose docs are excluded; tokenized with the
    same rules as ``queries``.  ``_neg_qmap`` is the prebuilt-terms
    variant.  Negative term sets are driver-resident by design
    (human-scale boolean queries); a neg batch too large to tokenize
    driver-side is refused loudly rather than silently collected."""
    meta = _meta or _load_meta(index_dir)
    if int(meta.get("version", 0)) < 5:
        raise ValueError(
            "index was built by an older engine version (segments lack the "
            "plain docs/tfs arrays); rebuild the index"
        )
    if _qmap is None:
        _qmap = _batch_terms(queries, meta)
    if isinstance(_qmap, DataFrame):
        collected = _collect_pairs(_qmap)
        if collected is not None:
            _qmap = collected
    qmap = None
    if not isinstance(_qmap, DataFrame):
        # same invariant as _query_term_map: no empty term lists (a
        # prefix with zero expansions simply returns no rows)
        qmap = {int(q): sorted(set(ts)) for q, ts in _qmap.items() if ts}
        if not qmap:
            return _result_frame(spark, [], k)
    neg_qmap = (
        {int(q): sorted(set(ts)) for q, ts in _neg_qmap.items() if ts}
        if _neg_qmap is not None
        else None
    )
    if neg_queries is not None and neg_qmap is None:
        # negative word sets are tiny per query; cap at the same budget
        # the wave machinery uses per wave rather than the OR path's
        # DRIVER_TOKENIZE_MAX (a large POSITIVE batch may still carry a
        # driver-sized negative map)
        neg_qmap = _query_term_map(neg_queries, meta, QUERY_CHUNK_SIZE)
        if neg_qmap is None:
            raise ValueError(
                "neg_queries batch exceeds the driver tokenize budget "
                f"({QUERY_CHUNK_SIZE}); negative term maps are driver-"
                "resident — split the batch"
            )
    n_docs, avgdl = int(meta["n_docs"]), float(meta["avgdl"])
    k1, b = float(meta["k1"]), float(meta["b"])
    n_shards = int(meta["n_buckets"]) * int(meta.get("n_subs", 1))

    if qmap is not None and len(qmap) <= DRIVER_TOKENIZE_MAX:
        rows = _driver_topk(
            _local or _LocalIndex(index_dir, meta), qmap, neg_qmap,
            n_docs, avgdl, k1, b, k, require_all,
        )
        if rows is not None:
            return _result_frame(spark, rows, k)

    base = _segments if _segments is not None else load_segments(
        spark, index_dir, meta
    )
    tstats = _tstats if _tstats is not None else load_term_stats(
        spark, index_dir, meta
    )
    if qmap is not None:
        qids = sorted(qmap)
        waves = (
            {qid: qmap[qid] for qid in qids[i : i + QUERY_CHUNK_SIZE]}
            for i in range(0, len(qids), QUERY_CHUNK_SIZE)
        )
    else:
        # large batch: per-wave driver collection — bounded footprint
        waves = _wave_qmaps(_qmap, QUERY_CHUNK_SIZE, stats_out)
    dl_roots = doc_stats_roots(index_dir, meta)
    tomb_dirs = tombstone_root_dirs(index_dir, meta)
    local = None
    # closing(): if _wave_local_topk (or anything in this loop) raises
    # mid-iteration, the _wave_qmaps generator's finally block must run
    # NOW — otherwise its MEMORY_AND_DISK pair frame lingers until GC,
    # leaking executor memory across subsequent queries in the session
    import contextlib

    with contextlib.closing(waves):
        for wi, wave in enumerate(waves):
            part = _wave_local_topk(
                spark, base, tstats, wave, dl_roots,
                n_docs, avgdl, k1, b, k, n_shards, tomb_dirs,
                require_all=require_all, neg_qmap=neg_qmap,
            )
            local = part if local is None else local.unionByName(part)
            if (wi + 1) % CHECKPOINT_WAVES == 0:
                # truncate the growing union lineage; rows are shards×k
                # per query — tiny relative to the work that produced them
                local = local.localCheckpoint(eager=True)
    if local is None:
        return _result_frame(spark, [], k)
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("docID"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "docID", "score")
    )


def _result_frame(
    spark: SparkSession, rows: list[tuple[int, int, float]], k: int,
    rank_key=None,
) -> DataFrame:
    """The global top-k of shard-local ``(query_id, docID, score)`` rows
    — rank by (score desc, docID asc) per query, or by
    ``rank_key(scores)`` desc then docID — as an Arrow-built local
    frame: collecting it runs no Spark job."""
    pdf = pd.DataFrame(rows, columns=["query_id", "docID", "score"]).astype(
        {"query_id": "int64", "docID": "int64", "score": "float64"}
    )
    key = pdf["score"] if rank_key is None else rank_key(pdf["score"].to_numpy())
    pdf = (
        pdf.assign(_key=key)
        .sort_values(["query_id", "_key", "docID"], ascending=[True, False, True])
        .drop(columns="_key")
    )
    pdf.insert(1, "rank", (pdf.groupby("query_id").cumcount() + 1).astype("int32"))
    pdf = pdf[pdf["rank"] <= k]
    if pdf.empty:
        # an empty pandas frame leaves the Arrow path (its collect would
        # run a job); an empty limit of a one-row frame folds to an empty
        # local relation
        return _result_frame(spark, [(0, 0, 0.0)], 1).limit(0)
    return spark.createDataFrame(pdf, _RESULT_SCHEMA)


def _terms_to_read(
    qmap: dict[int, list[str]], neg_qmap: dict[int, list[str]] | None
) -> tuple[dict[int, list[str]] | None, list[str]]:
    """(the negative map restricted to ``qmap``'s queries, every term a
    feed reads for them).  Negative terms join the read (their postings
    are what defines the exclusion) but never the positive scoring set."""
    neg_qmap = {
        qid: sorted(set(ts))
        for qid, ts in (neg_qmap or {}).items()
        if qid in qmap and ts
    } or None
    all_terms = sorted(
        {t for ts in qmap.values() for t in ts}
        | ({t for ts in neg_qmap.values() for t in ts} if neg_qmap else set())
    )
    return neg_qmap, all_terms


def _wave_local_topk(
    spark: SparkSession,
    base: DataFrame,
    tstats: DataFrame,
    qmap: dict[int, list[str]],
    dl_roots: list[str],
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
    k: int,
    n_shards: int,
    tomb_dirs: dict[str, list[str]] | None = None,
    require_all: bool = False,
    neg_qmap: dict[int, list[str]] | None = None,
) -> DataFrame:
    """Per-shard local top-k rows for one wave of queries (pre-merge) —
    the distributed feed.

    ``tomb_dirs``: live tombstone docs dirs grouped by root (from
    :func:`tombstone_root_dirs`) — the kernel loads each (root, bucket)
    deleted-docID set once (bucket-local read, cached per task like
    doc_stats) and excludes those docs from that ROOT's segment rows
    only, so results match a rebuild without the victims while a
    resurrected doc's live copy (newer root, no marker) keeps
    scoring."""
    neg_qmap, all_terms = _terms_to_read(qmap, neg_qmap)
    if not all_terms:
        return spark.createDataFrame([], "query_id long, docID long, score double")
    seg = restrict_terms(base, all_terms)
    tfil = restrict_terms(tstats, all_terms)
    # df (→ idf) joins the segment rows in-plan: tfil is pruned to the
    # query's terms (term-sorted files → row-group skipping), so the
    # broadcast is bounded by |query terms|, never the vocabulary — and
    # no extra driver round-trip job runs per search call.  A segment
    # term absent from term_stats (corruption) drops out here.
    seg = seg.join(F.broadcast(tfil), "term")
    bc = spark.sparkContext.broadcast((qmap, neg_qmap))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qmap_bc, neg_bc = bc.value
        by_shard: dict[tuple[int, int], list[_SegRow]] = {}
        for pdf in batches:
            for key, row in _seg_rows(pdf):
                by_shard.setdefault(key, []).append(row)
        out = _score_shards(
            by_shard, _ShardStats(dl_roots, tomb_dirs or {}), qmap_bc, neg_bc,
            n_docs, avgdl, k1, b, k, require_all,
        )
        yield pd.DataFrame(out, columns=["query_id", "docID", "score"]).astype(
            {"query_id": "int64", "docID": "int64", "score": "float64"}
        )

    # Hash repartition (not range): the kernel groups rows by shard key
    # itself, so co-location is all that matters — and range partitioning
    # would add a sampling job per search call (query fixed cost).
    return seg.repartition(n_shards, "doc_bucket", "doc_sub").mapInPandas(
        run, schema="query_id long, docID long, score double"
    )


# ---------------------------------------------------------------------------
# Driver feed: the query terms' rows read with pyarrow, scored on the driver
# ---------------------------------------------------------------------------

# The driver feed's budget, in compressed bytes from the parquet footers:
# the row groups a batch reads (segments + term_stats + df corrections)
# times its query count.  The kernel walks every query's rows, and with
# one row group per shard file (the writer's layout below the row-group
# size) each query's terms hit nearly all of them.  Measured on 4 vCPUs
# at 4x2 and 32x2 shards, the driver costs about 15-20 ms per MB of that
# product (one query over 1 MB: 77 ms).  With segments of docs / tfs
# arrays only, a batch at 20k files and 32x2 shards reads 2.35 MB (2.86
# MB with the stored block maxima); batches of 40 / 200 / 500 OR
# queries took 1.7 / 7.3-8.8 / 16-19 s on the driver against 2.3-2.9 /
# 3.7 / 6.7-6.9 s distributed, 15-18 ms per MB.  So 16 MiB keeps a
# driver call under the distributed feed's ~0.8 s fixed cost whatever
# the cluster's size.
# The phrase / NEAR driver feed (``phrase._driver_phrase``) takes the same
# budget over the merged postings: at 32x2 shards and 20k files every
# phrase reads all 4.4 MB of them, and the driver cost 17-28 ms per MB of
# the product beyond one query (1 / 10 / 40 / 200 phrases: 0.43 / 1.24 /
# 3.6 / 15.4 s, against 1.10 / 1.71 / 3.6 / 22.9 s on the Spark plan).
DRIVER_FEED_MAX_BYTES = 16 << 20

_SEG_COLUMNS = ["doc_sub", "term", "docs", "tfs"]


class _Part(NamedTuple):
    """One term-sorted parquet file: its footer, what it holds (``key``)
    and per row group ``(min term, max term, compressed bytes)`` — the
    bounds are None when the footer carries no term statistics."""

    path: str
    md: pq.FileMetaData
    key: tuple
    rgs: list[tuple[str | None, str | None, int]]


def _term_ranges(md: pq.FileMetaData) -> tuple:
    """(the footer, ``(min term, max term, compressed bytes)`` per row
    group) — one file's entry in the footer index."""
    rgs = []
    for i in range(md.num_row_groups):
        g = md.row_group(i)
        lo = hi = None
        nbytes = 0
        for c in range(g.num_columns):
            col = g.column(c)
            nbytes += col.total_compressed_size
            st = col.statistics
            if col.path_in_schema == "term" and st is not None and st.has_min_max:
                lo, hi = st.min, st.max
        rgs.append((lo, hi, nbytes))
    return md, rgs


def _covers(terms: list[str]):
    """``hit(lo, hi)`` for :func:`_pick`: a row group whose term range
    holds one of the sorted ``terms``."""
    def hit(lo: str, hi: str) -> bool:
        i = bisect.bisect_left(terms, lo)
        return i < len(terms) and terms[i] <= hi

    return hit


def _pick(parts: list[_Part], hit) -> tuple[list[tuple[_Part, list[int]]], int]:
    """([(file, row groups whose term range ``hit(lo, hi)``)], their
    compressed bytes)."""
    picked, nbytes = [], 0
    for p in parts:
        ids = [i for i, (lo, hi, _) in enumerate(p.rgs) if lo is None or hit(lo, hi)]
        if ids:
            picked.append((p, ids))
            nbytes += sum(p.rgs[i][2] for i in ids)
    return picked, nbytes


class _LocalIndex:
    """The driver feeds' view of one committed index version (one
    ``_meta.json``): a footer index of its term-keyed parquet files —
    every root's segments and term_stats, and the df corrections of each
    tombstone's live roots (:func:`load_term_stats`'s inputs); on a
    positional index also every root's merged postings — each read on
    first use, plus the kernels' :class:`_ShardStats`."""

    def __init__(self, index_dir: str, meta: dict):
        self.index_dir, self.meta = index_dir, meta
        self.fs = fsio.resolve(index_dir)[0]
        dl_roots = doc_stats_roots(index_dir, meta)
        self.stats = _ShardStats(dl_roots, tombstone_root_dirs(index_dir, meta))
        # root id -> its doc_stats root (same order as doc_stats_roots)
        self.root_dirs = dict(
            zip(["base"] + [g["id"] for g in meta.get("generations", [])], dl_roots)
        )
        self._parts: tuple[list[_Part], list[_Part]] | None = None
        self._postings: list[_Part] | None = None

    def postings(self) -> list[_Part]:
        """Every root's merged-postings files keyed ``(doc_bucket,
        root)`` — term-sorted within each shard file, like segments."""
        if self._postings is None:
            from docinsight_spark.index.phrase import merged_roots

            self._postings = [
                _Part(f, md, (int(_dir_value(f, "doc_bucket")), rid), rgs)
                for rid, src in merged_roots(self.index_dir, self.meta)
                for f, (md, rgs) in _read_footers(src, _term_ranges)
            ]
        return self._postings

    def parts(self) -> tuple[list[_Part], list[_Part]]:
        """(segment files keyed ``(doc_bucket, root)``, df files keyed
        ``(df column, sign)``)."""
        if self._parts is None:
            d, meta = self.index_dir, self.meta
            roots = [(d, "base")] + [
                (f"{d}/generations/{g['id']}", g["id"])
                for g in meta.get("generations", [])
            ]
            dfs = [(f"{r}/term_stats", ("df", 1)) for r, _ in roots] + [
                (f"{d}/tombstones/{t['id']}/term_stats_neg/root={rid}", ("df_neg", -1))
                for t in meta.get("tombstones", [])
                for rid in t.get("per_root", {})
            ]
            self._parts = (
                [
                    _Part(f, md, (int(_dir_value(f, "doc_bucket")), root), rgs)
                    for r, root in roots
                    for f, (md, rgs) in _read_footers(f"{r}/segments", _term_ranges)
                ],
                [
                    _Part(f, md, key, rgs)
                    for path, key in dfs
                    for f, (md, rgs) in _read_footers(path, _term_ranges)
                ],
            )
        return self._parts

    def read(self, part: _Part, ids: list[int], columns: list[str], keep) -> pa.Table:
        """Row groups ``ids`` of one file, rows whose term ``keep`` holds."""
        pf = pq.ParquetFile(part.path, metadata=part.md, filesystem=self.fs)
        t = pf.read_row_groups(ids, columns=columns)
        return t.filter(keep(t["term"]))

    def df(self, picked: list[tuple[_Part, list[int]]], keep) -> dict[str, int]:
        """{term: df} summed over the picked df files (corrections
        negative) for the terms ``keep`` holds."""
        out: dict[str, int] = {}
        for p, ids in picked:
            col, sign = p.key
            t = self.read(p, ids, ["term", col], keep)
            for term, v in zip(t["term"].to_pylist(), t[col].to_pylist()):
                out[term] = out.get(term, 0) + sign * v
        return out


def _driver_topk(
    local: _LocalIndex,
    qmap: dict[int, list[str]],
    neg_qmap: dict[int, list[str]] | None,
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
    k: int,
    require_all: bool,
) -> list[tuple[int, int, float]] | None:
    """Shard-local top-k rows of one batch, read and scored on the
    driver — the driver feed; ``None`` when the row groups it would read,
    times its query count, exceed :data:`DRIVER_FEED_MAX_BYTES`."""
    neg_qmap, terms = _terms_to_read(qmap, neg_qmap)
    segs, dfs = local.parts()
    hit = _covers(terms)
    seg_rgs, seg_bytes = _pick(segs, hit)
    df_rgs, df_bytes = _pick(dfs, hit)
    if (seg_bytes + df_bytes) * len(qmap) > DRIVER_FEED_MAX_BYTES:
        return None
    vset = pa.array(terms, pa.string())

    def keep(col):
        return pc.is_in(col, value_set=vset)

    df = local.df(df_rgs, keep)
    # as the distributed feed's term_stats join: a segment term absent
    # from term_stats (corruption) drops out
    dset = pa.array(sorted(df), pa.string())

    def keep_df(col):
        return pc.is_in(col, value_set=dset)

    by_shard: dict[tuple[int, int], list[_SegRow]] = {}
    for p, ids in seg_rgs:
        t = local.read(p, ids, _SEG_COLUMNS, keep_df)
        n = t.num_rows
        bucket, root = p.key
        cols = {c: t.column(c).to_numpy(zero_copy_only=False) for c in _SEG_COLUMNS}
        cols.update(
            doc_bucket=np.full(n, bucket), df=np.array([df[x] for x in cols["term"]]),
            _root=np.full(n, root, object),
        )
        for key, row in _seg_rows(cols):
            by_shard.setdefault(key, []).append(row)
    return _score_shards(
        by_shard, local.stats, qmap, neg_qmap, n_docs, avgdl, k1, b, k, require_all
    )


def _expand_local(
    local: _LocalIndex,
    pats: list[tuple[int, str]],
    mode: str,
    max_expansions: int,
) -> dict[int, list[str]] | None:
    """:func:`expand_dictionary` for ``prefix`` / ``contains`` on the
    driver: the same rule (df > 0 after the delete corrections, the top
    ``max_expansions`` per query by df desc then term asc) over the
    term_stats roots read with pyarrow; ``None`` when the row groups it
    would read exceed :data:`DRIVER_FEED_MAX_BYTES`.  ``pats`` are
    normalized (:func:`_dict_patterns`)."""
    ps = sorted({p for _, p in pats})
    if mode == "prefix":
        def hit(lo: str, hi: str) -> bool:
            # a term starting with p lies in [p, the next prefix); a
            # group whose min lies past p without starting with it is
            # wholly above that range
            return any(hi >= p and (lo <= p or lo.startswith(p)) for p in ps)

        match, test = pc.starts_with, str.startswith
    else:
        def hit(lo: str, hi: str) -> bool:
            return True

        match, test = pc.match_substring, str.__contains__
    picked, nbytes = _pick(local.parts()[1], hit)
    if nbytes > DRIVER_FEED_MAX_BYTES:
        return None

    def keep(col):
        m = match(col, pattern=ps[0])
        for p in ps[1:]:
            m = pc.or_(m, match(col, pattern=p))
        return m

    df = local.df(picked, keep)
    cands: dict[int, list[tuple[int, str]]] = {}
    for q, p in pats:
        cands.setdefault(q, []).extend(
            (-v, t) for t, v in df.items() if v > 0 and test(t, p)
        )
    return {q: [t for _, t in sorted(c)[:max_expansions]] for q, c in cands.items()}


# ---------------------------------------------------------------------------
# Dictionary-expansion retrieval (prefix `pre*`, substring `contains`,
# `regex`): expand against the term dictionary → OR query
# ---------------------------------------------------------------------------

_DICT_MODES = ("prefix", "contains", "regex")


def _dict_predicate(mode: str, col, pat):
    """Per-mode term-dictionary match predicate (works for both the
    pre-filter over literal patterns and the pairing join over a pattern
    column)."""
    if mode == "prefix":
        return col.startswith(pat)
    if mode == "contains":
        return col.contains(pat)
    # Column.rlike only takes a literal; the function form accepts a
    # pattern COLUMN (needed for the per-query pairing join)
    return F.rlike(col, pat if not isinstance(pat, str) else F.lit(pat))


def _dict_patterns(patterns: list[tuple[int, str]], mode: str) -> list[tuple[int, str]]:
    """Non-empty ``(query_id, pattern)`` pairs, lowercased except in
    ``regex`` mode: `\\S` != `\\s`.  Terms are lowercase, so a
    case-sensitive regex literal simply matches nothing — same contract
    as grep over a lowercased corpus."""
    if mode not in _DICT_MODES:
        raise ValueError(f"mode must be one of {_DICT_MODES}, got {mode!r}")
    pats = [
        (int(q), (p or "") if mode == "regex" else (p or "").lower())
        for q, p in patterns
    ]
    return [(q, p) for q, p in pats if p]


def expand_dictionary(
    spark: SparkSession,
    index_dir: str,
    patterns: list[tuple[int, str]],
    max_expansions: int = 16,
    mode: str = "prefix",
    _meta: dict | None = None,
    _tstats: DataFrame | None = None,
) -> DataFrame:
    """(query_id, term, df) — each pattern expanded against the index's
    term dictionary, capped to the ``max_expansions`` highest-df terms
    (ties → term asc): the classic multi-term-query rewrite (Lucene's
    MultiTermQuery rewrite; reference analog: substring corpus search in
    ``/root/reference/docinsight_cli.py``'s search path).

    Modes: ``prefix`` (``pre*`` wildcard), ``contains`` (substring
    anywhere in the identifier), ``regex`` (Java regex, partial-match
    semantics like Spark's ``rlike``).

    Plan shape: the OR-of-patterns pre-filter runs on the term-sorted
    term_stats parquet — for ``prefix`` it is a range predicate
    (StringStartsWith pushdown prunes row groups) so the scan is bounded
    by the matching vocab slice; ``contains``/``regex`` scan the
    DICTIONARY (one tiny column-pruned table, O(vocab) not O(corpus) —
    the Zoekt/Lucene wildcard trade-off).  The per-pattern theta-join
    runs on the SURVIVORS only (broadcast of the tiny pattern table).
    Terms whose delete-corrected df reached 0 are excluded."""
    pats = _dict_patterns(patterns, mode)
    meta = _meta or _load_meta(index_dir)
    if not pats:
        return spark.createDataFrame([], "query_id long, term string, df long")
    ts = _tstats if _tstats is not None else load_term_stats(
        spark, index_dir, meta
    )
    cond = None
    for p in sorted({p for _, p in pats}):
        c = _dict_predicate(mode, F.col("term"), p)
        cond = c if cond is None else (cond | c)
    pdf = spark.createDataFrame(pats, "query_id long, pattern string")
    w = Window.partitionBy("query_id").orderBy(
        F.col("df").desc(), F.col("term")
    )
    return (
        ts.filter(cond)
        .filter(F.col("df") > 0)
        .join(
            F.broadcast(pdf),
            _dict_predicate(mode, F.col("term"), F.col("pattern")),
        )
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= max_expansions)
        .select("query_id", "term", "df")
    )


def expand_prefix(
    spark: SparkSession,
    index_dir: str,
    prefixes: list[tuple[int, str]],
    max_expansions: int = 16,
    _meta: dict | None = None,
    _tstats: DataFrame | None = None,
) -> DataFrame:
    """Prefix-mode :func:`expand_dictionary` (kept as the stable name
    for the `pre*` wildcard rewrite)."""
    return expand_dictionary(
        spark, index_dir, prefixes, max_expansions, mode="prefix",
        _meta=_meta, _tstats=_tstats,
    )


def dictionary_search(
    spark: SparkSession,
    index_dir: str,
    patterns: list[tuple[int, str]],
    k: int = 10,
    max_expansions: int = 16,
    mode: str = "prefix",
    _meta: dict | None = None,
    _tstats: DataFrame | None = None,
    _segments: DataFrame | None = None,
    _local: _LocalIndex | None = None,
) -> DataFrame:
    """(query_id, rank, docID, score) — top-k BM25 over each pattern's
    expansion set (score = Σ per-term BM25 over the expanded terms, each
    with its own df), via the WAND fast path.  ``mode`` is any
    :func:`expand_dictionary` mode: prefix / contains / regex.

    Prefix and contains patterns expand on the driver
    (:func:`_expand_local`) when the dictionary slice fits
    :data:`DRIVER_FEED_MAX_BYTES`; regex patterns, and larger slices,
    expand on Spark and are collected — bounded by
    ``len(patterns) × max_expansions`` rows by construction.  The
    expansion feeds :func:`wand_search` as a prebuilt term map (no
    re-tokenization)."""
    meta = _meta or _load_meta(index_dir)
    local = _local or _LocalIndex(index_dir, meta)
    qmap = None
    if mode in ("prefix", "contains"):
        pats = _dict_patterns(patterns, mode)
        qmap = _expand_local(local, pats, mode, max_expansions) if pats else {}
    if qmap is None:
        exp = expand_dictionary(
            spark, index_dir, patterns, max_expansions, mode=mode,
            _meta=meta, _tstats=_tstats,
        ).collect()
        qmap = {}
        for r in exp:
            qmap.setdefault(int(r["query_id"]), []).append(r["term"])
    return wand_search(
        spark, index_dir, None, k=k, _meta=meta, _tstats=_tstats,
        _segments=_segments, _qmap=qmap, _local=local,
    )


def prefix_search(
    spark: SparkSession,
    index_dir: str,
    prefixes: list[tuple[int, str]],
    k: int = 10,
    max_expansions: int = 16,
    _meta: dict | None = None,
    _tstats: DataFrame | None = None,
    _segments: DataFrame | None = None,
) -> DataFrame:
    """Prefix-mode :func:`dictionary_search` (stable name for the
    `pre*` wildcard query)."""
    return dictionary_search(
        spark, index_dir, prefixes, k=k, max_expansions=max_expansions,
        mode="prefix", _meta=_meta, _tstats=_tstats, _segments=_segments,
    )
