"""Fast BM25 top-k over posting segments: block-max pruning in
``mapInPandas`` with a bounded top-k selection.

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
3. Inside the task, a vectorized MaxScore/block-max kernel scores each
   query against the shard's matched posting lists:

   * terms processed in descending upper-bound (block-max) order,
     exact scores accumulated with numpy;
   * once the running top-k threshold θ (k-th best partial — a lower
     bound of the k-th best final score) exceeds the remaining terms'
     upper-bound sum, docs outside the accumulator can no longer reach
     the top-k, so remaining lists are pruned: only blocks whose
     ``[first_doc, last_doc]`` range (the block's first and last
     docID) intersects the accumulated candidate set are scored, and
     their postings are filtered to accumulated docs;
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
(``builder.load_segments``), each row tagged with its set's encode-time
avgdl.  Exact scores always use the CURRENT global stats (N/avgdl from
``_meta.json``, df summed lazily across sets), so results are
rank-identical to a from-scratch rebuild; pruning bounds stay
admissible under avgdl drift via the per-block (tf_max, dl_min)
fallback (see the kernel comment in :func:`_wave_local_topk`).

Rank-identity contract vs the exact oracle
(:mod:`docinsight_spark.operators.query`): same formula, same
tie-break (score desc, docID asc) — the engine's analog of the
reference's FAISS-vs-numpy dual implementation
(``/root/reference/test_faiss_fallback.py:8-20``).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from docinsight_spark.index.builder import (
    doc_stats_roots,
    load_segments,
    load_term_stats,
    lookup_dl,
    read_doc_stats_bucket_multi,
    read_tombstone_bucket,
    strict_dl_enabled,
    tombstone_root_dirs,
)
from docinsight_spark.index.codec import block_starts


def _load_meta(index_dir: str) -> dict:
    from docinsight_spark.index import fsio

    return fsio.read_json(f"{index_dir}/_meta.json")


class _SegRow:
    """One (shard, term) posting segment: block slices of the stored
    ``docs`` / ``tfs`` arrays, scored lazily and cached across the query
    batch.

    Two score tiers: per-block (selective queries score only blocks
    overlapping the accumulated candidate set) and whole-row (once any
    query touches every block, later queries reuse ONE array pair —
    per-block python loops per (query, term) were the kernel's hotspot
    on hot terms: ~100 blocks × 200 queries of dict hits and per-block
    searchsorted)."""

    __slots__ = ("term", "df", "docs", "tfs", "bn", "starts", "upper",
                 "root", "_scores", "_full")

    def __init__(self, term, df, docs, tfs, bn, upper, root: str = "base"):
        self.term = term
        self.df = float(df)
        self.docs = np.asarray(docs, np.int64)
        self.tfs = np.asarray(tfs)
        self.bn = np.asarray(bn)
        self.starts = block_starts(self.bn)
        self.upper = upper
        # physical root (base / generation id) this segment row belongs
        # to — tombstone exclusion is ROOT-scoped so a doc re-ingested
        # after a delete (live copy in a newer root) still scores
        self.root = root
        self._scores: dict[int, np.ndarray] = {}
        self._full: tuple[np.ndarray, np.ndarray] | None = None

    def blocks_overlapping(self, doc_filter: np.ndarray | None) -> np.ndarray:
        nb = len(self.bn)
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
) -> list[tuple[int, int, float]]:
    """``excl_of``: optional callable root → sorted np.ndarray of
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
    # Upper bounds are inflated by a hair: stored block maxima are
    # float32 (can round below the true float64 max) and the idf
    # multiplication order differs from the exact scorer's — a bound
    # one ulp under a real score would wrongly prune it.
    term_upper = {
        t: max(r.upper for r in rs) * (1.0 + 1e-6) + 1e-12
        for t, rs in term_rows.items()
    }

    def scorer(docs: np.ndarray, tfs: np.ndarray, df: float) -> np.ndarray:
        dl = dl_of(docs)
        idf = np.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        tf = tfs.astype(np.float64)
        return idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))

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
                # dropping docs only lowers true scores below the
                # stored maxima)
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
        terms = [t for t in qset if t in term_rows]
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


class Searcher:
    """Server mode: reuse one (optionally cached) segment scan + metadata
    across many search calls — the repeated-query analog of the
    reference's resident FAISS index (``index_manager.py:64-69`` loads
    once, serves many).  With ``cache=True`` the segment dataset is
    pinned in executor memory after the first query touches it.

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

    def search(self, queries: DataFrame, k: int = 10,
               code_aware: bool | None = None,
               require_all: bool = False,
               neg_queries: DataFrame | None = None) -> DataFrame:
        if self.auto_reload:
            self._maybe_reload()
        return wand_search(
            self.spark, self.index_dir, queries, k=k, code_aware=code_aware,
            _segments=self.segments, _meta=self.meta, _tstats=self.term_stats,
            require_all=require_all, neg_queries=neg_queries,
        )

    def phrase(self, queries: DataFrame | list[tuple[int, str]],
               k: int = 10) -> DataFrame:
        """Exact phrase top-k in server mode (needs a positions=True
        index); refresh-transparent like :meth:`search`.  The per-root
        merged-postings and doc_stats frames are pinned on first use
        (round 7), so warm repeat queries skip the parquet re-read that
        dominated single-phrase latency."""
        from docinsight_spark.index.phrase import phrase_search

        if self.auto_reload:
            self._maybe_reload()
        frames, ds_frames = self._positional_frames()
        return phrase_search(
            self.spark, self.index_dir, queries, k=k, _meta=self.meta,
            _frames=frames, _ds_frames=ds_frames, _tstats=self.term_stats,
        )

    def proximity(self, queries: DataFrame | list[tuple[int, str]],
                  k: int = 10, window: int = 8) -> DataFrame:
        """NEAR(w) proximity top-k in server mode (needs a
        positions=True index); refresh-transparent like :meth:`search`,
        positional frames pinned like :meth:`phrase`."""
        from docinsight_spark.index.phrase import proximity_search

        if self.auto_reload:
            self._maybe_reload()
        frames, ds_frames = self._positional_frames()
        return proximity_search(
            self.spark, self.index_dir, queries, k=k, window=window,
            _meta=self.meta, _frames=frames, _ds_frames=ds_frames,
            _tstats=self.term_stats,
        )

    def prefix(self, prefixes: list[tuple[int, str]], k: int = 10,
               max_expansions: int = 16) -> DataFrame:
        """Wildcard top-k in server mode; reuses the cached term_stats
        and segment frames; refresh-transparent like :meth:`search`."""
        return self.dictionary(prefixes, k=k, max_expansions=max_expansions,
                               mode="prefix")

    def dictionary(self, patterns: list[tuple[int, str]], k: int = 10,
                   max_expansions: int = 16,
                   mode: str = "prefix") -> DataFrame:
        """Dictionary-expansion top-k (prefix / contains / regex) in
        server mode; reuses the cached term_stats and segment frames;
        refresh-transparent like :meth:`search`.  The contains/regex
        pre-filter runs on the CACHED dictionary frame, so repeated
        pattern queries never re-read the term_stats parquet."""
        if self.auto_reload:
            self._maybe_reload()
        return dictionary_search(
            self.spark, self.index_dir, patterns, k=k,
            max_expansions=max_expansions, mode=mode,
            _meta=self.meta, _tstats=self.term_stats,
            _segments=self.segments,
        )


# Query batches up to this many rows tokenize driver-side (saves one
# Spark job per search call); larger batches — e.g. cmd_report feeding
# one row per line of every query document — tokenize distributed so
# the driver never becomes the tokenizer.
DRIVER_TOKENIZE_MAX = 512


def _query_term_map(
    queries: DataFrame, code_aware: bool, driver_max: int, lang: str = "java"
) -> dict[int, list[str]] | None:
    """{query_id: sorted distinct terms} for batches small enough to
    tokenize on the driver; ``None`` for larger batches — callers then
    take the distributed per-wave path (:func:`_wave_qmaps`), which never
    materializes the whole batch's pairs on the driver."""
    q = queries.select("query_id", "query_text")
    head = q.limit(driver_max + 1).collect() if driver_max >= 0 else []
    if driver_max < 0 or len(head) > driver_max:
        return None
    if code_aware:
        from docinsight_spark.functions.tokenizer import tokenize_code_pandas

        toks = tokenize_code_pandas(
            pd.Series([r["query_text"] for r in head]),
            pd.Series([lang] * len(head)),
        )
    else:
        import re as _re

        # replicate Spark/Java regex semantics exactly: Java's \s is
        # the ASCII class [ \t\n\x0B\f\r], while Python's \s is
        # Unicode-aware — a query containing e.g. NBSP must tokenize
        # the same on the driver path, the distributed path, AND the
        # index build (all Java-regex) or results differ by batch size
        _ws = _re.compile("[ \t\n\x0b\f\r]+")
        toks = [
            [t for t in _ws.split((r["query_text"] or "").lower()) if t]
            for r in head
        ]
    qmap: dict[int, list[str]] = {}
    for r, ts in zip(head, toks):
        qmap.setdefault(int(r["query_id"]), []).extend(ts)
    return {qid: sorted(set(ts)) for qid, ts in qmap.items() if ts}


def _wave_qmaps(
    queries: DataFrame,
    code_aware: bool,
    chunk: int,
    stats_out: dict | None = None,
    lang: str = "java",
):
    """Yield per-wave {query_id: terms} dicts for a LARGE query batch.

    The batch tokenizes in executors into a distinct (query_id, term)
    pair frame; each query_id is assigned a wave (row_number over sorted
    ids / chunk) and the driver collects ONE wave's pairs at a time —
    driver residency is O(chunk × terms-per-query), never O(batch).
    The pair frame is persisted so the per-wave filters are cheap
    re-reads, not re-tokenizations."""
    from pyspark import StorageLevel

    from docinsight_spark.functions.tokenizer import (
        code_tokens_udf,
        simple_tokens_col,
    )

    tok = (
        code_tokens_udf(F.col("query_text"), F.lit(lang))
        if code_aware
        else simple_tokens_col("query_text")
    )
    pairs = (
        queries.select("query_id", F.explode(F.array_distinct(tok)).alias("term"))
        .distinct()
    )
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
            qmap: dict[int, list[str]] = {}
            for r in rows:
                qmap.setdefault(int(r["query_id"]), []).append(r["term"])
            yield {qid: sorted(set(ts)) for qid, ts in qmap.items() if ts}
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


def wand_search(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    code_aware: bool | None = None,
    _segments: DataFrame | None = None,
    _meta: dict | None = None,
    _tstats: DataFrame | None = None,
    driver_tokenize_max: int | None = None,
    query_chunk_size: int | None = None,
    stats_out: dict | None = None,
    _qmap: dict[int, list[str]] | None = None,
    require_all: bool = False,
    neg_queries: DataFrame | None = None,
    _neg_qmap: dict[int, list[str]] | None = None,
) -> DataFrame:
    """(query_id, rank, docID, score) — fast path over the segment index.

    ``stats_out`` (optional dict) receives wave telemetry on the
    distributed-batch path: number of waves and the max driver-resident
    (query_id, term) pair count per wave.

    ``_qmap`` — a prebuilt {query_id: [terms]} of ALREADY-NORMALIZED
    index terms, bypassing query tokenization entirely (``queries`` may
    then be None).  Callers that derive terms from the index's own
    vocabulary use this (:func:`prefix_search`).

    ``require_all`` — boolean AND: only docs containing EVERY query
    term score, served by the kernel's mandatory-term intersection
    (rarest-first candidate shrinking — stronger skipping than the OR
    MaxScore bound).  Works on both the driver-tokenized and the
    distributed-wave paths.

    ``neg_queries`` — boolean NOT: a (query_id, query_text) frame of
    words per query whose docs are excluded; tokenized with the same
    rules as ``queries``.  ``_neg_qmap`` is the prebuilt-terms variant.
    Negative term sets are driver-resident by design (human-scale
    boolean queries); a neg batch too large to tokenize driver-side is
    refused loudly rather than silently collected."""
    if driver_tokenize_max is None:
        driver_tokenize_max = DRIVER_TOKENIZE_MAX
    if query_chunk_size is None:
        query_chunk_size = QUERY_CHUNK_SIZE
    meta = _meta or _load_meta(index_dir)
    if int(meta.get("version", 0)) < 5:
        raise ValueError(
            "index was built by an older engine version (segments lack the "
            "plain docs/tfs arrays, the drift-safe (tf_max, dl_min) block "
            "bounds and/or carried idf-baked block maxima); rebuild the index"
        )
    if code_aware is None:
        code_aware = bool(meta.get("code_aware", True))
    # query-side tokenizer lang parity: a Python-majority corpus masks
    # `#` comments at build time — queries must mask them the same way
    # (recorded by finalize/refresh from the runs' lang mix)
    qlang = str(meta.get("query_lang", "java"))
    empty = spark.createDataFrame(
        [], "query_id long, rank int, docID long, score double"
    )
    qmap = (
        # same invariant as _query_term_map: no empty term lists (a
        # prefix with zero expansions simply returns no rows)
        {int(q): sorted(set(ts)) for q, ts in _qmap.items() if ts}
        if _qmap is not None
        else _query_term_map(queries, code_aware, driver_tokenize_max, qlang)
    )
    if qmap is not None and not any(qmap.values()):
        return empty
    neg_qmap = (
        {int(q): sorted(set(ts)) for q, ts in _neg_qmap.items() if ts}
        if _neg_qmap is not None
        else None
    )
    if neg_queries is not None and neg_qmap is None:
        # negative word sets are tiny per query; cap at the same budget
        # the wave machinery uses per wave rather than the OR path's
        # driver_tokenize_max (a large POSITIVE batch may still carry a
        # driver-sized negative map)
        neg_qmap = _query_term_map(
            neg_queries, code_aware, query_chunk_size, qlang
        )
        if neg_qmap is None:
            raise ValueError(
                "neg_queries batch exceeds the driver tokenize budget "
                f"({query_chunk_size}); negative term maps are driver-"
                "resident — split the batch"
            )
    n_docs, avgdl = int(meta["n_docs"]), float(meta["avgdl"])
    k1, b = float(meta["k1"]), float(meta["b"])
    n_shards = int(meta["n_buckets"]) * int(meta.get("n_subs", 1))

    base = _segments if _segments is not None else load_segments(
        spark, index_dir, meta
    )
    if "_avgdl_enc" not in base.columns:
        # caller-supplied raw segment frame: treat as freshly encoded
        # (exact for a base-only index, where avgdl_now == encode avgdl)
        base = base.withColumn("_avgdl_enc", F.lit(float(avgdl)))
    tstats = _tstats if _tstats is not None else load_term_stats(
        spark, index_dir, meta
    )
    if qmap is not None:
        qids = sorted(qmap)
        waves = (
            {qid: qmap[qid] for qid in qids[i : i + query_chunk_size]}
            for i in range(0, len(qids), query_chunk_size)
        )
    else:
        # large batch: per-wave driver collection — bounded footprint
        waves = _wave_qmaps(
            queries, code_aware, query_chunk_size, stats_out, qlang
        )
    if "_root" not in base.columns:
        base = base.withColumn("_root", F.lit("base"))
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
        return empty
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("docID"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "docID", "score")
    )


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
    """Per-shard local top-k rows for one wave of queries (pre-merge).

    ``tomb_dirs``: live tombstone docs dirs grouped by root (from
    :func:`tombstone_root_dirs`) — the kernel loads each (root, bucket)
    deleted-docID set once (bucket-local read, cached per task like
    doc_stats) and excludes those docs from that ROOT's segment rows
    only, so results match a rebuild without the victims while a
    resurrected doc's live copy (newer root, no marker) keeps
    scoring."""
    neg_qmap = {
        qid: sorted(set(ts))
        for qid, ts in (neg_qmap or {}).items()
        if qid in qmap and ts
    } or None
    # negative terms join the pruned segment scan (their postings are
    # what defines the exclusion) but never the positive scoring set
    all_terms = sorted(
        {t for ts in qmap.values() for t in ts}
        | ({t for ts in neg_qmap.values() for t in ts} if neg_qmap else set())
    )
    if not all_terms:
        return spark.createDataFrame([], "query_id long, docID long, score double")
    if len(all_terms) <= 1024:
        # IN-list pushes to parquet row-group stats (segments are
        # term-sorted within each shard file)
        seg = base.filter(F.col("term").isin(all_terms))
        tfil = tstats.filter(F.col("term").isin(all_terms))
    else:
        # huge term sets would bloat the plan; broadcast semi-join instead
        terms_df = spark.createDataFrame([(t,) for t in all_terms], "term string")
        seg = base.join(F.broadcast(terms_df), "term", "left_semi")
        tfil = tstats.join(F.broadcast(terms_df), "term", "left_semi")
    # Segments store idf-independent block maxima; df (→ idf) joins back
    # in-plan: tfil is pruned to the query's terms (term-sorted files →
    # row-group skipping), so the broadcast is bounded by |query terms|,
    # never the vocabulary — and no extra driver round-trip job runs per
    # search call.  A segment term absent from term_stats (corruption)
    # drops out here; DOCINSIGHT_STRICT_DL covers loud detection.
    seg = seg.join(F.broadcast(tfil), "term")
    bc = spark.sparkContext.broadcast((qmap, neg_qmap))
    strict = strict_dl_enabled()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qmap_bc, neg_bc = bc.value
        by_shard: dict[tuple[int, int], list[_SegRow]] = {}
        for pdf in batches:
            bks = pdf["doc_bucket"].to_numpy()
            subs = pdf["doc_sub"].to_numpy()
            terms = pdf["term"].to_numpy()
            dfs = pdf["df"].to_numpy()
            encs = pdf["_avgdl_enc"].to_numpy()
            rts = pdf["_root"].to_numpy()
            docs, tfs = pdf["docs"].values, pdf["tfs"].values
            bns, mxs = pdf["bn"].values, pdf["max_score"].values
            tfms, dlms = pdf["tf_max"].values, pdf["dl_min"].values
            for i in range(len(pdf)):
                mx = np.asarray(mxs[i], np.float32)
                df_i = float(dfs[i])
                idf_i = float(np.log((n_docs - df_i + 0.5) / (df_i + 0.5) + 1.0))
                # Drift-safe upper bound: stored block maxima bake in the
                # segment set's encode-time avgdl.  The tf-normalized
                # score is increasing in avgdl, so when the corpus has
                # grown past it (avgdl > _avgdl_enc) the stored maxima
                # may UNDER-bound — recompute an admissible bound from
                # (tf_max, dl_min) under the current avgdl (score is
                # increasing in tf, decreasing in dl).  When avgdl ≤
                # encode-time, stored maxima over-bound (admissible) and
                # the min of the two bounds keeps pruning tight.
                if len(mx):
                    tfm = np.asarray(tfms[i], np.float64)
                    dlm = np.asarray(dlms[i], np.float64)
                    bound = tfm * (k1 + 1.0) / (
                        tfm + k1 * (1.0 - b + b * dlm / avgdl)
                    )
                    if avgdl <= float(encs[i]) * (1.0 + 1e-12):
                        bound = np.minimum(bound, mx.astype(np.float64))
                    upper_i = idf_i * float(bound.max())
                else:
                    upper_i = 0.0
                row = _SegRow(
                    terms[i], df_i, docs[i], tfs[i], bns[i], upper_i,
                    root=rts[i],
                )
                by_shard.setdefault((int(bks[i]), int(subs[i])), []).append(row)

        dl_cache: dict[int, tuple | None] = {}
        excl_cache: dict[tuple[str, int], np.ndarray | None] = {}

        def dl_lookup(bucket: int):
            if bucket not in dl_cache:
                ds = read_doc_stats_bucket_multi(dl_roots, bucket)
                if ds is None:
                    dl_cache[bucket] = None
                else:
                    o = np.argsort(ds["docID"], kind="stable")
                    dl_cache[bucket] = (ds["docID"][o], ds["dl"][o].astype(np.float64))
            return dl_cache[bucket]

        def excl_lookup(bucket: int):
            """root → sorted dead docIDs for (root, bucket), or a plain
            None when the index has no live tombstones (fast path: the
            kernel skips per-row exclusion entirely)."""
            if not tomb_dirs:
                return None

            def of(root: str):
                key = (root, bucket)
                if key not in excl_cache:
                    dirs = tomb_dirs.get(root)
                    excl_cache[key] = (
                        read_tombstone_bucket(dirs, bucket) if dirs else None
                    )
                return excl_cache[key]

            return of

        out: list[tuple[int, int, float]] = []
        for (bucket, _sub), rows in by_shard.items():
            ds = dl_lookup(bucket)
            if ds is None:
                continue
            ds_docs, ds_dl = ds

            def dl_of(docs: np.ndarray) -> np.ndarray:
                return lookup_dl(ds_docs, ds_dl, docs, strict)

            out.extend(
                _score_shard(
                    rows, qmap_bc, n_docs, avgdl, k1, b, k, dl_of,
                    excl_of=excl_lookup(bucket),
                    require_all=require_all, neg_map=neg_bc,
                )
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
    if mode not in _DICT_MODES:
        raise ValueError(f"mode must be one of {_DICT_MODES}, got {mode!r}")
    meta = _meta or _load_meta(index_dir)
    # regex patterns are NOT lowercased: `\S` != `\s`.  Terms are
    # lowercase, so case-sensitive literals simply match nothing —
    # same contract as grep over a lowercased corpus.
    pats = [
        (int(q), (p or "") if mode == "regex" else (p or "").lower())
        for q, p in patterns
    ]
    pats = [(q, p) for q, p in pats if p]
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
) -> DataFrame:
    """(query_id, rank, docID, score) — top-k BM25 over each pattern's
    expansion set (score = Σ per-term BM25 over the expanded terms, each
    with its own df), via the block-max fast path.  ``mode`` is any
    :func:`expand_dictionary` mode: prefix / contains / regex.

    The expansion is collected driver-side — bounded by
    ``len(patterns) × max_expansions`` rows by construction — and fed to
    :func:`wand_search` as a prebuilt term map (no re-tokenization)."""
    meta = _meta or _load_meta(index_dir)
    tstats = _tstats if _tstats is not None else load_term_stats(
        spark, index_dir, meta
    )
    exp = expand_dictionary(
        spark, index_dir, patterns, max_expansions, mode=mode,
        _meta=meta, _tstats=tstats,
    ).collect()
    qmap: dict[int, list[str]] = {int(q): [] for q, _ in patterns}
    for r in exp:
        qmap[int(r["query_id"])].append(r["term"])
    return wand_search(
        spark, index_dir, None, k=k, _meta=meta, _tstats=tstats,
        _segments=_segments, _qmap=qmap,
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
