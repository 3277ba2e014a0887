"""Physical index build: runs → merge waves → posting segments.

Replaces the reference's index build
(``/root/reference/index/index_manager.py:44-122``), which embeds every
chunk and then collects *all* vectors into driver RAM
(``index_manager.py:84-100``).  Here every stage is a distributed job
and the driver only moves manifests:

1. **add_run** — tokenize a corpus slice → (term, docID, tf) postings
   with shard keys ``doc_bucket = pmod(docID, B)`` and
   ``doc_sub = pmod(xxhash64(docID), K)``; written as plain parquet so
   the expensive tokenize pass runs exactly once per run (no
   re-sampling, no partitioned-commit storm).  New docs are anti-joined
   against already-indexed runs (the Spark analog of the reference's
   ``WHERE embedding IS NULL`` incremental resume,
   ``embeddings/embedder.py:147-158``, and its SHA-256 dedup gate,
   ``pipeline_ingest.py:265-269``).
2. **merge_all** — merge waves: groups of up to ``MERGE_MAX_WIDTH``
   runs are **repartitioned by shard and sorted within partitions**;
   the terminal wave yields the global shard-sorted posting layout.
   Each wave step is manifest-guarded → a restarted build skips
   completed waves.  :meth:`IndexBuilder.build` is exactly one
   ``add_run`` → ``merge_all`` → ``finalize``; several runs come from
   several ``add_run`` calls (incremental ingest).
3. **finalize** — doc/term statistics (document-frequency aggregation
   is two-stage salted against hot-term skew), then a streaming
   ``mapInPandas`` encoder groups the sorted postings into segments:
   one row per (shard, term) holding the term's shard-local docIDs and
   tfs as plain parquet arrays (:data:`SEGMENT_SCHEMA`).  Segments hold
   postings only — no statistic of the corpus — so a set never goes
   stale as the corpus grows; the query kernel computes its pruning
   bounds from the postings and the current statistics.  The encoder
   consumes the merge output's (shard, term, docID) file order
   directly — no shuffle, no join.

   Commit order, the same for the base set and every generation
   (``refresh_delta``, ``compact``): :meth:`IndexBuilder._write_set`
   writes the set's stats, segments and lineage under its root, and
   only then :meth:`IndexBuilder._publish` writes ``_meta.json`` (the
   atomic commit point readers flip on), the unit manifest, and the
   ledger fold.  A crash before the meta write leaves readers on the
   previous meta (or none) and a rerun rewrites the set.

**Why document-partitioned (not term-partitioned):** each shard holds
the *complete* posting lists for its documents, so top-k scoring runs
shard-locally (MaxScore pruning per shard) and only ``shards × k``
candidate rows shuffle for the global merge.  Hot terms spread evenly
across shards by construction — the doc hash, not the term, picks the
partition — so the worst skew a hot term can cause is bounded by shard
size.  Every shard lands whole in its own partition through a per-shard
probe hash key (:meth:`IndexBuilder._shard_partitioned`; plain hash-
partitioning of B values into B partitions leaves ~1/e of slots empty
and 2-3× stragglers).

Lineage: every unit writes ``manifests/<unit>.json`` atomically
(tmp + rename) with per-partition counters (postings, docs, segments
built, bytes compressed — row counts read from parquet footers, not
extra Spark jobs) — the engine's analog of the reference's
``ingestion_runs`` lineage table (``/root/reference/db/schema.sql:43-54``).
"""

from __future__ import annotations

import contextlib
import os
import time
import uuid
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docinsight_spark import BM25_B, BM25_K1
from docinsight_spark.index import fsio
from docinsight_spark.operators.postings import (
    build_postings,
    term_stats,
    with_doc_id,
)

# One row per (shard, term): the term's shard-local docIDs (ascending,
# signed int64) and their term frequencies.  The arrays carry no
# delta-gap or varint packing: docIDs are xxhash64 values, so the gaps
# within a shard average about 2^64 / shard size and a VByte encoding
# saved nothing over parquet's own encodings.
SEGMENT_SCHEMA = (
    "doc_bucket int, doc_sub int, term string, docs array<long>, tfs array<int>"
)


def _atomic_write_json(path: str, payload: dict) -> None:
    fsio.write_json_atomic(path, payload)


class WriterLeaseHeld(RuntimeError):
    """Another writer holds (or took over) this index's writer lease."""


def _leased(fn):
    """Run a mutating IndexBuilder method under the writer lease
    (re-entrant — nested leased calls reuse the outer frame's lease)."""
    import functools

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        with self._lease():
            return fn(self, *args, **kwargs)

    return wrapper


# Rollup ledger: one JSON mapping unit -> manifest for all FOLDED units.
# Loose per-unit files stay the crash-atomic commit primitive; the ledger
# keeps manifests() at O(1) driver reads under 10^4-10^5 streaming runs.
_LEDGER = "_ledger.json"

# Past this many graveyard fold-set dirs, compaction rolls them into ONE
# consolidated set (same bounding principle as the manifest ledger): the
# ingest gate's copy accounting otherwise reads O(all-time deletes) dirs
# forever in a high-churn deployment.
GRAVEYARD_FOLD_MIN = 4


def _read_ledger(index_dir: str) -> dict[str, dict]:
    p = f"{index_dir}/manifests/{_LEDGER}"
    if not fsio.exists(p):
        return {}
    return dict(fsio.read_json(p).get("units", {}))


def _ledger_strip(index_dir: str, drop) -> None:
    """Remove ledger entries whose unit name satisfies ``drop`` (used by
    generation reclaim / per-run purge so deleted artifacts don't leave
    stale lineage behind in the rolled-up ledger)."""
    p = f"{index_dir}/manifests/{_LEDGER}"
    if not fsio.exists(p):
        return
    units = _read_ledger(index_dir)
    kept = {u: m for u, m in units.items() if not drop(u)}
    if len(kept) != len(units):
        _atomic_write_json(p, {"units": kept, "ts": time.time()})


def read_manifests(index_dir: str) -> list[dict]:
    """All committed unit manifests: the rolled-up ledger plus any loose
    per-unit files (a loose file overrides its ledger copy — it is the
    newer write).  Only committed manifests count: a crash between
    tmp-write and rename leaves *.json.tmp.<pid> files that must not
    count as lineage.

    Safe against a concurrent :meth:`IndexBuilder.fold_ledger`: the
    writer deletes a loose file only AFTER its copy landed in the
    ledger, so a loose file that vanishes between the directory listing
    and its read is simply re-served from a fresh ledger read — readers
    stay unrestricted during a refresh/compact/delete, per the
    concurrency contract."""
    units = _read_ledger(index_dir)
    loose: dict[str, dict] = {}
    raced = False
    for fn in fsio.listdir(f"{index_dir}/manifests"):
        if not fn.endswith(".json") or fn == _LEDGER:
            continue
        path = f"{index_dir}/manifests/{fn}"
        try:
            m = fsio.read_json(path)
        except OSError as e:
            # folded away mid-read (its ledger copy exists); any other
            # IO error on a file that is still there is a real fault
            if not isinstance(e, FileNotFoundError) and fsio.exists(path):
                raise
            raced = True
            continue
        loose[m.get("unit", fn[: -len(".json")])] = m
    if raced:
        # the fold committed the ledger BEFORE deleting the loose file,
        # so a fresh ledger read is guaranteed to contain the folded
        # unit (and supersedes the stale first read); loose copies that
        # WERE read stay on top — they are at least as new as any ledger
        units.update(_read_ledger(index_dir))
    units.update(loose)
    return list(units.values())


# Past this many files, driver-side footer reads (even threaded) are
# minutes of wall time at DFS round-trip latency — fan the reads out as
# a Spark job instead; the driver only receives one int per file.
FOOTER_DRIVER_MAX = 4096


# probe ints x with pmod(hash(x), n) == s for every shard s — computed
# once per process per shard count (one tiny Spark job over a constant
# range), then reused by every merge wave.  Lets the merge assign each
# shard its own partition EXACTLY via hash repartition on the probe
# column: the balance of range partitioning with NONE of its per-wave
# input sampling pass (the shard key domain is fully known — sampling
# learns nothing).
_SHARD_PROBE_CACHE: dict[int, dict[int, int]] = {}


def _shard_probes(spark: SparkSession, n_shards: int) -> dict[int, int]:
    """{shard -> probe int} such that ``pmod(hash(probe), n_shards) ==
    shard`` under Spark's own Murmur3 (computed BY Spark, so it can
    never drift from the engine's hash).  The search draws at least 64
    ints per shard, so a shard with no probe (odds below 1e-20 even at
    10^6 shards) raises instead of partitioning wrongly."""
    got = _SHARD_PROBE_CACHE.get(n_shards)
    if got is not None:
        return got
    import pyspark.sql.functions as f

    rows = (
        spark.range(0, max(n_shards * 64, 4096))
        .select(
            f.col("id").cast("int").alias("x"),
            f.pmod(f.hash(f.col("id").cast("int")), f.lit(n_shards)).alias("s"),
        )
        .groupBy("s")
        .agg(f.min("x").alias("x"))
        .collect()
    )
    probes = {int(r["s"]): int(r["x"]) for r in rows}
    missing = [s for s in range(n_shards) if s not in probes]
    if missing:
        raise RuntimeError(
            f"no partition probe found for shard {missing[0]} of {n_shards}"
        )
    _SHARD_PROBE_CACHE[n_shards] = probes
    return probes


# Upper bound on how many run/merge outputs one merge job consumes.
# Every merge wave is a FULL rewrite of all bytes that pass through it,
# so the minimum-wave plan is the cheapest plan: up to this many runs
# merge in ONE wave (one shuffle+sort+write).  Hierarchical waves exist
# only to bound per-job input width (plan size, file listing, scheduler
# state) at 10^4+ streaming runs.
MERGE_MAX_WIDTH = 32


def _read_footers(path: str, read, spark: SparkSession | None = None) -> list:
    """``[(file, read(footer))]`` for every parquet file under ``path`` —
    no full-data Spark job.  DFS-safe: footers are read through the
    path's filesystem (local, file://, s3://, hdfs://).  Footer reads are
    tiny but latency-bound (one round trip per file), so they overlap on
    driver threads; past ``FOOTER_DRIVER_MAX`` files (the 10^5-10^6-shard
    geometry) they run as a Spark job when a session is provided — the
    driver then receives only ``read``'s small result per file."""
    import pyarrow.parquet as pq

    files = fsio.glob_parquet(path)

    def read_all(it):
        fs, _ = fsio.resolve(path)
        return (read(pq.read_metadata(f, filesystem=fs)) for f in it)

    if spark is not None and len(files) > FOOTER_DRIVER_MAX:
        slices = max(1, min(len(files) // 256 + 1, 512))
        vals = spark.sparkContext.parallelize(files, slices).mapPartitions(
            read_all
        ).collect()
    else:
        from concurrent.futures import ThreadPoolExecutor

        fs, _ = fsio.resolve(path)
        with ThreadPoolExecutor(max_workers=min(32, max(len(files), 1))) as ex:
            vals = list(ex.map(
                lambda f: read(pq.read_metadata(f, filesystem=fs)), files
            ))
    return list(zip(files, vals))


def _dir_value(file: str, key: str) -> str | None:
    """The ``key=<value>`` partition dir value in a file path."""
    part = [p for p in file.split("/") if p.startswith(f"{key}=")]
    return part[0].split("=", 1)[1] if part else None


def _footer_rows(
    path: str, per_dir_key: str | None = None, spark: SparkSession | None = None
) -> tuple[int, dict]:
    """Dataset row count (and per-partition-dir counts) from parquet
    footers (:func:`_read_footers`)."""
    total, per = 0, {}
    for f, n in _read_footers(path, lambda md: md.num_rows, spark):
        total += n
        key = _dir_value(f, per_dir_key) if per_dir_key else None
        if key is not None:
            per[key] = per.get(key, 0) + n
    return total, per


def _seg_footer_stats(md) -> tuple[int, int]:
    """(rows, compressed posting bytes) from one parquet footer: the
    ``docs`` + ``tfs`` array columns."""
    pay = 0
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            if col.path_in_schema.split(".")[0] in ("docs", "tfs"):
                pay += col.total_compressed_size
    return md.num_rows, pay


def _segment_lineage(path: str, spark: SparkSession | None = None) -> dict:
    """Per-bucket segment counters from parquet footers
    (:func:`_read_footers`): row counts and the compressed size of the
    ``docs`` + ``tfs`` columns."""
    per: dict[str, dict] = {}
    total_rows, total_bytes = 0, 0
    for f, (rows, pay) in _read_footers(path, _seg_footer_stats, spark):
        key = _dir_value(f, "doc_bucket") or "?"
        d = per.setdefault(key, {"segments_built": 0, "bytes_compressed": 0})
        d["segments_built"] += rows
        d["bytes_compressed"] += pay
        total_rows += rows
        total_bytes += pay
    return {
        "segments_built": total_rows,
        "bytes_compressed": total_bytes,
        "per_bucket": per,
    }


def lookup_dl(
    sorted_docs: np.ndarray, dls: np.ndarray, doc_ids: np.ndarray
) -> np.ndarray:
    """Binary-search doc lengths for ``doc_ids`` in a docID-sorted map.

    Every probe must hit an exact doc_stats row: a docID the map lacks
    means postings and doc_stats disagree (index corruption), and
    raises instead of borrowing a neighbour's length."""
    if len(sorted_docs) == 0:
        if len(doc_ids):
            raise ValueError("doc_stats bucket is empty but postings reference docs")
        return np.ones(0, np.int64)
    pos = np.clip(np.searchsorted(sorted_docs, doc_ids), 0, len(sorted_docs) - 1)
    bad = sorted_docs[pos] != doc_ids
    if bad.any():
        missing = np.asarray(doc_ids)[bad][:5].tolist()
        raise ValueError(
            f"postings/doc_stats inconsistency: {int(bad.sum())} docIDs "
            f"missing from doc_stats (first: {missing})"
        )
    return dls[pos]


def read_doc_stats_bucket(index_dir: str, bucket: int) -> dict | None:
    """Bucket-local doc-length map, read inside kernels via pyarrow.

    On a cluster this is a distributed-FS read of one small co-located
    partition — no shuffle. Returns {docID -> dl} as numpy arrays."""
    import pyarrow.parquet as pq

    path = f"{index_dir}/doc_stats/doc_bucket={bucket}"
    if not fsio.exists(path):
        return None
    fs, p = fsio.resolve(path)
    t = pq.read_table(p, columns=["docID", "dl"], filesystem=fs)
    return {
        "docID": t.column("docID").to_numpy(),
        "dl": t.column("dl").to_numpy(),
    }


def read_doc_stats_bucket_multi(roots: list[str], bucket: int) -> dict | None:
    """Union of one bucket's doc-length maps across segment-set roots
    (base index dir + committed generation dirs), NEWEST root winning on
    a docID collision.  docIDs are disjoint across live roots except
    through resurrection (a doc deleted from an older root and
    re-ingested into a newer one): the newer copy's dl is the live one,
    and ``roots`` is ordered oldest→newest (base first, generations in
    commit order), so keep the LAST occurrence of each docID."""
    parts = [p for p in (read_doc_stats_bucket(r, bucket) for r in roots) if p]
    if not parts:
        return None
    if len(parts) == 1:
        return parts[0]
    docs = np.concatenate([p["docID"] for p in parts])
    dl = np.concatenate([p["dl"] for p in parts])
    # np.unique on the reversed array: "first occurrence" there is the
    # last (newest-root) occurrence in original order
    uniq, idx = np.unique(docs[::-1], return_index=True)
    if len(uniq) == len(docs):
        return {"docID": docs, "dl": dl}
    return {"docID": uniq, "dl": dl[::-1][idx]}


class IndexBuilder:
    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        n_buckets: int = 32,
        n_subs: int = 2,
        k1: float = BM25_K1,
        b: float = BM25_B,
        code_aware: bool = True,
        positions: bool = False,
        broadcast_seen_max: int = 2_000_000,
        lease_ttl_sec: float = 3600.0,
    ):
        """``n_buckets`` = on-disk partition dirs; ``n_subs`` = intra-bucket
        shards.  ``B × K`` shards are the unit of sort/query parallelism;
        every shard is a self-contained document slice.

        Concurrency model: ONE writer (build / add_run / refresh_delta /
        compact) at a time per index dir — the manifest protocol makes
        any step crash-resumable and idempotent, but two concurrent
        writers could race on the same generation id.  The contract is
        ENFORCED by a TTL writer lease (``_writer.lock``): every
        mutating op acquires it (atomic exclusive create), heartbeats
        it at each manifest commit (which doubles as a fence check — a
        writer whose lease was taken over fails loudly instead of
        committing), and releases it at op end.  A crashed writer's
        lease expires after ``lease_ttl_sec`` and is taken over; size
        the TTL above the longest gap between manifest commits (one
        merge wave / one segment encode).  CAVEAT (object stores): the
        lease create is truly atomic (O_CREAT|O_EXCL) only on local /
        POSIX filesystems; on S3/GCS-style stores pyarrow.fs exposes
        no conditional put, so acquisition is check-then-put and the
        stale-lease takeover is remove-then-create — two SIMULTANEOUS
        writers racing within one round trip can both believe they
        hold it.  There the lease is advisory: it catches every
        non-simultaneous second writer, but deployments on shared
        object storage must serialize writers by convention (one
        scheduler/driver), or swap ``fsio.create_exclusive_json`` for
        a backend conditional put (S3 If-None-Match / GCS generation
        preconditions).  Readers are unrestricted:
        they see exactly the generations committed in ``_meta.json``
        (atomic tmp+rename), so queries run safely DURING a refresh and
        flip to the new generation set atomically.

        Sizing at scale: pick ``B × K`` ≈ 2-4× total executor cores so
        every core owns a few shards per wave, and so one shard's
        postings (≈ total_postings / (B·K)) fit an executor's sort
        buffer.  At 10^12 files / ~4·10^14 postings that means
        B·K ≈ 10^5-10^6 shards (e.g. B = 4096 dirs × K = 64), giving
        ~10^9 postings ≈ 4-8 GB compressed per shard task.  ``B`` alone
        controls directory fan-out / partition pruning granularity;
        local test defaults (32 × 2) mirror the same geometry."""
        self.spark = spark
        self.dir = index_dir.rstrip("/")
        self.n_buckets = n_buckets
        self.n_subs = n_subs
        self.k1, self.b = k1, b
        self.code_aware = code_aware
        # positions=True stores each term's token offsets alongside the
        # run/merged postings (exact phrase search reads them with a
        # term IN-list pushdown; the WAND segments never carry them)
        self.positions = positions
        # above this many already-indexed docIDs the cross-run dedup gate
        # switches from a broadcast anti-join to a Bloom pre-gate + plain
        # anti-join (the seen side is never broadcast whole)
        self.broadcast_seen_max = broadcast_seen_max
        self.lease_ttl_sec = lease_ttl_sec
        self._gate_cache: list[DataFrame] = []
        self._lease_token: str | None = None
        fsio.makedirs(f"{self.dir}/manifests")

    @classmethod
    def for_index(cls, spark: SparkSession, index_dir: str, **overrides):
        """Builder configured FROM an existing index's ``_meta.json`` —
        the safe way to append to / compact an index you didn't just
        build (geometry and tokenizer settings must match; see
        :meth:`_check_meta_compat`)."""
        meta = fsio.read_json(f"{index_dir.rstrip('/')}/_meta.json")
        kw = dict(
            n_buckets=int(meta["n_buckets"]),
            n_subs=int(meta.get("n_subs", 1)),
            k1=float(meta.get("k1", BM25_K1)),
            b=float(meta.get("b", BM25_B)),
            code_aware=bool(meta.get("code_aware", True)),
            positions=bool(meta.get("positions", False)),
        )
        kw.update(overrides)
        return cls(spark, index_dir, **kw)

    @property
    def n_shards(self) -> int:
        return self.n_buckets * self.n_subs

    def _check_meta_compat(self) -> None:
        """Fail loudly when this builder's geometry/tokenizer disagrees
        with an already-finalized index: a delta sharded with different
        ``n_buckets``/``n_subs`` would land postings in buckets whose
        doc_stats the kernels never read (silently wrong dl → wrong
        scores), and a different tokenizer family would split the same
        document into different terms across generations."""
        if not fsio.exists(f"{self.dir}/_meta.json"):
            return
        meta = self.meta()
        mine = {
            "n_buckets": self.n_buckets,
            "n_subs": self.n_subs,
            "code_aware": self.code_aware,
            # a delta ingested without positions would leave phrase
            # search silently blind to those docs
            "positions": self.positions,
            # BM25 constants too: every query scores with the meta's
            # k1/b, so a writer set up with others would be silently
            # overruled
            "k1": self.k1,
            "b": self.b,
        }
        # meta keys absent on older indexes fall back to the SAME
        # defaults for_index() uses — an old meta must not hard-refuse a
        # builder constructed with identical effective settings
        theirs = {
            "n_buckets": int(meta["n_buckets"]),
            "n_subs": int(meta.get("n_subs", 1)),
            "code_aware": bool(meta.get("code_aware", True)),
            "positions": bool(meta.get("positions", False)),
            "k1": float(meta.get("k1", BM25_K1)),
            "b": float(meta.get("b", BM25_B)),
        }
        if mine != theirs:
            raise ValueError(
                f"IndexBuilder settings {mine} do not match the existing "
                f"index at {self.dir} ({theirs}); construct the builder "
                "with the index's settings or purge and rebuild"
            )

    def _settings(self) -> dict:
        """The geometry/tokenizer settings that must agree across every
        writer of one index (mirrors :meth:`_check_meta_compat`)."""
        return {
            "n_buckets": self.n_buckets,
            "n_subs": self.n_subs,
            "code_aware": self.code_aware,
            "positions": self.positions,
            "k1": self.k1,
            "b": self.b,
        }

    def _check_run_compat(self) -> None:
        """Pre-finalize compat gate: before the first ``finalize()``
        there is no ``_meta.json`` for :meth:`_check_meta_compat` to
        validate against, so repeated ``ingest --no-refresh`` calls with
        different ``--buckets``/``--subs``/``--simple-tokens`` would
        silently record runs sharded/tokenized differently and later
        merge into one broken index.  Every run manifest records its
        builder settings; a new run must match the prior runs'."""
        mine = self._settings()
        for m in self.manifests():
            if not m["unit"].startswith("run-"):
                continue
            theirs = m.get("settings")
            if theirs is None:
                continue  # pre-round-5 manifest: nothing to validate
            theirs = {k: theirs[k] for k in mine if k in theirs}
            if {k: mine[k] for k in theirs} != theirs:
                raise ValueError(
                    f"builder settings {mine} do not match run "
                    f"{m['run_id']}'s recorded settings {theirs}; "
                    "construct the builder with the same settings used "
                    "for prior runs (or purge the index)"
                )

    # -- writer lease -------------------------------------------------------

    @property
    def _lock_path(self) -> str:
        return f"{self.dir}/_writer.lock"

    @contextlib.contextmanager
    def _lease(self):
        """Hold the writer lease for the duration of one mutating op.
        Re-entrant within a builder instance (``build`` nests
        ``add_run``/``merge_all``/``finalize``; ``refresh_delta`` nests
        ``finalize``) — only the outermost frame acquires/releases."""
        if self._lease_token is not None:
            yield
            return
        token = uuid.uuid4().hex
        self._lease_acquire(token)
        self._lease_token = token
        try:
            yield
        finally:
            self._lease_token = None
            self._lease_release(token)

    def _lease_acquire(self, token: str) -> None:
        payload = {
            "owner": token, "ts": time.time(),
            "ttl": self.lease_ttl_sec, "pid": os.getpid(),
        }
        for _attempt in range(3):
            if fsio.create_exclusive_json(self._lock_path, payload):
                return
            try:
                cur = fsio.read_json(self._lock_path)
            except (FileNotFoundError, OSError):
                continue  # released between exists-check and read: retry
            age = time.time() - float(cur.get("ts", 0.0))
            if age <= float(cur.get("ttl", self.lease_ttl_sec)):
                raise WriterLeaseHeld(
                    f"index {self.dir} has a live writer lease "
                    f"(owner {cur.get('owner', '?')[:8]}…, pid "
                    f"{cur.get('pid')}, age {age:.0f}s < ttl "
                    f"{cur.get('ttl')}s); a second concurrent writer "
                    "would race generation ids — wait, or let the lease "
                    "expire if that writer crashed"
                )
            # stale lease (crashed writer): take over — delete + retry
            # the exclusive create; a racing stealer makes the create
            # fail and the next iteration re-reads the fresh lock
            with contextlib.suppress(FileNotFoundError, OSError):
                fsio.remove(self._lock_path)
        raise WriterLeaseHeld(
            f"could not acquire the writer lease for {self.dir} after "
            "repeated takeover attempts (another writer keeps winning)"
        )

    def _lease_release(self, token: str) -> None:
        with contextlib.suppress(FileNotFoundError, OSError):
            cur = fsio.read_json(self._lock_path)
            if cur.get("owner") == token:
                fsio.remove(self._lock_path)

    def _lease_fence(self) -> None:
        """Verify we still own the lease, and heartbeat it.  Called at
        every manifest commit: a writer that lost its lease (TTL expiry
        + takeover while it stalled) must fail loudly BEFORE publishing
        lineage, not race the new writer's generation ids."""
        if self._lease_token is None:
            return  # op running without a lease frame (direct test use)
        cur = (
            fsio.read_json(self._lock_path)
            if fsio.exists(self._lock_path)
            else None
        )
        if cur is None or cur.get("owner") != self._lease_token:
            raise WriterLeaseHeld(
                f"writer lease for {self.dir} was lost (taken over by "
                f"{(cur or {}).get('owner', 'nobody')!r}); aborting "
                "before commit — rerun to resume from completed units"
            )
        cur["ts"] = time.time()
        _atomic_write_json(self._lock_path, cur)

    # -- lineage -----------------------------------------------------------

    def _mpath(self, unit: str) -> str:
        return f"{self.dir}/manifests/{unit}.json"

    def _done(self, unit: str) -> bool:
        m = self._manifest(unit)
        return m is not None and m.get("status") == "complete"

    def _manifest(self, unit: str) -> dict | None:
        """One unit's manifest: the loose per-unit file wins (it is
        always at least as new as its ledger copy), ledger otherwise."""
        p = self._mpath(unit)
        if fsio.exists(p):
            return fsio.read_json(p)
        return _read_ledger(self.dir).get(unit)

    def _commit(self, unit: str, **counters) -> None:
        self._lease_fence()  # fail loudly if the lease was taken over
        _atomic_write_json(
            self._mpath(unit),
            {"unit": unit, "status": "complete", "ts": time.time(), **counters},
        )

    def manifests(self) -> list[dict]:
        return read_manifests(self.dir)

    def fold_ledger(self) -> int:
        """Roll loose per-unit manifest files into ``_ledger.json`` (one
        atomically-rewritten file), then delete them — ``manifests()``
        stays O(1) driver reads no matter how many units accumulated.

        Without this, a continuous-mode deployment pays O(runs) object-
        store JSON round trips per ``manifests()`` call (every
        ``add_run`` / ``refresh_delta`` / ``_covered_runs``) — O(runs²)
        cumulative over 10^4-10^5 streaming micro-batches.  Called at
        each finalize / refresh / compact; per-unit files keep being
        written for in-flight units (they are the crash-atomic commit
        primitive), so loose count stays bounded by one fold cycle.

        ``gc-*`` tombstones are deliberately NOT folded: they are
        transient (O(compaction victims)) and ``gc_generations``
        deletes them file-by-file.  Returns the number folded."""
        units = _read_ledger(self.dir)
        folded = 0
        for fn in fsio.listdir(f"{self.dir}/manifests"):
            if (
                not fn.endswith(".json")
                or fn == _LEDGER
                or fn.startswith("gc-")
            ):
                continue
            m = fsio.read_json(f"{self.dir}/manifests/{fn}")
            units[m.get("unit", fn[: -len(".json")])] = m
            folded += 1
        if folded:
            _atomic_write_json(
                f"{self.dir}/manifests/{_LEDGER}",
                {"units": units, "ts": time.time()},
            )
            # only delete AFTER the ledger rename landed: a crash between
            # the two leaves duplicates (loose wins — harmless), never loss
            for fn in fsio.listdir(f"{self.dir}/manifests"):
                if (
                    fn.endswith(".json")
                    and fn != _LEDGER
                    and not fn.startswith("gc-")
                ):
                    fsio.remove(f"{self.dir}/manifests/{fn}")
        return folded

    def _read_plain(self, paths: list[str]) -> DataFrame:
        """One multi-path scan over UNPARTITIONED sibling dirs (run docs /
        run postings).  A per-path unionByName would grow the logical
        plan O(paths) deep — at 10^4-10^5 streaming micro-batch runs
        that is minutes of analysis time and driver memory; a multi-path
        relation is a single scan node regardless of path count."""
        return self.spark.read.parquet(*paths)

    # -- stage 1: runs -----------------------------------------------------

    def _sharded(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "doc_bucket", F.pmod(F.col("docID"), F.lit(self.n_buckets)).cast("int")
        ).withColumn(
            "doc_sub",
            F.pmod(F.xxhash64(F.col("docID")), F.lit(self.n_subs)).cast("int"),
        )

    @_leased
    def add_run(
        self,
        corpus: DataFrame,
        run_id: str,
        dedup_within_run: bool = True,
        neardup_store=None,
        neardup_threshold: float = 0.7,
    ) -> None:
        """Tokenize one corpus slice into a plain-parquet postings run.

        One tokenize pass, one write; sorting/partitioning is deferred to
        the merge waves (which must re-shuffle anyway).
        ``dedup_within_run=False`` skips the within-slice docID dedup
        shuffle (safe when the upstream feed is already unique — it
        shuffles full document content, the most expensive bytes in the
        job).  The cross-run anti-join gate always applies.

        ``neardup_store`` (a :class:`docinsight_spark.index.neardup.
        NearDupStore`): the INCREMENTAL near-dup gate — new docs whose
        shingle Jaccard vs an already-indexed doc is ≥
        ``neardup_threshold`` are dropped, by probing the persisted
        signature store (band-key equi-join) instead of re-shingling the
        corpus; survivors register their signatures under this run's id.
        The near-dup analog of the exact-sha cross-run gate (reference:
        ``pipeline_ingest.py:265-269``)."""
        unit = f"run-{run_id}"
        if self._done(unit):
            return
        self._check_meta_compat()
        self._check_run_compat()
        docs = with_doc_id(corpus)
        if dedup_within_run:
            docs = self._dedup_by_doc_id(docs)
        docs = self._gate_prior_runs(docs)
        if neardup_store is not None:
            docs = neardup_store.gate(
                docs, unit=run_id, threshold=neardup_threshold
            )
        # both writes below consume the SAME gated frame; without a
        # persist each re-runs the corpus scan + dedup/gate joins (and
        # the postings job additionally re-tokenizes nothing it can
        # reuse).  MEMORY_AND_DISK spills for mega-runs; the existing
        # _gate_cache finally-block unpersists even on a failed write.
        from pyspark import StorageLevel

        docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
        self._gate_cache.append(docs)

        base = f"{self.dir}/runs/{run_id}"
        from pyspark.sql import Observation

        from docinsight_spark.functions.tokenizer import _MASKS

        # per-run language mix as observed metrics of the docs write (no
        # extra job): only the tokenizer's mask families matter — any
        # other lang falls back to C-family masking anyway.  finalize /
        # refresh derive the corpus-majority tokenizer lang from these so
        # the QUERY side masks comments the same way the build side did
        # (reference analog: the language detection gate,
        # pipeline_ingest.py:63-75).  Majority vote is robust to the
        # rare observe over-count under stage retry.
        lang_obs = Observation(f"langs-{run_id}")
        lang_metrics = [
            F.sum(
                F.when(F.lower(F.col("lang")) == lg, 1).otherwise(0)
            ).alias(lg)
            for lg in _MASKS
        ]
        try:
            postings = self._sharded(
                build_postings(
                    docs,
                    code_aware=self.code_aware,
                    with_positions=self.positions,
                )
            )
            # run postings are write-once-read-once intermediates (consumed by
            # the next merge wave, then dead): cheap snappy beats the session
            # zstd here — encode CPU was the hottest JVM stage of the build.
            # Long-lived artifacts (segments, docs, stats) keep zstd.
            # EXCEPT positional runs: the positions column dominates the
            # bytes and made the positional build write-bandwidth-bound
            # (the round-5 0.75 scaling leg); zstd cuts the volume ~15-25 %
            # (measured — and beats a hand-rolled VByte binary packing,
            # which LOSES to parquet's int encodings at code's p50 tf=1).
            postings.write.mode("overwrite").option(
                "compression", self._postings_codec()
            ).parquet(f"{base}/postings")
            docs.select(
                "docID", "repo", "path", "commit", "lang", "content_sha"
            ).observe(lang_obs, *lang_metrics).write.mode("overwrite").parquet(
                f"{base}/docs"
            )
        finally:
            self._drop_gate_cache()
        n_postings, _ = _footer_rows(f"{base}/postings", spark=self.spark)
        n_docs, _ = _footer_rows(f"{base}/docs", spark=self.spark)
        lang_row = dict(lang_obs.get)  # PySpark 4 returns a plain dict
        langs = {lg: int(n or 0) for lg, n in lang_row.items()}
        langs = {lg: n for lg, n in langs.items() if n > 0}
        self._commit(
            unit, run_id=run_id, postings=n_postings, docs=n_docs, langs=langs,
            settings=self._settings(),
        )

    def _majority_lang(self, run_ids: set[str] | None = None) -> str:
        """Corpus-majority tokenizer lang over the given runs' manifests
        (deterministic tie-break: higher count, then lexicographic)."""
        counts: dict[str, int] = {}
        for m in self.manifests():
            if not m["unit"].startswith("run-"):
                continue
            if run_ids is not None and m["run_id"] not in run_ids:
                continue
            for lg, n in m.get("langs", {}).items():
                counts[lg] = counts.get(lg, 0) + int(n)
        if not counts:
            return "java"
        return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]

    def _graveyard_dirs(self) -> list[str]:
        """The LIVE graveyard fold-set dirs.  The committed list lives
        in ``_meta.json`` (round 6): compaction folds the per-victim
        sets into one consolidated set once fan-out passes
        ``GRAVEYARD_FOLD_MIN``, so the ingest gate reads O(1) dirs, not
        O(all-time deletes).  Unlisted dirs under ``graveyard/`` are
        swept fold leftovers (or a crashed fold's orphan) — garbage,
        never lineage.  Pre-round-6 indexes have no meta list: fall
        back to the directory listing (every dir is live there)."""
        root = f"{self.dir}/graveyard"
        if fsio.exists(f"{self.dir}/_meta.json"):
            meta = self.meta()
            if "graveyard" in meta:
                return [f"{root}/{d}" for d in meta["graveyard"]]
        if not fsio.exists(root):
            return []
        return [f"{root}/{d}" for d in fsio.listdir(root)]

    def _graveyard_ids(self) -> DataFrame | None:
        """docIDs whose dead copies were physically reclaimed at
        compaction — the permanent half of the copy-death ledger (live
        tombstone markers are the transient half).  Row MULTIPLICITY is
        the contract: each reclaimed copy contributes one row (the
        copy-accounting identity counts copies, not docIDs), and folds
        preserve it exactly.  Cleared by :func:`purge_index`."""
        paths = self._graveyard_dirs()
        if not paths:
            return None
        return self._read_plain(paths).select("docID")

    def _resurrectable_ids(self, seen: DataFrame) -> DataFrame | None:
        """docIDs whose EVERY past copy is dead (live tombstone marker
        or graveyard entry) — the ingest gate subtracts these from its
        seen set so a deleted doc can be re-ingested (resurrection).

        Copy accounting: each admission of a docID appends one doc row
        to its run (run docs are never rewritten, even by L0 GC), and
        each dead copy holds exactly one live marker until compaction
        moves it to the graveyard.  So #copies == #markers + #graveyard
        ⇔ no live or pending copy exists.  A pending (un-folded) copy
        can hold no marker — it blocks re-ingest, as it must."""
        if not fsio.exists(f"{self.dir}/_meta.json"):
            return None
        meta = self.meta()
        tomb = load_tombstone_pairs(self.spark, self.dir, meta)
        grave = self._graveyard_ids()
        if tomb is None and grave is None:
            return None
        frames = [f for f in (
            tomb.select("docID") if tomb is not None else None, grave
        ) if f is not None]
        dead = _union_frames(frames).groupBy("docID").agg(
            F.count(F.lit(1)).alias("_n_dead")
        )
        # restrict the copy count to dead docIDs first: the dead set is
        # small (O(deletes)), so this is a broadcast semi-join plus a
        # tiny aggregation, never an O(corpus) groupBy
        copies = (
            seen.join(F.broadcast(dead.select("docID")), "docID", "left_semi")
            .groupBy("docID")
            .agg(F.count(F.lit(1)).alias("_n_copies"))
        )
        return (
            copies.join(F.broadcast(dead), "docID")
            .filter(F.col("_n_copies") == F.col("_n_dead"))
            .select("docID")
        )

    def _gate_prior_runs(self, docs: DataFrame) -> DataFrame:
        """The cross-run admission rule of :meth:`add_run`: drop docs
        whose docID a committed run already holds — unless every past
        copy is dead (resurrection)."""
        priors = [m for m in self.manifests() if m["unit"].startswith("run-")]
        if not priors:
            return docs
        seen = self._read_plain(
            [f"{self.dir}/runs/{m['run_id']}/docs" for m in priors]
        ).select("docID")
        seen_total = sum(int(m.get("docs", 0)) for m in priors)
        rez = self._resurrectable_ids(seen)
        if rez is not None:
            # resurrection: docIDs whose every past copy is dead may
            # re-ingest — they leave the seen set, and the new copy
            # lands in a newer root no tombstone marker covers
            seen = seen.join(F.broadcast(rez), "docID", "left_anti")
        return self._gate_new_docs(docs, seen, seen_total)

    def _drop_gate_cache(self) -> None:
        """Unpersist the gate's cached frames — in a ``finally``, so even
        when a write fails mid-run: a MEMORY_AND_DISK gate frame must not
        outlive its run attempt (it would leak for the session and across
        resumed builds)."""
        for cached in self._gate_cache:
            cached.unpersist()
        self._gate_cache.clear()

    def _gate_new_docs(
        self, docs: DataFrame, seen: DataFrame, seen_total: int
    ) -> DataFrame:
        """Cross-run dedup gate: keep only docs whose docID is not in
        ``seen`` (the union of all prior runs' keys).

        Small history (≤ ``broadcast_seen_max`` keys, known from run
        manifests — no counting job): broadcast the narrow key side; the
        corpus keeps its partitioning, zero shuffle of content.

        Large history: a distributed Bloom filter pre-gate.  Bloom-
        negative rows are definitely new and skip the join entirely;
        only bloom-positive rows (true dups + ~1 % false positives) pay
        the precise anti-join, so the shuffled content volume tracks the
        actual overlap, not the run size — and the seen side is never
        broadcast whole.  Past the filter's bit cap the fp rate degrades
        gracefully (more rows take the precise path) rather than OOMing.
        """
        if seen_total <= self.broadcast_seen_max:
            return docs.join(F.broadcast(seen), "docID", "left_anti")
        from pyspark import StorageLevel

        from docinsight_spark.index.bloom import build_bloom, might_contain

        bits, m_bits, k = build_bloom(seen, "docID", seen_total)
        probe = might_contain(self.spark.sparkContext, bits, m_bits, k)
        # evaluate the probe ONCE on a persisted frame: filtering docs by
        # probe and ¬probe separately would recompute the upstream scan +
        # dropDuplicates shuffle twice — and with a nondeterministic docID
        # the two branches could disagree (drop/duplicate rows)
        flagged = docs.withColumn("_maybe_seen", probe(F.col("docID"))).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        self._gate_cache.append(flagged)
        definite_new = flagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
        survivors = (
            flagged.filter(F.col("_maybe_seen"))
            .drop("_maybe_seen")
            .join(seen, "docID", "left_anti")
        )
        return definite_new.unionByName(survivors)

    def _dedup_by_doc_id(self, docs: DataFrame) -> DataFrame:
        """docID dedup that shuffles KEYS, not content (guide-§8 shape:
        decide on small rows, never move the heavy bytes).

        ``dropDuplicates(["docID"])`` hash-shuffles every row — document
        CONTENT included, the most expensive bytes of the ingest — even
        when no duplicate exists.  Instead: find duplicated docIDs from
        a column-pruned aggregation (docID is xxhash64(repo,path,commit),
        so the scan never touches ``content``; map-side partial agg
        keeps the shuffle to 8-byte keys), computed once and counted,
        and only rows of duplicated docIDs pay a content shuffle.  In the
        common all-unique case the input passes through untouched.  The
        key set is broadcast when it has at most ``broadcast_seen_max``
        keys, else both joins are plain shuffle joins.  Contract
        unchanged: one arbitrary surviving copy per docID."""
        from pyspark import StorageLevel

        dups = (
            docs.groupBy("docID")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
            .select("docID")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        self._gate_cache.append(dups)
        n_dups = dups.count()
        if n_dups == 0:
            return docs
        if n_dups <= self.broadcast_seen_max:
            dups = F.broadcast(dups)
        else:  # over the cap: stop the planner auto-broadcasting it
            dups = dups.hint("shuffle_hash")
        clean = docs.join(dups, "docID", "left_anti")
        picked = docs.join(dups, "docID", "left_semi").dropDuplicates(["docID"])
        return clean.unionByName(picked)

    def _postings_codec(self) -> str:
        """Parquet codec for run/merged postings.  Plain builds: snappy
        (write-once-read-once intermediates; encode CPU dominated).
        Positional builds: zstd — the positions column dominates bytes,
        the merged output is long-lived (phrase/proximity read it per
        query), and the measured inflation drops 1.83× → 1.58× vs the
        plain layout."""
        return "zstd" if self.positions else "snappy"

    # -- stage 2: hierarchical merge waves ---------------------------------

    def _gen_manifests(self) -> list[dict]:
        """Committed generation manifests (delta refreshes), sorted by id."""
        gens = [
            m for m in self.manifests() if m["unit"].startswith("generation-")
        ]
        return sorted(gens, key=lambda m: m["gen_id"])

    def _covered_runs(self) -> set[str]:
        """Runs already baked into the base index or a generation.

        Sources: the merged-final manifest, generation manifests, AND the
        committed ``_meta.json`` generation list — the meta write is a
        generation's commit point (readers only see meta-listed gens), so
        a crash between meta write and manifest write must still count
        the generation as covered or a rerun would double-ingest it."""
        covered: set[str] = set()
        for m in self.manifests():
            if m["unit"] == "merged-final" or m["unit"].startswith("generation-"):
                covered |= set(m.get("runs", []))
        if fsio.exists(f"{self.dir}/_meta.json"):
            meta = self.meta()
            covered |= set(meta.get("base", {}).get("runs", []))
            for g in meta.get("generations", []):
                covered |= set(g.get("runs", []))
        return covered

    def _next_gen_id(self) -> str:
        """Monotonic generation id across manifests AND meta (compaction
        removes old manifests; ids must never be reused)."""
        ids = [m["gen_id"] for m in self._gen_manifests()]
        if fsio.exists(f"{self.dir}/_meta.json"):
            ids += [g["id"] for g in self.meta().get("generations", [])]
        nums = [int(i[3:]) for i in ids if i.startswith("gen")]
        return f"gen{max(nums, default=0) + 1:04d}"

    @_leased
    def merge_all(self) -> str:
        """Repartition-and-sort merge waves until one shard-sorted layout
        remains; resumable per wave step.

        The terminal manifest records the run set it covered: a repeated
        ``merge_all`` with the same covered runs short-circuits; runs
        covered by a delta *generation* (:meth:`refresh_delta`) also
        count.  Calling it with genuinely uncovered runs fails loudly
        (instead of silently serving an index that excludes them) —
        :func:`docinsight_spark.streaming.incremental.refresh` is the
        sanctioned path, which folds new runs into a delta generation."""
        runs = sorted(
            m["run_id"] for m in self.manifests() if m["unit"].startswith("run-")
        )
        if not runs:
            raise ValueError("no runs to merge")
        if self._done("merged-final"):
            final = [m for m in self.manifests() if m["unit"] == "merged-final"][0]
            if "runs" not in final:
                # a manifest that predates run tracking can't prove it
                # covers the current run set — that's exactly the silent-
                # stale-index case this guard exists to catch
                raise ValueError(
                    "merged-final manifest records no run set; call "
                    "streaming.incremental.refresh() to re-merge"
                )
            covered = self._covered_runs()
            uncovered = [r for r in runs if r not in covered]
            if uncovered:
                raise ValueError(
                    f"index covers runs {sorted(covered)} but uncovered runs "
                    f"{uncovered} now exist; call "
                    "streaming.incremental.refresh() to fold them into a "
                    "delta generation"
                )
            return final["source"]
        sources = [f"{self.dir}/runs/{r}" for r in runs]
        source, waves = self._merge_waves(sources, f"{self.dir}/merged", "merge")
        self._commit("merged-final", source=source, waves=waves, runs=runs)
        return source

    def _merge_waves(
        self, sources: list[str], out_root: str, unit_prefix: str
    ) -> tuple[str, int]:
        """Hierarchical merge of run dirs into one shard-sorted layout
        under ``out_root``; every wave step is manifest-guarded with
        ``unit_prefix``-scoped names.  Returns (final source dir, waves).
        Groups are ``MERGE_MAX_WIDTH`` wide, so up to that many runs
        merge in one wave; past it, waves tier ``MERGE_MAX_WIDTH``-ary.

        A completed wave step is reused ONLY when its manifest's recorded
        *transitively covered source set* equals the current group's:
        after a crashed fold, a rerun over a different run set (new runs
        arrived, or a reused generation id after a crashed compact) must
        re-merge, not silently serve a stale output covering the wrong
        runs.  Path equality of direct inputs is NOT enough past wave 0
        — an upstream output re-merged with different content keeps the
        same path — so every step records the union of the leaf sources
        it covers and reuse compares THAT."""
        covers: dict[str, list[str]] = {s: [s] for s in sources}
        wave = 0
        width = min(len(sources), MERGE_MAX_WIDTH)
        while len(sources) > 1 or sources[0].startswith(f"{self.dir}/runs/"):
            groups = [sources[i : i + width] for i in range(0, len(sources), width)]
            nxt = []
            for gi, grp in enumerate(groups):
                out = f"{out_root}/wave{wave}/g{gi}"
                unit = f"{unit_prefix}-w{wave}-g{gi}"
                grp_covers = sorted({c for s in grp for c in covers[s]})
                # one manifest read serves both the completion check and
                # the coverage comparison (object-store round trips)
                prior = self._manifest(unit) or {}
                if (
                    prior.get("status") != "complete"
                    or prior.get("covers") != grp_covers
                ):
                    # one load per root: a multi-path read of sibling
                    # partitioned roots trips CONFLICTING_DIRECTORY_STRUCTURES
                    self._merge_group(
                        _union_frames([
                            self.spark.read.parquet(f"{s}/postings") for s in grp
                        ]),
                        out, unit, inputs=grp, covers=grp_covers,
                    )
                covers[out] = grp_covers
                nxt.append(out)
            sources = nxt
            wave += 1
        return sources[0], wave

    def _shard_partitioned(self, postings: DataFrame) -> DataFrame:
        """Exact shard→partition assignment (round 7): hash-repartition on
        a per-shard PROBE int chosen so ``pmod(hash(probe), n) == shard``
        — every shard whole in its own partition (the balance range
        partitioning gave) with NO per-wave input sampling pass (the
        key domain is fully known; sampling learned nothing).  Shared by
        every full-posting rewrite: merge waves AND generation folds."""
        probes = _shard_probes(self.spark, self.n_shards)
        probe_map = F.create_map(
            *[F.lit(v) for s in range(self.n_shards)
              for v in (s, probes[s])]
        )
        shard = (
            F.col("doc_bucket") * F.lit(self.n_subs) + F.col("doc_sub")
        ).cast("int")
        return postings.repartition(
            self.n_shards, F.element_at(probe_map, shard)
        )

    def _merge_group(
        self, postings: DataFrame, out: str, unit: str, **fields
    ) -> None:
        """One full-posting rewrite — a merge-wave step or a compaction
        fold: repartition-and-sort-within-partitions by shard.

        Output: one file per shard inside its bucket dir, rows sorted by
        (term, docID) — the layout the segment encoder and parquet
        row-group pruning rely on.  ``fields`` (the inputs, the
        transitive leaf source set ``covers``, a fold's ``tomb_fp``) ride
        in the manifest for crash-rerun validation."""
        (
            self._shard_partitioned(postings)
            .sortWithinPartitions("doc_bucket", "doc_sub", "term", "docID")
            .write.mode("overwrite")
            # merge outputs are intermediates too (read once by the next
            # wave or by the set writer) — snappy, same rationale as runs;
            # positional merges take zstd (the terminal one is long-lived
            # and the positions bytes dominate the write volume)
            .option("compression", self._postings_codec())
            .partitionBy("doc_bucket")
            .parquet(f"{out}/postings")
        )
        n, per_bucket = _footer_rows(f"{out}/postings", "doc_bucket", spark=self.spark)
        self._commit(unit, postings_merged=n, postings_per_bucket=per_bucket,
                     **fields)

    # -- stage 3: finalize (stats + segment encode) -------------------------

    def _write_doc_term_stats(
        self, postings: DataFrame, out_root: str
    ) -> tuple[int, int]:
        """Write ``doc_stats`` + ``term_stats`` under ``out_root`` and
        return exact (n_docs, sum_dl) for the posting set.

        doc_stats: (docID, dl) per bucket — the kernel-side dl source.
        Hash repartition, NOT range partitioning: range partitioning
        samples its input, which would run the whole groupBy twice
        (range directly on an unmaterialized aggregate = double agg).
        The key domain is tiny (n_buckets ints), so hash clustering is
        enough to keep file counts bounded per partition dir.
        N / Σdl ride along as observed metrics of the SAME write
        job (no read-back aggregation job)."""
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql import Observation

        obs = Observation("corpus_stats")

        def _write_doc_stats():
            (
                postings.groupBy("doc_bucket", "docID")
                .agg(F.sum("tf").alias("dl"))
                .observe(
                    obs,
                    F.count(F.lit(1)).alias("n"),
                    F.sum("dl").alias("sum_dl"),
                )
                .repartition(self.n_buckets, "doc_bucket")
                .write.mode("overwrite")
                .partitionBy("doc_bucket")
                .parquet(f"{out_root}/doc_stats")
            )

        def _write_term_stats():
            # Global stats: salted df aggregation (hot-term skew defused).
            # Sorted within partitions by term (no extra shuffle — the agg
            # output is already hash-partitioned on term) so query-time df
            # lookups prune parquet row groups via min/max stats.
            ts = term_stats(postings.select("term", "docID", "tf"))
            ts.sortWithinPartitions("term").write.mode("overwrite").parquet(
                f"{out_root}/term_stats"
            )

        # The two stats jobs are independent reads of the same merged
        # postings (different column subsets) — run them CONCURRENTLY so
        # the second job's tasks back-fill the first's straggler tail
        # (guide §2.6); actions were only sequential because this code
        # called them sequentially.
        with ThreadPoolExecutor(max_workers=1) as pool:
            ts_future = pool.submit(_write_term_stats)
            _write_doc_stats()
            ts_future.result()
        row = obs.get
        # observed metrics can over-count under stage resubmission /
        # speculative execution; the parquet footers of the just-written
        # doc_stats are exact and free — cross-check, and recompute with
        # an exact read-back aggregation on mismatch (rare path).
        footer_n, _ = _footer_rows(f"{out_root}/doc_stats", spark=self.spark)
        if footer_n != int(row["n"]):
            row = (
                self.spark.read.parquet(f"{out_root}/doc_stats")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl"))
                .first()
            )
        return int(row["n"]), int(row["sum_dl"] or 0)

    def _write_set(self, postings: str, root: str) -> dict:
        """Write one segment set under ``root`` from the shard-sorted
        merge output at ``postings`` (a dataset dir): doc/term stats,
        then the segment encode, then the footer lineage
        (``root/lineage_segments.json``).  The ONE writer behind the base
        set (:meth:`finalize`), delta generations (:meth:`refresh_delta`)
        and compaction folds (:meth:`compact`); it touches nothing a
        reader sees — the caller then :meth:`_publish`-es.

        Returns the set's counters: ``n_docs``, ``sum_dl``,
        ``postings_merged``, ``segments_built``, ``bytes_compressed``."""
        df = self.spark.read.parquet(postings)
        n_docs, sum_dl = self._write_doc_term_stats(df, root)
        self._encode_segments(df, root)
        lineage = _segment_lineage(f"{root}/segments", spark=self.spark)
        lineage["postings_merged"], _ = _footer_rows(postings, spark=self.spark)
        _atomic_write_json(f"{root}/lineage_segments.json", lineage)
        return {
            "n_docs": n_docs,
            "sum_dl": sum_dl,
            **{k: lineage[k] for k in (
                "postings_merged", "segments_built", "bytes_compressed"
            )},
        }

    def _publish(self, meta: dict, unit: str, **counters) -> None:
        """Commit a write: ``_meta.json`` (atomic tmp+rename — the commit
        point readers flip on), then the unit's manifest (lineage), then
        the ledger fold.  Data always lands before this runs, so a crash
        anywhere earlier leaves readers on the previous meta."""
        _atomic_write_json(f"{self.dir}/_meta.json", meta)
        self._commit(unit, **counters)
        self.fold_ledger()

    @_leased
    def finalize(self, merged_dir: str | None = None) -> None:
        if self._done("finalize"):
            return
        final = [m for m in self.manifests() if m["unit"] == "merged-final"]
        if merged_dir is None:
            if not final:
                raise ValueError("run merge_all() before finalize()")
            merged_dir = final[0]["source"]
        base_runs = final[0].get("runs", []) if final else []
        c = self._write_set(f"{merged_dir}/postings", self.dir)
        meta = {
            "n_docs": c["n_docs"],
            "avgdl": c["sum_dl"] / max(c["n_docs"], 1),
            "sum_dl": c["sum_dl"],
            **self._settings(),
            # positional layout: array<int> riding parquet's native int
            # encodings (a VByte binary packing was measured LARGER —
            # see operators/postings.build_postings); zstd artifacts
            **({"positions_codec": "array"} if self.positions else {}),
            "query_lang": self._majority_lang(set(base_runs) or None),
            "version": 5,
            # the base segment set's own stats: the global ones are base
            # + generations − tombstones (_global_identity)
            "base": {
                "n_docs": c["n_docs"],
                "sum_dl": c["sum_dl"],
                "runs": base_runs,
            },
            "generations": [],
        }
        self._publish(meta, "finalize", **c)

    def _encode_segments(self, postings: DataFrame, root: str) -> None:
        """Segment encode straight off a merge output into
        ``root/segments``: each (shard, term) run of the scan's
        within-file (shard, term, docID) order becomes one row of
        ``docs`` / ``tfs`` arrays.  No join and no shuffle touch the
        posting stream."""

        def run_starts(pdf: pd.DataFrame) -> np.ndarray:
            """Row offsets where a (shard, term) run begins."""
            bk, sub, term = (
                pdf[c].to_numpy() for c in ("doc_bucket", "doc_sub", "term")
            )
            change = (
                (bk[1:] != bk[:-1]) | (sub[1:] != sub[:-1]) | (term[1:] != term[:-1])
            )
            return np.concatenate(([0], np.flatnonzero(change) + 1))

        def segment_rows(pdf: pd.DataFrame, bounds: np.ndarray) -> pd.DataFrame:
            """One segment row per run ``pdf[bounds[i]:bounds[i + 1]]``."""
            head = pdf.iloc[bounds[:-1]]
            end, cuts = bounds[-1], bounds[1:-1]
            return pd.DataFrame({
                "doc_bucket": head["doc_bucket"].to_numpy(),
                "doc_sub": head["doc_sub"].to_numpy(),
                "term": head["term"].to_numpy(),
                "docs": np.split(pdf["docID"].to_numpy()[:end].astype(np.int64), cuts),
                "tfs": np.split(pdf["tf"].to_numpy()[:end].astype(np.int32), cuts),
            })

        def encode_stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            carry: pd.DataFrame | None = None
            for pdf in batches:
                if carry is not None:
                    pdf = pd.concat([carry, pdf], ignore_index=True)
                if len(pdf) == 0:
                    continue
                starts = run_starts(pdf)
                # a batch boundary can split a run: the batch's last run
                # waits for the next batch
                carry = pdf.iloc[starts[-1]:]
                if len(starts) > 1:
                    yield segment_rows(pdf, starts)
            if carry is not None:
                yield segment_rows(carry, np.array([0, len(carry)]))

        segments = self._encode_input(postings).mapInPandas(
            encode_stream, schema=SEGMENT_SCHEMA
        )
        (
            segments.write.mode("overwrite")
            .partitionBy("doc_bucket")
            .parquet(f"{root}/segments")
        )

    def _encode_input(self, postings: DataFrame) -> DataFrame:
        """The segment encoder's input: a pure projection of the merged
        postings — no join, no exchange.  Factored out so the plan test
        can pin that no BroadcastExchange (e.g. of the full vocabulary)
        ever enters the encode stage."""
        return postings.select("doc_bucket", "doc_sub", "term", "docID", "tf")

    # -- convenience --------------------------------------------------------

    def docs_dim(self) -> DataFrame:
        """(docID, repo, path, commit, lang, content_sha) — the LIVE doc
        dimension: a virtual union of the runs' doc tables (no physical
        rewrite), dead copies resolved away when deletes exist.

        Fast path (no deletes ever): one multi-path scan, zero shuffle —
        unchanged from before deletes existed.  With live tombstones or
        a graveyard, only the CONTESTED docIDs (those with any dead
        copy — O(deletes), broadcastable) leave the flat scan: their
        rows gain run provenance via ``input_file_name()``, the newest
        copy wins (runs ordered by manifest commit time — a resurrected
        doc's live copy is its most recent admission), and fully-dead
        docIDs (#copies == #dead markers+graveyard entries) drop out
        entirely.  The clean slice never shuffles; the window runs over
        the tiny contested slice only."""
        from pyspark.sql import Window

        runs = [m for m in self.manifests() if m["unit"].startswith("run-")]
        flat = self._read_plain(
            [f"{self.dir}/runs/{m['run_id']}/docs" for m in runs]
        )
        tomb = (
            load_tombstone_pairs(self.spark, self.dir, self.meta())
            if fsio.exists(f"{self.dir}/_meta.json")
            else None
        )
        grave = self._graveyard_ids()
        if tomb is None and grave is None:
            return flat
        dead = _union_frames([
            f for f in (
                tomb.select("docID") if tomb is not None else None, grave
            ) if f is not None
        ])
        dead_ids = dead.distinct()
        clean = flat.join(F.broadcast(dead_ids), "docID", "left_anti")
        seq_df = self.spark.createDataFrame(
            [
                (m["run_id"], i)
                for i, m in enumerate(
                    sorted(runs, key=lambda m: (m.get("ts", 0.0), m["run_id"]))
                )
            ],
            "_run string, _seq int",
        )
        dead_counts = dead.groupBy("docID").agg(
            F.count(F.lit(1)).alias("_n_dead")
        )
        # provenance BEFORE any join: input_file_name() resolves only
        # while the plan has a single file source (the multi-path flat
        # scan is one relation; a join would add the tombstone one)
        tagged = flat.withColumn(
            "_run",
            F.regexp_extract(F.input_file_name(), r"runs/([^/]+)/docs", 1),
        )
        contested = (
            tagged.join(F.broadcast(dead_ids), "docID", "left_semi")
            .join(F.broadcast(seq_df), "_run")
        )
        w_new = Window.partitionBy("docID").orderBy(F.col("_seq").desc())
        newest = (
            contested.withColumn("_rn", F.row_number().over(w_new))
            .withColumn(
                "_n_copies", F.count(F.lit(1)).over(Window.partitionBy("docID"))
            )
            .filter(F.col("_rn") == 1)
            .join(F.broadcast(dead_counts), "docID")
            .filter(F.col("_n_copies") > F.col("_n_dead"))
            .drop("_run", "_seq", "_rn", "_n_copies", "_n_dead")
        )
        return clean.unionByName(newest)

    def build(self, corpus: DataFrame, dedup_within_run: bool = True) -> None:
        """Full build: :meth:`add_run` as ``run00000`` → :meth:`merge_all`
        → :meth:`finalize`.  Every step is manifest-guarded, so a rerun
        after a crash resumes from the first unfinished one."""
        self.add_run(corpus, "run00000", dedup_within_run)
        self.merge_all()
        self.finalize()

    def meta(self) -> dict:
        return fsio.read_json(f"{self.dir}/_meta.json")

    # -- doc-level deletes (tombstone sets, O(tombstone) not O(corpus)) ------

    def _next_del_id(self) -> str:
        """Monotonic delete-set id across meta AND manifests (a crashed
        delete may have committed either side first)."""
        ids = [t["id"] for t in self.meta().get("tombstones", [])] if fsio.exists(
            f"{self.dir}/_meta.json"
        ) else []
        ids += [
            m["del_id"] for m in self.manifests()
            if m["unit"].startswith("delete-") and "del_id" in m
        ]
        nums = [int(i[3:]) for i in ids if i.startswith("del")]
        return f"del{max(nums, default=0) + 1:04d}"

    def _live_roots(self) -> list[tuple[str, str, str | None]]:
        """(root_id, root_dir, merged_postings_dir) for the base set and
        every committed generation — the physical homes a document can
        live in."""
        meta = self.meta()
        final = [m for m in self.manifests() if m["unit"] == "merged-final"]
        base_src = f"{final[0]['source']}/postings" if final else None
        out = [("base", self.dir, base_src)]
        for g in meta.get("generations", []):
            src = g.get("merged_source")
            out.append(
                (g["id"], f"{self.dir}/generations/{g['id']}",
                 f"{src}/postings" if src else None)
            )
        return out

    @_leased
    def delete_docs(self, victims: DataFrame, neardup_store=None) -> str | None:
        """O(delta) doc-level delete: record ``victims``' docIDs as a
        TOMBSTONE set — no segment is rewritten, no rebuild happens.

        The reference deletes one source with a cascade DELETE
        (``/root/reference/db/db_manager.py:145-165``); at segment-index
        scale the LSM answer is a delete marker:

        * ``tombstones/<id>/docs`` — (docID, dl), partitioned by the
          physical root (base / generation id) holding the doc and by
          ``doc_bucket``: the WAND kernel excludes these docIDs with a
          bucket-local read (same pattern as doc_stats), and compaction
          can drop a root's markers the moment that root's postings are
          physically rewritten without them.
        * ``tombstones/<id>/term_stats_neg`` — per-(root, term) df
          corrections, aggregated from ONE scan of the merged postings
          restricted (broadcast semi-join) to the victim docIDs — the
          only corpus-wide read a delete pays; everything else is
          O(victims).  Query-time df sums base + generation deltas MINUS
          these (lazily, under the query's term filter — no O(vocab)
          job), so idf is exactly the surviving corpus's.
        * ``_meta.json`` — global N / Σdl / avgdl updated to the exact
          surviving values (the commit point readers flip on).

        Queries after this return results rank-identical to a full
        rebuild without the victims.  Dead copies stay excluded until
        physically reclaimed (compaction rewrites generation roots
        without them; the base set drops them at the next full rebuild).
        Markers are ROOT-scoped ("the copy in this root is dead", never
        "this docID is dead"), so a tombstoned docID may later be
        RE-INGESTED: the ingest gate admits it once every past copy is
        dead, the new copy lands in a newer root no marker covers, and
        the kernel's per-root exclusion plus newest-root-wins doc stats
        make it visible again (resurrection — no rebuild, no special
        casing).

        ``victims``: any DataFrame with a ``docID`` column.  Returns the
        new delete-set id, or ``None`` when no victim is actually live
        in the index."""
        if not self._done("finalize"):
            raise ValueError("delete_docs requires a finalized index")
        self._check_meta_compat()
        did = self._next_del_id()
        unit = f"delete-{did}"
        if self._done(unit):
            return did
        roots = self._live_roots()
        ds = _union_frames([
            self.spark.read.parquet(f"{rdir}/doc_stats")
            .select("docID", "dl", "doc_bucket")
            .withColumn("root", F.lit(rid))
            for rid, rdir, _src in roots
        ])
        vic_ids = victims.select("docID").distinct()
        meta = self.meta()
        prior = meta.get("tombstones", [])
        vic = ds.join(vic_ids, "docID")
        if prior:
            # already-deleted COPIES must not subtract twice — the guard
            # is (docID, root)-scoped: after a resurrection the same
            # docID has a dead copy (marked root) and a live one (newer
            # root), and a re-delete must mark only the live copy
            tomb_prior = load_tombstone_pairs(self.spark, self.dir, meta)
            if tomb_prior is not None:
                vic = vic.join(
                    F.broadcast(tomb_prior), ["docID", "root"], "left_anti"
                )
        troot = f"{self.dir}/tombstones/{did}"
        from pyspark import StorageLevel

        # persist: the per-root aggregation AND the physical write read
        # the same joined frame — without it the doc_stats scan + joins
        # run twice.  Aggregate FIRST: an all-dup victim set must no-op
        # (an empty partitioned write leaves an unreadable dataset).
        vic = vic.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            per_root_rows = (
                vic.groupBy("root")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
                .collect()
            )
            per_root = {
                r["root"]: {"n_docs": int(r["n"]), "sum_dl": int(r["s"] or 0)}
                for r in per_root_rows
            }
            n_vic = sum(v["n_docs"] for v in per_root.values())
            if n_vic == 0:
                return None
            sum_vic = sum(v["sum_dl"] for v in per_root.values())

            def _write_tombstone_docs():
                (
                    vic.repartition("root")
                    .sortWithinPartitions("doc_bucket", "docID")
                    .write.mode("overwrite")
                    .partitionBy("root", "doc_bucket")
                    .parquet(f"{troot}/docs")
                )

            def _write_df_corrections():
                # per-(root, term) df corrections from one pass over the
                # merged postings; the victim side is the PERSISTED frame
                # (already materialized by the accounting collect — no
                # read-back of the docs write, no recompute), broadcast
                # when small (the common delete), else AQE's choice
                vic_keys = vic.select("docID", "root")
                if n_vic <= self.broadcast_seen_max:
                    vic_keys = F.broadcast(vic_keys)
                posts = _union_frames([
                    self.spark.read.parquet(src)
                    .select("term", "docID")
                    .withColumn("root", F.lit(rid))
                    for rid, _rdir, src in roots
                    if src is not None
                ])
                (
                    posts.join(vic_keys, ["docID", "root"])
                    .groupBy("root", "term")
                    .agg(F.count(F.lit(1)).alias("df_neg"))
                    .repartition("root")
                    .sortWithinPartitions("term")
                    .write.mode("overwrite")
                    .partitionBy("root")
                    .parquet(f"{troot}/term_stats_neg")
                )

            # the two writes are independent jobs over the cached victim
            # frame — overlap them (guide §2.6); both must land before
            # the meta commit flips readers to the new tombstone set
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=1) as pool:
                docs_future = pool.submit(_write_tombstone_docs)
                _write_df_corrections()
                docs_future.result()
        finally:
            vic.unpersist()

        # commit point: meta flips readers to the corrected stats +
        # tombstone list atomically; the manifest is lineage
        meta = self.meta()
        tombs = [t for t in meta.get("tombstones", []) if t["id"] != did]
        tombs.append(
            {"id": did, "per_root": per_root,
             "n_docs": n_vic, "sum_dl": sum_vic}
        )
        g_n = int(meta["n_docs"]) - n_vic
        g_sum = int(meta["sum_dl"]) - sum_vic
        meta.update(
            n_docs=g_n,
            sum_dl=g_sum,
            avgdl=g_sum / max(g_n, 1),
            tombstones=tombs,
        )
        self._publish(
            meta, unit, del_id=did, n_docs=n_vic, sum_dl=sum_vic,
            per_root=per_root,
        )
        if neardup_store is not None:
            # disable the victims' near-dup signatures too: content
            # similar to a deleted doc must not be gated against it
            # (idempotent — forget() unions into the current set)
            neardup_store.forget(
                self.spark.read.parquet(f"{troot}/docs").select("docID")
            )
        return did

    def fsck(self, deep: bool = False) -> dict:
        """Index integrity audit — footer-counter and lineage checks;
        everything in the DEFAULT mode is driver-side footer/manifest
        reads, no full-data Spark job (the reference's integrity surface
        is SQLite's implicit constraints; a file-based index needs an
        explicit auditor).  ``deep=True`` adds the positional-integrity
        check on ``positions=True`` indexes, which IS an O(corpus) Spark
        aggregation over every live root's merged postings — run it
        deliberately, not routinely.  Verifies:

        * the global stats identity  n_docs = base + Σgenerations −
          Σtombstones  (and sum_dl / avgdl consistency),
        * doc_stats footer row counts match every root's recorded
          n_docs (pre-delete encode counts),
        * every root's segments / doc_stats / term_stats dirs exist and
          every generation's ``merged_source`` survives (the exact
          oracle and the next compaction read it),
        * every tombstone's per-root docs partitions exist with footer
          counts matching the recorded per-root accounting,
        * every run manifest's run is covered by committed lineage or
          still pending (pending is not an error — it folds at the next
          refresh), and runs GC'd by :meth:`gc_runs` are only ever
          covered ones.

        Returns ``{"ok": bool, "checks": {name: {"ok", "detail"}}}``."""
        checks: dict[str, dict] = {}

        def rec(name: str, ok: bool, detail: str = "") -> None:
            checks[name] = {"ok": bool(ok), "detail": detail}

        if not fsio.exists(f"{self.dir}/_meta.json"):
            rec("meta", False, "no _meta.json (index not finalized)")
            return {"ok": False, "checks": checks}
        meta = self.meta()
        gens = meta.get("generations", [])
        tombs = meta.get("tombstones", [])
        exp_n, exp_sum = _global_identity(meta, gens)
        rec(
            "stats_identity",
            meta["n_docs"] == exp_n and meta["sum_dl"] == exp_sum
            and abs(meta["avgdl"] - exp_sum / max(exp_n, 1)) < 1e-6,
            f"n_docs={meta['n_docs']} expected={exp_n}; "
            f"sum_dl={meta['sum_dl']} expected={exp_sum}",
        )

        roots = [("base", self.dir, int(meta["base"]["n_docs"]))] + [
            (g["id"], f"{self.dir}/generations/{g['id']}", int(g["n_docs"]))
            for g in gens
        ]
        for rid, rdir, n_enc in roots:
            missing = [
                sub for sub in ("segments", "doc_stats", "term_stats")
                if not fsio.exists(f"{rdir}/{sub}")
            ]
            if missing:
                rec(f"root_{rid}", False, f"missing {missing}")
                continue
            got, _ = _footer_rows(f"{rdir}/doc_stats", spark=self.spark)
            rec(
                f"root_{rid}", got == n_enc,
                f"doc_stats rows {got} vs recorded {n_enc}",
            )
        for g in gens:
            src = g.get("merged_source")
            rec(
                f"merged_source_{g['id']}",
                bool(src) and fsio.exists(f"{src}/postings"),
                str(src),
            )

        for t in tombs:
            bad = []
            for rid, v in t.get("per_root", {}).items():
                p = f"{self.dir}/tombstones/{t['id']}/docs/root={rid}"
                if not fsio.exists(p):
                    bad.append(f"{rid}: dir missing")
                    continue
                got, _ = _footer_rows(p, spark=self.spark)
                if got != int(v["n_docs"]):
                    bad.append(f"{rid}: rows {got} vs {v['n_docs']}")
            rec(f"tombstone_{t['id']}", not bad, "; ".join(bad))

        gy_root = f"{self.dir}/graveyard"
        if fsio.exists(gy_root):
            # resurrection ledger: every LIVE (meta-listed) graveyard
            # fold set must stay readable and non-empty — the ingest
            # gate's copy accounting reads them forever.  Unlisted dirs
            # are swept rollup leftovers (pending gc / crashed fold) —
            # reported, never an error.  (No manifest cross-check:
            # graveyard sets deliberately outlive their compaction
            # generation's manifest.)
            live = self._graveyard_dirs()
            live_names = {d.rsplit("/", 1)[1] for d in live}
            orphans = sorted(
                d for d in fsio.listdir(gy_root) if d not in live_names
            )
            bad = []
            for path in sorted(live):
                dname = path.rsplit("/", 1)[1]
                try:
                    got, _ = _footer_rows(path, spark=self.spark)
                except Exception as exc:
                    bad.append(f"{dname}: unreadable ({exc})")
                    continue
                if got <= 0:
                    bad.append(f"{dname}: empty")
            rec(
                "graveyard", not bad,
                "; ".join(bad)
                or f"{len(live)} live fold sets"
                + (f"; {len(orphans)} swept leftovers pending gc"
                   if orphans else ""),
            )

        covered = self._covered_runs()
        run_ms = [m for m in self.manifests() if m["unit"].startswith("run-")]
        pending = sorted(m["run_id"] for m in run_ms
                         if m["run_id"] not in covered)
        gc_orphans = sorted(
            m["run_id"] for m in run_ms
            if m["run_id"] not in covered
            and not fsio.exists(f"{self.dir}/runs/{m['run_id']}/postings")
        )
        rec(
            "runs", not gc_orphans,
            f"pending(uncovered)={pending}; "
            f"uncovered-with-GCed-postings={gc_orphans}",
        )
        final = [m for m in self.manifests() if m["unit"] == "merged-final"]
        rec(
            "merged_final",
            bool(final) and "runs" in final[0]
            and fsio.exists(f"{final[0]['source']}/postings"),
            final[0].get("source", "missing") if final else "missing",
        )

        if deep and meta.get("positions", False) and final:
            # positional integrity (deep-only: O(corpus) scan per root):
            # every live root's merged postings must carry the positions
            # column with Σ size(positions) == Σ tf — a root whose
            # positions were lost (e.g. a mixed-settings writer) would
            # leave phrase search silently blind/wrong
            srcs = [("base", f"{final[0]['source']}/postings")] + [
                (g["id"], f"{g['merged_source']}/postings")
                for g in gens if g.get("merged_source")
            ]
            bad = []
            for rid, src in srcs:
                df = self.spark.read.parquet(src)
                if "positions" not in df.columns:
                    bad.append(f"{rid}: no positions column")
                    continue
                row = df.agg(
                    F.sum("tf").alias("t"),
                    F.sum(F.size("positions")).alias("p"),
                ).first()
                if int(row["t"] or 0) != int(row["p"] or 0):
                    bad.append(
                        f"{rid}: Σtf={row['t']} vs Σ|positions|={row['p']}"
                    )
            rec("positions_integrity", not bad, "; ".join(bad))

        return {"ok": all(c["ok"] for c in checks.values()), "checks": checks}

    def delete_matching(self, condition, neardup_store=None) -> str | None:
        """Delete every doc of :meth:`docs_dim` satisfying ``condition``
        (a Column / SQL string) — the reference's ``purge_source``
        analog (delete one repo / path prefix / source) without a
        rebuild.  ``neardup_store``: also :meth:`~docinsight_spark.index.
        neardup.NearDupStore.forget` the victims' signatures, so new
        content near-duplicating a deleted doc is no longer gated."""
        return self.delete_docs(
            self.docs_dim().filter(condition).select("docID"),
            neardup_store=neardup_store,
        )

    # -- incremental generations (O(delta) refresh + compaction) -------------

    @_leased
    def refresh_delta(self) -> str | None:
        """O(delta) incremental refresh: fold runs not yet covered by the
        base index or an existing generation into a NEW segment
        generation — only the delta is merged and encoded; the base
        segments are never rewritten.

        The reference's incremental update
        (``/root/reference/index/index_manager.py:124-201``) embeds and
        indexes only chunks ``WHERE embedding IS NULL``; this is the
        segment-generation analog.  Correctness under corpus growth:
        global (N, avgdl, df) are maintained exactly in ``_meta.json`` /
        via :func:`load_term_stats`, so exact scores never drift, and
        older sets never go stale: segments hold postings only, and the
        query kernel computes its bounds under the CURRENT stats.

        Commit protocol: merge waves → :meth:`_write_set` (generation
        dirs) → :meth:`_publish` (``_meta.json`` update, the commit point
        readers see → generation manifest → ledger fold).  Every
        step is idempotent; a rerun after any crash converges without
        double-counting.  Returns the new generation id, ``"base"`` for
        an initial build, or ``None`` when no new runs exist."""
        if not self._done("merged-final"):
            self.merge_all()
            self.finalize()
            return "base"
        if not self._done("finalize"):
            self.finalize()
        self._check_meta_compat()
        runs = sorted(
            m["run_id"] for m in self.manifests() if m["unit"].startswith("run-")
        )
        covered = self._covered_runs()  # once — not per run (O(runs²) I/O)
        new = [r for r in runs if r not in covered]
        if not new:
            return None
        gid = self._next_gen_id()
        groot = f"{self.dir}/generations/{gid}"
        src, _ = self._merge_waves(
            [f"{self.dir}/runs/{r}" for r in new],
            f"{groot}/merged", f"genmerge-{gid}",
        )
        n_rows, _ = _footer_rows(f"{src}/postings", spark=self.spark)
        if n_rows == 0:
            # delta fully deduplicated away: record coverage, keep no dirs
            fsio.rmtree(groot)
            self._commit(
                f"generation-{gid}", gen_id=gid, runs=new, empty=True, n_docs=0
            )
            self.fold_ledger()
            return gid
        meta = self.meta()
        gens = [g for g in meta.get("generations", []) if g["id"] != gid]
        c = self._write_set(f"{src}/postings", groot)
        gens.append(_gen_entry(gid, c, new, src))
        g_n, g_sum = _global_identity(meta, gens)
        covered_ids = set(meta["base"].get("runs", [])) | {
            r for g in gens for r in g["runs"]
        }
        meta.update(
            n_docs=g_n,
            avgdl=g_sum / max(g_n, 1),
            sum_dl=g_sum,
            generations=gens,
            query_lang=self._majority_lang(covered_ids or None),
        )
        self._publish(meta, f"generation-{gid}", gen_id=gid, runs=new, **c)
        return gid

    @_leased
    def compact(
        self,
        max_generations: int = 8,
        force: bool = False,
        delete_victims: bool = True,
    ) -> str | None:
        """Size-tiered generation compaction.

        Triggers when the generation count exceeds ``max_generations``
        (query-side segment-set fan-out), or on ``force``.  Victims: the
        smallest generations (by Σdl) until at most
        ``max_generations // 2`` survive (every generation on ``force``).

        The fold is ONE :meth:`_merge_group` pass over the victims'
        ``merged_source`` outputs — few, large, already shard-sorted
        inputs — NOT the original run dirs: a generation covering many
        streaming micro-batch runs folds in one balanced pass, and
        covered runs' postings become dead storage reclaimable by
        :meth:`gc_runs` (L0 GC).  The fold's manifest records the victim
        sources and a fingerprint of their tombstone state; a rerun
        re-folds when either changed.  The new generation is then written
        by :meth:`_write_set` and committed by :meth:`_publish`; victims
        are reclaimed after that commit (or tombstoned for
        :meth:`gc_generations`).  Tombstoned docs whose home root is a
        victim are dropped from the merge — compaction is the PHYSICAL
        reclaim of doc-level deletes: the new generation's
        postings/stats/segments exclude them, and the
        tombstone entries shrink (or disappear) in the same atomic
        ``_meta.json`` commit, so df corrections never double-apply.
        The base segment set only rewrites on an explicit full rebuild.
        Returns the new generation id or ``None`` when nothing
        triggered."""
        self._check_meta_compat()
        meta = self.meta()
        gens = meta.get("generations", [])
        if not gens:
            return None
        if not force and len(gens) <= max_generations:
            return None
        if force:
            victims = {g["id"] for g in gens}
        else:
            victims = set()
            keep_budget = max(max_generations // 2, 0)
            for g in sorted(gens, key=lambda g: g["sum_dl"]):
                if len(gens) - len(victims) <= keep_budget and len(victims) >= 2:
                    break
                victims.add(g["id"])
            if len(victims) < 2:
                return None
        vruns = sorted(
            r for g in gens if g["id"] in victims for r in g["runs"]
        )
        vpairs = sorted(
            (g["merged_source"], g["id"]) for g in gens if g["id"] in victims
        )
        vsrcs = [s for s, _gid in vpairs]
        gid = self._next_gen_id()
        groot = f"{self.dir}/generations/{gid}"
        src = f"{groot}/merged/fold"
        unit = f"genmerge-{gid}-fold"
        prior = self._manifest(unit) or {}
        # Fold-resume guard: covers==vsrcs alone is NOT enough — the fold
        # also baked in the tombstone state it excluded.  If a compact
        # crashed after committing this fold and delete_docs then marked
        # docs in a victim root, a resume reusing the stale fold would
        # carry the new victims' postings into the new generation while
        # the meta commit below drops their markers — silent
        # resurrection of just-deleted docs.  Fingerprint the victim
        # roots' tombstone state and re-fold when it differs.
        tomb_fp = sorted(
            [t["id"], rid, int(v["n_docs"])]
            for t in meta.get("tombstones", [])
            for rid, v in t.get("per_root", {}).items()
            if rid in victims
        )
        if (
            prior.get("status") != "complete"
            or prior.get("covers") != vsrcs
            or prior.get("tomb_fp", []) != tomb_fp
        ):
            postings_in = _union_frames([
                self.spark.read.parquet(f"{s}/postings")
                .withColumn("_vroot", F.lit(gid_v))
                for s, gid_v in vpairs
            ])
            tomb = self._tombstone_docs_for_roots(victims)
            if tomb is not None:
                # physical delete reclaim: victims' tombstoned COPIES do
                # not enter the new generation (tombstone sets are small
                # relative to the corpus — broadcast anti-join).  The
                # join is (docID, root)-scoped: when a dead copy and its
                # resurrected live copy fold in the same pass, a
                # docID-only anti-join would drop both.
                postings_in = postings_in.join(
                    F.broadcast(tomb.withColumnRenamed("root", "_vroot")),
                    ["docID", "_vroot"],
                    "left_anti",
                )
            self._merge_group(
                postings_in.drop("_vroot"), src, unit,
                inputs=vsrcs, covers=vsrcs, tomb_fp=tomb_fp,
            )
        survivors = [g for g in gens if g["id"] not in victims]
        empty_fold = (
            int((self._manifest(unit) or {}).get("postings_merged", 0)) == 0
        )
        if empty_fold:
            # every folded doc was tombstoned (e.g. a generation holding
            # only deleted docs): no new generation at all — an empty
            # partitioned write is unreadable, and an empty root would
            # be dead weight.  The victims' stats and their markers
            # cancel exactly (each marked copy contributed +1 to its
            # generation and −1 to a tombstone), so dropping both sides
            # together preserves the global identity.  The generation
            # manifest below still records vruns as covered.
            c = {"n_docs": 0, "sum_dl": 0,
                 "segments_built": 0, "bytes_compressed": 0, "empty": True}
        else:
            c = self._write_set(f"{src}/postings", groot)
            survivors.append(_gen_entry(gid, c, vruns, src))
        # Shrink tombstones in the SAME meta commit as the generation
        # swap: the new generation's stats already exclude the reclaimed
        # docs, so their df/N corrections must stop applying atomically
        # (a reader seeing one without the other would double-subtract).
        new_tombs, tomb_cleanup = [], []
        for t in meta.get("tombstones", []):
            kept = {
                rid: v for rid, v in t.get("per_root", {}).items()
                if rid not in victims
            }
            tomb_cleanup += [
                f"{self.dir}/tombstones/{t['id']}/docs/root={rid}"
                for rid in t.get("per_root", {})
                if rid in victims
            ] + [
                f"{self.dir}/tombstones/{t['id']}/term_stats_neg/root={rid}"
                for rid in t.get("per_root", {})
                if rid in victims
            ]
            if kept:
                new_tombs.append(
                    {
                        "id": t["id"],
                        "per_root": kept,
                        "n_docs": sum(v["n_docs"] for v in kept.values()),
                        "sum_dl": sum(v["sum_dl"] for v in kept.values()),
                    }
                )
            else:
                tomb_cleanup.append(f"{self.dir}/tombstones/{t['id']}")
        # Resurrection ledger: markers this fold physically reclaims
        # move to the graveyard BEFORE the meta swap drops them — the
        # ingest gate's copy accounting (a docID may be re-ingested iff
        # every past copy is dead) keeps counting these copies after
        # their markers disappear, because the covered runs' doc rows
        # that recorded them are never rewritten.  Overwrite-idempotent
        # per fold id; a crash between this write and the meta commit
        # double-counts the copies (marker + graveyard) — benign: the
        # gate may then admit a re-ingest early, but the still-live
        # marker keeps the old copy invisible and the retried fold
        # converges the accounting.
        grave = self._tombstone_docs_for_roots(victims)
        gy_live = [d.rsplit("/", 1)[1] for d in self._graveyard_dirs()]
        gy_stale: list[str] = []
        if grave is not None:
            grave.select("docID").write.mode("overwrite").parquet(
                f"{self.dir}/graveyard/{gid}"
            )
            gy_live = sorted(set(gy_live) | {gid})
        if len(gy_live) > GRAVEYARD_FOLD_MIN:
            # graveyard rollup: consolidate the fold sets into ONE dir
            # (row multiplicity preserved — copy accounting needs it),
            # committed by the same meta flip as the generation swap.
            # The superseded dirs are swept AFTER the commit (inline or
            # via the gc grace protocol, matching delete_victims); a
            # crash in between leaves them orphaned-but-unlisted, which
            # the next rollup sweeps.
            fold_id = f"fold{gid[3:]}-{uuid.uuid4().hex[:8]}"
            self._read_plain(
                [f"{self.dir}/graveyard/{d}" for d in gy_live]
            ).select("docID").write.mode("overwrite").parquet(
                f"{self.dir}/graveyard/{fold_id}"
            )
            gy_stale = gy_live
            gy_live = [fold_id]
        # same docs, same global stats — generation list, tombstone
        # coverage and the graveyard fold-set list change together
        meta.update(
            generations=survivors, tombstones=new_tombs, graveyard=gy_live
        )
        self._publish(
            meta, f"generation-{gid}", gen_id=gid, runs=vruns,
            compacted_from=sorted(victims), **c,
        )
        if empty_fold:
            # remove the (unreadable) empty fold output after the commit
            fsio.rmtree(groot)
        # Victims are unreferenced once meta points away — reclaim.
        # ``delete_victims=False`` defers reclamation: meta-read →
        # file-scan is not atomic even in-process, so a query that
        # loaded the OLD meta can still be mid-scan on a victim when
        # this returns.  Concurrent-reader deployments (including the
        # continuous streaming mode) write a tombstone instead and let
        # :meth:`gc_generations` delete after a grace period.
        gy_stale_paths = [f"{self.dir}/graveyard/{d}" for d in gy_stale]
        if delete_victims:
            for vid in victims:
                self._reclaim_generation(vid)
            for p in tomb_cleanup + gy_stale_paths:
                fsio.rmtree(p)
        else:
            for vid in victims:
                _atomic_write_json(
                    self._mpath(f"gc-{vid}"),
                    {"unit": f"gc-{vid}", "status": "complete",
                     "gen_id": vid, "ts": time.time()},
                )
            if tomb_cleanup or gy_stale_paths:
                # reclaimed tombstone partitions and superseded graveyard
                # fold sets get the same deferred treatment as victim
                # generations: a reader on the OLD meta still reads them
                # mid-scan
                _atomic_write_json(
                    self._mpath(f"gc-{gid}-tombs"),
                    {"unit": f"gc-{gid}-tombs", "status": "complete",
                     "paths": tomb_cleanup + gy_stale_paths,
                     "ts": time.time()},
                )
        return gid

    def _tombstone_docs_for_roots(self, roots: set[str]) -> DataFrame | None:
        """(docID, root) of every live tombstone marker whose root is in
        ``roots`` (the compaction victims) — the copies physical reclaim
        drops from the fold."""
        frames = []
        for t in self.meta().get("tombstones", []):
            hit = [r for r in t.get("per_root", {}) if r in roots]
            if not hit:
                continue
            frames.append(
                self.spark.read.parquet(
                    f"{self.dir}/tombstones/{t['id']}/docs"
                )
                .filter(F.col("root").isin(hit))
                .select("docID", "root")
            )
        return _union_frames(frames) if frames else None

    @_leased
    def gc_runs(self) -> list[str]:
        """Reclaim covered runs' POSTINGS (the heavy L0 artifact).

        A run's postings are read exactly once — by the merge wave that
        folds it into the base or a generation; compaction reads the
        victims' ``merged_source`` outputs, never raw runs.  Once a run
        is covered by committed lineage its postings are dead weight
        (L0 storage amplification under continuous ingest).  The runs'
        ``docs`` tables are KEPT — the cross-run dedup gate and
        :meth:`docs_dim` read them forever.  After this, a from-runs
        full rebuild (``purge_run`` → ``merge_all``) requires
        re-ingesting the affected slices; the incremental paths
        (refresh / compact / delete) are unaffected.  Returns the run
        ids whose postings were reclaimed."""
        covered = self._covered_runs()
        removed = []
        for m in self.manifests():
            if not m["unit"].startswith("run-"):
                continue
            rid = m["run_id"]
            p = f"{self.dir}/runs/{rid}/postings"
            if rid in covered and fsio.exists(p):
                fsio.rmtree(p)
                removed.append(rid)
        return sorted(removed)

    def _reclaim_generation(self, vid: str) -> None:
        fsio.rmtree(f"{self.dir}/generations/{vid}")
        for fn in fsio.listdir(f"{self.dir}/manifests"):
            if fn == f"generation-{vid}.json" or fn.startswith(
                f"genmerge-{vid}-"
            ):
                fsio.remove(f"{self.dir}/manifests/{fn}")
        _ledger_strip(
            self.dir,
            lambda u: u == f"generation-{vid}"
            or u.startswith(f"genmerge-{vid}-"),
        )

    @_leased
    def gc_generations(self, grace_sec: float = 600.0) -> list[str]:
        """Delete compaction victims whose tombstone (written by
        ``compact(delete_victims=False)``) is older than ``grace_sec`` —
        by then any reader that loaded the pre-compaction meta has
        finished its scan.  Returns the reclaimed generation ids.

        ``grace_sec`` is a *contract with readers*, judged purely by the
        writer's wall clock against the tombstone timestamp: it MUST
        exceed the worst-case query scan time (plus any writer/reader
        clock skew on shared or object storage — victims written by
        another host carry that host's clock).  A reader whose scan
        outlives the grace can still lose a generation mid-scan; there
        is deliberately no reader registration/refcount (an object
        store has no cheap primitive for it).  Deployments with long
        analytical scans should size grace_sec in hours, not minutes —
        deferred reclamation only costs storage."""
        removed = []
        now = time.time()
        for fn in list(fsio.listdir(f"{self.dir}/manifests")):
            if not (fn.startswith("gc-") and fn.endswith(".json")):
                continue
            m = fsio.read_json(f"{self.dir}/manifests/{fn}")
            if now - float(m.get("ts", 0)) < grace_sec:
                continue
            if "gen_id" in m:
                vid = m["gen_id"]
                self._reclaim_generation(vid)
                removed.append(vid)
            # physically-reclaimed tombstone partitions (compact wrote
            # the paths; they stopped applying at the meta commit)
            for p in m.get("paths", []):
                fsio.rmtree(p)
            fsio.remove(f"{self.dir}/manifests/{fn}")
        return removed


def _global_identity(meta: dict, gens: list[dict]) -> tuple[int, int]:
    """The global (n_docs, sum_dl): base + Σ``gens`` − Σlive tombstones.
    Per-set counts are PRE-delete encode counts; deletions are carried
    by the tombstone entries until compaction physically reclaims them."""
    tombs = meta.get("tombstones", [])
    return tuple(
        int(meta["base"][k]) + sum(int(g[k]) for g in gens)
        - sum(int(t[k]) for t in tombs)
        for k in ("n_docs", "sum_dl")
    )


def _gen_entry(gid: str, counters: dict, runs: list[str], src: str) -> dict:
    """A ``_meta.json`` generation entry from :meth:`IndexBuilder._write_set`
    counters."""
    return {
        "id": gid,
        **{k: counters[k] for k in ("n_docs", "sum_dl")},
        "runs": runs,
        "merged_source": src,
    }


# -- generation-aware readers (query side) ----------------------------------


def doc_stats_roots(index_dir: str, meta: dict) -> list[str]:
    """Roots whose ``doc_stats/doc_bucket=*`` dirs hold the corpus's doc
    lengths: the base index dir + every committed generation dir."""
    return [index_dir] + [
        f"{index_dir}/generations/{g['id']}"
        for g in meta.get("generations", [])
    ]


def tombstone_root_dirs(index_dir: str, meta: dict) -> dict[str, list[str]]:
    """Live tombstone docs dirs grouped by the root they apply to —
    the kernel's ROOT-SCOPED exclusion input.  A marker means "the copy
    of docID in this root is dead", never "docID is dead": a doc
    re-ingested after a delete lives in a newer root no marker covers,
    so it resurrects without any special casing in the kernel."""
    out: dict[str, list[str]] = {}
    for t in meta.get("tombstones", []):
        for rid in t.get("per_root", {}):
            out.setdefault(rid, []).append(
                f"{index_dir}/tombstones/{t['id']}/docs/root={rid}"
            )
    return out


def load_tombstone_pairs(
    spark: SparkSession, index_dir: str, meta: dict
) -> DataFrame | None:
    """(docID, root) of every live tombstone marker — the root-scoped
    form of :func:`load_tombstone_docs` (which copies of which docs are
    dead, not which docIDs).  ``None`` when no live tombstones exist."""
    frames = []
    for t in meta.get("tombstones", []):
        live = list(t.get("per_root", {}))
        if not live:
            continue
        frames.append(
            spark.read.parquet(f"{index_dir}/tombstones/{t['id']}/docs")
            .filter(F.col("root").isin(live))
            .select("docID", "root")
        )
    if not frames:
        return None
    return _union_frames(frames)


def read_tombstone_bucket(dirs: list[str], bucket: int) -> np.ndarray | None:
    """Sorted deleted docIDs for one bucket across the given tombstone
    docs dirs (one root's entry from :func:`tombstone_root_dirs` —
    the kernel appends ``/doc_bucket=<b>`` for a bucket-local read, no
    Spark job, no shuffle); ``None`` when nothing is tombstoned in the
    bucket."""
    import pyarrow.parquet as pq

    parts = []
    for d in dirs:
        path = f"{d}/doc_bucket={bucket}"
        if not fsio.exists(path):
            continue
        fs, p = fsio.resolve(path)
        parts.append(
            pq.read_table(p, columns=["docID"], filesystem=fs)
            .column("docID").to_numpy()
        )
    if not parts:
        return None
    out = np.concatenate(parts) if len(parts) > 1 else parts[0]
    return np.sort(out)


def load_tombstone_docs(
    spark: SparkSession, index_dir: str, meta: dict
) -> DataFrame | None:
    """One ``docID`` frame of every tombstoned (deleted, not yet
    physically reclaimed) doc; ``None`` when the index has no live
    tombstones."""
    paths = [
        f"{index_dir}/tombstones/{t['id']}/docs"
        for t in meta.get("tombstones", [])
    ]
    if not paths:
        return None
    frames = [spark.read.parquet(p).select("docID") for p in paths]
    return _union_frames(frames)


def _minus_tombstones(
    spark: SparkSession, df: DataFrame, index_dir: str, meta: dict
) -> DataFrame:
    """Drop the DEAD COPIES from a root-tagged frame: ``df`` must carry
    a ``_root`` column naming the physical root each row came from, and
    the anti-join runs on (docID, root) — by docID alone a resurrected
    doc's live copy (newer root, no marker) would be dropped along with
    its dead one.  Returns the frame without ``_root``."""
    tomb = load_tombstone_pairs(spark, index_dir, meta)
    if tomb is None:
        return df.drop("_root")
    # tombstone sets are small relative to the corpus (else you rebuild)
    return df.join(
        F.broadcast(tomb.withColumnRenamed("root", "_root")),
        ["docID", "_root"],
        "left_anti",
    ).drop("_root")


def _union_frames(frames: list[DataFrame]) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# Past this many terms a scan's term restriction is a broadcast
# semi-join, not an IN-list: a 10^5-term IN predicate bloats the plan and
# the parquet filter evaluation
TERM_INLIST_MAX = 1024


def restrict_terms(df: DataFrame, terms: list[str]) -> DataFrame:
    """``df`` restricted to rows whose ``term`` is in ``terms``.  Up to
    :data:`TERM_INLIST_MAX` terms the IN-list pushes down to parquet
    row-group stats (every term-keyed artifact is term-sorted within
    each shard file)."""
    if len(terms) <= TERM_INLIST_MAX:
        return df.filter(F.col("term").isin(terms))
    tdf = df.sparkSession.createDataFrame([(t,) for t in terms], "term string")
    return df.join(F.broadcast(tdf), "term", "left_semi")


def load_segments(spark: SparkSession, index_dir: str, meta: dict) -> DataFrame:
    """Union of the base + generation segment sets, each row tagged with
    its root (``_root``) for the kernel's root-scoped tombstone
    exclusion.  Separate per-root loads (not a multi-path read): sibling
    partitioned roots trip Spark's directory-structure inference, and
    each root needs its own literal column anyway."""
    frames = [
        spark.read.parquet(f"{index_dir}/segments")
        .withColumn("_root", F.lit("base"))
    ]
    for g in meta.get("generations", []):
        frames.append(
            spark.read.parquet(f"{index_dir}/generations/{g['id']}/segments")
            .withColumn("_root", F.lit(g["id"]))
        )
    return _union_frames(frames)


def load_term_stats(spark: SparkSession, index_dir: str, meta: dict) -> DataFrame:
    """Global (term, df): base term_stats plus per-generation deltas,
    summed.  The aggregation is lazy — a query-side ``term IN (...)``
    filter pushes below the union into each root's term-sorted parquet
    (row-group pruning per set), so per-query cost is bounded by
    |query terms| × generations, and no refresh-time O(vocabulary)
    merge job exists at all."""
    frames = [spark.read.parquet(f"{index_dir}/term_stats")]
    for g in meta.get("generations", []):
        frames.append(
            spark.read.parquet(f"{index_dir}/generations/{g['id']}/term_stats")
        )
    # tombstone df corrections: per-(root, term) negatives recorded at
    # delete time join the same lazy sum — idf is the SURVIVING corpus's
    # exactly, still under the query's pushed term filter
    for t in meta.get("tombstones", []):
        neg = f"{index_dir}/tombstones/{t['id']}/term_stats_neg"
        if fsio.exists(neg):
            # restrict to the tombstone's LIVE roots: a root compacted
            # away already dropped those docs physically (its term_stats
            # no longer counts them), so its negatives must not apply —
            # the meta per_root list is the commit point, not the dirs
            frames.append(
                spark.read.parquet(neg)
                .filter(F.col("root").isin(list(t.get("per_root", {}))))
                .select("term", (-F.col("df_neg")).alias("df"))
            )
    if len(frames) == 1:
        return frames[0]
    return (
        _union_frames([f.select("term", "df") for f in frames])
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )


def load_doc_stats(spark: SparkSession, index_dir: str, meta: dict) -> DataFrame:
    """(docID, dl) across base + generations, dead copies excluded
    (root-scoped: a resurrected doc keeps its newest copy)."""
    frames = [
        spark.read.parquet(f"{index_dir}/doc_stats")
        .select("docID", "dl")
        .withColumn("_root", F.lit("base"))
    ]
    for g in meta.get("generations", []):
        frames.append(
            spark.read.parquet(f"{index_dir}/generations/{g['id']}/doc_stats")
            .select("docID", "dl")
            .withColumn("_root", F.lit(g["id"]))
        )
    return _minus_tombstones(spark, _union_frames(frames), index_dir, meta)


def load_merged_postings(spark: SparkSession, index_dir: str, meta: dict) -> DataFrame:
    """(term, docID, tf) across the base merge output + every
    generation's merge output — the exact-oracle input."""
    final = [
        m for m in read_manifests(index_dir) if m.get("unit") == "merged-final"
    ]
    if not final:
        raise ValueError("index has no merged-final manifest")
    frames = [
        spark.read.parquet(f"{final[0]['source']}/postings")
        .select("term", "docID", "tf")
        .withColumn("_root", F.lit("base"))
    ]
    for g in meta.get("generations", []):
        frames.append(
            spark.read.parquet(f"{g['merged_source']}/postings")
            .select("term", "docID", "tf")
            .withColumn("_root", F.lit(g["id"]))
        )
    return _minus_tombstones(spark, _union_frames(frames), index_dir, meta)


def purge_index(index_dir: str) -> None:
    """S13 purge: drop every index artifact (segments, stats, runs,
    merges, generations, manifests) — the reference's cascade purge +
    VACUUM (``/root/reference/db/db_manager.py:145-165``)."""
    for sub in ("segments", "doc_stats", "term_stats", "docs", "runs",
                "merged", "generations", "tombstones", "graveyard",
                "manifests", "lineage_segments.json", "_meta.json",
                "_writer.lock"):
        fsio.rmtree(f"{index_dir}/{sub}")


def purge_run(index_dir: str, run_id: str) -> None:
    """S13 per-source purge: drop one run and the downstream merge /
    finalize / generation artifacts it contributed to (they must
    rebuild — finalize() rewrites ``_meta.json`` fresh with an empty
    generation list)."""
    fsio.rmtree(f"{index_dir}/runs/{run_id}")
    mdir = f"{index_dir}/manifests"
    for fn in fsio.listdir(mdir):
        # exact manifest name for the purged run — a prefix match would
        # also delete manifests of runs whose id merely extends run_id
        # (purging "stream0001" must not touch "stream00010")
        if fn == f"run-{run_id}.json" or fn.startswith(
            ("merge-", "merged-final", "finalize", "generation-",
             "genmerge-", "delete-")
        ):
            fsio.remove(f"{mdir}/{fn}")
    _ledger_strip(
        index_dir,
        lambda u: u == f"run-{run_id}"
        or u.startswith(("merge-", "merged-final", "finalize",
                         "generation-", "genmerge-", "delete-")),
    )
    fsio.rmtree(f"{index_dir}/tombstones")
    fsio.rmtree(f"{index_dir}/graveyard")
    fsio.rmtree(f"{index_dir}/merged")
    fsio.rmtree(f"{index_dir}/generations")
    fsio.rmtree(f"{index_dir}/_meta.json")
