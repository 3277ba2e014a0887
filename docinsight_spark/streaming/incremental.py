"""Streaming incremental index ingest (Structured Streaming).

The reference's only "continuous" behavior is incremental index update
(``/root/reference/index/index_manager.py:124-201``: embed chunks
``WHERE embedding IS NULL``, add to the FAISS index).  The Spark-native
equivalent: a Structured Streaming file source feeding
``foreachBatch`` — every micro-batch becomes one postings *run* (same
unit as batch ingest, same manifests), and a periodic ``refresh``
folds only the NEW runs into a delta segment generation (O(delta), not
O(corpus) — see ``IndexBuilder.refresh_delta``).  Exactly-once comes
from the combination of the streaming checkpoint (offsets) and the
builder's idempotent, manifest-guarded runs keyed by batch id.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from docinsight_spark.corpus import CORPUS_SCHEMA
from docinsight_spark.index.builder import IndexBuilder


def stream_ingest(
    spark: SparkSession,
    builder: IndexBuilder,
    input_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    refresh_every: int | None = None,
    compact_max_generations: int = 8,
    gc_grace_sec: float = 600.0,
    max_files_per_trigger: int = 64,
    neardup_store=None,
    neardup_threshold: float = 0.7,
):
    """Ingest corpus files appearing under ``input_dir`` as index runs.

    Returns the started ``StreamingQuery``.  With ``available_now`` the
    query drains everything currently present and stops (the batch-
    driven test/bootstrap mode); without it, it keeps tailing.

    ``refresh_every=N`` turns this into the fully continuous mode: every
    N micro-batches (keyed on Spark's checkpointed ``epoch_id``, so the
    cadence survives restarts) the sink folds the accumulated runs into
    the queryable index (O(delta) generation via :func:`refresh`) and
    lets :meth:`IndexBuilder.compact` bound the generation fan-out —
    queries flip to each new generation set atomically (the
    ``_meta.json`` commit point).  Compaction victims are NOT deleted
    inline (a concurrent query may be mid-scan on the old set): they
    get tombstones and are reclaimed by ``gc_generations`` once older
    than ``gc_grace_sec``.  Runs landing after the last on-cycle epoch
    fold at the next cycle; after an ``availableNow`` drain, call
    :func:`refresh` once to fold any off-cycle tail.

    ``neardup_store`` (a :class:`docinsight_spark.index.neardup.
    NearDupStore`) adds the incremental near-dup gate per micro-batch —
    each batch probes ONLY itself against the persisted signatures —
    and, on the same refresh cycle as index compaction, folds the
    store's per-unit dirs (``NearDupStore.fold``) and reclaims fold
    victims past the same ``gc_grace_sec``: without that, continuous
    ingest grows one signature dir per micro-batch forever.
    """
    src = (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def sink(batch_df, epoch_id: int) -> None:
        # one run per micro-batch; replays of the same epoch hit the
        # completed manifest and no-op (idempotent exactly-once sink)
        builder.add_run(
            batch_df,
            f"stream{epoch_id:05d}",
            neardup_store=neardup_store,
            neardup_threshold=neardup_threshold,
        )
        if refresh_every and (int(epoch_id) + 1) % refresh_every == 0:
            refresh(builder)
            builder.compact(
                max_generations=compact_max_generations, delete_victims=False
            )
            builder.gc_generations(grace_sec=gc_grace_sec)
            if neardup_store is not None:
                neardup_store.fold()
                neardup_store.gc(grace_sec=gc_grace_sec)
            # L0 GC: covered runs' postings are dead once folded (merges
            # read them exactly once; compaction reads merged_source) —
            # without this, continuous mode retains every micro-batch's
            # postings forever (storage amplification)
            builder.gc_runs()

    writer = src.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def refresh(builder: IndexBuilder) -> str | None:
    """Fold accumulated stream runs into the queryable index — O(delta).

    First call (no finalized base yet) performs the full base build;
    every later call merges and encodes ONLY the runs added since the
    last refresh into a new segment generation
    (:meth:`IndexBuilder.refresh_delta`) — the base segments are never
    re-merged or re-encoded, so refresh cost tracks the delta size, not
    the corpus size.  Periodically call :meth:`IndexBuilder.compact` to
    fold small generations."""
    return builder.refresh_delta()
