"""Chunking / segmentation operators (SURVEY §2.3 C1-C3, §2.2 P5-P7, S4).

The reference chunks documents for embedding:

* sentence-pack chunking — greedy packing of sentences into ~512-token
  chunks with 1-sentence overlap, ≤100 chunks/doc, minimum length
  (``/root/reference/ingestion/pipeline_ingest.py:93-141``; knobs
  ``config.py:248-258``)
* sliding-window chunking — fixed character windows with overlap and
  word-boundary snapping (``pipeline_ingest.py:143-170``)
* rolling-window fallback segmentation
  (``ingestion/section_parser.py:167-219``)
* content truncation guards (``ingestion/file_loader.py:90-106``)

Here: the sliding window is pure Catalyst (``sequence`` → ``posexplode``
→ ``substring`` — SQL-expressible, DuckDB-checkable); sentence packing
is a vectorized pandas UDF returning ``array<string>`` that the caller
``posexplode``s (ordinal preserved).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

CHUNK_SIZE_TOKENS = 512   # config.py:248
CHUNK_OVERLAP = 50        # config.py:249
MAX_CHUNKS_PER_DOC = 100  # config.py:258
MIN_CHUNK_LENGTH = 20     # config.py MIN_CHUNK_LENGTH
CHARS_PER_TOKEN = 4       # reference's 4-chars≈1-token estimate


def truncate_content(df: DataFrame, text_col: str, max_chars: int) -> DataFrame:
    """S4 content cap — a guarded projection."""
    return df.withColumn(text_col, F.substring(F.col(text_col), 1, max_chars))


def sliding_window_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window_chars: int = CHUNK_SIZE_TOKENS * CHARS_PER_TOKEN,
    overlap_chars: int = CHUNK_OVERLAP * CHARS_PER_TOKEN,
    max_chunks: int = MAX_CHUNKS_PER_DOC,
    snap_to_words: bool = False,
    snap_max_chars: int = 32,
) -> DataFrame:
    """(id, ordinal, chunk) — fixed char windows, declarative (C2/P7).

    Window starts: 1, 1+step, 1+2·step … with step = window − overlap;
    capped at ``max_chunks`` (the reference's backpressure cap).

    ``snap_to_words=True`` mirrors the reference's word-boundary snap
    (``/root/reference/ingestion/pipeline_ingest.py:143-170``): a window
    that ends mid-word is extended forward to the word's end (up to
    ``snap_max_chars``) so no word is split across a chunk boundary.
    Window STARTS stay fixed, so the overlap region — and therefore
    chunk count and ordinals — are identical in both modes.  Default
    off: the exact fixed window is the SQL-parity flavor the DuckDB
    oracle replays (``chunk_sliding`` contract entry)."""
    step = window_chars - overlap_chars
    starts = F.sequence(
        F.lit(1),
        F.least(
            F.greatest(F.length(text_col), F.lit(1)),
            F.lit(1 + step * (max_chunks - 1)),
        ),
        F.lit(step),
    )
    out = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(starts).alias("ordinal", "start"),
        F.col(text_col).alias("_t"),
    )
    chunk = F.substring(F.col("_t"), F.col("start"), window_chars)
    if snap_to_words:
        # the run of non-whitespace immediately after the window is the
        # tail of a word the fixed cut would have split; append it
        # (still pure column algebra — no UDF)
        tail = F.substring(
            F.col("_t"), F.col("start") + window_chars, snap_max_chars
        )
        chunk = F.concat(chunk, F.regexp_extract(tail, r"^\S*", 0))
    return (
        out.withColumn("chunk", chunk)
        .filter(F.length("chunk") > 0)
        .select("id", "ordinal", "start", "chunk")
    )


_SENT_SPLIT = re.compile(r"(?<=[.!?])\s+")


def _pack(text: str, chunk_tokens: int, max_chunks: int, min_len: int) -> list[str]:
    """Greedy sentence packing with 1-sentence overlap (C1 semantics)."""
    if not text or not text.strip():
        return []
    sentences = [s for s in _SENT_SPLIT.split(text.strip()) if s]
    budget = chunk_tokens * CHARS_PER_TOKEN
    chunks: list[str] = []
    cur: list[str] = []
    cur_len = 0
    for s in sentences:
        if cur and cur_len + len(s) > budget:
            chunks.append(" ".join(cur))
            if len(chunks) >= max_chunks:
                cur = []
                break
            cur = [cur[-1]]  # 1-sentence overlap
            cur_len = len(cur[0])
        cur.append(s)
        cur_len += len(s) + 1
    if cur and len(chunks) < max_chunks:
        chunks.append(" ".join(cur))
    return [c for c in chunks if len(c) >= min_len]


def sentence_pack_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = CHUNK_SIZE_TOKENS,
    max_chunks: int = MAX_CHUNKS_PER_DOC,
    min_len: int = MIN_CHUNK_LENGTH,
) -> DataFrame:
    """(id, ordinal, chunk) — sentence-pack chunking via pandas UDF (C1/C3)."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def pack_udf(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: _pack(t, chunk_tokens, max_chunks, min_len))

    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(pack_udf(F.col(text_col))).alias("ordinal", "chunk"),
    )


def split_sentences(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, idx, sentence) — P5 sentence split, declarative regex form."""
    sent = F.filter(
        F.split(F.col(text_col), r"(?<=[.!?])\s+"), lambda s: F.length(s) > 0
    )
    return df.select(
        F.col(id_col).alias("id"), F.posexplode(sent).alias("idx", "sentence")
    )


def remove_overlapping_spans(
    spans: DataFrame,
    id_col: str = "id",
    start_col: str = "start",
    end_col: str = "end",
    score_col: str = "confidence",
) -> DataFrame:
    """W6 overlap removal — the reference's greedy rule
    (``/root/reference/ingestion/section_parser.py:97-115``): walk spans
    by confidence desc, keep a span iff it overlaps no already-kept span.
    Greedy keep-sets aren't expressible as a fixed-depth window, so this
    runs per document in ``applyInPandas`` (spans per doc are few — the
    reference caps detected sections)."""
    cols = spans.columns

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([score_col, start_col], ascending=[False, True])
        kept_rows = []
        kept_iv: list[tuple] = []
        for _, r in pdf.iterrows():
            s, e = r[start_col], r[end_col]
            if any(s <= ke and ks <= e for ks, ke in kept_iv):
                continue
            kept_iv.append((s, e))
            kept_rows.append(r)
        return pd.DataFrame(kept_rows, columns=pdf.columns)

    return spans.groupBy(id_col).applyInPandas(greedy, schema=spans.schema)


def chunk_corpus(
    corpus: DataFrame,
    window_chars: int = 600,
    overlap_chars: int = 100,
    max_chunks: int = MAX_CHUNKS_PER_DOC,
) -> DataFrame:
    """Corpus-shaped chunk table: each chunk becomes its own indexable
    document (``path#ordinal``), mirroring the reference's unit of
    retrieval (chunks, not whole files — ``db/schema.sql:29-41``).
    Feed the result to ``IndexBuilder.build`` for chunk-granular search."""
    chunks = sliding_window_chunks(
        corpus.withColumn(
            "_cid", F.concat_ws("\x00", "repo", "path", "commit", "lang")
        ),
        "_cid", "content", window_chars, overlap_chars, max_chunks,
    )
    parts = F.split(F.col("id"), "\x00")
    return chunks.select(
        parts.getItem(0).alias("repo"),
        F.concat(parts.getItem(1), F.lit("#"), F.col("ordinal")).alias("path"),
        parts.getItem(2).alias("commit"),
        parts.getItem(3).alias("lang"),
        F.col("chunk").alias("content"),
    )
