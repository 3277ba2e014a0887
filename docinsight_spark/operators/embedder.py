"""Text → embedding featurizer (hashing trick, no model weights).

The reference *produces* its vectors with SBERT
(``/root/reference/embeddings/embedder.py:57-97``, all-MiniLM-L6-v2,
384-d, L2-normalized, batch 32).  No model weights exist in this
environment, so the same role — "content in, unit vector out, feed the
ANN stack" — is filled by a deterministic hashing-trick featurizer:

* token hash    = splitmix64(crc32(token) + seed·2^32) — crc32 alone is
  GF(2)-linear, so similar tokens get correlated buckets/signs (measured
  cosine 0.85 for a 1-token edit instead of ~0.98); the 64-bit finalizer
  decorrelates it
* token bucket  = hash mod dim;  token sign = hash bit 32
* feature j     = Σ_token sign · tf  over tokens in bucket j
* vector        = L2-normalized feature row (zero-vector left as-is)

That is the classic feature-hashing construction (Weinberger et al.,
ICML'09): sparse bag-of-words projected to a fixed dim with an unbiased
signed hash.  Near-identical documents land near-identical vectors, so
the downstream LSH/IVF near-dup and ANN operators work end-to-end from
raw text.  Runs as an Arrow-batched ``mapInPandas`` kernel — numpy
accumulation per batch, no per-row Python in the plan, embarrassingly
parallel, no shuffle.
"""

from __future__ import annotations

import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from docinsight_spark.functions.tokenizer import JAVA_WS

# findall of non-ws runs ≡ split-on-\s minus empties, one vectorized
# pass with nothing to filter (same trick as tokenizer.py); Java-regex
# \s parity with the engine's whitespace tokenizer
_NONWS = f"[^{JAVA_WS}]+"


def _embed_batch(texts: pd.Series, dim: int, seed: int) -> list[list[float] | None]:
    """Batch-vectorized hashing-trick embedding.

    One flat token array for the whole batch (vectorized findall →
    concatenate + repeat), tokens deduplicated with hash-based
    ``pd.factorize`` (sort-based ``np.unique`` on strings measured 20×
    slower), crc32 evaluated once per UNIQUE token, then a single
    ``np.add.at`` scatter into an (n_rows, dim) matrix and one row-wise
    normalize.  Outputs are bit-identical to the per-row formulation:
    every accumulated value is a small-integer sum of ±1 (exact in
    double at any addition order) and the norm/division fold the same
    contiguous row."""
    from docinsight_spark.index.bloom import _mix64

    arr = texts.to_numpy(dtype=object)
    n = len(arr)
    out: list[list[float] | None] = [None] * n
    sel = np.flatnonzero(np.fromiter((t is not None for t in arr), bool, count=n))
    if len(sel) == 0:
        return out
    toks = pd.Series(arr[sel]).astype(str).str.lower().str.findall(_NONWS)
    lens = toks.map(len).to_numpy()
    mat = np.zeros((len(sel), dim), dtype=np.float64)
    if lens.sum():
        flat = np.concatenate([np.asarray(t, dtype=object) for t in toks])
        rows = np.repeat(np.arange(len(sel)), lens)
        codes, uniques = pd.factorize(flat, sort=False)
        crcs = np.fromiter(
            (zlib.crc32(t.encode()) for t in uniques), np.uint64, count=len(uniques)
        )
        h = _mix64(crcs + np.uint64((seed & 0xFFFFFFFF) << 32))
        idx = (h % np.uint64(dim)).astype(np.int64)
        signs = np.where((h >> np.uint64(32)) & np.uint64(1), 1.0, -1.0)
        # linear-index bincount ≡ np.add.at scatter (measured 5× faster);
        # sums of ±1 are exact in double, so the values are identical
        lin = rows * dim + idx[codes]
        mat = np.bincount(
            lin, weights=signs[codes], minlength=len(sel) * dim
        ).reshape(len(sel), dim)
    norms = np.linalg.norm(mat, axis=1)
    nz = norms > 0
    mat[nz] /= norms[nz, None]
    for j, i in enumerate(sel):
        out[i] = mat[j].tolist()
    return out


def hashed_features(
    df: DataFrame, id_col: str, text_col: str, dim: int = 16
) -> DataFrame:
    """(id, j, feat) — the same feature-hashing construction as
    :func:`featurize_text` in **pure column algebra on an md5 hash
    basis**, long format: one row per (document, bucket j ∈ [0, dim)),
    ``feat`` = L2-normalized signed tf sum, rounded to 4 dp.

    This is the oracle-portable flavor (md5 hex → bucket/sign replays
    exactly in ANSI SQL, the ``simhash`` trick); the production path is
    the shuffle-free crc32 ``mapInPandas`` kernel above.  Bucket = low
    bits of the 32-bit hash, sign = bit 16 — disjoint bit ranges, so
    bucket and sign are independent.  All sums are integer-valued
    (exact in double on any engine) and the L2 norm is the square root
    of an exact integer, so normalized values agree bit-for-bit across
    engines before the final rounding."""
    from pyspark.sql import Window

    from docinsight_spark.functions.tokenizer import simple_tokens_col

    toks = df.select(
        F.col(id_col).alias("id"), F.explode(simple_tokens_col(text_col)).alias("term")
    )
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    h = F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("long")
    sums = (
        tf.withColumn("j", (h % dim).cast("long"))
        .withColumn("sgn", F.shiftright(h, 16).bitwiseAND(F.lit(1)) * 2 - 1)
        .groupBy("id", "j")
        .agg(F.sum(F.col("tf") * F.col("sgn")).cast("double").alias("s"))
    )
    # densify to every (id, j) pair: a bucket whose signs cancel to 0 and
    # a bucket no token hashed into must both appear (as 0.0), or the two
    # engines would disagree on which zero rows exist
    grid = (
        df.select(F.col(id_col).alias("id"))
        .distinct()
        .withColumn(
            "j", F.explode(F.array(*[F.lit(i).cast("long") for i in range(dim)]))
        )
    )
    dense = grid.join(sums, ["id", "j"], "left").na.fill({"s": 0.0})
    norm = F.sqrt(F.sum(F.col("s") * F.col("s")).over(Window.partitionBy("id")))
    feat = F.when(norm > 0, F.col("s") / norm).otherwise(F.lit(0.0))
    return dense.select("id", "j", F.round(feat, 4).alias("feat"))


def featurize_text(
    df: DataFrame,
    text_col: str = "text",
    dim: int = 64,
    seed: int = 42,
    out_col: str = "embedding",
) -> DataFrame:
    """Add ``out_col: array<float>`` — deterministic unit embedding of
    ``text_col``.  Same output for the same input on any cluster size
    (crc32 is process-independent; no RNG at transform time)."""
    cols = df.columns

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = _embed_batch(pdf[text_col], dim, seed)
            yield pdf

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {out_col} array<float>"
    return df.mapInPandas(kernel, schema=schema).select(*cols, out_col)
