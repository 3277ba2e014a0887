"""BM25 top-k query — the exact DataFrame "oracle" path.

Replaces the reference's retrieval stack
(``/root/reference/retrieval/retrieval.py:55-110`` →
``index/index_manager.py:203-256`` → FAISS
``index/faiss_index.py:162-199``).  The flagship join (SURVEY §2.5 J7):

    query_terms ⋈ postings ON term          (query side broadcast)
    → per-(query, doc, term) BM25 contribution (codegen'd expression)
    → groupBy(query, doc).sum               (partial+final hash agg)
    → window top-k, ties broken on docID    (deterministic ranks)

This path mirrors the reference's numpy fallback index
(``/root/reference/index/fallback_index.py:124-164``): the slow exact
implementation that the fast path (block-max WAND segments) must be
rank-identical to — the same dual-implementation test strategy as
``/root/reference/test_faiss_fallback.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from docinsight_spark import BM25_B, BM25_K1, DEFAULT_TOP_K
from docinsight_spark.functions.bm25 import bm25_score_col
from docinsight_spark.functions.tokenizer import query_terms
from docinsight_spark.operators.postings import CorpusStats


def bm25_scores(
    qterms: DataFrame,
    postings: DataFrame,
    tstats: DataFrame,
    dstats: DataFrame,
    stats: CorpusStats,
    k1: float = BM25_K1,
    b: float = BM25_B,
    require_all: bool = False,
    neg_terms: DataFrame | None = None,
) -> DataFrame:
    """(query_id, docID, score) for every candidate doc.

    Join order / strategy at scale: ``qterms`` (≤ thousands of rows) and
    ``tstats``-restricted-to-query-terms are broadcast; ``postings``
    streams through untouched (no shuffle on the big side for the probe
    join); the only large shuffle is the final groupBy(query, doc),
    whose key space is bounded by matched postings.

    ``require_all=True`` is conjunctive (boolean AND) retrieval: only
    docs containing EVERY query term score.  Free at scale — postings
    are unique on (term, docID), so the hit count rides the existing
    aggregation and the filter is a broadcast-joined per-query
    constant; no extra pass, no extra shuffle.  A query term absent
    from the corpus matches nothing, so its query returns empty
    (strict AND).

    ``neg_terms`` ((query_id, term)) is boolean NOT: a doc containing
    ANY of its query's negative terms is excluded.  The exclusion set
    is derived from one postings probe restricted (broadcast) to the
    negative terms — cost bounded by Σ df(neg term), applied as an
    anti-join on the already-aggregated candidates, never a second
    corpus pass.
    """
    # Restrict term stats to query terms first — keeps the broadcast tiny.
    q_with_df = qterms.join(tstats, "term", "inner")
    scored = (
        postings.join(F.broadcast(q_with_df), "term", "inner")
        .join(dstats, "docID", "inner")
        .withColumn(
            "contrib",
            bm25_score_col(
                F.col("tf"), F.col("df"), F.col("dl"),
                stats.n_docs, stats.avgdl, k1=k1, b=b,
            ),
        )
    )
    agg = scored.groupBy("query_id", "docID").agg(
        F.sum("contrib").alias("score"),
        F.count(F.lit(1)).alias("_hits"),
    )
    if require_all:
        nq = qterms.groupBy("query_id").agg(F.count(F.lit(1)).alias("_nq"))
        agg = (
            agg.join(F.broadcast(nq), "query_id")
            .filter(F.col("_hits") == F.col("_nq"))
            .drop("_nq")
        )
    if neg_terms is not None:
        banned = (
            postings.join(F.broadcast(neg_terms), "term")
            .select("query_id", "docID")
            .distinct()
        )
        agg = agg.join(banned, ["query_id", "docID"], "left_anti")
    return agg.drop("_hits")


def topk(scores: DataFrame, k: int = DEFAULT_TOP_K) -> DataFrame:
    """(query_id, rank, docID, score) — deterministic docID tie-break.

    Window top-k (SURVEY §2.8 T1).  The per-query partitions are small
    after scoring, so a window (total sort per query) is the right
    physical plan; the fast path replaces this with a bounded heap.
    """
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("docID").asc()
    )
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "docID", "score")
    )


def search(
    queries: DataFrame,
    postings: DataFrame,
    tstats: DataFrame,
    dstats: DataFrame,
    stats: CorpusStats,
    docs: DataFrame | None = None,
    k: int = DEFAULT_TOP_K,
    min_score: float | None = None,
    code_aware: bool = True,
    lang: str = "java",
    require_all: bool = False,
    neg_terms: DataFrame | None = None,
    _qterms: DataFrame | None = None,
) -> DataFrame:
    """End-to-end oracle search; optionally enrich with doc metadata.

    ``min_score`` mirrors the reference's MIN_SIM_THRESHOLD filter
    (``/root/reference/index/index_manager.py:242-250``).  The metadata
    enrichment is the reference's 3-way join
    (``index/index_manager.py:258-286``) — the top-k side is tiny, so
    Catalyst broadcasts it against the docs dimension.

    ``_qterms``: a prebuilt (query_id, term) frame of already-distinct
    normalized terms — callers with driver-resident query batches pass
    it to skip the tokenize-UDF + distinct exchange job per call
    (:func:`docinsight_spark.evaluation.oracle_from_index`).
    """
    qt = (
        _qterms
        if _qterms is not None
        else query_terms(queries, code_aware=code_aware, lang=lang)
    )
    ranked = topk(
        bm25_scores(
            qt, postings, tstats, dstats, stats,
            require_all=require_all, neg_terms=neg_terms,
        ),
        k=k,
    )
    if min_score is not None:
        ranked = ranked.filter(F.col("score") >= F.lit(min_score))
    if docs is not None:
        dim = docs.select("docID", "repo", "path", "lang")
        ranked = ranked.join(dim, "docID", "left").select(
            "query_id", "rank", "docID", "score", "repo", "path", "lang"
        )
    return ranked


def search_rerank(
    queries: DataFrame,
    postings: DataFrame,
    tstats: DataFrame,
    dstats: DataFrame,
    stats: CorpusStats,
    k: int = DEFAULT_TOP_K,
    overfetch: int = 2,
    code_aware: bool = True,
    lang: str = "java",
    rescore=None,
) -> DataFrame:
    """T7 two-stage retrieval: over-fetch ``overfetch·k`` candidates with
    a cheap first pass, exact-rescore the candidate set, re-rank, cut to
    k (reference: ``retrieval/retrieval.py:253-268`` fetches 2k before
    the cross-encoder; here stage 2 is exact BM25 rescoring).

    The candidate cut bounds stage-2 cost: only ``queries × 2k`` rows
    reach the rescore regardless of corpus size.  The default rescorer is
    the same exact BM25 formula as stage 1, so its scores are REUSED —
    one postings scan total, not a second full scan semi-joined back
    (``tests/test_plans.py`` pins the single scan).  A custom ``rescore``
    callable ((query_id, docID, score) → (query_id, docID, score))
    plugs in a genuinely different stage-2 model, the cross-encoder
    analog."""
    qt = query_terms(queries, code_aware=code_aware, lang=lang)
    stage1 = topk(bm25_scores(qt, postings, tstats, dstats, stats), k=overfetch * k)
    cand = stage1.select("query_id", "docID", "score")
    if rescore is not None:
        cand = rescore(cand)
    return topk(cand, k=k)
