"""Model-quality evaluation: rank correlation between two scorers.

The reference evaluates its models with Spearman/Pearson correlation and
threshold sweeps (``/root/reference/scripts/evaluate_models.py:80-171``).
The engine's "model" is the block-max WAND fast path; its quality metric
is the rank correlation against the exact BM25 oracle
(:mod:`docinsight_spark.operators.query`) over a query set — 1.0 means
rank-identical, the engine's contract.  Emitted in the bench JSON and
pinned by pytest.  (The threshold-sweep half of the reference's
evaluation lives in the driver contract as ``threshold_sweep``.)

All computation is DataFrame algebra: window ranks + one aggregation —
no driver-side loops, so the metric itself scales with the result sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def per_query_rank_correlation(
    res_a: DataFrame,
    res_b: DataFrame,
    key: tuple[str, str] = ("query_id", "docID"),
    score_col: str = "score",
) -> DataFrame:
    """(query_id, n, spearman, pearson) over the docs BOTH sides returned.

    Ranks are recomputed within the common subset (score desc, docID asc
    tie-break) so the statistic is well-defined even when the two sides'
    cutoffs differ; ``spearman = 1 − 6·Σd²/(n(n²−1))``, null for n < 2.
    """
    qid, did = key
    a = res_a.select(qid, did, F.col(score_col).alias("_sa"))
    b = res_b.select(qid, did, F.col(score_col).alias("_sb"))
    j = a.join(b, [qid, did], "inner")
    wa = Window.partitionBy(qid).orderBy(F.col("_sa").desc(), F.col(did))
    wb = Window.partitionBy(qid).orderBy(F.col("_sb").desc(), F.col(did))
    j = (
        j.withColumn("_ra", F.row_number().over(wa))
        .withColumn("_rb", F.row_number().over(wb))
    )
    n = F.col("n").cast("double")
    return (
        j.groupBy(qid)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pow(F.col("_ra") - F.col("_rb"), 2)).alias("_d2"),
            F.corr("_sa", "_sb").alias("pearson"),
        )
        .withColumn(
            "spearman",
            F.when(
                F.col("n") >= 2,
                1.0 - 6.0 * F.col("_d2") / (n * (n * n - 1.0)),
            ),
        )
        .select(qid, "n", "spearman", "pearson")
    )


def rank_correlation_summary(per_query: DataFrame) -> dict:
    """{mean_spearman, min_spearman, mean_pearson, n_queries} (n ≥ 2 only)."""
    row = (
        per_query.filter(F.col("spearman").isNotNull())
        .agg(
            F.avg("spearman").alias("mean_spearman"),
            F.min("spearman").alias("min_spearman"),
            F.avg("pearson").alias("mean_pearson"),
            F.count(F.lit(1)).alias("n_queries"),
        )
        .collect()[0]
    )
    return {
        "mean_spearman": float(row["mean_spearman"] or 0.0),
        "min_spearman": float(row["min_spearman"] or 0.0),
        "mean_pearson": float(row["mean_pearson"] or 0.0),
        "n_queries": int(row["n_queries"]),
    }


def oracle_from_index(
    spark: SparkSession, index_dir: str, queries: DataFrame, k: int = 10,
    require_all: bool = False, neg_terms: DataFrame | None = None,
) -> DataFrame:
    """Exact BM25 top-k using the *index's own* materialized relations
    (merged postings, doc/term stats) — no re-tokenize, so the oracle
    pass costs one scan + the scoring joins.

    ``require_all`` / ``neg_terms`` expose boolean AND / NOT retrieval
    over the index (the block-max kernel serves plain OR; boolean
    shapes take this exact path — still one postings scan)."""
    from docinsight_spark.index import fsio
    from docinsight_spark.index.builder import (
        load_doc_stats,
        load_merged_postings,
        load_term_stats,
    )
    from docinsight_spark.operators.postings import CorpusStats
    from docinsight_spark.operators.query import search

    meta = fsio.read_json(f"{index_dir}/_meta.json")
    postings = load_merged_postings(spark, index_dir, meta)
    tstats = load_term_stats(spark, index_dir, meta)
    dstats = load_doc_stats(spark, index_dir, meta)
    stats = CorpusStats(n_docs=int(meta["n_docs"]), avgdl=float(meta["avgdl"]))
    code_aware = bool(meta.get("code_aware", True))
    qlang = str(meta.get("query_lang", "java"))
    # small batches tokenize driver-side (round 7): same budget and
    # tokenizer-parity path as the WAND fast path, turning the per-call
    # tokenize-UDF job + distinct exchange into a literal frame
    from docinsight_spark.index.wand import DRIVER_TOKENIZE_MAX, _query_term_map

    qterms = None
    qmap = _query_term_map(queries, code_aware, DRIVER_TOKENIZE_MAX, qlang)
    if qmap is not None:
        qterms = spark.createDataFrame(
            [(qid, t) for qid, ts in qmap.items() for t in ts],
            "query_id long, term string",
        )
        # the batch's term set is known at PLAN time — push it into the
        # postings scan as an IN-list (identity under the inner term
        # join; the merged layout is term-sorted within each shard file,
        # so parquet row-group min/max stats skip non-matching groups).
        # The join alone cannot do this: its build side is unknown to
        # the scan.  Guard the literal list like the phrase path does.
        # (neg_terms excludes docs via their OWN postings rows — the
        # filter would drop them, so only the pure-positive shapes
        # take it; require_all intersects the same positive terms.)
        terms = sorted({t for ts in qmap.values() for t in ts})
        if neg_terms is None and 0 < len(terms) <= 1024:
            postings = postings.filter(F.col("term").isin(terms))
    return search(
        queries, postings, tstats, dstats, stats, k=k,
        code_aware=code_aware, lang=qlang,
        require_all=require_all, neg_terms=neg_terms, _qterms=qterms,
    )
