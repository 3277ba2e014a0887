"""Driver-contract queries: Spark implementation + DuckDB oracle SQL.

Each entry exercises one operator family from SURVEY.md §2 over the
driver-provided tables at ``sf_dir`` (``documents``, ``embeddings``,
``events``, TPC-H-ish tables).  The Spark side and the SQL side alias
every computed column identically; floating-point outputs are rounded
to 4 decimals on both sides *before* any rank is assigned, so ranks and
hashes are engine-independent.

The tokenizer used here is the SQL-expressible whitespace tokenizer
(:func:`docinsight_spark.functions.tokenizer.simple_tokens_col`) so
DuckDB can replay it exactly; the code-aware tokenizer has its own
pandas-oracle pytest coverage.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from docinsight_spark.functions.bm25 import bm25_score_col
from docinsight_spark.functions.tokenizer import simple_tokens_col

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term) exploded whitespace tokens of documents.text."""
    return _docs(spark, sf_dir).select(
        "doc_id", F.explode(simple_tokens_col("text")).alias("term")
    )


# SQL fragment shared by token-based oracles (DuckDB).
def _sql_toks(doc_where: str = "") -> str:
    """toks CTE over ``documents``, optionally restricted (the
    surviving-rows oracle for delete entries)."""
    w = f" WHERE {doc_where}" if doc_where else ""
    return f"""
toks AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
    FROM documents{w}
  ) WHERE term <> ''
)
"""


def _sql_postings(doc_where: str = "") -> str:
    return _sql_toks(doc_where) + """,
postings AS (
  SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY term, doc_id
)
"""


_SQL_TOKS = _sql_toks()
_SQL_POSTINGS = _sql_postings()

# ---------------------------------------------------------------------------
# Postings / statistics (SURVEY §2.6 A2, A16)
# ---------------------------------------------------------------------------


@_register(
    "postings_tf",
    f"WITH {_SQL_POSTINGS} SELECT term, doc_id, tf FROM postings",
)
def postings_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, doc_id, tf) — the core inverted-index relation (A2)."""
    return (
        _doc_tokens(spark, sf_dir)
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


@_register(
    "term_stats_df",
    f"WITH {_SQL_POSTINGS} SELECT term, count(*)::BIGINT AS df FROM postings GROUP BY term",
)
def term_stats_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, df) — document frequency (A16)."""
    return (
        postings_tf(spark, sf_dir).groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )


@_register(
    "doc_stats_dl",
    f"WITH {_SQL_POSTINGS} SELECT doc_id, sum(tf)::BIGINT AS dl FROM postings GROUP BY doc_id",
)
def doc_stats_dl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dl) — document length in tokens (A16)."""
    return postings_tf(spark, sf_dir).groupBy("doc_id").agg(F.sum("tf").alias("dl"))


# ---------------------------------------------------------------------------
# BM25 top-k (SURVEY §2.5 J7 + §2.8 T1) — the flagship query
# ---------------------------------------------------------------------------

# Fixed reference query set over the documents vocabulary: hot terms,
# mid-frequency terms, multi-term conjunctions.
BM25_QUERY_TERMS: list[tuple[int, str]] = [
    (0, "spark"), (0, "join"),
    (1, "window"), (1, "batch"),
    (2, "table"),
    (3, "merge"), (3, "stream"), (3, "column"),
    (4, "customer"), (4, "query"),
    (5, "scan"), (5, "sort"), (5, "filter"),
]
BM25_K = 10


def _bm25_oracle_sql(
    query_terms: list[tuple[int, str]] = BM25_QUERY_TERMS,
    k: int = BM25_K,
    doc_id_alias: str = "doc_id",
    doc_where: str = "",
) -> str:
    """Full BM25 top-k SQL over ``documents``; ``doc_where`` restricts
    the corpus (N/avgdl/df/dl all recomputed over the survivors — the
    rebuild-without-victims oracle for the delete entry)."""
    vals = ", ".join(f"({q}, '{t}')" for q, t in query_terms)
    return f"""
WITH {_sql_postings(doc_where)},
dstats AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM postings GROUP BY doc_id),
tstats AS (SELECT term, count(*)::BIGINT AS df FROM postings GROUP BY term),
c AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dstats),
qterms(query_id, term) AS (VALUES {vals}),
scored AS (
  SELECT q.query_id::BIGINT AS query_id, p.doc_id,
         sum(
           ln((c.n - t.df + 0.5) / (t.df + 0.5) + 1.0)
           * p.tf * 2.2 / (p.tf + 1.2 * (0.25 + 0.75 * d.dl / c.avgdl))
         ) AS s
  FROM qterms q
  JOIN postings p USING (term)
  JOIN tstats t USING (term)
  JOIN dstats d USING (doc_id)
  CROSS JOIN c
  GROUP BY 1, 2
)
SELECT query_id, rank, doc_id AS {doc_id_alias}, score FROM (
  SELECT query_id, doc_id, round(s, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 4) DESC, doc_id) AS rank
  FROM scored
) WHERE rank <= {k}
"""


@_register("bm25_topk", _bm25_oracle_sql())
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 per query (k1=1.2, b=0.75), rank after 4-dp rounding."""
    # one tokenize pass: derive both stats tables from cached postings
    postings = postings_tf(spark, sf_dir).cache()
    dstats = postings.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    tstats = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    crow = dstats.agg(
        F.count(F.lit(1)).cast("double").alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    qterms = spark.createDataFrame(BM25_QUERY_TERMS, "query_id long, term string")
    scored = (
        postings.join(F.broadcast(qterms.join(tstats, "term")), "term")
        .join(dstats, "doc_id")
        .withColumn(
            "contrib",
            bm25_score_col(F.col("tf"), F.col("df"), F.col("dl"),
                           float(crow["n"]), float(crow["avgdl"])),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("contrib"), 4).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_K)
        .select("query_id", "rank", "doc_id", "score")
    )


# ---------------------------------------------------------------------------
# Synthetic sentence_results relation (fixture F5) derived from `events`
# so the scoring operators are checkable against the driver's tables.
# ---------------------------------------------------------------------------

_SQL_SENT = """
sent AS (
  SELECT user_id::BIGINT AS doc_id,
         (row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1)::BIGINT AS idx,
         least(value / 20.0, 1.0) AS semantic_score,
         ((event_id % 10) / 10.0) AS rerank_raw,
         event_type AS best_match,
         ((event_id % 7) + 5)::BIGINT AS tokens
  FROM events
),
normed AS (
  SELECT *,
    CASE WHEN max(semantic_score) OVER (PARTITION BY doc_id)
            - min(semantic_score) OVER (PARTITION BY doc_id) > 0.000001
         THEN (semantic_score - min(semantic_score) OVER (PARTITION BY doc_id))
              / (max(semantic_score) OVER (PARTITION BY doc_id)
                 - min(semantic_score) OVER (PARTITION BY doc_id))
         ELSE 0.0 END AS semantic_norm,
    CASE WHEN max(rerank_raw) OVER (PARTITION BY doc_id)
            - min(rerank_raw) OVER (PARTITION BY doc_id) > 0.000001
         THEN (rerank_raw - min(rerank_raw) OVER (PARTITION BY doc_id))
              / (max(rerank_raw) OVER (PARTITION BY doc_id)
                 - min(rerank_raw) OVER (PARTITION BY doc_id))
         ELSE 0.0 END AS rerank_norm
  FROM sent
),
fused AS (
  SELECT *, 0.6 * semantic_norm + 0.3 * rerank_norm + 0.1 * 0.5 AS fused_score
  FROM normed
),
gated AS (
  SELECT *,
    CASE WHEN semantic_score < 0.35 THEN 'LOW'
         WHEN fused_score >= 0.7 AND semantic_norm >= 0.60 THEN 'HIGH'
         WHEN fused_score >= 0.4 AND semantic_norm >= 0.40 THEN 'MEDIUM'
         ELSE 'LOW' END AS risk_level,
    CASE WHEN semantic_norm >= 0.75 THEN 'STRONG'
         WHEN semantic_norm >= 0.55 THEN 'MODERATE'
         WHEN semantic_norm >= 0.40 THEN 'WEAK'
         ELSE 'VERY_WEAK' END AS match_strength,
    fused_score AS confidence_score
  FROM fused
)
"""


def _sentence_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark mirror of the ``gated`` CTE above, via the scoring operators."""
    from docinsight_spark.operators import scoring as S

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("event_id")
    sent = ev.select(
        F.col("user_id").cast("long").alias("doc_id"),
        (F.row_number().over(w) - 1).cast("long").alias("idx"),
        F.least(F.col("value") / 20.0, F.lit(1.0)).alias("semantic_score"),
        ((F.col("event_id") % 10) / 10.0).alias("rerank_raw"),
        F.col("event_type").alias("best_match"),
        ((F.col("event_id") % 7) + 5).cast("long").alias("tokens"),
    )
    sent = S.minmax_normalize(sent, "semantic_score", ["doc_id"], "semantic_norm")
    sent = S.minmax_normalize(sent, "rerank_raw", ["doc_id"], "rerank_norm")
    sent = sent.withColumn("stylometry_score", F.lit(0.5))
    sent = S.fuse_scores(sent, alpha=0.6, beta=0.3, gamma=0.1)
    sent = S.classify_risk(sent)
    return sent.withColumn("confidence_score", F.col("fused_score"))


@_register(
    "risk_gating",
    f"WITH {_SQL_SENT} SELECT doc_id, idx, risk_level, match_strength, "
    "round(fused_score, 4) AS fused_score FROM gated",
)
def risk_gating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 min-max normalization + A10 fusion + risk gating (core.py:30-133)."""
    return _sentence_results(spark, sf_dir).select(
        "doc_id", "idx", "risk_level", "match_strength",
        F.round("fused_score", 4).alias("fused_score"),
    )


@_register(
    "repeated_match_decay",
    f"""WITH {_SQL_SENT},
occ AS (
  SELECT *, CASE WHEN best_match IS NULL OR best_match = '' THEN 0
                 ELSE row_number() OVER (PARTITION BY doc_id, best_match ORDER BY idx)
            END AS occurrence
  FROM gated
),
decayed AS (
  SELECT *, power(0.85, greatest(occurrence - 2, 0)) AS m FROM occ
)
SELECT doc_id, idx, occurrence,
       round(greatest(confidence_score * m, 0.0), 4) AS confidence_score,
       CASE WHEN risk_level = 'HIGH'
                 AND NOT (greatest(fused_score * m, 0.0) >= 0.7 AND semantic_norm >= 0.60)
            THEN CASE WHEN greatest(fused_score * m, 0.0) >= 0.4 AND semantic_norm >= 0.40
                      THEN 'MEDIUM' ELSE 'LOW' END
            WHEN risk_level = 'MEDIUM'
                 AND NOT (greatest(fused_score * m, 0.0) >= 0.4 AND semantic_norm >= 0.40)
            THEN 'LOW'
            ELSE risk_level END AS risk_level
FROM decayed""",
)
def repeated_match_decay_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 repeated-match decay (enhanced_pipeline.py:607-647)."""
    from docinsight_spark.operators.scoring import repeated_match_decay

    out = repeated_match_decay(_sentence_results(spark, sf_dir))
    return out.select(
        "doc_id", "idx", "occurrence",
        F.round("confidence_score", 4).alias("confidence_score"), "risk_level",
    )


_SQL_SPANS = f"""WITH {_SQL_SENT},
risky AS (SELECT * FROM gated WHERE risk_level IN ('HIGH', 'MEDIUM')),
flagged AS (
  SELECT *, CASE WHEN lag(risk_level) OVER w IS NULL THEN 1
                 WHEN lag(risk_level) OVER w <> risk_level THEN 1
                 WHEN idx - lag(idx) OVER w > 1 THEN 1
                 ELSE 0 END AS new_span
  FROM risky WINDOW w AS (PARTITION BY doc_id ORDER BY idx)
),
sessioned AS (
  SELECT *, sum(new_span) OVER (PARTITION BY doc_id ORDER BY idx
                                ROWS UNBOUNDED PRECEDING) AS span_id
  FROM flagged
),
spans AS (
  SELECT doc_id, span_id, risk_level,
         min(idx) AS start_index, max(idx) AS end_index,
         avg(confidence_score) AS avg_score,
         sum(tokens)::BIGINT AS token_count,
         count(*) AS n_sentences,
         arg_min(semantic_norm, idx) AS first_sem_norm
  FROM sessioned GROUP BY doc_id, span_id, risk_level
),
fspans AS (
  SELECT * FROM spans
  WHERE NOT (start_index = end_index AND first_sem_norm < 0.55)
)"""


@_register(
    "risk_spans",
    _SQL_SPANS + """
SELECT doc_id, risk_level, start_index, end_index,
       round(avg_score, 4) AS avg_score, token_count, n_sentences
FROM fspans""",
)
def risk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2/D3 span sessionization (scoring/core.py:139-170, 242-268)."""
    from docinsight_spark.operators.scoring import cluster_risk_spans

    spans = cluster_risk_spans(_sentence_results(spark, sf_dir))
    return spans.select(
        "doc_id", "risk_level", "start_index", "end_index",
        F.round("avg_score", 4).alias("avg_score"), "token_count", "n_sentences",
    )


@_register(
    "originality_report",
    _SQL_SPANS + """,
sent_agg AS (
  SELECT doc_id, count(*)::BIGINT AS total_sentences, sum(tokens)::BIGINT AS total_tokens,
         sum(CASE WHEN risk_level = 'HIGH' THEN 1 ELSE 0 END)::BIGINT AS n_high,
         sum(CASE WHEN risk_level = 'MEDIUM' THEN 1 ELSE 0 END)::BIGINT AS n_medium,
         sum(CASE WHEN risk_level = 'LOW' THEN 1 ELSE 0 END)::BIGINT AS n_low
  FROM gated GROUP BY doc_id
),
span_agg AS (
  SELECT doc_id, sum(token_count)::BIGINT AS plag_tokens,
         sum(avg_score * token_count) / sum(token_count) AS severity_index,
         count(*)::BIGINT AS n_spans
  FROM fspans GROUP BY doc_id
)
SELECT s.doc_id, s.total_sentences, s.total_tokens,
       round(coalesce(a.plag_tokens, 0) / s.total_tokens::DOUBLE, 4) AS plagiarized_coverage,
       round(coalesce(a.severity_index, 0.0), 4) AS severity_index,
       round(coalesce(a.n_spans, 0) / s.total_sentences::DOUBLE, 4) AS risk_span_ratio,
       round(greatest(1.0 - (0.55 * coalesce(a.plag_tokens, 0) / s.total_tokens::DOUBLE
                             + 0.30 * coalesce(a.severity_index, 0.0)
                             + 0.15 * coalesce(a.n_spans, 0) / s.total_sentences::DOUBLE),
                      0.0), 4) AS originality_score,
       s.n_high, s.n_medium, s.n_low
FROM sent_agg s LEFT JOIN span_agg a USING (doc_id)""",
)
def originality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 document originality roll-up (scoring/core.py:181-224)."""
    from docinsight_spark.operators.scoring import (
        cluster_risk_spans,
        originality_scores,
    )

    sent = _sentence_results(spark, sf_dir)
    spans = cluster_risk_spans(sent)
    out = originality_scores(sent, spans)
    return out.select(
        "doc_id", "total_sentences", "total_tokens",
        F.round("plagiarized_coverage", 4).alias("plagiarized_coverage"),
        F.round("severity_index", 4).alias("severity_index"),
        F.round("risk_span_ratio", 4).alias("risk_span_ratio"),
        F.round("originality_score", 4).alias("originality_score"),
        "n_high", "n_medium", "n_low",
    )


# ---------------------------------------------------------------------------
# Stylometry (A3/A4)
# ---------------------------------------------------------------------------

@_register(
    "stylo_features",
    f"""WITH {_SQL_TOKS}
SELECT t.doc_id,
       count(*)::BIGINT AS token_count,
       count(DISTINCT term)::BIGINT AS unique_token_count,
       round(avg(length(term)), 4) AS avg_word_length,
       sum(CASE WHEN term IN ('the','a','an','and','or','but','if','of','to','in','on',
                              'for','with','at','by','from','as','is','was','are','be',
                              'been','it','this','that','not','no','so','than','then')
                THEN 1 ELSE 0 END)::BIGINT AS function_word_count,
       round(count(DISTINCT term) / count(*)::DOUBLE, 4) AS type_token_ratio
FROM toks t GROUP BY t.doc_id""",
)
def stylo_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 doc-level stylometric aggregates (stylometry/features.py:28-96)."""
    from docinsight_spark.operators.stylometry import stylo_features

    out = stylo_features(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "token_count", "unique_token_count",
        F.round("avg_word_length", 4).alias("avg_word_length"),
        "function_word_count",
        F.round("type_token_ratio", 4).alias("type_token_ratio"),
    )


@_register(
    "bigram_entropy",
    f"""WITH {_SQL_TOKS},
pos_toks AS (
  SELECT doc_id, term,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos0) AS pos
  FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term,
           generate_subscripts(string_split_regex(lower(text), '\\s+'), 1) AS pos0
    FROM documents
  ) WHERE term <> ''
),
grams AS (
  SELECT doc_id, term || ' ' || lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS gram
  FROM pos_toks QUALIFY gram IS NOT NULL
),
counts AS (SELECT doc_id, gram, count(*)::DOUBLE AS c FROM grams GROUP BY doc_id, gram),
withp AS (SELECT doc_id, c / sum(c) OVER (PARTITION BY doc_id) AS p FROM counts)
SELECT doc_id, round(sum(-p * log2(p)), 4) AS entropy FROM withp GROUP BY doc_id""",
)
def bigram_entropy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 token-bigram Shannon entropy (stylometry/features.py:147-166)."""
    from docinsight_spark.operators.stylometry import ngram_entropy

    out = ngram_entropy(_docs(spark, sf_dir), n=2)
    return out.select("doc_id", F.round("entropy", 4).alias("entropy"))


# ---------------------------------------------------------------------------
# Dedup / set ops (D2, D5) and corpus stats (A1)
# ---------------------------------------------------------------------------

@_register(
    "dedup_keepmax",
    """SELECT event_id, user_id, event_type, value FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY value DESC, event_id) AS rn
  FROM events
) WHERE rn = 1""",
)
def dedup_keepmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 result dedup keep-max (retrieval/retrieval.py:163-172)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "value")
    )


@_register(
    "orphan_anti_join",
    "SELECT c_custkey, c_name FROM customer WHERE c_custkey NOT IN "
    "(SELECT o_custkey FROM orders)",
)
def orphan_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 orphan detection via left-anti join (docinsight_cli.py:219-240)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return cust.join(
        orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    ).select("c_custkey", "c_name")


@_register(
    "corpus_stats_by_source",
    """SELECT source, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars,
       round(avg(n_chars), 4) AS avg_chars
FROM documents GROUP BY source""",
)
def corpus_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 corpus statistics (db/db_manager.py:112-143)."""
    return (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


@_register(
    "dedup_exact_sha",
    """SELECT text_sha, count(*)::BIGINT AS n, min(doc_id)::BIGINT AS keeper
FROM (SELECT doc_id, sha256(text) AS text_sha FROM documents)
GROUP BY text_sha""",
)
def dedup_exact_sha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 exact dedup via sha256 content hash (db/db_manager.py:215-217)."""
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.sha2(F.col("text"), 256).alias("text_sha"))
        .groupBy("text_sha")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("keeper"))
    )


@_register(
    "threshold_sweep",
    """WITH grid AS (SELECT unnest([30,35,40,45,50,55,60,65,70,75,80,85,90]) AS t),
labeled AS (
  SELECT event_id, least(value / 20.0, 1.0) AS score,
         CASE WHEN value > 10 THEN 1 ELSE 0 END AS label
  FROM events
)
SELECT g.t AS threshold,
       sum(CASE WHEN l.score >= g.t / 100.0 AND l.label = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
       sum(CASE WHEN l.score >= g.t / 100.0 AND l.label = 0 THEN 1 ELSE 0 END)::BIGINT AS fp,
       sum(CASE WHEN l.score < g.t / 100.0 AND l.label = 1 THEN 1 ELSE 0 END)::BIGINT AS fn
FROM grid g CROSS JOIN labeled l GROUP BY g.t""",
)
def threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 threshold-sweep calibration (scripts/evaluate_models.py:80-108)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    labeled = ev.select(
        "event_id",
        F.least(F.col("value") / 20.0, F.lit(1.0)).alias("score"),
        F.when(F.col("value") > 10, 1).otherwise(0).alias("label"),
    )
    grid = spark.range(30, 95, 5).select(F.col("id").cast("int").alias("threshold"))
    pred = F.col("score") >= F.col("threshold") / 100.0
    return (
        labeled.crossJoin(F.broadcast(grid))
        .groupBy("threshold")
        .agg(
            F.sum(F.when(pred & (F.col("label") == 1), 1).otherwise(0)).alias("tp"),
            F.sum(F.when(pred & (F.col("label") == 0), 1).otherwise(0)).alias("fp"),
            F.sum(F.when(~pred & (F.col("label") == 1), 1).otherwise(0)).alias("fn"),
        )
    )


# ---------------------------------------------------------------------------
# Training-data pipeline ops: dedup family, similarity search, text stats
# ---------------------------------------------------------------------------

_SQL_POS_TOKS = """
pos_toks AS (
  SELECT doc_id, term,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos0) AS pos
  FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term,
           generate_subscripts(string_split_regex(lower(text), '\\s+'), 1) AS pos0
    FROM documents
  ) WHERE term <> ''
)
"""

_SQL_SHINGLES = _SQL_POS_TOKS + """,
sh AS (
  SELECT DISTINCT doc_id AS id, shingle FROM (
    SELECT doc_id,
           term || ' ' || lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS shingle,
           lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS l
    FROM pos_toks
  ) WHERE l IS NOT NULL
)
"""

_MH_N_HASHES, _MH_BANDS = 8, 4


def _minhash_sql() -> str:
    hcols = ", ".join(
        f"min(md5('mh{i}:' || shingle)) AS h{i}" for i in range(_MH_N_HASHES)
    )
    rows = _MH_N_HASHES // _MH_BANDS
    bands = []
    for b in range(_MH_BANDS):
        cols = " || '|' || ".join(f"h{b * rows + r}" for r in range(rows))
        bands.append(
            f"SELECT id, {b} AS band_id, md5({cols}) AS bkey FROM sigs"
        )
    banded = " UNION ALL ".join(bands)
    return f"""WITH {_SQL_SHINGLES},
sigs AS (SELECT id, {hcols} FROM sh GROUP BY id),
banded AS ({banded}),
capped AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY band_id, bkey) AS bn FROM banded
  ) WHERE bn <= 50
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM capped a JOIN capped b USING (band_id, bkey)
  WHERE a.id < b.id
),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*)::BIGINT AS n_inter
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.id < b.id GROUP BY 1, 2
),
sizes AS (SELECT id, count(*)::BIGINT AS n_sh FROM sh GROUP BY id)
SELECT i.id_a, i.id_b,
       round(i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter)::DOUBLE, 4) AS jaccard
FROM inter i
JOIN cand c ON c.id_a = i.id_a AND c.id_b = i.id_b
JOIN sizes sa ON sa.id = i.id_a
JOIN sizes sb ON sb.id = i.id_b
WHERE i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter)::DOUBLE >= 0.5
"""


def _neardup_delta_sql() -> str:
    """Oracle for the INCREMENTAL near-dup gate: even doc_ids are the
    persisted store, odd doc_ids the arriving delta; the gate's
    semantics cap band buckets on the STORE side only and verify exact
    Jaccard for (delta, store) candidates."""
    hcols = ", ".join(
        f"min(md5('mh{i}:' || shingle)) AS h{i}" for i in range(_MH_N_HASHES)
    )
    rows = _MH_N_HASHES // _MH_BANDS
    bands = []
    for b in range(_MH_BANDS):
        cols = " || '|' || ".join(f"h{b * rows + r}" for r in range(rows))
        bands.append(
            f"SELECT id, {b} AS band_id, md5({cols}) AS bkey FROM sigs"
        )
    banded = " UNION ALL ".join(bands)
    return f"""WITH {_SQL_SHINGLES},
sigs AS (SELECT id, {hcols} FROM sh GROUP BY id),
banded AS ({banded}),
base_b AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY band_id, bkey) AS bn
    FROM banded WHERE id % 2 = 0
  ) WHERE bn <= 50
),
delta_b AS (SELECT * FROM banded WHERE id % 2 = 1),
cand AS (
  SELECT DISTINCT d.id AS new_id, b.id AS base_id
  FROM delta_b d JOIN base_b b USING (band_id, bkey)
),
inter AS (
  SELECT d.id AS new_id, b.id AS base_id, count(*)::BIGINT AS n_inter
  FROM sh d JOIN sh b USING (shingle)
  WHERE d.id % 2 = 1 AND b.id % 2 = 0
  GROUP BY 1, 2
),
sizes AS (SELECT id, count(*)::BIGINT AS n_sh FROM sh GROUP BY id)
SELECT c.new_id, c.base_id,
       round(i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter)::DOUBLE, 4) AS jaccard
FROM cand c
JOIN inter i ON i.new_id = c.new_id AND i.base_id = c.base_id
JOIN sizes sa ON sa.id = c.new_id
JOIN sizes sb ON sb.id = c.base_id
WHERE i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter)::DOUBLE >= 0.5
"""


@_register("neardup_delta_gate", _neardup_delta_sql())
def neardup_delta_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup gate (round 5): even doc_ids registered in a
    persisted NearDupStore, odd doc_ids probe it — delta-only shingling,
    band-key equi-join against stored signatures, exact Jaccard verify
    on candidates.  Hash-matches a full DuckDB recompute restricted to
    (delta, store) pairs.  Reference analog: the content-hash ingest
    gate (``/root/reference/pipeline_ingest.py:265-269``) generalized
    to near-duplicates."""
    import tempfile

    from docinsight_spark.index.neardup import NearDupStore

    docs = _docs(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="contract_ndstore_")
    s = NearDupStore(
        spark, root, n=2, n_hashes=_MH_N_HASHES, bands=_MH_BANDS,
        max_bucket=50,
    )
    s.add(
        docs.filter(F.col("doc_id") % 2 == 0), "base",
        id_col="doc_id", text_col="text",
    )
    got = s.probe(
        docs.filter(F.col("doc_id") % 2 == 1),
        id_col="doc_id", text_col="text", threshold=0.5,
    )
    return got.select(
        "new_id", "base_id", F.round("jaccard", 4).alias("jaccard")
    )


@_register("minhash_lsh_neardup", _minhash_sql())
def minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate detection (shingle → minhash → band →
    bucket join → exact Jaccard ≥ 0.5)."""
    from docinsight_spark.operators.dedup import minhash_near_duplicates

    docs = _docs(spark, sf_dir)
    out = minhash_near_duplicates(
        docs, "doc_id", "text", n=2, n_hashes=_MH_N_HASHES, bands=_MH_BANDS,
        threshold=0.5,
    )
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def _simhash_core() -> str:
    """CTE chain ending in ``sigs(doc_id, simhash)``."""
    bit_sums = ", ".join(
        "sum(tf * (((CAST('0x' || substr(md5(term), 1, 8) AS BIGINT) // "
        f"{2 ** j}) % 2) * 2 - 1)) AS s{j}"
        for j in range(32)
    )
    sig = " + ".join(f"CASE WHEN s{j} > 0 THEN {2 ** j} ELSE 0 END" for j in range(32))
    return f"""{_SQL_TOKS},
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY doc_id, term),
sums AS (SELECT doc_id, {bit_sums} FROM tf GROUP BY doc_id),
sigs AS (SELECT doc_id, ({sig})::BIGINT AS simhash FROM sums)"""


@_register(
    "simhash_sigs", f"WITH {_simhash_core()} SELECT doc_id, simhash FROM sigs"
)
def simhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-weighted 32-bit SimHash signatures."""
    from docinsight_spark.operators.dedup import simhash

    return simhash(_docs(spark, sf_dir), "doc_id", "text").select(
        F.col("id").alias("doc_id"), "simhash"
    )


_SIMHAM_DIST = 3


@_register(
    "simhash_hamming",
    f"""WITH {_simhash_core()},
blk AS (
  SELECT doc_id, simhash, unnest([0, 1, 2, 3]) AS blk_i FROM sigs
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sa, b.simhash AS sb
  FROM blk a JOIN blk b
    ON a.blk_i = b.blk_i
   AND ((a.simhash >> (a.blk_i * 8)) & 255) = ((b.simhash >> (b.blk_i * 8)) & 255)
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, bit_count(xor(sa, sb))::BIGINT AS hamming
FROM pairs WHERE bit_count(xor(sa, sb)) <= {_SIMHAM_DIST}""",
)
def simhash_hamming_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance 3 via the 4-way
    block index join (never all-pairs)."""
    from docinsight_spark.operators.dedup import simhash, simhash_hamming_pairs

    sig = simhash(_docs(spark, sf_dir), "doc_id", "text")
    out = simhash_hamming_pairs(sig, max_distance=_SIMHAM_DIST)
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


_EMB_TOPK_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
qx AS (
  SELECT query_id, unnest(embedding) AS v,
         generate_subscripts(embedding, 1) AS pos
  FROM q
),
cx AS (
  SELECT vec_id, unnest(embedding) AS v,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
),
dots AS (
  SELECT q.query_id, c.vec_id,
         sum(q.v * c.v) AS dot,
         sqrt(sum(q.v * q.v)) AS nq,
         sqrt(sum(c.v * c.v)) AS nc
  FROM qx q JOIN cx c USING (pos)
  GROUP BY 1, 2
),
scored AS (
  SELECT query_id, vec_id, round(dot / (nq * nc), 4) AS cosine FROM dots
)
SELECT query_id, rank, vec_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 5
"""


@_register("embedding_cosine_topk", _EMB_TOPK_SQL)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 ANN baseline over the embeddings table."""
    from docinsight_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    scored = cosine_topk(emb, queries, k=500000)  # rank on rounded below
    scored = scored.select(
        "query_id", "vec_id", F.round("cosine", 4).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "rank", "vec_id", "cosine")
    )


# Generated from the SAME marker table the Spark operators use — the
# oracle can never drift from the implementation when languages widen.
from docinsight_spark.operators.textstats import LANG_MARKERS as _LANG_MARKERS

_LANGS_SQL_MARKERS = {
    lg: "(" + ",".join(f"'{w}'" for w in ws) + ")"
    for lg, ws in _LANG_MARKERS.items()
}


def _language_id_sql() -> str:
    ratios = ", ".join(
        f"sum(CASE WHEN term IN {ws} THEN 1 ELSE 0 END) / greatest(count(*), 1)::DOUBLE AS r_{lg}"
        for lg, ws in _LANGS_SQL_MARKERS.items()
    )
    # iterated CASE fold replaying Spark's exactly: start at the FIRST
    # language, each later language wins only on strictly greater ratio
    langs = list(_LANGS_SQL_MARKERS)
    lang_expr, conf_expr = f"'{langs[0]}'", f"r_{langs[0]}"
    for lg in langs[1:]:
        lang_expr = (
            f"CASE WHEN r_{lg} > ({conf_expr}) THEN '{lg}' "
            f"ELSE {lang_expr} END"
        )
        conf_expr = (
            f"CASE WHEN r_{lg} > ({conf_expr}) THEN r_{lg} "
            f"ELSE ({conf_expr}) END"
        )
    return f"""WITH toks1k AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(string_split_regex(lower(substr(text, 1, 1000)), '\\s+')) AS term
    FROM documents
  ) WHERE term <> ''
),
r AS (SELECT doc_id, {ratios} FROM toks1k GROUP BY doc_id)
SELECT doc_id,
  {lang_expr} AS lang_pred,
  round({conf_expr}, 4) AS lang_conf
FROM r"""


@_register("language_id", _language_id_sql())
def language_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-heuristic language ID (reference: langdetect on 1000 chars)."""
    from docinsight_spark.operators.textstats import language_id

    return language_id(_docs(spark, sf_dir)).select("doc_id", "lang_pred", "lang_conf")


_QS_STOP_GREATEST = "greatest(" + ", ".join(
    f"sum(CASE WHEN term IN {ws} THEN 1 ELSE 0 END)"
    f" / greatest(count(*), 1)::DOUBLE"
    for ws in _LANGS_SQL_MARKERS.values()
) + ")"


@_register(
    "quality_score",
    f"""WITH {_SQL_TOKS},
t AS (
  SELECT doc_id, count(*)::BIGINT AS n,
         sum(length(term))::DOUBLE / greatest(count(*), 1) AS mean_wl,
         {_QS_STOP_GREATEST} AS stop_ratio,
         count(DISTINCT term) / greatest(count(*), 1)::DOUBLE AS distinct_ratio
  FROM toks GROUP BY doc_id
),
d AS (
  SELECT doc_id,
         length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))
           / greatest(length(text), 1)::DOUBLE AS alpha_ratio,
         length(replace(text, chr(10), ''))
           / greatest(length(text) - length(replace(text, chr(10), '')) + 1,
                      1)::DOUBLE AS mean_line
  FROM documents
)
SELECT t.doc_id,
  round(0.2 * (CASE WHEN n >= 10 AND n <= 100000 THEN 1.0 ELSE 0.0 END)
      + 0.15 * (CASE WHEN mean_wl >= 2.0 AND mean_wl <= 12.0 THEN 1.0 ELSE 0.0 END)
      + 0.2 * (CASE WHEN mean_line >= 6.0 AND mean_line <= 150.0 THEN 1.0 ELSE 0.0 END)
      + 0.15 * least(stop_ratio * 5, 1.0)
      + 0.2 * distinct_ratio
      + 0.1 * alpha_ratio + 0.000000001, 4) AS quality_score
FROM t JOIN d USING (doc_id)""",
)
def quality_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality score (length/stopword/repetition bands)."""
    from docinsight_spark.operators.textstats import quality_score

    return quality_score(_docs(spark, sf_dir)).select("doc_id", "quality_score")


@_register(
    "token_counts",
    """SELECT doc_id,
       length(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
         - length(regexp_replace(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ', '', 'g'))
         + (CASE WHEN length(trim(text)) > 0 THEN 1 ELSE 0 END) AS ws_tokens,
       length(regexp_replace(text, '[A-Za-z0-9]+', chr(1), 'g'))
         - length(regexp_replace(regexp_replace(text, '[A-Za-z0-9]+', chr(1), 'g'), chr(1), '', 'g'))
         + length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS bpeish_tokens
FROM documents""",
)
def token_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counting."""
    from docinsight_spark.operators.textstats import token_counts

    out = token_counts(_docs(spark, sf_dir))
    return out.select(
        "doc_id", F.col("ws_tokens").cast("long").alias("ws_tokens"),
        F.col("bpeish_tokens").cast("long").alias("bpeish_tokens"),
    )


@_register(
    "doc_fingerprint",
    f"""WITH {_SQL_TOKS},
dt AS (SELECT DISTINCT doc_id, md5(term) AS th FROM toks),
mins AS (
  SELECT doc_id,
         array_to_string(list_slice(list_sort(list(th)), 1, 5), '|') AS sketch
  FROM dt GROUP BY doc_id
)
SELECT doc_id AS id, md5(sketch) AS fingerprint FROM mins""",
)
def doc_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min-k hash sketch fingerprint per document."""
    from docinsight_spark.operators.textstats import doc_fingerprint

    return doc_fingerprint(_docs(spark, sf_dir), "doc_id", "text", k=5)


# ---------------------------------------------------------------------------
# Chunking (C2/P7) and roll-ups (A7)
# ---------------------------------------------------------------------------

_CHUNK_W, _CHUNK_OV, _CHUNK_MAX = 200, 40, 100
_CHUNK_STEP = _CHUNK_W - _CHUNK_OV


@_register(
    "chunk_sliding",
    f"""WITH starts AS (
  SELECT doc_id, text,
         unnest(generate_series(1,
             least(greatest(length(text), 1), 1 + {_CHUNK_STEP} * ({_CHUNK_MAX} - 1)),
             {_CHUNK_STEP})) AS start,
         generate_subscripts(generate_series(1,
             least(greatest(length(text), 1), 1 + {_CHUNK_STEP} * ({_CHUNK_MAX} - 1)),
             {_CHUNK_STEP}), 1) AS ord
  FROM documents
)
SELECT doc_id::BIGINT AS id, (ord - 1)::BIGINT AS ordinal, start::BIGINT AS start,
       substring(text, start, {_CHUNK_W}) AS chunk
FROM starts WHERE length(substring(text, start, {_CHUNK_W})) > 0""",
)
def chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2/P7 sliding-window chunking (pipeline_ingest.py:143-170)."""
    from docinsight_spark.operators.chunking import sliding_window_chunks

    out = sliding_window_chunks(
        _docs(spark, sf_dir), "doc_id", "text",
        window_chars=_CHUNK_W, overlap_chars=_CHUNK_OV, max_chunks=_CHUNK_MAX,
    )
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("ordinal").cast("long").alias("ordinal"),
        F.col("start").cast("long").alias("start"),
        "chunk",
    )


@_register(
    "semantic_risk_rollup",
    f"""WITH {_SQL_SENT}
SELECT doc_id,
       round(0.5 * avg(semantic_score)
           + 0.3 * avg(CASE WHEN risk_level = 'HIGH' THEN 1.0 ELSE 0.0 END)
           + 0.2 * avg(CASE WHEN risk_level = 'MEDIUM' THEN 1.0 ELSE 0.0 END), 4)
         AS semantic_risk,
       round(avg(semantic_score), 4) AS avg_similarity,
       round(avg(CASE WHEN risk_level = 'HIGH' THEN 1.0 ELSE 0.0 END), 4) AS high_ratio,
       round(avg(CASE WHEN risk_level = 'MEDIUM' THEN 1.0 ELSE 0.0 END), 4) AS medium_ratio
FROM gated GROUP BY doc_id""",
)
def semantic_risk_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 semantic risk roll-up (scoring/aggregate.py:113-147)."""
    from docinsight_spark.operators.scoring import semantic_risk_rollup

    out = semantic_risk_rollup(_sentence_results(spark, sf_dir))
    return out.select(
        "doc_id",
        F.round("semantic_risk", 4).alias("semantic_risk"),
        F.round("avg_similarity", 4).alias("avg_similarity"),
        F.round("high_ratio", 4).alias("high_ratio"),
        F.round("medium_ratio", 4).alias("medium_ratio"),
    )


# ---------------------------------------------------------------------------
# D4 / A11 / A6+A8 and rows-only engine-native entries
# ---------------------------------------------------------------------------

@_register(
    "ordered_dedup_limit",
    """SELECT user_id, event_type, event_id FROM (
  SELECT user_id, event_type, event_id,
         row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
  FROM events
) WHERE rn = 1 ORDER BY event_id LIMIT 50""",
)
def ordered_dedup_limit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 order-preserving dedup + cap (wiki_loader.py:56-60)."""
    from docinsight_spark.operators.normalize import ordered_dedup_limit

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "_k", F.concat_ws("|", F.col("user_id"), F.col("event_type"))
    )
    out = ordered_dedup_limit(ev, "_k", "event_id", limit=50)
    return out.select("user_id", "event_type", "event_id")


@_register(
    "confidence_estimate",
    """SELECT user_id::BIGINT AS doc_id,
       round(least(count(*) / 20.0, 1.0), 4) AS analysis_confidence
FROM events GROUP BY user_id""",
)
def confidence_estimate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 volume-based confidence (scoring/aggregate.py:306-332)."""
    from docinsight_spark.operators.scoring import confidence_estimate

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").cast("long").alias("doc_id")
    )
    return confidence_estimate(ev, cap_at=20)


_PROFILE_FEATS = ["token_count", "unique_token_count", "avg_word_length"]


def _profile_deviation_sql() -> str:
    feats = ", ".join(
        f"count(*)::DOUBLE AS token_count" if f == "token_count"
        else f"count(DISTINCT term)::DOUBLE AS unique_token_count" if f == "unique_token_count"
        else "avg(length(term)) AS avg_word_length"
        for f in _PROFILE_FEATS
    )
    deltas = " + ".join(
        f"least(abs(a.{f} - b.{f}) / greatest(abs(a.{f}), abs(b.{f}), 1e-9), 1.0)"
        for f in _PROFILE_FEATS
    )
    return f"""WITH {_SQL_TOKS},
prof AS (SELECT doc_id, {feats} FROM toks GROUP BY doc_id),
small AS (SELECT * FROM prof WHERE doc_id < 10)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(({deltas}) / {len(_PROFILE_FEATS)}.0, 4) AS deviation,
       round(1.0 - ({deltas}) / {len(_PROFILE_FEATS)}.0, 4) AS similarity
FROM small a CROSS JOIN small b"""


@_register("profile_deviation", _profile_deviation_sql())
def profile_deviation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 stylometric profile comparison (stylometry/features.py:234-273)."""
    from docinsight_spark.operators.stylometry import compare_profiles, stylo_features

    prof = stylo_features(_docs(spark, sf_dir)).filter(F.col("doc_id") < 10)
    prof = prof.select(
        "doc_id",
        *[F.col(c).cast("double").alias(c) for c in _PROFILE_FEATS],
    )
    out = compare_profiles(prof, prof, _PROFILE_FEATS)
    return out.select(
        "id_a", "id_b",
        F.round("deviation", 4).alias("deviation"),
        F.round("similarity", 4).alias("similarity"),
    )


# LSH ANN: the hyperplanes are seeded literals
# (operators/similarity.py: hyperplanes()), so the same float constants
# are embedded in BOTH the Spark plan and the generated DuckDB SQL —
# the bucket assignment and therefore the candidate set match exactly.

_LSH_PLANES, _LSH_TABLES, _LSH_DIM, _LSH_K = 4, 4, 64, 5


def _lsh_ann_sql() -> str:
    from docinsight_spark.operators.similarity import hyperplanes

    rows = []
    for t in range(_LSH_TABLES):
        for i, p in enumerate(hyperplanes(_LSH_DIM, _LSH_PLANES, seed=42 + 1000 * t)):
            lit = ", ".join(repr(float(x)) for x in p)
            rows.append(f"({t}, {1 << i}, [{lit}]::DOUBLE[])")
    planes = ", ".join(rows)
    return f"""
WITH planes(t, po, w) AS (VALUES {planes}),
cb AS (
  SELECT e.vec_id, p.t,
         sum(CASE WHEN round(list_dot_product(e.embedding::DOUBLE[], p.w), 7) >= 0
                  THEN p.po ELSE 0 END)::INT AS bkt
  FROM embeddings e CROSS JOIN planes p
  GROUP BY e.vec_id, p.t
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id
  FROM cb q JOIN cb c USING (t, bkt)
  WHERE q.vec_id < {_LSH_K}
),
qx AS (
  SELECT vec_id AS query_id, unnest(embedding) AS v,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings WHERE vec_id < {_LSH_K}
),
cx AS (
  SELECT vec_id, unnest(embedding) AS v,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
),
dots AS (
  SELECT q.query_id, c.vec_id,
         sum(q.v * c.v) AS dot,
         sqrt(sum(q.v * q.v)) AS nq,
         sqrt(sum(c.v * c.v)) AS nc
  FROM qx q JOIN cx c USING (pos)
  JOIN cand ON cand.query_id = q.query_id AND cand.vec_id = c.vec_id
  GROUP BY 1, 2
),
scored AS (
  SELECT query_id, vec_id, round(dot / (nq * nc), 4) AS cosine FROM dots
)
SELECT query_id, rank, vec_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= {_LSH_K}
"""


@_register("lsh_ann_topk", _lsh_ann_sql())
def lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k; rank assigned after 4-dp
    rounding so the DuckDB oracle replays it exactly."""
    from docinsight_spark.operators.similarity import lsh_candidates

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < _LSH_K).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    scored = lsh_candidates(
        emb, q, n_planes=_LSH_PLANES, n_tables=_LSH_TABLES, dim=_LSH_DIM
    ).select("query_id", "vec_id", F.round("cosine", 4).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _LSH_K)
        .select("query_id", "rank", "vec_id", "cosine")
    )


# IVF ANN: fixed seeded unit centroids (similarity.py:ivf_seed_centroids)
# are embedded as literals in BOTH the Spark plan and the generated
# DuckDB SQL — assignment and probe ranking happen on 7-dp-rounded dot
# products against RAW vectors (positive scaling never flips an argmax
# against unit centroids), so Voronoi cells, probes, and the rescored
# candidates match exactly.  The KMeans-fitted IVF variant keeps its
# recall/probe-metric pytest coverage (test_dedup_similarity.py).

_IVF_CENTS, _IVF_NPROBE, _IVF_K, _IVF_DIM, _IVF_DEC = 8, 3, 5, 64, 7


def _ivf_ann_sql() -> str:
    from docinsight_spark.operators.similarity import ivf_seed_centroids

    cents = ivf_seed_centroids(_IVF_DIM, _IVF_CENTS, seed=4242)
    rows = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    return f"""
WITH cents(ci, w) AS (VALUES {rows}),
celldots AS (
  SELECT e.vec_id, c.ci,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY round(list_dot_product(e.embedding::DOUBLE[], c.w),
                          {_IVF_DEC}) DESC, c.ci) AS rn
  FROM embeddings e CROSS JOIN cents c
),
asg AS (SELECT vec_id, ci FROM celldots WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, ci FROM celldots
  WHERE vec_id < {_IVF_K} AND rn <= {_IVF_NPROBE}
),
cand AS (
  SELECT DISTINCT p.query_id, a.vec_id
  FROM probes p JOIN asg a USING (ci)
),
qx AS (
  SELECT vec_id AS query_id, unnest(embedding) AS v,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings WHERE vec_id < {_IVF_K}
),
cx AS (
  SELECT vec_id, unnest(embedding) AS v,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
),
dots AS (
  SELECT q.query_id, c.vec_id,
         sum(q.v * c.v) AS dot,
         sqrt(sum(q.v * q.v)) AS nq,
         sqrt(sum(c.v * c.v)) AS nc
  FROM qx q JOIN cx c USING (pos)
  JOIN cand ON cand.query_id = q.query_id AND cand.vec_id = c.vec_id
  GROUP BY 1, 2
),
scored AS (
  SELECT query_id, vec_id, round(dot / (nq * nc), 4) AS cosine FROM dots
)
SELECT query_id, rank, vec_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= {_IVF_K}
"""


@_register("ivf_ann_topk", _ivf_ann_sql())
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k over a fixed seeded coarse quantizer — the full IVF
    query machinery (cell assignment, nprobe probe, pruned rescore)
    hash-verified against the DuckDB oracle.  Reference analog: FAISS
    index search, /root/reference/index/faiss_index.py:162-199."""
    from docinsight_spark.operators.similarity import (
        ivf_fixed_candidates,
        ivf_seed_centroids,
    )

    cents = ivf_seed_centroids(_IVF_DIM, _IVF_CENTS, seed=4242)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    scored = ivf_fixed_candidates(
        emb, q, cents, nprobe=_IVF_NPROBE, decimals=_IVF_DEC
    ).select("query_id", "vec_id", F.round("cosine", 4).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _IVF_K)
        .select("query_id", "rank", "vec_id", "cosine")
    )


# WAND fast path: the contract index is built with the SQL-expressible
# whitespace tokenizer (code_aware=False), so the exact BM25 SQL oracle
# replays the whole segment path (build → encode → MaxScore → global
# merge).  Ranks are assigned after 4-dp rounding on
# both sides; the fast path over-retrieves so rounded-tie boundaries
# resolve identically.

WAND_QUERIES: list[tuple[int, str]] = [
    (0, "spark join table"),
    (1, "window batch stream"),
    (2, "customer query"),
]
_WAND_TERMS: list[tuple[int, str]] = [
    (q, t) for q, text in WAND_QUERIES for t in text.split()
]
WAND_K, _WAND_OVERFETCH = 10, 30


@_register("wand_topk", _bm25_oracle_sql(_WAND_TERMS, WAND_K, doc_id_alias="doc_id"))
def wand_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-max fast path end-to-end: build a segment index over the
    documents table (as a corpus) in a temp dir, query it, and map the
    engine's hash docIDs back to the table's doc_id for the oracle."""
    import tempfile

    from docinsight_spark.index.builder import IndexBuilder
    from docinsight_spark.index.wand import wand_search

    docs = _docs(spark, sf_dir).select(
        F.lit("sf/docs").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id")).alias("path"),
        F.lit("0000").alias("commit"),
        F.lit("en").alias("lang"),
        F.col("text").alias("content"),
    )
    idx = tempfile.mkdtemp(prefix="contract_wand_")
    b = IndexBuilder(spark, idx, n_buckets=8, code_aware=False)
    b.build(docs)
    queries = spark.createDataFrame(WAND_QUERIES, "query_id long, query_text string")
    res = wand_search(spark, idx, queries, k=_WAND_OVERFETCH)
    dim = b.docs_dim().select(
        "docID", F.expr("CAST(substr(path, 5) AS LONG)").alias("doc_id")
    )
    scored = res.join(dim, "docID").select(
        "query_id", "doc_id", F.round("score", 4).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= WAND_K)
        .select("query_id", "rank", "doc_id", "score")
    )


# Incremental O(delta) refresh under the oracle gate (round 4): the
# index is built over HALF the table, the other half arrives as a later
# run folded in by refresh_delta() — a separate segment generation — and
# the multi-generation WAND path must reproduce the exact BM25 SQL oracle
# computed over the FULL table (global N/avgdl/df exactness + admissible
# query-time bounds after avgdl moved, hash-checked).

_WANDINC_QUERIES: list[tuple[int, str]] = [
    (0, "scan filter sort"),
    (1, "hash agg merge"),
    (2, "order stream window"),
]
_WANDINC_TERMS: list[tuple[int, str]] = [
    (q, t) for q, text in _WANDINC_QUERIES for t in text.split()
]


@_register(
    "wand_topk_incremental",
    _bm25_oracle_sql(_WANDINC_TERMS, WAND_K, doc_id_alias="doc_id"),
)
def wand_topk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O(delta) refresh end-to-end: base build over even doc_ids, odd
    doc_ids folded in later as a delta generation (IndexBuilder.
    refresh_delta — the base segments are not re-encoded), then the
    WAND fast path over BOTH segment sets.  Reference analog:
    incremental index update, /root/reference/index/index_manager.py:124-201."""
    import tempfile

    from docinsight_spark.index.builder import IndexBuilder
    from docinsight_spark.index.wand import wand_search

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id"),
        F.lit("sf/docs").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id")).alias("path"),
        F.lit("0000").alias("commit"),
        F.lit("en").alias("lang"),
        F.col("text").alias("content"),
    )
    idx = tempfile.mkdtemp(prefix="contract_wandinc_")
    b = IndexBuilder(spark, idx, n_buckets=8, code_aware=False)
    b.build(docs.filter(F.col("doc_id") % 2 == 0).drop("doc_id"))
    b.add_run(docs.filter(F.col("doc_id") % 2 == 1).drop("doc_id"), "delta")
    b.refresh_delta()
    queries = spark.createDataFrame(
        _WANDINC_QUERIES, "query_id long, query_text string"
    )
    res = wand_search(spark, idx, queries, k=_WAND_OVERFETCH)
    dim = b.docs_dim().select(
        "docID", F.expr("CAST(substr(path, 5) AS LONG)").alias("doc_id")
    )
    scored = res.join(dim, "docID").select(
        "query_id", "doc_id", F.round("score", 4).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= WAND_K)
        .select("query_id", "rank", "doc_id", "score")
    )


# O(delta) doc-level DELETE under the oracle gate (round 5): build over
# the FULL table, tombstone-delete every doc_id divisible by 3
# (IndexBuilder.delete_docs — no segment rewrite, no rebuild: per-root
# docID tombstones + df corrections + exact N/avgdl fix in _meta.json),
# then query the fast path.  The oracle recomputes BM25 from scratch
# over ONLY the surviving rows — stats, idf and ranks must match a
# rebuild-without-victims exactly.  Reference analog: cascade
# purge_source, /root/reference/db/db_manager.py:145-165.

_WANDDEL_QUERIES: list[tuple[int, str]] = [
    (0, "index scan merge"),
    (1, "group filter join"),
    (2, "stream batch sort"),
]
_WANDDEL_TERMS: list[tuple[int, str]] = [
    (q, t) for q, text in _WANDDEL_QUERIES for t in text.split()
]


@_register(
    "wand_topk_deleted",
    _bm25_oracle_sql(
        _WANDDEL_TERMS, WAND_K, doc_id_alias="doc_id",
        doc_where="doc_id % 3 <> 0",
    ),
)
def wand_topk_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone-delete end-to-end: the multi-root WAND path over a
    tombstoned index must reproduce the exact BM25 SQL oracle computed
    over the surviving documents only (docID exclusion in the kernel +
    corrected N/avgdl + lazily-summed df negatives, hash-checked)."""
    import tempfile

    from docinsight_spark.index.builder import IndexBuilder
    from docinsight_spark.index.wand import wand_search

    docs = _docs(spark, sf_dir).select(
        F.lit("sf/docs").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id")).alias("path"),
        F.lit("0000").alias("commit"),
        F.lit("en").alias("lang"),
        F.col("text").alias("content"),
    )
    idx = tempfile.mkdtemp(prefix="contract_wanddel_")
    b = IndexBuilder(spark, idx, n_buckets=8, code_aware=False)
    b.build(docs)
    dim = b.docs_dim().select(
        "docID", F.expr("CAST(substr(path, 5) AS LONG)").alias("doc_id")
    )
    assert b.delete_docs(
        dim.filter(F.col("doc_id") % 3 == 0).select("docID")
    ) is not None
    queries = spark.createDataFrame(
        _WANDDEL_QUERIES, "query_id long, query_text string"
    )
    res = wand_search(spark, idx, queries, k=_WAND_OVERFETCH)
    scored = res.join(dim, "docID").select(
        "query_id", "doc_id", F.round("score", 4).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= WAND_K)
        .select("query_id", "rank", "doc_id", "score")
    )


# Resurrection under the oracle gate (round 5): build over the FULL
# table, tombstone-delete every doc_id divisible by 3, then RE-INGEST
# those very rows (IndexBuilder.add_run re-admits a docID once every
# past copy is dead) and fold them into a generation.  Markers are
# root-scoped — the dead base copies stay excluded, the new generation
# copies score — so the fast path must reproduce the exact BM25 oracle
# over the FULL table, as if the delete never happened (N/avgdl/df
# restored exactly, newest-root-wins doc lengths, hash-checked).
# Reference analog: re-running ingest after a source purge,
# /root/reference/pipeline_ingest.py + db_manager.py:145-165.

_WANDREZ_QUERIES: list[tuple[int, str]] = [
    (0, "merge scan window"),
    (1, "join batch filter"),
    (2, "sort stream hash"),
]
_WANDREZ_TERMS: list[tuple[int, str]] = [
    (q, t) for q, text in _WANDREZ_QUERIES for t in text.split()
]


@_register(
    "wand_topk_resurrected",
    _bm25_oracle_sql(_WANDREZ_TERMS, WAND_K, doc_id_alias="doc_id"),
)
def wand_topk_resurrected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete + re-ingest end-to-end: tombstone a third of the corpus,
    ingest the same rows again, refresh — and the multi-root WAND path
    (per-root exclusion, newest-root doc stats, restored df) must match
    the oracle computed over the full, never-deleted table."""
    import tempfile

    from docinsight_spark.index.builder import IndexBuilder
    from docinsight_spark.index.wand import wand_search

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id"),
        F.lit("sf/docs").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id")).alias("path"),
        F.lit("0000").alias("commit"),
        F.lit("en").alias("lang"),
        F.col("text").alias("content"),
    )
    idx = tempfile.mkdtemp(prefix="contract_wandrez_")
    b = IndexBuilder(spark, idx, n_buckets=8, code_aware=False)
    b.build(docs.drop("doc_id"))
    dim = b.docs_dim().select(
        "docID", F.expr("CAST(substr(path, 5) AS LONG)").alias("doc_id")
    )
    assert b.delete_docs(
        dim.filter(F.col("doc_id") % 3 == 0).select("docID")
    ) is not None
    b.add_run(docs.filter(F.col("doc_id") % 3 == 0).drop("doc_id"), "rez")
    assert b.refresh_delta() is not None
    queries = spark.createDataFrame(
        _WANDREZ_QUERIES, "query_id long, query_text string"
    )
    res = wand_search(spark, idx, queries, k=_WAND_OVERFETCH)
    scored = res.join(dim, "docID").select(
        "query_id", "doc_id", F.round("score", 4).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= WAND_K)
        .select("query_id", "rank", "doc_id", "score")
    )


# ---------------------------------------------------------------------------
# Exact PHRASE top-k over positional postings (round 5).  The index is
# built with positions=True (term token-offsets ride the merged
# postings; the WAND segments never carry them) and
# index.phrase.phrase_search intersects offsets: a phrase occurrence is
# a (doc, start) hit by EVERY phrase offset, tf = occurrence count,
# df = matching docs, BM25 over the index's live N/avgdl.  The oracle
# rebuilds the token stream WITH positions in SQL (DuckDB zipped
# unnest) and replays the same base-offset intersection — adjacency
# semantics are defined on the token stream on BOTH engines, so
# overlapping/self-overlapping phrases agree by construction.
# Reference analog: matched-span evidence in the report
# (/root/reference/analysis/report_builder.py).
# ---------------------------------------------------------------------------

PHRASE_QUERIES: list[tuple[int, str]] = [
    (0, "part filter"),
    (1, "merge group"),
    (2, "big order scan"),
    (3, "table hash"),
]
_PHRASE_OVERFETCH = 200  # > any phrase's df at the gate SF: no rank boundary


def _phrase_oracle_sql(
    phrases: list[tuple[int, str]] = PHRASE_QUERIES, k: int = BM25_K
) -> str:
    offs = [
        (q, i, t)
        for q, text in phrases
        for i, t in enumerate(text.lower().split())
    ]
    vals = ", ".join(f"({q}, {i}, '{t}')" for q, i, t in offs)
    return f"""
WITH ptoks AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(len(toks)))::BIGINT AS pos
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
    FROM documents
  )
),
offs(query_id, off, term) AS (VALUES {vals}),
noff AS (SELECT query_id, count(*)::BIGINT AS n FROM offs GROUP BY query_id),
mt AS (
  SELECT o.query_id, t.doc_id, t.pos - o.off AS base, o.off
  FROM ptoks t JOIN offs o USING (term)
),
occ AS (
  SELECT m.query_id, m.doc_id, m.base
  FROM mt m JOIN noff n USING (query_id)
  GROUP BY m.query_id, m.doc_id, m.base
  HAVING count(DISTINCT m.off) = max(n.n)
),
ptf AS (
  SELECT query_id, doc_id, count(*)::BIGINT AS tf FROM occ GROUP BY 1, 2
),
pdf AS (SELECT query_id, count(*)::BIGINT AS df FROM ptf GROUP BY 1),
dstats AS (SELECT doc_id, count(*)::BIGINT AS dl FROM ptoks GROUP BY doc_id),
c AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dstats),
scored AS (
  SELECT p.query_id::BIGINT AS query_id, p.doc_id,
         ln((c.n - f.df + 0.5) / (f.df + 0.5) + 1.0)
         * p.tf * 2.2 / (p.tf + 1.2 * (0.25 + 0.75 * d.dl / c.avgdl)) AS s
  FROM ptf p
  JOIN pdf f USING (query_id)
  JOIN dstats d USING (doc_id)
  CROSS JOIN c
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id, doc_id, round(s, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 4) DESC, doc_id) AS rank
  FROM scored
) WHERE rank <= {k}
"""


@_register("phrase_topk", _phrase_oracle_sql())
def phrase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase top-10 end-to-end: positional build → offset
    intersection → BM25, rank after 4-dp rounding on both sides."""
    import tempfile

    from docinsight_spark.index.builder import IndexBuilder
    from docinsight_spark.index.phrase import phrase_search

    docs = _docs(spark, sf_dir).select(
        F.lit("sf/docs").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id")).alias("path"),
        F.lit("0000").alias("commit"),
        F.lit("en").alias("lang"),
        F.col("text").alias("content"),
    )
    idx = tempfile.mkdtemp(prefix="contract_phrase_")
    b = IndexBuilder(spark, idx, n_buckets=8, code_aware=False, positions=True)
    b.build(docs)
    res = phrase_search(spark, idx, PHRASE_QUERIES, k=_PHRASE_OVERFETCH)
    dim = b.docs_dim().select(
        "docID", F.expr("CAST(substr(path, 5) AS LONG)").alias("doc_id")
    )
    scored = res.join(dim, "docID").select(
        "query_id", "doc_id", F.round("score", 4).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_K)
        .select("query_id", "rank", "doc_id", "score")
    )


# ---------------------------------------------------------------------------
# Proximity NEAR(w) top-k (round 6): windowed containment instead of
# exact adjacency — an occurrence is an ANCHOR (a position of the
# query's FIRST term) with every other query term within ±w tokens;
# tf = anchor count, df = matching docs, BM25 over live N/avgdl.  The
# engine decodes packed positions in the same candidate-bounded kernel
# as phrase search (index/phrase.proximity_search); the oracle replays
# the identical anchored definition over the zipped-unnest token
# stream.  Reference analog: sentence-granular fuzzy evidence,
# /root/reference/enhanced_pipeline.py:453-504.
# ---------------------------------------------------------------------------

PROX_QUERIES: list[tuple[int, str]] = [
    (0, "big order scan"),
    (1, "part filter"),
    (2, "merge group table"),
]
_PROX_W = 4
_PROX_OVERFETCH = 1000  # > any query's proximity df at the gate SF


def _proximity_oracle_sql(
    phrases: list[tuple[int, str]] = PROX_QUERIES,
    k: int = BM25_K,
    w: int = _PROX_W,
) -> str:
    offs = [
        (q, i, t)
        for q, text in phrases
        for i, t in enumerate(text.lower().split())
    ]
    vals = ", ".join(f"({q}, {i}, '{t}')" for q, i, t in offs)
    return f"""
WITH ptoks AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(len(toks)))::BIGINT AS pos
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
    FROM documents
  )
),
offs(query_id, off, term) AS (VALUES {vals}),
noff AS (SELECT query_id, count(*)::BIGINT AS n FROM offs GROUP BY query_id),
anchors AS (
  SELECT o.query_id, t.doc_id, t.pos
  FROM ptoks t JOIN offs o USING (term) WHERE o.off = 0
),
others AS (
  SELECT o.query_id, o.off, t.doc_id, t.pos
  FROM ptoks t JOIN offs o USING (term) WHERE o.off > 0
),
hits AS (
  SELECT a.query_id, a.doc_id, a.pos, count(DISTINCT o.off) AS c
  FROM anchors a JOIN others o
    ON o.query_id = a.query_id AND o.doc_id = a.doc_id
   AND o.pos BETWEEN a.pos - {w} AND a.pos + {w}
  GROUP BY 1, 2, 3
),
occ AS (
  SELECT h.query_id, h.doc_id, h.pos
  FROM hits h JOIN noff n USING (query_id)
  WHERE h.c = n.n - 1
),
ptf AS (
  SELECT query_id, doc_id, count(*)::BIGINT AS tf FROM occ GROUP BY 1, 2
),
pdf AS (SELECT query_id, count(*)::BIGINT AS df FROM ptf GROUP BY 1),
dstats AS (SELECT doc_id, count(*)::BIGINT AS dl FROM ptoks GROUP BY doc_id),
c AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dstats),
scored AS (
  SELECT p.query_id::BIGINT AS query_id, p.doc_id,
         ln((c.n - f.df + 0.5) / (f.df + 0.5) + 1.0)
         * p.tf * 2.2 / (p.tf + 1.2 * (0.25 + 0.75 * d.dl / c.avgdl)) AS s
  FROM ptf p
  JOIN pdf f USING (query_id)
  JOIN dstats d USING (doc_id)
  CROSS JOIN c
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id, doc_id, round(s, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 4) DESC, doc_id) AS rank
  FROM scored
) WHERE rank <= {k}
"""


@_register("proximity_topk", _proximity_oracle_sql())
def proximity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR({_PROX_W}) proximity top-10 end-to-end: positional build →
    anchored windowed containment → BM25, rank after 4-dp rounding on
    both sides."""
    import tempfile

    from docinsight_spark.index.builder import IndexBuilder
    from docinsight_spark.index.phrase import proximity_search

    docs = _docs(spark, sf_dir).select(
        F.lit("sf/docs").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id")).alias("path"),
        F.lit("0000").alias("commit"),
        F.lit("en").alias("lang"),
        F.col("text").alias("content"),
    )
    idx = tempfile.mkdtemp(prefix="contract_prox_")
    b = IndexBuilder(spark, idx, n_buckets=8, code_aware=False, positions=True)
    b.build(docs)
    res = proximity_search(
        spark, idx, PROX_QUERIES, k=_PROX_OVERFETCH, window=_PROX_W
    ).localCheckpoint()
    # a query that fills the over-fetch may have lost rows to the cut,
    # and its oracle comparison would then be meaningless
    full = (
        res.groupBy("query_id").count()
        .filter(F.col("count") >= _PROX_OVERFETCH).collect()
    )
    if full:
        raise RuntimeError(
            f"proximity over-fetch saturated ({_PROX_OVERFETCH} rows) for "
            f"queries {sorted(r.query_id for r in full)}; raise _PROX_OVERFETCH"
        )
    dim = b.docs_dim().select(
        "docID", F.expr("CAST(substr(path, 5) AS LONG)").alias("doc_id")
    )
    scored = res.join(dim, "docID").select(
        "query_id", "doc_id", F.round("score", 4).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_K)
        .select("query_id", "rank", "doc_id", "score")
    )


# ---------------------------------------------------------------------------
# Keyword-in-context snippets (round 5): for each of a query's top-k
# docs, the token offset whose W-token window covers the most query-term
# occurrences (ties → smallest offset) — the evidence-span analog of the
# reference's matched-sentence display (analysis/report_builder.py).
# Engine: positional index → matched positions for the candidates only →
# per-(query, doc) self range-join argmax (index/phrase.snippet_windows).
# Oracle: same window argmax in SQL over the zipped-unnest token stream.
# All-integer output — no float rounding in the hash at all.
# ---------------------------------------------------------------------------

_SNIP_QUERIES: list[tuple[int, str]] = [
    (0, "spark join"),
    (1, "filter scan"),
    (2, "window batch"),
]
_SNIP_TERMS: list[tuple[int, str]] = [
    (q, t) for q, text in _SNIP_QUERIES for t in text.split()
]
_SNIP_W, _SNIP_K = 8, 5


def _snippet_oracle_sql(
    query_terms: list[tuple[int, str]] = _SNIP_TERMS,
    k: int = _SNIP_K,
    window: int = _SNIP_W,
) -> str:
    vals = ", ".join(f"({q}, '{t}')" for q, t in query_terms)
    return f"""
WITH ptoks AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(len(toks)))::BIGINT AS pos
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
    FROM documents
  )
),
postings AS (
  SELECT term, doc_id, count(*)::BIGINT AS tf FROM ptoks GROUP BY 1, 2
),
dstats AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM postings GROUP BY doc_id),
tstats AS (SELECT term, count(*)::BIGINT AS df FROM postings GROUP BY term),
c AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dstats),
qterms(query_id, term) AS (VALUES {vals}),
scored AS (
  SELECT q.query_id::BIGINT AS query_id, p.doc_id,
         sum(
           ln((c.n - t.df + 0.5) / (t.df + 0.5) + 1.0)
           * p.tf * 2.2 / (p.tf + 1.2 * (0.25 + 0.75 * d.dl / c.avgdl))
         ) AS s
  FROM qterms q
  JOIN postings p USING (term)
  JOIN tstats t USING (term)
  JOIN dstats d USING (doc_id)
  CROSS JOIN c
  GROUP BY 1, 2
),
topk AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(s, 4) DESC, doc_id) AS r
    FROM scored
  ) WHERE r <= {k}
),
mpos AS (
  SELECT DISTINCT q.query_id::BIGINT AS query_id, t.doc_id, t.pos
  FROM ptoks t
  JOIN qterms q USING (term)
  JOIN topk kk ON kk.query_id = q.query_id AND kk.doc_id = t.doc_id
),
wins AS (
  SELECT a.query_id, a.doc_id, a.pos AS snippet_start,
         count(*)::BIGINT AS n_matches
  FROM mpos a JOIN mpos b
    ON b.query_id = a.query_id AND b.doc_id = a.doc_id
   AND b.pos >= a.pos AND b.pos < a.pos + {window}
  GROUP BY 1, 2, 3
)
SELECT query_id, doc_id, snippet_start, n_matches FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id, doc_id
                               ORDER BY n_matches DESC, snippet_start) AS r
  FROM wins
) WHERE r = 1
"""


@_register("snippet_topk", _snippet_oracle_sql())
def snippet_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evidence snippets for each query's BM25 top-5: best matched-term
    window start + match count (integer-exact, no rounding)."""
    import tempfile

    from docinsight_spark.index.builder import IndexBuilder
    from docinsight_spark.index.phrase import snippet_windows
    from docinsight_spark.index.wand import wand_search

    docs = _docs(spark, sf_dir).select(
        F.lit("sf/docs").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id")).alias("path"),
        F.lit("0000").alias("commit"),
        F.lit("en").alias("lang"),
        F.col("text").alias("content"),
    )
    idx = tempfile.mkdtemp(prefix="contract_snip_")
    b = IndexBuilder(spark, idx, n_buckets=8, code_aware=False, positions=True)
    b.build(docs)
    dim = b.docs_dim().select(
        "docID", F.expr("CAST(substr(path, 5) AS LONG)").alias("doc_id")
    )
    queries = spark.createDataFrame(
        _SNIP_QUERIES, "query_id long, query_text string"
    )
    res = wand_search(spark, idx, queries, k=_WAND_OVERFETCH)
    w = Window.partitionBy("query_id").orderBy(
        F.round("score", 4).desc(), F.col("doc_id")
    )
    cand = (
        res.join(dim, "docID")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _SNIP_K)
        .select("query_id", "docID", "doc_id")
    )
    qterms = spark.createDataFrame(_SNIP_TERMS, "query_id long, term string")
    snips = snippet_windows(
        spark, idx, cand.select("query_id", "docID"), qterms, window=_SNIP_W
    )
    return snips.join(cand, ["query_id", "docID"]).select(
        "query_id",
        "doc_id",
        F.col("snippet_start").cast("long").alias("snippet_start"),
        "n_matches",
    )


# ---------------------------------------------------------------------------
# Conjunctive (boolean AND) BM25 top-k (round 5): only docs containing
# EVERY query term score.  Engine: the same broadcast probe join as
# bm25_topk — the hit count rides the existing (query, doc) aggregation
# (postings are unique on (term, docID)) and the require_all filter is
# a broadcast-joined per-query constant; zero extra passes or shuffles.
# Reference analog: multi-term substring search must match all terms in
# the reference CLI's AND mode (docinsight_cli.py search path).
# ---------------------------------------------------------------------------

_AND_QUERY_TERMS: list[tuple[int, str]] = [
    (0, "spark"), (0, "join"), (0, "table"),
    (1, "window"), (1, "batch"),
    (2, "merge"), (2, "stream"), (2, "column"),
    (3, "scan"), (3, "sort"), (3, "filter"),
]


def _bm25_and_oracle_sql(
    query_terms: list[tuple[int, str]], k: int = BM25_K
) -> str:
    vals = ", ".join(f"({q}, '{t}')" for q, t in query_terms)
    return f"""
WITH {_SQL_POSTINGS},
dstats AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM postings GROUP BY doc_id),
tstats AS (SELECT term, count(*)::BIGINT AS df FROM postings GROUP BY term),
c AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dstats),
qterms(query_id, term) AS (VALUES {vals}),
nq AS (SELECT query_id, count(*)::BIGINT AS n FROM qterms GROUP BY query_id),
scored AS (
  SELECT q.query_id::BIGINT AS query_id, p.doc_id,
         sum(
           ln((c.n - t.df + 0.5) / (t.df + 0.5) + 1.0)
           * p.tf * 2.2 / (p.tf + 1.2 * (0.25 + 0.75 * d.dl / c.avgdl))
         ) AS s,
         count(*)::BIGINT AS hits
  FROM qterms q
  JOIN postings p USING (term)
  JOIN tstats t USING (term)
  JOIN dstats d USING (doc_id)
  CROSS JOIN c
  GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT s.query_id, s.doc_id, round(s.s, 4) AS score,
         row_number() OVER (PARTITION BY s.query_id
                            ORDER BY round(s.s, 4) DESC, s.doc_id) AS rank
  FROM scored s JOIN nq USING (query_id)
  WHERE s.hits = nq.n
) WHERE rank <= {k}
"""


@_register("bm25_and_topk", _bm25_and_oracle_sql(_AND_QUERY_TERMS))
def bm25_and_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive BM25 top-10 via the BLOCK-MAX FAST PATH (round 6):
    the WAND kernel's mandatory-term intersection (rarest-first
    candidate shrinking, ``wand_search(require_all=True)``) replays the
    exact strict-AND SQL oracle end-to-end through the compressed
    segment index."""
    import tempfile

    from docinsight_spark.index.builder import IndexBuilder
    from docinsight_spark.index.wand import wand_search

    docs = _docs(spark, sf_dir).select(
        F.lit("sf/docs").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id")).alias("path"),
        F.lit("0000").alias("commit"),
        F.lit("en").alias("lang"),
        F.col("text").alias("content"),
    )
    idx = tempfile.mkdtemp(prefix="contract_wandand_")
    b = IndexBuilder(spark, idx, n_buckets=8, code_aware=False)
    b.build(docs)
    texts: dict[int, list[str]] = {}
    for q, t in _AND_QUERY_TERMS:
        texts.setdefault(q, []).append(t)
    queries = spark.createDataFrame(
        sorted((q, " ".join(ts)) for q, ts in texts.items()),
        "query_id long, query_text string",
    )
    res = wand_search(
        spark, idx, queries, k=_WAND_OVERFETCH, require_all=True
    )
    dim = b.docs_dim().select(
        "docID", F.expr("CAST(substr(path, 5) AS LONG)").alias("doc_id")
    )
    scored = res.join(dim, "docID").select(
        "query_id", "doc_id", F.round("score", 4).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_K)
        .select("query_id", "rank", "doc_id", "score")
    )


# ---------------------------------------------------------------------------
# Boolean NOT BM25 top-k (round 5): docs containing ANY of a query's
# negative terms are excluded.  Engine: one broadcast-restricted
# postings probe for the negative terms -> anti-join on the aggregated
# candidates (operators/query.bm25_scores(neg_terms=...)); cost is
# bounded by the negative terms' df, never a second corpus pass.
# ---------------------------------------------------------------------------

_NOT_QUERY_TERMS: list[tuple[int, str]] = [
    (0, "spark"), (0, "join"),
    (1, "window"), (1, "batch"),
    (2, "merge"), (2, "stream"),
]
_NOT_NEG_TERMS: list[tuple[int, str]] = [
    (0, "slow"),
    (1, "key"),
    (2, "customer"), (2, "vector"),
]


def _bm25_not_oracle_sql(
    query_terms: list[tuple[int, str]] = _NOT_QUERY_TERMS,
    neg_terms: list[tuple[int, str]] = _NOT_NEG_TERMS,
    k: int = BM25_K,
) -> str:
    vals = ", ".join(f"({q}, '{t}')" for q, t in query_terms)
    nvals = ", ".join(f"({q}, '{t}')" for q, t in neg_terms)
    return f"""
WITH {_SQL_POSTINGS},
dstats AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM postings GROUP BY doc_id),
tstats AS (SELECT term, count(*)::BIGINT AS df FROM postings GROUP BY term),
c AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dstats),
qterms(query_id, term) AS (VALUES {vals}),
negs(query_id, term) AS (VALUES {nvals}),
banned AS (
  SELECT DISTINCT n.query_id, p.doc_id
  FROM negs n JOIN postings p USING (term)
),
scored AS (
  SELECT q.query_id::BIGINT AS query_id, p.doc_id,
         sum(
           ln((c.n - t.df + 0.5) / (t.df + 0.5) + 1.0)
           * p.tf * 2.2 / (p.tf + 1.2 * (0.25 + 0.75 * d.dl / c.avgdl))
         ) AS s
  FROM qterms q
  JOIN postings p USING (term)
  JOIN tstats t USING (term)
  JOIN dstats d USING (doc_id)
  CROSS JOIN c
  GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT s.query_id, s.doc_id, round(s.s, 4) AS score,
         row_number() OVER (PARTITION BY s.query_id
                            ORDER BY round(s.s, 4) DESC, s.doc_id) AS rank
  FROM scored s
  WHERE NOT EXISTS (
    SELECT 1 FROM banned b
    WHERE b.query_id = s.query_id AND b.doc_id = s.doc_id
  )
) WHERE rank <= {k}
"""


@_register("bm25_not_topk", _bm25_not_oracle_sql())
def bm25_not_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean-NOT BM25 top-10 via the BLOCK-MAX FAST PATH (round 6):
    the WAND kernel excludes banned docs BEFORE accumulation (so the
    top-k threshold never inflates on a doc about to be banned),
    replaying the exact anti-join SQL oracle through the compressed
    segment index."""
    import tempfile

    from docinsight_spark.index.builder import IndexBuilder
    from docinsight_spark.index.wand import wand_search

    docs = _docs(spark, sf_dir).select(
        F.lit("sf/docs").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id")).alias("path"),
        F.lit("0000").alias("commit"),
        F.lit("en").alias("lang"),
        F.col("text").alias("content"),
    )
    idx = tempfile.mkdtemp(prefix="contract_wandnot_")
    b = IndexBuilder(spark, idx, n_buckets=8, code_aware=False)
    b.build(docs)
    pos: dict[int, list[str]] = {}
    for q, t in _NOT_QUERY_TERMS:
        pos.setdefault(q, []).append(t)
    neg: dict[int, list[str]] = {}
    for q, t in _NOT_NEG_TERMS:
        neg.setdefault(q, []).append(t)
    queries = spark.createDataFrame(
        sorted((q, " ".join(ts)) for q, ts in pos.items()),
        "query_id long, query_text string",
    )
    neg_queries = spark.createDataFrame(
        sorted((q, " ".join(ts)) for q, ts in neg.items()),
        "query_id long, query_text string",
    )
    res = wand_search(
        spark, idx, queries, k=_WAND_OVERFETCH, neg_queries=neg_queries
    )
    dim = b.docs_dim().select(
        "docID", F.expr("CAST(substr(path, 5) AS LONG)").alias("doc_id")
    )
    scored = res.join(dim, "docID").select(
        "query_id", "doc_id", F.round("score", 4).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_K)
        .select("query_id", "rank", "doc_id", "score")
    )


# ---------------------------------------------------------------------------
# Prefix (wildcard `pre*`) top-k (round 5): each prefix expands against
# the index's term dictionary — capped to the max_expansions highest-df
# terms (ties → term asc), the Lucene MultiTermQuery rewrite — then
# scores as an OR query (Σ per-term BM25, each term's own df) through
# the WAND fast path.  The expansion runs as a pushed-down
# StringStartsWith range scan on the term-sorted term_stats parquet;
# the oracle replays the same cap ordering in SQL.
# ---------------------------------------------------------------------------

PREFIX_QUERIES: list[tuple[int, str]] = [
    (0, "s"),
    (1, "fi"),
    (2, "ta"),
    (3, "wi"),
]
_PREFIX_MAX_EXP = 4
_PREFIX_OVERFETCH = 50


def _prefix_oracle_sql(
    prefixes: list[tuple[int, str]] = PREFIX_QUERIES,
    k: int = BM25_K,
    max_exp: int = _PREFIX_MAX_EXP,
) -> str:
    vals = ", ".join(f"({q}, '{p}')" for q, p in prefixes)
    return f"""
WITH {_SQL_POSTINGS},
dstats AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM postings GROUP BY doc_id),
tstats AS (SELECT term, count(*)::BIGINT AS df FROM postings GROUP BY term),
c AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dstats),
pref(query_id, prefix) AS (VALUES {vals}),
exp AS (
  SELECT query_id, term, df FROM (
    SELECT p.query_id, t.term, t.df,
           row_number() OVER (PARTITION BY p.query_id
                              ORDER BY t.df DESC, t.term) AS r
    FROM pref p JOIN tstats t ON t.term LIKE p.prefix || '%'
  ) WHERE r <= {max_exp}
),
scored AS (
  SELECT e.query_id::BIGINT AS query_id, po.doc_id,
         sum(
           ln((c.n - e.df + 0.5) / (e.df + 0.5) + 1.0)
           * po.tf * 2.2 / (po.tf + 1.2 * (0.25 + 0.75 * d.dl / c.avgdl))
         ) AS s
  FROM exp e
  JOIN postings po USING (term)
  JOIN dstats d USING (doc_id)
  CROSS JOIN c
  GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id, doc_id, round(s, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 4) DESC, doc_id) AS rank
  FROM scored
) WHERE rank <= {k}
"""


@_register("prefix_topk", _prefix_oracle_sql())
def prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wildcard top-10 end-to-end: dictionary expansion (pushed-down
    prefix range scan, df-capped) → WAND OR retrieval."""
    import tempfile

    from docinsight_spark.index.builder import IndexBuilder
    from docinsight_spark.index.wand import prefix_search

    docs = _docs(spark, sf_dir).select(
        F.lit("sf/docs").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id")).alias("path"),
        F.lit("0000").alias("commit"),
        F.lit("en").alias("lang"),
        F.col("text").alias("content"),
    )
    idx = tempfile.mkdtemp(prefix="contract_prefix_")
    b = IndexBuilder(spark, idx, n_buckets=8, code_aware=False)
    b.build(docs)
    res = prefix_search(
        spark, idx, PREFIX_QUERIES, k=_PREFIX_OVERFETCH,
        max_expansions=_PREFIX_MAX_EXP,
    )
    dim = b.docs_dim().select(
        "docID", F.expr("CAST(substr(path, 5) AS LONG)").alias("doc_id")
    )
    scored = res.join(dim, "docID").select(
        "query_id", "doc_id", F.round("score", 4).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_K)
        .select("query_id", "rank", "doc_id", "score")
    )


# ---------------------------------------------------------------------------
# Regex top-k (round 6): each pattern expands against the term
# dictionary under the same df-desc/term-asc cap as prefix_topk, then
# scores as an OR query through the WAND fast path.  The pattern
# set sticks to the Java-regex ∩ RE2 common subset with identical
# partial-match semantics (Spark `rlike` and DuckDB `regexp_matches`
# both match anywhere unless anchored), so the oracle replays the
# expansion verbatim.  The dictionary scan is O(vocab) — one tiny
# column-pruned table — never O(corpus): the Lucene/Zoekt wildcard
# trade-off.
# ---------------------------------------------------------------------------

REGEX_QUERIES: list[tuple[int, str]] = [
    (0, "r$"),
    (1, "^[gjk]"),
    (2, "l.w|l.e"),
    (3, "[aeiou]{2}"),
]


def _regex_oracle_sql(
    patterns: list[tuple[int, str]] = REGEX_QUERIES,
    k: int = BM25_K,
    max_exp: int = _PREFIX_MAX_EXP,
) -> str:
    vals = ", ".join(f"({q}, '{p}')" for q, p in patterns)
    return f"""
WITH {_SQL_POSTINGS},
dstats AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM postings GROUP BY doc_id),
tstats AS (SELECT term, count(*)::BIGINT AS df FROM postings GROUP BY term),
c AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dstats),
pat(query_id, pattern) AS (VALUES {vals}),
exp AS (
  SELECT query_id, term, df FROM (
    SELECT p.query_id, t.term, t.df,
           row_number() OVER (PARTITION BY p.query_id
                              ORDER BY t.df DESC, t.term) AS r
    FROM pat p JOIN tstats t ON regexp_matches(t.term, p.pattern)
  ) WHERE r <= {max_exp}
),
scored AS (
  SELECT e.query_id::BIGINT AS query_id, po.doc_id,
         sum(
           ln((c.n - e.df + 0.5) / (e.df + 0.5) + 1.0)
           * po.tf * 2.2 / (po.tf + 1.2 * (0.25 + 0.75 * d.dl / c.avgdl))
         ) AS s
  FROM exp e
  JOIN postings po USING (term)
  JOIN dstats d USING (doc_id)
  CROSS JOIN c
  GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id, doc_id, round(s, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 4) DESC, doc_id) AS rank
  FROM scored
) WHERE rank <= {k}
"""


@_register("regex_topk", _regex_oracle_sql())
def regex_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex top-10 end-to-end: dictionary expansion (O(vocab) scan of
    the term-stats table, df-capped) → WAND OR retrieval."""
    import tempfile

    from docinsight_spark.index.builder import IndexBuilder
    from docinsight_spark.index.wand import dictionary_search

    docs = _docs(spark, sf_dir).select(
        F.lit("sf/docs").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id")).alias("path"),
        F.lit("0000").alias("commit"),
        F.lit("en").alias("lang"),
        F.col("text").alias("content"),
    )
    idx = tempfile.mkdtemp(prefix="contract_regex_")
    b = IndexBuilder(spark, idx, n_buckets=8, code_aware=False)
    b.build(docs)
    res = dictionary_search(
        spark, idx, REGEX_QUERIES, k=_PREFIX_OVERFETCH,
        max_expansions=_PREFIX_MAX_EXP, mode="regex",
    )
    dim = b.docs_dim().select(
        "docID", F.expr("CAST(substr(path, 5) AS LONG)").alias("doc_id")
    )
    scored = res.join(dim, "docID").select(
        "query_id", "doc_id", F.round("score", 4).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_K)
        .select("query_id", "rank", "doc_id", "score")
    )


# ---------------------------------------------------------------------------
# Text → embedding featurizer under the oracle gate (round 3).  The
# production featurizer (operators/embedder.featurize_text) is a
# shuffle-free crc32 mapInPandas kernel; this entry runs the same
# feature-hashing construction on an md5 basis in pure column algebra
# (operators/embedder.hashed_features) so DuckDB replays it exactly:
# bucket = hash % dim (low bits), sign = bit 16, feature = L2-normalized
# signed tf sum, densified to every (doc, bucket) pair.
# ---------------------------------------------------------------------------

_FEAT_DIM = 16


def _feat_sql_core(dim: int) -> str:
    """CTE chain ending in ``feats(doc_id, j, feat)`` — the md5
    feature-hashing embedding of every document, 4-dp rounded,
    replaying :func:`docinsight_spark.operators.embedder.hashed_features`."""
    return f"""{_SQL_TOKS},
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY doc_id, term),
hv AS (
  SELECT doc_id, tf,
         CAST('0x' || substr(md5(term), 1, 8) AS BIGINT) AS h
  FROM tf
),
sums AS (
  SELECT doc_id, (h % {dim}) AS j,
         sum(tf * (((h // 65536) % 2) * 2 - 1))::DOUBLE AS s
  FROM hv GROUP BY 1, 2
),
grid AS (
  SELECT doc_id, unnest(generate_series(0, {dim - 1}))::BIGINT AS j
  FROM (SELECT DISTINCT doc_id FROM documents)
),
dense AS (
  SELECT g.doc_id, g.j, coalesce(s.s, 0.0) AS s
  FROM grid g LEFT JOIN sums s ON g.doc_id = s.doc_id AND g.j = s.j
),
normed AS (
  SELECT doc_id, j, s,
         sqrt(sum(s * s) OVER (PARTITION BY doc_id)) AS nrm
  FROM dense
),
feats AS (
  SELECT doc_id, j,
         round(CASE WHEN nrm > 0 THEN s / nrm ELSE 0.0 END, 4) AS feat
  FROM normed
)"""


@_register(
    "text_embed_features",
    f"WITH {_feat_sql_core(_FEAT_DIM)} SELECT doc_id, j, feat FROM feats",
)
def text_embed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing text embedding (Weinberger et al. ICML'09), long
    format — the SBERT-role featurizer under the full oracle gate.
    Reference analog: ``/root/reference/embeddings/embedder.py:57-97``
    (content in, unit vector out)."""
    from docinsight_spark.operators.embedder import hashed_features

    return hashed_features(
        _docs(spark, sf_dir), "doc_id", "text", dim=_FEAT_DIM
    ).withColumnRenamed("id", "doc_id")


# ---------------------------------------------------------------------------
# T7 two-stage retrieval (over-fetch → rescore → re-rank) under the
# oracle gate (round 3).  The default stage-2 model is exact BM25, so
# the oracle is the plain BM25 top-k SQL; the rescore hook rounds to
# 4 dp so the final re-rank happens on rounded scores (driver parity
# rule), and overfetch=3 makes rounding-induced promotion across the
# candidate cut impossible at sf0.01 score spreads (same reasoning as
# wand_topk's over-retrieve).
# ---------------------------------------------------------------------------

_RERANK_K = 10


@_register(
    "rerank_topk", _bm25_oracle_sql(BM25_QUERY_TERMS, _RERANK_K)
)
def rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval through the engine's search_rerank operator:
    stage 1 over-fetches 3k candidates, stage 2 re-ranks the rounded
    scores, cut to k (reference analog:
    ``/root/reference/retrieval/retrieval.py:253-268``)."""
    from docinsight_spark.operators.postings import corpus_stats
    from docinsight_spark.operators.query import search_rerank

    postings = postings_tf(spark, sf_dir).withColumnRenamed("doc_id", "docID").cache()
    dstats = postings.groupBy("docID").agg(F.sum("tf").alias("dl"))
    tstats = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = corpus_stats(dstats)
    qtexts = {}
    for qid, t in BM25_QUERY_TERMS:
        qtexts.setdefault(qid, []).append(t)
    queries = spark.createDataFrame(
        [(qid, " ".join(ts)) for qid, ts in sorted(qtexts.items())],
        "query_id long, query_text string",
    )
    out = search_rerank(
        queries, postings, tstats, dstats, stats,
        k=_RERANK_K, overfetch=3, code_aware=False,
        rescore=lambda cand: cand.withColumn("score", F.round("score", 4)),
    )
    return out.select(
        "query_id", "rank", F.col("docID").alias("doc_id"), "score"
    )


# ---------------------------------------------------------------------------
# End-to-end LLM-pipeline showcase under the oracle gate (round 3):
# raw text → feature-hashing embedding (md5 column algebra) → hyperplane
# LSH buckets → candidate self-join → exact cosine ≥ threshold.  The
# documents table carries ~25 planted near-duplicate pairs; both engines
# use the same seeded hyperplane literals, so bucket membership — and
# therefore any LSH recall misses — replay identically.  The operator
# over-retrieves at a lower threshold and the entry filters on the
# 4-dp-ROUNDED cosine, so the threshold boundary cannot flip between
# engines (round-before-compare, the driver parity rule).
# ---------------------------------------------------------------------------

_NEARDUP_DIM = 64
_NEARDUP_PLANES = 4
_NEARDUP_TABLES = 4
# 0.95 isolates exactly the ~25 planted near-dup pairs at sf0.01
# (0.9 admits 102 vocabulary-similarity pairs, 0.8 admits ~6.6k)
_NEARDUP_THRESH = 0.95


def _neardup_sql() -> str:
    from docinsight_spark.operators.similarity import hyperplanes

    rows = []
    for t in range(_NEARDUP_TABLES):
        for i, p in enumerate(
            hyperplanes(_NEARDUP_DIM, _NEARDUP_PLANES, seed=77 + 1000 * t)
        ):
            lit = ", ".join(repr(float(x)) for x in p)
            rows.append(f"({t}, {1 << i}, [{lit}]::DOUBLE[])")
    planes_sql = ", ".join(rows)
    return f"""
WITH {_feat_sql_core(_NEARDUP_DIM)},
vecs AS (
  SELECT doc_id, list(feat ORDER BY j) AS v FROM feats GROUP BY doc_id
),
planes(t, po, w) AS (VALUES {planes_sql}),
buckets AS (
  SELECT v.doc_id, p.t,
         sum(CASE WHEN round(list_dot_product(v.v, p.w), 7) >= 0
                  THEN p.po ELSE 0 END)::INT AS bkt
  FROM vecs v CROSS JOIN planes p GROUP BY v.doc_id, p.t
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b USING (t, bkt)
  WHERE a.doc_id < b.doc_id
),
scored AS (
  SELECT c.id_a, c.id_b,
         round(
           list_dot_product(va.v, vb.v)
           / (sqrt(list_dot_product(va.v, va.v))
              * sqrt(list_dot_product(vb.v, vb.v))), 4) AS cosine
  FROM cand c
  JOIN vecs va ON va.doc_id = c.id_a
  JOIN vecs vb ON vb.doc_id = c.id_b
)
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {_NEARDUP_THRESH}
"""


@_register("text_neardup_lsh", _neardup_sql())
def text_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data near-dup sweep from raw text: featurize →
    LSH-bucketed self-join → exact cosine filter.  Reference analog:
    the SBERT embed + FAISS search loop
    (``/root/reference/embeddings/embedder.py:57-97`` +
    ``index/faiss_index.py:162-199``) applied to dedup."""
    from docinsight_spark.operators.embedder import hashed_features
    from docinsight_spark.operators.similarity import embedding_near_duplicates

    feats = hashed_features(_docs(spark, sf_dir), "doc_id", "text", dim=_NEARDUP_DIM)
    vecs = feats.groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "feat"))),
            lambda s: s["feat"],
        ).alias("embedding")
    )
    # over-retrieve below the published threshold, then filter on the
    # ROUNDED cosine so the boundary matches the SQL oracle exactly
    dups = embedding_near_duplicates(
        vecs, threshold=_NEARDUP_THRESH - 0.05, id_col="id",
        vec_col="embedding", n_planes=_NEARDUP_PLANES,
        n_tables=_NEARDUP_TABLES, dim=_NEARDUP_DIM, max_bucket=10**9,
    )
    return (
        dups.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
        .filter(F.col("cosine") >= _NEARDUP_THRESH)
    )
