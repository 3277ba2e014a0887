"""The flagship analysis pipeline: query documents → originality report.

The reference's end-to-end document analysis
(``/root/reference/enhanced_pipeline.py:506-604``, SURVEY §3.1):
extract → mask → sentence split → per-sentence retrieve → rerank →
fuse → gate → repeated-match decay → span clustering → originality
aggregation → report.

Here the whole batch of query documents runs as ONE DataFrame pipeline
(no per-sentence Python loop — SURVEY §3.1 "→ Spark shape"):

1. chunk query docs into sentences/statements (``split_sentences`` on
   line boundaries for code) and tokenize each chunk ONCE with the
   index's query tokenizer — its distinct terms feed retrieval, the
   evidence snippets and the Σidf similarity bound alike;
2. BM25 top-k per chunk over the segment index (the fast path);
3. per-chunk min-max normalization (W4) + fusion (A10) against the
   exact rescore (the "rerank" family of the new engine);
4. risk gating with semantic floors;
5. repeated-match decay (W3) over document order;
6. span sessionization (W1/W2/D3) and originality roll-up (A9).

Returns (sentence_results, risk_spans, originality) DataFrames — the
same three artifacts the reference's JSON report carries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from docinsight_spark.functions.tokenizer import query_token_col, query_tokenizer
from docinsight_spark.index import fsio
from docinsight_spark.index.builder import load_term_stats
from docinsight_spark.index.phrase import snippet_windows
from docinsight_spark.index.wand import wand_search
from docinsight_spark.operators import scoring as S
from docinsight_spark.operators.postings import tokenized, with_doc_id


def _chunks_of(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, idx, sentence, tokens) — code 'sentences' = non-empty
    lines (the reference splits prose sentences; line granularity is the
    code analog, same downstream algebra)."""
    lines = F.filter(
        F.split(F.col(text_col), r"\n"), lambda s: F.length(F.trim(s)) > 0
    )
    out = docs.select(
        F.col(id_col).alias("doc_id"), F.posexplode(lines).alias("idx", "sentence")
    )
    return out.withColumn(
        "tokens", F.size(F.filter(F.split(F.trim("sentence"), r"\s+"), lambda t: t != ""))
    )


def analyze_documents(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "content",
    k: int = 10,
    evidence_window: int | None = None,
    corpus: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Full originality analysis of a batch of query documents.

    ``evidence_window``: when set (and the index stores positions), each
    matched sentence also carries WHERE its best-match doc matched —
    ``match_snippet_start`` / ``match_snippet_matches``, the offset and
    term count of the best ``evidence_window``-token span
    (:func:`docinsight_spark.index.phrase.snippet_windows`) — the
    reference report's matched-sentence evidence display
    (``analysis/report_builder.py``) re-expressed.

    ``corpus``: the indexed corpus (repo, path, commit, lang, content).
    The index itself stores no content, so rendering the matched TEXT
    (not just its offset) needs the source rows; when provided with
    ``evidence_window``, each matched sentence gains
    ``match_snippet_text`` — the actual ``evidence_window``-token KWIC
    span of the best-match doc (the reference shows matched text in
    ``Docs/report.html``).  Cost is bounded: only the DISTINCT
    best-match docs (≤ one per query sentence) are semi-joined out of
    the corpus and re-tokenized."""
    meta = fsio.read_json(f"{index_dir}/_meta.json")
    if evidence_window and not meta.get("positions", False):
        raise ValueError("evidence_window needs an index built with positions=True")
    # each sentence tokenizes ONCE, with the index's own query tokenizer;
    # its distinct terms feed retrieval, the snippet windows and Σidf
    chunks = (
        _chunks_of(docs, id_col, text_col)
        .withColumn("query_id", F.xxhash64("doc_id", "idx"))
        .withColumn(
            "terms",
            F.array_distinct(query_token_col("sentence", **query_tokenizer(meta))),
        )
        .cache()
    )
    qterms = chunks.select("query_id", F.explode("terms").alias("term"))
    ts = load_term_stats(spark, index_dir, meta)
    hits = wand_search(
        spark, index_dir, None, k=k, _meta=meta, _tstats=ts, _qmap=qterms
    )
    per_sentence = hits.join(
        F.broadcast(chunks.select("query_id", "doc_id", "idx")), "query_id"
    ).select("query_id", "doc_id", "idx", "rank", "docID", "score")
    # top hit = the sentence's best match; candidate-set normalization
    normed = S.minmax_normalize(per_sentence, "score", ["doc_id", "idx"], "semantic_norm")
    w = Window.partitionBy("doc_id", "idx").orderBy(F.col("rank"))
    best = (
        normed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id", "doc_id", "idx",
            F.col("score").alias("semantic_raw"),
            "semantic_norm",
            F.col("docID").alias("_best_id"),
        )
    )
    if evidence_window:
        sn = snippet_windows(
            spark, index_dir,
            best.select("query_id", F.col("_best_id").alias("docID")),
            qterms, window=evidence_window, _meta=meta,
        ).select(
            "query_id",
            F.col("docID").alias("_best_id"),
            F.col("snippet_start").alias("match_snippet_start"),
            F.col("n_matches").alias("match_snippet_matches"),
        )
        best = best.join(sn, ["query_id", "_best_id"], "left")
        if corpus is not None:
            # render the matched KWIC text: re-tokenize ONLY the distinct
            # best-match docs (semi-join — never the whole corpus) with
            # the index's own build tokenizer, slice at the snippet offset
            matched = best.select(
                F.col("_best_id").alias("docID")
            ).distinct()
            mt = tokenized(
                with_doc_id(corpus).join(matched, "docID", "left_semi"),
                code_aware=bool(meta.get("code_aware", True)),
            ).select(F.col("docID").alias("_best_id"), F.col("tokens").alias("_toks"))
            best = (
                best.join(mt, "_best_id", "left")
                .withColumn(
                    "match_snippet_text",
                    F.when(
                        F.col("match_snippet_start").isNotNull()
                        & F.col("_toks").isNotNull(),
                        F.array_join(
                            F.slice(
                                F.col("_toks"),
                                F.col("match_snippet_start") + F.lit(1),
                                F.lit(int(evidence_window)),
                            ),
                            " ",
                        ),
                    ),
                )
                .drop("_toks")
            )
    best = best.drop("query_id").withColumn(
        "best_match", F.col("_best_id").cast("string")
    ).drop("_best_id")
    sent = (
        chunks.drop("terms").join(best, ["doc_id", "idx"], "left")
        .fillna({"semantic_raw": 0.0, "semantic_norm": 0.0, "best_match": ""})
    )
    # fusion: semantic (normalized BM25) + exact-rescore family (the top
    # score rescaled per doc) + stylometric placeholder weight
    sent = S.minmax_normalize(sent, "semantic_raw", ["doc_id"], "rerank_norm")
    sent = sent.withColumn("stylometry_score", F.lit(0.5))
    # Bounded similarity for the gating floors (the cosine analog):
    # normalized BM25 = score / Σ_t idf(t) over the sentence's terms.
    # A verbatim match lands ~0.5-0.8; incidental shared common terms
    # land ≪ 0.35 because unmatched (especially rare) terms still count
    # in the denominator.  A term-less line (`}`) keeps one null-term
    # row (explode_outer), so its Σ is idf(df=0), not null.
    n_docs = int(meta["n_docs"])
    idf = F.log(
        (F.lit(float(n_docs)) - F.coalesce(F.col("df"), F.lit(0)) + 0.5)
        / (F.coalesce(F.col("df"), F.lit(0)) + 0.5)
        + 1.0
    )
    qnorm = (
        chunks.select("doc_id", "idx", F.explode_outer("terms").alias("term"))
        .join(ts, "term", "left")
        .groupBy("doc_id", "idx")
        .agg(F.sum(idf).alias("idf_sum"))
    )
    sent = sent.join(qnorm, ["doc_id", "idx"], "left").withColumn(
        "semantic_score",
        F.least(
            F.col("semantic_raw") / F.greatest(F.col("idf_sum"), F.lit(1e-9)),
            F.lit(1.0),
        ),
    )
    sent = S.fuse_scores(sent)
    sent = S.classify_risk(sent)
    sent = sent.withColumn("confidence_score", F.col("fused_score"))
    sent = S.repeated_match_decay(sent)
    spans = S.cluster_risk_spans(sent)
    originality = S.originality_scores(sent, spans)
    return sent, spans, originality
