"""End-to-end originality analysis (the reference's flagship query)."""

import pytest
from pyspark.sql import functions as F

from docinsight_spark.corpus import make_plag_corpus
from docinsight_spark.index.builder import IndexBuilder
from docinsight_spark.operators.pipeline import analyze_documents
from docinsight_spark.operators.postings import with_doc_id


@pytest.fixture(scope="module")
def plag_setup(spark, tmp_path_factory):
    """Index the plagiarism corpus; analyze (a) a verbatim copy of one
    original and (b) a fresh unrelated doc."""
    from docinsight_spark.operators.chunking import chunk_corpus

    plag = make_plag_corpus(spark, n_cases=2).cache()
    idx = str(tmp_path_factory.mktemp("plagidx"))
    # chunk-granular index: the reference's unit of retrieval
    IndexBuilder(spark, idx, n_buckets=4).build(
        chunk_corpus(plag.select("repo", "path", "commit", "lang", "content"),
                     window_chars=300, overlap_chars=50)
    )
    original = plag.filter(
        (F.col("label") == "original") & (F.col("case_id") == 1)
    ).first()
    fresh = "\n".join(
        f"wholly_unrelated_token_{chr(97 + i % 26)} = flibber_{chr(97 + (i * 7) % 26)}"
        for i in range(30)
    )
    docs = spark.createDataFrame(
        [(100, original["content"]), (200, fresh)],
        "doc_id long, content string",
    )
    return idx, docs


def test_analyze_documents_directional(spark, plag_setup):
    idx, docs = plag_setup
    sent, spans, orig = analyze_documents(spark, idx, docs, k=5)
    o = orig.toPandas().set_index("doc_id")
    # the verbatim copy must look far less original than the fresh doc
    assert o.loc[100, "originality_score"] < o.loc[200, "originality_score"]
    assert o.loc[100, "plagiarized_coverage"] > 0.5
    assert o.loc[200, "n_high"] == 0
    # spans exist only for the plagiarized doc
    sp = spans.toPandas()
    assert (sp["doc_id"] == 100).any()
    assert not (sp["doc_id"] == 200).any()


def test_analyze_outputs_are_consistent(spark, plag_setup):
    idx, docs = plag_setup
    sent, spans, orig = analyze_documents(spark, idx, docs, k=5)
    s = sent.toPandas()
    o = orig.toPandas().set_index("doc_id")
    for doc_id, grp in s.groupby("doc_id"):
        assert o.loc[doc_id, "total_sentences"] == len(grp)
        assert (
            o.loc[doc_id, ["n_high", "n_medium", "n_low"]].sum() == len(grp)
        )
    assert ((o["originality_score"] >= 0) & (o["originality_score"] <= 1)).all()


def test_small_batch_collects_its_pairs_once(spark, plag_setup, monkeypatch):
    """A 149-line batch fits one wave: its (query_id, term) pairs are
    collected in one job and the wave machinery (``_wave_qmaps``) never
    runs; the rows equal a run forced onto the wave path."""
    import pandas as pd

    from docinsight_spark.index import wand

    idx, docs = plag_setup
    copy = docs.filter(F.col("doc_id") == 100).first()["content"]
    n_copy = sum(1 for line in copy.split("\n") if line.strip())
    filler = "\n".join(
        f"filler_{i} = blend_{i % 7}(x, {i});" for i in range(149 - n_copy)
    )
    batch = spark.createDataFrame(
        [(100, copy), (200, filler)], "doc_id long, content string"
    )
    waves = []
    real = wand._wave_qmaps
    monkeypatch.setattr(
        wand, "_wave_qmaps", lambda *a, **kw: waves.append(1) or real(*a, **kw)
    )

    def report():
        out = analyze_documents(spark, idx, batch, k=5)
        return [
            f.toPandas().sort_values(["doc_id", *(["idx"] if "idx" in f.columns else [])])
            .reset_index(drop=True)
            for f in out
        ]

    one = report()
    assert not waves
    assert len(one[0]) == 149
    monkeypatch.setattr(wand, "QUERY_CHUNK_SIZE", 40)
    waved = report()
    assert waves
    for a, b in zip(one, waved):
        pd.testing.assert_frame_equal(a, b)


def test_whitespace_index_report_uses_index_tokenizer(spark, tmp_path):
    """On a ``code_aware=False`` index a verbatim line's terms are its
    whitespace tokens — the terms retrieval scores — for Σidf and the
    evidence snippet alike (a code tokenizer would split ``fooBar`` and
    ``baz_qux(1);`` into terms this index never holds)."""
    import math

    from docinsight_spark.corpus import make_corpus
    from docinsight_spark.index import fsio

    line = "int fooBar = baz_qux(1);"
    holder = spark.createDataFrame(
        [("holder", "Holder.java", "c0", "java",
          "class Holder {\n  " + line + "\n}\n")],
        "repo string, path string, commit string, lang string, content string",
    )
    corpus = make_corpus(spark, 20, seed=3).unionByName(holder).cache()
    idx = str(tmp_path / "wsidx")
    IndexBuilder(
        spark, idx, n_buckets=2, code_aware=False, positions=True
    ).build(corpus)
    docs = spark.createDataFrame([(1, line)], "doc_id long, content string")
    sent, _, _ = analyze_documents(
        spark, idx, docs, k=5, evidence_window=8, corpus=corpus
    )
    row = sent.collect()
    assert len(row) == 1
    row = row[0]

    n_docs = fsio.read_json(f"{idx}/_meta.json")["n_docs"]
    terms = ["int", "foobar", "=", "baz_qux(1);"]
    df = {
        r["term"]: r["df"]
        for r in spark.read.parquet(f"{idx}/term_stats")
        .filter(F.col("term").isin(terms)).collect()
    }
    assert set(df) == set(terms)
    want = sum(math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0) for t in terms)
    assert row["idf_sum"] == pytest.approx(want, rel=1e-12)
    holder_id = with_doc_id(holder).select("docID").first()[0]
    assert row["best_match"] == str(holder_id)
    assert row["match_snippet_matches"] == 4
    assert row["match_snippet_text"].startswith("int foobar = baz_qux(1);")
    assert row["semantic_score"] == pytest.approx(1.0)
