"""P1-P3 normalization/gates, P6 sections, A11/A13, S13 purge, D4."""

import os

import pytest
from conftest import add_runs
from pyspark.sql import functions as F

from docinsight_spark.index.builder import IndexBuilder, purge_index, purge_run
from docinsight_spark.operators.normalize import (
    language_filter,
    min_length_filter,
    normalize_text,
    ordered_dedup_limit,
)
from docinsight_spark.operators.scoring import confidence_estimate
from docinsight_spark.operators.sections import (
    detect_sections,
    section_summary,
    slice_sections,
)

JAVA_SRC = """public class Foo {
    public int alpha(int x) {
        int y = x + 1;
        return y;
    }
    private void beta() {
        // ===== divider =====
        int z = 0;
    }
}
"""


def test_normalize_preserves_raw(spark):
    df = spark.createDataFrame(
        [(0, "a  b\t\tc\n\n\n\nd  ", "java")], "doc_id long, content string, lang string"
    )
    out = normalize_text(df).first()
    assert out["content"] == "a  b\t\tc\n\n\n\nd  "  # raw untouched (sha invariant)
    assert out["norm_content"] == "a b c\n\nd"


def test_language_and_length_gates(spark):
    df = spark.createDataFrame(
        [(0, "x" * 60, "java"), (1, "x" * 60, "cobol"), (2, "short", "java")],
        "doc_id long, content string, lang string",
    )
    assert [r["doc_id"] for r in language_filter(df).collect()] == [0, 2]
    assert [r["doc_id"] for r in min_length_filter(language_filter(df)).collect()] == [0]


def test_ordered_dedup_limit(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a"), (4, "c"), (5, "b")], "ord long, k string"
    )
    out = ordered_dedup_limit(df, "k", "ord", limit=2).toPandas()
    assert out["k"].tolist() == ["a", "b"]  # first occurrences, order preserved, capped


def test_detect_and_slice_sections(spark):
    df = spark.createDataFrame([(0, JAVA_SRC)], "doc_id long, content string")
    starts = detect_sections(df, "doc_id", "content").toPandas().sort_values("line_no")
    types = starts["section_type"].tolist()
    assert "class" in types and "method" in types
    assert "comment_header" in types
    sections = slice_sections(df, "doc_id", "content").toPandas().sort_values("start_line")
    # each section body starts with its header line
    for _, r in sections.iterrows():
        assert r["body"].split("\n")[0].strip() == r["header"]
    # bodies extend to the next section start
    first = sections.iloc[0]
    assert first["n_lines"] >= 1
    summ = section_summary(
        slice_sections(df, "doc_id", "content")
    ).toPandas().set_index("section_type")
    assert summ.loc["class", "n_sections"] == 1


def test_confidence_estimate(spark):
    sent = spark.createDataFrame(
        [(1, i) for i in range(5)] + [(2, i) for i in range(40)],
        "doc_id long, idx long",
    )
    out = confidence_estimate(sent, cap_at=20).toPandas().set_index("doc_id")
    assert out.loc[1, "analysis_confidence"] == 0.25
    assert out.loc[2, "analysis_confidence"] == 1.0


def test_purge_run_and_index(spark, tmp_path, tiny_corpus):
    d = str(tmp_path / "pidx")
    b = IndexBuilder(spark, d, n_buckets=4)
    add_runs(b, tiny_corpus, 2)
    b.merge_all()
    b.finalize()
    assert os.path.exists(f"{d}/_meta.json")
    purge_run(d, "run00001")
    units = {m["unit"] for m in b.manifests()}
    assert "run-run00001" not in units
    assert not any(u.startswith("merge") for u in units)  # downstream invalidated
    assert "run-run00000" in units  # sibling run intact
    # rebuild from the surviving run works
    b.merge_all()
    b.finalize()
    assert b.meta()["n_docs"] < 200
    purge_index(d)
    assert not os.path.exists(f"{d}/segments")
    assert not os.path.exists(f"{d}/_meta.json")
