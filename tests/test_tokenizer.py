"""Tokenizer unit tests (SURVEY §5 test plan item 1)."""

import pandas as pd
import pytest

from docinsight_spark.functions.tokenizer import (
    query_terms,
    query_tokens,
    tokenize_code_pandas,
)


def tok(content, lang="java"):
    return tokenize_code_pandas(pd.Series([content]), pd.Series([lang]))[0]


def test_camel_case_split():
    assert tok("int loadBufferImpl = 3;") == ["int", "load", "buffer", "impl", "3"]


def test_snake_case_split():
    assert tok("scan_token_count = probe(x)", "python") == [
        "scan", "token", "count", "probe", "x"
    ]


def test_acronym_boundary():
    assert tok("HTTPServer parseURL") == ["http", "server", "parse", "url"]


def test_line_comment_stripped():
    assert tok("int a = 1; // secretComment here") == ["int", "a", "1"]


def test_block_comment_stripped():
    assert tok("int a; /* multi\nline comment */ int b;") == ["int", "a", "int", "b"]


def test_python_comment_and_docstring():
    src = '"""doc string."""\nx = 1  # trailing note\n'
    assert tok(src, "python") == ["x", "1"]


def test_string_literal_stripped():
    assert tok('String s = "hidden words";') == ["string", "s"]


def test_comment_marker_inside_string_not_comment():
    # the // lives inside the string literal; the trailing code survives
    assert tok('String u = "http://x"; int b;') == ["string", "u", "int", "b"]


def test_empty_and_null():
    out = tokenize_code_pandas(pd.Series(["", None]), pd.Series(["java", "go"]))
    assert list(out) == [[], []]


def test_go_line_comment():
    assert tok("// header\nvar x = y\n", "go") == ["var", "x", "y"]


# Java's regex \s is [ \t\n\x0b\f\r]; the rest are whitespace only to
# Python's Unicode-aware \s (NBSP, \x1c, U+2028) — the driver form must
# not split on them either.  Plus non-ASCII case folding and empties.
_PARITY_INPUTS = [
    "a\x0bb", "a\fb", "a\rb", "a\tb", "a\u00a0b", "a\x1cb", "a\u2028b",
    "İstanbul ΟΔΟΣ Straße", "", None, "fooBar baz_qux(1);",
]


@pytest.mark.parametrize("lang", ["java", "python"])
@pytest.mark.parametrize("code_aware", [True, False])
def test_query_driver_form_matches_column_form(spark, code_aware, lang):
    """A query batch gets the same terms whether it tokenizes on the
    driver (small batches, phrases) or in executors (large batches)."""
    q = spark.createDataFrame(
        list(enumerate(_PARITY_INPUTS)), "query_id long, query_text string"
    )
    col: dict[int, set] = {}
    for r in query_terms(q, code_aware=code_aware, lang=lang).collect():
        col.setdefault(r["query_id"], set()).add(r["term"])
    driver = query_tokens(_PARITY_INPUTS, code_aware=code_aware, lang=lang)
    assert len(driver) == len(_PARITY_INPUTS)
    for i, toks in enumerate(driver):
        assert set(toks) == col.get(i, set()), (repr(_PARITY_INPUTS[i]), toks)
    if not code_aware:
        assert driver[0] == ["a", "b"] and driver[4] == ["a b"]
