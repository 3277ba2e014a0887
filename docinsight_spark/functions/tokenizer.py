"""Tokenizers: the engine's analog of DocInsight's text preparation.

The reference masks citations before analysis
(``/root/reference/ingestion/citation_mask.py:47-153``) and tokenizes
with ``\\b\\w+\\b`` for stylometry
(``/root/reference/stylometry/features.py:129-133``).  For a
source-code corpus the analogous preparation is comment / string-literal
stripping followed by identifier-aware tokenization (camelCase +
snake_case splitting).  Both run as **vectorized pandas UDFs** over
Arrow batches — no per-row Python in the Spark plan.

Two tokenizers are exposed:

* :func:`simple_tokens_col` — pure Catalyst column expression
  (whitespace split, lowercase).  SQL-expressible, used wherever a
  DuckDB oracle must reproduce tokenization exactly.
* :func:`code_tokens_udf` — the code-aware pandas UDF (the engine's
  production tokenizer).

Query text becomes index terms here and nowhere else.  An index records
its tokenizer in ``_meta.json`` (``code_aware`` + ``query_lang``);
:func:`query_tokenizer` reads that choice, and two forms apply it:

* :func:`query_tokens` — driver form: texts → ordered token lists;
* :func:`query_terms` — column form: ``(query_id, query_text)`` →
  distinct ``(query_id, term)``; :func:`query_token_col` is its
  per-row token array.

Both forms give the same terms for the same text (pinned by
``tests/test_tokenizer.py``), so a batch tokenizes identically on the
driver, in executors, and at index build.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# SQL-expressible simple tokenizer (oracle-parity path)
# ---------------------------------------------------------------------------


def simple_tokens_col(col: Column | str) -> Column:
    """``array<string>`` of lowercase whitespace-delimited tokens.

    Exactly reproducible in ANSI SQL / DuckDB as
    ``string_split_regex(lower(text), '\\s+')`` with empties removed —
    used for every driver-contract oracle comparison.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), r"\s+"), lambda x: x != F.lit(""))


# ---------------------------------------------------------------------------
# Code-aware tokenizer (production path, vectorized pandas UDF)
# ---------------------------------------------------------------------------

# One alternation per language family: string literals and comments are
# consumed left-to-right in a single pass, so comment markers inside
# strings (and vice versa) do not double-strip.  Mirrors the *intent* of
# the reference's right-to-left citation masking
# (citation_mask.py:77-112): remove non-authorial surface text before
# analysis.
_C_FAMILY_MASK = re.compile(
    r'"(?:\\.|[^"\\\n])*"'      # double-quoted string
    r"|'(?:\\.|[^'\\\n])*'"     # char / single-quoted literal
    r"|/\*.*?\*/"               # block comment
    r"|//[^\n]*",               # line comment
    re.DOTALL,
)
_PY_MASK = re.compile(
    r'""".*?"""'
    r"|'''.*?'''"
    r'|"(?:\\.|[^"\\\n])*"'
    r"|'(?:\\.|[^'\\\n])*'"
    r"|#[^\n]*",
    re.DOTALL,
)
_MASKS = {
    "python": _PY_MASK,
    "py": _PY_MASK,
    "go": _C_FAMILY_MASK,
    "java": _C_FAMILY_MASK,
    "cpp": _C_FAMILY_MASK,
    "c": _C_FAMILY_MASK,
    "js": _C_FAMILY_MASK,
}

# camelCase boundaries: lower|digit→Upper, and ACRONYMWord → ACRONYM Word
_CAMEL_1 = re.compile(r"([a-z0-9])([A-Z])")
_CAMEL_2 = re.compile(r"([A-Z]+)([A-Z][a-z])")
_NON_WORD = re.compile(r"[^A-Za-z0-9]+")


def tokenize_code_pandas(content: pd.Series, lang: pd.Series | None = None) -> pd.Series:
    """Vectorized code tokenization over a pandas batch.

    Steps: (1) strip comments + string literals per ``lang``;
    (2) split snake_case / camelCase identifiers; (3) lowercase;
    (4) emit word tokens.  Returns a Series of ``list[str]``.
    """
    content = content.fillna("")
    if lang is None:
        masked = content.str.replace(_C_FAMILY_MASK, " ", regex=True)
    else:
        masked = content.copy()
        lang_norm = lang.fillna("").str.lower()
        for lg, pat in _MASKS.items():
            sel = lang_norm == lg
            if sel.any():
                masked[sel] = content[sel].str.replace(pat, " ", regex=True)
        other = ~lang_norm.isin(_MASKS)
        if other.any():
            masked[other] = content[other].str.replace(
                _C_FAMILY_MASK, " ", regex=True
            )
    s = masked.str.replace(_CAMEL_2, r"\1 \2", regex=True)
    s = s.str.replace(_CAMEL_1, r"\1 \2", regex=True)
    s = s.str.replace(_NON_WORD, " ", regex=True).str.lower()
    # findall of non-space runs ≡ split-on-ws minus empties, in one
    # vectorized pass (no per-row Python filter)
    return s.str.findall(r"\S+")


@F.pandas_udf(T.ArrayType(T.StringType()))
def code_tokens_udf(content: pd.Series, lang: pd.Series) -> pd.Series:
    """pandas UDF wrapper: ``code_tokens_udf(content, lang) -> array<string>``."""
    return tokenize_code_pandas(content, lang)


# ---------------------------------------------------------------------------
# Query tokenization: the index's tokenizer, driver form and column form
# ---------------------------------------------------------------------------

# Java's regex \s, which ``simple_tokens_col`` splits on in the JVM, is
# the ASCII class below; Python's \s is Unicode-aware (NBSP, \x1c,
# U+2028 …), so Python code matching the JVM spells the class out
JAVA_WS = " \t\n\x0b\f\r"
_JAVA_WS_RUN = re.compile(f"[{JAVA_WS}]+")


def query_tokenizer(meta: dict) -> dict:
    """The tokenizer an index was built with, as the ``code_aware`` /
    ``lang`` arguments of :func:`query_tokens` and :func:`query_terms`.
    ``lang`` is the corpus-majority lang the build recorded
    (``query_lang``): a Python-majority corpus masks ``#`` comments, so
    its queries must too."""
    return {
        "code_aware": bool(meta.get("code_aware", True)),
        "lang": str(meta.get("query_lang", "java")),
    }


def query_tokens(
    texts: list[str | None], code_aware: bool = True, lang: str = "java"
) -> list[list[str]]:
    """Driver form: each text's tokens, in order, duplicates kept (a
    phrase may repeat a term).  No Spark job."""
    if code_aware:
        return list(tokenize_code_pandas(
            pd.Series(texts, dtype=object),
            pd.Series([lang] * len(texts), dtype=object),
        ))
    return [[t for t in _JAVA_WS_RUN.split((x or "").lower()) if t] for x in texts]


def query_token_col(col: str, code_aware: bool = True, lang: str = "java") -> Column:
    """Column form, per row: ``array<string>`` of column ``col``'s tokens."""
    return code_tokens_udf(F.col(col), F.lit(lang)) if code_aware else simple_tokens_col(col)


def query_terms(
    queries: DataFrame, code_aware: bool = True, lang: str = "java"
) -> DataFrame:
    """Column form: ``(query_id, query_text)`` → distinct
    ``(query_id, term)`` (bag-of-words retrieval: a repeated query term
    counts once; rows sharing a query_id union their terms)."""
    tok = query_token_col("query_text", code_aware, lang)
    return queries.select("query_id", F.explode(tok).alias("term")).distinct()


# ---------------------------------------------------------------------------
# Mask analysis (SURVEY P4 + A12): what got stripped, per kind
# ---------------------------------------------------------------------------

_KIND_PATTERNS = {
    "line_comment": re.compile(r"//[^\n]*|#[^\n]*"),
    "block_comment": re.compile(r"/\*.*?\*/|\"\"\".*?\"\"\"|'''.*?'''", re.DOTALL),
    "string_literal": re.compile(r'"(?:\\.|[^"\\\n])*"' + r"|'(?:\\.|[^'\\\n])*'"),
}


def mask_summary_pandas(content: pd.Series) -> pd.DataFrame:
    """Per-row counts of masked constructs — the analog of the
    reference's citation summary (``ingestion/citation_mask.py:138-153``,
    per-pattern-type counts). Vectorized ``str.count`` per kind."""
    out = {}
    for kind, pat in _KIND_PATTERNS.items():
        out[f"n_{kind}"] = content.fillna("").str.count(pat)
    return pd.DataFrame(out)
