"""Replicates the driver's correctness gate locally: run every
``queries()`` entry on Spark at sf0.01 and compare row-count + values
against ``oracle_sql()`` via DuckDB (order-insensitive)."""

from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].round(6)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql().keys()))
def test_query_matches_duckdb_oracle(spark, ddb, name):
    q = entrymod.queries()[name]
    spark_pdf = q(spark, SF_DIR).toPandas()
    duck_pdf = ddb.sql(entrymod.oracle_sql()[name]).df()
    a, b = _canon(spark_pdf), _canon(duck_pdf)
    assert list(a.columns) == list(b.columns), (list(a.columns), list(b.columns))
    assert len(a) == len(b), f"{name}: rows {len(a)} vs {len(b)}"
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]):
            assert ((a[c] - b[c]).abs() < 1e-6).all(), f"{name}.{c}"
        else:
            eq = (a[c] == b[c]) | (a[c].isna() & b[c].isna())
            assert eq.all(), f"{name}.{c}: first diff\n{a[c][~eq].head()}\n{b[c][~eq].head()}"


def test_all_queries_have_unique_names():
    qs = entrymod.queries()
    assert len(qs) == len(set(qs))
    assert set(entrymod.oracle_sql()).issubset(set(qs))


ROWS_ONLY = sorted(set(entrymod.queries()) - set(entrymod.oracle_sql()))


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_entries_return_rows(spark, name):
    """Entries without SQL oracles still get the driver's rows-only
    check — assert they produce rows locally too."""
    assert entrymod.queries()[name](spark, SF_DIR).count() > 0


def test_proximity_entry_fails_on_saturated_overfetch(spark, monkeypatch):
    """An over-fetch that a query fills may have cut rows, so the
    proximity entry must refuse to produce a comparison."""
    from docinsight_spark import contract

    monkeypatch.setattr(contract, "_PROX_OVERFETCH", 1)
    with pytest.raises(RuntimeError, match="over-fetch saturated"):
        contract.proximity_topk(spark, SF_DIR)
