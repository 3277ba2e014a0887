from __future__ import annotations

import pytest

from docinsight_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="docinsight_tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_corpus(spark):
    """200-row deterministic code corpus (fixture F1 'tiny')."""
    from docinsight_spark.corpus import make_corpus

    df = make_corpus(spark, 200, seed=42, partitions=4).cache()
    df.count()
    return df


def add_runs(b, corpus, k: int) -> None:
    """Ingest ``corpus`` as ``k`` runs ``run00000``… through ``b.add_run``.

    Run ``i`` holds the rows whose docID ``xxhash64(repo, path, commit)``
    hashes to ``i`` (``pmod(xxhash64(docID), k)``): every copy of a doc
    lands in one run, so the slices are disjoint and deterministic."""
    from pyspark.sql import functions as F

    from docinsight_spark.operators.postings import DOC_KEY

    key = F.pmod(F.xxhash64(F.xxhash64(*DOC_KEY)), F.lit(k))
    for i in range(k):
        b.add_run(corpus.filter(key == i), f"run{i:05d}")
