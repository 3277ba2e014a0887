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


def result_rows(df) -> list[tuple[int, int, int, float]]:
    """A (query_id, rank, docID, score) frame as sorted tuples."""
    return sorted(
        (int(r["query_id"]), int(r["rank"]), int(r["docID"]), float(r["score"]))
        for r in df.collect()
    )


def assert_rows_match(got, want, atol: float = 1e-9) -> None:
    """Rank-identical: the same (query_id, rank, docID) rows, scores
    within ``atol``."""
    assert [r[:3] for r in got] == [r[:3] for r in want]
    assert all(abs(g[3] - w[3]) <= atol for g, w in zip(got, want))


def _assert_both_feeds(monkeypatch, search, want, atol, spied) -> None:
    """Run ``search()`` with the driver-feed budget unbounded, then at 0:
    every spied driver-feed function (``(module, name)`` pairs; each
    returns None when it declines) must serve the first run and decline
    the second, and both runs must be rank-identical to ``want``."""
    from docinsight_spark.index import wand

    for budget, on_driver in ((1 << 62, True), (0, False)):
        served = []

        def spy(real):
            def call(*a, **kw):
                out = real(*a, **kw)
                served.append(out is not None)
                return out
            return call

        with monkeypatch.context() as m:
            m.setattr(wand, "DRIVER_FEED_MAX_BYTES", budget)
            for mod, name in spied:
                m.setattr(mod, name, spy(getattr(mod, name)))
            got = result_rows(search())
        assert served and all(s == on_driver for s in served), (budget, served)
        assert got, "the fixture's queries match nothing"
        assert_rows_match(got, want, atol)


def assert_feeds_match(monkeypatch, search, want, atol: float = 1e-9):
    """Run ``search()`` (a WAND result frame) twice: with the driver feed
    forced on (budget unbounded) and with its budget at 0 (the
    distributed feed).  Each run must take the feed it was forced onto —
    for its term maps and its dictionary expansions alike — and both must
    be rank-identical to ``want`` (:func:`result_rows` rows)."""
    from docinsight_spark.index import wand

    _assert_both_feeds(
        monkeypatch, search, want, atol,
        [(wand, "_driver_topk"), (wand, "_expand_local")],
    )


def assert_positional_feeds_match(monkeypatch, search, want, atol: float = 1e-9):
    """:func:`assert_feeds_match` for a phrase / NEAR result frame: the
    driver feed (``phrase._driver_phrase``) forced on, then the Spark
    plan (budget 0), both rank-identical to ``want``."""
    from docinsight_spark.index import phrase

    _assert_both_feeds(monkeypatch, search, want, atol, [(phrase, "_driver_phrase")])
