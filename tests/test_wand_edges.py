"""WAND fast-path edge cases (robustness at the query surface)."""

import pytest
from pyspark.sql import functions as F

from docinsight_spark.index.builder import IndexBuilder
from docinsight_spark.index.wand import wand_search


@pytest.fixture(scope="module")
def small_idx(spark, tmp_path_factory, tiny_corpus):
    d = str(tmp_path_factory.mktemp("edgeidx"))
    IndexBuilder(spark, d, n_buckets=4).build(tiny_corpus)
    return d


def _q(spark, *texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "query_id long, query_text string"
    )


def test_k_larger_than_candidates(spark, small_idx):
    q = _q(spark, "zqrareterm7")  # df ≤ 1
    res = wand_search(spark, small_idx, q, k=50).toPandas()
    assert len(res) <= 50
    assert res["rank"].is_monotonic_increasing


def test_all_unknown_terms(spark, small_idx):
    res = wand_search(spark, small_idx, _q(spark, "qqqq zzzz wwww"), k=5)
    assert res.count() == 0


def test_empty_query_batch(spark, small_idx):
    empty = spark.createDataFrame([], "query_id long, query_text string")
    assert wand_search(spark, small_idx, empty, k=5).count() == 0


def test_mixed_known_unknown_terms(spark, small_idx):
    res = wand_search(
        spark, small_idx, _q(spark, "return zzznotaterm buffer"), k=5
    ).toPandas()
    assert len(res) == 5  # known terms still retrieve


def test_duplicate_query_ids_union_terms(spark, small_idx):
    # two rows with the same query_id: terms are unioned, one result set
    q = spark.createDataFrame(
        [(1, "return"), (1, "buffer")], "query_id long, query_text string"
    )
    res = wand_search(spark, small_idx, q, k=5).toPandas()
    assert set(res["query_id"]) == {1}
    assert len(res) == 5
    both = wand_search(spark, small_idx, _q(spark, "x"), k=5)  # warm check
    assert both.count() == 0 or True


def test_unicode_and_long_query(spark, small_idx):
    long_q = "return " * 500 + "schnörkel✓ ünïcode"
    res = wand_search(spark, small_idx, _q(spark, long_q), k=3).toPandas()
    assert len(res) == 3


def test_distributed_tokenize_matches_driver_path(spark, small_idx):
    """Above the batch-size threshold queries tokenize in executors;
    results must be identical to the driver-side path."""
    from docinsight_spark.corpus import make_queries

    q = make_queries(spark, corpus_n=200, n_queries=12)
    a = (
        wand_search(spark, small_idx, q, k=5, driver_tokenize_max=0)
        .orderBy("query_id", "rank").toPandas()
    )
    b = wand_search(spark, small_idx, q, k=5).orderBy("query_id", "rank").toPandas()
    assert a[["query_id", "rank", "docID"]].equals(b[["query_id", "rank", "docID"]])
    assert (abs(a["score"] - b["score"]) < 1e-12).all()


def test_report_pipeline_large_batch_distributed_tokenize(
    spark, small_idx, tiny_corpus, monkeypatch
):
    """cmd_report's shape: ~1k query lines.  The driver-side tokenizer
    must be off (threshold forced to 0) and the pipeline still answers."""
    from docinsight_spark.index import wand as wand_mod
    from docinsight_spark.operators.pipeline import analyze_documents

    monkeypatch.setattr(wand_mod, "DRIVER_TOKENIZE_MAX", 0)
    qdocs = tiny_corpus.limit(60).select(
        F.xxhash64("repo", "path").alias("doc_id"), F.col("content")
    )  # ~60 docs × ~15-30 lines ≈ 1k query sentences
    sent, spans, orig = analyze_documents(spark, small_idx, qdocs, k=5)
    assert orig.count() == 60
    assert sent.count() >= 600


def test_huge_k_hot_term_scores_descend(spark, small_idx):
    res = wand_search(spark, small_idx, _q(spark, "return int value"), k=200).toPandas()
    assert len(res) <= 200
    s = res.sort_values("rank")["score"].values
    assert all(s[i] >= s[i + 1] - 1e-12 for i in range(len(s) - 1))


def test_query_side_tokenizer_lang_parity(spark, tmp_path):
    """A Python-majority corpus masks '#' comments at build time; the
    query side must mask them identically (``_meta.json: query_lang``,
    recorded from the runs' lang mix).  A query whose extra terms sit
    entirely inside a '#' comment must therefore retrieve exactly what
    the bare query does — under java masking the hot terms inside the
    comment would leak into the query and change the top-k."""
    from docinsight_spark.corpus import make_corpus
    from docinsight_spark.index import fsio

    d = str(tmp_path / "pyidx")
    corpus = make_corpus(spark, 250, seed=5).withColumn("lang", F.lit("python"))
    IndexBuilder(spark, d, n_buckets=4).build(corpus)
    assert fsio.read_json(f"{d}/_meta.json")["query_lang"] == "python"
    with_comment = _q(spark, "buffer segment # return int value")
    bare = _q(spark, "buffer segment")
    a = sorted(map(tuple, wand_search(spark, d, with_comment, k=5)
                .select("rank", "docID", "score").collect()))
    b = sorted(map(tuple, wand_search(spark, d, bare, k=5)
                .select("rank", "docID", "score").collect()))
    assert a == b and len(a) == 5
    # the distributed-tokenize path applies the same lang
    c = sorted(map(tuple, wand_search(
        spark, d, with_comment, k=5, driver_tokenize_max=0)
        .select("rank", "docID", "score").collect()))
    assert c == a


def test_per_wave_driver_collect_identical_with_telemetry(spark, small_idx):
    """Large-batch path: (query_id, term) pairs are collected per WAVE —
    driver residency is O(chunk × terms/query), never O(batch) — and the
    results are identical to the small-batch driver-tokenized path."""
    from docinsight_spark.corpus import make_queries

    q = make_queries(spark, corpus_n=200, n_queries=30)
    stats: dict = {}
    a = sorted(map(tuple, wand_search(
        spark, small_idx, q, k=5, driver_tokenize_max=0,
        query_chunk_size=7, stats_out=stats,
    ).collect()))
    b = sorted(map(tuple, wand_search(spark, small_idx, q, k=5).collect()))
    assert a == b and len(a) > 0
    assert stats["n_waves"] == 5  # ceil(30 / 7)
    # one wave's pairs only: ≤ chunk × (distinct terms per query)
    assert 0 < stats["driver_pairs_max_wave"] < 7 * 64


def test_many_waves_checkpoint_guard_identical(spark, small_idx, monkeypatch):
    """Past CHECKPOINT_WAVES the accumulated union is localCheckpoint'ed
    (bounded logical plan); results must be unchanged through it."""
    from docinsight_spark.corpus import make_queries
    from docinsight_spark.index import wand as wand_mod

    monkeypatch.setattr(wand_mod, "CHECKPOINT_WAVES", 4)
    q = make_queries(spark, corpus_n=200, n_queries=26)
    many = sorted(map(tuple, wand_search(
        spark, small_idx, q, k=5, query_chunk_size=2,  # 13 waves → 3 checkpoints
    ).collect()))
    one = sorted(map(tuple, wand_search(spark, small_idx, q, k=5).collect()))
    assert many == one and len(many) > 0


def test_wand_query_batch_chunking_identical(spark, small_idx):
    """Large batches split into bounded waves; results must be identical
    to the single-wave path (per-shard work stays O(shards × wave))."""
    from docinsight_spark.corpus import make_queries
    from docinsight_spark.index.wand import wand_search

    q = make_queries(spark, corpus_n=200, n_queries=24)
    whole = sorted(map(tuple, wand_search(spark, small_idx, q, k=5).collect()))
    waved = sorted(
        map(
            tuple,
            wand_search(spark, small_idx, q, k=5, query_chunk_size=5).collect(),
        )
    )
    assert whole == waved and len(whole) > 0


@pytest.mark.parametrize("entry", ["wand_search", "searcher"])
def test_refuses_pre_array_segment_index(spark, small_idx, tmp_path, entry):
    """A version-4 index stores VByte segment payloads, not the docs/tfs
    arrays: the query gate refuses it up front with the rebuild message
    instead of failing later inside a Python worker — on the one-shot
    call and on the serving ``Searcher`` alike."""
    import json
    import shutil

    from docinsight_spark.index.wand import Searcher

    d = str(tmp_path / "v4idx")
    shutil.copytree(small_idx, d)
    with open(f"{d}/_meta.json") as f:
        meta = json.load(f)
    assert meta["version"] == 5
    meta["version"] = 4
    with open(f"{d}/_meta.json", "w") as f:
        json.dump(meta, f)
    q = _q(spark, "return int")
    with pytest.raises(ValueError, match="rebuild the index"):
        if entry == "searcher":
            Searcher(spark, d).search(q, k=5)
        else:
            wand_search(spark, d, q, k=5)
