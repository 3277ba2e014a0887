"""Physical-plan regression tests: broadcast, pushdown, pruning.

Correctness tests can't see a plan that would collapse at 100 TB;
these pin the physical strategies the engine depends on."""

import pytest
from pyspark.sql import functions as F

from docinsight_spark.corpus import make_queries
from docinsight_spark.index.builder import IndexBuilder
from docinsight_spark.operators.postings import (
    build_postings,
    corpus_stats,
    doc_stats,
    term_stats,
    with_doc_id,
)
from docinsight_spark.operators.query import bm25_scores, query_terms
from docinsight_spark.plans.checks import (
    assert_broadcast_join,
    assert_pushed_filter,
    codegen_stage_count,
    plan_text,
)


@pytest.fixture(scope="module")
def small_index(spark, tmp_path_factory, tiny_corpus):
    d = str(tmp_path_factory.mktemp("planidx"))
    IndexBuilder(spark, d, n_buckets=4).build(tiny_corpus)
    return d


def test_bm25_query_side_is_broadcast(spark, tiny_corpus):
    docs = with_doc_id(tiny_corpus)
    postings = build_postings(docs)
    ts, ds = term_stats(postings), doc_stats(postings)
    st = corpus_stats(ds)
    q = make_queries(spark, corpus_n=200, n_queries=5)
    scores = bm25_scores(query_terms(q), postings, ts, ds, st)
    assert_broadcast_join(scores)


def test_segment_scan_prunes_terms_and_columns(spark, small_index):
    seg = spark.read.parquet(f"{small_index}/segments").filter(
        F.col("term").isin(["return", "int"])
    )
    # term IN (...) must reach the parquet scan (row-group skipping via
    # min/max stats — segments are written sorted by term)
    assert_pushed_filter(seg, "term")
    # a projection that drops the posting arrays must not read them
    slim = seg.select("term", "doc_sub")
    p = plan_text(slim)
    read_lines = [l for l in p.splitlines() if "ReadSchema" in l]
    assert read_lines and all(
        "docs:" not in l and "tfs:" not in l for l in read_lines
    ), p


def test_generation_union_keeps_pushdown(spark, small_index, tmp_path_factory):
    """With delta generations the segment scan is a UNION of sets; the
    term IN-list must still reach EVERY parquet relation (per-set
    row-group skipping), and the term filter on the lazy df aggregate
    must push below the union into each term_stats scan — otherwise
    query cost regresses from |query terms| to O(vocabulary) per set."""
    from docinsight_spark.corpus import make_corpus
    from docinsight_spark.index.builder import (
        load_segments,
        load_term_stats,
    )

    d = str(tmp_path_factory.mktemp("genplan"))
    b = IndexBuilder(spark, d, n_buckets=4)
    b.build(make_corpus(spark, 150, seed=81, partitions=2))
    b.add_run(make_corpus(spark, 80, seed=82, partitions=2), "d1")
    b.refresh_delta()
    meta = b.meta()
    assert len(meta["generations"]) == 1

    seg = load_segments(spark, d, meta).filter(
        F.col("term").isin(["return", "int"])
    )
    p = plan_text(seg)
    scans = [l for l in p.splitlines() if "PushedFilters" in l]
    assert len(scans) >= 2, p  # base + generation relations
    assert all("term" in l for l in scans), p

    ts = load_term_stats(spark, d, meta).filter(
        F.col("term").isin(["return", "int"])
    )
    p = plan_text(ts)
    scans = [l for l in p.splitlines() if "PushedFilters" in l]
    assert len(scans) >= 2 and all("term" in l for l in scans), p


def test_finalize_encode_input_has_no_broadcast(spark, small_index):
    """The segment encoder's input must be a pure projection of the
    merged postings: no join, no BroadcastExchange.  A full-vocabulary
    term_stats broadcast here (how an idf-baked block-max would get its
    df) is an executor OOM at 10^12-file vocabulary scale."""
    b = IndexBuilder(spark, small_index, n_buckets=4)
    merged = [m for m in b.manifests() if m["unit"] == "merged-final"][0]["source"]
    postings = spark.read.parquet(f"{merged}/postings")
    enc = b._encode_input(postings)
    p = plan_text(enc)
    assert "BroadcastExchange" not in p, p
    assert "Join" not in p, p
    assert "term_stats" not in p, p


def test_doc_bucket_partition_pruning(spark, small_index):
    seg = spark.read.parquet(f"{small_index}/segments").filter(
        F.col("doc_bucket") == 2
    )
    p = plan_text(seg)
    assert "PartitionFilters" in p
    pf = [l for l in p.splitlines() if "PartitionFilters" in l]
    assert any("doc_bucket" in l for l in pf), p


def test_postings_scan_column_pruned(spark, small_index):
    # doc_stats derived from postings parquet must not read `term`
    postings = spark.read.parquet(f"{small_index}/runs/run00000/postings")
    dl = postings.groupBy("docID").agg(F.sum("tf").alias("dl"))
    p = plan_text(dl)
    read_lines = [l for l in p.splitlines() if "ReadSchema" in l]
    assert read_lines and all("term" not in l for l in read_lines), p


def test_scoring_plan_shape(spark, tiny_corpus):
    """BM25 scoring must be JVM-side: the formula lives in a Project
    expression (whole-stage-codegen eligible), the final agg has a
    map-side partial, and no Python evaluation node touches the
    scoring subtree (the tokenizer UDF is upstream of postings only)."""
    docs = with_doc_id(tiny_corpus)
    postings = build_postings(docs)
    ts, ds = term_stats(postings), doc_stats(postings)
    st = corpus_stats(ds)
    q = make_queries(spark, corpus_n=200, n_queries=5)
    scores = bm25_scores(query_terms(q), postings, ts, ds, st)
    p = plan_text(scores, "simple")
    assert "partial_sum" in p, p           # map-side combine
    assert p.count("BroadcastHashJoin") >= 2, p
    # the scoring expression is a column Project, not a UDF
    score_lines = [l for l in p.splitlines() if "ln(" in l]
    assert score_lines and all("Project" in l for l in score_lines), p


def test_search_rerank_single_postings_scan(spark, tiny_corpus):
    """T7 two-stage retrieval must reuse stage-1 scores: exactly ONE scan
    of the postings relation in the whole plan (a second full scan
    semi-joined to candidates doubled query cost)."""
    import tempfile

    from docinsight_spark.operators.query import search_rerank

    docs = with_doc_id(tiny_corpus)
    with tempfile.TemporaryDirectory() as d:
        build_postings(docs).write.parquet(f"{d}/postings")
        postings = spark.read.parquet(f"{d}/postings")
        # materialize the stats dimensions so the only /postings scan left
        # in the plan is the scoring one (in production they come from the
        # index's doc_stats/term_stats parquet, not a re-derivation)
        term_stats(postings).write.parquet(f"{d}/ts")
        doc_stats(postings).write.parquet(f"{d}/ds")
        ts = spark.read.parquet(f"{d}/ts")
        ds = spark.read.parquet(f"{d}/ds")
        st = corpus_stats(ds)
        q = make_queries(spark, corpus_n=200, n_queries=3)
        out = search_rerank(q, postings, ts, ds, st, k=3)
        # formatted explain lists one "Location: ...[path]" detail line
        # per parquet scan node — count the ones over /postings
        p = plan_text(out)
        scans = [
            l for l in p.splitlines()
            if "Location" in l and "/postings" in l
        ]
        assert len(scans) == 1, p
        assert out.count() > 0


# ---------------------------------------------------------------------------
# Round-5 positional / prefix plan pins
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def pos_index(spark, tmp_path_factory, tiny_corpus):
    d = str(tmp_path_factory.mktemp("posidx"))
    IndexBuilder(spark, d, n_buckets=4, positions=True).build(tiny_corpus)
    return d


@pytest.fixture(scope="module")
def real_bigram(tiny_corpus):
    """A phrase that actually matches (adjacent tokens of a corpus doc)
    — an unmatched phrase short-circuits to a literal empty frame with
    no scans to pin."""
    from docinsight_spark.functions.tokenizer import tokenize_code_pandas

    pdf = tiny_corpus.limit(1).toPandas()
    ts = list(tokenize_code_pandas(pdf["content"], pdf["lang"])[0])
    return " ".join(ts[4:6])


def test_phrase_term_pushdown_and_positions_pruning(spark, pos_index, monkeypatch):
    """The phrase plan's postings scans must (a) push the term IN-list
    into parquet (row-group skipping on the term-sorted layout) and
    (b) keep positions bytes out of the candidate pre-pass: at least
    one postings scan reads WITHOUT the positions column, and only the
    adjacency branch reads it.  Pinned on the lazy fallback plan
    (CAND_COLLECT_MAX=0) with the round-7 cost probe forced to the
    pre-pass plan, where both branches are visible in one plan (the
    driver feed's budget at 0: the Spark plan is the one pinned)."""
    from docinsight_spark.index import phrase as P
    from docinsight_spark.index import wand

    monkeypatch.setattr(wand, "DRIVER_FEED_MAX_BYTES", 0)
    monkeypatch.setattr(P, "CAND_COLLECT_MAX", -1)
    monkeypatch.setattr(P, "SINGLE_PASS_MAX_ROWS", -1)
    res = P.phrase_search(spark, pos_index, [(0, "public static")], k=5)
    p = plan_text(res)
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any("In(term" in l for l in pushed), "\n".join(pushed)
    reads = [l for l in p.splitlines() if "ReadSchema" in l and "term" in l]
    lite = [l for l in reads if "positions" not in l]
    heavy = [l for l in reads if "positions" in l]
    assert lite, "candidate pre-pass reads positions bytes:\n" + "\n".join(reads)
    assert heavy, "no scan reads positions at all:\n" + "\n".join(reads)


def test_phrase_single_pass_plan(spark, pos_index, real_bigram, monkeypatch):
    """Round-7 cost-probe fast path: a selective batch (Σ df under the
    single-pass bound — every tiny-corpus phrase qualifies) must skip
    the candidate pre-pass: exactly ONE postings scan, it reads the
    positions column, and the term IN-list still reaches parquet.
    Pinned on the Spark plan (the driver feed's budget at 0)."""
    from docinsight_spark.index import wand
    from docinsight_spark.index.phrase import phrase_search

    monkeypatch.setattr(wand, "DRIVER_FEED_MAX_BYTES", 0)

    res = phrase_search(spark, pos_index, [(0, real_bigram)], k=5)
    p = plan_text(res)
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any("In(term" in l for l in pushed), "\n".join(pushed)
    # main plan section only: the DPP subquery listing duplicates the
    # probe subtree's scan in the printout (reused at runtime)
    main = p.split("Subqueries")[0]
    reads = [l for l in main.splitlines() if "ReadSchema" in l and "term" in l]
    assert len(reads) == 1 and "positions" in reads[0], "\n".join(reads)


def test_snippet_windows_single_postings_scan(spark, pos_index, tiny_corpus):
    """The snippet plan self-joins the candidates' matched positions; the
    executed plan must scan the postings ONCE (the second join side is a
    reused exchange), so a planner change cannot double the scan."""
    from docinsight_spark.functions.tokenizer import tokenize_code_pandas
    from docinsight_spark.index.phrase import snippet_windows

    pdf = with_doc_id(tiny_corpus).limit(1).toPandas()
    toks = sorted(set(tokenize_code_pandas(pdf["content"], pdf["lang"])[0][4:8]))
    cand = spark.createDataFrame(
        [(0, int(pdf["docID"][0]))], "query_id long, docID long"
    )
    qterms = spark.createDataFrame(
        [(0, t) for t in toks], "query_id long, term string"
    )
    sn = snippet_windows(spark, pos_index, cand, qterms, window=8)
    assert len(sn.collect()) == 1  # the executed plan is the one pinned
    p = plan_text(sn)
    final = p.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 1, final
    assert "ReusedExchange" in final, final


def test_phrase_absent_term_short_circuits(spark, pos_index, monkeypatch):
    """A phrase containing a corpus-absent term can never match: the
    returned frame is a literal empty relation — no postings scan in the
    plan at all, and collecting it runs no job.  The driver feed answers
    with no job at all; on the Spark plan (budget 0) the cost probe
    answers from term_stats (its one collect)."""
    from docinsight_spark.index import wand
    from docinsight_spark.index.phrase import phrase_search

    def call():
        return phrase_search(spark, pos_index, [(0, "zzz_nonexistent_term qq")], k=5)

    n, res, rows = _jobs_of(spark, call)
    assert rows == [] and n == 0, n
    assert "parquet" not in plan_text(res).lower()
    monkeypatch.setattr(wand, "DRIVER_FEED_MAX_BYTES", 0)
    res = call()
    n, _, rows = _jobs_of(spark, lambda: res)
    assert rows == [] and n == 0, n
    p = plan_text(res)
    assert "parquet" not in p.lower(), p


def test_phrase_collected_candidates_prune_buckets(
    spark, pos_index, real_bigram, monkeypatch
):
    """On the collected-candidates path (the hot-term regime — forced
    here by zeroing the round-7 single-pass bound) the heavy positions
    scan must carry a doc_bucket partition filter — the positions read
    only lists buckets that can produce a match.  Pinned on the Spark
    plan (the driver feed's budget at 0)."""
    from docinsight_spark.index import phrase as P
    from docinsight_spark.index import wand

    monkeypatch.setattr(wand, "DRIVER_FEED_MAX_BYTES", 0)
    monkeypatch.setattr(P, "SINGLE_PASS_MAX_ROWS", -1)
    res = P.phrase_search(spark, pos_index, [(0, real_bigram)], k=5)
    p = plan_text(res)
    part = [
        l for l in p.splitlines()
        if "PartitionFilters" in l and "doc_bucket" in l
    ]
    assert any("IN" in l or "isin" in l or "in(" in l.lower() for l in part), (
        "no doc_bucket partition filter on the positions scan:\n" + p
    )


def test_phrase_encode_input_prunes_positions(spark, pos_index, tiny_corpus):
    """The WAND segment encoder's input over a positional merge must not
    read the positions column (it is a pure projection of term/docID/tf)."""
    b = IndexBuilder(spark, pos_index, n_buckets=4, positions=True)
    final = [m for m in b.manifests() if m["unit"] == "merged-final"][0]
    merged = spark.read.parquet(f"{final['source']}/postings")
    enc_in = b._encode_input(merged)
    p = plan_text(enc_in)
    reads = [l for l in p.splitlines() if "ReadSchema" in l]
    assert reads and all("positions" not in l for l in reads), "\n".join(reads)


def test_prefix_expansion_pushdown(spark, small_index):
    """The dictionary expansion's StartsWith predicate must reach the
    term_stats parquet scan (range pruning on the term-sorted layout)."""
    from docinsight_spark.index.wand import expand_prefix

    exp = expand_prefix(spark, small_index, [(0, "re")], max_expansions=4)
    p = assert_pushed_filter(exp, "StringStartsWith(term")
    assert "PushedFilters" in p


def _jobs_of(spark, fn) -> tuple[int, object, list]:
    """(Spark jobs run by ``fn()`` and collecting its frame, the frame,
    its rows), counted through a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        df = fn()
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), df, rows


def test_warm_searcher_serves_driver_sized_queries_without_jobs(
    spark, small_index, monkeypatch
):
    """A warm Searcher answers driver-sized OR, AND, NOT and prefix calls
    given as lists with NO Spark job (the driver feed: pyarrow reads of
    the terms' rows, the kernel on the driver, an Arrow-built local
    result).  With the driver-feed budget at 0 the same calls run the
    distributed mapInPandas plan."""
    from docinsight_spark.index import wand

    s = wand.Searcher(spark, small_index)
    calls = {
        "or": lambda: s.search([(0, "return int value")], k=5),
        "and": lambda: s.search([(0, "return int")], k=5, require_all=True),
        "not": lambda: s.search(
            [(0, "return int")], k=5, neg_queries=[(0, "value")]
        ),
        "prefix": lambda: s.prefix([(0, "re")], k=5),
    }
    for fn in calls.values():
        fn().collect()  # warm: footer index, doc lengths
    for name, fn in calls.items():
        n, _, rows = _jobs_of(spark, fn)
        assert rows and n == 0, (name, n)
    monkeypatch.setattr(wand, "DRIVER_FEED_MAX_BYTES", 0)
    for name, fn in calls.items():
        n, df, rows = _jobs_of(spark, fn)
        assert rows and n > 0, (name, n)
        assert "MapInPandas" in plan_text(df), name


def test_warm_searcher_serves_driver_sized_phrases_without_jobs(
    spark, pos_index, real_bigram, monkeypatch
):
    """A warm Searcher answers driver-sized phrase and NEAR calls given
    as lists with NO Spark job (the phrase driver feed: pyarrow reads of
    the terms' merged-postings rows, the offset-intersection kernel on
    the driver, an Arrow-built local result).  With the driver-feed
    budget at 0 the same calls run the mapInPandas plan."""
    from docinsight_spark.index import wand

    s = wand.Searcher(spark, pos_index)
    calls = {
        "phrase": lambda: s.phrase([(0, real_bigram)], k=5),
        "near": lambda: s.proximity([(0, real_bigram)], k=5, window=4),
    }
    for fn in calls.values():
        fn().collect()  # warm: footer index, doc lengths
    for name, fn in calls.items():
        n, _, rows = _jobs_of(spark, fn)
        assert rows and n == 0, (name, n)
    monkeypatch.setattr(wand, "DRIVER_FEED_MAX_BYTES", 0)
    for name, fn in calls.items():
        n, df, rows = _jobs_of(spark, fn)
        assert rows and n > 0, (name, n)
        assert "MapInPandas" in plan_text(df), name
