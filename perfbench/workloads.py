"""The benchmark's workloads: seeded inputs, a timed closed loop, checks.

Each workload is one client with no concurrency: the next operation is
sent only after the previous one returned and its rows were collected.
Inputs come from ``docinsight_spark.corpus`` and are written to parquet
in the run's scratch directory before anything is timed.

``serve``   a resident ``Searcher(cache=True)`` answering single queries.
``report``  originality reports over batches of plagiarism-shaped docs.

A workload is a generator: its first ``next()`` does the set-up (datagen,
index build, serve's warm-up) and yields the :class:`Outcome`; the second
runs the timed loop and the checks and yields it again, filled in.  The runner
times set-up and reads host counters between the two.
"""

from __future__ import annotations

import itertools
import random
import re
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field
from typing import Iterator

import pandas as pd

from docinsight_spark.corpus import gen_file, make_corpus, make_plag_corpus, make_queries
from docinsight_spark.evaluation import oracle_from_index
from docinsight_spark.functions.tokenizer import tokenize_code_pandas
from docinsight_spark.index import fsio
from docinsight_spark.index.builder import IndexBuilder
from docinsight_spark.index.neardup import NearDupStore
from docinsight_spark.index.wand import Searcher
from docinsight_spark.operators.pipeline import analyze_documents
from docinsight_spark.operators.postings import with_doc_id
from docinsight_spark.operators.stylometry import compare_profiles, stylo_features

# corpus shape: a twentieth of the 20k-file corpus the round records
# used, so that set-up plus a run fit the per-run time budget on 4 cores
# (per-call fixed cost, not corpus size, decides an op's latency here)
CORPUS_FILES = 1000
# index geometry: 4 buckets x 2 subs = 8 shards, not the builder's
# default 32 x 2 = 64 the round records used.  At 64 shards a serve run
# took ~76 s and a report run ~60 s on 4 cores (ten seeds each): the
# benchmark's 48 runs would need ~3,270 s of their 3,420 s budget.  The
# README says what 8 shards hide (most of ROADMAP direction 1's win)
N_BUCKETS, N_SUBS = 4, 2
K = 10
NEAR_WINDOW = 8
EVIDENCE_WINDOW = 8
STYLO_COLS = ["type_token_ratio", "avg_word_length", "stopword_ratio",
              "punctuation_density"]


@dataclass
class Outcome:
    """What a workload hands back to the runner."""
    latencies_s: list[float] = field(default_factory=list)
    items: int = 0                 # queries answered / documents reported
    timed_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    build_s: float = 0.0
    built_files: int = 0
    input_bytes: int = 0
    index_dir: str = ""
    store_dir: str = ""
    checks: list[tuple[str, bool, str]] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


def _build_index(spark, tracer, corpus, index_dir: str, out: Outcome) -> None:
    t = time.perf_counter()
    with tracer.span("builder.build"):
        IndexBuilder(
            spark, index_dir, n_buckets=N_BUCKETS, n_subs=N_SUBS, positions=True
        ).build(corpus)
    out.build_s = time.perf_counter() - t
    out.index_dir = index_dir
    out.built_files = int(fsio.read_json(f"{index_dir}/_meta.json")["n_docs"])


class _Loop:
    """Runs operations until the run's seconds are spent.  Every op is
    counted; one that raises counts as failed and is not timed."""

    def __init__(self, out: Outcome, seconds: float):
        self.out, self.seconds = out, seconds
        self.t0 = time.perf_counter()

    def more(self) -> bool:
        return time.perf_counter() - self.t0 < self.seconds

    def op(self, fn, items: int):
        self.out.attempted += 1
        t = time.perf_counter()
        try:
            res = fn()
        except Exception:  # a failed op is counted, reported and skipped
            traceback.print_exc()
            self.out.failed += 1
            return None
        self.out.latencies_s.append(time.perf_counter() - t)
        self.out.items += items
        return res

    def close(self) -> None:
        self.out.timed_s = time.perf_counter() - self.t0


# -- serve -----------------------------------------------------------------

def _source_phrase(i: int, seed: int) -> tuple[str, str]:
    """(phrase, near) query texts drawn from corpus file ``i``'s own
    tokens, anchored on the token carrying the file number so the source
    file is among the few that match."""
    f = gen_file(i, seed)
    toks = tokenize_code_pandas(pd.Series([f["content"]]), pd.Series([f["lang"]]))[0]
    anchor = next(p for p, t in enumerate(toks) if re.fullmatch(rf"[a-z]+{i}", t))
    anchor = min(anchor, len(toks) - 4)
    return " ".join(toks[anchor:anchor + 3]), f"{toks[anchor]} {toks[anchor + 3]}"


# one block of the stream: one query of every kind, block-max kinds (OR,
# AND, prefix) three of five.  A run times whole blocks only, so every
# run times the same mix, whatever the host's speed.
BLOCK = ["or", "near", "and", "phrase", "prefix"]
STREAM_BLOCKS = 3          # distinct blocks; a longer run cycles them
PREFIXES = ["merg", "buff", "scan", "tok", "rec", "sort", "hash", "que"]


def _serve_stream(
    spark, seed: int, corpus_seed: int, n_blocks: int
) -> list[list[tuple[str, int, str, int | None]]]:
    """Deterministic blocks of (kind, query_id, text, source file), each
    in the order of :data:`BLOCK`.  A block's OR text is one of the five
    ``make_queries`` kinds, turning with the block and the seed, so the
    seeds of a set of runs cover all five; AND takes the first three
    words of a verbatim or renamed snippet; phrase and NEAR texts come
    from files of the corpus generated with ``corpus_seed``."""
    rng = random.Random(seed)
    qs = list(make_queries(spark, CORPUS_FILES, 5 * n_blocks, seed=seed)
              .toPandas()["query_text"])
    blocks = []
    qid = seed * 100_000
    for b in range(n_blocks):
        block = []
        for kind in BLOCK:
            src = None
            if kind == "or":
                text = qs[5 * b + (seed + b) % 5]
            elif kind == "and":
                text = " ".join(qs[5 * b + rng.randrange(2)].split()[:3])
            elif kind == "prefix":
                text = rng.choice(PREFIXES)
            else:
                src = rng.randrange(40, CORPUS_FILES)
                text = _source_phrase(src, corpus_seed)[kind == "near"]
            qid += 1
            block.append((kind, qid, text, src))
        blocks.append(block)
    return blocks


SERVE_SPANS = {
    "or": "wand.search", "and": "wand.search_and", "prefix": "wand.prefix",
    "phrase": "phrase.phrase", "near": "phrase.near",
}


def _serve_call(spark, searcher: Searcher, kind: str, qid: int, text: str):
    q = [(qid, text)]
    if kind in ("or", "and"):
        df = searcher.search(
            spark.createDataFrame(q, "query_id long, query_text string"), k=K,
            require_all=kind == "and",
        )
    elif kind == "prefix":
        df = searcher.prefix(q, k=K)
    elif kind == "phrase":
        df = searcher.phrase(q, k=K)
    else:
        df = searcher.proximity(q, k=K, window=NEAR_WINDOW)
    return [(int(r["rank"]), int(r["docID"]), float(r["score"])) for r in df.collect()]


def serve(spark, tracer, work: str, seed: int, seconds: float) -> Iterator[Outcome]:
    out = Outcome()
    corpus_path = f"{work}/corpus"
    make_corpus(spark, CORPUS_FILES, seed=seed).write.parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    out.input_bytes = _content_bytes(corpus)
    _build_index(spark, tracer, corpus, f"{work}/index", out)
    searcher = Searcher(spark, out.index_dir, cache=True)
    # warm-up from a disjoint seed, untimed: one OR query (it pins the
    # segment cache) and one NEAR query (the positional path phrase
    # shares); after those, no kind's first call costs more than its later
    # ones
    t = time.perf_counter()
    for kind, qid, text, _ in _serve_stream(spark, seed + 7919, seed, 1)[0]:
        if kind in ("or", "near"):
            _serve_call(spark, searcher, kind, qid, text)
    out.extra["warmup_s"] = time.perf_counter() - t
    blocks = _serve_stream(spark, seed, seed, STREAM_BLOCKS)
    yield out  # set-up ends here

    loop = _Loop(out, seconds)
    done = []
    for block in itertools.cycle(blocks):
        if not loop.more():
            break
        for kind, qid, text, src in block:
            with tracer.span(SERVE_SPANS[kind]):
                rows = loop.op(lambda: _serve_call(spark, searcher, kind, qid, text), 1)
            if rows is not None:
                done.append((kind, qid, text, src, rows))
    loop.close()
    out.extra["kinds"] = {k: sum(1 for d in done if d[0] == k) for k in SERVE_SPANS}
    out.checks += _serve_checks(spark, out.index_dir, seed, done)
    yield out


def _serve_checks(spark, index_dir: str, seed: int, done) -> list[tuple[str, bool, str]]:
    checks = []
    for kind, require_all in (("or", False), ("and", True)):
        # a run that cycled its blocks answered some queries twice
        sample = list({d[1]: d for d in done if d[0] == kind}.values())[:6]
        if not sample:
            continue
        q = spark.createDataFrame(
            [(qid, text) for _, qid, text, _, _ in sample],
            "query_id long, query_text string",
        )
        oracle: dict[int, list] = {qid: [] for _, qid, _, _, _ in sample}
        for r in oracle_from_index(spark, index_dir, q, k=K, require_all=require_all).collect():
            oracle[int(r["query_id"])].append((int(r["rank"]), int(r["docID"]), float(r["score"])))
        bad = []
        for _, qid, _, _, rows in sample:
            want = sorted(oracle[qid])
            got = sorted(rows)
            same = [g[:2] for g in got] == [w[:2] for w in want] and all(
                abs(g[2] - w[2]) <= 1e-9 for g, w in zip(got, want)
            )
            if not same:
                bad.append(qid)
        checks.append((f"serve.{kind}_matches_oracle", not bad,
                       f"{len(sample) - len(bad)}/{len(sample)} queries rank-identical"))
    src_ids = _doc_ids(spark, seed, sorted({d[3] for d in done if d[3] is not None}))
    for kind in ("phrase", "near"):
        sample = [d for d in done if d[0] == kind]
        miss = [d[1] for d in sample if src_ids[d[3]] not in {r[1] for r in d[4]}]
        checks.append((f"serve.{kind}_returns_source", not miss,
                       f"{len(sample) - len(miss)}/{len(sample)} queries found their source file"))
    return checks


def _doc_ids(spark, seed: int, files: list[int]) -> dict[int, int]:
    """file number -> docID, derived the way the builder derives it."""
    if not files:
        return {}
    rows = [dict(gen_file(i, seed), file=i) for i in files]
    df = with_doc_id(spark.createDataFrame(pd.DataFrame(rows)))
    return {int(r["file"]): int(r["docID"]) for r in df.select("file", "docID").collect()}


def _content_bytes(corpus) -> int:
    from pyspark.sql import functions as F

    return int(corpus.select(F.sum(F.octet_length("content"))).first()[0])


# -- report ----------------------------------------------------------------

PLAG_CASES = 16         # originals planted in the indexed corpus
# a batch takes ~20 s on 4 cores, so a 5 s run times the first batch
# only (by design); a longer run goes on to the next
BATCHES = 4
UNRELATED_PER_BATCH = 12
# sentences (non-empty lines) per batch: above the 512-query driver
# tokenize limit, so WAND takes its distributed wave path.  A batch's
# latency grows with its sentence count, so every batch is held near the
# same count: its two cases' copies near COPY_SENTENCES, topped up with
# unrelated files to BATCH_SENTENCES.
BATCH_SENTENCES = 560
COPY_SENTENCES = 350


def _sentences(text: str) -> int:
    return sum(1 for line in text.split("\n") if line.strip())


def _report_batches(plag: pd.DataFrame, seed: int) -> list[pd.DataFrame]:
    """Query-doc batches of 30: for each of two cases the verbatim
    original, L1 x3 and L2-L6 x1, plus twelve of the two cases' unrelated
    files.  Case pairs and unrelated files are chosen (seeded) to hold the
    sentence counts above."""
    rng = random.Random(seed)
    copies = pd.concat([
        plag[plag["label"] == "original"].assign(kind="verbatim"),
        plag[plag["level"] == 1].assign(kind="L1"),
        plag[(plag["level"] >= 2) & (plag["variant"] == 1)].assign(kind="Lx"),
    ])
    size = copies.groupby("case_id")["content"].agg(lambda c: sum(map(_sentences, c)))
    pairs = sorted(
        itertools.combinations(size.index, 2),
        key=lambda p: (abs(size[p[0]] + size[p[1]] - COPY_SENTENCES), rng.random()),
    )
    orig_path = dict(zip(plag[plag["label"] == "original"]["case_id"],
                         plag[plag["label"] == "original"]["path"]))
    used: set[int] = set()
    batches = []
    doc_id = 0
    for pair in pairs:
        if used & set(pair):
            continue
        used |= set(pair)
        cp = copies[copies["case_id"].isin(pair)]
        pool = plag[plag["case_id"].isin(pair) & (plag["label"] == "non_plagiarized")]
        want = BATCH_SENTENCES - sum(map(_sentences, cp["content"]))
        lens = [_sentences(c) for c in pool["content"]]
        pick = min(
            (rng.sample(range(len(pool)), UNRELATED_PER_BATCH) for _ in range(400)),
            key=lambda idx: abs(sum(lens[i] for i in idx) - want),
        )
        rows = []
        for _, r in pd.concat([
            cp, pool.iloc[sorted(pick)].assign(kind="unrelated")
        ]).iterrows():
            doc_id += 1
            rows.append({"doc_id": doc_id, "content": r["content"],
                         "case_id": int(r["case_id"]), "kind": r["kind"],
                         "orig_path": orig_path[r["case_id"]]})
        batches.append(pd.DataFrame(rows))
        if len(batches) == BATCHES:
            break
    return batches


def _report_call(spark, tracer, index_dir, corpus, store, docs, origs):
    from pyspark.sql import functions as F

    with tracer.span("pipeline.analyze_documents"):
        sent, _spans, orig = analyze_documents(
            spark, index_dir, docs, k=K, evidence_window=EVIDENCE_WINDOW,
            corpus=corpus,
        )
        # the roll-up and the evidence rows read one computed sentence set
        sent = sent.persist()
        try:
            scores = {int(r["doc_id"]): float(r["originality_score"])
                      for r in orig.collect()}
            evidence = (
                sent.filter(F.col("best_match") != "")
                .select("doc_id", "idx", "best_match", "fused_score",
                        "match_snippet_start", "match_snippet_text")
                .collect()
            )
        finally:
            sent.unpersist()
    with tracer.span("neardup.probe"):
        pairs = [(int(r["new_id"]), int(r["base_id"])) for r in
                 store.probe(docs, id_col="doc_id").collect()]
    with tracer.span("stylometry.compare_profiles"):
        prof = compare_profiles(
            stylo_features(docs, "doc_id", "content"),
            stylo_features(origs, "doc_id", "content"), STYLO_COLS,
        ).collect()
    return scores, evidence, pairs, prof


def report(spark, tracer, work: str, seed: int, seconds: float) -> Iterator[Outcome]:
    out = Outcome()
    plag = make_plag_corpus(spark, PLAG_CASES, seed=seed).toPandas()
    originals = plag[plag["label"] == "original"]
    cols = ["repo", "path", "commit", "lang", "content"]
    corpus_path = f"{work}/corpus"
    make_corpus(spark, CORPUS_FILES, seed=seed).unionByName(
        spark.createDataFrame(originals[cols])
    ).write.parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    out.input_bytes = _content_bytes(corpus)
    _build_index(spark, tracer, corpus, f"{work}/index", out)
    out.store_dir = f"{work}/neardup"
    store = NearDupStore(spark, out.store_dir)
    with tracer.span("neardup.add"):
        store.add(with_doc_id(corpus), "base")
    orig_ids = {
        r["path"]: int(r["docID"])
        for r in with_doc_id(spark.createDataFrame(originals[cols]))
        .select("path", "docID").collect()
    }

    batches = _report_batches(plag, seed)
    frames: dict[int, tuple] = {}

    def batch_frames(i: int):
        """(docs, originals) DataFrames of batch ``i``, made when the
        timed loop first reaches it."""
        if i not in frames:
            b = batches[i]
            o = originals[originals["case_id"].isin(b["case_id"].unique())]
            frames[i] = (
                spark.createDataFrame(b[["doc_id", "content"]]),
                spark.createDataFrame(pd.DataFrame(
                    {"doc_id": o["case_id"].astype("int64"), "content": o["content"]})),
            )
        return frames[i]

    batch_frames(0)
    # set-up ends here, with no warm-up batch: one costs as much as the
    # timed batch and does not fit the time budget (see README)
    yield out

    loop = _Loop(out, seconds)
    results = []
    i = 0
    while loop.more():
        b = batches[i % len(batches)]
        docs, origs = batch_frames(i % len(batches))
        i += 1
        res = loop.op(
            lambda: _report_call(spark, tracer, out.index_dir, corpus, store, docs, origs),
            len(b),
        )
        if res is not None:
            results.append((b, res))
    loop.close()
    out.extra["sentences_per_batch"] = [
        sum(map(_sentences, b["content"])) for b in batches[:min(i, len(batches))]
    ]
    out.checks += _report_checks(results, orig_ids)
    yield out


def _report_checks(results, orig_ids: dict[str, int]) -> list[tuple[str, bool, str]]:
    """Every verbatim and L1 copy cites its planted original as its most
    frequent best match, no unrelated doc does, and the near-dup probe
    pairs every verbatim copy with its original.  Reported, not gated
    (neither holds at the synthetic corpus's scale, see README): the
    probe's L1 pairs, and the originality order (copies below unrelated
    docs)."""
    cite_bad, probe_bad, order_ok = [], [], 0
    n_l1_found = n_l1 = 0
    for b, (scores, evidence, pairs, _prof) in results:
        cited: dict[int, Counter] = {}
        for e in evidence:
            cited.setdefault(int(e["doc_id"]), Counter())[int(e["best_match"])] += 1
        found = set(pairs)
        for _, r in b.iterrows():
            d, orig = int(r["doc_id"]), orig_ids[r["orig_path"]]
            counts = cited.get(d, Counter())
            top = counts.most_common(2)
            cites_orig = bool(top) and top[0][0] == orig and (
                len(top) == 1 or top[1][1] < top[0][1])
            if r["kind"] != "Lx" and cites_orig != (r["kind"] in ("verbatim", "L1")):
                cite_bad.append((d, r["kind"]))
            if r["kind"] == "verbatim" and (d, orig) not in found:
                probe_bad.append(d)
            if r["kind"] == "L1":
                n_l1 += 1
                n_l1_found += (d, orig) in found
        copies = b[b["kind"].isin(["verbatim", "L1"])]["doc_id"]
        unrelated = b[b["kind"] == "unrelated"]["doc_id"]
        order_ok += max(scores[d] for d in copies) < min(scores[d] for d in unrelated)
    n_docs = sum(len(b) for b, _ in results)
    return [
        ("report.copies_cite_planted_original", not cite_bad,
         f"{n_docs - len(cite_bad)}/{n_docs} docs as expected; wrong: {cite_bad}"),
        ("report.probe_finds_verbatim_pairs", not probe_bad,
         f"missed {probe_bad}; L1 pairs found {n_l1_found}/{n_l1}"),
        ("report.copies_less_original_than_unrelated", None,
         f"{order_ok}/{len(results)} batches ordered (reported, not gated)"),
    ]


WORKLOADS = {"serve": serve, "report": report}
