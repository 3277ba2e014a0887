"""spark-submit driver: build / query / report subcommands.

Ship with::

    spark-submit --py-files docinsight_spark.zip -m docinsight_spark.cli build \
        --corpus <parquet-or-iceberg:tbl> --index /path/idx
    ... ingest  --corpus delta.parquet --index /path/idx --run-id d1   # O(delta)
    ... delete  --index /path/idx --where "repo = 'org/retired'"       # no rebuild
    ... compact --index /path/idx [--force] [--gc-grace 3600]
    ... query   --index /path/idx --queries q.parquet --k 10 --out res.parquet
    ... report  --index /path/idx --queries docs.parquet --out report.json

Replaces the reference's CLI (``/root/reference/docinsight_cli.py``:
``ingest`` / ``reindex`` / ``search`` / ``analyze``) — ``ingest`` folds
the slice into a delta segment generation (O(delta), the incremental
path), ``compact`` is the size-tiered generation fold.  On a cluster
the session master/memory come from spark-submit; locally it falls back
to ``local[*]``.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def _spark(app: str) -> SparkSession:
    from docinsight_spark.session import get_spark

    try:
        return SparkSession.getActiveSession() or get_spark(app_name=app)
    except Exception:
        return get_spark(app_name=app)


def cmd_build(args) -> int:
    from docinsight_spark.index.builder import IndexBuilder
    from docinsight_spark.sources.tables import read_corpus

    spark = _spark("docinsight_build")
    corpus = read_corpus(spark, args.corpus)
    b = IndexBuilder(
        spark, args.index, n_buckets=args.buckets, n_subs=args.subs,
        code_aware=not args.simple_tokens, positions=args.positions,
    )
    b.build(corpus)
    print(json.dumps({"status": "built", "meta": b.meta(),
                      "units": [m["unit"] for m in b.manifests()]}))
    return 0


def cmd_ingest(args) -> int:
    """Incremental ingest: add one corpus slice as a run, then fold it
    into the index O(delta) (a new segment generation) — the reference's
    ``ingest`` command (``docinsight_cli.py``) with cluster semantics."""
    from docinsight_spark.index.builder import IndexBuilder
    from docinsight_spark.sources.tables import read_corpus

    from docinsight_spark.index import fsio

    spark = _spark("docinsight_ingest")
    # fsio, not os.path: the index may live on s3:// / hdfs:// — a local
    # -only check would silently skip the for_index branch there
    if fsio.exists(f"{args.index.rstrip('/')}/_meta.json"):
        # finalized index: take geometry/tokenizer from its meta — a
        # mismatched delta would shard into the wrong buckets
        b = IndexBuilder.for_index(spark, args.index)
    else:
        b = IndexBuilder(
            spark, args.index, n_buckets=args.buckets, n_subs=args.subs,
            code_aware=not args.simple_tokens, positions=args.positions,
        )
    nds = None
    if args.neardup_store:
        from docinsight_spark.index.neardup import NearDupStore

        root = args.neardup_store.rstrip("/")
        nds = (
            NearDupStore.open(spark, root)
            if fsio.exists(f"{root}/_meta.json")
            else NearDupStore(spark, root)
        )
    b.add_run(read_corpus(spark, args.corpus), args.run_id,
              neardup_store=nds,
              neardup_threshold=args.neardup_threshold)
    gid = b.refresh_delta() if not args.no_refresh else None
    print(json.dumps({"status": "ingested", "run_id": args.run_id,
                      "generation": gid}))
    return 0


def cmd_compact(args) -> int:
    """Fold small segment generations into one (size-tiered);
    the reference's ``reindex`` analog, but O(folded generations), not
    O(corpus).

    Victim reclamation defaults to TOMBSTONE mode (``delete_victims=
    False``): a reader that loaded the pre-compaction ``_meta.json``
    can still be mid-scan on a victim generation when compact returns,
    so inline deletion is only safe when no concurrent readers exist —
    opt in with ``--inline-delete-victims``.  In tombstone mode pass
    ``--gc-grace SEC`` to also reclaim victims whose tombstones are
    older than SEC (must exceed the worst-case query scan time)."""
    from docinsight_spark.index.builder import IndexBuilder

    spark = _spark("docinsight_compact")
    b = IndexBuilder.for_index(spark, args.index)
    gid = b.compact(
        max_generations=args.max_generations,
        force=args.force, delete_victims=args.inline_delete_victims,
    )
    reclaimed = (
        b.gc_generations(grace_sec=args.gc_grace)
        if args.gc_grace is not None
        else []
    )
    nd_fold = None
    if args.neardup_store:
        from docinsight_spark.index.neardup import NearDupStore

        nds = NearDupStore.open(spark, args.neardup_store)
        nd_fold = nds.fold()
        if args.gc_grace is not None:
            nds.gc(grace_sec=args.gc_grace)
    meta = b.meta()
    print(json.dumps({
        "status": "compacted" if gid else "noop",
        "generation": gid,
        "generations": [g["id"] for g in meta.get("generations", [])],
        "reclaimed": reclaimed,
        "neardup_fold": nd_fold,
    }))
    return 0


def cmd_delete(args) -> int:
    """Tombstone-delete docs matching a SQL predicate over the docs
    dimension (repo, path, commit, lang, content_sha) — the reference's
    per-source purge (``db_manager.py:145-165``) WITHOUT a rebuild:
    queries immediately exclude the victims; compaction reclaims the
    postings physically later."""
    from docinsight_spark.index.builder import IndexBuilder

    spark = _spark("docinsight_delete")
    b = IndexBuilder.for_index(spark, args.index)
    nds = None
    if getattr(args, "neardup_store", None):
        from docinsight_spark.index.neardup import NearDupStore

        nds = NearDupStore.open(spark, args.neardup_store)
    did = b.delete_matching(args.where, neardup_store=nds)
    meta = b.meta()
    print(json.dumps({
        "status": "deleted" if did else "noop",
        "delete_id": did,
        "n_docs": meta["n_docs"],
        "tombstoned": sum(
            t["n_docs"] for t in meta.get("tombstones", [])
        ),
    }))
    return 0


def cmd_stats(args) -> int:
    """Corpus + index statistics — the reference's ``stats`` command
    (``/root/reference/docinsight_cli.py:108-145``: document counts,
    source breakdown, index status/coverage) as one JSON object."""
    from pyspark.sql import functions as F

    from docinsight_spark.index import fsio
    from docinsight_spark.index.builder import IndexBuilder

    spark = _spark("docinsight_stats")
    if not fsio.exists(f"{args.index.rstrip('/')}/_meta.json"):
        print(json.dumps({"available": False, "index": args.index}))
        return 1
    b = IndexBuilder.for_index(spark, args.index)
    meta = b.meta()
    dim = b.docs_dim()
    by_lang = {
        r["lang"]: r["n"]
        for r in dim.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    top_repos = [
        {"repo": r["repo"], "docs": r["n"]}
        for r in dim.groupBy("repo")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "repo")
        .limit(10)
        .collect()
    ]
    runs = [m for m in b.manifests() if m["unit"].startswith("run-")]
    covered = b._covered_runs()
    fin = [m for m in b.manifests() if m["unit"] == "finalize"]
    out = {
        "available": True,
        "index": args.index,
        "documents": int(meta["n_docs"]),
        "total_tokens": int(meta["sum_dl"]),
        "avgdl": round(float(meta["avgdl"]), 3),
        "version": meta.get("version"),
        "code_aware": meta.get("code_aware"),
        "positions": meta.get("positions", False),
        "query_lang": meta.get("query_lang"),
        "generations": [g["id"] for g in meta.get("generations", [])],
        "tombstoned_docs": sum(
            int(t["n_docs"]) for t in meta.get("tombstones", [])
        ),
        "runs_total": len(runs),
        "runs_covered": sum(1 for m in runs if m["run_id"] in covered),
        "coverage": round(
            sum(1 for m in runs if m["run_id"] in covered) / max(len(runs), 1),
            4,
        ),
        "postings_merged": int(fin[0].get("postings_merged", 0)) if fin else 0,
        "segments_built": int(fin[0].get("segments_built", 0)) if fin else 0,
        "bytes_compressed": int(fin[0].get("bytes_compressed", 0)) if fin else 0,
        "docs_by_lang": by_lang,
        "top_repos": top_repos,
    }
    print(json.dumps(out))
    return 0


def cmd_embed(args) -> int:
    """Incremental text→embedding featurization — the reference's
    ``embed`` command (``docinsight_cli.py:268-288``: process chunks
    WHERE embedding IS NULL).  Here: featurize only corpus docs whose
    docID is not already in the output dataset, and append."""
    from pyspark.sql import functions as F

    from docinsight_spark.index import fsio
    from docinsight_spark.operators.embedder import featurize_text
    from docinsight_spark.operators.postings import with_doc_id
    from docinsight_spark.sources.tables import read_corpus

    spark = _spark("docinsight_embed")
    docs = with_doc_id(read_corpus(spark, args.corpus)).dropDuplicates(["docID"])
    existed = fsio.exists(args.out)
    if existed:
        seen = spark.read.parquet(args.out).select("docID")
        docs = docs.join(seen, "docID", "left_anti")
    emb = featurize_text(
        docs, text_col="content", dim=args.dim, seed=args.seed
    ).select("docID", "repo", "path", "commit", "embedding")
    n = emb.count()
    if n:
        emb.write.mode("append" if existed else "overwrite").parquet(args.out)
    print(json.dumps({"status": "embedded", "new_docs": int(n),
                      "dim": args.dim, "out": args.out}))
    return 0


def cmd_fsck(args) -> int:
    """Index integrity audit: stats identity, footer counts per root,
    tombstone accounting, run coverage, merged-source survival.  Exits
    non-zero when any check fails."""
    from docinsight_spark.index.builder import IndexBuilder

    spark = _spark("docinsight_fsck")
    out = IndexBuilder.for_index(spark, args.index).fsck(
        deep=getattr(args, "deep", False)
    )
    print(json.dumps(out))
    return 0 if out["ok"] else 1


def cmd_query(args) -> int:
    from docinsight_spark.index.wand import _batch_terms, _load_meta

    spark = _spark("docinsight_query")
    queries = spark.read.parquet(args.queries)
    mode = getattr(args, "mode", "or")
    meta = _load_meta(args.index)
    qterms = None
    if mode == "phrase":
        from docinsight_spark.index.phrase import phrase_search

        res = phrase_search(spark, args.index, queries, k=args.k)
    elif mode == "near":
        from docinsight_spark.index.phrase import proximity_search

        res = proximity_search(
            spark, args.index, queries, k=args.k,
            window=getattr(args, "near_window", 8),
        )
    elif mode in ("prefix", "contains", "regex"):
        from docinsight_spark.index.wand import dictionary_search

        patterns = [
            (int(r["query_id"]), r["query_text"])
            for r in queries.select("query_id", "query_text").collect()
        ]
        res = dictionary_search(
            spark, args.index, patterns, k=args.k,
            max_expansions=args.max_expansions, mode=mode,
        )
    else:
        # or|and modes; words prefixed `-` are boolean-NOT exclusions
        # (`spark join -slow`).  ALL boolean shapes take the WAND
        # fast path (round 6): AND via the kernel's mandatory-term
        # intersection, NOT via pre-accumulation exclusion.
        from docinsight_spark.index.wand import wand_search

        rows = [
            (int(r["query_id"]), r["query_text"] or "")
            for r in queries.select("query_id", "query_text").collect()
        ]
        neg_rows, pos_rows = [], []
        for qid, text in rows:
            words = text.split()
            negs = [w[1:] for w in words if w.startswith("-") and len(w) > 1]
            pos_rows.append(
                (qid, " ".join(w for w in words if not w.startswith("-")))
            )
            if negs:
                neg_rows.append((qid, " ".join(negs)))
        # tokenize once: the snippet terms below are the terms scored; a
        # plain OR batch keeps its frame (large ones tokenize in executors)
        qterms = _batch_terms(
            pos_rows if mode == "and" or neg_rows else queries, meta
        )
        res = wand_search(
            spark, args.index, None, k=args.k, _meta=meta, _qmap=qterms,
            require_all=(mode == "and"), neg_queries=neg_rows or None,
        )
    if getattr(args, "snippet_window", 0):
        # evidence spans: best matched-term window per result (needs a
        # positions=True index)
        from docinsight_spark.index.phrase import snippet_windows
        from docinsight_spark.index.wand import _pairs_frame

        if mode in ("prefix", "contains", "regex"):
            # the literal patterns ("fi", "a.e") are not index terms —
            # snippet qterms must be the expanded dictionary terms the
            # retrieval actually matched
            from docinsight_spark.index.wand import expand_dictionary

            qt = expand_dictionary(
                spark, args.index, patterns,
                max_expansions=args.max_expansions, mode=mode, _meta=meta,
            ).select("query_id", "term")
        else:
            qt = qterms if qterms is not None else _batch_terms(queries, meta)
            if isinstance(qt, dict):
                qt = _pairs_frame(spark, qt)
        sn = snippet_windows(
            spark, args.index, res.select("query_id", "docID"), qt,
            window=args.snippet_window,
        )
        res = res.join(sn, ["query_id", "docID"], "left")
    if args.out:
        res.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"status": "written", "out": args.out}))
    else:
        extra_cols = [c for c in ("snippet_start", "n_matches") if c in res.columns]
        for r in res.orderBy("query_id", "rank").collect():
            row = dict(query_id=r["query_id"], rank=r["rank"],
                       docID=r["docID"], score=round(r["score"], 4))
            for c in extra_cols:
                row[c] = r[c]
            print(json.dumps(row))
    return 0


def cmd_report(args) -> int:
    """Originality report: the full analysis pipeline (sentence-level
    retrieval → fusion → gating → decay → span clustering → originality
    roll-up), the reference's flagship analysis
    (``enhanced_pipeline.py:506-604``) re-expressed over BM25."""
    from pyspark.sql import functions as F

    from docinsight_spark.operators.pipeline import analyze_documents
    from docinsight_spark.operators.scoring import top_risk_spans

    spark = _spark("docinsight_report")
    qdocs = spark.read.parquet(args.queries)
    id_col = "doc_id" if "doc_id" in qdocs.columns else None
    text_col = "content" if "content" in qdocs.columns else "query_text"
    if id_col is None:
        qdocs = qdocs.withColumn("doc_id", F.xxhash64(text_col))
    ew = getattr(args, "evidence_window", 0) or None
    ev_corpus = (
        spark.read.parquet(args.corpus)
        if ew and getattr(args, "corpus", None)
        else None
    )
    sent, spans, orig = analyze_documents(
        spark, args.index, qdocs, id_col="doc_id", text_col=text_col,
        k=args.k, evidence_window=ew, corpus=ev_corpus,
    )
    top = top_risk_spans(spans, n=3)
    orig_rows = [r.asDict() for r in orig.collect()]
    span_rows = [r.asDict() for r in top.collect()]
    out = {
        "n_documents": len(orig_rows),
        "originality": orig_rows,
        "top_risk_spans": span_rows,
    }
    if ew:
        # matched-sentence evidence: per query doc, the 3 highest-fused
        # sentences with their best-match doc + snippet offset
        from pyspark.sql import Window

        wv = F.row_number().over(
            Window.partitionBy("doc_id")
            .orderBy(F.col("fused_score").desc(), F.col("idx"))
        )
        ev_cols = ["doc_id", "idx", "sentence", "best_match",
                   "match_snippet_start", "match_snippet_matches",
                   "fused_score"]
        if "match_snippet_text" in sent.columns:
            ev_cols.append("match_snippet_text")
        ev = (
            sent.filter(F.col("best_match") != "")
            .withColumn("_r", wv)
            .filter(F.col("_r") <= 3)
            .select(*ev_cols)
        )
        out["evidence"] = [r.asDict() for r in ev.collect()]
    if args.out:
        from docinsight_spark.report import render_html

        with open(args.out, "w") as f:
            json.dump(out, f, indent=1, default=str)
        html_out = (
            args.out[: -len(".json")] + ".html"
            if args.out.endswith(".json")
            else args.out + ".html"
        )
        with open(html_out, "w") as f:
            f.write(render_html(out))
        print(json.dumps({"status": "written", "out": args.out,
                          "html": html_out}))
    else:
        print(json.dumps(out, default=str))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="docinsight_spark",
        epilog="Concurrency: mutating commands (build/ingest/compact/"
               "delete) take a TTL writer lease on the index dir. The "
               "lease create is atomic on local/POSIX filesystems only; "
               "on object stores (s3://, gs://) it is advisory — "
               "serialize writers by deployment convention there.",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build the inverted index")
    b.add_argument("--corpus", required=True)
    b.add_argument("--index", required=True)
    b.add_argument("--buckets", type=int, default=32)
    b.add_argument("--subs", type=int, default=2)
    b.add_argument("--simple-tokens", action="store_true")
    b.add_argument("--positions", action="store_true",
                   help="store token positions (enables `query --mode phrase`)")
    b.set_defaults(fn=cmd_build)

    i = sub.add_parser(
        "ingest", help="add a corpus slice and fold it in O(delta)"
    )
    i.add_argument("--corpus", required=True)
    i.add_argument("--index", required=True)
    i.add_argument("--run-id", required=True)
    i.add_argument("--buckets", type=int, default=32)
    i.add_argument("--subs", type=int, default=2)
    i.add_argument("--simple-tokens", action="store_true")
    i.add_argument("--positions", action="store_true",
                   help="store token positions (pre-meta runs only; a "
                        "finalized index supplies its own setting)")
    i.add_argument("--no-refresh", action="store_true",
                   help="only record the run; fold later")
    i.add_argument(
        "--neardup-store", default=None, metavar="DIR",
        help="incremental near-dup gate: probe this persisted signature "
             "store and drop near-dups before indexing (created on "
             "first use; later runs reopen with its pinned settings)",
    )
    i.add_argument("--neardup-threshold", type=float, default=0.7)
    i.set_defaults(fn=cmd_ingest)

    c = sub.add_parser(
        "compact",
        help="fold segment generations (geometry read from the index)",
    )
    c.add_argument("--index", required=True)
    c.add_argument("--max-generations", type=int, default=8)
    c.add_argument("--force", action="store_true")
    c.add_argument(
        "--inline-delete-victims", action="store_true",
        help="delete victim generations inline (ONLY safe with no "
             "concurrent readers); default is tombstone + gc_generations",
    )
    c.add_argument(
        "--gc-grace", type=float, default=None, metavar="SEC",
        help="also reclaim tombstoned victims older than SEC "
             "(pick SEC above the worst-case query scan time)",
    )
    c.add_argument(
        "--neardup-store", default=None, metavar="DIR",
        help="also fold this near-dup signature store's per-unit dirs "
             "(and gc its fold victims when --gc-grace is given)",
    )
    c.set_defaults(fn=cmd_compact)

    d = sub.add_parser(
        "delete",
        help="tombstone-delete docs matching a predicate (no rebuild)",
    )
    d.add_argument("--index", required=True)
    d.add_argument(
        "--where", required=True,
        help="SQL condition over (repo, path, commit, lang, content_sha), "
             "e.g. \"repo = 'org/retired'\" or \"path LIKE 'vendor/%%'\"",
    )
    d.add_argument(
        "--neardup-store", default=None, metavar="DIR",
        help="also forget the victims' near-dup signatures in this "
             "store (new content similar to a deleted doc stops being "
             "gated; the store's next fold reclaims the rows)",
    )
    d.set_defaults(fn=cmd_delete)

    f = sub.add_parser("fsck", help="index integrity audit (footer "
                                    "counters + lineage; exit 1 on fail)")
    f.add_argument("--index", required=True)
    f.add_argument("--deep", action="store_true",
                   help="also verify positional postings integrity — an "
                        "O(corpus) Spark scan per live root on a "
                        "positions=True index (default checks are "
                        "footer/manifest reads only)")
    f.set_defaults(fn=cmd_fsck)

    st = sub.add_parser("stats", help="corpus + index statistics (JSON)")
    st.add_argument("--index", required=True)
    st.set_defaults(fn=cmd_stats)

    e = sub.add_parser(
        "embed",
        help="incremental text->embedding featurization (only docs not "
             "already in --out are featurized; appends)")
    e.add_argument("--corpus", required=True)
    e.add_argument("--out", required=True)
    e.add_argument("--dim", type=int, default=64)
    e.add_argument("--seed", type=int, default=42)
    e.set_defaults(fn=cmd_embed)

    q = sub.add_parser("query", help="BM25 top-k search")
    q.add_argument("--index", required=True)
    q.add_argument("--queries", required=True, help="parquet with query_id, query_text")
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--mode",
                   choices=["or", "and", "phrase", "near", "prefix",
                            "contains", "regex"],
                   default="or",
                   help="or: BM25 bag-of-words; and: every term required "
                        "(both on the WAND fast path); phrase: "
                        "exact adjacency; near: every term within "
                        "--near-window tokens of the first (both need a "
                        "positions=True index); prefix/contains/regex: "
                        "dictionary expansion (`pre*` wildcard, substring "
                        "anywhere in an identifier, Java-regex partial "
                        "match — each capped by --max-expansions).  In "
                        "or/and modes, `-word` excludes docs containing "
                        "it (boolean NOT, also on the fast path)")
    q.add_argument("--near-window", type=int, default=8,
                   help="near mode: the ± token window around the "
                        "first-term anchor")
    q.add_argument("--max-expansions", type=int, default=16,
                   help="prefix/contains/regex modes: expansion cap per "
                        "pattern (highest df)")
    q.add_argument("--snippet-window", type=int, default=0,
                   help="attach a best matched-term window of this many "
                        "tokens to each result (needs a --positions index)")
    q.add_argument("--out")
    q.set_defaults(fn=cmd_query)

    r = sub.add_parser("report", help="originality-report analog")
    r.add_argument("--index", required=True)
    r.add_argument("--queries", required=True)
    r.add_argument("--k", type=int, default=10)
    r.add_argument("--evidence-window", type=int, default=0,
                   help="attach matched-sentence evidence spans of this "
                        "many tokens (needs a --positions index)")
    r.add_argument("--corpus", default=None,
                   help="with --evidence-window: the indexed corpus "
                        "parquet — evidence then includes the matched "
                        "KWIC text itself (the index stores no content; "
                        "only the distinct best-match docs are read)")
    r.add_argument("--out")
    r.set_defaults(fn=cmd_report)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
