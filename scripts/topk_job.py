#!/usr/bin/env python
"""spark-submit job: top-k BM25 queries against a built index.

    spark-submit --master local[8] \
        --py-files dist/torchtrajectory_spark.zip \
        scripts/topk_job.py --index /path/to/index \
        --query "def return" --query "class import" -k 10

Prints one JSON line per query: terms, latency, and the (doc_id, score)
top-k — the reference query-set harness shape used for p50/p99 latency.

Query modes: --mode prefix|wildcard|fuzzy treats each --query as ONE
MultiTermQuery pattern (dictionary expansion scores as a multi-term
query); --must/--must-not add BooleanQuery filter clauses to a plain
terms query.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--index", required=True)
    p.add_argument("--query", action="append", required=True,
                   help="space-separated terms; repeatable")
    p.add_argument("-k", type=int, default=10)
    p.add_argument("--batch", action="store_true",
                   help="evaluate ALL queries in one batch call (one "
                        "postings read + one Python stage for the set)")
    p.add_argument("--lang", action="append", default=None,
                   help="restrict candidates to these doc-store langs "
                        "(F2-in-the-loop: heap membership filtered, "
                        "scores index-wide); repeatable")
    p.add_argument("--mode", default="terms",
                   choices=["terms", "prefix", "wildcard", "fuzzy"],
                   help="how to interpret each --query: explicit terms "
                        "(default) or a MultiTermQuery pattern expanded "
                        "against the dictionary (prefix / * ? wildcard / "
                        "Levenshtein fuzzy)")
    p.add_argument("--max-edits", type=int, default=2,
                   help="fuzzy mode: Levenshtein radius")
    p.add_argument("--must", action="append", default=None,
                   help="terms mode: non-scoring filter clause — docs "
                        "must contain ALL of these terms; repeatable")
    p.add_argument("--must-not", action="append", default=None,
                   help="terms mode: exclude docs containing ANY of "
                        "these terms; repeatable")
    args = p.parse_args()
    if args.mode != "terms" and (args.batch or args.lang or args.must
                                 or args.must_not):
        p.error("--mode prefix/wildcard/fuzzy runs per-query without "
                "--batch/--lang/--must/--must-not")
    if (args.must or args.must_not) and (args.batch or args.lang):
        p.error("--must/--must-not compose with single terms queries "
                "only (not --batch/--lang)")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from torchtrajectory_spark.operators.wand import (
        topk_bm25_index,
        topk_bm25_index_boolean,
        topk_bm25_index_fuzzy,
        topk_bm25_index_many,
        topk_bm25_index_prefix,
        topk_bm25_index_wildcard,
    )

    spark = SparkSession.builder.appName("tts-topk").getOrCreate()
    # Column construction needs the live session (spark-submit has no
    # active context before getOrCreate)
    pred = F.col("lang").isin(args.lang) if args.lang else None
    if args.batch:
        qmap = {f"q{i:02d}": q.split() for i, q in enumerate(args.query)}
        t0 = time.monotonic()
        rows = topk_bm25_index_many(spark, args.index, qmap,
                                    args.k, predicate=pred).collect()
        by_q: dict[str, list] = {qid: [] for qid in qmap}
        # explicit final ordering: collect() order within a query is not
        # guaranteed (the window operator's intra-partition sort is
        # incidental) — rank output client-side on the engine tie-break
        for r in sorted(rows, key=lambda r: (r["query_id"], -r["score"],
                                             r["doc_id"])):
            by_q[r["query_id"]].append([r["doc_id"], round(r["score"], 9)])
        print(json.dumps({
            "batch": True,
            "queries": {qid: " ".join(q) for qid, q in qmap.items()},
            "langs": args.lang,
            "latency_sec": round(time.monotonic() - t0, 4),
            "topk": by_q,
        }))
        spark.stop()
        return
    if args.mode != "terms":
        # MultiTermQuery modes: each --query is ONE pattern; the
        # dictionary expansion (df-descending cap) scores as a
        # multi-term query
        for pat in args.query:
            t0 = time.monotonic()
            if args.mode == "prefix":
                rows = topk_bm25_index_prefix(spark, args.index, pat,
                                              args.k).collect()
            elif args.mode == "wildcard":
                rows = topk_bm25_index_wildcard(spark, args.index, pat,
                                                args.k).collect()
            else:
                rows = topk_bm25_index_fuzzy(
                    spark, args.index, pat, args.k,
                    max_edits=args.max_edits,
                ).collect()
            print(json.dumps({
                "mode": args.mode,
                "query": pat,
                "latency_sec": round(time.monotonic() - t0, 4),
                "topk": [[r["doc_id"], round(r["score"], 9)]
                         for r in rows],
            }))
        spark.stop()
        return
    # per-query term meta (bucket-pruned dictionary lookup) — never the
    # full dictionary (unbounded driver state at 10^12-file scale)
    for q in args.query:
        terms = q.split()
        t0 = time.monotonic()
        if args.must or args.must_not:
            rows = topk_bm25_index_boolean(
                spark, args.index, terms, args.k,
                must=args.must or (), must_not=args.must_not or (),
            ).collect()
        else:
            rows = topk_bm25_index(spark, args.index, terms, args.k,
                                   predicate=pred).collect()
        print(json.dumps({
            "query": terms,
            "langs": args.lang,
            "must": args.must,
            "must_not": args.must_not,
            "latency_sec": round(time.monotonic() - t0, 4),
            "topk": [[r["doc_id"], round(r["score"], 9)] for r in rows],
        }))
    spark.stop()


if __name__ == "__main__":
    main()
