"""Result grouping / field collapsing: top-k GROUPS for a BM25 query.

The Lucene grouping-module / Elasticsearch ``collapse`` analog (the
reference engine has no grouping surface; the public analog is Lucene's
two-pass ``FirstPassGroupingCollector``): rank GROUP VALUES of a
doc-store metadata column by their best-scoring matching document, and
return each of the k best groups represented by that document. A search
UI uses this for result diversity — "best hit per repository".

Semantics are EXACT, not a post-filter over a retrieved top-N: every
live document matching any query term is scored with index-wide BM25
statistics (same formula/tie-breaks as ``topk_bm25_index``), each
group's best document is (score DESC, doc_id ASC), and groups order by
(best score DESC, value ASC). Documents with a NULL group value form no
group and are excluded (Lucene's ``allGroups=false`` convention).

Scale shape: the scoring and the per-group argmax both happen INSIDE one
per-segment cogroup of the bucket+term-pruned postings blocks with the
segment's doc-store rows (both sides segment-partitioned) — the only
shuffled rows are per-(segment, group) best triples, group-cardinality x
segments sized, never corpus-sized. Exactness forgoes WAND's theta
pruning (a doc outside the global top-k can still be its group's best),
so the cost class is the boolean-OR scan: bounded by the query terms'
posting sizes, not the corpus. The scoring is the all-matches rule of
the one scoring core (``wand._segment_scores``), the scan and cogroup
its shared driver prologue (``wand._per_segment``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import BM25_B, BM25_K1, DEFAULT_K
from .index import open_snapshot
from .wand import _per_segment, _segment_topk, _terms


def collapse_topk(
    spark: SparkSession,
    index_dir: str,
    query_terms: list[str],
    group_col: str,
    k: int = DEFAULT_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k groups by best BM25 hit. Returns (value, doc_id, score):
    the group value (cast to string), its best-scoring matching doc, and
    that doc's score; ordered (score DESC, value ASC), limit k."""
    q = _terms(query_terms)
    snap = open_snapshot(spark, index_dir)
    stats = snap.doc_stats.select(
        "segment", "doc_id",
        F.col(group_col).cast("string").alias("value"),
    )
    empty = pd.DataFrame({"value": pd.Series(dtype="object"),
                          "doc_id": pd.Series(dtype="int64"),
                          "score": pd.Series(dtype="float64")})

    def kernel(blk, meta, dead, st):
        if not len(blk) or not len(st):
            return empty
        hit = _segment_topk(blk, q, None, meta, k1, b, blocked=dead).merge(
            st[["doc_id", "value"]], on="doc_id", how="inner")
        hit = hit[hit["value"].notna()]
        # per-group argmax (score DESC, doc_id ASC) — numpy lexsort so
        # the tie-break is explicit, then first row per value
        order = np.lexsort((hit["doc_id"].to_numpy(),
                            -hit["score"].to_numpy()))
        best = hit.iloc[order].drop_duplicates("value", keep="first")
        return best[["value", "doc_id", "score"]]

    per_seg = _per_segment(
        spark, snap, q, kernel,
        "value string, doc_id bigint, score double", side=stats)
    # cross-segment combine: lexicographic struct max == argmax by
    # (score DESC, doc_id ASC); a doc's score is complete within its
    # one segment, so the combine is pure selection, no float re-adds
    best = per_seg.groupBy("value").agg(
        F.max(F.struct(
            F.col("score").alias("s"),
            (-F.col("doc_id")).alias("nd"),
            F.col("doc_id").alias("d"),
        )).alias("best")
    )
    return (
        best.select(
            "value",
            F.col("best.d").alias("doc_id"),
            F.col("best.s").alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("value").asc())
        .limit(int(k))
    )
