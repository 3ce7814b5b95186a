"""Boolean retrieval: OR (path query) and AND (strict path query).

Reference semantics:
* OR  — trajectories sharing >=1 edge with the query path,
  ``base/invertedIndex/EdgeInvertedIndex.findByPath:52-62`` (J2).
* AND — trajectories containing *all* query edges (relational division),
  ``EdgeInvertedIndex.findByStrictPath:65-89`` (J3). The reference counts
  duplicate query edges (a doc matching one repeated edge can pass) — we use
  distinct query terms, the documented divergence (SURVEY.md §2.3 J3 note).

Two physical strategies:
* corpus-direct: ``arrays_overlap`` / conjunctive ``array_contains`` on the
  tokenized corpus — single scan, zero shuffles, fully codegen'd.
* index-backed: per-segment union / intersection of the query terms'
  docID streams, decoded from the compressed postings blocks (see
  ``index.py``) — the 10^12-file path, where only matching term buckets
  are read. The bucket count is the index snapshot's own
  (``IndexSnapshot.term_filter``); no caller passes it.
Both return identical (doc_id) sets; tests assert it.
"""

from __future__ import annotations

import math
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .index import decode_blocks, open_snapshot, sorted_isin
from .stats import tokenized
from .wand import _per_segment, _terms


def bool_or(df: DataFrame, query_terms: list[str], id_col: str = "doc_id",
            text_col: str = "text", analyzer: str = "ws") -> DataFrame:
    """Docs containing >= 1 query term. Single scan, no shuffle, no join."""
    tok = tokenized(df, id_col, text_col, analyzer)
    q = F.array(*[F.lit(str(t)) for t in query_terms])
    return tok.where(F.arrays_overlap("tokens", q)).select("doc_id")


def bool_and(df: DataFrame, query_terms: list[str], id_col: str = "doc_id",
             text_col: str = "text", analyzer: str = "ws") -> DataFrame:
    """Docs containing *all* distinct query terms (relational division)."""
    tok = tokenized(df, id_col, text_col, analyzer)
    terms = sorted({str(t) for t in query_terms})
    cond = reduce(
        lambda a, b: a & b,
        [F.array_contains("tokens", t) for t in terms],
    )
    return tok.where(cond).select("doc_id")


# block columns the match kernels read: docID streams only — no tf/dl
# payload leaves parquet
_MATCH_COLS = ("term", "n_docs", "doc_gaps")


def _bool_index_blocks(spark, index_dir: str, query_terms: list[str],
                       mode: str) -> DataFrame:
    """Segment-local boolean retrieval straight from compressed blocks.

    One ``applyInPandas`` group per segment decodes ONLY the query terms'
    docID streams (bucket+term predicates pushed to the parquet scan —
    same pruning as the WAND path) and computes the union / intersection
    with numpy set ops. Segments are doc-disjoint, so per-segment results
    concatenate with no global distinct — the flat-rows formulation paid
    a decode-explode stage plus a corpus-keyed shuffle for the same
    answer. Salted sub-lists of a hot term union naturally (np.unique).
    """
    q = _terms(query_terms)

    def kernel(pdf, _meta, dead):
        out = _live_matches(pdf, mode, len(q), dead)
        return pd.DataFrame({"doc_id": np.empty(0, dtype=np.int64)
                             if out is None else out})

    return _per_segment(spark, index_dir, q, kernel, "doc_id bigint",
                        cols=_MATCH_COLS, scored=False)


def decode_match_docs(pdf, mode: str, nq: int):
    """SHARED per-segment boolean kernel: decode each term's docID
    streams from its compressed blocks in one pass (salted sub-lists of
    a hot term union via np.unique), then union (``or``) / smallest-first
    intersect (``and``) across terms. Returns a sorted unique ndarray, or
    None when an ``and`` term has no blocks in this segment (segments are
    doc-disjoint, so absence is final). The single implementation behind
    ``_bool_index_blocks``, ``facet_counts``, and the must/must_not
    clause sets of ``wand.topk_bm25_index_boolean`` — a codec or salting
    change lands in one place."""
    per_term = [np.unique(decode_blocks(grp)["docs"])
                for _term, grp in pdf.groupby("term")]
    if not per_term or (mode == "and" and len(per_term) < nq):
        return None
    if mode == "or":
        return np.unique(np.concatenate(per_term))
    per_term.sort(key=len)
    out = per_term[0]
    for arr in per_term[1:]:
        out = np.intersect1d(out, arr, assume_unique=True)
        if out.size == 0:
            break
    return out


def _live_matches(blk, mode: str, nq: int, dead):
    """:func:`decode_match_docs` with the tombstoned docs masked out."""
    match = decode_match_docs(blk, mode, nq)
    return None if match is None else match[~sorted_isin(dead, match)]


def match_hit_rows(blk, st, mode: str, nq: int, dead):
    """SHARED per-segment prologue of the match-then-analyze operators
    (``facet_counts`` / ``facet_ranges`` / ``sort_by_field``): boolean
    docID match via :func:`_live_matches`, then the segment's doc_stats
    rows for the surviving docs. Returns the hit rows (possibly empty),
    or None when the segment has no match — a tombstone or matching fix
    lands in one place."""
    match = _live_matches(blk, mode, nq, dead)
    if match is None or match.size == 0 or not len(st):
        return None
    return st[np.isin(st["doc_id"].to_numpy(), match)]


def _match_analyze(spark, index_dir: str, query_terms: list[str],
                   mode: str, value, kernel, schema: str,
                   op: str) -> DataFrame:
    """Driver of the match-then-analyze operators: the boolean match
    cogrouped per segment with the segment's doc_stats (doc_id,
    ``value``) rows, and ``kernel(hit_rows)`` — see
    :func:`match_hit_rows` — once per segment."""
    if mode not in ("or", "and"):
        raise ValueError(f"{op}: unknown mode {mode!r}")
    q = _terms(query_terms)
    snap = open_snapshot(spark, index_dir)
    stats = snap.doc_stats.select("segment", "doc_id", value)

    def run(blk, _meta, dead, st):
        return kernel(match_hit_rows(blk, st, mode, len(q), dead))

    return _per_segment(spark, snap, q, run, schema, cols=_MATCH_COLS,
                        scored=False, side=stats)


def bool_or_index_blocks(spark, index_dir: str,
                         query_terms: list[str]) -> DataFrame:
    """OR (J2) from the compressed index — see ``_bool_index_blocks``."""
    return _bool_index_blocks(spark, index_dir, query_terms, "or")


def bool_and_index_blocks(spark, index_dir: str,
                          query_terms: list[str]) -> DataFrame:
    """AND (J3) from the compressed index — see ``_bool_index_blocks``."""
    return _bool_index_blocks(spark, index_dir, query_terms, "and")


def sort_by_field(spark, index_dir: str, query_terms: list[str],
                  sort_col: str, k: int = 10, mode: str = "or",
                  ascending: bool = False) -> DataFrame:
    """Doc-values sort (Lucene ``Sort``/``SortField`` analog): the docs
    matching the boolean query, ordered by a NUMERIC doc-store column
    instead of relevance — (doc_id, sort_value), ties doc_id ASC,
    limit k. Docs with a NULL sort value are dropped (Lucene's
    missing-values-last policy, taken to its top-k conclusion).

    Scale shape: the match and the per-segment top-k both happen inside
    one per-segment cogroup (postings blocks x doc_stats, both pruned
    and segment-partitioned); only segments x k rows shuffle into the
    global TakeOrderedAndProject merge.
    """
    kk = int(k)

    def kernel(hit):
        if hit is not None:
            hit = hit[hit["sort_value"].notna()]
        if hit is None or not len(hit):
            return pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                                 "sort_value": pd.Series(dtype="float64")})
        v = hit["sort_value"].to_numpy(dtype=np.float64)
        order = np.lexsort((hit["doc_id"].to_numpy(),
                            v if ascending else -v))[:kk]
        return hit.iloc[order][["doc_id", "sort_value"]]

    per_seg = _match_analyze(
        spark, index_dir, query_terms, mode,
        F.col(sort_col).cast("double").alias("sort_value"), kernel,
        "doc_id bigint, sort_value double", "sort_by_field")
    key = (F.col("sort_value").asc() if ascending
           else F.col("sort_value").desc())
    return per_seg.orderBy(key, F.col("doc_id").asc()).limit(kk)


def facet_counts(spark, index_dir: str, query_terms: list[str],
                 facet_col: str, k: int = 10,
                 mode: str = "or") -> DataFrame:
    """Facet counts over a boolean match (Lucene facets analog): docs
    matching the query (OR / AND over distinct terms) grouped by a
    doc-store metadata column, top-k by (count DESC, value ASC).

    Scale shape: the match and the facet tally both happen INSIDE one
    per-segment cogroup (postings blocks x doc_stats, both sides
    segment-partitioned and pruned), so the only shuffled rows are the
    per-segment (value, partial_count) pairs — facet-cardinality-sized,
    never corpus-sized. The reference has no faceting; this is the
    result-set analytics surface a search UI needs.
    """
    def kernel(hit):
        if hit is None:
            return pd.DataFrame({"value": pd.Series(dtype="object"),
                                 "cnt": pd.Series(dtype="int64")})
        vc = hit.groupby("value", dropna=False).size()
        return pd.DataFrame({"value": vc.index.astype(object),
                             "cnt": vc.to_numpy(dtype=np.int64)})

    per_seg = _match_analyze(
        spark, index_dir, query_terms, mode,
        F.col(facet_col).cast("string").alias("value"), kernel,
        "value string, cnt bigint", "facet_counts")
    return (
        per_seg.groupBy("value").agg(F.sum("cnt").alias("n_docs"))
        # asc_nulls_last: Spark default sorts NULL FIRST in ASC while
        # DuckDB sorts NULLS LAST — a NULL facet group tying at the k
        # boundary must resolve identically on both sides (ADVICE r4)
        .orderBy(F.col("n_docs").desc(), F.col("value").asc_nulls_last())
        .limit(int(k))
    )


def facet_ranges(spark, index_dir: str, query_terms: list[str],
                 facet_col: str, width: float,
                 mode: str = "or") -> DataFrame:
    """Numeric range facet over a boolean match (Lucene
    ``LongRangeFacetCounts`` / Elasticsearch ``histogram`` aggregation
    analog): docs matching the query bucketed by
    ``floor(value / width) * width`` over a NUMERIC doc-store column
    (including the index's own ``dl`` doc value), one (bucket_lo,
    n_docs) row per non-empty bucket, bucket ASC. NULL values drop
    (no bucket to assign).

    Scale shape: identical to :func:`facet_counts` — match + tally
    inside one per-segment cogroup, only (bucket, partial_count) rows
    shuffle, bucket-cardinality-sized (corpus range / width), never
    corpus-sized.
    """
    w = float(width)
    if not (w > 0 and math.isfinite(w)):
        raise ValueError(
            f"facet_ranges: width must be a finite positive number, "
            f"got {width!r}")

    def kernel(hit):
        v = (np.empty(0) if hit is None
             else hit["v"].to_numpy(dtype=np.float64))
        uniq, cnt = np.unique(np.floor(v[~np.isnan(v)] / w) * w,
                              return_counts=True)
        return pd.DataFrame({"bucket_lo": uniq,
                             "cnt": cnt.astype(np.int64)})

    per_seg = _match_analyze(
        spark, index_dir, query_terms, mode,
        F.col(facet_col).cast("double").alias("v"), kernel,
        "bucket_lo double, cnt bigint", "facet_ranges")
    return (
        per_seg.groupBy("bucket_lo").agg(F.sum("cnt").alias("n_docs"))
        .orderBy(F.col("bucket_lo").asc())
    )
