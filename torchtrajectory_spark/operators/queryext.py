"""Extended scoring query surfaces: minimum-should-match and SynonymQuery.

Both are Lucene query types the reference engine has no analog for
(T-Torch's query surface is findTopK/findOnPath/findInRange only,
``queryEngine/Engine.java:43-151``); they complete the boolean-scoring
family next to ``operators/boolean.py`` (unscored AND/OR) and
``operators/wand.py`` (pruned top-k):

* ``topk_bm25_index_msm`` — BooleanQuery with ``minimumNumberShouldMatch``:
  only docs matching at least ``m`` distinct query terms rank, scored as
  the usual per-term BM25 sum over their matched terms.
* ``topk_bm25_index_synonym`` — ``SynonymQuery`` semantics: each synonym
  group scores as ONE pseudo-term with tf = sum of member tfs and
  df = max of member dfs (Lucene's blended docFreq), so "spark OR its
  alias" never double-counts idf the way a boolean OR would.

Both are specs on the one scoring core in ``wand.py``, not kernels of
their own: msm is the min-count candidate rule (docs matching fewer
than m clauses drop from docID membership alone, before any scoring),
a synonym group is a multi-member clause. Either way the survivors run
the same UB-pruned theta scan as a plain query, over the same
bucket+term-pruned postings scan, into a global TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..config import BM25_B, BM25_K1, DEFAULT_K
from .wand import (
    _TOPK_SCHEMA,
    _per_segment,
    _segment_topk,
    _terms,
    _topk_merge,
)


def topk_bm25_index_msm(
    spark: SparkSession,
    index_dir: str,
    query_terms: list[str],
    min_should_match: int,
    k: int = DEFAULT_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k BM25 over docs matching >= ``min_should_match`` distinct
    query terms (Lucene ``BooleanQuery.setMinimumNumberShouldMatch``).
    m=1 degenerates to the plain OR ranking; m=len(terms) to AND."""
    q = _terms(query_terms)
    m = int(min_should_match)
    if not 1 <= m <= len(q):
        raise ValueError(
            f"min_should_match={m} out of range 1..{len(q)} for {q!r}")
    return _topk_merge(_per_segment(
        spark, index_dir, q,
        lambda blk, meta, dead: _segment_topk(blk, q, k, meta, k1, b,
                                              blocked=dead, min_match=m),
        _TOPK_SCHEMA), k)


def topk_bm25_index_synonym(
    spark: SparkSession,
    index_dir: str,
    groups: list[list[str]],
    k: int = DEFAULT_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k BM25 where each ``groups`` entry scores as ONE pseudo-term
    (Lucene ``SynonymQuery``): tf = sum of member tfs, df = max of member
    dfs. A single-term group is exactly a plain query term, so mixed
    queries compose: ``[["spark", "pyspark"], ["join"]]``."""
    groups = [_terms(g) for g in groups if g]
    if not groups:
        raise ValueError("topk_bm25_index_synonym: no groups")
    return _topk_merge(_per_segment(
        spark, index_dir, _terms(t for g in groups for t in g),
        lambda blk, meta, dead: _segment_topk(blk, groups, k, meta, k1, b,
                                              blocked=dead),
        _TOPK_SCHEMA), k)
