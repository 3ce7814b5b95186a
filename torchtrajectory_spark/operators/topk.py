"""Top-k BM25 scoring — brute-force DataFrame path.

This is the oracle-checkable scorer: the whole plan is Catalyst algebra
(filter -> partial/final hash agg -> broadcast joins -> TakeOrderedAndProject),
so Spark's global top-k (per-partition bounded heap + driver merge,
``TakeOrderedAndProject``) plays the role of the reference's bounded
min-heap (``base/invertedIndex/EdgeInvertedIndex.java:140-170`` T3).
The index-backed block-max WAND path lives in ``wand.py``.

Result contract (rank-identity, SURVEY.md §2.5 T7): ordered by
(score DESC, doc_id ASC); ``score_u6`` = round(score * 1e6) as BIGINT is the
hash-stable form compared against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_K
from ..functions.bm25 import idf_expr, tf_sat_expr
from .stats import corpus_scalars, term_freqs, tokenized


def score_terms(tfreqs: DataFrame, tok: DataFrame, query_terms: list[str]) -> DataFrame:
    """(doc_id, score) for every doc matching >=1 query term.

    df for the query terms is computed *after* the term filter (the filter
    pushes below the shuffle; only matching postings are aggregated), then
    broadcast — the tiny query side never drives a full shuffle, mirroring
    the reference's posting-list probe (``InvertedIndex.getPairs:138-148``).
    """
    q = [str(t) for t in query_terms]
    matched = tfreqs.where(F.col("term").isin(q))
    dfs = matched.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    scalars = corpus_scalars(tok)
    dl = tok.select("doc_id", F.size("tokens").cast("double").alias("dl"))
    contrib = (
        matched.join(F.broadcast(dfs), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(scalars))
        .select(
            "doc_id",
            (
                idf_expr(F.col("df"), F.col("n_docs"))
                * tf_sat_expr(F.col("tf"), F.col("dl"), F.col("avgdl"))
            ).alias("contrib"),
        )
    )
    return contrib.groupBy("doc_id").agg(F.sum("contrib").alias("score"))


def topk_bm25(df: DataFrame, query_terms: list[str], k: int = DEFAULT_K,
              id_col: str = "doc_id", text_col: str = "text",
              analyzer: str = "ws") -> DataFrame:
    """Brute-force BM25 top-k over a raw corpus DataFrame.

    Returns (doc_id, score_u6) ordered (score DESC, doc_id ASC) LIMIT k.
    """
    tok = tokenized(df, id_col, text_col, analyzer)
    return _ranked_u6(score_terms(term_freqs(tok), tok, query_terms), k)


def topk_bm25_filtered(df: DataFrame, query_terms: list[str], k: int,
                       predicate, id_col: str = "doc_id",
                       text_col: str = "text",
                       analyzer: str = "ws") -> DataFrame:
    """Top-k BM25 restricted to docs satisfying a metadata predicate.

    Reference semantics: the time/metadata constraint is applied to the
    *candidates inside the top-k loop* while scores use index-wide
    statistics (``TrajectoryResolver.meetTimeConstrain`` called at
    ``EdgeInvertedIndex.java:155`` — F2 in SURVEY.md §2.2). So df / N /
    avgdl come from the FULL corpus; only the heap membership is filtered.
    ``predicate`` is a Column over ``df``'s metadata columns.
    """
    tok = tokenized(df, id_col, text_col, analyzer)
    scores = score_terms(term_freqs(tok), tok, query_terms)
    allowed = df.where(predicate).select(F.col(id_col).alias("doc_id"))
    return _ranked_u6(scores.join(allowed, "doc_id", "left_semi"), k)


def _ranked_u6(scores: DataFrame, k: int) -> DataFrame:
    """Top-k of (doc_id, score) ordered (score DESC, doc_id ASC) as
    (doc_id, score_u6)."""
    return (
        scores.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
        .select(
            "doc_id",
            F.round(F.col("score") * 1e6).cast("bigint").alias("score_u6"),
        )
    )
