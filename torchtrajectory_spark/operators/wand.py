"""Index-backed top-k BM25: block-max pruned, UB-ordered, early-terminating.

Distributed re-expression of T-Torch's flagship top-k scan
(``base/invertedIndex/EdgeInvertedIndex.findTopK:102-177``):

reference (single JVM)                      -> this engine (Spark)
--------------------------------------------------------------------------
posting probe per query edge  (J1)          -> postings read filtered to
                                               the query terms + their
                                               crc32 buckets: by the task
                                               itself (pyarrow) on a small
                                               index, else a pruned
                                               parquet scan
UB(doc) = sum of matched term weights (A2)  -> per-segment numpy UB
                                               accumulation from block-max
                                               metadata (idf * tf_sat(max_tf,
                                               min_dl))
max-heap by UB, scan desc     (T2)          -> np.argsort UB desc, chunked
bounded top-k min-heap        (T3)          -> running k-th best per chunk
theta early termination       (T4)          -> stop when bestKth >= next
                                               chunk's max UB
restDistance DP abandon       (T5)          -> block-max bound IS the
                                               remaining-score bound: the
                                               chunks past theta are never
                                               scored (payloads decode in
                                               one pass per term — the
                                               scan scores 93-100% of
                                               blocks on the bench corpus)
heap pop                      (T7)          -> per-segment top-k ->
                                               TakeOrderedAndProject merge,
                                               (score DESC, doc_id ASC)

Every indexed query runs on one core (Lucene's Weight/Scorer split,
Koios' bound-then-verify loop with pluggable candidate rules):

* ``_per_segment`` — the driver prologue: term meta, the tombstone set
  and the postings (all from one index snapshot, ``index.open_snapshot``),
  and the per-segment kernel over each segment's bucket+term filtered
  blocks (restricted by a doc_stats side frame when there is one);
  ``_topk_merge`` is the global (score DESC, doc_id ASC) merge.
* ``_memo_meta`` — term statistics, memoized in the snapshot
  (``IndexSnapshot.memo``) per term set (``query_term_meta``) or per
  expansion (``_topk_expansion``); only a miss reads the dictionary.
  The bucket count and the statistics come from the snapshot alone, so
  no operator takes them as arguments.
* ``_TermPostings`` — one term's blocks in a segment, decoded in one pass.
* ``_segment_scores`` — the one per-segment BM25 primitive: a doc set
  scored against weighted clauses (a plain term, or a synonym group
  summing member tf), the candidates chosen by the query's rule —
  UB-pruned theta scan (with a searchAfter cursor), all live matches, or
  at least m clauses matched.

The index is doc-sharded into segments; each segment's kernel runs the
whole pruned scan locally over numpy arrays, then Spark merges the tiny
per-segment top-k lists. An index whose postings are one task's worth of
data (``IndexSnapshot.one_task``) is queried by one task that reads the
blocks itself: a warm query is one Spark job with one stage and no
shuffle. A larger one is scanned by Spark and its blocks grouped by
segment (one ``applyInPandas`` group per segment): at 10^12-file scale
parallelism = number of segments, and no stage ever materializes more
than the query terms' postings for one segment.
"""

from __future__ import annotations

import math
import os
import re
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import BM25_B, BM25_K1, DEFAULT_K
from ..functions.bm25 import idf_py, tf_sat_expr, tf_sat_np
from .index import (
    _read_bucketed,
    _read_markers,
    decode_blocks,
    open_snapshot,
    postings_flat,
    sorted_isin,
)


@dataclass(frozen=True)
class IndexMeta:
    """Global scalars + per-term df of one index snapshot."""
    n_docs: float
    avgdl: float
    term_df: dict  # term -> df (float)


def _corpus_scalars(spark: SparkSession, index_dir) -> tuple[float, float]:
    """(n_docs, avgdl) summed over a snapshot's manifest markers, read
    with pyarrow — no Spark job, no data scan. ``IndexSnapshot.scalars``
    memoizes it per segment set."""
    snap = open_snapshot(spark, index_dir)
    rows = [r for t in _read_markers(os.path.join(snap.root, "manifest"),
                                     snap.segments).values()
            for r in t.select(["row_count", "sum_dl"]).to_pylist()]
    n = float(sum(r["row_count"] or 0 for r in rows))
    return n, (sum(r["sum_dl"] or 0 for r in rows) / n if n else 0.0)


def _memo_meta(snap, key, read) -> IndexMeta:
    """The snapshot's term statistics under ``key`` (a term set, or an
    expansion's (kind, pattern, cap)), held in ``snap.memo``:
    ``read()`` — a term -> df dictionary read — runs on a miss only, so
    warm repeats are driver-side dict hits."""
    meta = snap.memo.get(key)
    if meta is None:
        meta = snap.memo[key] = IndexMeta(*snap.scalars, read())
    return meta


def _read_term_df(snap, terms: list[str]) -> dict:
    """The uncached dictionary read: df of ``terms``, summed over the
    snapshot's segments, the bucket+term filter pushed into the read.
    A small index (``IndexSnapshot.one_task``) is read on the driver
    through the one reader of bucketed tables
    (:func:`index._read_bucketed`), with no Spark job; a larger one by a
    Spark scan of the terms table."""
    if snap.one_task():
        t = _read_bucketed(
            [f for fs in snap.files("terms").values() for f in fs], terms,
            snap.buckets, ("term", "df"))
        g = t.group_by("term").aggregate([("df", "sum")])
        return dict(zip(g["term"].to_pylist(),
                        map(float, g["df_sum"].to_pylist())))
    dfs = (
        snap.terms.where(snap.term_filter(terms))
        .groupBy("term").agg(F.sum("df").alias("df"))
        .collect()
    )
    return {r["term"]: float(r["df"]) for r in dfs}


def query_term_meta(spark: SparkSession, index_dir: str,
                    query_terms: list[str],
                    buckets: int | None = None) -> IndexMeta:
    """Term statistics of ``query_terms``: df for just those terms from
    the bucket-pruned dictionary (:func:`_read_term_df`), and the
    snapshot's (n_docs, avgdl), memoized per snapshot and term set.

    df and the scalars come from one snapshot, so df <= n_docs holds: a
    segment's df is at most its row count, even when a segment commits
    while the query runs. ``buckets`` is a check, not a knob: the bucket
    count is the index's own, and any other value raises."""
    snap = open_snapshot(spark, index_dir)
    if buckets is not None and int(buckets) != snap.buckets:
        raise ValueError(
            f"query_term_meta: buckets={buckets} but the index at "
            f"{snap.root} has {snap.buckets}")
    q = _terms(query_terms)
    return _memo_meta(snap, frozenset(q), lambda: _read_term_df(snap, q))


# block columns the scorer reads: payloads + bound metadata, never
# salt/block_id/first/last (ReadSchema shrinks accordingly — EXPLAIN.md)
_SCORE_COLS = ("term", "n_docs", "max_tf", "min_dl", "doc_gaps", "tfs", "dls")
_TOPK_SCHEMA = "doc_id bigint, score double"
_EMPTY_TOPK = {"doc_id": pd.Series(dtype="int64"),
               "score": pd.Series(dtype="float64")}


def _terms(terms) -> list[str]:
    """Normalised query terms: distinct strings, sorted."""
    return sorted({str(t) for t in terms})


def _per_segment(spark: SparkSession, index_dir: str, q: list[str],
                 kernel, schema: str, *, cols=_SCORE_COLS,
                 scored: bool = True,
                 side: DataFrame | None = None) -> DataFrame:
    """The prologue every indexed query shares, over one snapshot of
    the index (``index_dir`` is a path or an ``IndexSnapshot``).

    For a scoring query, takes the term meta of ``q`` from the
    snapshot's memo (``query_term_meta``). Then runs ``kernel(blocks,
    meta, dead)`` once per segment that holds blocks of ``q``, where
    ``dead`` is the snapshot's tombstones and ``blocks`` is that
    segment's blocks of ``q``, ``cols`` only. A ``side`` frame (rows
    carrying ``segment``, e.g. doc_stats) restricts the kernel to its
    segments' docs: the kernel gets the segment's side rows as a fourth
    argument, and a segment without side rows returns nothing.

    A small index (``IndexSnapshot.one_task``, e.g. the perfbench
    reference index) is read by the task itself: ONE task reads every
    segment's blocks with :func:`index._read_bucketed` (the bucket+term
    filter pushed into the read) and runs the kernels; the plan is a
    ``mapInPandas`` over a one-row range, one stage, and no postings row
    passes through the JVM or a shuffle. With a side frame, the side is
    grouped by segment and each group's task reads its own segment's
    blocks (empty ones for a segment without blocks of ``q``), so only
    the side shuffles; a segment with blocks but no side rows is not
    called, which returns the same rows.

    A larger index keeps the Spark parquet scan: pyarrow decodes every
    row group it opens, so the task's read grows with the index, where
    the scan's cost stayed flat (EXPLAIN.md). The blocks are scanned
    with the bucket+term predicates pushed down and grouped (or
    cogrouped with the side) by segment."""
    snap = open_snapshot(spark, index_dir)
    meta = query_term_meta(spark, snap, q) if scored else None
    dead = snap.tombstones
    if not snap.one_task():
        scan = snap.postings.where(snap.term_filter(q)).select(
            "segment", *cols)
        if side is None:
            def run_scan(pdf: pd.DataFrame) -> pd.DataFrame:
                return kernel(pdf.drop(columns=["segment"]), meta, dead)

            return scan.groupBy("segment").applyInPandas(run_scan, schema)

        def run_cogroup(pdf: pd.DataFrame,
                        rows: pd.DataFrame) -> pd.DataFrame:
            return kernel(pdf.drop(columns=["segment"]), meta, dead, rows)

        return scan.groupBy("segment").cogroup(
            side.groupBy("segment")).applyInPandas(run_cogroup, schema)

    files, buckets = snap.files("postings"), snap.buckets

    def blocks(s: int) -> pd.DataFrame:
        return _read_bucketed(files[s], q, buckets, cols).to_pandas()

    if side is None:
        def run(batches):
            for _ in batches:  # the range's one row
                for s in files:
                    blk = blocks(s)
                    if len(blk):
                        yield kernel(blk, meta, dead)

        return spark.range(0, 1, 1, 1).mapInPandas(run, schema)

    def run_side(rows: pd.DataFrame) -> pd.DataFrame:
        return kernel(blocks(int(rows["segment"].iloc[0])), meta, dead, rows)

    return side.groupBy("segment").applyInPandas(run_side, schema)


def _topk_merge(df: DataFrame, k: int) -> DataFrame:
    """Global merge of per-segment top-k lists: (score DESC, doc_id ASC)
    limit k — one TakeOrderedAndProject."""
    return df.orderBy(F.col("score").desc(),
                      F.col("doc_id").asc()).limit(int(k))


def _allowed_docs(snap, predicate) -> DataFrame | None:
    """(segment, doc_id) of the docs a doc_stats predicate admits — the
    side frame of the metadata-filtered scorers (predicate pushed into
    the doc_stats parquet scan); None without a predicate."""
    return (None if predicate is None
            else snap.doc_stats.where(predicate).select("segment", "doc_id"))


def _sorted_ids(rows: pd.DataFrame | None) -> np.ndarray | None:
    return (None if rows is None
            else np.sort(rows["doc_id"].to_numpy(dtype=np.int64)))


class _TermPostings:
    """One query term's postings in a segment, decoded in one pass.

    All of the term's blocks (salted sub-lists included) decode in one
    :func:`decode_blocks` call — one varint pass per column — then sort
    by doc. ``member_ub`` is each posting's block bound
    tf_sat(max_tf, min_dl) repeated over the block's docs: times a
    clause weight, it bounds the posting's score contribution (A2).

    Eager because skipping blocks would save almost nothing: the theta
    scan scores docs in 93-100% of the blocks on the bench corpus
    (uniform doc lengths + Zipf tf make block maxes nearly equal), and
    one codec call per column is far cheaper than one per block."""

    def __init__(self, grp: pd.DataFrame, avgdl: float, k1: float,
                 b: float):
        d = decode_blocks(grp, ("tfs", "dls"))
        order = np.argsort(d["docs"], kind="mergesort")
        self.docs = d["docs"][order]
        self.tf = d["tfs"][order].astype(np.float64)
        self.dl = d["dls"][order].astype(np.float64)
        bound = tf_sat_np(grp["max_tf"].to_numpy(dtype=np.float64),
                          grp["min_dl"].to_numpy(dtype=np.float64),
                          avgdl, k1, b)
        self.member_ub = np.repeat(bound, grp["n_docs"].to_numpy())[order]


def _build_term_arrays(pdf: pd.DataFrame, avgdl: float, k1: float,
                       b: float) -> dict:
    """Decode one segment's posting groups into ``_TermPostings``, keyed
    by term — in the batch path each term decodes ONCE even when many
    queries reference it."""
    return {
        term: _TermPostings(grp, avgdl, k1, b)
        for term, grp in pdf.groupby("term", sort=True)
    }


def _clauses(q: list, meta: IndexMeta, boosts: dict | None = None) -> list:
    """A query as weighted clauses ``[(weight, member terms)]``, in ``q``
    order (callers pass normalised, sorted terms — the one summation
    order every plain-term path shares). A string entry is a plain term:
    one member, weight = its idf, times its ``BoostQuery`` weight. A
    list entry is a synonym group (Lucene ``SynonymQuery``): member tf
    sums per doc under ONE idf from the blended (max member) df."""
    out = []
    for c in q:
        members = (c,) if isinstance(c, str) else tuple(c)
        w = idf_py(max(meta.term_df.get(t, 0.0) for t in members),
                   meta.n_docs)
        if boosts and isinstance(c, str):
            w *= float(boosts.get(c, 1.0))
        out.append((w, members))
    return out


def _bm25(use: list, docs: np.ndarray, avgdl: float, k1: float,
          b: float) -> np.ndarray:
    """BM25 of ``docs`` against resolved clauses ``[(weight,
    [_TermPostings])]``: per clause, member tf sums over the docs each
    member posts (dl is per-doc, the same in every member), then
    ``weight * tf_sat`` adds in — clause by clause, in list order."""
    scores = np.zeros(docs.size, dtype=np.float64)
    for w, tps in use:
        hit = np.zeros(docs.size, dtype=bool)
        tf = np.zeros(docs.size, dtype=np.float64)
        dl = np.zeros(docs.size, dtype=np.float64)
        for tp in tps:
            pos = np.clip(np.searchsorted(tp.docs, docs), 0,
                          tp.docs.size - 1)
            h = tp.docs[pos] == docs
            tf[h] += tp.tf[pos[h]]
            dl[h] = tp.dl[pos[h]]
            hit |= h
        if hit.any():
            scores[hit] += w * tf_sat_np(tf[hit], dl[hit], avgdl, k1, b)
    return scores


def _segment_scores(terms: dict, clauses: list, k: int | None,
                    avgdl: float, k1: float, b: float, *,
                    min_match: int = 1,
                    allowed: np.ndarray | None = None,
                    blocked: np.ndarray | None = None,
                    after: tuple[float, int] | None = None) -> pd.DataFrame:
    """THE per-segment BM25 primitive: score one segment's docs against
    weighted ``clauses`` (see :func:`_clauses`) over decoded ``terms``.

    Candidates are the docs any clause member posts. ``blocked`` (sorted
    doc_ids: tombstones, must_not) drops docs and ``allowed`` (sorted
    doc_ids: a metadata predicate, must) restricts heap MEMBERSHIP to a
    doc set — F2-in-the-loop (``EdgeInvertedIndex.java:155``); both
    apply once, before any scoring, while scores keep index-wide
    statistics. ``min_match`` > 1 keeps docs matching at least that many
    clauses (Lucene ``minimumNumberShouldMatch``), from docID membership
    alone. Then the candidate rule:

    * ``k is None`` — every candidate, scored, doc_id ASC (the exact
      match-set scan behind grouping/collapse and fielded search);
    * otherwise the UB-pruned theta scan: candidates in UB-descending
      order (UB = sum of weight * member bound), chunked, stopping once
      the running k-th best beats the next chunk's UB (T4). Exact for
      synonym clauses too: tf_sat is concave with tf_sat(0) = 0, so the
      summed member bounds dominate the blended contribution.

    ``after`` = (score, doc_id) cursor (Lucene ``searchAfter``): only
    docs STRICTLY after it in (score DESC, doc_id ASC) order enter the
    heap. It gates scored rows, so UB ordering and theta pruning keep
    working; no UB-side cut is taken (a doc whose UB is below the cursor
    score still qualifies). Ties at the cursor compare by float
    equality, so the cursor score must be the exact float64 of a
    collected row."""
    use = []
    for w, members in clauses:
        tps = [terms[t] for t in members if t in terms]
        if tps:
            use.append((w, tps))
    if not use:
        return pd.DataFrame(_EMPTY_TOPK)
    cand = np.concatenate([tp.docs for _, tps in use for tp in tps])
    keep = ~sorted_isin(blocked, cand)
    if allowed is not None:
        keep &= sorted_isin(allowed, cand)
    docs, inv = np.unique(cand[keep], return_inverse=True)
    if min_match > 1:
        n_hit = np.zeros(docs.size, dtype=np.int64)
        for _, tps in use:
            n_hit += np.any([sorted_isin(tp.docs, docs) for tp in tps],
                            axis=0)
        ok = n_hit >= min_match
    else:
        ok = np.ones(docs.size, dtype=bool)
    if k is None:
        docs = docs[ok]
        return pd.DataFrame({"doc_id": docs,
                             "score": _bm25(use, docs, avgdl, k1, b)})
    # UB(doc) = sum of per-clause block-max bounds (reference A2)
    ub_sum = np.zeros(docs.size, dtype=np.float64)
    np.add.at(ub_sum, inv, np.concatenate(
        [w * tp.member_ub for w, tps in use for tp in tps])[keep])
    docs, ub_sum = docs[ok], ub_sum[ok]

    # scan candidates in UB-descending order, chunked; stop when the
    # running k-th best beats the next chunk's best possible UB (T4)
    order = np.argsort(-ub_sum, kind="mergesort")
    sorted_docs = docs[order]
    sorted_ubs = ub_sum[order]
    topk_scores = np.empty(0, dtype=np.float64)
    topk_docs = np.empty(0, dtype=np.int64)
    best_kth = -math.inf
    chunk = max(k * 4, 1024)
    for s in range(0, sorted_docs.size, chunk):
        # strict > so an exact UB tie (which could still tie on score and
        # win the doc_id tie-break) is never pruned — rank-identity
        if best_kth > sorted_ubs[s] and topk_docs.size >= k:
            break  # theta-pruning: no remaining candidate can enter top-k
        dchunk = sorted_docs[s:s + chunk]
        scores = _bm25(use, dchunk, avgdl, k1, b)
        if after is not None:
            a_s, a_d = float(after[0]), int(after[1])
            gate = (scores < a_s) | ((scores == a_s) & (dchunk > a_d))
            dchunk, scores = dchunk[gate], scores[gate]
        topk_docs = np.concatenate([topk_docs, dchunk])
        topk_scores = np.concatenate([topk_scores, scores])
        # keep only current top-k (score DESC, doc ASC)
        sel = np.lexsort((topk_docs, -topk_scores))[:k]
        topk_docs, topk_scores = topk_docs[sel], topk_scores[sel]
        if topk_docs.size >= k:
            best_kth = topk_scores[-1]
    return pd.DataFrame({"doc_id": topk_docs, "score": topk_scores})


def _segment_topk(pdf: pd.DataFrame, q: list, k: int | None,
                  meta: IndexMeta, k1: float, b: float,
                  allowed: np.ndarray | None = None,
                  blocked: np.ndarray | None = None,
                  after: tuple[float, int] | None = None,
                  boosts: dict | None = None,
                  min_match: int = 1) -> pd.DataFrame:
    """One query over one segment's blocks: decode, then
    :func:`_segment_scores` — the batch scorer's one-query case.
    ``boosts`` (term -> weight, Lucene BoostQuery) scale the terms' idf,
    so member bounds, theta pruning and exact scores all see the same
    boosted weight — pruning stays exact under any positive boost."""
    return _segment_scores(
        _build_term_arrays(pdf, meta.avgdl, k1, b),
        _clauses(q, meta, boosts), k, meta.avgdl, k1, b,
        min_match=min_match, allowed=allowed, blocked=blocked, after=after)


def _segment_topk_many(pdf: pd.DataFrame, queries: list[tuple[str, list]],
                       k: int, meta: IndexMeta,
                       k1: float, b: float,
                       allowed: np.ndarray | None = None,
                       blocked: np.ndarray | None = None,
                       afters: dict | None = None) -> pd.DataFrame:
    """Batch variant: ONE postings decode per term, then the primitive
    per query over the shared arrays. Output carries ``query_id``; each
    query's rows are exactly what ``_segment_topk`` would return for it.
    ``allowed`` restricts heap membership for EVERY query in the set;
    ``afters`` maps query_id -> (score, doc_id) cursor for the queries
    being paginated (absent = page 1)."""
    terms = _build_term_arrays(pdf, meta.avgdl, k1, b)
    outs = []
    for qid, q in queries:
        r = _segment_scores(terms, _clauses(q, meta), k, meta.avgdl, k1, b,
                            allowed=allowed, blocked=blocked,
                            after=(afters or {}).get(qid))
        r.insert(0, "query_id", qid)
        outs.append(r)
    if not outs:
        return pd.DataFrame({"query_id": pd.Series(dtype="object"),
                             **_EMPTY_TOPK})
    return pd.concat(outs, ignore_index=True)


def topk_bm25_index(
    spark: SparkSession,
    index_dir: str,
    query_terms: list[str],
    k: int = DEFAULT_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    after: tuple[float, int] | None = None,
    boosts: dict | None = None,
    predicate=None,
) -> DataFrame:
    """Top-k BM25 from the compressed index. Returns (doc_id, score).

    ``after`` = (score, doc_id) cursor for deep pagination (Lucene
    ``searchAfter``): returns the top-k of the docs ranking STRICTLY
    after the cursor under (score DESC, doc_id ASC). Per-segment cost is
    the same pruned scan as page one — never a k*page heap. The cursor
    score must be the exact float64 collected from the previous page's
    last row: ties at the cursor compare by float equality, so a score
    that lost bits in transit (JSON with few digits, float32) drops or
    repeats rows at the page boundary.

    ``boosts`` = term -> positive weight (Lucene ``BoostQuery``): scales
    each term's idf; block bounds scale with it, so pruning stays exact.

    ``predicate`` (a Column over doc_stats' metadata columns, e.g.
    ``F.col("lang").isin("en")``) restricts heap membership while scores
    keep index-wide statistics — F2-in-the-loop
    (``EdgeInvertedIndex.java:155``). The allowed-doc set is pushed into
    the doc_stats scan and brought per segment to the segment's blocks
    in the same pruned scorer, so theta-pruning survives the filter;
    ``after`` composes (Lucene searchAfter with a filter clause)."""
    q = _terms(query_terms)
    if boosts is not None:
        bad = {t: w for t, w in boosts.items() if not float(w) > 0}
        if bad:
            raise ValueError(f"topk_bm25_index: boosts must be > 0: {bad}")
    snap = open_snapshot(spark, index_dir)

    def kernel(blk, meta, dead, alw=None):
        return _segment_topk(blk, q, k, meta, k1, b,
                             allowed=_sorted_ids(alw), blocked=dead,
                             after=after, boosts=boosts)

    return _topk_merge(_per_segment(
        spark, snap, q, kernel, _TOPK_SCHEMA,
        side=_allowed_docs(snap, predicate)), k)


def scores_bm25_index_all(
    spark: SparkSession,
    index_dir: str,
    query_terms: list[str],
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """(doc_id, score) for EVERY live document matching any query term —
    the exact-scoring scan with no top-k heap (the all-matches rule of
    :func:`_segment_scores`). The building block of operators that
    combine scores ACROSS indexes (multi-field search), where a doc
    outside one index's top-k can still win the combined ranking. Cost
    is bounded by the query terms' posting sizes in THIS index."""
    q = _terms(query_terms)
    return _per_segment(
        spark, index_dir, q,
        lambda blk, meta, dead: _segment_topk(blk, q, None, meta, k1, b,
                                              blocked=dead),
        _TOPK_SCHEMA)


def topk_bm25_index_many(
    spark: SparkSession,
    index_dir: str,
    queries: dict[str, list[str]],
    k: int = DEFAULT_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    predicate=None,
    afters: dict | None = None,
) -> DataFrame:
    """Batch top-k BM25: score a whole query SET in one pass.

    Returns (query_id, doc_id, score), each query's rows rank- and
    score-identical to ``topk_bm25_index`` run alone (tested). The win
    over a per-query loop is structural, not incidental:

    * ONE postings read covers the union of all queries' terms
      (bucket+term filtered, one job instead of one per query);
    * ONE term-meta lookup for all terms (driver-side, with no job, on
      a small index);
    * within each segment task every term's blocks are decoded ONCE and
      shared across the queries that reference it (reference workloads'
      query sets share hot terms heavily);
    * ONE Python stage launch total — the fixed ~0.4 s local-mode Arrow
      stage cost (BASELINE.md "latency floor") is paid once for Q
      queries instead of Q times, and on a cluster the scheduler sees
      one wave of segment tasks instead of Q waves.

    The reference evaluates its query set as a driver-side loop over
    ``findTopK`` (``base/invertedIndex/EdgeInvertedIndex.java:102``);
    batching is the idiomatic Spark re-expression of "run the reference
    query set".

    ``predicate`` applies one doc_stats metadata predicate to every
    query, with ``topk_bm25_index``'s F2-in-the-loop semantics.
    ``afters`` maps query_id -> (score, doc_id) cursor: per-query
    searchAfter pagination inside the batch — mixed page-1 and page-N
    members share the one scan and the one decode, each at its own
    page-one cost. Its keys are coerced with ``str`` like the query ids;
    a key that names no query raises ``ValueError``.
    """
    qmap = [(str(qid), _terms(terms))
            for qid, terms in sorted(queries.items())]
    if afters:
        afters = {str(qid): cur for qid, cur in afters.items()}
        unknown = sorted(set(afters) - {qid for qid, _ in qmap})
        if unknown:
            raise ValueError(
                f"topk_bm25_index_many: afters keys {unknown} are not "
                "query ids")
    snap = open_snapshot(spark, index_dir)

    def kernel(blk, meta, dead, alw=None):
        return _segment_topk_many(blk, qmap, k, meta, k1, b,
                                  allowed=_sorted_ids(alw), blocked=dead,
                                  afters=afters)

    per_seg = _per_segment(
        spark, snap, _terms(t for _, q in qmap for t in q), kernel,
        "query_id string, doc_id bigint, score double",
        side=_allowed_docs(snap, predicate))
    # per-query merge of the tiny per-segment lists: Q x segments x k
    # rows through one window — the same (score DESC, doc_id ASC)
    # tie-break as the single-query TakeOrderedAndProject
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        per_seg.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k).drop("rn")
    )


def topk_bm25_index_boolean(
    spark: SparkSession,
    index_dir: str,
    should: list[str],
    k: int = DEFAULT_K,
    must: list[str] | tuple = (),
    must_not: list[str] | tuple = (),
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Lucene ``BooleanQuery`` analog: ``should`` terms score (BM25 sum,
    index-wide statistics), ``must`` terms are non-scoring filter clauses
    (doc must contain ALL), ``must_not`` excludes docs containing ANY.
    ``should`` must be non-empty — a pure-filter query is
    ``bool_and_index_blocks``' job, not a ranking.

    ONE bucket+term-filtered postings read covers the union of all three
    clause sets and ONE per-segment kernel resolves them: the must /
    must_not terms' docID streams decode into an allowed set
    (intersection) and an extra blocked set (union, merged with the
    tombstones), then the standard pruned scan runs over the should
    blocks with heap membership restricted — theta-pruning stays fully
    effective under the clauses (same shape as the metadata-filtered
    path, without the doc_stats side frame).
    """
    from .boolean import decode_match_docs

    sq = _terms(should)
    if not sq:
        raise ValueError("boolean top-k requires at least one should term")
    sm, sn = _terms(must), _terms(must_not)

    def kernel(pdf, meta, dead):
        allowed = None
        if sm:
            allowed = decode_match_docs(pdf[pdf["term"].isin(sm)], "and",
                                        len(sm))
            if allowed is None or allowed.size == 0:
                return pd.DataFrame(_EMPTY_TOPK)  # a must term matches none
        blocked = dead
        neg = pdf[pdf["term"].isin(sn)]
        if len(neg):
            banned = decode_match_docs(neg, "or", len(sn))
            blocked = (banned if blocked is None
                       else np.union1d(blocked, banned))
        return _segment_topk(pdf[pdf["term"].isin(sq)], sq, k, meta, k1, b,
                             allowed=allowed, blocked=blocked)

    return _topk_merge(_per_segment(
        spark, index_dir, _terms(sq + sm + sn), kernel, _TOPK_SCHEMA), k)


def explain_score(spark: SparkSession, index_dir: str, terms: list[str],
                  doc_id: int,
                  k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """Per-term BM25 score breakdown for ONE document — the Lucene
    ``Explanation`` analog (the reference prints per-edge weights ad hoc
    in its demo, ``EdgeInvertedIndex.java:196-233``; this is that
    debugging surface as a queryable DataFrame).

    Returns (term, tf, df, idf, contribution) for every query term
    present in the doc; ``sum(contribution)`` over the rows equals the
    doc's ``find_topk`` score exactly (same float64 formula, pinned in
    tests). The scan is the standard bucket+term-pruned postings probe
    AND segment-pruned: one doc_stats point lookup resolves the doc's
    segment first, so only that segment's blocks decode (segments are
    doc-disjoint — measured 1.66 s -> the single-segment share on a
    16-segment 1M index)."""
    q = _terms(terms)
    snap = open_snapshot(spark, index_dir)
    meta = query_term_meta(spark, snap, q)
    known = [t for t in q if t in meta.term_df]
    schema = ("term string, tf bigint, df double, idf double, "
              "contribution double")
    if not known:
        return spark.createDataFrame([], schema)
    idf_map = F.create_map(*[
        F.lit(x) for t in known
        for x in (t, idf_py(meta.term_df[t], meta.n_docs))
    ])
    df_map = F.create_map(*[
        F.lit(x) for t in known for x in (t, float(meta.term_df[t]))
    ])
    seg = (
        snap.doc_stats.where(F.col("doc_id") == int(doc_id))
        .select("segment").first()
    )
    return (
        postings_flat(spark, snap, terms=known,
                      segments=None if seg is None else [seg["segment"]])
        .where(F.col("doc_id") == int(doc_id))
        .withColumn("df", F.element_at(df_map, F.col("term")))
        .withColumn("idf", F.element_at(idf_map, F.col("term")))
        .withColumn(
            "contribution",
            F.col("idf") * tf_sat_expr(F.col("tf").cast("double"),
                                       F.col("dl").cast("double"),
                                       meta.avgdl, k1, b),
        )
        .select("term", "tf", "df", "idf", "contribution")
        .orderBy("term")
    )


def _prefix_upper(prefix: str) -> str | None:
    """Smallest string strictly greater than every string starting with
    ``prefix`` (the exclusive upper bound of the prefix range): increment
    the last incrementable codepoint, dropping any trailing U+10FFFF
    maxima. UTF-8 byte order equals codepoint order, so the bound is
    exact under both Spark's binary string comparison and parquet
    min/max statistics. The surrogate gap [U+D800, U+DFFF] cannot occur
    in valid data, so an increment landing there snaps to U+E000.
    Returns ``None`` for the degenerate all-U+10FFFF prefix (range is
    then unbounded above)."""
    for i in range(len(prefix) - 1, -1, -1):
        c = ord(prefix[i])
        if c < 0x10FFFF:
            nxt = c + 1
            if 0xD800 <= nxt <= 0xDFFF:
                nxt = 0xE000
            return prefix[:i] + chr(nxt)
    return None


def _prefix_range_pred(prefix: str):
    """``term`` is in [prefix, succ(prefix)) — EXACTLY the set of terms
    starting with ``prefix``, expressed as a closed/open range so both
    bounds push into the parquet scan as comparisons against file and
    row-group ``term`` statistics (a StartsWith only prunes on the lower
    side in practice)."""
    pred = F.col("term") >= str(prefix)
    upper = _prefix_upper(str(prefix))
    if upper is not None:
        pred = pred & (F.col("term") < upper)
    return pred


def expand_prefix(spark: SparkSession, index_dir: str, prefix: str,
                  max_terms: int = 64) -> dict[str, float]:
    """Dictionary expansion for prefix queries: every indexed term
    starting with ``prefix``, with its global df, capped to the
    ``max_terms`` highest-df terms (ties broken term ASC — deterministic,
    the cap policy of Lucene's ``MultiTermQuery`` boolean rewrite).

    Scan shape: the primary terms table is hash-bucketed (crc32), so a
    prefix hashes into EVERY bucket file and the StartsWith scan touches
    the whole dictionary. Indexes built since the ``terms_sorted``
    secondary dictionary exists (Lucene's sorted term dictionary / FST
    analog, ``_write_terms_sorted``) route through it instead: the prefix
    becomes a [prefix, succ(prefix)) range over term-range-partitioned
    files, so file/row-group min-max statistics reduce the read to O(1)
    of the vocabulary. Pre-feature indexes (``read_terms_sorted`` →
    ``None``) fall back to the bucketed scan — identical results, only
    the pruning differs."""
    return _expand_from(*_prefix_scan(open_snapshot(spark, index_dir),
                                      str(prefix)), max_terms)


def _prefix_scan(snap, prefix: str) -> tuple[DataFrame, object]:
    """(terms table, predicate) selecting the indexed terms starting with
    ``prefix``: the ``terms_sorted`` range scan when the index has it,
    the bucketed StartsWith scan otherwise."""
    if snap.terms_sorted is not None and prefix:
        return snap.terms_sorted, _prefix_range_pred(prefix)
    return snap.terms, F.col("term").startswith(prefix)


def _expand_with_prefix(spark: SparkSession, index_dir: str, lit: str,
                        pred, max_terms: int) -> dict[str, float]:
    """Expansion of the terms matching ``pred``, every one of which starts
    with the literal ``lit``: the literal becomes a range pre-filter on
    ``terms_sorted`` (a StartsWith on the bucketed table otherwise); no
    literal scans the whole dictionary."""
    snap = open_snapshot(spark, index_dir)
    if lit:
        if snap.terms_sorted is not None:
            return _expand_from(snap.terms_sorted,
                                _prefix_range_pred(lit) & pred, max_terms)
        pred = F.col("term").startswith(lit) & pred
    return _expand_from(snap.terms, pred, max_terms)


def _expand_from(terms: DataFrame, pred, max_terms: int) -> dict[str, float]:
    """Shared dictionary-expansion core (MultiTermQuery rewrite): every
    indexed term matching ``pred``, with its global df (sum of the
    per-segment partials), capped to the ``max_terms`` highest-df terms
    (ties term ASC — deterministic)."""
    rows = (
        terms
        .where(pred)
        .groupBy("term").agg(F.sum("df").alias("df"))
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(int(max_terms))
        .collect()
    )
    return {r["term"]: float(r["df"]) for r in rows}


def suggest_terms(spark: SparkSession, index_dir: str, prefix: str,
                  k: int = 10) -> DataFrame:
    """Prefix autocomplete (the Lucene suggester / FST-prefix-walk
    analog, ``TermsEnum.seekCeil`` + df ranking): the ``k`` highest-df
    indexed terms starting with ``prefix``, as (term, df). Same scan
    shape as :func:`expand_prefix` — the ``terms_sorted`` range scan
    when the index carries the sorted dictionary (file/row-group min-max
    pruning: O(1) of the vocabulary at any corpus size), the bucketed
    scan otherwise — but returned as a DataFrame: here the ranked terms
    ARE the product, not a query rewrite."""
    src, pred = _prefix_scan(open_snapshot(spark, index_dir), str(prefix))
    return (
        src.where(pred)
        .groupBy("term").agg(F.sum("df").cast("bigint").alias("df"))
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(int(k))
    )


def wildcard_regex(pattern: str) -> str:
    """Translate a Lucene-style wildcard pattern (``*`` = any run,
    ``?`` = one char, everything else literal) to an anchored regex that
    parses identically under Java (Spark ``rlike``) and RE2/PCRE (DuckDB
    ``regexp_matches``): metacharacters are backslash-escaped one by one,
    never wrapped in engine-specific quoting (``\\Q``/``\\E``)."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        elif ch.isalnum() or ch == "_":
            out.append(ch)
        else:
            out.append("\\" + ch)
    return "^" + "".join(out) + "$"


def expand_wildcard(spark: SparkSession, index_dir: str, pattern: str,
                    max_terms: int = 64) -> dict[str, float]:
    """Dictionary expansion for wildcard queries (Lucene
    ``WildcardQuery``). The regex itself cannot be pushed to parquet, but
    any literal prefix before the first wildcard becomes a range
    pre-filter: on a ``terms_sorted`` index (see :func:`expand_prefix`)
    the [lit, succ(lit)) bounds prune to O(1) term-range-partitioned
    files; on older indexes the StartsWith still rides each bucket
    file's row-group min/max on the sorted ``term`` column. Lucene's
    leading-wildcard slow-path caveat carries over — ``*x`` patterns
    scan the whole (vocabulary-sized) dictionary."""
    return _expand_with_prefix(
        spark, index_dir, re.split(r"[*?]", str(pattern), maxsplit=1)[0],
        F.col("term").rlike(wildcard_regex(str(pattern))), max_terms)


def expand_fuzzy(spark: SparkSession, index_dir: str, term: str,
                 max_edits: int = 2, max_terms: int = 64
                 ) -> dict[str, float]:
    """Dictionary expansion for fuzzy queries (Lucene ``FuzzyQuery``):
    every indexed term within ``max_edits`` Levenshtein edits of
    ``term``. A cheap JVM-side length-window pre-filter
    (|len(t) - len(q)| <= max_edits, a lower bound on edit distance)
    guards the O(len^2) distance evaluation; the distance itself runs in
    whole-stage codegen (``levenshtein`` expression), no Python. At
    10^12-file scale the dictionary is ~vocabulary-sized (sublinear in
    corpus), so the full scan stays small; Lucene's Levenshtein-automaton
    FST walk is the single-node analog of the same cap."""
    q = str(term)
    d = int(max_edits)
    pred = (
        (F.length("term") >= F.lit(len(q) - d))
        & (F.length("term") <= F.lit(len(q) + d))
        & (F.levenshtein(F.col("term"), F.lit(q)) <= d)
    )
    return _expand_from(open_snapshot(spark, index_dir).terms, pred,
                        max_terms)


def regexp_literal_prefix(pattern: str) -> str:
    """Required literal prefix of a regex over tokenizer terms, for use
    as a range pre-filter (Lucene derives the same bound from its
    automaton's common prefix). Conservative — the returned prefix must
    hold for EVERY match, never excluding one: any top-level alternation
    kills the prefix entirely, the literal run stops at the first regex
    metacharacter, and a trailing literal consumed by an optional
    quantifier (``?``/``*``/``{``) is dropped."""
    p = str(pattern)
    lit = []
    stop = len(p)
    for i, ch in enumerate(p):
        if (ch.isalnum() and ch == ch.lower()) or ch == "_":
            lit.append(ch)
            continue
        if lit and ch in "*?{":
            lit.pop()  # quantifier makes the previous char optional
        stop = i
        break
    # a top-level (group-depth-0) alternation anywhere lets a match
    # bypass the literal run entirely; one nested inside a group that
    # opens after the run cannot (the group as a whole follows it).
    # The depth scan must see the regex's real structure: an escaped
    # metachar is a literal (\( opens nothing, \| alternates nothing)
    # and everything inside a [...] class is literal.
    depth = 0
    i, n = stop, len(p)
    while i < n:
        ch = p[i]
        if ch == "\\":
            i += 2
            continue
        if ch == "[":
            i += 1
            if i < n and p[i] == "^":
                i += 1
            if i < n and p[i] == "]":  # leading ] is literal
                i += 1
            while i < n and p[i] != "]":
                i += 2 if p[i] == "\\" else 1
            i += 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth = max(depth - 1, 0)
        elif ch == "|" and depth == 0:
            return ""
        i += 1
    return "".join(lit)


def expand_regexp(spark: SparkSession, index_dir: str, pattern: str,
                  max_terms: int = 64) -> dict[str, float]:
    """Dictionary expansion for regexp queries (Lucene ``RegexpQuery``):
    every indexed term FULLY matching ``pattern`` (anchored, Lucene
    semantics), with its global df, df-descending cap at ``max_terms``.
    Restricted to the regex subset that parses identically under Java
    (Spark ``rlike``) and RE2 (DuckDB ``regexp_full_match``): literals,
    ``.``, character classes, alternation, grouping, quantifiers — no
    backreferences or lookaround. A required literal prefix (see
    :func:`regexp_literal_prefix`) prunes via the ``terms_sorted`` range
    scan; prefix-less patterns scan the vocabulary-sized dictionary
    (Lucene's own leading-wildcard cost class)."""
    return _expand_with_prefix(
        spark, index_dir, regexp_literal_prefix(pattern),
        F.col("term").rlike("^(?:" + str(pattern) + ")$"), max_terms)


def spell_suggest_terms(spark: SparkSession, index_dir: str, term: str,
                        k: int = 5, max_edits: int = 2) -> DataFrame:
    """Spell suggestion (Lucene ``DirectSpellChecker`` analog): indexed
    terms within ``max_edits`` Levenshtein edits of ``term`` (the input
    itself excluded), as (term, dist, df) ordered dist ASC, df DESC,
    term ASC — closer corrections first, popularity breaks ties. The
    same JVM-side length-window + codegen ``levenshtein`` scan as
    :func:`expand_fuzzy`, over the ~vocabulary-sized dictionary."""
    q = str(term)
    d = int(max_edits)
    pred = (
        (F.length("term") >= F.lit(len(q) - d))
        & (F.length("term") <= F.lit(len(q) + d))
        & (F.col("term") != q)
        & (F.levenshtein(F.col("term"), F.lit(q)) <= d)
    )
    return (
        open_snapshot(spark, index_dir).terms
        .where(pred)
        .groupBy("term").agg(F.sum("df").cast("bigint").alias("df"))
        .withColumn("dist",
                    F.levenshtein(F.col("term"), F.lit(q)).cast("int"))
        .orderBy(F.col("dist").asc(), F.col("df").desc(),
                 F.col("term").asc())
        .limit(int(k))
        .select("term", "dist", "df")
    )


def topk_bm25_index_prefix(
    spark: SparkSession,
    index_dir: str,
    prefix: str,
    k: int = DEFAULT_K,
    max_terms: int = 64,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Prefix top-k BM25 (Lucene ``PrefixQuery`` with the scoring boolean
    rewrite): expand ``prefix`` against the term dictionary, then run the
    standard multi-term block-max WAND scan over the expansion — each
    matched term scores with its own idf, per-doc scores sum. The
    expansion's df values double as the term meta, so no second
    dictionary lookup happens."""
    return _topk_expansion(
        spark, index_dir, ("prefix", str(prefix), int(max_terms)),
        lambda snap: expand_prefix(spark, snap, prefix, max_terms), k,
        k1=k1, b=b)


def topk_bm25_index_wildcard(
    spark: SparkSession,
    index_dir: str,
    pattern: str,
    k: int = DEFAULT_K,
    max_terms: int = 64,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Wildcard top-k BM25 (Lucene ``WildcardQuery``, scoring boolean
    rewrite): :func:`expand_wildcard` the pattern, then the standard
    multi-term block-max WAND scan over the expansion."""
    return _topk_expansion(
        spark, index_dir, ("wildcard", str(pattern), int(max_terms)),
        lambda snap: expand_wildcard(spark, snap, pattern, max_terms), k,
        k1=k1, b=b)


def topk_bm25_index_regexp(
    spark: SparkSession,
    index_dir: str,
    pattern: str,
    k: int = DEFAULT_K,
    max_terms: int = 64,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Regexp top-k BM25 (Lucene ``RegexpQuery``, scoring boolean
    rewrite): :func:`expand_regexp` the pattern against the dictionary,
    then the standard multi-term block-max WAND scan over the
    expansion."""
    return _topk_expansion(
        spark, index_dir, ("regexp", str(pattern), int(max_terms)),
        lambda snap: expand_regexp(spark, snap, pattern, max_terms), k,
        k1=k1, b=b)


def topk_bm25_index_fuzzy(
    spark: SparkSession,
    index_dir: str,
    term: str,
    k: int = DEFAULT_K,
    max_edits: int = 2,
    max_terms: int = 64,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Fuzzy top-k BM25 (Lucene ``FuzzyQuery``, scoring boolean rewrite):
    :func:`expand_fuzzy` the term within ``max_edits`` Levenshtein edits,
    then the standard multi-term block-max WAND scan. Every expanded term
    scores with its own idf (the plain boolean rewrite; no edit-distance
    boost — documented divergence from Lucene's similarity ramp, chosen
    so the oracle semantics stay exact)."""
    return _topk_expansion(
        spark, index_dir,
        ("fuzzy", str(term), int(max_edits), int(max_terms)),
        lambda snap: expand_fuzzy(spark, snap, term, max_edits, max_terms),
        k, k1=k1, b=b)


def _topk_expansion(spark, index_dir, key: tuple, expand, k, *, k1,
                    b) -> DataFrame:
    """Shared MultiTermQuery scorer: the expansion ``expand(snap)``,
    memoized in the snapshot under ``key`` (kind, pattern, cap), scored
    with the multi-term WAND scan — N and the dictionary from one
    snapshot. The expansion's dfs also fill the memo of its term set,
    so the scan reads no dictionary; an empty expansion short-circuits
    to an empty result with the stable schema."""
    snap = open_snapshot(spark, index_dir)
    dfs = _memo_meta(snap, key, lambda: expand(snap)).term_df
    if not dfs:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    q = sorted(dfs)
    _memo_meta(snap, frozenset(q), lambda: dfs)
    return topk_bm25_index(spark, snap, q, k, k1=k1, b=b)
