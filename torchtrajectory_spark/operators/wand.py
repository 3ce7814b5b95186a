"""Index-backed top-k BM25: block-max pruned, UB-ordered, early-terminating.

Distributed re-expression of T-Torch's flagship top-k scan
(``base/invertedIndex/EdgeInvertedIndex.findTopK:102-177``):

reference (single JVM)                      -> this engine (Spark)
--------------------------------------------------------------------------
posting probe per query edge  (J1)          -> parquet scan filtered to
                                               query terms + their crc32
                                               buckets (partition pruning)
UB(doc) = sum of matched term weights (A2)  -> per-segment numpy UB
                                               accumulation from block-max
                                               metadata (idf * tf_sat(max_tf,
                                               min_dl))
max-heap by UB, scan desc     (T2)          -> np.argsort UB desc, chunked
bounded top-k min-heap        (T3)          -> running k-th best per chunk
theta early termination       (T4)          -> stop when bestKth >= next
                                               chunk's max UB
restDistance DP abandon       (T5)          -> block-max bound IS the
                                               remaining-score bound
heap pop                      (T7)          -> per-segment top-k ->
                                               TakeOrderedAndProject merge,
                                               (score DESC, doc_id ASC)

The index is doc-sharded into segments; each segment task runs the whole
pruned scan locally over numpy arrays (one ``applyInPandas`` group per
segment), then Spark merges the tiny per-segment top-k lists. At 10^12-file
scale parallelism = number of segments; no stage ever materializes more
than the query terms' postings for one segment.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import BM25_B, BM25_K1, DEFAULT_K
from ..functions import codec
from ..functions.bm25 import idf_py, tf_sat_np
from .index import (
    bucket_of,
    read_doc_stats,
    read_index_config,
    read_postings,
    read_terms,
    tombstone_ids,
)


@dataclass(frozen=True)
class IndexMeta:
    """Global scalars + per-term df, computed once per opened index."""
    n_docs: float
    avgdl: float
    term_df: dict  # term -> df (float)


def _corpus_scalars(spark: SparkSession, index_dir: str) -> tuple[float, float]:
    """(n_docs, avgdl) straight from the manifest rows — no data scan."""
    from .index import read_manifest

    m = read_manifest(spark, index_dir)
    if "sum_dl" in m.columns:
        row = m.agg(F.sum("row_count").alias("n"),
                    F.sum("sum_dl").alias("sdl")).first()
        n = float(row["n"] or 0)
        return n, (float(row["sdl"] or 0) / n if n else 0.0)
    # legacy index without sum_dl: fall back to a doc_stats scan
    ds = read_doc_stats(spark, index_dir)
    row = ds.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl")).first()
    return float(row["n"]), float(row["avgdl"] or 0.0)


def open_index_meta(spark: SparkSession, index_dir: str) -> IndexMeta:
    """Full-dictionary meta: manifest scalars + the precomputed terms
    table (df from block metadata at build time — no payload decode).

    Small-index convenience ONLY (collects the whole dictionary to the
    driver — unbounded in vocabulary size). Query paths use
    ``query_term_meta``, which touches just the query terms' buckets."""
    from .index import read_terms

    n_docs, avgdl = _corpus_scalars(spark, index_dir)
    dfs = (
        read_terms(spark, index_dir)
        .groupBy("term").agg(F.sum("df").alias("df"))
        .collect()
    )
    return IndexMeta(
        n_docs=n_docs,
        avgdl=avgdl,
        # clamped for the same racing-commit reason as query_term_meta
        term_df={r["term"]: min(float(r["df"]), n_docs) for r in dfs},
    )


def query_term_meta(spark: SparkSession, index_dir: str,
                    query_terms: list[str],
                    buckets: int | None = None,
                    scalars: tuple[float, float] | None = None) -> IndexMeta:
    """Per-query variant: df only for the query terms, from the terms
    dictionary with the bucket predicate pushed into the scan.

    ``scalars`` = a cached (n_docs, avgdl) pair (two floats — bounded
    driver state, cacheable per opened index) skips the per-query
    manifest aggregation job.

    df is CLAMPED to n_docs: the manifest scalars and the dictionary are
    two separate reads, so a segment committing between them (streaming
    ingest, in-place add) can hand this reader a df that counts a
    segment its n_docs does not — df > N makes the BM25 idf NEGATIVE
    (ln of < 1) and a match can score <= 0. Under any single consistent
    snapshot df <= N holds and the clamp is a no-op; under racing
    commits it pins the reader to a coherent-statistics view (the full
    fix — a point-in-time segment list pinned across all of a query's
    reads, Lucene's IndexReader contract — is the documented seam)."""
    from .index import read_index_config, read_terms

    n_docs, avgdl = (scalars if scalars is not None
                     else _corpus_scalars(spark, index_dir))
    q = sorted(set(query_terms))
    if buckets is None:
        buckets = int(read_index_config(index_dir)["buckets"])
    bks = sorted({bucket_of(t, buckets) for t in q})
    dfs = (
        read_terms(spark, index_dir)
        .where(F.col("bucket").isin(bks))
        .where(F.col("term").isin(q))
        .groupBy("term").agg(F.sum("df").alias("df"))
        .collect()
    )
    return IndexMeta(n_docs, avgdl,
                     {r["term"]: min(float(r["df"]), n_docs) for r in dfs})


def _q_blocks(spark: SparkSession, index_dir: str, q: list[str],
              buckets: int | None = None) -> DataFrame:
    """Query terms' blocks with bucket predicate for partition pruning."""
    if buckets is None:
        buckets = int(read_index_config(index_dir)["buckets"])
    bks = sorted({bucket_of(t, buckets) for t in q})
    return (
        read_postings(spark, index_dir)
        .where(F.col("bucket").isin(bks))
        .where(F.col("term").isin(q))
    )


class _TermPostings:
    """One query term's postings in a segment, payloads decoded lazily.

    docIDs are decoded eagerly (needed for the UB pass and the candidate
    lookups); tf/dl varint payloads are decoded per BLOCK only when a
    surviving candidate actually touches that block — the true block-max
    WAND behavior (reference T5: blocks the θ-pruned scan never reaches
    are never decompressed).

    Measured caveat: on the synthetic bench corpus the skip rate is ~0%
    because uniform doc lengths + Zipf tf make block maxes nearly equal,
    so θ-termination fires only at the very end of the scan. The laziness
    costs nothing there and pays off exactly when block maxes
    discriminate (real corpora with length/tf spread).
    """

    def __init__(self, grp: pd.DataFrame, idf: float, avgdl: float,
                 k1: float, b: float):
        docs_list = [codec.decode_sorted(g) for g in grp["doc_gaps"]]
        n_blocks = len(docs_list)
        docs = np.concatenate(docs_list)
        blk_rep = np.repeat(np.arange(n_blocks), grp["n_docs"].to_numpy())
        off_rep = np.concatenate(
            [np.arange(d.size, dtype=np.int64) for d in docs_list]
        )
        order = np.argsort(docs, kind="mergesort")
        self.docs = docs[order]
        self._blk = blk_rep[order]
        self._off = off_rep[order]
        self._tf_bufs = [bytes(x) for x in grp["tfs"]]
        self._dl_bufs = [bytes(x) for x in grp["dls"]]
        self._decoded: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self.blocks_decoded = 0
        blk_ub = idf * tf_sat_np(
            grp["max_tf"].to_numpy(dtype=np.float64),
            grp["min_dl"].to_numpy(dtype=np.float64),
            avgdl, k1, b,
        )
        self.member_ub = blk_ub[self._blk]

    def tf_dl_at(self, idx: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(tf, dl) for sorted-posting indices, decoding touched blocks."""
        blks = self._blk[idx]
        offs = self._off[idx]
        tf_out = np.empty(idx.size, dtype=np.float64)
        dl_out = np.empty(idx.size, dtype=np.float64)
        for bid in np.unique(blks):
            dec = self._decoded.get(bid)
            if dec is None:
                dec = (codec.decode_u32s(self._tf_bufs[bid]),
                       codec.decode_u32s(self._dl_bufs[bid]))
                self._decoded[bid] = dec
                self.blocks_decoded += 1
            m = blks == bid
            tf_out[m] = dec[0][offs[m]]
            dl_out[m] = dec[1][offs[m]]
        return tf_out, dl_out


def _build_term_arrays(pdf: pd.DataFrame, idf: dict, avgdl: float,
                       k1: float, b: float) -> dict:
    """Decode one segment's posting groups into ``_TermPostings``, keyed
    by term. Shared by the single-query and batch scorers — in the batch
    path each term is decoded ONCE even when many queries reference it."""
    return {
        term: _TermPostings(grp, idf[term], avgdl, k1, b)
        for term, grp in pdf.groupby("term", sort=True)
    }


_EMPTY_TOPK = {"doc_id": pd.Series(dtype="int64"),
               "score": pd.Series(dtype="float64")}


def _scan_topk(term_arrays: dict, q: list[str], idf: dict, k: int,
               meta: IndexMeta, k1: float, b: float,
               allowed: np.ndarray | None = None,
               blocked: np.ndarray | None = None,
               after: tuple[float, int] | None = None) -> pd.DataFrame:
    """UB-ordered chunked top-k scan over prebuilt term arrays (the
    block-max WAND kernel, factored out so the batch path can reuse one
    set of decoded postings across queries).

    ``blocked`` (sorted doc_ids) = tombstoned docs: dropped from the
    candidate set BEFORE the UB ordering (mask semantics — scores keep
    index-wide statistics until compaction purges the postings).

    ``after`` = (score, doc_id) cursor (Lucene ``searchAfter``): only
    docs STRICTLY after the cursor in (score DESC, doc_id ASC) order may
    enter the heap — deep pagination without deep k. Scored docs are
    gated AFTER scoring (every exact score is already computed for the
    chunk), so UB ordering, theta pruning and block skipping all keep
    working; the heap just never admits page-(<=cursor) rows. One extra
    pruning lever falls out for free: any candidate whose UB is below
    the cursor score can still qualify (score < cursor), so no UB-side
    cut is taken — correctness over cleverness."""
    use = {t: term_arrays[t] for t in q if t in term_arrays}
    if not use:
        return pd.DataFrame(_EMPTY_TOPK)
    cand = np.concatenate([tp.docs for tp in use.values()])
    ubs = np.concatenate([tp.member_ub for tp in use.values()])
    term_arrays = use
    if blocked is not None and blocked.size and cand.size:
        pos_b = np.clip(np.searchsorted(blocked, cand),
                        0, blocked.size - 1)
        live = blocked[pos_b] != cand
        cand, ubs = cand[live], ubs[live]
        if cand.size == 0:
            return pd.DataFrame(_EMPTY_TOPK)
    if allowed is not None:
        pos = np.searchsorted(allowed, cand)
        pos_c = np.clip(pos, 0, max(allowed.size - 1, 0))
        keep = (allowed.size > 0) & (allowed[pos_c] == cand) \
            if allowed.size else np.zeros(cand.size, dtype=bool)
        cand, ubs = cand[keep], ubs[keep]
        if cand.size == 0:
            return pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                                 "score": pd.Series(dtype="float64")})
    # UB(doc) = sum of per-term block-max bounds (reference A2)
    uniq, inv = np.unique(cand, return_inverse=True)
    ub_sum = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(ub_sum, inv, ubs)

    # scan candidates in UB-descending order, chunked; stop when the
    # running k-th best beats the next chunk's best possible UB (T4)
    order = np.argsort(-ub_sum, kind="mergesort")
    sorted_docs = uniq[order]
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
        scores = np.zeros(dchunk.size, dtype=np.float64)
        for term in sorted(term_arrays):
            tp = term_arrays[term]
            pos = np.searchsorted(tp.docs, dchunk)
            pos_c = np.clip(pos, 0, tp.docs.size - 1)
            hit = tp.docs[pos_c] == dchunk
            hit_idx = pos_c[hit]
            if hit_idx.size:
                tfs, dls = tp.tf_dl_at(hit_idx)
                contrib = idf[term] * tf_sat_np(tfs, dls, meta.avgdl, k1, b)
                scores[hit] += contrib
        if after is not None:
            a_s, a_d = float(after[0]), int(after[1])
            ok = (scores < a_s) | ((scores == a_s) & (dchunk > a_d))
            dchunk, scores = dchunk[ok], scores[ok]
        topk_docs = np.concatenate([topk_docs, dchunk])
        topk_scores = np.concatenate([topk_scores, scores])
        # keep only current top-k (score DESC, doc ASC)
        sel = np.lexsort((topk_docs, -topk_scores))[:k]
        topk_docs, topk_scores = topk_docs[sel], topk_scores[sel]
        if topk_docs.size >= k:
            best_kth = topk_scores[-1]
    return pd.DataFrame({"doc_id": topk_docs, "score": topk_scores})


def _segment_topk(pdf: pd.DataFrame, q: list[str], k: int, meta: IndexMeta,
                  k1: float, b: float,
                  allowed: np.ndarray | None = None,
                  blocked: np.ndarray | None = None,
                  after: tuple[float, int] | None = None,
                  boosts: dict | None = None) -> pd.DataFrame:
    """Exact top-k for one segment: UB-ordered chunked scan, early stop,
    per-block lazy payload decode.

    ``allowed`` (sorted doc_ids) restricts heap MEMBERSHIP to a
    predicate-selected doc set while scores keep index-wide statistics —
    the F2-in-the-loop semantics (``EdgeInvertedIndex.java:155``).
    Filtering candidates BEFORE the UB-ordered scan keeps theta-pruning
    and block-skipping fully effective under the predicate.

    ``boosts`` (term -> weight, Lucene BoostQuery): the boost scales the
    term's idf BEFORE the block bounds are built, so member_ub, theta
    pruning and the exact scores all see the same boosted weight —
    pruning stays exact under any positive boost."""
    idf = {t: idf_py(meta.term_df.get(t, 0.0), meta.n_docs) for t in q}
    if boosts:
        idf = {t: v * float(boosts.get(t, 1.0)) for t, v in idf.items()}
    term_arrays = _build_term_arrays(pdf, idf, meta.avgdl, k1, b)
    return _scan_topk(term_arrays, q, idf, k, meta, k1, b,
                      allowed=allowed, blocked=blocked, after=after)


def _segment_scores_all(pdf: pd.DataFrame, q: list[str], meta: IndexMeta,
                        k1: float, b: float,
                        blocked: np.ndarray | None = None) -> pd.DataFrame:
    """BM25 score for EVERY live document in one segment matching any
    query term — no top-k pruning. The exact-scoring base of operators
    whose output is not a global top-k heap (grouping/collapse), where a
    doc outside the global top-k can still be its group's best. Cost is
    bounded by the query terms' posting sizes (the boolean-OR cost
    class); the block-max UB machinery is deliberately unused — every
    match must be scored for its group to compete."""
    idf = {t: idf_py(meta.term_df.get(t, 0.0), meta.n_docs) for t in q}
    term_arrays = _build_term_arrays(pdf, idf, meta.avgdl, k1, b)
    use = {t: term_arrays[t] for t in q if t in term_arrays}
    if not use:
        return pd.DataFrame(_EMPTY_TOPK)
    docs = np.unique(np.concatenate([tp.docs for tp in use.values()]))
    if blocked is not None and blocked.size and docs.size:
        from .index import sorted_isin

        docs = docs[~sorted_isin(blocked, docs)]
    if docs.size == 0:
        return pd.DataFrame(_EMPTY_TOPK)
    scores = np.zeros(docs.size, dtype=np.float64)
    for term in sorted(use):
        tp = use[term]
        pos = np.clip(np.searchsorted(tp.docs, docs), 0,
                      tp.docs.size - 1)
        hit = tp.docs[pos] == docs
        hit_idx = pos[hit]
        if hit_idx.size:
            tfs, dls = tp.tf_dl_at(hit_idx)
            scores[hit] += idf[term] * tf_sat_np(tfs, dls, meta.avgdl,
                                                 k1, b)
    return pd.DataFrame({"doc_id": docs, "score": scores})


def _segment_topk_many(pdf: pd.DataFrame, queries: list[tuple[str, list[str]]],
                       k: int, meta: IndexMeta,
                       k1: float, b: float,
                       allowed: np.ndarray | None = None,
                       blocked: np.ndarray | None = None,
                       afters: dict | None = None) -> pd.DataFrame:
    """Batch variant: ONE postings decode per term, then the same
    block-max WAND scan per query over the shared arrays. Output carries
    ``query_id``; each query's rows are exactly what ``_segment_topk``
    would return for it (asserted by the batch rank-identity test).
    ``allowed`` restricts heap membership for EVERY query in the set
    (F2-in-the-loop, same semantics as the single-query filtered path).
    ``afters`` maps query_id -> (score, doc_id) cursor for the queries
    being paginated (searchAfter per batch member; absent = page 1)."""
    all_terms = sorted({t for _, q in queries for t in q})
    idf = {t: idf_py(meta.term_df.get(t, 0.0), meta.n_docs)
           for t in all_terms}
    term_arrays = _build_term_arrays(pdf, idf, meta.avgdl, k1, b)
    outs = []
    for qid, q in queries:
        r = _scan_topk(term_arrays, q, idf, k, meta, k1, b,
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
    meta: IndexMeta | None = None,
    buckets: int | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
    scalars: tuple[float, float] | None = None,
    after: tuple[float, int] | None = None,
    boosts: dict | None = None,
) -> DataFrame:
    """Top-k BM25 from the compressed index. Returns (doc_id, score).

    ``after`` = (score, doc_id) cursor for deep pagination (Lucene
    ``searchAfter``): returns the top-k of the docs ranking STRICTLY
    after the cursor under (score DESC, doc_id ASC). Per-segment cost is
    the same pruned scan as page one — never a k*page heap.

    ``boosts`` = term -> positive weight (Lucene ``BoostQuery``): scales
    each term's idf; block bounds scale with it, so pruning stays exact."""
    q = sorted(set(str(t) for t in query_terms))
    if boosts is not None:
        bad = {t: w for t, w in boosts.items() if not float(w) > 0}
        if bad:
            raise ValueError(f"topk_bm25_index: boosts must be > 0: {bad}")
    if meta is None:
        meta = query_term_meta(spark, index_dir, q, buckets, scalars)
    # column-prune before the Arrow transfer: the scorer needs only the
    # block payloads + bound metadata, not salt/block_id/first/last/bucket
    # (ReadSchema shrinks accordingly — checked in EXPLAIN.md)
    blocks = _q_blocks(spark, index_dir, q, buckets).select(
        "segment", "term", "n_docs", "max_tf", "min_dl",
        "doc_gaps", "tfs", "dls",
    )

    dead = tombstone_ids(index_dir)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        return _segment_topk(
            pdf.drop(columns=["segment"]), q, k, meta, k1, b, blocked=dead,
            after=after, boosts=boosts,
        )

    per_seg = blocks.groupBy("segment").applyInPandas(
        lambda key_pdf: run(key_pdf),
        schema="doc_id bigint, score double",
    )
    return (
        per_seg.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def scores_bm25_index_all(
    spark: SparkSession,
    index_dir: str,
    query_terms: list[str],
    buckets: int | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
    scalars: tuple[float, float] | None = None,
    meta: IndexMeta | None = None,
) -> DataFrame:
    """(doc_id, score) for EVERY live document matching any query term —
    the exact-scoring scan with no top-k heap (see
    :func:`_segment_scores_all`). The building block of operators that
    combine scores ACROSS indexes (multi-field search), where a doc
    outside one index's top-k can still win the combined ranking. Cost
    is bounded by the query terms' posting sizes in THIS index."""
    q = sorted(set(str(t) for t in query_terms))
    if meta is None:
        meta = query_term_meta(spark, index_dir, q, buckets, scalars)
    blocks = _q_blocks(spark, index_dir, q, buckets).select(
        "segment", "term", "n_docs", "max_tf", "min_dl",
        "doc_gaps", "tfs", "dls",
    )
    dead = tombstone_ids(index_dir)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        return _segment_scores_all(
            pdf.drop(columns=["segment"]), q, meta, k1, b, blocked=dead
        )

    return blocks.groupBy("segment").applyInPandas(
        lambda key_pdf: run(key_pdf),
        schema="doc_id bigint, score double",
    )


def topk_bm25_index_many(
    spark: SparkSession,
    index_dir: str,
    queries: dict[str, list[str]],
    k: int = DEFAULT_K,
    buckets: int | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
    scalars: tuple[float, float] | None = None,
    meta: IndexMeta | None = None,
    predicate=None,
    afters: dict | None = None,
) -> DataFrame:
    """Batch top-k BM25: score a whole query SET in one pass.

    Returns (query_id, doc_id, score), each query's rows rank- and
    score-identical to ``topk_bm25_index`` run alone (tested). The win
    over a per-query loop is structural, not incidental:

    * ONE postings scan covers the union of all queries' terms
      (bucket+term pushed filters, one job instead of one per query);
    * ONE term-meta lookup job for all terms;
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

    ``afters`` maps query_id -> (score, doc_id) cursor: per-query
    searchAfter pagination inside the batch — mixed page-1 and page-N
    members share the one scan and the one decode, each at its own
    page-one cost. Its keys are coerced with ``str`` like the query ids;
    a key that names no query raises ``ValueError``.
    """
    qmap = [(str(qid), sorted(set(str(t) for t in terms)))
            for qid, terms in sorted(queries.items())]
    if afters:
        afters = {str(qid): cur for qid, cur in afters.items()}
        unknown = sorted(set(afters) - {qid for qid, _ in qmap})
        if unknown:
            raise ValueError(
                f"topk_bm25_index_many: afters keys {unknown} are not "
                "query ids")
    all_terms = sorted({t for _, q in qmap for t in q})
    if meta is None:
        meta = query_term_meta(spark, index_dir, all_terms, buckets, scalars)
    blocks = _q_blocks(spark, index_dir, all_terms, buckets).select(
        "segment", "term", "n_docs", "max_tf", "min_dl",
        "doc_gaps", "tfs", "dls",
    )

    out_schema = "query_id string, doc_id bigint, score double"
    dead = tombstone_ids(index_dir)
    if predicate is not None:
        # F2-in-the-loop for the whole set: the allowed-doc set cogroups
        # per segment into the same shared-decode scorer; scores keep
        # index-wide statistics (identical semantics to the single-query
        # filtered path, shared-decode identical to the unfiltered batch)
        from .index import read_doc_stats

        allowed_df = (
            read_doc_stats(spark, index_dir)
            .where(predicate)
            .select("segment", "doc_id")
        )

        def run_filtered(blk: pd.DataFrame, alw: pd.DataFrame) -> pd.DataFrame:
            ids = np.sort(alw["doc_id"].to_numpy(dtype=np.int64))
            return _segment_topk_many(
                blk.drop(columns=["segment"]), qmap, k, meta, k1, b,
                allowed=ids, blocked=dead, afters=afters,
            )

        per_seg = blocks.groupBy("segment").cogroup(
            allowed_df.groupBy("segment")
        ).applyInPandas(run_filtered, schema=out_schema)
    else:
        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            return _segment_topk_many(
                pdf.drop(columns=["segment"]), qmap, k, meta, k1, b,
                blocked=dead, afters=afters,
            )

        per_seg = blocks.groupBy("segment").applyInPandas(
            lambda key_pdf: run(key_pdf), schema=out_schema
        )
    # per-query merge of the tiny per-segment lists: Q x segments x k
    # rows through one window — the same (score DESC, doc_id ASC)
    # tie-break as the single-query TakeOrderedAndProject
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        per_seg.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k).drop("rn")
    )


def topk_bm25_index_filtered(
    spark: SparkSession,
    index_dir: str,
    query_terms: list[str],
    k: int,
    predicate,
    buckets: int | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
    meta: IndexMeta | None = None,
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """Index-backed top-k with a metadata predicate on the candidates.

    F2-in-the-loop semantics (``EdgeInvertedIndex.java:155``): scores use
    index-wide statistics; ``predicate`` (a Column over doc_stats' metadata
    columns, e.g. ``F.col("lang").isin("en")``) restricts heap membership.
    The allowed-doc set is COGROUPED per segment into the same block-max
    WAND scorer as the unfiltered path, so theta-pruning and lazy block
    decode stay effective under the predicate (the round-1 formulation
    fell back to a full groupBy-sum over the query terms' postings with
    no UB pruning at all). The predicate itself is pushed into the
    doc_stats parquet scan; postings scans stay bucket+term pruned.
    ``after`` composes: the (score, doc_id) cursor gates heap admission
    AFTER the allowed-set filter, so filtered rankings paginate at
    page-one cost too (Lucene searchAfter with a filter clause).
    """
    from .index import read_doc_stats

    q = sorted(set(str(t) for t in query_terms))
    if meta is None:
        meta = query_term_meta(spark, index_dir, q, buckets)

    allowed = (
        read_doc_stats(spark, index_dir)
        .where(predicate)
        .select("segment", "doc_id")
    )
    blocks = _q_blocks(spark, index_dir, q, buckets).select(
        "segment", "term", "n_docs", "max_tf", "min_dl",
        "doc_gaps", "tfs", "dls",
    )

    dead = tombstone_ids(index_dir)

    def run(blk: pd.DataFrame, alw: pd.DataFrame) -> pd.DataFrame:
        ids = np.sort(alw["doc_id"].to_numpy(dtype=np.int64))
        return _segment_topk(
            blk.drop(columns=["segment"]), q, k, meta, k1, b,
            allowed=ids, blocked=dead, after=after,
        )

    per_seg = blocks.groupBy("segment").cogroup(
        allowed.groupBy("segment")
    ).applyInPandas(run, schema="doc_id bigint, score double")
    return (
        per_seg.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def topk_bm25_index_boolean(
    spark: SparkSession,
    index_dir: str,
    should: list[str],
    k: int = DEFAULT_K,
    must: list[str] | tuple = (),
    must_not: list[str] | tuple = (),
    buckets: int | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
    meta: IndexMeta | None = None,
) -> DataFrame:
    """Lucene ``BooleanQuery`` analog: ``should`` terms score (BM25 sum,
    index-wide statistics), ``must`` terms are non-scoring filter clauses
    (doc must contain ALL), ``must_not`` excludes docs containing ANY.
    ``should`` must be non-empty — a pure-filter query is
    ``bool_and_index_blocks``' job, not a ranking.

    ONE bucket+term-pruned postings scan covers the union of all three
    clause sets and ONE per-segment kernel resolves them: the must /
    must_not terms' docID streams decode into an allowed set
    (intersection) and an extra blocked set (union, merged with the
    tombstones), then the standard block-max WAND scan runs over the
    should blocks with heap membership restricted — theta-pruning and
    lazy payload decode stay fully effective under the clauses (same
    shape as the metadata-filtered path, without the doc_stats cogroup).
    """
    sq = sorted({str(t) for t in should})
    if not sq:
        raise ValueError("boolean top-k requires at least one should term")
    sm = sorted({str(t) for t in must})
    sn = sorted({str(t) for t in must_not})
    if meta is None:
        meta = query_term_meta(spark, index_dir, sq, buckets)
    all_terms = sorted(set(sq) | set(sm) | set(sn))
    blocks = _q_blocks(spark, index_dir, all_terms, buckets).select(
        "segment", "term", "n_docs", "max_tf", "min_dl",
        "doc_gaps", "tfs", "dls",
    )
    dead = tombstone_ids(index_dir)
    n_must = len(sm)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        from .boolean import decode_match_docs

        empty = pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                              "score": pd.Series(dtype="float64")})
        allowed = None
        if sm:
            allowed = decode_match_docs(
                pdf[pdf["term"].isin(sm)], "and", n_must
            )
            if allowed is None or allowed.size == 0:
                return empty  # a must term absent / nothing matches all
        blocked = dead
        neg = pdf[pdf["term"].isin(sn)]
        if len(neg):
            banned = decode_match_docs(neg, "or", len(sn))
            if banned is not None:
                blocked = (banned if blocked is None
                           else np.union1d(blocked, banned))
        return _segment_topk(
            pdf[pdf["term"].isin(sq)].drop(columns=["segment"]),
            sq, k, meta, k1, b, allowed=allowed, blocked=blocked,
        )

    per_seg = blocks.groupBy("segment").applyInPandas(
        run, schema="doc_id bigint, score double"
    )
    return (
        per_seg.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def explain_score(spark: SparkSession, index_dir: str, terms: list[str],
                  doc_id: int,
                  buckets: int | None = None,
                  k1: float = BM25_K1, b: float = BM25_B,
                  meta: IndexMeta | None = None) -> DataFrame:
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
    from ..functions.bm25 import idf_py, tf_sat_expr
    from .index import postings_flat, read_doc_stats

    q = sorted(set(str(t) for t in terms))
    if meta is None:
        meta = query_term_meta(spark, index_dir, q, buckets=buckets)
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
        read_doc_stats(spark, index_dir)
        .where(F.col("doc_id") == int(doc_id))
        .select("segment").first()
    )
    return (
        postings_flat(spark, index_dir, terms=known, buckets=buckets,
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
    analog, ``_write_terms``) route through it instead: the prefix
    becomes a [prefix, succ(prefix)) range over term-range-partitioned
    files, so file/row-group min-max statistics reduce the read to O(1)
    of the vocabulary. Pre-feature indexes (``read_terms_sorted`` →
    ``None``) fall back to the bucketed scan — identical results, only
    the pruning differs."""
    from .index import read_terms_sorted

    prefix = str(prefix)
    srt = read_terms_sorted(spark, index_dir)
    if srt is not None and prefix:
        return _expand_from(srt, _prefix_range_pred(prefix), max_terms)
    return _expand_terms(spark, index_dir,
                         F.col("term").startswith(prefix), max_terms)


def _expand_terms(spark: SparkSession, index_dir: str, pred,
                  max_terms: int) -> dict[str, float]:
    """Dictionary expansion over the PRIMARY (crc32-bucketed) terms
    table — the path for predicates with no literal prefix to range on
    (fuzzy, leading wildcard) and for pre-``terms_sorted`` indexes."""
    return _expand_from(read_terms(spark, index_dir), pred, max_terms)


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
    from .index import read_terms, read_terms_sorted

    prefix = str(prefix)
    srt = read_terms_sorted(spark, index_dir)
    if srt is not None and prefix:
        src, pred = srt, _prefix_range_pred(prefix)
    else:
        src, pred = (read_terms(spark, index_dir),
                     F.col("term").startswith(prefix))
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
    from .index import read_terms_sorted

    pred = F.col("term").rlike(wildcard_regex(str(pattern)))
    lit = re.split(r"[*?]", str(pattern), maxsplit=1)[0]
    if lit:
        srt = read_terms_sorted(spark, index_dir)
        if srt is not None:
            return _expand_from(srt, _prefix_range_pred(lit) & pred,
                                max_terms)
        pred = F.col("term").startswith(lit) & pred
    return _expand_terms(spark, index_dir, pred, max_terms)


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
    return _expand_terms(spark, index_dir, pred, max_terms)


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
    from .index import read_terms_sorted

    pred = F.col("term").rlike("^(?:" + str(pattern) + ")$")
    lit = regexp_literal_prefix(pattern)
    if lit:
        srt = read_terms_sorted(spark, index_dir)
        if srt is not None:
            return _expand_from(srt, _prefix_range_pred(lit) & pred,
                                max_terms)
        pred = F.col("term").startswith(lit) & pred
    return _expand_terms(spark, index_dir, pred, max_terms)


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
        read_terms(spark, index_dir)
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
    buckets: int | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
    scalars: tuple[float, float] | None = None,
    meta: IndexMeta | None = None,
) -> DataFrame:
    """Prefix top-k BM25 (Lucene ``PrefixQuery`` with the scoring boolean
    rewrite): expand ``prefix`` against the term dictionary, then run the
    standard multi-term block-max WAND scan over the expansion — each
    matched term scores with its own idf, per-doc scores sum. The
    expansion's df values double as the term meta, so no second
    dictionary lookup happens."""
    return _topk_expansion(
        spark, index_dir,
        lambda: expand_prefix(spark, index_dir, prefix, max_terms),
        k, buckets=buckets, k1=k1, b=b, scalars=scalars, meta=meta,
    )


def topk_bm25_index_wildcard(
    spark: SparkSession,
    index_dir: str,
    pattern: str,
    k: int = DEFAULT_K,
    max_terms: int = 64,
    buckets: int | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
    scalars: tuple[float, float] | None = None,
    meta: IndexMeta | None = None,
) -> DataFrame:
    """Wildcard top-k BM25 (Lucene ``WildcardQuery``, scoring boolean
    rewrite): :func:`expand_wildcard` the pattern, then the standard
    multi-term block-max WAND scan over the expansion."""
    return _topk_expansion(
        spark, index_dir,
        lambda: expand_wildcard(spark, index_dir, pattern, max_terms),
        k, buckets=buckets, k1=k1, b=b, scalars=scalars, meta=meta,
    )


def topk_bm25_index_regexp(
    spark: SparkSession,
    index_dir: str,
    pattern: str,
    k: int = DEFAULT_K,
    max_terms: int = 64,
    buckets: int | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
    scalars: tuple[float, float] | None = None,
    meta: IndexMeta | None = None,
) -> DataFrame:
    """Regexp top-k BM25 (Lucene ``RegexpQuery``, scoring boolean
    rewrite): :func:`expand_regexp` the pattern against the dictionary,
    then the standard multi-term block-max WAND scan over the
    expansion."""
    return _topk_expansion(
        spark, index_dir,
        lambda: expand_regexp(spark, index_dir, pattern, max_terms),
        k, buckets=buckets, k1=k1, b=b, scalars=scalars, meta=meta,
    )


def topk_bm25_index_fuzzy(
    spark: SparkSession,
    index_dir: str,
    term: str,
    k: int = DEFAULT_K,
    max_edits: int = 2,
    max_terms: int = 64,
    buckets: int | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
    scalars: tuple[float, float] | None = None,
    meta: IndexMeta | None = None,
) -> DataFrame:
    """Fuzzy top-k BM25 (Lucene ``FuzzyQuery``, scoring boolean rewrite):
    :func:`expand_fuzzy` the term within ``max_edits`` Levenshtein edits,
    then the standard multi-term block-max WAND scan. Every expanded term
    scores with its own idf (the plain boolean rewrite; no edit-distance
    boost — documented divergence from Lucene's similarity ramp, chosen
    so the oracle semantics stay exact)."""
    return _topk_expansion(
        spark, index_dir,
        lambda: expand_fuzzy(spark, index_dir, term, max_edits, max_terms),
        k, buckets=buckets, k1=k1, b=b, scalars=scalars, meta=meta,
    )


def _topk_expansion(spark, index_dir, dfs_factory, k, *, buckets, k1, b,
                    scalars, meta) -> DataFrame:
    """Shared MultiTermQuery scorer: resolve the expansion (or accept a
    memoized ``meta``), then run the multi-term WAND scan; an empty
    expansion short-circuits to an empty result with the stable schema."""
    if meta is None:
        dfs = dfs_factory()
        if not dfs:
            return spark.createDataFrame([], "doc_id bigint, score double")
        n_docs, avgdl = (scalars if scalars is not None
                         else _corpus_scalars(spark, index_dir))
        meta = IndexMeta(n_docs, avgdl, dfs)
    elif not meta.term_df:
        return spark.createDataFrame([], "doc_id bigint, score double")
    return topk_bm25_index(
        spark, index_dir, sorted(meta.term_df), k,
        meta=meta, buckets=buckets, k1=k1, b=b,
    )
