"""Phrase (positional) queries — the Z2 position-payload capability.

The reference stores a position for every posting and compresses the
position arrays separately from the docIDs
(``base/invertedIndex/InvertedIndex.java:27,117`` — FastPFOR+VByte of the
``posis`` array, loaded alongside docIDs at ``:138-148``); its LORS scorer
consumes those positions with a positional band
(``EdgeInvertedIndex.lors:196-233``). The full-text analog is the classic
positional phrase query: doc matches iff the phrase terms occur at
consecutive positions.

Two physical strategies (results identical, both oracle-checked):

* corpus-direct: one Arrow pass over the corpus — tokenize each doc and
  slide the phrase window over its tokens.
* index-backed: decode the phrase terms' positional postings (only their
  partition-pruned buckets), per-segment numpy position-list intersection
  inside ``applyInPandas``; segments are doc-disjoint so the union is the
  answer. The bucket count and, for the scored PhraseQuery, the term
  statistics come from the index snapshot (its per-term-set memo), never
  from an argument.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import BM25_B, BM25_K1
from ..functions.bm25 import idf_py, tf_sat_expr
from .index import decode_blocks, open_snapshot, sorted_isin
from .wand import (
    _TermPostings,
    _per_segment,
    _terms,
    _topk_merge,
    query_term_meta,
)


def phrase_count(df: DataFrame, phrase: list[str], id_col: str = "doc_id",
                 text_col: str = "text", analyzer: str = "ws") -> DataFrame:
    """(doc_id, n_occ) for docs containing the exact token phrase.

    Arrow pass: tokenize + sliding window match per doc in Python (a
    Catalyst ``filter(sequence(...))`` formulation pays per-element
    higher-order-function boxing — measured ~5x slower on the bench
    corpus).
    """
    n = len(phrase)
    if n == 0:
        raise ValueError("empty phrase")

    from collections.abc import Iterator

    from ..functions.tokenizer import tokenize_py

    ph = list(phrase)

    def count_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, occ = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = tokenize_py(text or "", analyzer)
                c = 0
                for i in range(len(toks) - n + 1):
                    if toks[i:i + n] == ph:
                        c += 1
                if c:
                    ids.append(did)
                    occ.append(c)
            yield pd.DataFrame({
                "doc_id": pd.Series(ids, dtype="int64"),
                "n_occ": pd.Series(occ, dtype="int64"),
            })

    return df.select(id_col, text_col).mapInPandas(
        count_batches, schema="doc_id bigint, n_occ bigint"
    )


def count_near_tuples(pos_lists: list[np.ndarray], slop: int) -> int:
    """Ordered proximity count: the number of strictly-increasing position
    tuples (p_0 < p_1 < ... < p_{n-1}), one position per term in query
    order, with the whole window bounded: p_{n-1} - p_0 <= (n-1) + slop.

    slop=0 degenerates to consecutive positions (== exact phrase, pinned
    in tests); the tuple-counting semantics is deliberately simpler than
    Lucene's sloppy-freq edit-distance weighting (SloppyPhraseMatcher) so
    the DuckDB oracle can state it exactly."""
    n = len(pos_lists)
    if n == 1:
        return int(pos_lists[0].size)
    lim_off = n - 1 + int(slop)
    if n == 2:  # vectorized: one window probe per first-term position
        lo = np.searchsorted(pos_lists[1], pos_lists[0], side="right")
        hi = np.searchsorted(pos_lists[1], pos_lists[0] + lim_off,
                             side="right")
        return int((hi - lo).sum())

    def rec(j: int, lo: int, lim: int) -> int:
        arr = pos_lists[j]
        left = int(np.searchsorted(arr, lo, side="right"))
        right = int(np.searchsorted(arr, lim, side="right"))
        if j == n - 1:
            return right - left
        return sum(rec(j + 1, int(q), lim) for q in arr[left:right])

    return sum(rec(1, int(p0), int(p0) + lim_off)
               for p0 in pos_lists[0])


def near_count(df: DataFrame, terms: list[str], slop: int = 0,
               id_col: str = "doc_id", text_col: str = "text",
               analyzer: str = "ws") -> DataFrame:
    """(doc_id, n_occ) for docs matching the ordered proximity query —
    corpus-direct Arrow pass (one tokenize per doc, then
    :func:`count_near_tuples` over the terms' position lists)."""
    if not terms:
        raise ValueError("empty proximity query")

    from collections.abc import Iterator

    from ..functions.tokenizer import tokenize_py

    q = list(terms)

    def count_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, occ = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = tokenize_py(text or "", analyzer)
                pos = {t: [] for t in q}
                for i, tk in enumerate(toks):
                    if tk in pos:
                        pos[tk].append(i)
                if any(not pos[t] for t in q):
                    continue
                c = count_near_tuples(
                    [np.asarray(pos[t], dtype=np.int64) for t in q], slop
                )
                if c:
                    ids.append(did)
                    occ.append(c)
            yield pd.DataFrame({
                "doc_id": pd.Series(ids, dtype="int64"),
                "n_occ": pd.Series(occ, dtype="int64"),
            })

    return df.select(id_col, text_col).mapInPandas(
        count_batches, schema="doc_id bigint, n_occ bigint"
    )


def _phrase_candidates(
    pdf: pd.DataFrame, terms: list[str]
) -> tuple[np.ndarray, list[list[np.ndarray]]] | None:
    """The candidate step both positional kernels share. Each query
    term's positional blocks decode in one pass (:func:`decode_blocks`)
    and sort by doc. Candidates are the docs holding every term; each
    entry of ``terms`` (repeats included) gets its position arrays
    aligned to the candidates. None when no doc can match: a term absent
    from the segment (segments are doc-disjoint, so absence is final) or
    an empty intersection."""
    term_docs: dict[str, np.ndarray] = {}
    term_pos: dict[str, list[np.ndarray]] = {}
    for term, grp in pdf.groupby("term", sort=False):
        d = decode_blocks(grp, ("poss",))
        pos = np.split(d["poss"], np.cumsum(d["tfs"])[:-1])
        order = np.argsort(d["docs"], kind="mergesort")
        term_docs[term] = d["docs"][order]
        term_pos[term] = [pos[i] for i in order.tolist()]
    uniq = list(dict.fromkeys(terms))
    if any(t not in term_docs for t in uniq):
        return None
    cand = term_docs[uniq[0]]
    for t in uniq[1:]:
        cand = cand[np.isin(cand, term_docs[t])]
    if cand.size == 0:
        return None
    return cand, [
        [term_pos[t][i]
         for i in np.searchsorted(term_docs[t], cand).tolist()]
        for t in terms
    ]


# candidate-rank shift for the vectorized position kernels: positions
# are within-doc token offsets, so any doc under 2^24 tokens (16M) packs
# as rank * SHIFT + pos with room for ~2^39 candidate docs per segment.
# Docs at or past that token count fall back to the per-doc kernels.
_NEAR_SHIFT = np.int64(1) << 24
# max in-flight chain entries per expansion chunk (int64 each): 8M
# entries ~ 64 MB of keys+limits — bounds worker memory regardless of
# slop or term hotness
_NEAR_CHUNK = 8_000_000


def _flat_keys(cand_size: int, pos_lists: list[np.ndarray]) -> np.ndarray:
    """Rank-keyed flat position array (sorted ascending: candidate docs
    ascending, positions ascending within each doc)."""
    lens = np.fromiter((p.size for p in pos_lists), dtype=np.int64,
                       count=cand_size)
    ranks = np.repeat(np.arange(cand_size, dtype=np.int64), lens)
    return ranks * _NEAR_SHIFT + np.concatenate(pos_lists).astype(np.int64)


def _near_counts_vectorized(cand: np.ndarray,
                            per_term_pos: list[list[np.ndarray]],
                            lim: int) -> np.ndarray:
    """Per-candidate-doc ordered-tuple counts, fully vectorized: every
    term's positions flatten into one rank-keyed sorted array, chains
    expand level by level with global searchsorted windows (a chain's
    limit key p0+lim never crosses its doc's key range), and the last
    level closes with a window-count instead of an expansion. No Python
    loop over docs or positions — the per-doc recursion took 16 s for a
    two-stopword query over a 1M-doc index and 20 s for three terms;
    this path answers both in well under a second of kernel time. Chain
    count is bounded by |term0 positions| * lim^(n-2)."""
    n = len(per_term_pos)
    if n == 1:  # single-term proximity degenerates to tf
        return np.fromiter((p.size for p in per_term_pos[0]),
                           dtype=np.int64, count=cand.size)
    flats = [_flat_keys(cand.size, pl) for pl in per_term_pos]
    k0 = flats[0]
    out = np.zeros(cand.size, dtype=np.int64)
    # chunk the start positions: intermediate chains multiply by up to
    # lim per level (bounded memory even for huge slop x hot terms;
    # n == 2 never expands, so one chunk covers it)
    chunk = max(1, _NEAR_CHUNK // max(1, lim ** max(0, n - 2)))
    for s in range(0, k0.size, chunk):
        pos = k0[s:s + chunk]
        limit = pos + lim
        alive = True
        for j in range(1, n - 1):
            fj = flats[j]
            lo = np.searchsorted(fj, pos, side="right")
            hi = np.searchsorted(fj, limit, side="right")
            cnt = hi - lo
            total = int(cnt.sum())
            if total == 0:
                alive = False
                break
            offs = np.concatenate(([0], np.cumsum(cnt)[:-1]))
            idx = (np.arange(total, dtype=np.int64)
                   + np.repeat(lo - offs, cnt))
            limit = np.repeat(limit, cnt)
            pos = fj[idx]
        if not alive:
            continue
        fl = flats[-1]
        c = (np.searchsorted(fl, limit, side="right")
             - np.searchsorted(fl, pos, side="right"))
        out += np.bincount(pos // _NEAR_SHIFT, weights=c,
                           minlength=cand.size).astype(np.int64)
    return out


def _phrase_counts_vectorized(cand: np.ndarray,
                              per_term_pos: list[list[np.ndarray]]
                              ) -> np.ndarray:
    """Per-candidate-doc exact-phrase occurrence counts: start keys are
    term0's flat positions; each later term keeps only starts whose
    key+j is a member of that term's flat array (sorted membership via
    searchsorted) — the per-doc start-propagation lifted to all docs at
    once."""
    n = len(per_term_pos)
    flats = [_flat_keys(cand.size, pl) for pl in per_term_pos]
    starts = flats[0]
    for j in range(1, n):
        if starts.size == 0:
            break
        fj = flats[j]
        want = starts + j
        idx = np.searchsorted(fj, want)
        ok = idx < fj.size
        ok[ok] = fj[idx[ok]] == want[ok]
        starts = starts[ok]
    return np.bincount(starts // _NEAR_SHIFT,
                       minlength=cand.size).astype(np.int64)


def _segment_occ(pdf: pd.DataFrame, terms: list[str],
                 slop: int | None = None) -> pd.DataFrame:
    """One segment's positional blocks for the query terms ->
    (doc_id, n_occ): exact-phrase occurrences (``slop`` None) or ordered
    proximity tuples within (n-1)+slop, over the shared candidates.

    Both counters are vectorized over ALL candidate docs at once: the
    exact phrase propagates starts with one sorted membership probe per
    phrase offset (the per-doc loop cost 6 s on a 1M-doc index for a
    two-keyword phrase), proximity expands chains level by level. A doc
    past the 16M-token rank shift falls back to the per-doc tuple
    counter (at slop 0 it counts exactly the phrase occurrences)."""
    got = _phrase_candidates(pdf, terms)
    if got is None:
        return pd.DataFrame(_EMPTY_OCC)
    cand, per_term_pos = got
    width = 0 if slop is None else int(slop)
    lim = len(terms) - 1 + width
    if not _fits_vectorized(per_term_pos, lim):
        n = np.array([count_near_tuples([pl[i] for pl in per_term_pos], width)
                      for i in range(cand.size)], dtype=np.int64)
    elif slop is None:
        n = _phrase_counts_vectorized(cand, per_term_pos)
    else:
        n = _near_counts_vectorized(cand, per_term_pos, lim)
    keep = n > 0
    return pd.DataFrame({"doc_id": cand[keep], "n_occ": n[keep]})


def _fits_vectorized(per_term_pos: list[list[np.ndarray]],
                     lim: int) -> bool:
    """True when every position + lim stays under the rank shift —
    positions are ascending, so only each doc's LAST position needs
    checking."""
    bound = int(_NEAR_SHIFT) - lim - 1
    return all(
        int(p[-1]) <= bound
        for pl in per_term_pos for p in pl if p.size
    )


# positional block columns: docIDs, tfs (position run lengths), positions
_POS_COLS = ("term", "n_docs", "doc_gaps", "tfs", "poss")
_OCC_SCHEMA = "doc_id bigint, n_occ bigint"
_EMPTY_OCC = {"doc_id": pd.Series(dtype="int64"),
              "n_occ": pd.Series(dtype="int64")}


def _positional(spark: SparkSession, index_dir: str):
    """The index's snapshot; raises unless the index stores positions."""
    snap = open_snapshot(spark, index_dir)
    if not snap.with_positions:
        raise ValueError(f"index at {snap.root} has no positions")
    return snap


def _live(r: pd.DataFrame, dead) -> pd.DataFrame:
    """Drop tombstoned docs from a per-segment (doc_id, ...) frame."""
    return r[~sorted_isin(dead, r["doc_id"].to_numpy())]


def _occ_index(spark: SparkSession, index_dir: str, terms: list[str],
               slop: int | None) -> DataFrame:
    """Positional match counts from the index: the shared driver
    prologue (only the queried terms' buckets are read) around the
    per-segment occurrence kernel; doc-disjoint segments union without
    dedup."""
    snap = _positional(spark, index_dir)
    terms = list(terms)
    return _per_segment(
        spark, snap, _terms(terms),
        lambda blk, _meta, dead: _live(_segment_occ(blk, terms, slop), dead),
        _OCC_SCHEMA, cols=_POS_COLS, scored=False)


def near_count_index(spark: SparkSession, index_dir: str,
                     terms: list[str], slop: int = 0) -> DataFrame:
    """Index-backed ordered proximity query over a positional index —
    same bucket+term-pruned scan shape as :func:`phrase_count_index`."""
    if not terms:
        raise ValueError("empty proximity query")
    return _occ_index(spark, index_dir, terms, int(slop))


def phrase_count_index(spark: SparkSession, index_dir: str,
                       phrase: list[str]) -> DataFrame:
    """Index-backed phrase query over a positional index."""
    return _occ_index(spark, index_dir, phrase, None)


def topk_bm25_index_phrase(spark: SparkSession, index_dir: str,
                           phrase: list[str], k: int = 10,
                           k1: float | None = None,
                           b: float | None = None,
                           slop: int | None = None) -> DataFrame:
    """PhraseQuery as a SCORING query (Lucene ``PhraseQuery`` ranking,
    not just the match-count surface): docs containing the exact phrase
    ranked by BM25 with the PHRASE frequency as tf —

        score(d) = [sum over phrase positions of idf(term)] *
                   tf_sat(phrase_occurrences(d), dl_d)

    exactly Lucene's semantics: the Similarity receives every
    constituent term's statistics (duplicates included) and the summed
    idf weights the phrase frequency; the exact-phrase docFreq is never
    computed (collection-expensive, same trade Lucene makes).

    ``slop`` switches the occurrence kernel to the ordered-proximity
    tuple counter (SpanNear window <= (n-1)+slop): the ranking becomes
    the sloppy-phrase analog — same summed-idf weight, tf = proximity
    tuple count. slop=0 counts the same matches as the exact phrase.

    Scale shape: ONE pass — the positional per-segment kernel
    (``_segment_occ``, bucket+term-pruned scan) emits
    (doc_id, n_occ, dl) with dl decoded from the SAME blocks (no
    doc-store join), the summed idf is a driver-side constant from the
    per-query dictionary lookup, scoring is a codegen'd expression over
    match-set-sized rows, and the global merge is one
    TakeOrderedAndProject. The phrase terms' statistics come from the
    snapshot's per-term-set memo (``query_term_meta``), which the
    per-segment scan reads too: one dictionary read at most."""
    k1 = BM25_K1 if k1 is None else float(k1)
    b = BM25_B if b is None else float(b)
    snap = _positional(spark, index_dir)
    phrase = [str(t) for t in phrase]
    if not phrase:
        raise ValueError("empty phrase")
    q = _terms(phrase)
    meta = query_term_meta(spark, snap, q)
    idf_total = float(sum(idf_py(meta.term_df.get(t, 0.0), meta.n_docs)
                          for t in phrase))
    t0 = min(q, key=lambda t: meta.term_df.get(t, 0.0))  # rarest term
    s = None if slop is None else int(slop)

    def kernel(pdf, meta, dead):
        r = _live(_segment_occ(pdf, phrase, s), dead)
        if not len(r):
            return pd.DataFrame({**_EMPTY_OCC, "dl": pd.Series(dtype="int64")})
        # dl for the matched docs from the rarest term's postings (every
        # phrase match contains every term; dl is per-doc) — zero
        # doc-store read
        tp = _TermPostings(pdf[pdf["term"] == t0], meta.avgdl, k1, b)
        pos = np.searchsorted(tp.docs, r["doc_id"].to_numpy())
        return r.assign(dl=tp.dl[pos].astype(np.int64))

    per_seg = _per_segment(
        spark, snap, q, kernel,
        "doc_id bigint, n_occ bigint, dl bigint",
        cols=_POS_COLS + ("max_tf", "min_dl", "dls"))
    return _topk_merge(per_seg.select(
        "doc_id",
        (F.lit(idf_total) * tf_sat_expr(
            F.col("n_occ").cast("double"), F.col("dl").cast("double"),
            meta.avgdl, k1, b)).alias("score"),
    ), k)
