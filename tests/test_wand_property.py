"""Property-based check of the per-segment BM25 primitive (no Spark session).

Random corpora -> real codec-encoded block frames -> ``_segment_scores``
must equal brute-force BM25 exactly (same summation order => bit-identical
floats), for any k, any block split, any allowed-set restriction, any
blocked (tombstone) set, under each candidate rule — the UB-pruned theta
scan, all live matches, at least m clauses matched — and for plain terms
as well as synonym groups (member tf summed under the blended idf).
This is the kernel under the flagship `topk_bm25_indexed` path
(reference semantics: ``EdgeInvertedIndex.findTopK:102-177``); the
Spark-level rank-identity tests in test_index.py pin the distributed
plumbing, this pins the scan math itself across the input space.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from torchtrajectory_spark.config import BM25_B, BM25_K1
from torchtrajectory_spark.functions import codec
from torchtrajectory_spark.functions.bm25 import idf_py, tf_sat_np
from torchtrajectory_spark.operators.wand import (
    IndexMeta,
    _build_term_arrays,
    _clauses,
    _segment_scores,
    _segment_topk,
    _segment_topk_many,
)

TERMS = ["t0", "t1", "t2"]


def _doc_subset(draw, n):
    ids = draw(st.lists(st.integers(min_value=0, max_value=n - 1),
                        unique=True, max_size=n))
    return np.sort(np.array(ids, dtype=np.int64))


@st.composite
def corpora(draw):
    """(dl per doc, {term: {doc: tf}}, block_size, k, allowed or None,
    blocked or None, query, min_match, all_matches). ``query`` is the
    plain sorted terms or a list of synonym groups (sorted member lists;
    a one-member group is a plain term)."""
    n = draw(st.integers(min_value=1, max_value=40))
    dls = draw(st.lists(st.integers(min_value=1, max_value=200),
                        min_size=n, max_size=n))
    postings = {}
    for t in TERMS:
        members = draw(st.lists(st.integers(min_value=0, max_value=n - 1),
                                unique=True, max_size=n))
        postings[t] = {d: draw(st.integers(min_value=1, max_value=30))
                       for d in members}
    block_size = draw(st.integers(min_value=1, max_value=7))
    k = draw(st.integers(min_value=1, max_value=12))
    allowed = _doc_subset(draw, n) if draw(st.booleans()) else None
    blocked = _doc_subset(draw, n) if draw(st.booleans()) else None
    if draw(st.booleans()):
        query = list(TERMS)
    else:
        query = [sorted(g) for g in draw(st.lists(
            st.sets(st.sampled_from(TERMS), min_size=1, max_size=3),
            min_size=1, max_size=3))]
    min_match = draw(st.integers(min_value=1, max_value=3))
    all_matches = draw(st.booleans())
    return (dls, postings, block_size, k, allowed, blocked, query,
            min_match, all_matches)


def _block_frame(postings: dict, dls: list, block_size: int) -> pd.DataFrame:
    """Encode postings into the index's block schema with the REAL codec
    (delta+varint doc ids, varint tf/dl payloads, per-block bound
    metadata) — the same bytes ``_TermPostings`` decodes in production."""
    rows = []
    for t, tfmap in postings.items():
        docs = np.array(sorted(tfmap), dtype=np.int64)
        if docs.size == 0:
            continue
        tfs = np.array([tfmap[d] for d in docs], dtype=np.int64)
        ds = np.array([dls[d] for d in docs], dtype=np.int64)
        for s in range(0, docs.size, block_size):
            bd, bt, bl = (docs[s:s + block_size], tfs[s:s + block_size],
                          ds[s:s + block_size])
            rows.append({
                "term": t, "n_docs": int(bd.size),
                "max_tf": int(bt.max()), "min_dl": int(bl.min()),
                "doc_gaps": codec.encode_sorted(bd),
                "tfs": codec.encode_u32s(bt),
                "dls": codec.encode_u32s(bl),
            })
    return pd.DataFrame(rows)


def _meta(postings: dict, dls: list) -> IndexMeta:
    return IndexMeta(float(len(dls)), float(np.mean(dls)),
                     {t: float(len(m)) for t, m in postings.items()})


@settings(max_examples=120, deadline=None)
@given(corpora())
def test_scan_topk_equals_brute_force(case):
    (dls, postings, block_size, k, allowed, blocked, query, min_match,
     all_matches) = case
    pdf = _block_frame(postings, dls, block_size)
    meta = _meta(postings, dls)
    avgdl = meta.avgdl
    clauses = _clauses(query, meta)
    rule_k = None if all_matches else k

    if pdf.empty:
        got = pd.DataFrame({"doc_id": [], "score": []})
    else:
        got = _segment_scores(
            _build_term_arrays(pdf, avgdl, BM25_K1, BM25_B), clauses,
            rule_k, avgdl, BM25_K1, BM25_B, min_match=min_match,
            allowed=allowed, blocked=blocked)

    # brute force in the SAME clause order with identical numpy
    # arithmetic (member tf summed per clause, then weight * tf_sat)
    # => scores must match bit-for-bit
    scores: dict[int, float] = {}
    n_hit: dict[int, int] = {}
    for c in query:
        members = [c] if isinstance(c, str) else c
        w = idf_py(max(meta.term_df[t] for t in members), meta.n_docs)
        tf: dict[int, float] = {}
        for t in members:
            for d, x in postings[t].items():
                tf[d] = tf.get(d, 0.0) + float(x)
        for d, x in tf.items():
            c_d = w * float(tf_sat_np(np.float64(x), np.float64(dls[d]),
                                      avgdl, BM25_K1, BM25_B))
            scores[d] = scores.get(d, 0.0) + c_d
            n_hit[d] = n_hit.get(d, 0) + 1
    live = {
        d: s for d, s in scores.items()
        if n_hit[d] >= min_match
        and (allowed is None or d in set(allowed.tolist()))
        and (blocked is None or d not in set(blocked.tolist()))
    }
    if all_matches:
        exp = sorted(live.items())
    else:
        exp = sorted(live.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    assert list(got["doc_id"]) == [d for d, _ in exp]
    assert list(got["score"]) == [s for _, s in exp]


@settings(max_examples=30, deadline=None)
@given(corpora())
def test_block_max_is_valid_upper_bound(case):
    """The one-pass decode returns every posting's exact (doc, tf, dl),
    and every posting's member bound (tf_sat(block max_tf, block
    min_dl)) dominates its true tf_sat — the invariant that makes theta
    pruning safe (T4/T5) under any positive clause weight."""
    dls, postings, block_size = case[:3]
    pdf = _block_frame(postings, dls, block_size)
    if pdf.empty:
        return
    avgdl = float(np.mean(dls))
    arrays = _build_term_arrays(pdf, avgdl, BM25_K1, BM25_B)
    for t, tp in arrays.items():
        assert list(tp.docs) == sorted(postings[t])
        assert list(tp.tf) == [postings[t][d] for d in tp.docs]
        assert list(tp.dl) == [dls[d] for d in tp.docs]
        true = tf_sat_np(tp.tf, tp.dl, avgdl, BM25_K1, BM25_B)
        assert np.all(tp.member_ub >= true - 1e-12)


@settings(max_examples=30, deadline=None)
@given(corpora())
def test_segment_topk_many_equals_per_query_scans(case):
    """The shared-decode batch scorer must emit, per query, exactly the
    single-query scan's rows — for random corpora, block splits, k, and
    allowed / blocked sets applied to the whole set."""
    dls, postings, block_size, k, allowed, blocked = case[:6]
    pdf = _block_frame(postings, dls, block_size)
    if pdf.empty:
        return
    meta = _meta(postings, dls)
    queries = [("a", ["t0", "t1"]), ("b", ["t2"]), ("c", list(TERMS)),
               ("d", ["zzz_absent"])]
    batch = _segment_topk_many(pdf, queries, k, meta, BM25_K1, BM25_B,
                               allowed=allowed, blocked=blocked)
    for qid, q in queries:
        single = _segment_topk(pdf, q, k, meta, BM25_K1, BM25_B,
                               allowed=allowed, blocked=blocked)
        part = batch[batch["query_id"] == qid]
        assert list(part["doc_id"]) == list(single["doc_id"])
        assert list(part["score"]) == list(single["score"])
