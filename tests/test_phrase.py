"""Positional payload (Z2 analog) + phrase query correctness.

Mirrors the reference's positions-compression roundtrip pattern
(``InvertedIndexTest.java:90-147``) for the block encoder's position
payload and ``decode_blocks``, then checks both phrase strategies
against a brute-force Python phrase matcher.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from torchtrajectory_spark.operators.index import (
    SEG_COL,
    _build_blocks,
    decode_blocks,
)


@given(
    st.lists(
        st.lists(st.integers(0, 10_000), min_size=1, max_size=30).map(sorted),
        min_size=0,
        max_size=20,
    )
)
@settings(max_examples=60, deadline=None)
def test_positions_roundtrip(pos_lists):
    """One term's postings (doc i holds ``pos_lists[i]``) through the
    block encoder with a flat position stream, rows given in reverse doc
    order so the encoder's sort must carry the stream along, cut into
    several blocks, then ``decode_blocks``: docs, tfs and positions come
    back in doc order."""
    arrays = [np.asarray(p, dtype=np.int64) for p in pos_lists]
    n = len(arrays)
    tfs = np.array([len(p) for p in arrays], dtype=np.int64)
    rows = pd.DataFrame({
        SEG_COL: np.zeros(n, dtype=np.int64), "bucket": 0, "term": "t",
        "salt": 0, "doc_id": np.arange(n, dtype=np.int64) * 3,
        "tf": tfs, "dl": tfs + 1,
    })
    flat = (np.concatenate(arrays) if arrays
            else np.empty(0, dtype=np.int64))
    rev = (np.concatenate(arrays[::-1]) if arrays
           else np.empty(0, dtype=np.int64))
    blocks = _build_blocks(rows.iloc[::-1], 4, with_positions=True,
                           flat_positions=rev)
    assert len(blocks) == -(-n // 4)
    d = decode_blocks(blocks, ("poss",))
    assert np.array_equal(d["docs"], rows["doc_id"].to_numpy())
    assert np.array_equal(d["tfs"], tfs)
    assert np.array_equal(d["poss"], flat)


def brute_phrase(tokens: list[str], phrase: list[str]) -> int:
    n = len(phrase)
    return sum(
        1
        for i in range(len(tokens) - n + 1)
        if tokens[i:i + n] == phrase
    )


@pytest.fixture(scope="module")
def pos_index(spark, tmp_path_factory):
    from torchtrajectory_spark.operators.index import build_index
    from torchtrajectory_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path_factory.mktemp("posidx"))
    docs = load_table(spark, sf, "documents")
    build_index(spark, docs, out, id_col="doc_id", text_col="text",
                analyzer="ws", n_segments=2, buckets=8, with_positions=True,
                resume=False)
    return sf, out


@pytest.mark.parametrize("phrase", [["table", "hash"],
                                    ["slow", "hash", "batch"],
                                    ["hash", "hash"]])
def test_phrase_both_paths_match_bruteforce(spark, pos_index, phrase):
    from torchtrajectory_spark.operators.phrase import (
        phrase_count,
        phrase_count_index,
    )
    from torchtrajectory_spark.sources.tables import load_table

    sf, idx = pos_index
    docs = load_table(spark, sf, "documents")
    direct = {
        r["doc_id"]: r["n_occ"]
        for r in phrase_count(docs, phrase).collect()
    }
    via_index = {
        r["doc_id"]: r["n_occ"]
        for r in phrase_count_index(spark, idx, phrase).collect()
    }
    pdf = docs.select("doc_id", "text").toPandas()
    expected = {}
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        toks = [t for t in (text or "").lower().split(" ") if t]
        c = brute_phrase(toks, phrase)
        if c > 0:
            expected[doc_id] = c
    assert direct == expected
    assert via_index == expected


def test_phrase_unknown_term_empty(spark, pos_index):
    from torchtrajectory_spark.operators.phrase import phrase_count_index

    sf, idx = pos_index
    assert phrase_count_index(spark, idx,
                              ["zzz_not_a_term", "hash"]).count() == 0


def brute_near(tokens: list[str], terms: list[str], slop: int) -> int:
    """Reference tuple counter: enumerate all strictly increasing
    position tuples with p_last - p_first <= (n-1) + slop."""
    from itertools import product

    pos = {t: [i for i, tk in enumerate(tokens) if tk == t] for t in terms}
    n = len(terms)
    lim = n - 1 + slop
    count = 0
    for tup in product(*(pos[t] for t in terms)):
        if all(tup[j] < tup[j + 1] for j in range(n - 1)) \
                and tup[-1] - tup[0] <= lim:
            count += 1
    return count


@pytest.mark.parametrize("terms,slop", [
    (["table", "hash"], 0),
    (["table", "hash"], 3),
    (["slow", "hash", "batch"], 2),
    (["hash", "hash"], 1),
])
def test_near_both_paths_match_bruteforce(spark, pos_index, terms, slop):
    from torchtrajectory_spark.operators.phrase import (
        near_count,
        near_count_index,
    )
    from torchtrajectory_spark.sources.tables import load_table

    sf, idx = pos_index
    docs = load_table(spark, sf, "documents")
    direct = {
        r["doc_id"]: r["n_occ"]
        for r in near_count(docs, terms, slop).collect()
    }
    via_index = {
        r["doc_id"]: r["n_occ"]
        for r in near_count_index(spark, idx, terms, slop).collect()
    }
    pdf = docs.select("doc_id", "text").toPandas()
    expected = {}
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        toks = [t for t in (text or "").lower().split(" ") if t]
        c = brute_near(toks, terms, slop)
        if c > 0:
            expected[doc_id] = c
    assert direct == expected
    assert via_index == expected


def test_near_slop_zero_equals_exact_phrase(spark, pos_index):
    """slop=0 forces consecutive positions — identical to phrase_count
    (rows AND occurrence counts), both physical paths."""
    from torchtrajectory_spark.operators.phrase import (
        near_count_index,
        phrase_count_index,
    )

    _, idx = pos_index
    for terms, expect_hits in ((["table", "hash"], True),
                               (["slow", "hash", "batch"], False)):
        near = sorted(map(tuple,
                          near_count_index(spark, idx, terms, 0).collect()))
        ph = sorted(map(tuple,
                        phrase_count_index(spark, idx, terms).collect()))
        assert near == ph
        if expect_hits:
            assert len(near) > 0


def test_near_monotone_in_slop(spark, pos_index):
    """Widening the slop never loses a match and never lowers a count."""
    from torchtrajectory_spark.operators.phrase import near_count_index

    _, idx = pos_index
    prev: dict = {}
    for slop in (0, 2, 5):
        cur = {r["doc_id"]: r["n_occ"]
               for r in near_count_index(spark, idx, ["table", "hash"],
                                         slop).collect()}
        for d, c in prev.items():
            assert cur.get(d, 0) >= c
        prev = cur
    assert prev


def test_near_masks_tombstones(spark, pos_index, tmp_path_factory):
    import shutil

    from torchtrajectory_spark.operators.index import delete_docs
    from torchtrajectory_spark.operators.phrase import near_count_index

    _, idx = pos_index
    base = {r["doc_id"]: r["n_occ"]
            for r in near_count_index(spark, idx, ["table", "hash"],
                                      3).collect()}
    victim = min(base)
    d = str(tmp_path_factory.mktemp("neardel")) + "/idx"
    shutil.copytree(idx, d)
    delete_docs(spark, d, [int(victim)])
    after = {r["doc_id"]: r["n_occ"]
             for r in near_count_index(spark, d, ["table", "hash"],
                                       3).collect()}
    assert victim not in after
    assert after == {k: v for k, v in base.items() if k != victim}


@given(
    st.lists(st.sampled_from("abcx"), min_size=0, max_size=40),
    st.integers(0, 4),
    st.lists(st.sampled_from("abc"), min_size=2, max_size=3),
)
@settings(max_examples=120, deadline=None)
def test_count_near_tuples_matches_enumeration(tokens, slop, terms):
    """Property: the searchsorted window counter equals brute tuple
    enumeration on random token streams (repeated query terms included)."""
    from torchtrajectory_spark.operators.phrase import count_near_tuples

    pos = {t: np.asarray([i for i, tk in enumerate(tokens) if tk == t],
                         dtype=np.int64) for t in set(terms)}
    got = count_near_tuples([pos[t] for t in terms], slop)
    assert got == brute_near(list(tokens), terms, slop)


@given(
    st.lists(  # per-doc token streams (docs with all terms become candidates)
        st.lists(st.sampled_from("abcx"), min_size=0, max_size=25),
        min_size=1, max_size=8,
    ),
    st.integers(0, 3),
    st.lists(st.sampled_from("abc"), min_size=2, max_size=3),
)
@settings(max_examples=120, deadline=None)
def test_vectorized_kernels_match_per_doc(docs_tokens, slop, terms):
    """Property: the rank-keyed vectorized near/phrase counters equal
    the per-doc reference kernels over random multi-doc position sets."""
    from torchtrajectory_spark.operators.phrase import (
        _near_counts_vectorized,
        _phrase_counts_vectorized,
    )

    cand_pos = []
    for toks in docs_tokens:
        pos = {t: np.asarray([i for i, tk in enumerate(toks) if tk == t],
                             dtype=np.int64) for t in set(terms)}
        if all(pos[t].size for t in terms):
            cand_pos.append((toks, [pos[t] for t in terms]))
    if not cand_pos:
        return
    cand = np.arange(len(cand_pos), dtype=np.int64)
    per_term = [[pl[j] for _, pl in cand_pos] for j in range(len(terms))]
    lim = len(terms) - 1 + slop
    got_near = _near_counts_vectorized(cand, per_term, lim)
    want_near = [brute_near(list(toks), terms, slop)
                 for toks, _ in cand_pos]
    assert got_near.tolist() == want_near
    got_ph = _phrase_counts_vectorized(cand, per_term)
    want_ph = [brute_phrase(list(toks), terms) for toks, _ in cand_pos]
    assert got_ph.tolist() == want_ph


def test_near_vectorized_chunking_equivalent(monkeypatch):
    """The memory-bounding chunk loop changes nothing: forcing a 2-chain
    chunk produces identical counts to one big expansion."""
    import torchtrajectory_spark.operators.phrase as P

    rng = np.random.default_rng(7)
    cand = np.arange(6, dtype=np.int64)
    per_term = [
        [np.unique(rng.integers(0, 30, rng.integers(1, 8)))
         .astype(np.int64) for _ in range(6)]
        for _ in range(3)
    ]
    want = P._near_counts_vectorized(cand, per_term, 6)
    monkeypatch.setattr(P, "_NEAR_CHUNK", 2)
    got = P._near_counts_vectorized(cand, per_term, 6)
    assert np.array_equal(want, got)
    assert want.sum() > 0  # the fixture actually matches something
