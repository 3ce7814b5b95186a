"""Robustness edge cases: degenerate corpora, unknown terms, unicode.

The reference silently drops malformed rows (``TrajReader.java:75-124``)
and its README warns about degenerate inputs; this engine must stay
correct (not merely not-crash) on the same classes of input.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from torchtrajectory_spark.engine import Engine
from torchtrajectory_spark.operators.index import (
    build_index,
    postings_flat,
    read_doc_stats,
    read_manifest,
)


@pytest.fixture(scope="module")
def weird_corpus(spark):
    rows = [
        (0, "alpha beta beta gamma"),
        (1, ""),                                  # empty doc
        (2, "   "),                               # whitespace only
        (3, "naïve café 名前 emoji🚀 mix"),        # unicode (NFC)
        (4, "alpha " * 5000),                     # very long, single term
        (5, None),                                # null text
        (6, "alpha"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


@pytest.fixture(scope="module")
def weird_index(spark, weird_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("weird_idx"))
    build_index(spark, weird_corpus.fillna({"text": ""}), d,
                id_col="doc_id", text_col="text", analyzer="ws",
                n_segments=2, buckets=4, with_positions=True, resume=False)
    return d


def test_degenerate_docs_indexed_correctly(spark, weird_corpus, weird_index):
    flat = postings_flat(spark, weird_index).toPandas()
    # docs 1, 2, 5 contribute no postings; 0, 3, 4, 6 do
    assert set(flat["doc_id"]) == {0, 3, 4, 6}
    alpha = flat[(flat["term"] == "alpha")]
    assert set(alpha["doc_id"]) == {0, 4, 6}
    assert alpha.set_index("doc_id")["tf"].to_dict()[4] == 5000
    # unicode terms survive the codec + shuffle round trip intact
    assert "名前" in set(flat["term"])
    assert "emoji🚀" in set(flat["term"])


def test_doc_stats_cover_empty_docs(spark, weird_index):
    ds = read_doc_stats(spark, weird_index).toPandas()
    assert set(ds["doc_id"]) == set(range(7))
    dl = ds.set_index("doc_id")["dl"].to_dict()
    assert dl[1] == 0 and dl[2] == 0 and dl[5] == 0
    assert dl[4] == 5000
    m = read_manifest(spark, weird_index).toPandas()
    assert m["row_count"].sum() == 7


def test_queries_on_weird_index(spark, weird_index):
    eng = Engine.from_index(spark, weird_index)
    # unknown term -> empty, no exception
    assert eng.find_topk(["zzznotaterm"], 5).count() == 0
    assert eng.find_on_path(["zzznotaterm"]).count() == 0
    assert eng.find_phrase(["zzz", "yyy"]).count() == 0
    # unicode query term works end to end
    got = eng.find_topk(["名前"], 5).collect()
    assert [r["doc_id"] for r in got] == [3]
    # k larger than corpus
    assert eng.find_topk(["alpha"], 100).count() == 3
    # phrase across the long doc: "alpha alpha" occurs 4999 times
    ph = {r["doc_id"]: r["n_occ"]
          for r in eng.find_phrase(["alpha", "alpha"]).collect()}
    assert ph == {4: 4999}


def test_empty_corpus_build(spark, tmp_path):
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    d = str(tmp_path / "empty_idx")
    build_index(spark, empty, d, id_col="doc_id", text_col="text",
                analyzer="ws", n_segments=1, buckets=4, resume=False)
    m = read_manifest(spark, d).toPandas()
    assert len(m) == 1 and m["row_count"].iloc[0] == 0
    assert postings_flat(spark, d).count() == 0
    eng = Engine.from_index(spark, d)
    assert eng.find_topk(["anything"], 5).count() == 0


def test_duplicate_doc_ids_both_kept(spark, tmp_path):
    """Duplicate doc_ids are the caller's bug, but must not corrupt the
    index structure (both postings present; blocks stay doc-sorted)."""
    df = spark.createDataFrame(
        [(1, "alpha beta"), (1, "alpha gamma")],
        "doc_id bigint, text string",
    )
    d = str(tmp_path / "dup_idx")
    build_index(spark, df, d, id_col="doc_id", text_col="text",
                analyzer="ws", n_segments=1, buckets=2, resume=False)
    flat = postings_flat(spark, d).toPandas()
    assert len(flat[flat["term"] == "alpha"]) == 2


def test_near_dup_keep_collapses_chains(spark):
    """a~b and b~c (but a!~c directly) must share one keeper (doc 0)."""
    from torchtrajectory_spark.operators.dedup import near_dup_keep

    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    rows = [
        (0, base),
        (1, base + " x1"),            # near-dup of 0 and 2
        (2, base + " x1 x2"),         # near-dup of 1, weaker vs 0
        (3, "completely different tokens here entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    keep = {r["doc_id"]: r["keep_doc_id"]
            for r in near_dup_keep(df, 0.7).collect()}
    assert keep[0] == 0 and keep[1] == 0 and keep[2] == 0
    assert keep[3] == 3


def test_bool_blocks_unknown_terms_empty(spark, tmp_path):
    """Index-backed boolean with unknown/empty-ish terms -> 0 rows."""
    from torchtrajectory_spark.operators.boolean import (
        bool_and_index_blocks, bool_or_index_blocks,
    )
    from torchtrajectory_spark.operators.index import build_index

    df = spark.createDataFrame([(1, "a b"), (2, "b c")],
                               "doc_id bigint, text string")
    d = str(tmp_path / "bb_idx")
    build_index(spark, df, d, id_col="doc_id", text_col="text",
                n_segments=1, buckets=2, resume=False)
    assert bool_or_index_blocks(spark, d, ["zzz"]).count() == 0
    assert bool_and_index_blocks(spark, d, ["a", "zzz"]).count() == 0
    assert bool_and_index_blocks(spark, d, ["b"]).count() == 2


def test_pruned_kernels_k_exceeds_corpus(spark):
    """k > n docs: pruning disabled path returns every doc, ranked."""
    from torchtrajectory_spark.operators import kernels

    df = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2}") for i in range(5)],
        "doc_id bigint, text string",
    )
    seq = kernels.seq_table(df).localCheckpoint(eager=True)
    got = kernels.topk_similar_pruned(seq, "tok1 tok2", 50, "dtw").collect()
    assert len(got) == 5


def test_jaccard_exact_cutoff_verifies_full_intersection(spark):
    """max_shingle_df cutoff: candidates shrink but intersections stay
    exact — surviving pairs carry identical jac_u6 as the uncut run."""
    from torchtrajectory_spark.operators.dedup import jaccard_pairs
    from torchtrajectory_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    full = {(r["doc_a"], r["doc_b"]): r["jac_u6"]
            for r in jaccard_pairs(docs, 0.8).collect()}
    cut = {(r["doc_a"], r["doc_b"]): r["jac_u6"]
           for r in jaccard_pairs(docs, 0.8, max_shingle_df=50).collect()}
    assert set(cut) <= set(full)
    for pair, j in cut.items():
        assert full[pair] == j


def test_build_pathological_corpora(spark, tmp_path):
    """Empty corpus, whitespace/None text, unicode tokens — build and
    query without exceptions; empty docs appear in doc_stats (dl=0) but
    never in postings."""
    from torchtrajectory_spark.operators.index import (
        build_index, postings_flat, read_doc_stats,
    )
    from torchtrajectory_spark.operators.wand import topk_bm25_index

    # empty corpus
    d0 = str(tmp_path / "empty_idx")
    build_index(spark, spark.createDataFrame([], "doc_id bigint, text string"),
                d0, id_col="doc_id", text_col="text", n_segments=1,
                buckets=2, resume=False)
    assert postings_flat(spark, d0).count() == 0
    assert topk_bm25_index(spark, d0, ["x"], 5).count() == 0

    # whitespace-only + NULL text + unicode
    d1 = str(tmp_path / "ws_idx")
    df = spark.createDataFrame(
        [(1, "   "), (2, None), (3, "héllo 日本語 héllo")],
        "doc_id bigint, text string",
    )
    build_index(spark, df, d1, id_col="doc_id", text_col="text",
                n_segments=1, buckets=2, resume=False)
    assert read_doc_stats(spark, d1).count() == 3
    assert postings_flat(spark, d1).select(
        "doc_id").distinct().count() == 1
    rows = topk_bm25_index(spark, d1, ["héllo"], 5).collect()
    assert [r["doc_id"] for r in rows] == [3]


def test_stale_format_caches_rebuild(spark):
    """ensure_index AND ensure_compacted_index rebuild a cached /tmp index
    whose format_version mismatches the engine (a stale cache from an
    older build must rebuild, not fail at decode time)."""
    import json
    import os

    from torchtrajectory_spark.config import INDEX_FORMAT_VERSION
    from torchtrajectory_spark.plans.queries import (
        ensure_compacted_index,
        ensure_index,
    )

    sf = "/root/testdata/sf0.001"
    for ensure in (ensure_index, ensure_compacted_index):
        d = ensure(spark, sf)
        cfgp = os.path.join(d, "index_config.json")
        cfg = json.load(open(cfgp))
        cfg["format_version"] = -1
        json.dump(cfg, open(cfgp, "w"))
        d2 = ensure(spark, sf)
        assert d2 == d
        got = json.load(open(os.path.join(d2, "index_config.json")))
        assert got["format_version"] == INDEX_FORMAT_VERSION


def test_embedding_near_dup_keep_collapses_chains(spark):
    """a~b and b~c by cosine (a!~c directly) share one keeper; distinct
    vectors keep themselves — the text keep rule on the embedding side."""
    import numpy as np

    from torchtrajectory_spark.operators.dedup import embedding_near_dup_keep

    base = np.ones(8)
    rows = [
        (0, [float(x) for x in base]),
        (1, [float(x) for x in base + np.array([0.02] + [0.0] * 7)]),
        (2, [float(x) for x in base + np.array([0.04] + [0.0] * 7)]),
        (3, [1.0, -1.0] * 4),  # orthogonal-ish
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    keep = {r["vec_id"]: r["keep_vec_id"]
            for r in embedding_near_dup_keep(emb, 0.9999,
                                             n_centroids=1).collect()}
    assert keep[0] == 0 and keep[1] == 0 and keep[2] == 0
    assert keep[3] == 3


def test_expansion_degenerate_patterns(spark, weird_index):
    """Wildcard-free patterns act as exact terms; edits=0 fuzzy is an
    exact lookup; unicode terms expand; an all-star pattern expands to
    the (capped) whole dictionary."""
    from torchtrajectory_spark.operators.wand import (
        expand_fuzzy,
        expand_prefix,
        expand_wildcard,
        topk_bm25_index,
        topk_bm25_index_wildcard,
    )

    assert sorted(expand_wildcard(spark, weird_index, "alpha")) == ["alpha"]
    assert sorted(expand_fuzzy(spark, weird_index, "alpha",
                               max_edits=0)) == ["alpha"]
    assert "naïve" in expand_wildcard(spark, weird_index, "na*")
    assert "名前" in expand_prefix(spark, weird_index, "名")
    full_dict = expand_prefix(spark, weird_index, "", max_terms=10_000)
    assert sorted(expand_wildcard(spark, weird_index, "*",
                                  max_terms=10_000)) == sorted(full_dict)
    capped = expand_wildcard(spark, weird_index, "*", max_terms=2)
    assert len(capped) == 2
    # exact-term wildcard scores identically to the plain single-term query
    got = topk_bm25_index_wildcard(spark, weird_index, "beta", 5).collect()
    want = topk_bm25_index(spark, weird_index, ["beta"], 5).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_near_single_term_and_zero_width_snippet(spark, weird_corpus,
                                                 weird_index):
    from torchtrajectory_spark.operators.phrase import near_count_index
    from torchtrajectory_spark.operators.snippet import snippets

    # single-term proximity degenerates to tf
    got = {r["doc_id"]: r["n_occ"]
           for r in near_count_index(spark, weird_index,
                                     ["beta"], 0).collect()}
    assert got == {0: 2}
    # width=0 snippet is exactly the first matched token
    s = {r["doc_id"]: (r["pos"], r["snippet"])
         for r in snippets(weird_corpus.fillna({"text": ""}),
                           ["beta", "名前"], 0).collect()}
    assert s == {0: (2, "beta"), 3: (3, "名前")}


def test_boolean_clause_unknown_should_term(spark, weird_index):
    """A should term absent from the corpus contributes idf(0) like the
    plain multi-term path — present terms still rank."""
    from torchtrajectory_spark.operators.wand import (
        topk_bm25_index,
        topk_bm25_index_boolean,
    )

    got = topk_bm25_index_boolean(
        spark, weird_index, ["beta", "zzz_missing"], 5,
    ).collect()
    want = topk_bm25_index(spark, weird_index,
                           ["beta", "zzz_missing"], 5).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert got  # beta matches something
