"""Tombstone deletes (mask -> purge lifecycle) + prefix-query expansion.

Deletion semantics are Lucene live-docs parity: ``delete_docs`` masks
docs out of every query path while n_docs/avgdl/df still count them;
``compact_index`` physically purges postings/doc_stats and recomputes the
statistics, so the compacted index equals a fresh build on the filtered
corpus (rank- AND score-identical — pinned here). The reference engine
has no delete (its index is write-once, ``InvertedIndex.java:49-136``);
this is the maintenance surface a long-lived 10^12-file index needs.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

import numpy as np
import pytest
from pyspark.sql import functions as F

from torchtrajectory_spark.engine import Engine
from torchtrajectory_spark.operators.boolean import (
    bool_and_index_blocks,
    bool_or_index_blocks,
)
from torchtrajectory_spark.operators.index import (
    build_index,
    compact_index,
    delete_docs,
    merge_indexes,
    postings_flat,
    read_doc_stats,
    read_manifest,
    read_index_config,
    read_postings,
    tombstone_ids,
)
from torchtrajectory_spark.operators.wand import (
    expand_prefix,
    topk_bm25_index,
    topk_bm25_index_many,
    topk_bm25_index_prefix,
)
from torchtrajectory_spark.sources.corpus import synth_corpus

N_ROWS = 300
BUCKETS = 8
SEGS = 3
Q = ["def", "return", "class"]
K = 10


@pytest.fixture(scope="module")
def corpus(spark):
    return synth_corpus(spark, N_ROWS, partitions=6)


def _build(spark, corpus, d):
    build_index(
        spark, corpus, d,
        id_col="doc_id", text_col="content", analyzer="code",
        meta_cols=("repo", "lang"),
        n_segments=SEGS, buckets=BUCKETS,
    )


@pytest.fixture(scope="module")
def base_dir(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("base"))
    _build(spark, corpus, d)
    return d


@pytest.fixture(scope="module")
def del_dir(spark, corpus, tmp_path_factory, base_dir):
    """A second identical index with the baseline top-1 doc tombstoned."""
    import shutil

    top1 = topk_bm25_index(spark, base_dir, Q, K).first()["doc_id"]
    d = str(tmp_path_factory.mktemp("del")) + "/idx"
    shutil.copytree(base_dir, d)
    n = delete_docs(spark, d, [int(top1)])
    assert n == 1
    return d, int(top1)


def test_delete_masks_topk_scores_unchanged(spark, base_dir, del_dir):
    d, top1 = del_dir
    before = {r["doc_id"]: r["score"]
              for r in topk_bm25_index(spark, base_dir, Q, K + 1).collect()}
    after = topk_bm25_index(spark, d, Q, K).collect()
    got = [r["doc_id"] for r in after]
    assert top1 not in got
    # mask semantics: every surviving doc keeps its EXACT pre-delete score
    for r in after:
        assert r["score"] == before[r["doc_id"]]


def test_delete_keeps_statistics(spark, base_dir, del_dir):
    from torchtrajectory_spark.operators.wand import (
        _corpus_scalars,
        query_term_meta,
    )

    d, _ = del_dir
    assert _corpus_scalars(spark, base_dir) == _corpus_scalars(spark, d)
    m0 = query_term_meta(spark, base_dir, Q)
    m1 = query_term_meta(spark, d, Q)
    assert m0.term_df == m1.term_df


def test_delete_masks_batch_filtered_boolean_flat(spark, base_dir, del_dir):
    d, top1 = del_dir
    # batch path
    many = topk_bm25_index_many(spark, d, {"a": Q, "b": ["def"]}, K).collect()
    assert top1 not in {r["doc_id"] for r in many}
    # filtered path (predicate the deleted doc satisfies)
    eng = Engine.from_index(spark, d)
    filt = eng.find_topk(Q, K, where=F.col("dl") > 0).collect()
    assert top1 not in {r["doc_id"] for r in filt}
    # boolean paths
    assert top1 not in {
        r["doc_id"] for r in bool_or_index_blocks(spark, d, Q).collect()
    }
    assert top1 not in {
        r["doc_id"] for r in bool_and_index_blocks(spark, d, ["def"]).collect()
    }
    # flat decode (user-facing default) vs forensic raw read
    live = postings_flat(spark, d).where(F.col("doc_id") == top1)
    assert live.count() == 0
    raw = postings_flat(spark, d, live_only=False).where(
        F.col("doc_id") == top1
    )
    assert raw.count() > 0
    # metadata range query
    assert top1 not in {
        r["doc_id"] for r in eng.find_in_range(F.col("dl") > 0).collect()
    }


def test_delete_generations_union(spark, corpus, tmp_path):
    d = str(tmp_path / "gen")
    _build(spark, corpus, d)
    r = topk_bm25_index(spark, d, Q, 3).collect()
    delete_docs(spark, d, [int(r[0]["doc_id"])])
    delete_docs(spark, d, [int(r[1]["doc_id"])])
    ts = tombstone_ids(d)
    assert ts is not None and ts.size == 2
    got = {x["doc_id"] for x in topk_bm25_index(spark, d, Q, K).collect()}
    assert int(r[0]["doc_id"]) not in got and int(r[1]["doc_id"]) not in got


def test_delete_empty_is_noop(spark, base_dir):
    assert delete_docs(spark, base_dir, []) == 0
    assert tombstone_ids(base_dir) is None


def test_compact_purges_and_recomputes_stats(spark, corpus, del_dir,
                                             tmp_path):
    d, top1 = del_dir
    dst = str(tmp_path / "purged")
    compact_index(spark, d, dst)
    # no tombstones carried; purge recorded in config
    assert tombstone_ids(dst) is None
    assert read_index_config(dst)["purged_tombstones"] == 1
    # physically gone from postings and doc_stats
    assert postings_flat(spark, dst, live_only=False).where(
        F.col("doc_id") == top1
    ).count() == 0
    assert read_doc_stats(spark, dst).where(
        F.col("doc_id") == top1
    ).count() == 0
    # manifest scalars reflect the purged corpus
    m = read_manifest(spark, dst).first()
    assert m["row_count"] == N_ROWS - 1
    # purged index == fresh build on the filtered corpus: rank AND score
    fresh = str(tmp_path / "fresh")
    _build(spark, corpus.where(F.col("doc_id") != top1), fresh)
    a = topk_bm25_index(spark, dst, Q, K).collect()
    b = topk_bm25_index(spark, fresh, Q, K).collect()
    assert [(r["doc_id"], round(r["score"], 12)) for r in a] == [
        (r["doc_id"], round(r["score"], 12)) for r in b
    ]


def test_merge_carries_tombstones(spark, corpus, tmp_path):
    half_a = corpus.where(F.col("doc_id") < N_ROWS // 2)
    half_b = corpus.where(F.col("doc_id") >= N_ROWS // 2)
    da, db = str(tmp_path / "a"), str(tmp_path / "b")
    _build(spark, half_a, da)
    _build(spark, half_b, db)
    dead = int(topk_bm25_index(spark, da, Q, 1).first()["doc_id"])
    delete_docs(spark, da, [dead])
    dm = str(tmp_path / "m")
    merge_indexes(spark, [da, db], dm)
    ts = tombstone_ids(dm)
    assert ts is not None and list(ts) == [dead]
    assert dead not in {
        r["doc_id"] for r in topk_bm25_index(spark, dm, Q, K).collect()
    }


@contextmanager
def _arrow_batch_rows(spark, n: int):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def test_merge_carries_runs_across_arrow_batches(
        spark, corpus, base_dir, del_dir, tmp_path):
    """The merge streams each sorted shuffle partition batch by batch and
    carries a batch's trailing (term, salt) run into the next. With
    3-row Arrow batches nearly every run straddles a boundary: the build
    must still equal the default-batch build, and a compaction that
    purges tombstones must still equal a fresh build without them."""
    d = str(tmp_path / "small_batches")
    src, top1 = del_dir
    dst = str(tmp_path / "purged")
    with _arrow_batch_rows(spark, 3):
        _build(spark, corpus, d)
        compact_index(spark, src, dst)
    cols = ["segment", "bucket", "term", "salt", "block_id", "n_docs",
            "first_doc", "last_doc", "max_tf", "min_dl",
            "doc_gaps", "tfs", "dls"]
    a = read_postings(spark, base_dir).select(*cols)
    b = read_postings(spark, d).select(*cols)
    assert a.subtract(b).count() == 0
    assert b.subtract(a).count() == 0

    assert postings_flat(spark, dst, live_only=False).where(
        F.col("doc_id") == top1
    ).count() == 0
    assert read_manifest(spark, dst).first()["row_count"] == N_ROWS - 1
    fresh = str(tmp_path / "fresh")
    _build(spark, corpus.where(F.col("doc_id") != top1), fresh)
    got = topk_bm25_index(spark, dst, Q, K).collect()
    exp = topk_bm25_index(spark, fresh, Q, K).collect()
    assert [(r["doc_id"], round(r["score"], 12)) for r in got] == [
        (r["doc_id"], round(r["score"], 12)) for r in exp
    ]


# ------------------------------- prefix ---------------------------------

def test_prefix_expansion_matches_dictionary(spark, base_dir):
    exp = expand_prefix(spark, base_dir, "de")
    flat_terms = {
        r["term"]
        for r in postings_flat(spark, base_dir).select("term")
        .distinct().collect()
    }
    assert set(exp) == {t for t in flat_terms if t.startswith("de")}
    assert set(exp) == {"def", "defer"}


def test_prefix_rank_identical_to_expanded_multiterm(spark, base_dir):
    exp = expand_prefix(spark, base_dir, "p")
    a = topk_bm25_index_prefix(spark, base_dir, "p", K).collect()
    b = topk_bm25_index(spark, base_dir, sorted(exp), K).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b
    ]


def test_prefix_cap_keeps_highest_df(spark, base_dir):
    full = expand_prefix(spark, base_dir, "id_1", max_terms=10_000)
    assert len(full) > 5
    capped = expand_prefix(spark, base_dir, "id_1", max_terms=5)
    want = sorted(full.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert sorted(capped.items()) == sorted(want)


def test_prefix_no_match_is_empty(spark, base_dir):
    df = topk_bm25_index_prefix(spark, base_dir, "zzz_nope", K)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["doc_id", "score"]


def test_engine_prefix_memoizes_expansion(spark, base_dir, monkeypatch):
    from torchtrajectory_spark.operators import wand as wand_mod

    calls = []
    real = wand_mod.expand_prefix
    monkeypatch.setattr(wand_mod, "expand_prefix",
                        lambda *a, **kw: calls.append(a) or real(*a, **kw))
    eng = Engine.from_index(spark, base_dir)
    a = eng.find_topk_prefix("de", K).collect()
    assert len(calls) <= 1  # one expansion (none if already memoized)
    n = len(calls)
    b = eng.find_topk_prefix("de", K).collect()  # warm: no dictionary scan
    assert len(calls) == n
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b
    ]


def test_query_snapshot_isolated_from_concurrent_delete(
        spark, corpus, tmp_path_factory):
    """Snapshot semantics under delete: a query PLAN built before a
    delete commits returns the pre-delete result even when collected
    after the commit (the tombstone set is captured driver-side into
    the kernel closures at plan time), and a plan built after returns
    the post-delete result — a reader never sees a torn live-docs set."""
    # fresh private build: this test commits a delete mid-flight, so it
    # must not mutate the shared module fixtures
    d = str(tmp_path_factory.mktemp("snap")) + "/idx"
    _build(spark, corpus, d)

    before = topk_bm25_index(spark, d, Q, K).collect()
    top1 = int(before[0]["doc_id"])

    plan_pre = topk_bm25_index(spark, d, Q, K)  # plan BEFORE the delete
    assert delete_docs(spark, d, [top1]) == 1   # delete commits now
    got_pre = [(r["doc_id"], r["score"]) for r in plan_pre.collect()]
    assert got_pre == [(r["doc_id"], r["score"]) for r in before], \
        "pre-delete plan must keep its tombstone snapshot"

    after = topk_bm25_index(spark, d, Q, K).collect()  # plan AFTER
    assert top1 not in {r["doc_id"] for r in after}
    # masked semantics: the post-delete ranking is the pre-delete one
    # with the deleted doc removed (scores unchanged), plus one new
    # entrant at the bottom of the heap
    assert [(r["doc_id"], r["score"]) for r in after[:K - 1]] == \
        [(r["doc_id"], r["score"]) for r in before[1:]]
