"""In-place incremental ingest (`add_documents`) — IndexWriter.addDocuments
analog over the append-only segment layout.

The invariant is the same one `merge_indexes` pins: because every global
BM25 statistic is an associative aggregate the query path computes across
segments, queries after an add are rank- AND score-identical to a fresh
single build over the union corpus. The reference index is write-once
(``InvertedIndex.java:49-136``); this is the live-index maintenance
surface a long-lived 10^12-file deployment needs alongside deletes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from torchtrajectory_spark.engine import Engine
from torchtrajectory_spark.operators.index import (
    add_documents,
    build_index,
    delete_docs,
    read_index_config,
    read_manifest,
)
from torchtrajectory_spark.operators.wand import topk_bm25_index
from torchtrajectory_spark.sources.corpus import synth_corpus

N_ALL = 300
N_BASE = 200
BUCKETS = 8
Q = ["def", "return", "class"]
K = 10


@pytest.fixture(scope="module")
def corpus(spark):
    return synth_corpus(spark, N_ALL, partitions=6)


def _build(spark, df, d, **kw):
    build_index(
        spark, df, d,
        id_col="doc_id", text_col="content", analyzer="code",
        meta_cols=("repo", "lang"), buckets=BUCKETS,
        **{"n_segments": 2, **kw},
    )


@pytest.fixture(scope="module")
def incremental(spark, corpus, tmp_path_factory):
    """Index built on the first 200 docs, then 100 more added in-place."""
    d = str(tmp_path_factory.mktemp("inc"))
    _build(spark, corpus.where(F.col("doc_id") < N_BASE), d)
    added = add_documents(
        spark, d, corpus.where(F.col("doc_id") >= N_BASE),
        meta_cols=("repo", "lang"), n_segments=1, verify_disjoint=True,
    )
    assert added == 1
    return d


@pytest.fixture(scope="module")
def union_build(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("union"))
    _build(spark, corpus, d, n_segments=3)
    return d


def test_add_matches_fresh_union_build(spark, incremental, union_build):
    got = topk_bm25_index(spark, incremental, Q, K).collect()
    want = topk_bm25_index(spark, union_build, Q, K).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_add_updates_manifest_and_config(spark, incremental):
    m = read_manifest(spark, incremental)
    assert m.count() == 3  # 2 base + 1 appended
    assert m.agg(F.sum("row_count")).first()[0] == N_ALL
    assert read_index_config(incremental)["n_segments"] == 3


def test_add_preserves_tombstones(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("incdel"))
    _build(spark, corpus.where(F.col("doc_id") < N_BASE), d)
    victim = int(topk_bm25_index(spark, d, Q, K).first()["doc_id"])
    delete_docs(spark, d, [victim])
    add_documents(spark, d, corpus.where(F.col("doc_id") >= N_BASE),
                  meta_cols=("repo", "lang"))
    got = [r["doc_id"] for r in topk_bm25_index(spark, d, Q, K).collect()]
    assert victim not in got


def test_add_verify_disjoint_raises_on_overlap(spark, corpus,
                                               tmp_path_factory):
    """The disjointness check fires BEFORE anything is appended: the
    live index is byte-for-byte query-identical after the raise."""
    d = str(tmp_path_factory.mktemp("incdup"))
    _build(spark, corpus.where(F.col("doc_id") < N_BASE), d)
    before = [tuple(r) for r in topk_bm25_index(spark, d, Q, K).collect()]
    with pytest.raises(ValueError, match="share doc_ids"):
        add_documents(spark, d, corpus.where(F.col("doc_id") < 10),
                      meta_cols=("repo", "lang"), verify_disjoint=True)
    assert read_index_config(d)["n_segments"] == 2  # config untouched
    assert read_manifest(spark, d).count() == 2
    after = [tuple(r) for r in topk_bm25_index(spark, d, Q, K).collect()]
    assert after == before


def test_add_meta_cols_default_and_mismatch(spark, corpus,
                                            tmp_path_factory):
    """meta_cols defaults to the live index's recorded schema; an
    explicit mismatch raises instead of committing mixed doc_stats."""
    d = str(tmp_path_factory.mktemp("incmeta"))
    _build(spark, corpus.where(F.col("doc_id") < N_BASE), d)
    with pytest.raises(ValueError, match="meta_cols"):
        add_documents(spark, d, corpus.where(F.col("doc_id") >= N_BASE),
                      meta_cols=("lang",))
    # omitted -> inherited from config; the facet column stays queryable
    add_documents(spark, d, corpus.where(F.col("doc_id") >= N_BASE))
    from torchtrajectory_spark.operators.boolean import facet_counts

    rows = facet_counts(spark, d, ["def"], "lang", 10).collect()
    assert rows and sum(r["n_docs"] for r in rows) > 0


def test_engine_add_invalidates_statistic_memos(spark, corpus, union_build,
                                                tmp_path_factory,
                                                monkeypatch):
    from torchtrajectory_spark.operators import wand as wand_mod

    d = str(tmp_path_factory.mktemp("incmemo"))
    _build(spark, corpus.where(F.col("doc_id") < N_BASE), d)
    eng = Engine.from_index(spark, d)
    eng.find_topk(Q, K).collect()  # warms the (term-set) df/scalars memo
    calls = []
    real = wand_mod._read_term_df
    monkeypatch.setattr(wand_mod, "_read_term_df",
                        lambda *a, **kw: calls.append(a) or real(*a, **kw))
    eng.find_topk(Q, K).collect()
    assert calls == []  # warm repeat: a memo hit
    eng.add_documents(corpus.where(F.col("doc_id") >= N_BASE),
                      meta_cols=("repo", "lang"))
    got = eng.find_topk(Q, K).collect()  # must see the NEW statistics
    assert len(calls) == 1  # the add's snapshot starts with no memo
    want = topk_bm25_index(spark, union_build, Q, K).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_add_positional_index_carries_positions(spark, corpus,
                                                tmp_path_factory):
    from torchtrajectory_spark.operators.phrase import (
        phrase_count,
        phrase_count_index,
    )

    d = str(tmp_path_factory.mktemp("incpos"))
    _build(spark, corpus.where(F.col("doc_id") < N_BASE), d,
           with_positions=True)
    add_documents(spark, d, corpus.where(F.col("doc_id") >= N_BASE),
                  meta_cols=("repo", "lang"))
    ph = ["def", "def"]
    via_index = sorted(
        map(tuple, phrase_count_index(spark, d, ph)
            .collect())
    )
    direct = sorted(
        map(tuple, phrase_count(corpus, ph, text_col="content",
                                analyzer="code").collect())
    )
    assert via_index == direct


def test_query_while_add_commits(spark, corpus, tmp_path_factory):
    """Readers racing an in-place add see either the pre-add or the
    post-add result — never a torn state. The appended segment becomes
    visible only at the atomic manifest-marker rename.

    The overlap is DETERMINISTIC, not timing-hoped (the r4 flaky-suite
    fix): a commit gate in ``_rehome_segments`` parks the writer at the
    most dangerous instant — new postings/doc_stats/terms fully copied
    into the live directory tree, manifest marker staged at
    ``segment=<n>.__tmp__`` but not renamed — while the reader queries.
    Any manifest reader that globs/startswith-matches the staged marker
    (the r4 race) would crash or return torn statistics right here."""
    import threading

    from torchtrajectory_spark.operators import index as index_mod

    d = str(tmp_path_factory.mktemp("incrace"))
    _build(spark, corpus.where(F.col("doc_id") < N_BASE), d)

    def q() -> tuple:
        return tuple((r["doc_id"], r["score"])
                     for r in topk_bm25_index(spark, d, Q, K).collect())

    before = q()
    err: list[Exception] = []
    writer_parked = threading.Event()
    release_commit = threading.Event()

    def hook(seg: int) -> None:
        writer_parked.set()
        assert release_commit.wait(timeout=300), "reader never released"

    def do_add():
        try:
            add_documents(spark, d, corpus.where(F.col("doc_id") >= N_BASE),
                          meta_cols=("repo", "lang"), n_segments=1)
        except Exception as e:  # surface in the main thread
            err.append(e)
            release_commit.set()  # don't deadlock the join below

    index_mod._PRE_COMMIT_HOOK = hook
    try:
        t = threading.Thread(target=do_add)
        t.start()
        assert writer_parked.wait(timeout=600), (err or "writer never "
                                                 "reached the commit point")
        if not err:
            # writer is HELD mid-commit: the reader must see exactly the
            # pre-add result, repeatedly (covers cached and cold plans)
            for _ in range(3):
                assert q() == before, "torn read while marker staged"
        release_commit.set()
        t.join(timeout=600)
        assert not t.is_alive(), "add thread hung after release"
    finally:
        index_mod._PRE_COMMIT_HOOK = None
        release_commit.set()
    assert not err, err
    after = q()
    assert after != before  # the add is visible after the marker rename
    # and score-identity with a fresh union build is pinned by
    # test_add_documents_matches_fresh_build; here we just sanity-check
    # the post-add read is a valid superset-corpus result
    assert len(after) == K


def test_open_engine_lifecycle_delete_add_compact(spark, corpus,
                                                  tmp_path_factory):
    """One Engine kept open across delete -> add_documents -> a compacted
    index swapped into its directory: after each step, fielded, collapse
    and sorted queries equal a freshly opened Engine's; after the
    compaction they also equal a fresh build of the live docs."""
    import os

    from torchtrajectory_spark.operators.index import compact_index

    d = str(tmp_path_factory.mktemp("lifecycle"))
    _build(spark, corpus.where(F.col("doc_id") < N_BASE), d)
    eng = Engine.from_index(spark, d)

    def answers(e):
        fielded = Engine.find_topk_fielded({"a": (e, 1.0), "b": (e, 0.5)},
                                           Q, K)
        return ([tuple(r) for r in fielded.collect()],
                [tuple(r) for r in
                 e.find_topk_collapse(Q, "lang", K).collect()],
                [tuple(r) for r in e.find_sorted(Q, "dl", K).collect()])

    answers(eng)  # warm every memo of the open Engine
    dead = [r["doc_id"] for r in eng.find_topk(Q, 3).collect()]
    eng.delete(dead)
    assert answers(eng) == answers(Engine.from_index(spark, d))
    eng.add_documents(corpus.where(F.col("doc_id") >= N_BASE),
                      meta_cols=("repo", "lang"))
    assert answers(eng) == answers(Engine.from_index(spark, d))
    compacted = d + "_compacted"
    compact_index(spark, d, compacted)
    os.rename(d, d + "_old")
    os.rename(compacted, d)
    got = answers(eng)
    assert got == answers(Engine.from_index(spark, d))
    fresh = str(tmp_path_factory.mktemp("lifecycle_fresh"))
    _build(spark, corpus.where(~F.col("doc_id").isin(dead)), fresh)
    assert got == answers(Engine.from_index(spark, fresh))
