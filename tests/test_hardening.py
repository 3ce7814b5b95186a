"""Crash/concurrency hardening pins (round-5 ADVICE + flaky-suite fixes).

Every test here simulates the debris a crashed or concurrent writer
leaves behind and asserts readers/writers stay correct:
- ``.__tmp__`` staging dirs are INVISIBLE to every manifest/tombstone
  reader (strict ``segment=\\d+`` / ``del=\\d+`` matching);
- ``_rehome_segments`` refuses to clobber a COMMITTED destination
  segment;
- ``add_documents`` enforces the single-writer lock;
- the chunk uid packing fails loudly on field overflow;
- simple query syntax rejects unsupported patterns loudly;
- every read of a query comes from ONE index snapshot, and the next
  query sees a commit in full — whoever made it.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from torchtrajectory_spark.operators import wand as wand_mod
from torchtrajectory_spark.engine import Engine
from torchtrajectory_spark.operators.index import (
    IndexPaths,
    WRITER_LOCK_FILENAME,
    _committed_marker_names,
    _done_segments,
    _rehome_segments,
    _tombstone_gens,
    add_documents,
    build_index,
    delete_docs,
    open_snapshot,
    read_doc_stats,
    read_manifest,
    tombstone_ids,
)
from torchtrajectory_spark.operators.wand import (
    _corpus_scalars,
    query_term_meta,
    topk_bm25_index,
)
from torchtrajectory_spark.sources.corpus import synth_corpus

N = 120
BUCKETS = 4
Q = ["def", "return"]
K = 5


@pytest.fixture(scope="module")
def corpus(spark):
    return synth_corpus(spark, N, partitions=4)


@pytest.fixture(scope="module")
def idx(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("hardidx"))
    build_index(spark, corpus, d, id_col="doc_id", text_col="content",
                analyzer="code", meta_cols=("repo", "lang"),
                n_segments=2, buckets=BUCKETS)
    return d


def _garbage_marker(index_dir: str, name: str) -> str:
    """Plant a half-written staging marker dir like a crashed writer."""
    p = os.path.join(index_dir, "manifest", name)
    os.makedirs(p, exist_ok=True)
    with open(os.path.join(p, "part-0.parquet"), "wb") as f:
        f.write(b"PAR1 this is not a parquet footer")
    return p


def test_staged_marker_invisible_to_all_manifest_readers(spark, idx, corpus):
    baseline = read_manifest(spark, idx).count()
    before = [(r["doc_id"], round(r["score"], 9))
              for r in topk_bm25_index(spark, idx, Q, K).collect()]
    junk = [
        _garbage_marker(idx, "segment=2.__tmp__"),     # staged marker
        _garbage_marker(idx, "segment=zz"),            # stray name
    ]
    try:
        assert _committed_marker_names(
            os.path.join(idx, "manifest")) == ["segment=0", "segment=1"]
        # read_manifest: would crash on the garbage parquet if globbed
        assert read_manifest(spark, idx).count() == baseline
        assert _done_segments(spark, IndexPaths(idx)) == {0, 1}
        # full query path: stats AND data reads ignore the staging dirs
        now = [(r["doc_id"], round(r["score"], 9))
               for r in topk_bm25_index(spark, idx, Q, K).collect()]
        assert now == before
    finally:
        for p in junk:
            shutil.rmtree(p, ignore_errors=True)


def test_staged_marker_invisible_before_first_commit(spark, tmp_path):
    """The PRE-FIRST-COMMIT window: an index whose manifest holds ONLY a
    writer's ``.__tmp__`` staging dir (racing the very first segment
    commit, or a crashed first build). The zero-committed-segments
    fallback must surface the historical no-such-index error, never scan
    the half-written staging parquet (torn statistics / footer crash)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException

    from torchtrajectory_spark.operators.index import _write_index_config

    idx = str(tmp_path / "fresh_idx")
    _garbage_marker(idx, "segment=0.__tmp__")
    # data-side debris too: half-written postings under a staging name
    pdir = os.path.join(idx, "postings", "segment=0.__tmp__")
    os.makedirs(pdir)
    with open(os.path.join(pdir, "part-0.parquet"), "wb") as f:
        f.write(b"PAR1 not a footer")
    # build_index writes the config BEFORE the segment loop, so a
    # crashed first build leaves it behind
    _write_index_config(idx, {"buckets": BUCKETS, "analyzer": "code"})
    with pytest.raises((AnalysisException, Py4JJavaError)) as ei:
        read_manifest(spark, idx).count()
    assert "PATH_NOT_FOUND" in str(ei.value) or "Path does not exist" \
        in str(ei.value)
    with pytest.raises((AnalysisException, Py4JJavaError)):
        topk_bm25_index(spark, idx, Q, K).collect()


def test_tombstone_tmp_dir_invisible_and_collected(spark, idx, corpus):
    import time

    from torchtrajectory_spark.operators import index as index_mod

    tdir = os.path.join(idx, index_mod.TOMBSTONES_DIRNAME)
    os.makedirs(tdir, exist_ok=True)
    stale = os.path.join(tdir, "del=7.__tmp__4242")
    os.makedirs(stale, exist_ok=True)
    with open(os.path.join(stale, "part-0.parquet"), "wb") as f:
        f.write(b"garbage")
    # invisible to generation listing and id reads: no committed
    # generations yet, so readers must see NO tombstones despite the
    # debris (the r4 phantom-delete / ValueError-brick hazard)
    assert _tombstone_gens(idx) == ()
    assert tombstone_ids(idx) is None
    # a delete still commits cleanly with the debris present, numbering
    # from the real generations only
    n = delete_docs(spark, idx, [1, 2])
    assert n == 2
    gens = _tombstone_gens(idx)
    assert gens and all("__tmp__" not in g for g in gens)
    # age-gated GC: young tmp dirs survive (a live deleter's window) ...
    assert os.path.isdir(stale)
    # ... old ones are collected on the next delete
    old = time.time() - 2 * index_mod._TOMBSTONE_TMP_GC_AGE_SEC
    os.utime(stale, (old, old))
    delete_docs(spark, idx, [3])
    assert not os.path.isdir(stale)
    ids = tombstone_ids(idx)
    assert sorted(ids.tolist()) == [1, 2, 3]


def test_rehome_refuses_committed_destination(spark, corpus,
                                              tmp_path_factory):
    a = str(tmp_path_factory.mktemp("reh_a"))
    b = str(tmp_path_factory.mktemp("reh_b"))
    build_index(spark, corpus.where(F.col("doc_id") < 60), a,
                id_col="doc_id", text_col="content", analyzer="code",
                n_segments=1, buckets=BUCKETS)
    build_index(spark, corpus.where(F.col("doc_id") >= 60), b,
                id_col="doc_id", text_col="content", analyzer="code",
                n_segments=1, buckets=BUCKETS)
    stats_before = read_doc_stats(spark, a).count()
    with pytest.raises(FileExistsError, match="COMMITTED segment 0"):
        _rehome_segments(spark, b, IndexPaths(a), start_seg=0)
    # the committed segment's data survived the refused attempt
    assert read_doc_stats(spark, a).count() == stats_before


def test_add_documents_single_writer_lock(spark, corpus,
                                          tmp_path_factory):
    d = str(tmp_path_factory.mktemp("lockidx"))
    build_index(spark, corpus.where(F.col("doc_id") < 60), d,
                id_col="doc_id", text_col="content", analyzer="code",
                meta_cols=("repo", "lang"), n_segments=1, buckets=BUCKETS)
    lock = os.path.join(d, WRITER_LOCK_FILENAME)
    with open(lock, "w") as f:
        f.write("pid=99999\n")
    try:
        with pytest.raises(RuntimeError, match="another writer"):
            add_documents(spark, d, corpus.where(F.col("doc_id") >= 60),
                          meta_cols=("repo", "lang"))
    finally:
        os.unlink(lock)
    # lock released -> add succeeds, and releases its own lock after
    assert add_documents(spark, d, corpus.where(F.col("doc_id") >= 60),
                         meta_cols=("repo", "lang")) == 1
    assert not os.path.exists(lock)


def test_chunk_uid_overflow_raises(spark):
    # reuse the registry's guarded uid construction with a doc_id past
    # the packed field width — must raise, not alias another doc
    from torchtrajectory_spark.plans import queries as qmod

    df = spark.createDataFrame(
        [(qmod._CHUNK_UID_MAX_DOC + 1, "alpha beta gamma")],
        "doc_id long, text string",
    )
    from torchtrajectory_spark.operators.textstats import chunk_documents

    oob = (F.col("chunk_id") >= qmod.CHUNK_UID_MUL) | \
          (F.col("doc_id") >= qmod._CHUNK_UID_MAX_DOC) | \
          (F.col("doc_id") < 0)
    guarded = chunk_documents(df, 2, 0).select(
        F.when(oob, F.raise_error(F.lit("chunk uid overflow"))
               .cast("long"))
        .otherwise(F.col("doc_id") * qmod.CHUNK_UID_MUL
                   + F.col("chunk_id")).alias("uid"))
    with pytest.raises(Exception, match="chunk uid overflow"):
        guarded.collect()


def test_search_rejects_midterm_patterns(spark, idx):
    eng = Engine.from_index(spark, idx)
    for bad in ("sp?rk", "sp*rk def", "def +x?y"):
        with pytest.raises(ValueError):
            eng.search(bad, k=3)
    # the supported trailing-'*' prefix still works
    assert eng.search("de* return", k=3).count() > 0


# ------------------------------------------------ one snapshot per query --
#
# Each scenario starts from a 60-doc index and commits the other 60 docs
# (``NEW``: only they hold the term ``zzdelta``). The reference is a
# fresh single build of the 120 docs: statistics are associative over
# segments, so a correct reader ranks and scores identically.

NEW_TERM = "zzdelta"


def _old(corpus):
    return corpus.where(F.col("doc_id") < 60)


def _new(corpus):
    return corpus.where(F.col("doc_id") >= 60).withColumn(
        "content", F.concat_ws(" ", "content", F.lit(NEW_TERM)))


def _build(spark, df, d, **kw):
    build_index(spark, df, d, id_col="doc_id", text_col="content",
                analyzer="code", meta_cols=("repo", "lang"), n_segments=1,
                buckets=BUCKETS, **kw)


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


@pytest.fixture(scope="module")
def union(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("race_union"))
    _build(spark, _old(corpus).unionByName(_new(corpus)), d)
    return d


def _assert_one_listing(spark, idx, union, dead=None):
    """The snapshot's segment ids, scalars, dictionary, postings and
    tombstones all describe the listing of the index as it is now."""
    snap = open_snapshot(spark, idx)
    assert snap.segments == (0, 1)
    assert snap.scalars == _corpus_scalars(spark, union)
    assert query_term_meta(spark, snap, Q + [NEW_TERM]) == \
        query_term_meta(spark, union, Q + [NEW_TERM])
    assert sorted(r["segment"] for r in
                  snap.postings.select("segment").distinct().collect()) \
        == [0, 1]
    # the segment tasks' reader reads exactly the listed segments' files
    files = snap.files("postings")
    assert sorted(files) == [0, 1]
    for s, fs in files.items():
        d = os.path.join(snap.root, "postings", f"segment={s}")
        assert fs and fs == sorted(os.path.join(d, f) for f in os.listdir(d)
                                   if f.endswith(".parquet"))
    assert (None if snap.tombstones is None
            else snap.tombstones.tolist()) == dead


def test_commit_by_another_process_seen_by_next_query(spark, corpus, union,
                                                      tmp_path_factory):
    """A segment renamed into place with no in-process call — as another
    process commits — is seen in full by the next free-function query,
    after the same query warmed every read of the index."""
    d = str(tmp_path_factory.mktemp("race_rename"))
    side = str(tmp_path_factory.mktemp("race_side"))
    _build(spark, _old(corpus), d)
    _build(spark, _new(corpus), side)
    delete_docs(spark, d, [3])
    ref = str(tmp_path_factory.mktemp("race_ref"))
    shutil.copytree(union, ref, dirs_exist_ok=True)
    delete_docs(spark, ref, [3])
    for q in (Q, [NEW_TERM]):
        _rows(topk_bm25_index(spark, d, q, K))  # warm
    src, dst = IndexPaths(side), IndexPaths(d)
    for a in ("postings", "doc_stats", "terms", "terms_sorted"):
        os.rename(src.seg(getattr(src, a), 0), dst.seg(getattr(dst, a), 1))
    marker = pq.read_table(src.seg(src.manifest, 0))
    marker = marker.set_column(
        marker.schema.get_field_index("segment"), "segment",
        pa.array([1], marker.schema.field("segment").type))
    tmp = dst.seg(dst.manifest, 1) + ".__tmp__"
    os.makedirs(tmp)
    pq.write_table(marker, os.path.join(tmp, "part-0.parquet"))
    os.rename(tmp, dst.seg(dst.manifest, 1))  # the commit
    for q in (Q, [NEW_TERM]):
        assert _rows(topk_bm25_index(spark, d, q, K)) == \
            _rows(topk_bm25_index(spark, ref, q, K))
    _assert_one_listing(spark, d, union, dead=[3])


def test_open_engine_sees_free_function_add(spark, corpus, union,
                                            tmp_path_factory):
    """An Engine kept open across a free-function ``add_documents``
    scores a term only the new segment holds exactly as a reopened
    Engine does."""
    d = str(tmp_path_factory.mktemp("race_add"))
    _build(spark, _old(corpus), d)
    eng = Engine.from_index(spark, d)
    assert _rows(eng.find_topk([NEW_TERM], 3)) == []  # memo: df 0
    eng.find_topk(Q, K).collect()
    add_documents(spark, d, _new(corpus), meta_cols=("repo", "lang"))
    for q in ([NEW_TERM], Q):
        got = _rows(eng.find_topk(q, 3))
        assert got == _rows(Engine.from_index(spark, d).find_topk(q, 3))
        assert got == _rows(topk_bm25_index(spark, union, q, 3))
    assert len(_rows(eng.find_topk([NEW_TERM], 3))) == 3
    _assert_one_listing(spark, d, union)


def test_rebuild_in_place_serves_new_data(spark, corpus, union,
                                          tmp_path_factory):
    """A ``resume=False`` rebuild into the same path recommits the same
    marker names; the next query must read the new data, not the plans
    or statistics of the old build."""
    d = str(tmp_path_factory.mktemp("race_rebuild"))
    _build(spark, _old(corpus), d)
    eng = Engine.from_index(spark, d)
    before = _rows(eng.find_topk(Q, K))
    _rows(topk_bm25_index(spark, d, Q, K))
    _build(spark, _old(corpus).unionByName(_new(corpus)), d, resume=False)
    want = _rows(topk_bm25_index(spark, union, Q, K))
    assert want != before
    assert _rows(eng.find_topk(Q, K)) == want
    assert _rows(topk_bm25_index(spark, d, Q, K)) == want
    assert open_snapshot(spark, d).scalars == _corpus_scalars(spark, union)


def test_delete_keeps_term_meta_memo(spark, corpus, tmp_path_factory,
                                     monkeypatch):
    """A delete changes no statistic: the snapshot after it keeps the
    term-meta memo, so a repeat query runs no dictionary lookup — and
    masks the deleted doc."""
    d = str(tmp_path_factory.mktemp("race_delete"))
    _build(spark, _old(corpus), d)
    eng = Engine.from_index(spark, d)
    first = _rows(eng.find_topk(Q, K))
    calls = []
    real = wand_mod._read_term_df

    def counting(*a, **kw):
        calls.append(a)
        return real(*a, **kw)

    monkeypatch.setattr(wand_mod, "_read_term_df", counting)
    eng.delete([first[0][0]])
    again = _rows(eng.find_topk(Q, K))
    assert calls == []
    assert first[0][0] not in {doc for doc, _ in again}
    assert again == _rows(Engine.from_index(spark, d).find_topk(Q, K))
    assert calls == []


def test_concurrent_opens_see_whole_snapshots(spark, idx):
    """More threads than cores open snapshots while deletes commit: each
    snapshot's tombstones are exactly those of the generations in its
    listing, and a delete-only change keeps the segment set's memo."""
    import sys
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    from torchtrajectory_spark.operators.index import (
        _listing,
        _read_tombstones,
    )

    def ids(arr):
        return None if arr is None else arr.tolist()

    base = open_snapshot(spark, idx)
    stop = threading.Event()
    seen = [base]

    def reader():
        while not stop.is_set():
            seen.append(open_snapshot(spark, idx))

    n = 2 * (os.cpu_count() or 4)
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(n) as pool:
            futs = [pool.submit(reader) for _ in range(n)]
            for i in range(5):  # ids past the corpus: masks nothing
                delete_docs(spark, idx, [10_000 + i])
            final = _listing(os.path.abspath(idx))
            deadline = time.monotonic() + 60
            while (seen[-1].identity != final
                   and time.monotonic() < deadline):
                time.sleep(0.01)
            stop.set()
            for f in futs:
                f.result(timeout=120)
    finally:
        stop.set()
        sys.setswitchinterval(prev)
    assert seen[-1].identity == final
    for snap in seen:
        assert snap.memo is base.memo and snap.segments == base.segments
        assert ids(snap.tombstones) == ids(
            _read_tombstones(idx, snap.identity[1]))


def test_query_term_meta_buckets_is_a_check(spark, tmp_path):
    """The bucket count is the index's own: a wrong ``buckets`` raises
    instead of pruning the dictionary read to the wrong buckets (at 8 on
    a 16-bucket index only some of the terms were found), and the
    index's own value equals the call without it."""
    vocab = ["spark", "join", "hash", "table", "window", "batch"]
    rows = [(i, " ".join(vocab[(i + j) % len(vocab)]
                         for j in range(1 + i % 4))) for i in range(64)]
    d = str(tmp_path / "b16")
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    build_index(spark, docs, d, n_segments=2, buckets=16)
    q = ["hash", "join", "spark"]
    with pytest.raises(ValueError, match="buckets"):
        query_term_meta(spark, d, q, 8)
    meta = query_term_meta(spark, d, q)
    assert query_term_meta(spark, d, q, 16) == meta
    assert sorted(meta.term_df) == q


def test_free_function_memoizes_term_meta(spark, idx, monkeypatch):
    """Free-function callers share the snapshot's memo: a repeated
    ``topk_bm25_index`` reads the dictionary once, and ``explain_score``
    on the same terms afterwards reads it not at all."""
    from torchtrajectory_spark.operators.wand import explain_score

    calls = []
    real = wand_mod._read_term_df
    monkeypatch.setattr(wand_mod, "_read_term_df",
                        lambda *a, **kw: calls.append(a) or real(*a, **kw))
    q = Q + ["zz_memo_probe"]  # a term set no other test reads
    first = _rows(topk_bm25_index(spark, idx, q, K))
    assert _rows(topk_bm25_index(spark, idx, q, K)) == first
    assert len(calls) == 1
    parts = explain_score(spark, idx, q, first[0][0]).collect()
    assert len(calls) == 1
    assert abs(sum(r["contribution"] for r in parts) - first[0][1]) < 1e-9


def test_add_verify_disjoint_leaves_no_temp_snapshot(spark, corpus,
                                                     tmp_path_factory):
    """``add_documents(verify_disjoint=True)`` reads its temporary build
    and then deletes it; no memoized snapshot may keep naming it."""
    from torchtrajectory_spark.operators.index import _SNAPSHOTS

    d = str(tmp_path_factory.mktemp("addtmp")) + "/idx"
    _build(spark, _old(corpus), d)
    add_documents(spark, d, _new(corpus), verify_disjoint=True)
    assert not [key for key in _SNAPSHOTS if "__add_tmp__" in key[1]]
    assert read_doc_stats(spark, d).count() == N
