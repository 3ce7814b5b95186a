"""Segment tasks read their own postings.

An index whose postings files are one task's worth of data
(``IndexSnapshot.one_task``) is queried by one task that reads every
segment's blocks itself (``index._read_bucketed``): one Spark job, no
postings shuffle, and a dictionary read with no job. A larger index keeps
the Spark scan. These tests pin the rule, the job count, the equality of
the two plans, the side-frame (doc_stats) path on segments that lack
blocks or side rows, and zero-posting segments.
"""

from __future__ import annotations

import os
import random
import shutil
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from torchtrajectory_spark.engine import Engine
from torchtrajectory_spark.operators import wand
from torchtrajectory_spark.operators.index import (
    _read_bucketed,
    build_index,
    merge_indexes,
    open_snapshot,
)
from torchtrajectory_spark.operators.phrase import _POS_COLS

N_SEG = 3
WORDS = ["alpha", "beta", "gamma", "delta", "omega"]
ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


def _build(spark, rows, d, n_segments=N_SEG):
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    build_index(spark, df, d, id_col="doc_id", text_col="text",
                analyzer="ws", meta_cols=("lang",), n_segments=n_segments,
                buckets=8, with_positions=True, resume=False)


@pytest.fixture(scope="module")
def corpus(spark):
    """60 docs; doc ``i`` of segment ``s`` also holds the term ``seg<s>``,
    so each ``seg<s>`` term is absent from every other segment."""
    ids = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.pmod(F.xxhash64(F.col("id")), F.lit(N_SEG)).alias("s"))
    rng = random.Random(7)
    rows = []
    for r in sorted(ids.collect()):
        words = [rng.choice(WORDS) for _ in range(rng.randint(3, 12))]
        rows.append((r["doc_id"], " ".join(words + [f"seg{r['s']}"]),
                     ("en", "fr", "de")[r["doc_id"] % 3]))
    return rows, {r["doc_id"]: r["s"] for r in ids.collect()}


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("segread_idx"))
    _build(spark, corpus[0], d)
    return d


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _queries(eng):
    """One of each indexed query family, as collected rows."""
    return {
        "plain": _rows(eng.find_topk(["alpha", "beta"], 7)),
        "batch": sorted(_rows(eng.find_topk_many(
            {"a": ["alpha", "beta"], "b": ["seg1"], "c": ["omega"]}, 5))),
        "predicate": _rows(eng.find_topk(["alpha", "gamma"], 7,
                                         where=F.col("lang") == "en")),
        "boolean": _rows(eng.find_topk_boolean(["alpha"], 7,
                                               must=["beta"],
                                               must_not=["delta"])),
        "phrase": _rows(eng.find_topk_phrase(["alpha", "beta"], 7)),
        "collapse": _rows(eng.find_topk_collapse(["gamma"], "lang", 3)),
    }


@contextmanager
def _conf(spark, conf: dict):
    """Spark confs set for the block only."""
    prev = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def _jobs(spark, name, fn):
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(name))


def test_one_job_per_indexed_query(spark, index):
    """A warm top-k, a cold one (term-set memo miss: the dictionary read
    is driver-side) and a batch each run exactly one Spark job."""
    assert open_snapshot(spark, index).one_task()
    eng = Engine.from_index(spark, index)
    eng.find_topk(["alpha", "beta"], 5).collect()  # warm the memo
    assert _jobs(spark, "segread-warm",
                 lambda: eng.find_topk(["alpha", "beta"], 5).collect()) == 1
    assert frozenset(["gamma", "seg2"]) not in open_snapshot(
        spark, index).memo
    assert _jobs(spark, "segread-cold",
                 lambda: eng.find_topk(["gamma", "seg2"], 5).collect()) == 1
    assert _jobs(spark, "segread-many", lambda: eng.find_topk_many(
        {"a": ["alpha"], "b": ["beta", "omega"], "c": ["seg0"]},
        5).collect()) == 1


def _postings_bytes(snap):
    return sum(os.path.getsize(f)
               for fs in snap.files("postings").values() for f in fs)


def test_one_task_rule(spark, index):
    """One task = the postings files' sizes sum to at most AQE's
    advisory partition size."""
    snap = open_snapshot(spark, index)
    need = _postings_bytes(snap)
    with _conf(spark, {ADVISORY: need}):
        assert snap.one_task()
    with _conf(spark, {ADVISORY: need - 1}):
        assert not snap.one_task()


def test_spark_scan_returns_the_one_task_rows(spark, index):
    """One byte over one task, every query family runs on the Spark
    scan (and a cold dictionary read on a Spark job) and returns exactly
    the rows of the one-task read."""
    snap = open_snapshot(spark, index)
    assert snap.one_task()
    eng = Engine.from_index(spark, index)
    one = _queries(eng)
    plan = eng.find_topk(["alpha"], 3)._jdf.queryExecution()
    assert "FileScan" not in plan.executedPlan().toString()
    snap.memo.clear()
    with _conf(spark, {ADVISORY: _postings_bytes(snap) - 1}):
        assert not snap.one_task()
        plan = eng.find_topk(["alpha"], 3)._jdf.queryExecution()
        assert "FileScan parquet" in plan.executedPlan().toString()
        many = _queries(eng)
    assert all(one.values())
    assert many == one


def test_term_absent_from_segments(spark, index, corpus):
    """``seg1`` has blocks in segment 1 only: the other segments read
    zero rows, with the column types of a non-empty read and of the
    Spark scan, and the ranking is that of segment 1's docs."""
    snap = open_snapshot(spark, index)
    files = snap.files("postings")
    for cols in (wand._SCORE_COLS, _POS_COLS, ("term", "n_docs")):
        full = _read_bucketed(files[1], ["seg1"], snap.buckets,
                              cols).to_pandas()
        spark_side = snap.postings.where(F.col("term") == "seg1").select(
            *cols).toPandas()
        assert len(full) == len(spark_side) > 0
        for s in (0, 2):
            empty = _read_bucketed(files[s], ["seg1"], snap.buckets,
                                   cols).to_pandas()
            assert len(empty) == 0
            assert dict(empty.dtypes) == dict(full.dtypes)
        assert dict(full.dtypes) == dict(spark_side.dtypes)
        assert dict(_read_bucketed([], ["seg1"], snap.buckets, cols)
                    .to_pandas().dtypes) == dict(full.dtypes)
    terms = _read_bucketed(snap.files("terms")[0], ["seg1"], snap.buckets,
                           ("term", "df")).to_pandas()
    assert len(terms) == 0 and str(terms["df"].dtype) == "int64"

    eng = Engine.from_index(spark, index)
    seg_of = corpus[1]
    got = _rows(eng.find_topk(["seg1"], 100))
    assert sorted(d for d, _ in got) == sorted(
        d for d, s in seg_of.items() if s == 1)


def test_side_frame_segments_without_blocks_or_side_rows(spark, index,
                                                          corpus):
    """A predicate admitting only segment 0's docs leaves segments 1 and
    2 with blocks but no side rows; a term of segment 1 under a language
    predicate leaves segments 0 and 2 with side rows but no blocks. Both
    rank exactly the admitted docs of the unfiltered ranking."""
    rows, seg_of = corpus
    eng = Engine.from_index(spark, index)

    def filtered(q, allowed, k):
        return [r for r in _rows(eng.find_topk(q, 1000))
                if r[0] in allowed][:k]

    seg0 = sorted(d for d, s in seg_of.items() if s == 0)
    got = _rows(eng.find_topk(["alpha", "beta"], 6,
                              where=F.col("doc_id").isin(seg0)))
    assert got and got == filtered(["alpha", "beta"], set(seg0), 6)
    en = {d for d, _, lang in rows if lang == "en"}
    got = _rows(eng.find_topk(["seg1"], 6, where=F.col("lang") == "en"))
    assert got and got == filtered(["seg1"], en, 6)


@pytest.fixture(scope="module", params=["empty_table", "no_directory"])
def zero_posting(request, spark, corpus, index, tmp_path_factory):
    """(index with a zero-posting segment 3, single build of the same
    docs). The zero-posting segment is re-homed by ``merge_indexes`` from
    an index of empty documents: with its empty committed tables, or
    with no postings and terms directories at all."""
    base = tmp_path_factory.mktemp(f"zero_{request.param}")
    empties = [(1000 + i, "", ("en", "fr")[i % 2]) for i in range(10)]
    src = str(base / "empties")
    _build(spark, empties, src, n_segments=1)
    if request.param == "no_directory":
        for kind in ("postings", "terms"):
            shutil.rmtree(os.path.join(src, kind, "segment=0"))
    merged = str(base / "merged")
    merge_indexes(spark, [index, src], merged)
    ref = str(base / "ref")
    _build(spark, corpus[0] + empties, ref)
    return merged, ref


def test_zero_posting_segment(spark, zero_posting):
    merged, ref = zero_posting
    snap = open_snapshot(spark, merged)
    assert snap.segments == (0, 1, 2, 3)
    blk = _read_bucketed(snap.files("postings")[3], ["alpha"], snap.buckets,
                         wand._SCORE_COLS).to_pandas()
    full = _read_bucketed(snap.files("postings")[0], ["alpha"],
                          snap.buckets, wand._SCORE_COLS).to_pandas()
    assert len(blk) == 0 and len(full) > 0
    assert dict(blk.dtypes) == dict(full.dtypes)
    got, want = (_queries(Engine.from_index(spark, d)) for d in (merged, ref))
    assert all(want.values())
    assert got == want
    # the zero-posting segment's docs are side rows with no blocks
    allow = F.col("doc_id").isin([1000, 1001, 3, 4, 5])
    assert _rows(Engine.from_index(spark, merged).find_topk(
        ["alpha"], 5, where=allow)) == _rows(
        Engine.from_index(spark, ref).find_topk(["alpha"], 5, where=allow))
