"""Index build invariants, WAND rank-identity, resume (FIXTURES.md §5)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from torchtrajectory_spark.functions import codec
from torchtrajectory_spark.operators.index import (
    build_index,
    postings_flat,
    read_doc_stats,
    read_manifest,
    read_postings,
)
from torchtrajectory_spark.operators.stats import term_freqs, tokenized
from torchtrajectory_spark.operators.topk import topk_bm25
from torchtrajectory_spark.operators.wand import topk_bm25_index
from torchtrajectory_spark.sources.corpus import synth_corpus

N_ROWS = 400
BUCKETS = 8
SEGS = 3


@pytest.fixture(scope="module")
def corpus(spark):
    return synth_corpus(spark, N_ROWS, partitions=8)


@pytest.fixture(scope="module")
def index_dir(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    build_index(
        spark, corpus, d,
        id_col="doc_id", text_col="content", analyzer="code",
        meta_cols=("repo", "path", "commit", "lang"),
        n_segments=SEGS, buckets=BUCKETS,
    )
    return d


def test_manifest_complete(spark, index_dir):
    m = read_manifest(spark, index_dir).toPandas()
    assert sorted(m["segment"]) == list(range(SEGS))
    assert (m["status"] == "ok").all()
    assert (m["row_count"] > 0).all()
    assert (m["bytes"] > 0).all()
    assert m["row_count"].sum() == N_ROWS


def test_postings_flat_equals_term_freqs(spark, corpus, index_dir):
    """Decoded index == direct DataFrame term frequencies (lossless)."""
    flat = postings_flat(spark, index_dir).select("term", "doc_id", "tf")
    direct = term_freqs(
        tokenized(corpus, "doc_id", "content", "code")
    ).select("term", "doc_id", F.col("tf").cast("bigint").alias("tf"))
    assert flat.subtract(direct).count() == 0
    assert direct.subtract(flat).count() == 0


def test_block_invariants(spark, index_dir):
    """Blocks sorted by docID; metadata brackets members; max_tf/min_dl sound."""
    rows = read_postings(spark, index_dir).collect()
    assert rows
    seen_salted = False
    for r in rows:
        docs = codec.decode_sorted(bytes(r["doc_gaps"]))
        tfs = codec.decode_u32s(bytes(r["tfs"]))
        dls = codec.decode_u32s(bytes(r["dls"]))
        assert (np.diff(docs) > 0).all()  # strictly increasing (unique docs)
        assert docs[0] == r["first_doc"] and docs[-1] == r["last_doc"]
        assert len(docs) == r["n_docs"] == len(tfs) == len(dls)
        assert tfs.max() == r["max_tf"]
        assert dls.min() == r["min_dl"]
        assert len(docs) <= 128
        if r["salt"] > 0:
            seen_salted = True
    assert seen_salted, "Zipf corpus must trigger hot-term salting"


def test_doc_stats_sha_invariant(spark, corpus, index_dir):
    """Per-row content sha256 from the index == recomputed from source."""
    ds = read_doc_stats(spark, index_dir).select("doc_id", "content_sha256")
    src = corpus.select("doc_id", F.sha2("content", 256).alias("content_sha256"))
    assert ds.subtract(src).count() == 0
    assert src.subtract(ds).count() == 0


@pytest.mark.parametrize(
    "q,k",
    [
        (["def", "return", "id_0"], 10),
        (["id_100", "id_2000"], 5),
        (["class"], 25),
        (["nosuchtermxyz"], 10),
        (["def", "def", "import"], 10),  # duplicate query terms
    ],
)
def test_wand_rank_identical_to_brute(spark, corpus, index_dir, q, k):
    got = topk_bm25_index(spark, index_dir, q, k).collect()
    exp = (
        topk_bm25(corpus, q, k, id_col="doc_id", text_col="content",
                  analyzer="code")
        .collect()
    )
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in exp]
    # scores: brute path exposes score_u6; recompute comparison at 1e-9
    got_scores = {r["doc_id"]: r["score"] for r in got}
    for r in exp:
        assert abs(got_scores[r["doc_id"]] * 1e6 - r["score_u6"]) < 1.0


def test_resume_byte_identical(spark, corpus, tmp_path_factory):
    """Kill after 1 segment, resume; postings logically identical to a
    single uninterrupted build; exactly one ok attempt per segment."""
    d_full = str(tmp_path_factory.mktemp("idx_full"))
    d_resume = str(tmp_path_factory.mktemp("idx_resume"))
    kw = dict(id_col="doc_id", text_col="content", analyzer="code",
              n_segments=SEGS, buckets=BUCKETS)
    build_index(spark, corpus, d_full, **kw)
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, corpus, d_resume, fail_after_segments=1, **kw)
    m = read_manifest(spark, d_resume).toPandas()
    assert len(m) == 1  # only the committed segment
    build_index(spark, corpus, d_resume, **kw)  # resume fills the rest
    m2 = read_manifest(spark, d_resume).toPandas()
    assert sorted(m2["segment"]) == list(range(SEGS))
    assert (m2["attempt"] == 1).all()
    cols = ["segment", "bucket", "term", "salt", "block_id", "n_docs",
            "first_doc", "last_doc", "max_tf", "min_dl",
            "doc_gaps", "tfs", "dls"]
    a = read_postings(spark, d_full).select(*cols)
    b = read_postings(spark, d_resume).select(*cols)
    assert a.subtract(b).count() == 0
    assert b.subtract(a).count() == 0


def test_skew_salting_bounds_sublists(spark, index_dir):
    """No (term, salt) sub-list of a hot term dwarfs the others (FIXTURES §5)."""
    p = read_postings(spark, index_dir)
    hot = (
        p.groupBy("segment", "term")
        .agg(F.countDistinct("salt").alias("nsalts"), F.sum("n_docs").alias("nd"))
        .where(F.col("nsalts") > 1)
        .collect()
    )
    assert hot, "expected salted hot terms"
    sizes = (
        p.join(
            spark.createDataFrame(
                [(r["segment"], r["term"]) for r in hot], "segment int, term string"
            ),
            ["segment", "term"],
        )
        .groupBy("segment", "term", "salt")
        .agg(F.sum("n_docs").alias("nd"))
        .toPandas()
    )
    for _key, g in sizes.groupby(["segment", "term"]):
        assert g["nd"].max() <= 4 * max(1.0, g["nd"].mean())


def test_index_results_partition_invariant(spark, tmp_path):
    """Query results must not depend on how the input corpus was
    partitioned at build time (mini-block layout may differ; scores and
    ranks may not)."""
    from torchtrajectory_spark.operators.index import build_index
    from torchtrajectory_spark.operators.wand import topk_bm25_index
    from torchtrajectory_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    q = ["spark", "join", "window"]
    results = []
    for nparts in (2, 7):
        out = str(tmp_path / f"idx_p{nparts}")
        build_index(spark, docs.repartition(nparts), out, id_col="doc_id",
                    text_col="text", analyzer="ws", n_segments=2, buckets=8,
                    resume=False)
        rows = topk_bm25_index(spark, out, q, 10).collect()
        results.append([(r["doc_id"], round(r["score"], 9)) for r in rows])
    assert results[0] == results[1]


def test_reference_query_set_rank_identical(spark, corpus, index_dir):
    """The full bench reference query set: indexed top-k docIDs AND scores
    must match the brute-force BM25 scorer (north-rule rank-identity)."""
    import bench

    for q in bench.QUERY_SET:
        got = topk_bm25_index(spark, index_dir, q, 10).collect()
        exp = topk_bm25(corpus, q, 10, id_col="doc_id",
                        text_col="content", analyzer="code").collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in exp], q
        for g, e in zip(got, exp):
            assert abs(g["score"] * 1e6 - e["score_u6"]) < 1.0, q


def test_compact_index_preserves_results(spark, corpus, index_dir,
                                         tmp_path_factory):
    """Compacting 3 segments into 1 preserves every posting, the query
    results, the doc store, and the composed manifest metrics."""
    from torchtrajectory_spark.operators.index import (
        compact_index,
        read_terms,
    )

    dst = str(tmp_path_factory.mktemp("compacted"))
    compact_index(spark, index_dir, dst)

    cols = ["term", "doc_id", "tf", "dl"]
    a = postings_flat(spark, index_dir).select(*cols)
    b = postings_flat(spark, dst).select(*cols)
    assert a.subtract(b).count() == 0
    assert b.subtract(a).count() == 0

    q = ["def", "return", "id_0"]
    got = topk_bm25_index(spark, dst, q, 10).collect()
    exp = topk_bm25_index(spark, index_dir, q, 10).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == \
           [(r["doc_id"], round(r["score"], 9)) for r in exp]

    m_src = read_manifest(spark, index_dir).toPandas()
    m_dst = read_manifest(spark, dst).toPandas()
    assert len(m_dst) == 1
    assert m_dst["row_count"].iloc[0] == m_src["row_count"].sum()
    fp = 0
    for h in m_src["input_fingerprint"]:
        fp ^= int(h, 16)
    assert m_dst["input_fingerprint"].iloc[0] == format(fp, "016x")

    df_src = read_terms(spark, index_dir).groupBy("term").agg(
        F.sum("df").alias("df"))
    df_dst = read_terms(spark, dst).groupBy("term").agg(
        F.sum("df").alias("df"))
    assert df_src.subtract(df_dst).count() == 0


def test_write_debug_index_roundtrip(spark, tmp_path):
    """S8: the uncompressed debug sink equals the decoded index."""
    from torchtrajectory_spark.operators.index import (
        build_index, postings_flat, write_debug_index,
    )

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b c"), (3, "a c c")],
        "doc_id bigint, text string",
    )
    d = str(tmp_path / "dbg_idx")
    build_index(spark, df, d, id_col="doc_id", text_col="text",
                n_segments=1, buckets=2, resume=False)
    out = str(tmp_path / "dbg_flat")
    write_debug_index(spark, d, out)
    got = spark.read.parquet(out).toPandas().sort_values(
        ["term", "doc_id"]).reset_index(drop=True)
    exp = postings_flat(spark, d).toPandas().sort_values(
        ["term", "doc_id"]).reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(got, exp)


@pytest.mark.parametrize("with_positions", [False, True],
                         ids=["tf", "positions"])
def test_segments_equal_single_segment_builds(spark, corpus, index_dir,
                                              tmp_path_factory,
                                              with_positions):
    """The one-pass build shares its map, shuffle and doc_stats pass
    across segments; segment ``s`` must still equal a one-segment build
    of exactly its shard of the corpus: every block column, doc_stats,
    and the manifest fingerprint, row_count and sum_dl."""
    meta = ("repo", "path", "commit", "lang")
    kw = dict(id_col="doc_id", text_col="content", analyzer="code",
              meta_cols=meta, buckets=BUCKETS,
              with_positions=with_positions)
    full = index_dir
    if with_positions:
        full = str(tmp_path_factory.mktemp("idx_pos"))
        build_index(spark, corpus, full, n_segments=SEGS, **kw)
    cols = ["bucket", "term", "salt", "block_id", "n_docs", "first_doc",
            "last_doc", "max_tf", "min_dl", "doc_gaps", "tfs", "dls"]
    if with_positions:
        cols.append("poss")
    m_full = read_manifest(spark, full).toPandas().set_index("segment")
    for s in range(SEGS):
        one = str(tmp_path_factory.mktemp(f"idx_shard{s}"))
        shard = corpus.where(
            F.pmod(F.xxhash64(F.col("doc_id")), F.lit(SEGS)) == s)
        build_index(spark, shard, one, n_segments=1, **kw)
        for read, c in ((read_postings, cols), (read_doc_stats, None)):
            a = read(spark, full).where(F.col("segment") == s)
            b = read(spark, one)
            a, b = (x.select(*c) if c else x.drop("segment") for x in (a, b))
            assert a.count() > 0
            assert a.subtract(b).count() == 0
            assert b.subtract(a).count() == 0
        m_one = read_manifest(spark, one).first()
        for f in ("input_fingerprint", "row_count", "sum_dl"):
            assert m_full.loc[s, f] == m_one[f], (s, f)


def test_min_input_partitions_resplits_and_preserves_results(
        spark, tmp_path):
    """An under-split corpus (1 input partition) built with
    ``min_input_partitions`` must produce the same query results as the
    plain build — the guard only changes parallelism, never content."""
    from torchtrajectory_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    q = ["spark", "join", "window"]
    results = []
    for name, kw in (("plain", {}),
                     ("guarded", {"min_input_partitions": 8})):
        out = str(tmp_path / f"idx_{name}")
        build_index(spark, docs.coalesce(1), out, id_col="doc_id",
                    text_col="text", analyzer="ws", n_segments=1,
                    buckets=8, resume=False, **kw)
        rows = topk_bm25_index(spark, out, q, 10).collect()
        results.append([(r["doc_id"], round(r["score"], 9)) for r in rows])
    assert results[0] == results[1]


def test_bench_corpus_table_file_count_cores_independent(spark, tmp_path,
                                                         monkeypatch):
    """The bench's shared scaling corpus must be written with a fixed,
    cores-independent file count — a single-file layout gives the wider
    config one input split and the measured efficiency collapses to the
    file layout, not the engine (BASELINE.md round-3 incident)."""
    import glob

    import bench

    monkeypatch.setattr(bench, "_CORPUS_TABLES", {})
    path = bench._corpus_table(spark, 300)
    files = glob.glob(path + "/part-*.parquet")
    assert len(files) >= 16, f"under-split bench corpus: {len(files)} files"


def test_batch_topk_rank_identical_to_single(spark, corpus, index_dir):
    """topk_bm25_index_many must return, per query, exactly the rows the
    single-query scorer returns — one shared postings decode, zero
    semantic drift."""
    import bench

    from torchtrajectory_spark.operators.wand import topk_bm25_index_many

    queries = {f"q{i:02d}": q for i, q in enumerate(bench.QUERY_SET)}
    queries["q_unknown"] = ["zzz_not_a_term_zzz"]
    batch = topk_bm25_index_many(
        spark, index_dir, queries, 10
    ).collect()
    by_q: dict[str, list] = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append(
            (r["doc_id"], round(r["score"], 9)))
    for qid, q in queries.items():
        exp = [(r["doc_id"], round(r["score"], 9))
               for r in topk_bm25_index(spark, index_dir, q, 10).collect()]
        assert by_q.get(qid, []) == exp, qid


def test_index_stats_consistent(spark, corpus, index_dir, tmp_path):
    """index_stats derives from block metadata only and must agree with
    the manifest and the decoded index — on a positional index too,
    where both byte counts include the position payload."""
    from torchtrajectory_spark.operators.index import index_stats

    pos_dir = str(tmp_path / "idx_pos")
    build_index(spark, corpus, pos_dir, id_col="doc_id",
                text_col="content", analyzer="code", n_segments=SEGS,
                buckets=BUCKETS, with_positions=True)
    for d in (index_dir, pos_dir):
        st = index_stats(spark, d).toPandas().set_index("segment")
        assert sorted(st.index) == list(range(SEGS))
        assert st["row_count"].sum() == N_ROWS
        # postings == decoded (term, doc) pairs per segment
        flat_n = postings_flat(spark, d).count()
        assert st["postings"].sum() == flat_n
        assert (st["payload_bytes"] > 0).all()
        assert (st["compression_ratio"] > 1.0).all()
        m = read_manifest(spark, d).toPandas().set_index("segment")
        assert (st["blocks"] == m["block_count"]).all()
        assert (st["payload_bytes"] == m["bytes"]).all()


def test_index_stats_reports_empty_segment(spark, tmp_path):
    """A committed segment whose documents are all empty produces zero
    postings blocks — index_stats must still report it (manifest-driven
    join), with zeroed counters, so segment accounting always sums to the
    manifest (ADVICE r3)."""
    from torchtrajectory_spark.operators.index import index_stats

    empty = spark.createDataFrame(
        [(i, "") for i in range(20)], "doc_id long, content string"
    )
    d = str(tmp_path / "idx_empty")
    build_index(spark, empty, d, id_col="doc_id", text_col="content",
                analyzer="ws", n_segments=1, buckets=4, resume=False)
    st = index_stats(spark, d).toPandas()
    assert list(st["segment"]) == [0]
    assert int(st["row_count"].iloc[0]) == 20
    assert int(st["postings"].iloc[0]) == 0
    assert int(st["blocks"].iloc[0]) == 0
    assert st["compression_ratio"].isna().all()


def test_merge_indexes_rank_identical_to_single_build(spark, corpus,
                                                      index_dir,
                                                      tmp_path_factory):
    """Shard-then-combine: two independently built half-corpus indexes,
    merged at the metadata level, must answer every query rank- AND
    score-identically to the single build over the whole corpus (global
    BM25 stats are associative aggregates the query path already sums
    across segments)."""
    from torchtrajectory_spark.operators.index import merge_indexes

    base = tmp_path_factory.mktemp("merge")
    half = N_ROWS // 2
    parts = []
    for i, pred in enumerate([F.col("doc_id") < half,
                              F.col("doc_id") >= half]):
        d = str(base / f"shard{i}")
        build_index(
            spark, corpus.where(pred), d,
            id_col="doc_id", text_col="content", analyzer="code",
            meta_cols=("repo", "path", "commit", "lang"),
            n_segments=2, buckets=BUCKETS,
        )
        parts.append(d)
    merged = str(base / "merged")
    merge_indexes(spark, parts, merged, verify_disjoint=True)

    from torchtrajectory_spark.operators.index import read_manifest

    m = read_manifest(spark, merged)
    assert m.count() == 4  # 2 shards x 2 segments, re-homed 0..3
    assert sorted(r["segment"] for r in m.collect()) == [0, 1, 2, 3]
    assert m.agg(F.sum("row_count")).first()[0] == N_ROWS

    for q in (["def", "return"], ["class", "import", "id_0"], ["id_42"],
              ["zzz_absent"]):
        exp = [(r["doc_id"], round(r["score"], 9))
               for r in topk_bm25_index(spark, index_dir, q, 10).collect()]
        got = [(r["doc_id"], round(r["score"], 9))
               for r in topk_bm25_index(spark, merged, q, 10).collect()]
        assert got == exp

    # overlapping doc spaces must be rejected under verify_disjoint
    bad = str(base / "bad")
    with pytest.raises(ValueError, match="disjoint"):
        merge_indexes(spark, [parts[0], parts[0]], bad,
                      verify_disjoint=True)

    # config mismatch must be rejected outright
    other = str(base / "other_buckets")
    build_index(
        spark, corpus.where(F.col("doc_id") < 50), other,
        id_col="doc_id", text_col="content", analyzer="code",
        n_segments=1, buckets=BUCKETS * 2,
    )
    with pytest.raises(ValueError, match="buckets"):
        merge_indexes(spark, [parts[0], other], str(base / "bad2"))


def test_vectorized_emit_equals_groupby_reference():
    """The factorize+lexsort emit (r5: replaced the pandas groupby whose
    per-posting ``list`` aggregation was the 4-5x positional build
    multiplier) must produce EXACTLY the per-(doc, term) rows and the
    row-aligned ascending position stream of the obvious groupby — pure
    pandas, no Spark session."""
    import pandas as pd

    from torchtrajectory_spark.functions.tokenizer import tokenize_py
    from torchtrajectory_spark.operators.index import _emit_chunk_fn
    from torchtrajectory_spark.sources.corpus import gen_rows

    pdf = gen_rows(np.arange(120))
    # include an empty and a whitespace-only doc (must emit nothing)
    pdf.loc[3, "content"] = ""
    pdf.loc[7, "content"] = "   "

    rows, flat = _emit_chunk_fn("doc_id", "content", "code",
                                with_positions=True)(pdf)

    # reference: explicit per-doc token walk
    ref = {}
    for did, text in zip(pdf["doc_id"], pdf["content"]):
        toks = tokenize_py(text or "", "code")
        for p, t in enumerate(toks):
            ref.setdefault((did, t), [len(toks), []])[1].append(p)
    assert len(rows) == len(ref)
    tf = rows["tf"].to_numpy()
    bounds = np.concatenate(([0], np.cumsum(tf)))
    for i, (term, did, n, dl) in enumerate(
            zip(rows["term"], rows["doc_id"], tf, rows["dl"])):
        exp_dl, exp_pos = ref[(did, term)]
        assert dl == exp_dl and n == len(exp_pos)
        assert flat[bounds[i]:bounds[i + 1]].tolist() == exp_pos

    # tf-only variant: same rows, no stream
    rows2, flat2 = _emit_chunk_fn("doc_id", "content", "code")(pdf)
    assert flat2 is None
    a = rows.drop(columns=[]).sort_values(["doc_id", "term"]).reset_index(drop=True)
    b = rows2.sort_values(["doc_id", "term"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
