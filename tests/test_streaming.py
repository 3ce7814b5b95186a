"""Streaming index maintenance: incremental segments + windowed counts.

The streamed index must be indistinguishable from a batch-built one to
every query operator (same files, same manifest contract), and re-running
the stream after new input arrives must add ONLY new segments (the
exactly-once / resume property the reference's windowed rebuild lacks).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from torchtrajectory_spark.operators.index import (
    read_manifest,
    postings_flat,
)
from torchtrajectory_spark.sources.tables import load_table
from torchtrajectory_spark.streaming.stream_index import (
    sliding_term_counts,
    stream_index_build,
)

SF = "/root/testdata/sf0.001"
DOCS_SCHEMA = ("doc_id bigint, text string, lang string, source string, "
               "n_chars bigint")


@pytest.fixture(scope="module")
def chunked_input(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream_in")
    docs = load_table(spark, SF, "documents")
    for i, cond in enumerate([F.col("doc_id") % 3 == 0,
                              F.col("doc_id") % 3 == 1]):
        docs.where(cond).coalesce(1).write.parquet(
            str(root / f"chunk{i}.tmp")
        )
        # file-source streams list *files*; move the part file up
        part = [f for f in os.listdir(root / f"chunk{i}.tmp")
                if f.endswith(".parquet")][0]
        os.rename(root / f"chunk{i}.tmp" / part, root / f"chunk{i}.parquet")
    return str(root), docs


def test_stream_index_incremental(spark, chunked_input, tmp_path):
    root, docs = chunked_input
    idx = str(tmp_path / "stream_idx")

    stream_index_build(
        spark, os.path.join(root, "*.parquet"), idx, DOCS_SCHEMA,
        buckets=8, max_files_per_trigger=1,
    )
    m1 = read_manifest(spark, idx)
    segs1 = {r["segment"] for r in m1.select("segment").collect()}
    assert len(segs1) == 2  # one micro-batch (= segment) per input file

    got = postings_flat(spark, idx)
    exp_docs = docs.where(F.col("doc_id") % 3 != 2)
    assert (got.select("doc_id").distinct().count()
            == exp_docs.where(F.length("text") > 0).count())

    # late-arriving chunk: rerun with same checkpoint -> only new segment
    late = docs.where(F.col("doc_id") % 3 == 2).coalesce(1)
    late.write.parquet(str(tmp_path / "late.tmp"))
    part = [f for f in os.listdir(tmp_path / "late.tmp")
            if f.endswith(".parquet")][0]
    os.rename(str(tmp_path / "late.tmp" / part),
              os.path.join(root, "chunk2.parquet"))

    stream_index_build(
        spark, os.path.join(root, "*.parquet"), idx, DOCS_SCHEMA,
        buckets=8, max_files_per_trigger=1,
    )
    segs2 = {r["segment"] for r in
             read_manifest(spark, idx).select("segment").collect()}
    assert segs1 < segs2 and len(segs2) == 3

    # streamed index == batch truth on term/doc/tf rows
    from torchtrajectory_spark.operators.stats import term_freqs, tokenized

    flat = postings_flat(spark, idx).select("term", "doc_id", "tf")
    truth = term_freqs(tokenized(docs, "doc_id", "text", "ws")).select(
        "term", "doc_id", F.col("tf").cast("bigint").alias("tf")
    )
    assert flat.exceptAll(truth).count() == 0
    assert truth.exceptAll(flat).count() == 0


def test_streamed_index_queryable(spark, chunked_input, tmp_path):
    """A streamed index serves the same top-k as the brute-force scorer."""
    from torchtrajectory_spark.operators.topk import topk_bm25
    from torchtrajectory_spark.operators.wand import topk_bm25_index

    root, docs = chunked_input
    idx = str(tmp_path / "qidx")
    stream_index_build(spark, os.path.join(root, "chunk0.*"), idx,
                       DOCS_SCHEMA, buckets=8)
    sub = docs.where(F.col("doc_id") % 3 == 0)
    q = ["spark", "join", "window"]
    got = topk_bm25_index(spark, idx, q, 10).withColumn(
        "score_u6", F.round(F.col("score") * 1e6).cast("bigint")
    ).select("doc_id", "score_u6")
    exp = topk_bm25(sub, q, 10)
    assert [r.asDict() for r in got.collect()] == [
        r.asDict() for r in exp.collect()
    ]


def test_sliding_term_counts_matches_batch(spark, tmp_path):
    """Streaming windowed counts (complete mode) == batch window agg."""
    events = load_table(spark, SF, "events").select(
        "ts", F.col("event_type").alias("text")
    )
    src = str(tmp_path / "ev")
    events.coalesce(2).write.parquet(src)

    stream = spark.readStream.schema("ts timestamp, text string").parquet(src)
    out = sliding_term_counts(stream, window="7 days", ts_col="ts")
    q = (
        out.writeStream.format("memory").queryName("wincounts")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = spark.table("wincounts")

    exp = (
        events.select(
            F.window("ts", "7 days").alias("win"),
            F.explode(F.split(F.lower("text"), " ")).alias("term"),
        )
        .where(F.col("term") != "")
        .groupBy("win", "term")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"),
                F.col("win.end").alias("win_end"), "term", "n")
    )
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0
    assert got.count() > 0


def test_stateful_running_hops_matches_batch(spark, tmp_path):
    """applyInPandasWithState totals == batch user_hops after all input.

    Input arrives as two chronological chunks (state must bridge the
    batch boundary per user).
    """
    from torchtrajectory_spark.operators import trajectory
    from torchtrajectory_spark.streaming.stateful import running_user_hops

    events = load_table(spark, SF, "events")
    pts = trajectory.synth_points(events)
    cut = events.agg(F.expr("percentile(unix_micros(cast(ts as timestamp)), 0.5)")).first()[0]
    src = str(tmp_path / "pts")
    os.makedirs(src)
    pts.where(F.unix_micros(F.col("ts").cast("timestamp")) <= cut).coalesce(1).write.parquet(
        src + "/c0.tmp")
    pts.where(F.unix_micros(F.col("ts").cast("timestamp")) > cut).coalesce(1).write.parquet(
        src + "/c1.tmp")
    for i in range(2):
        d = f"{src}/c{i}.tmp"
        part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        os.rename(f"{d}/{part}", f"{src}/chunk{i}.parquet")

    stream = spark.readStream.schema(
        "user_id bigint, ts timestamp, event_id bigint, lat double, lng double"
    ).option("maxFilesPerTrigger", 1).parquet(src + "/*.parquet")
    q = (
        running_user_hops(stream)
        .writeStream.format("memory").queryName("hops")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    # last update per user wins
    got_pdf = spark.table("hops").toPandas()
    got = {}
    for _, r in got_pdf.iterrows():
        got[int(r["user_id"])] = (int(r["n_hops"]), int(r["total_m"]))

    exp = {
        r["user_id"]: (r["n_hops"], r["total_m"])
        for r in trajectory.user_hops(pts).collect()
    }
    assert got == exp


def test_stream_index_from_rate_source(spark, tmp_path):
    """S14: a non-file streaming source (rate — the Kafka Simulator
    analog) drives the same atomic segment commits."""
    import time

    from pyspark.sql import functions as F
    from torchtrajectory_spark.operators.index import read_doc_stats

    idx = str(tmp_path / "rate_idx")
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 200).option("numPartitions", 1).load()
        .select(
            F.col("value").alias("doc_id"),
            F.concat(F.lit("stream doc word"),
                     (F.col("value") % 7).cast("string")).alias("text"),
        )
    )
    q = stream_index_build(
        spark, index_dir=idx, source=rate, buckets=4,
        await_termination=False, processing_time="1 second",
    )
    try:
        deadline = time.monotonic() + 120  # generous: host is shared
        nseg = 0
        while time.monotonic() < deadline:
            try:
                nseg = read_manifest(spark, idx).select(
                    "segment").distinct().count()
            except Exception:
                nseg = 0
            if nseg >= 1:
                break
            time.sleep(1)
    finally:
        q.stop()
    assert nseg >= 1
    ds = read_doc_stats(spark, idx)
    assert ds.count() > 0
    flat = postings_flat(spark, idx)
    assert flat.where(F.col("term") == "stream").count() == ds.count()


def test_query_while_stream_commits(spark, tmp_path):
    """Concurrent readers (VERDICT r3 task #8): queries run WHILE the
    stream commits segments. The committed-segments-only read contract
    means every query must (a) never fail mid-commit and (b) see a doc
    count bracketed by the manifest totals sampled before and after it —
    i.e. always a consistent prefix of committed segments, never a
    half-written one."""
    import time

    from pyspark.sql import functions as F
    from torchtrajectory_spark.operators.index import read_doc_stats
    from torchtrajectory_spark.operators.wand import topk_bm25_index

    idx = str(tmp_path / "conc_idx")
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 300).option("numPartitions", 1).load()
        .select(
            F.col("value").alias("doc_id"),
            F.concat(F.lit("stream doc word"),
                     (F.col("value") % 7).cast("string")).alias("text"),
        )
    )
    q = stream_index_build(
        spark, index_dir=idx, source=rate, buckets=4,
        await_termination=False, processing_time="1 second",
    )

    def committed_docs() -> int:
        try:
            r = read_manifest(spark, idx).agg(
                F.sum("row_count").alias("n")).first()
            return int(r["n"] or 0)
        except Exception:
            return 0  # manifest dir not created yet

    try:
        deadline = time.monotonic() + 180  # generous: host is shared
        while committed_docs() == 0 and time.monotonic() < deadline:
            time.sleep(0.5)
        assert committed_docs() > 0, "stream never committed a segment"

        first = committed_docs()
        checks = 0
        grew = False
        # fresh budget for the check phase: a slow first commit on a
        # contended host must not eat the growth-observation window
        # (this exact coupling made the test flake 1-in-N under a loaded
        # full-suite run)
        deadline = time.monotonic() + 180
        while time.monotonic() < deadline and (checks < 5 or not grew):
            before = committed_docs()
            ds_n = read_doc_stats(spark, idx).count()
            rows = topk_bm25_index(spark, idx, ["stream", "word3"],
                                   5).collect()
            after = committed_docs()
            # consistent-prefix bracket: the reader saw some committed
            # snapshot between the two manifest samples
            assert before <= ds_n <= after, (before, ds_n, after)
            assert len(rows) == 5
            assert all(r["score"] > 0 for r in rows)
            checks += 1
            grew = grew or after > first
        assert checks >= 5
        assert grew, "no segment committed while queries were running"
    finally:
        q.stop()


def test_post_batch_hook_reclusters(spark, chunked_input, tmp_path):
    """R3: a per-batch re-processing job (here: token histogram refresh,
    the re-clustering slot) runs after each segment commit."""
    import os

    root, _docs = chunked_input
    idx = str(tmp_path / "hook_idx")
    seen: list[tuple[int, int]] = []

    def recluster(batch_df, seg_id):
        n_terms = (
            batch_df.select(F.explode(F.split(F.lower("text"), " ")))
            .distinct().count()
        )
        seen.append((seg_id, n_terms))

    stream_index_build(
        spark, os.path.join(root, "*.parquet"), idx, DOCS_SCHEMA,
        buckets=4, max_files_per_trigger=1, post_batch=recluster,
    )
    # one hook call per committed segment (= per input file; an earlier
    # test may have added a late chunk to the shared fixture dir)
    n_files = len([f for f in os.listdir(root) if f.endswith(".parquet")])
    assert len(seen) == n_files >= 2
    assert all(n > 0 for _s, n in seen)


def test_streamed_index_compacts_and_serves(spark, chunked_input, tmp_path):
    """LSM loop: stream many small segments -> compact to one -> queries
    are indistinguishable (the maintenance path a long-lived stream needs)."""
    from torchtrajectory_spark.operators.index import compact_index
    from torchtrajectory_spark.operators.wand import topk_bm25_index

    root, docs = chunked_input
    src = str(tmp_path / "lsm_src")
    dst = str(tmp_path / "lsm_dst")
    stream_index_build(
        spark, os.path.join(root, "*.parquet"), src, DOCS_SCHEMA,
        buckets=8, max_files_per_trigger=1,
    )
    n_segs = read_manifest(spark, src).select("segment").distinct().count()
    assert n_segs >= 2
    compact_index(spark, src, dst)
    assert read_manifest(spark, dst).select(
        "segment").distinct().count() == 1
    q = ["spark", "join", "window"]
    got = [tuple(r) for r in topk_bm25_index(spark, dst, q, 10).collect()]
    exp = [tuple(r) for r in topk_bm25_index(spark, src, q, 10).collect()]
    assert got == exp


def test_streamed_index_serves_expansion_and_facets(spark, chunked_input,
                                                    tmp_path):
    """The r4 query families work over a STREAMED index: the prefix
    expansion reads only committed segments' terms tables, and facets
    cogroup the streamed doc_stats — both equal an Engine over the same
    index opened cold."""
    from torchtrajectory_spark.engine import Engine
    from torchtrajectory_spark.operators.wand import (
        expand_prefix,
        topk_bm25_index,
    )

    root, docs = chunked_input
    idx = str(tmp_path / "expidx")
    stream_index_build(spark, os.path.join(root, "chunk0.*"), idx,
                       DOCS_SCHEMA, meta_cols=("lang",), buckets=8)
    eng = Engine.from_index(spark, idx)
    exp = expand_prefix(spark, idx, "s")
    assert exp  # fixture vocabulary has s-terms
    got = eng.find_topk_prefix("s", 10).collect()
    want = topk_bm25_index(spark, idx, sorted(exp), 10).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]
    facets = eng.facet_counts(["spark"], "lang", 10).collect()
    sub = docs.where(F.col("doc_id") % 3 == 0)
    toks = F.split(F.lower("text"), " ")
    want_f = [
        (r["lang"], r["n"]) for r in
        sub.where(F.array_contains(toks, "spark"))
        .groupBy("lang").agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("lang").asc()).limit(10)
        .collect()
    ]
    assert [(r["value"], r["n_docs"]) for r in facets] == want_f
