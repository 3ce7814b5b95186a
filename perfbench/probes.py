"""Per-layer measurements of a traced run.

Two sources feed the per-layer metrics:

* the spans the tracer recorded around the program's calls during the
  timed loop (self time per timed op, call and Spark job counts);
* probes run after the loop, each a span around one public call that
  isolates one layer of a query or a build: the pruned postings scan,
  the fixed per-segment Arrow job with a no-op kernel, the block-max
  WAND kernel run in-process on the same blocks, the varint decode, the
  tokenizer, the SPIMI emit, the segment postings build and the segment
  commit.

A layer a workload does not exercise reports 0.
"""

from __future__ import annotations

import os
import shutil
import statistics
import tempfile
import time

import numpy as np
import pandas as pd

import common
import spans
from common import K

QUERY_PROBES = 6

# name -> unit, in the order BENCHMARK.json lists them
LAYER_UNITS = {
    "trace.op_p50_s": "s",
    "trace.op_cpu_s": "s",
    "engine.find_topk.plan_s": "s",
    "engine.collect.s": "s",
    "engine.find_topk.spark_jobs": "count",
    "wand.query_term_meta.s": "s",
    "wand.query_term_meta.calls": "count",
    "wand.corpus_scalars.s": "s",
    "wand.meta.spark_jobs": "count",
    "index.scan.s": "s",
    "index.scan.blocks_read": "count",
    "index.scan.payload_bytes": "B",
    "wand.floor.s": "s",
    "wand.kernel.s": "s",
    "wand.kernel.max_segment_s": "s",
    "codec.decode.s": "s",
    "wand.kernel.blocks_decoded": "count",
    "wand.kernel.decoded_fraction": "ratio",
    "wand.kernel.candidates": "count",
    "tokenizer.tokens_code.s_per_kfile": "s",
    "index.emit.s": "s",
    "index.postings.s": "s",
    "index.commit_segment.s": "s",
    "index.postings.blocks": "count",
    "index.postings.payload_bytes": "B",
    "index.add_documents.s": "s",
    "index.add_documents.self_s": "s",
    "index.build_index.batch_s": "s",
    "index.delete_docs.s": "s",
    "spark.failed_tasks": "count",
}


def _timed(run, name: str, fn):
    with run.tracer.span(name):
        t0 = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0


def _record(run, name: str, value: float) -> None:
    run.notes.setdefault("layers", {}).setdefault(name, []).append(value)


def query_layers(run, index: str, queries: list, rows: list) -> None:
    """Probe a seeded sample of the run's queries layer by layer."""
    from pyspark.sql import functions as F

    from torchtrajectory_spark.config import BM25_B, BM25_K1
    from torchtrajectory_spark.functions import codec
    from torchtrajectory_spark.operators import index as I
    from torchtrajectory_spark.operators import wand as W

    run.phase("probe")
    spark = run.spark
    cols = ["segment", "term", "n_docs", "max_tf", "min_dl",
            "doc_gaps", "tfs", "dls"]
    noop_schema = "doc_id bigint, score double"

    def noop(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                             "score": pd.Series(dtype="float64")})

    pick = run.rng.choice(len(queries), size=min(QUERY_PROBES, len(queries)),
                          replace=False)
    for i in sorted(int(x) for x in pick):
        q = sorted(set(queries[i]))
        bks = sorted({I.bucket_of(t, common.BUCKETS) for t in q})
        plan = (I.read_postings(spark, index)
                .where(F.col("bucket").isin(bks))
                .where(F.col("term").isin(q)).select(*cols))

        agg, dt = _timed(run, "index.scan", lambda: plan.agg(
            F.count(F.lit(1)).alias("blocks"),
            F.sum(F.octet_length("doc_gaps") + F.octet_length("tfs")
                  + F.octet_length("dls")).alias("bytes")).first())
        _record(run, "index.scan.s", dt)
        _record(run, "index.scan.blocks_read", agg["blocks"])
        _record(run, "index.scan.payload_bytes", agg["bytes"] or 0)

        _, dt = _timed(run, "wand.floor", lambda: (
            plan.groupBy("segment").applyInPandas(noop, noop_schema)
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(K).collect()))
        _record(run, "wand.floor.s", dt)

        blocks = plan.toPandas()
        meta = W.query_term_meta(spark, index, q, common.BUCKETS)
        dead = I.tombstone_ids(index)
        decoded = [0]
        orig = codec.decode_u32s

        def counting(buf):
            decoded[0] += 1
            return orig(buf)

        seg_s, tops = [], []
        codec.decode_u32s = counting
        try:
            for _, seg in blocks.groupby("segment"):
                top, dt = _timed(run, "wand.kernel", lambda seg=seg: (
                    W._segment_topk(seg.drop(columns=["segment"]), q, K,
                                    meta, BM25_K1, BM25_B, blocked=dead)))
                seg_s.append(dt)
                tops.append(top)
        finally:
            codec.decode_u32s = orig
        _record(run, "wand.kernel.s", sum(seg_s))
        _record(run, "wand.kernel.max_segment_s", max(seg_s, default=0.0))
        # each decoded block decodes its tf and its dl payload
        _record(run, "wand.kernel.blocks_decoded", decoded[0] / 2)
        _record(run, "wand.kernel.decoded_fraction",
                decoded[0] / 2 / len(blocks) if len(blocks) else 0.0)
        if rows[i] is not None:
            merged = (pd.concat(tops) if tops else pd.DataFrame(
                {"doc_id": [], "score": []}))
            merged = merged.sort_values(["score", "doc_id"],
                                        ascending=[False, True]).head(K)
            run.check(common.rows_equal(
                list(zip(merged["doc_id"].astype(int), merged["score"])),
                rows[i]), f"in-process kernel != find_topk for {q}")

        def decode_all():
            docs = {}
            for seg, g, tf, dl in zip(blocks["segment"], blocks["doc_gaps"],
                                      blocks["tfs"], blocks["dls"]):
                docs.setdefault(seg, []).append(codec.decode_sorted(g))
                codec.decode_u32s(tf)
                codec.decode_u32s(dl)
            return docs

        docs, dt = _timed(run, "codec.decode", decode_all)
        _record(run, "codec.decode.s", dt)
        cands = 0
        for parts in docs.values():
            u = np.unique(np.concatenate(parts))
            if dead is not None:
                u = u[~np.isin(u, dead)]
            cands += u.size
        _record(run, "wand.kernel.candidates", cands)


def build_layers(run, table, add_df) -> None:
    """Probe the build layers on the first of the bulk build's segments
    (same rows ``build_index`` puts in segment 0), and rebuild the last
    commit round's batch on its own."""
    from pyspark.sql import functions as F

    from torchtrajectory_spark.functions.tokenizer import tokens_code
    from torchtrajectory_spark.operators import index as I

    run.phase("probe")
    spark = run.spark
    seg = table.where(F.pmod(F.xxhash64(F.col("doc_id")),
                             F.lit(common.N_SEGMENTS)) == 0)
    scratch = tempfile.mkdtemp(prefix="probe_")

    texts = seg.select("content").toPandas()["content"]
    tokenize = getattr(tokens_code, "func", tokens_code)
    _, dt = _timed(run, "tokenizer.tokens_code", lambda: tokenize(texts))
    _record(run, "tokenizer.tokens_code.s_per_kfile", dt / len(texts) * 1000)

    def noop_write(df):
        df.write.format("noop").mode("overwrite").save()

    _, dt = _timed(run, "index.emit", lambda: noop_write(I.emit_postings(
        seg, "doc_id", "content", common.ANALYZER)))
    _record(run, "index.emit.s", dt)
    _, dt = _timed(run, "index.postings", lambda: noop_write(
        I.build_segment_postings(spark, seg, "doc_id", "content",
                                 common.ANALYZER, common.BUCKETS)))
    _record(run, "index.postings.s", dt)

    paths = I.IndexPaths(os.path.join(scratch, "segment"))
    os.makedirs(paths.manifest, exist_ok=True)
    _, dt = _timed(run, "index.commit_segment.probe", lambda: I.commit_segment(
        spark, seg, 0, paths, "doc_id", "content", common.ANALYZER,
        common.META_COLS, common.BUCKETS))
    _record(run, "index.commit_segment.s", dt)
    m = I.read_manifest(spark, paths.root).first()
    _record(run, "index.postings.blocks", m["block_count"])
    _record(run, "index.postings.payload_bytes", m["bytes"])

    _, dt = _timed(run, "index.build_index.batch", lambda: I.build_index(
        spark, add_df, os.path.join(scratch, "batch"), id_col="doc_id",
        text_col="content", analyzer=common.ANALYZER,
        meta_cols=common.META_COLS, n_segments=1, buckets=common.BUCKETS,
        resume=False))
    _record(run, "index.build_index.batch_s", dt)
    shutil.rmtree(scratch, ignore_errors=True)


def layer_metrics(run, e2e: dict) -> dict:
    """Per-layer metrics of a traced run: span figures per timed op, probe
    figures as the median over the probed queries."""
    rec = run.tracer.spans
    n = run.notes["ops"]
    span_figs = {
        "trace.op_p50_s": run.notes["op_p50_s"],
        "trace.op_cpu_s": e2e["op_cpu_s"][0],
        "engine.find_topk.plan_s": spans.per_op(rec, "engine.find_topk", n),
        "engine.collect.s": spans.per_op(rec, "engine.collect", n),
        "engine.find_topk.spark_jobs":
            spans.per_op(rec, "engine.find_topk", n, "jobs"),
        "wand.query_term_meta.s":
            spans.per_op(rec, "wand.query_term_meta", n),
        "wand.query_term_meta.calls":
            spans.per_op(rec, "wand.query_term_meta", n, "calls"),
        "wand.corpus_scalars.s": spans.per_op(rec, "wand.corpus_scalars", n),
        "wand.meta.spark_jobs":
            spans.per_op(rec, "wand.query_term_meta", n, "jobs")
            + spans.per_op(rec, "wand.corpus_scalars", n, "jobs"),
        "index.add_documents.s":
            spans.per_op(rec, "index.add_documents", n, "dur"),
        "index.add_documents.self_s":
            spans.per_op(rec, "index.add_documents", n),
        "index.delete_docs.s":
            spans.per_op(rec, "index.delete_docs", n, "dur"),
        "spark.failed_tasks": float(sum(
            s.get("failed_tasks", 0) for s in rec if s["parent"] is None)),
    }
    probed = {k: statistics.median(v)
              for k, v in run.notes.get("layers", {}).items()}
    return {name: (span_figs.get(name, probed.get(name, 0.0)), unit)
            for name, unit in LAYER_UNITS.items()}
