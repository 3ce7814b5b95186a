"""Structured Streaming index maintenance — the R-operator family.

The reference maintains an in-memory edge-inverted index over a sliding
time window of a trajectory stream, rebuilt per window
(``clustering/Streaming/Streaming.java:25-46`` fed by a Kafka replay
``Simulator``; periodic re-processing loop ``Yinyang.java:50-104``), with
no checkpointing, watermark, or exactly-once story.

Spark-first re-expression:

* **Incremental index segments** (R1/R3): a file-source stream of corpus
  rows; ``foreachBatch`` commits each micro-batch as ONE new index segment
  through the exact same atomic (doc_stats, postings, manifest-last) commit
  as the batch build — so batch and streamed indexes are interchangeable to
  every query operator. The streaming checkpoint gives exactly-once segment
  append and restart-resume; at scale the same topology reads Kafka instead
  of files (swap ``readStream.parquet`` for ``format("kafka")``).
* **Sliding-window term frequencies** (R1's histogram): windowed
  ``groupBy(window(ts), term).count()`` — watermarks/late-data handling are
  Spark built-ins the reference lacks.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..config import BLOCK_SIZE, DEFAULT_BUCKETS
from ..functions.tokenizer import tokens_col
from ..operators.index import (
    IndexPaths,
    _write_index_config,
    commit_segment,
)


def stream_index_build(
    spark: SparkSession,
    input_path: str | None = None,
    index_dir: str = "",
    input_schema: StructType | str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "ws",
    meta_cols: tuple[str, ...] = (),
    buckets: int = DEFAULT_BUCKETS,
    block_size: int = BLOCK_SIZE,
    with_positions: bool = False,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    segment_offset: int = 0,
    source: DataFrame | None = None,
    await_termination: bool = True,
    processing_time: str = "1 second",
    post_batch=None,
):
    """Consume a corpus stream into index segments.

    One micro-batch -> one segment numbered ``segment_offset + batch_id``.
    Re-running with the same checkpoint picks up only input not yet
    processed (incremental maintenance); the per-segment manifest carries
    the same lineage + metrics rows as the batch build.

    Source (the S14 surface): pass either ``input_path`` + ``input_schema``
    (file source; consumed with availableNow and awaited), or ``source`` —
    any streaming DataFrame with (id_col, text_col, *meta_cols) columns:
    ``spark.readStream.format("kafka")...`` with the value parsed, a
    ``rate`` source for replay testing (the reference's Kafka Simulator
    analog, ``clustering/Streaming/Simulator.java``), etc. The sink is
    source-agnostic. With ``await_termination=False`` (required for
    unbounded sources) the started StreamingQuery is returned — stop it
    when done; segments already committed are immediately queryable.
    """
    paths = IndexPaths(index_dir)
    os.makedirs(paths.manifest, exist_ok=True)
    from ..config import INDEX_FORMAT_VERSION

    _write_index_config(index_dir, {
        "buckets": buckets, "block_size": block_size, "analyzer": analyzer,
        "id_col": id_col, "text_col": text_col,
        "with_positions": with_positions, "streaming": True,
        "format_version": INDEX_FORMAT_VERSION,
    })
    if checkpoint_dir is None:
        checkpoint_dir = os.path.join(index_dir, "_stream_checkpoint")

    if source is None:
        if input_path is None or input_schema is None:
            raise ValueError("need input_path + input_schema, or source=")
        reader = spark.readStream.schema(input_schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger",
                                   max_files_per_trigger)
        stream = reader.parquet(input_path)
    else:
        stream = source

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        seg = batch_df.persist()
        commit_segment(
            spark, seg, segment_offset + int(batch_id), paths,
            id_col, text_col, analyzer, meta_cols, buckets, block_size,
            with_positions,
        )
        if post_batch is not None:
            # R3 — the periodic re-processing hook (``Yinyang.run``'s
            # rebuild-then-recluster loop, ``Yinyang.java:50-104``): runs
            # any batch job (re-clustering, stats refresh, compaction
            # trigger) after each segment commits, while the stream
            # keeps flowing
            post_batch(seg, segment_offset + int(batch_id))
        seg.unpersist()

    writer = (
        stream.writeStream
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if await_termination:
        writer.trigger(availableNow=True).start().awaitTermination()
        return None
    return writer.trigger(processingTime=processing_time).start()


def sliding_term_counts(
    docs_stream: DataFrame,
    window: str = "10 minutes",
    slide: str | None = None,
    ts_col: str = "ts",
    text_col: str = "text",
    analyzer: str = "ws",
    watermark: str | None = None,
) -> DataFrame:
    """Streaming (window, term, n) counts — R1's per-window term histogram.

    ``slide=None`` -> tumbling. With a watermark set the result supports
    append-mode sinks (late rows beyond the watermark are dropped — a
    semantics upgrade over the reference's best-effort cache rebuild).
    """
    if watermark is not None:
        docs_stream = docs_stream.withWatermark(ts_col, watermark)
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    return (
        docs_stream
        .select(win.alias("win"), F.explode(
            tokens_col(F.col(text_col), analyzer)).alias("term"))
        .groupBy("win", "term")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "term", "n",
        )
    )
