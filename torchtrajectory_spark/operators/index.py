"""Inverted-index build: SPIMI emit -> term-hash merge -> compressed blocks.

Re-expresses T-Torch's index build (``mapMatching/TorSaver.java:85-100`` ->
``base/invertedIndex/InvertedIndex.java:49-136``) as a distributed,
segmented, resumable Spark job:

* **emit** (SPIMI map phase): ``mapInPandas`` over corpus partitions —
  tokenize + per-doc tf aggregation *inside* the Arrow batch, so the raw
  position stream never hits a shuffle (the per-partition in-memory
  accumulation of ``EdgeInvertedIndex.index:41-49``, done right: true tf).
  One map pass covers every segment a build still has to write: rows
  carry their segment id, and each map task encodes its mini-blocks per
  (segment, term, salt).
* **merge** (ONE shuffle for all segments): repartition by
  ``(segment, bucket=crc32(term)%B, salt)``, sort each shuffle partition
  by ``(segment, bucket, salt, term)`` and merge it in vectorized passes
  over the sorted stream (one pandas call per Arrow batch, not per
  group). Hot terms (df above a fraction of the segment's local docs)
  are salted into ``SALT_FACTOR`` independent sub-lists (SURVEY.md
  §4.3.2) — each sub-list is internally docID-sorted, and WAND treats
  sub-lists as extra block streams, so no re-merge is ever needed.
* **blocks**: per term(+salt), docID-sorted postings are cut into
  <=BLOCK_SIZE-doc blocks; docIDs delta+varint, tfs varint, dls varint
  (codec.py = analog of JavaFastPFOR at ``InvertedIndex.java:116-117``);
  every reader decodes them through the one decoder, ``decode_blocks``.
  Per-block metadata ``(first_doc, last_doc, n_docs, max_tf, min_dl)``
  yields a sound BM25 upper bound at query time
  (``idf * tf_sat(max_tf, min_dl)``) — the block-max analog of the
  reference's ``restDistance`` remaining-score bound
  (``EdgeInvertedIndex.java:148-151,226-227``).
* **segments** (checkpoint/resume): the corpus is split into S doc-shards
  by ``pmod(xxhash64(id), S)``. One pass writes every pending shard's
  postings, doc_stats and terms to a staging directory readers never
  list; each segment then commits in order — its directories renamed
  under ``segment=<s>/``, its sorted dictionary, and last a manifest row
  with input fingerprint, row/byte counts and duration. A restarted build
  filters the segments whose manifest row says ``ok`` out of its one pass
  (the reference has no real resume — SURVEY.md §4.3.4; this is new
  engineering).
* **reads**: every query-side read goes through one point-in-time
  ``IndexSnapshot`` (``open_snapshot``): one listing of the committed
  manifest markers and tombstone generations fixes the segment set the
  statistics, dictionary, postings, doc_stats and tombstones are read
  over, and the next read after a commit sees it in full. Queries on a
  small index (``IndexSnapshot.one_task``) read postings blocks and
  dictionary rows with pyarrow, filtered to the query terms' buckets and
  terms (``_read_bucketed``): postings inside the query's one task, the
  dictionary on the driver.

At 10^12-file scale: S = O(10^4) segments, B = O(10^3) buckets; every stage
is bounded by segment x bucket, nothing ever collects postings to the
driver, and the only global state is the tiny (N, avgdl) scalar pair.
"""

from __future__ import annotations

import operator
import os
import re
import shutil
import time
import zlib
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field, replace
from functools import partial, reduce

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import (
    BLOCK_SIZE,
    DEFAULT_BUCKETS,
    HOT_TERM_DF_FRACTION,
    INDEX_FORMAT_VERSION,
    SALT_FACTOR,
)
from ..functions import codec
from ..functions.tokenizer import tokenize_py

POSTINGS_SCHEMA = (
    "bucket int, term string, salt int, block_id int, n_docs int, "
    "first_doc bigint, last_doc bigint, max_tf int, min_dl bigint, "
    "doc_gaps binary, tfs binary, dls binary"
)
# positional variant adds the Z2 payload: within-doc position deltas,
# varint-packed per block (doc boundaries recoverable from the tfs column —
# the analog of the reference's parallel ``*_pos.compressed`` file,
# ``InvertedIndex.java:117``).
POSTINGS_POS_SCHEMA = POSTINGS_SCHEMA + ", poss binary"
TERMS_SCHEMA = "bucket int, term string, df bigint"
# the same columns' Arrow types, for the pyarrow reads of these tables
# (``_read_bucketed``)
ARROW_COLUMNS = pa.schema([
    ("bucket", pa.int32()), ("term", pa.string()), ("salt", pa.int32()),
    ("block_id", pa.int32()), ("n_docs", pa.int32()),
    ("first_doc", pa.int64()), ("last_doc", pa.int64()),
    ("max_tf", pa.int32()), ("min_dl", pa.int64()),
    ("doc_gaps", pa.binary()), ("tfs", pa.binary()), ("dls", pa.binary()),
    ("poss", pa.binary()), ("df", pa.int64()),
])

EMIT_SCHEMA = "term string, doc_id bigint, tf int, dl bigint"
EMIT_POS_SCHEMA = EMIT_SCHEMA + ", positions array<int>"

# Segment id of a build's in-flight rows (corpus, mini-blocks, blocks,
# doc_stats, terms). Staged artifacts are laid out by it as
# ``_seg=<s>/`` directories; committing a segment renames its directory
# to ``segment=<s>/``.
SEG_COL = "_seg"


def _stage_schema(with_positions: bool) -> str:
    return f"{SEG_COL} int, " + (POSTINGS_POS_SCHEMA if with_positions
                                 else POSTINGS_SCHEMA)


def bucket_of(term: str, buckets: int) -> int:
    """crc32-based term bucket — identical in Python and Spark (F.crc32)."""
    return zlib.crc32(term.encode("utf-8")) % buckets


def _query_buckets(terms, buckets: int) -> tuple[list[str], list[int]]:
    """(the sorted distinct ``terms``, their sorted buckets): the two
    sides of the bucket+term filter every query read of a bucketed table
    (postings, terms) applies."""
    q = sorted({str(t) for t in terms})
    return q, sorted({bucket_of(t, buckets) for t in q})


@dataclass
class IndexPaths:
    root: str

    @property
    def doc_stats(self) -> str:
        return os.path.join(self.root, "doc_stats")

    @property
    def postings(self) -> str:
        return os.path.join(self.root, "postings")

    @property
    def terms(self) -> str:
        return os.path.join(self.root, "terms")

    @property
    def terms_sorted(self) -> str:
        # secondary TERM-RANGE-partitioned dictionary (Lucene's sorted
        # term dictionary / FST analog): same (term, df) rows as
        # ``terms``, but range-partitioned + sorted on ``term`` so a
        # prefix expansion is a range scan over O(1) files instead of a
        # full pass over every crc32 bucket file
        return os.path.join(self.root, "terms_sorted")

    @property
    def manifest(self) -> str:
        return os.path.join(self.root, "manifest")

    def seg(self, base: str, s: int) -> str:
        return os.path.join(base, f"segment={s}")


# docs per pandas slice inside the emit UDF: pandas' object-key groupby
# falls off a cliff above ~2.5k docs (~300k posting rows) per frame
# (measured 7x on this corpus), so the emit re-chunks its input batches
# instead of trusting the partitioning / Arrow batch size to be small.
EMIT_CHUNK_DOCS = 2000


def _emit_chunk_fn(id_col: str, text_col: str, analyzer: str,
                   with_positions: bool = False):
    """SPIMI map phase, fully vectorized: corpus chunk ->
    ``(rows, flat_pos)`` where ``rows`` is one (term, doc_id, tf, dl)
    row per (doc, term) and ``flat_pos`` (positional builds only) is the
    0-based token-offset stream row-aligned with ``rows`` — ``tf``
    positions per row, ascending within each (doc, term).

    The per-(doc, term) grouping is a factorize + lexsort + run-length
    cut, NOT a pandas groupby: the positional build used to spend ~90%
    of its emit time in ``agg(positions=("pos", list))`` building one
    Python list per posting (measured 4.8 s vs 0.25 s per 2k-doc chunk —
    the 4-5x positional build-throughput multiplier of VERDICT r4 #6),
    and the flat stream is what the block cutter wants anyway.

    A ``SEG_COL`` input column (the build's segment tag) is carried onto
    every output row."""

    def emit_chunk(pdf: pd.DataFrame
                   ) -> tuple[pd.DataFrame, np.ndarray | None] | None:
        toks = [tokenize_py(t or "", analyzer) for t in pdf[text_col]]
        lens = np.fromiter((len(t) for t in toks), dtype=np.int64,
                           count=len(toks))
        ids = pdf[id_col].to_numpy()
        doc_rep = np.repeat(ids, lens)
        dl_rep = np.repeat(lens, lens)
        seg_rep = (np.repeat(pdf[SEG_COL].to_numpy(), lens)
                   if SEG_COL in pdf.columns else None)
        if doc_rep.size == 0:
            return None
        flat = np.concatenate([np.asarray(t, dtype=object) for t in toks
                               if t])
        codes, uniq = pd.factorize(flat, sort=False)
        if with_positions:
            pos = np.concatenate(
                [np.arange(n, dtype=np.int64) for n in lens.tolist() if n]
            )
            order = np.lexsort((pos, codes, doc_rep))
        else:
            order = np.lexsort((codes, doc_rep))
        d_s, c_s = doc_rep[order], codes[order]
        starts = np.concatenate(
            ([0],
             np.flatnonzero((d_s[1:] != d_s[:-1]) | (c_s[1:] != c_s[:-1]))
             + 1)
        )
        tf = np.diff(np.concatenate((starts, [d_s.size])))
        rows = pd.DataFrame({
            "term": np.asarray(uniq, dtype=object)[c_s[starts]],
            "doc_id": d_s[starts].astype(np.int64),
            "tf": tf.astype(np.int32),
            "dl": dl_rep[order][starts].astype(np.int64),
        })
        if seg_rep is not None:
            rows[SEG_COL] = seg_rep[order][starts]
        return rows, (pos[order] if with_positions else None)

    return emit_chunk


def _emit_fn(id_col: str, text_col: str, analyzer: str,
             with_positions: bool = False):
    """mapInPandas wrapper over :func:`_emit_chunk_fn` (the public
    ``emit_postings`` surface): positional rows get a per-row
    ``positions`` array column materialized from the flat stream —
    production builds never pay this (the SPIMI map keeps the stream
    flat all the way into the block cutter)."""
    emit_chunk = _emit_chunk_fn(id_col, text_col, analyzer, with_positions)

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for rows, flat_pos in _emit_chunks(emit_chunk, batches):
            if with_positions:
                bounds = np.cumsum(
                    rows["tf"].to_numpy(dtype=np.int64))[:-1]
                rows = rows.assign(
                    positions=np.split(flat_pos.astype(np.int32),
                                       bounds))
            yield rows

    return emit


def _emit_chunks(emit_chunk, batches: Iterator[pd.DataFrame]):
    """The one chunking policy both emit surfaces share (debug
    ``emit_postings`` and the production SPIMI map): slice every Arrow
    batch into EMIT_CHUNK_DOCS-doc chunks (the pandas tokenize+groupby
    cost curve bends ~7x past ~2.5k docs/frame), skip empty results,
    yield ``(rows, flat_pos)``."""
    for full in batches:
        for s in range(0, len(full), EMIT_CHUNK_DOCS):
            r = emit_chunk(full.iloc[s:s + EMIT_CHUNK_DOCS])
            if r is not None:
                yield r


_BLOCK_COLS = [SEG_COL, "bucket", "term", "salt", "block_id", "n_docs",
               "first_doc", "last_doc", "max_tf", "min_dl", "doc_gaps", "tfs",
               "dls"]


def _gather_runs(flat: np.ndarray, starts: np.ndarray,
                 lens: np.ndarray) -> np.ndarray:
    """Gather variable-length runs of ``flat`` (run i = ``flat[starts[i]
    : starts[i]+lens[i]]``) into one contiguous stream, preserving run
    order — the permutation step that keeps a row-aligned payload stream
    in sync when its rows are reordered. Pure index arithmetic."""
    out_cum = np.concatenate(([0], np.cumsum(lens)))
    idx = (np.arange(int(out_cum[-1]), dtype=np.int64)
           - np.repeat(out_cum[:-1], lens)
           + np.repeat(starts, lens))
    return flat[idx]


def _build_blocks(pdf: pd.DataFrame, block_size: int,
                  with_positions: bool = False,
                  presorted: bool = False,
                  flat_positions: np.ndarray | None = None) -> pd.DataFrame:
    """Posting rows (_seg, term, doc_id, tf, dl, bucket, salt) ->
    compressed <=block_size blocks. A positional build passes
    ``flat_positions``: the position stream row-aligned with ``pdf``,
    ``tf`` ascending positions per row.

    Unless ``presorted``, sorts by (_seg, term, salt, doc_id) once (the
    frame may span many segments / buckets / salts — the SPIMI map
    path), then cuts every (_seg, term, salt) run into <=block_size
    blocks FULLY VECTORIZED: block boundaries via repeat/cumsum,
    per-block metadata via ``ufunc.reduceat``, and every payload stream
    via the batch run-sliced codec (one varint pass over the whole
    column, byte-identical to per-block encodes — the SPIMI map emits
    hundreds of thousands of ~6-posting mini-blocks per task, where
    per-block numpy-call overhead used to dominate the build: measured
    ~4.6s of an ~8s segment at bench scale).
    """
    keys = _BLOCK_COLS + (["poss"] if with_positions else [])
    if len(pdf) == 0:
        return pd.DataFrame({k: [] for k in keys})
    if with_positions:
        flat_positions = np.ascontiguousarray(flat_positions, dtype=np.int64)
    if not presorted:
        # one stable sort; its index labels (a RangeIndex before it) are
        # the permutation that keeps the row-aligned position stream in
        # step with the rows
        pdf = pdf.reset_index(drop=True)
        tf0 = pdf["tf"].to_numpy(dtype=np.int64)
        pdf = pdf.sort_values([SEG_COL, "term", "salt", "doc_id"],
                              kind="mergesort")
        if with_positions:
            order = pdf.index.to_numpy()
            starts0 = np.concatenate(([0], np.cumsum(tf0)[:-1]))
            flat_positions = _gather_runs(flat_positions, starts0[order],
                                          tf0[order])
    n = len(pdf)
    segs = pdf[SEG_COL].to_numpy(dtype=np.int64)
    terms = pdf["term"].to_numpy()
    salts = pdf["salt"].to_numpy(dtype=np.int64)
    buckets_arr = pdf["bucket"].to_numpy(dtype=np.int64)
    docs = pdf["doc_id"].to_numpy(dtype=np.int64)
    tfs = pdf["tf"].to_numpy(dtype=np.int64)
    dls = pdf["dl"].to_numpy(dtype=np.int64)
    # (_seg, term, salt) run boundaries
    change = np.flatnonzero(
        (terms[1:] != terms[:-1]) | (salts[1:] != salts[:-1])
        | (segs[1:] != segs[:-1])
    ) + 1
    run_starts = np.concatenate(([0], change))
    run_ends = np.concatenate((change, [n]))
    run_lens = run_ends - run_starts
    nblk = -(-run_lens // block_size)  # ceil-div: blocks per run
    cum = np.cumsum(nblk)
    rep = np.repeat(np.arange(len(nblk)), nblk)
    block_id = np.arange(int(cum[-1])) - np.repeat(cum - nblk, nblk)
    bs = run_starts[rep] + block_id * block_size
    be = np.minimum(bs + block_size, run_ends[rep])
    out = pd.DataFrame({
        SEG_COL: segs[bs],
        "bucket": buckets_arr[bs],
        "term": terms[bs],
        "salt": salts[bs],
        "block_id": block_id,
        "n_docs": be - bs,
        "first_doc": docs[bs],
        "last_doc": docs[be - 1],
        "max_tf": np.maximum.reduceat(tfs, bs),
        "min_dl": np.minimum.reduceat(dls, bs),
        "doc_gaps": codec.encode_sorted_runs(docs, bs),
        "tfs": codec.encode_u64_runs(tfs, bs),
        "dls": codec.encode_u64_runs(dls, bs),
    })
    if with_positions:
        # within-doc position deltas, the delta reset at every doc
        # (posting) start, sliced at block starts — which are doc starts.
        # Per-doc boundaries are not stored: the tfs column gives them
        # (the reference's parallel positions file,
        # ``InvertedIndex.java:92-126``).
        flat = flat_positions
        pos_cum = np.concatenate(([0], np.cumsum(tfs)))
        doc_starts = pos_cum[:-1]
        g = np.empty_like(flat)
        g[0] = flat[0]
        np.subtract(flat[1:], flat[:-1], out=g[1:])
        g[doc_starts] = flat[doc_starts]
        out["poss"] = codec.encode_u64_runs(g, pos_cum[bs])
    return out


def decode_blocks(blocks: pd.DataFrame,
                  payload: tuple[str, ...] = ()) -> dict[str, np.ndarray]:
    """The one postings-block decoder (the reference's ``getKeys`` /
    ``getPairs``, ``InvertedIndex.java:138-161``). ``blocks`` are block
    rows with at least ``n_docs`` and ``doc_gaps``; the result holds flat
    per-posting int64 arrays in row order (blocks in row order, docs
    ascending within a block): ``docs`` always, plus each of ``tfs``,
    ``dls`` and ``poss`` named in ``payload``. ``poss`` is the absolute
    position stream, ``tfs`` positions per posting, so asking for it
    decodes ``tfs`` too. Each column decodes in one varint pass over all
    the blocks; docIDs and positions rebuild through one restart
    cumsum (their delta chains restart per block and per posting)."""
    counts = blocks["n_docs"].to_numpy(dtype=np.int64)
    out = {"docs": codec.decode_sorted_concat(blocks["doc_gaps"], counts)}
    for c in ("tfs", "dls"):
        if c in payload or (c == "tfs" and "poss" in payload):
            out[c] = codec.decode_u64_concat(blocks[c], counts).astype(
                np.int64)
    if "poss" in payload:
        tfs = out["tfs"]
        out["poss"] = codec.restart_cumsum(
            codec.decode_u64_concat(blocks["poss"], tfs), tfs)
    return out


def emit_postings(corpus: DataFrame, id_col: str, text_col: str,
                  analyzer: str, with_positions: bool = False) -> DataFrame:
    return corpus.select(id_col, text_col).mapInPandas(
        _emit_fn(id_col, text_col, analyzer, with_positions),
        schema=EMIT_POS_SCHEMA if with_positions else EMIT_SCHEMA,
    )


def build_segment_postings(
    spark: SparkSession,
    seg_corpus: DataFrame,
    id_col: str,
    text_col: str,
    analyzer: str,
    buckets: int = DEFAULT_BUCKETS,
    block_size: int = BLOCK_SIZE,
    salt_factor: int = SALT_FACTOR,
    hot_fraction: float = HOT_TERM_DF_FRACTION,
    with_positions: bool = False,
) -> DataFrame:
    """Compressed postings blocks for one doc segment — true SPIMI:

    1. **map**: each corpus partition tokenizes its docs and encodes its
       own docID-sorted mini-blocks (delta+varint) — the in-memory SPIMI
       run, bounded by partition size. Hot-term salting is decided
       LOCALLY per partition (term's local df >= hot_fraction x local
       docs): a globally hot term is locally hot in nearly every
       partition, so its minis spread over salt groups with no global
       probe pass, and a term that is hot in some partitions and not in
       others is still correct — salt groups are just independent
       sub-lists, which every query path already handles.
    2. **the ONE shuffle** moves *compressed bytes* keyed by
       ``(segment, bucket=crc32(term)%B, salt)`` — ~2 orders of magnitude
       fewer rows than shuffling raw (term, doc, tf) postings.
    3. **reduce**: per (term, salt), mini-blocks are decoded, merged
       docID-sorted, and re-cut into canonical <=block_size blocks
       (deterministic regardless of shuffle arrival order).

    This is the single-segment view of the build's one pass (the same
    map and merge ``build_index`` runs over all its segments at once)."""
    tagged = seg_corpus.withColumn(SEG_COL, F.lit(0))
    minis = _spimi_minis(tagged, id_col, text_col, analyzer, buckets,
                         block_size, hot_fraction, salt_factor,
                         with_positions)
    return _merge_blocks(minis, block_size, with_positions).drop(SEG_COL)


def _spimi_minis(tagged: DataFrame, id_col: str, text_col: str,
                 analyzer: str, buckets: int, block_size: int,
                 hot_fraction: float = HOT_TERM_DF_FRACTION,
                 salt_factor: int = SALT_FACTOR,
                 with_positions: bool = False) -> DataFrame:
    """SEG_COL-tagged corpus -> SEG_COL-tagged mini-blocks (the map)."""
    return tagged.select(SEG_COL, id_col, text_col).mapInPandas(
        _spimi_map_fn(id_col, text_col, analyzer, buckets, block_size,
                      hot_fraction, salt_factor, with_positions),
        schema=_stage_schema(with_positions),
    )


def _spimi_map_fn(id_col: str, text_col: str, analyzer: str, buckets: int,
                  block_size: int, hot_fraction: float, salt_factor: int,
                  with_positions: bool):
    """Map task: whole input partition -> encoded mini-blocks.

    Accumulates the partition's (segment, term, doc, tf, dl[, pos])
    postings via the chunked emit, then sorts once and encodes per
    (segment, term, salt) mini-blocks. Hot terms get
    ``salt = doc_id % salt_factor``; the decision is made per
    (partition, segment) — local df >= hot_fraction x the segment's
    local docs — so every segment gets exactly the salts a pass over
    that segment alone would give it. Deterministic given the input
    partitioning, no global pass.
    """
    emit_chunk = _emit_chunk_fn(id_col, text_col, analyzer, with_positions)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frames: list[pd.DataFrame] = []
        streams: list[np.ndarray] = []
        for rows, flat_pos in _emit_chunks(emit_chunk, batches):
            frames.append(rows)
            if with_positions:
                streams.append(flat_pos)
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        flat_pos = (np.concatenate(streams) if with_positions
                    else None)
        t_codes, uniq = pd.factorize(pdf["term"], sort=False)
        pdf["bucket"] = np.fromiter(
            (bucket_of(t, buckets) for t in uniq),
            dtype=np.int32, count=len(uniq))[t_codes]
        s_codes, s_uniq = pd.factorize(pdf[SEG_COL], sort=False)
        docs = pdf["doc_id"].to_numpy()
        # local docs per segment (a doc id maps to one segment) and local
        # df per (segment, term)
        _, first = np.unique(docs, return_index=True)
        n_local = np.bincount(s_codes[first], minlength=len(s_uniq))
        cut = np.maximum(2, (hot_fraction * n_local).astype(np.int64))
        key = s_codes.astype(np.int64) * len(uniq) + t_codes
        hot = np.bincount(key)[key] >= cut[s_codes]
        pdf["salt"] = np.where(hot, docs % salt_factor, 0).astype("int32")
        yield _build_blocks(pdf, block_size, with_positions,
                            flat_positions=flat_pos)

    return run


# the merge key: a run of equal keys is one (segment, term, salt)
# sub-list (bucket is a function of the term)
_MERGE_KEY = [SEG_COL, "bucket", "salt", "term"]


def _merge_blocks(minis: DataFrame, block_size: int, with_positions: bool,
                  tombstones: np.ndarray | None = None) -> DataFrame:
    """The ONE shuffle of a build or compaction: SEG_COL-tagged
    mini-blocks -> canonical SEG_COL-tagged blocks. Rows are
    hash-partitioned by ``(segment, bucket, salt)``, sorted within each
    partition by ``_MERGE_KEY``, and merged by :func:`_merge_stream_fn`.
    ``tombstones`` (sorted doc ids) are purged before the blocks are cut
    (compaction)."""
    bc = (minis.sparkSession.sparkContext.broadcast(tombstones)
          if tombstones is not None else None)
    return (
        minis.repartition(SEG_COL, "bucket", "salt")
        .sortWithinPartitions(*_MERGE_KEY)
        .mapInPandas(_merge_stream_fn(block_size, with_positions, bc),
                     schema=_stage_schema(with_positions))
    )


def _merge_stream_fn(block_size: int, with_positions: bool, tombstones):
    """Reduce task over one sorted shuffle partition: each Arrow batch is
    merged in one vectorized :func:`_merge_minis` call. The batch's
    trailing key may continue in the next batch, so its rows are carried
    over instead of merged — memory stays bounded by one batch plus the
    largest (term, salt) run."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        blocked = tombstones.value if tombstones is not None else None

        def merged(part: pd.DataFrame) -> list[pd.DataFrame]:
            if len(part) == 0:
                return []
            out = _merge_minis(part, block_size, with_positions, blocked)
            return [out] if len(out) else []

        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if len(pdf) == 0:
                continue
            tail = np.ones(len(pdf), dtype=bool)
            for c in _MERGE_KEY:
                a = pdf[c].to_numpy()
                tail &= a == a[-1]
            # sorted input: the rows equal to the last key are a suffix
            n_done = len(pdf) - int(tail.sum())
            carry = pdf.iloc[n_done:]
            yield from merged(pdf.iloc[:n_done])
        if carry is not None:
            yield from merged(carry)

    return run


def _merge_minis(pdf: pd.DataFrame, block_size: int,
                 with_positions: bool,
                 blocked: np.ndarray | None = None) -> pd.DataFrame:
    """Reduce step: mini-blocks, each ``_MERGE_KEY`` run contiguous ->
    canonical blocks. Decode all minis, merge docID-sorted per run,
    re-encode. Deterministic for any shuffle arrival order (docIDs are
    unique per term within a segment, so the sort is a total order).

    Fully vectorized over any number of runs: :func:`decode_blocks`
    decodes every payload column of all the minis in one pass, postings
    are lexsorted by (run, doc), the position stream is gather-permuted
    with repeat/cumsum index arithmetic, and the canonical blocks are
    cut by the same vectorized ``_build_blocks`` as the map phase."""
    counts = pdf["n_docs"].to_numpy(dtype=np.int64)
    d = decode_blocks(pdf, ("tfs", "dls")
                      + (("poss",) if with_positions else ()))
    docs, tfs, dls = d["docs"], d["tfs"], d["dls"]
    keys = {c: pdf[c].to_numpy() for c in _MERGE_KEY}
    new_run = np.zeros(len(pdf), dtype=bool)
    new_run[0] = True
    for a in keys.values():
        new_run[1:] |= a[1:] != a[:-1]
    heads = np.flatnonzero(new_run)
    run_rep = np.repeat(np.cumsum(new_run) - 1, counts)
    # runs are already in order; stable-sort docs within each run
    order = np.lexsort((docs, run_rep))
    flat_pos = None
    if with_positions:
        # gather the per-posting position slices into sorted posting order
        ps = np.concatenate(([0], np.cumsum(tfs)[:-1]))
        flat_pos = _gather_runs(d["poss"], ps[order], tfs[order])
    run_of = run_rep[order]
    flat_df = pd.DataFrame({
        **{c: a[heads][run_of] for c, a in keys.items()},
        "doc_id": docs[order],
        "tf": tfs[order],
        "dl": dls[order],
    })
    if blocked is not None and blocked.size:
        # tombstone purge (compaction): drop dead postings BEFORE block
        # cutting, so df / max_tf / min_dl block metadata are recomputed
        # from live docs only
        keep = ~sorted_isin(blocked, flat_df["doc_id"].to_numpy())
        if not keep.all():
            if flat_pos is not None:
                flat_pos = flat_pos[
                    np.repeat(keep, flat_df["tf"].to_numpy())
                ]
            flat_df = flat_df[keep].reset_index(drop=True)
    return _build_blocks(flat_df, block_size, presorted=True,
                         with_positions=with_positions,
                         flat_positions=flat_pos)


def _doc_stats(tagged: DataFrame, id_col: str, text_col: str,
               analyzer: str, meta_cols: tuple[str, ...]) -> DataFrame:
    """SEG_COL-tagged corpus -> SEG_COL-tagged doc_stats rows: one Arrow
    pass (dl + sha256 invariant + metadata). JVM regexp_extract_all costs
    ~3x the Python tokenizer for the code analyzer (measured), so dl and
    sha256 are computed batch-at-a-time in the same chunked UDF style as
    the emit."""
    import hashlib

    types = dict(tagged.dtypes)
    schema = (f"{SEG_COL} int, doc_id bigint, dl bigint, "
              "content_sha256 string"
              + "".join(f", {c} {types[c]}" for c in meta_cols))

    def doc_stats_fn(batches):
        for full in batches:
            for cs in range(0, len(full), EMIT_CHUNK_DOCS):
                pdf = full.iloc[cs:cs + EMIT_CHUNK_DOCS]
                texts = pdf[text_col]
                out = pd.DataFrame({
                    SEG_COL: pdf[SEG_COL].to_numpy(),
                    "doc_id": pdf[id_col].to_numpy(),
                    "dl": np.fromiter(
                        (len(tokenize_py(t or "", analyzer)) for t in texts),
                        dtype=np.int64, count=len(pdf),
                    ),
                    "content_sha256": [
                        hashlib.sha256((t or "").encode("utf-8")).hexdigest()
                        for t in texts
                    ],
                })
                for c in meta_cols:
                    out[c] = pdf[c].to_numpy()
                yield out

    return tagged.select(SEG_COL, id_col, text_col, *meta_cols).mapInPandas(
        doc_stats_fn, schema=schema)


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "ws",
    meta_cols: tuple[str, ...] = (),
    n_segments: int = 1,
    buckets: int = DEFAULT_BUCKETS,
    block_size: int = BLOCK_SIZE,
    resume: bool = True,
    fail_after_segments: int | None = None,
    with_positions: bool = False,
    min_input_partitions: int | None = None,
) -> None:
    """Full segmented, resumable index build.

    One pass over the corpus builds every segment not yet committed: the
    map tokenizes each input partition once and tags its rows with
    ``pmod(xxhash64(id), n_segments)``, one shuffle keyed by (segment,
    bucket, salt) merges the mini-blocks, one doc_stats pass covers all
    segments, and the segments then commit one by one, in order (see
    :func:`_commit_pass`). A map task's SPIMI run spans its whole input
    partition, whatever the segment count — the same memory bound a
    one-segment build has. With ``resume`` the segments whose manifest
    marker says ``ok`` are filtered out of the pass.

    ``fail_after_segments`` injects a crash after that many segments have
    committed — used by the resume test (FIXTURES.md §5).

    ``min_input_partitions`` guards against an UNDER-SPLIT input table:
    the emit stage's parallelism comes from the corpus scan's splits, so
    a table written as (say) one ~100 MB file under the 128 MB
    ``spark.sql.files.maxPartitionBytes`` default yields ONE task and the
    whole tokenize pass serializes regardless of cluster size (this
    exact failure collapsed a measured 4-core scaling run to 0.26
    efficiency). When set and the scan plans fewer partitions, the
    corpus is ``repartition``-ed up — one extra shuffle of the raw
    content, only worth paying when the layout is genuinely degenerate.
    For a big table with few LARGE files, prefer lowering
    ``maxPartitionBytes`` instead: parquet scans re-split by byte range
    without any shuffle.
    """
    paths = IndexPaths(index_dir)
    os.makedirs(paths.manifest, exist_ok=True)
    _write_index_config(index_dir, {
        "buckets": buckets, "n_segments": n_segments,
        "block_size": block_size, "analyzer": analyzer,
        "id_col": id_col, "text_col": text_col,
        "meta_cols": list(meta_cols),
        "with_positions": with_positions,
        "format_version": INDEX_FORMAT_VERSION,
    })

    if min_input_partitions is not None:
        n_in = corpus.rdd.getNumPartitions()
        if n_in < min_input_partitions:
            corpus = corpus.repartition(min_input_partitions)

    # NOTE deliberately no .persist() of the corpus: Spark's columnar
    # cache build costs more than the extra doc_stats re-scan it saves
    # and anti-scales with cores (measured; BASELINE.md scaling notes).
    # Inputs are parquet/synthetic — cheap to re-scan in parallel.
    done = _done_segments(spark, paths) if resume else set()
    todo = [s for s in range(n_segments) if s not in done]
    if not todo:
        return
    shard = (F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_segments))
             if n_segments > 1 else F.lit(0))
    tagged = corpus.withColumn(SEG_COL, shard.cast("int"))
    if done:
        tagged = tagged.where(~F.col(SEG_COL).isin(sorted(done)))
    _build_and_commit(spark, tagged, todo, paths, id_col, text_col,
                      analyzer, meta_cols, buckets, block_size,
                      with_positions, fail_after_segments)


def commit_segment(
    spark: SparkSession,
    seg: DataFrame,
    s: int,
    paths: IndexPaths,
    id_col: str,
    text_col: str,
    analyzer: str,
    meta_cols: tuple[str, ...] = (),
    buckets: int = DEFAULT_BUCKETS,
    block_size: int = BLOCK_SIZE,
    with_positions: bool = False,
) -> None:
    """Build + atomically commit ONE doc segment (postings, doc_stats,
    terms, manifest-last) — the streaming ``foreachBatch`` sink's commit
    (one micro-batch == one segment), through the same one-pass core as
    ``build_index``."""
    _build_and_commit(spark, seg.withColumn(SEG_COL, F.lit(s).cast("int")),
                      [s], paths, id_col, text_col, analyzer, meta_cols,
                      buckets, block_size, with_positions)


def _build_and_commit(spark: SparkSession, tagged: DataFrame,
                      segs: list[int], paths: IndexPaths, id_col: str,
                      text_col: str, analyzer: str,
                      meta_cols: tuple[str, ...], buckets: int,
                      block_size: int, with_positions: bool,
                      fail_after: int | None = None) -> None:
    """One pass over a SEG_COL-tagged corpus: exactly one full Python
    tokenize pass for the postings (map -> the one shuffle -> merge) and
    one for doc_stats (sha256 + token count + metadata), then the
    per-segment commits."""
    minis = _spimi_minis(tagged, id_col, text_col, analyzer, buckets,
                         block_size, with_positions=with_positions)
    _commit_pass(spark, paths, segs,
                 _merge_blocks(minis, block_size, with_positions),
                 _doc_stats(tagged, id_col, text_col, analyzer, meta_cols),
                 fail_after)


STAGING_DIRNAME = "_staging"


def _payload_bytes(columns) -> Column:
    """Encoded bytes of a block row: the lengths of its payload columns
    summed (``poss`` included on a positional index). The manifest's
    ``bytes`` and ``index_stats``' ``payload_bytes`` both sum it."""
    return reduce(operator.add,
                  [F.octet_length(c) for c in ("doc_gaps", "tfs", "dls",
                                               "poss") if c in columns])


def _commit_pass(spark: SparkSession, paths: IndexPaths, segs: list[int],
                 blocks: DataFrame, doc_stats: DataFrame,
                 fail_after: int | None = None) -> None:
    """The one write-and-commit core of build, streaming sink and
    compaction. ``blocks`` and ``doc_stats`` are SEG_COL-tagged frames
    covering the segments ``segs``.

    1. postings and doc_stats are written ONCE each, laid out by segment,
       to ``<index>/_staging/`` (two concurrent jobs with disjoint
       outputs); no reader lists it;
    2. the terms dictionary (precomputed df per term — the analog of the
       reference's precomputed weight cache, SURVEY.md §4.1) is derived
       from the staged blocks' metadata columns only (no payload decode)
       and staged the same way;
    3. per-segment manifest metrics come from one aggregation over each
       staged artifact: fingerprint = bit_xor of xxhash64(doc_id,
       content_sha256), rows and sum_dl from doc_stats; block count and
       payload bytes from postings;
    4. each segment commits in order: its staged directories are renamed
       into place, its ``terms_sorted`` copy is written, and its manifest
       marker is written LAST — the resume marker, and the point at which
       readers see the segment. ``fail_after`` raises after that many
       commits (the resume test's crash injection)."""
    from concurrent.futures import ThreadPoolExecutor

    t0 = time.monotonic()
    stage = IndexPaths(os.path.join(paths.root, STAGING_DIRNAME))
    shutil.rmtree(stage.root, ignore_errors=True)
    # AQE's partition coalescing would collapse the (tiny, byte-sized)
    # mini-block merge shuffle onto one task and serialize the reduce —
    # off for the duration of the pass, restored after.
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev_coalesce = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    try:
        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = [
                pool.submit(_atomic_write, blocks.sortWithinPartitions(
                    SEG_COL, "bucket", "term"), stage.postings),
                pool.submit(_atomic_write, doc_stats, stage.doc_stats),
            ]
            for f in futs:
                f.result()
        metrics = {s: dict(fp=0, rows=0, sum_dl=0, blocks=0, bytes=0)
                   for s in segs}
        if _staged_segments(stage.postings):
            staged = spark.read.parquet(stage.postings)
            _atomic_write(
                staged.groupBy(SEG_COL, "bucket", "term")
                .agg(F.sum("n_docs").alias("df"))
                .sortWithinPartitions(SEG_COL, "bucket", "term"),
                stage.terms)
            for r in staged.groupBy(SEG_COL).agg(
                    F.count(F.lit(1)).alias("blocks"),
                    F.sum(_payload_bytes(staged.columns)).alias(
                        "bytes")).collect():
                metrics[r[SEG_COL]].update(blocks=r["blocks"],
                                           bytes=r["bytes"])
        if _staged_segments(stage.doc_stats):
            for r in spark.read.parquet(stage.doc_stats).groupBy(SEG_COL).agg(
                    F.expr("bit_xor(xxhash64(doc_id, content_sha256))")
                    .alias("fp"),
                    F.count(F.lit(1)).alias("rows"),
                    F.sum("dl").alias("sum_dl")).collect():
                metrics[r[SEG_COL]].update(fp=r["fp"], rows=r["rows"],
                                           sum_dl=r["sum_dl"])
        artifacts = (
            (paths.postings, stage.postings, blocks.drop(SEG_COL).schema),
            (paths.doc_stats, stage.doc_stats,
             doc_stats.drop(SEG_COL).schema),
            (paths.terms, stage.terms, TERMS_SCHEMA),
        )
        for i, s in enumerate(segs):
            for base, staged_base, schema in artifacts:
                src = os.path.join(staged_base, f"{SEG_COL}={s}")
                dst = paths.seg(base, s)
                # an uncommitted leftover (no manifest marker) of a
                # crashed attempt, or the segment a non-resume build
                # rewrites
                if os.path.isdir(dst):
                    shutil.rmtree(dst)
                if os.path.isdir(src):
                    os.makedirs(base, exist_ok=True)
                    os.replace(src, dst)
                else:
                    # no rows of this artifact in the segment (no docs,
                    # or only empty ones): commit an empty table
                    _atomic_write(spark.createDataFrame([], schema), dst)
            _write_terms_sorted(spark, paths, s)
            m = metrics[s]
            _write_manifest_row(pd.DataFrame([{
                "segment": s,
                "input_fingerprint":
                    format((m["fp"] or 0) & (2**64 - 1), "016x"),
                "row_count": int(m["rows"] or 0),
                "sum_dl": int(m["sum_dl"] or 0),
                "block_count": int(m["blocks"] or 0),
                "bytes": int(m["bytes"] or 0),
                "duration_ms": int((time.monotonic() - t0) * 1000),
                "status": "ok",
                "attempt": 1,
            }]), paths.seg(paths.manifest, s))
            if fail_after is not None and i + 1 >= fail_after:
                raise RuntimeError(
                    f"injected failure after {i + 1} segments")
    finally:
        spark.conf.set(coalesce_key, prev_coalesce)
        shutil.rmtree(stage.root, ignore_errors=True)


def _staged_segments(base: str) -> bool:
    """Whether a staged artifact holds rows of any segment."""
    return os.path.isdir(base) and any(
        d.startswith(SEG_COL + "=") for d in os.listdir(base))


# target rows per terms_sorted file: the file count scales with the
# VOCABULARY (sublinear in corpus), so a small index gets one sorted
# file per segment (zero listing overhead) while a 10^9-term dictionary
# still splits into range files a prefix range can prune across.
TERMS_SORTED_ROWS_PER_FILE = 1 << 18


def _write_terms_sorted(spark: SparkSession, paths: IndexPaths,
                        s: int) -> None:
    """Write one segment's secondary dictionary from its committed
    primary (both before the manifest marker, so a committed segment
    always carries both):

    * ``terms``: crc32-bucketed (bucket, term, df) — co-partitioned with
      the postings, the dictionary the query path joins against.
    * ``terms_sorted``: the same rows range-partitioned and sorted on
      ``term`` — the Spark analog of Lucene's sorted term dictionary
      (FST / ``TermsEnum.seekCeil``). A prefix expansion over the
      bucketed dictionary is a full pass over every bucket file (a
      prefix hashes everywhere); over this copy it is a ``term >= p AND
      term < succ(p)`` range whose parquet file/row-group min-max
      statistics touch O(1) of the vocabulary — at 10^12 files the
      difference between reading the whole dictionary and a few
      row groups. Vocabulary-sized (sublinear in corpus), read back
      from the just-written primary so the postings-metadata scan that
      produced it runs exactly once; the read-back's parquet footers
      also give the exact vocabulary row count driver-side (no
      counting job) to size the range partitioning."""
    seg_terms = paths.seg(paths.terms, s)
    dst = paths.seg(paths.terms_sorted, s)
    n_rows = _parquet_dir_rows(seg_terms)
    n_parts = max(1, -(-n_rows // TERMS_SORTED_ROWS_PER_FILE))
    if n_parts == 1:
        # single-file dictionary: sort + write DRIVER-SIDE (pyarrow) —
        # vocabulary-bounded, the same footing as the tombstone reads.
        # The Spark roundtrip (read-back + range shuffle + write) costs
        # ~0.5 s of fixed job overhead PER SEGMENT, which at bench scale
        # both halved build throughput and depressed the measured 1->4
        # core scaling ratio (a constant that does not parallelize).
        _write_terms_sorted_driver(seg_terms, dst)
    else:
        srt = (
            spark.read.parquet(seg_terms)
            .select("term", "df")
            .repartitionByRange(n_parts, F.col("term"))
            .sortWithinPartitions("term")
        )
        _atomic_write(srt, dst)


def _write_terms_sorted_driver(seg_terms: str, dst: str) -> None:
    """Driver-side single-file ``terms_sorted`` write: read the
    just-written primary dictionary's (term, df) with pyarrow, sort by
    term (Python codepoint order == Spark's UTF-8 binary order), write
    one parquet file via the same write-then-rename discipline as every
    segment artifact. Only taken when the segment vocabulary fits one
    target file (``TERMS_SORTED_ROWS_PER_FILE``) and the active table
    format is plain parquet."""
    import pyarrow.parquet as pq

    parts = [
        pq.read_table(os.path.join(seg_terms, f), columns=["term", "df"])
        for f in sorted(os.listdir(seg_terms)) if f.endswith(".parquet")
    ]
    t = (pa.concat_tables(parts) if parts
         else pa.table({"term": pa.array([], pa.string()),
                        "df": pa.array([], pa.int64())}))
    _write_table_driver(t.sort_by("term"), dst)


def _write_table_driver(t, path: str, before_rename=None) -> None:
    """Write a small pyarrow table driver-side as ``path/part-0.parquet``,
    committed by write-then-rename like every segment artifact — no
    Spark job, whose fixed cost (~0.5 s) would be paid per segment. The
    one writer of manifest markers and single-file ``terms_sorted``
    dictionaries. ``before_rename`` runs once the file is staged, just
    before the rename."""
    import pyarrow.parquet as pq

    tmp = path + ".__tmp__"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    pq.write_table(t, os.path.join(tmp, "part-0.parquet"))
    if before_rename is not None:
        before_rename()
    if os.path.exists(path):
        shutil.rmtree(path)
    os.replace(tmp, path)


def _parquet_dir_rows(path: str) -> int:
    """Exact row count of a parquet dir from footers only (driver-side
    metadata read, no Spark job — same footing as the manifest listing)."""
    import pyarrow.parquet as pq

    n = 0
    for f in os.listdir(path):
        if f.endswith(".parquet"):
            n += pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
    return n


def _write_manifest_row(pdf: pd.DataFrame, path: str) -> None:
    """Commit the one-row manifest marker, written driver-side
    (:func:`_write_table_driver`) — a whole Spark job for one row is
    pure fixed cost (~0.5s/segment that shows up directly in the
    N-vs-4N scaling ratio)."""
    _write_table_driver(pa.Table.from_pandas(pdf, preserve_index=False),
                        path)


def compact_index(spark: SparkSession, src_dir: str, dst_dir: str,
                  block_size: int | None = None) -> None:
    """Compact a many-segment index into a one-segment index at dst_dir.

    The LSM-style maintenance step the streaming path needs: foreachBatch
    appends one segment per micro-batch, and an old stream leaves
    thousands of small segments; compaction re-merges every term's blocks
    (segments are doc-disjoint, so the merge is exactly the build's
    mini-block merge, through the same shuffle and commit core) and
    unions doc_stats. Metrics need no corpus pass: they aggregate the
    compacted doc_stats and blocks, so without tombstones the
    fingerprint is the xor of the source fingerprints and rows/dl/bytes
    their sums. Writing to a fresh directory keeps the source readable
    throughout — swap directories (or catalog pointers) after it commits.
    """
    src = open_snapshot(spark, src_dir)
    cfg = src.config
    if block_size is None:
        block_size = int(cfg.get("block_size", BLOCK_SIZE))
    with_positions = bool(cfg.get("with_positions", False))
    paths = IndexPaths(dst_dir)
    os.makedirs(paths.manifest, exist_ok=True)
    # tombstone purge: compaction is the point where masked deletes become
    # physical — postings rows drop, df/block metadata recompute from live
    # docs, doc_stats filters, and the manifest's row_count/sum_dl (hence
    # n_docs/avgdl) shift to the purged corpus. The compacted index
    # carries NO tombstones.
    ts = src.tombstones
    _write_index_config(dst_dir, {**cfg, "n_segments": 1,
                                  "compacted_from": src_dir,
                                  "purged_tombstones":
                                      int(ts.size) if ts is not None else 0})
    minis = src.postings.drop("segment").withColumn(SEG_COL, F.lit(0))
    ds = drop_docs(src.doc_stats.drop("segment"), ts)
    _commit_pass(spark, paths, [0],
                 _merge_blocks(minis, block_size, with_positions, ts),
                 ds.withColumn(SEG_COL, F.lit(0)))


# test-only commit gate (see _rehome_segments); None in production
_PRE_COMMIT_HOOK = None


def _rehome_segments(spark: SparkSession, src_dir: str, dst: "IndexPaths",
                     start_seg: int) -> int:
    """Copy one source index's committed segments into ``dst`` under
    fresh sequential ids starting at ``start_seg`` — postings / doc_stats
    / terms directories byte-identical (segment identity lives in the
    ``segment=<s>`` directory name), manifest marker rewritten with the
    new id and committed LAST via the same atomic rename as a build, so
    concurrent readers never see a half-appended segment. Returns the
    number of segments re-homed."""
    src = IndexPaths(src_dir)
    markers = _read_markers(src.manifest)
    new = start_seg
    for s in sorted(_done_segments(spark, src)):
        # COMMITTED destination segments are sacrosanct: clobbering one
        # would destroy live postings and fail only later at the manifest
        # rename, leaving metadata pointing at foreign data. Only
        # UNCOMMITTED leftovers (data dirs with no manifest marker — a
        # crashed prior attempt, invisible to readers) may be cleared.
        if os.path.isdir(dst.seg(dst.manifest, new)):
            raise FileExistsError(
                f"_rehome_segments: destination already has a COMMITTED "
                f"segment {new} under {dst.root!r} — refusing to clobber. "
                "Concurrent writers must serialize (add_documents takes a "
                "write lock); merge_indexes requires an empty destination."
            )
        for base_src, base_dst in ((src.postings, dst.postings),
                                   (src.doc_stats, dst.doc_stats),
                                   (src.terms, dst.terms),
                                   (src.terms_sorted, dst.terms_sorted)):
            seg_src = src.seg(base_src, s)
            if os.path.isdir(seg_src):  # zero-posting segments may
                seg_dst = dst.seg(base_dst, new)
                # a crashed prior attempt may have left UNCOMMITTED data
                # dirs here (no manifest marker — invisible to readers);
                # clobber them so a retry is not bricked by FileExists
                if os.path.isdir(seg_dst):
                    shutil.rmtree(seg_dst)
                shutil.copytree(seg_src, seg_dst)
        # manifest row embeds the segment id -> rewrite it, then
        # commit marker-last with the same atomic rename as a build
        t = markers[s]
        idx = t.schema.get_field_index("segment")
        t = t.set_column(idx, "segment",
                         pa.array([new] * t.num_rows, t.schema[idx].type))
        # test seam: _PRE_COMMIT_HOOK lets a concurrency test HOLD the
        # commit with the data dirs fully copied and the marker staged
        # but not renamed, so the reader-vs-writer overlap is guaranteed
        # by construction instead of hoped-for by timing
        hook = _PRE_COMMIT_HOOK
        _write_table_driver(t, dst.seg(dst.manifest, new),
                            None if hook is None else partial(hook, new))
        new += 1
    return new - start_seg


def _raise_on_duplicate_docs(spark: SparkSession, index_dir: str,
                             what: str) -> None:
    dup = (
        read_doc_stats(spark, index_dir)
        .groupBy("doc_id").count().where(F.col("count") > 1)
    )
    if dup.limit(1).count():
        raise ValueError(
            f"{what}: sources share doc_ids (first duplicate: "
            f"{dup.first()['doc_id']}) — doc spaces must be disjoint"
        )


WRITER_LOCK_FILENAME = ".writer.lock"


@contextmanager
def _writer_lock(index_dir: str, what: str):
    """Single-writer mutual exclusion for in-place index mutation.

    ``add_documents`` is metadata-appending but NOT safe against a
    concurrent add: two adds would compute the same next segment id and
    share a staging path. O_CREAT|O_EXCL is atomic on POSIX and on every
    shared filesystem worth running on; readers never take the lock
    (reads are lock-free via committed-manifest-markers). A crashed
    writer leaves the lock behind — the error message names the file so
    an operator can remove it after confirming no writer is live."""
    lock = os.path.join(index_dir, WRITER_LOCK_FILENAME)
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise RuntimeError(
            f"{what}: another writer holds {lock!r} (single-writer "
            "contract). If no writer is live, remove the stale lock file."
        ) from None
    try:
        os.write(fd, f"pid={os.getpid()}\n".encode())
        os.close(fd)
        yield
    finally:
        try:
            os.unlink(lock)
        except OSError:
            pass


def add_documents(spark: SparkSession, index_dir: str, corpus: DataFrame,
                  meta_cols: tuple[str, ...] | None = None,
                  n_segments: int = 1,
                  verify_disjoint: bool = False) -> int:
    """In-place incremental batch ingest (Lucene ``IndexWriter.addDocuments``
    analog; the reference index is write-once, ``InvertedIndex.java:49-136``):
    build the new docs into a TEMPORARY index with the live index's exact
    configuration (analyzer / buckets / block_size / positions — term
    bucketing and scoring depend on them), then re-home its committed
    segments under fresh ids at the metadata level. Concurrent readers
    are safe throughout: a segment becomes visible only via the atomic
    manifest-marker rename (committed-segments-only reads), and existing
    tombstones stay valid because live doc_ids are untouched.

    Statistics need no rebuild — n_docs / avgdl / df are associative
    aggregates the query path computes across segments, so queries after
    the add are rank- AND score-identical to a fresh build over the union
    corpus (tested; same invariant as :func:`merge_indexes`). Caller
    guarantees new doc_ids are disjoint from the live index;
    ``verify_disjoint=True`` checks BEFORE anything is appended (one
    join over the temp build's doc_stats), so a violation leaves the
    live index untouched. ``meta_cols`` defaults to the live index's
    recorded schema; an explicit mismatch raises. Returns the number of
    segments appended.

    Atomicity: each appended segment commits atomically (readers see it
    fully or not at all, pinned under true concurrency in
    ``test_incremental``), but a multi-segment add is NOT atomic as a
    batch — a crash mid-append leaves a prefix of the new segments
    visible. The default ``n_segments=1`` makes the whole add one atomic
    commit; for larger adds needing all-or-nothing, build a side index
    and :func:`merge_indexes` into a fresh directory instead."""
    cfg = read_index_config(index_dir)
    if meta_cols is None:
        # default to the live index's schema — an append with DIFFERENT
        # doc_stats columns would leave segments with mixed schemas
        meta_cols = tuple(cfg.get("meta_cols", ()))
    elif "meta_cols" in cfg and tuple(meta_cols) != tuple(cfg["meta_cols"]):
        raise ValueError(
            f"add_documents: meta_cols {tuple(meta_cols)!r} != the live "
            f"index's {tuple(cfg['meta_cols'])!r} — appended doc_stats "
            "segments must match the live schema"
        )
    # pid-suffixed staging + the writer lock together close the
    # two-concurrent-adds hazards: shared staging path AND same-start-id
    # computation (ADVICE r4)
    tmp = os.path.normpath(index_dir) + f".__add_tmp__{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    with _writer_lock(index_dir, "add_documents"):
        try:
            build_index(
                spark, corpus, tmp,
                id_col=cfg["id_col"], text_col=cfg["text_col"],
                analyzer=cfg["analyzer"], meta_cols=tuple(meta_cols),
                n_segments=int(n_segments), buckets=int(cfg["buckets"]),
                block_size=int(cfg["block_size"]),
                with_positions=bool(cfg.get("with_positions")),
                resume=False,
            )
            if verify_disjoint:
                # check BEFORE re-homing: raising after the commit would
                # leave the live index permanently carrying duplicate ids
                overlap = (
                    read_doc_stats(spark, tmp).select("doc_id")
                    .join(read_doc_stats(spark, index_dir).select("doc_id"),
                          "doc_id")
                )
                first = overlap.first()
                if first is not None:
                    raise ValueError(
                        "add_documents: sources share doc_ids (first "
                        f"duplicate: {first['doc_id']}) — doc spaces must "
                        "be disjoint; nothing was appended"
                    )
            dst = IndexPaths(index_dir)
            start = max(_done_segments(spark, dst), default=-1) + 1
            added = _rehome_segments(spark, tmp, dst, start)
            _write_index_config(index_dir, {**cfg,
                                            "meta_cols": list(meta_cols),
                                            "n_segments": start + added})
            return added
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            # the temp build's snapshot (read by verify_disjoint) names
            # a deleted directory
            _SNAPSHOTS.pop((spark.sparkContext.applicationId,
                            os.path.abspath(tmp)), None)


def merge_indexes(spark: SparkSession, src_dirs: list[str], dst_dir: str,
                  verify_disjoint: bool = False) -> None:
    """Merge independently BUILT indexes into one — the shard-then-combine
    pattern for bulk ingest at scale: N independent build jobs each index
    a corpus slice, then this metadata-level merge re-homes their
    committed segments under fresh sequential segment ids. Postings /
    doc_stats / terms segment directories are copied byte-identical (the
    segment identity lives in the ``segment=<s>`` directory name, not in
    the data files); only the one-row manifest markers are rewritten with
    the new ids. No Spark job touches postings bytes.

    Correctness: query results over the merged index are EXACTLY the
    single-build results over the union corpus (rank- and
    score-identical, tested) because every global BM25 statistic is an
    associative aggregate the query path already computes across
    segments — n_docs / avgdl from manifest row_count / sum_dl sums, df
    from the per-segment terms partials. The reference has no sharded
    build (single JVM); this is the Spark-native analog of a Lucene
    addIndexes / segment-directory import.

    Caller guarantee: doc_id spaces of the sources are DISJOINT (e.g.
    shard the corpus by doc_id range). ``verify_disjoint=True`` runs one
    aggregation over the merged doc_stats and raises on any duplicate.
    Sources must agree on buckets / block_size / with_positions /
    analyzer (validated — term bucketing and scoring depend on them).
    """
    if not src_dirs:
        raise ValueError("merge_indexes: no source indexes given")
    cfgs = [open_snapshot(spark, d).config for d in src_dirs]
    keys = ("buckets", "block_size", "with_positions", "analyzer")
    for key in keys:
        vals = {c.get(key) for c in cfgs}
        if len(vals) > 1:
            raise ValueError(
                f"merge_indexes: sources disagree on {key!r}: {sorted(map(str, vals))}"
            )
    dst = IndexPaths(dst_dir)
    os.makedirs(dst.manifest, exist_ok=True)

    next_seg = 0
    for src_dir in src_dirs:
        next_seg += _rehome_segments(spark, src_dir, dst, next_seg)
    # tombstones carry over: doc spaces are disjoint, so each source's
    # deletes stay valid in the merged index (re-homed under fresh
    # sequential del=<n> generations, same atomic rename as above)
    next_del = 0
    for src_dir in src_dirs:
        sbase = os.path.join(src_dir, TOMBSTONES_DIRNAME)
        for g in _tombstone_gens(src_dir):
            dbase = os.path.join(dst_dir, TOMBSTONES_DIRNAME)
            os.makedirs(dbase, exist_ok=True)
            dst_gen = os.path.join(dbase, f"del={next_del}")
            tmp = dst_gen + ".__tmp__"
            if os.path.exists(tmp):
                shutil.rmtree(tmp)
            shutil.copytree(os.path.join(sbase, g), tmp)
            os.replace(tmp, dst_gen)
            next_del += 1
    _write_index_config(dst_dir, {**cfgs[0], "n_segments": next_seg,
                                  "merged_from": list(src_dirs)})
    if verify_disjoint:
        _raise_on_duplicate_docs(spark, dst_dir, "merge_indexes")


def _write_index_config(index_dir: str, cfg: dict) -> None:
    import json

    os.makedirs(index_dir, exist_ok=True)
    # write-then-rename: in-place maintenance (add_documents) rewrites
    # the config of a LIVE index — a concurrent reader must never see a
    # truncated/partial file (same atomic-rename discipline as segment
    # commits)
    path = os.path.join(index_dir, "index_config.json")
    tmp = path + ".__tmp__"
    with open(tmp, "w") as f:
        json.dump(cfg, f)
    os.replace(tmp, path)


def read_index_config(index_dir: str) -> dict:
    import json

    with open(os.path.join(index_dir, "index_config.json")) as f:
        return json.load(f)


def _atomic_write(df: DataFrame, path: str) -> None:
    """Write-then-rename for atomic per-segment commit. A frame carrying
    ``SEG_COL`` (a build's staged artifact) is laid out by it, one
    ``_seg=<s>/`` directory per segment."""
    tmp = path + ".__tmp__"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    w = df.write.mode("overwrite")
    if SEG_COL in df.columns:
        w = w.partitionBy(SEG_COL)
    w.parquet(tmp)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.replace(tmp, path)


def _parquet_files(d: str) -> list[os.DirEntry]:
    """The parquet data files of directory ``d``, by name; none if ``d``
    does not exist."""
    try:
        with os.scandir(d) as it:
            return sorted((e for e in it if e.name.endswith(".parquet")
                           and e.name[0] not in "_."), key=lambda e: e.name)
    except FileNotFoundError:
        return []


def _committed_marker_names(manifest_dir: str) -> list[str]:
    """Strictly-committed manifest marker dir names (``segment=<n>``).

    STRICT matching is a concurrency invariant, not tidiness: a live
    writer stages its marker at ``segment=<n>.__tmp__`` before the
    atomic rename, and that name matches any ``startswith``/glob
    pattern. A reader that picks it up either crashes on a half-written
    parquet file (the DataFrameReader.parquet exception seen in the r4
    flaky-suite trace) or — worse — counts a fully-staged-but-unrenamed
    marker in n_docs/avgdl/df statistics while the data-side read
    (correctly) excludes the segment: torn scores."""
    if not os.path.isdir(manifest_dir):
        return []
    return sorted(d for d in os.listdir(manifest_dir)
                  if _MARKER_RE.fullmatch(d))


def _read_markers(manifest_dir: str, segments=None) -> dict:
    """The manifest markers of ``segments`` (default: every committed
    one) as pyarrow tables, keyed by segment id — the one marker reader
    (resume, re-homing, corpus scalars). Read with pyarrow in this
    process, no Spark job: a marker is one small parquet file, and a job
    per marker (or per scalar read) is pure fixed cost."""
    import pyarrow.parquet as pq

    if segments is None:
        segments = [int(d.split("=")[1])
                    for d in _committed_marker_names(manifest_dir)]
    return {s: pq.read_table(os.path.join(manifest_dir, f"segment={s}"))
            for s in segments}


def _done_segments(spark: SparkSession, paths: IndexPaths) -> set[int]:
    """Committed segments whose manifest marker says ``ok``."""
    return {s for s, t in _read_markers(paths.manifest).items()
            if t["status"].to_pylist()[:1] == ["ok"]}


# ------------------------------------------------------- index snapshot --
#
# The one point-in-time reader (Lucene's DirectoryReader; T-Torch loads
# its index once per QueryPool, ``QueryPool.java:128-134``). A snapshot
# comes from ONE listing — the committed manifest markers and the
# tombstone generations — and every query-side read goes through it:
# corpus scalars, dictionary, postings, doc_stats and tombstones all
# describe one segment set, so a commit racing a query can never hand it
# two index states. Readers stay lock-free: the marker is renamed into
# place last, so a listed segment's data directories are complete.

_MARKER_RE = re.compile(r"segment=\d+")


@dataclass(frozen=True, eq=False)
class IndexSnapshot:
    """One committed state of an index: ``segments`` (the committed
    segment ids) and ``tombstones`` (sorted deleted doc_ids, or None).
    Its config, DataFrames, corpus scalars, per-segment file lists and
    ``memo`` (``IndexMeta`` per term set or expansion) are built lazily
    over exactly ``segments``, and a snapshot that differs only in
    tombstones shares them: masking changes no statistic."""

    spark: SparkSession
    root: str
    segments: tuple[int, ...]
    tombstones: np.ndarray | None
    identity: tuple = field(repr=False)
    memo: dict = field(default_factory=dict, repr=False)
    _lazy: dict = field(default_factory=dict, repr=False)

    @property
    def config(self) -> dict:
        """index_config.json, read on first use: a directory of segments
        committed by ``commit_segment`` alone has none, and its manifest
        and data stay readable."""
        return self._once("config", lambda: read_index_config(self.root))

    @property
    def buckets(self) -> int:
        return int(self.config["buckets"])

    @property
    def analyzer(self) -> str:
        return str(self.config.get("analyzer", "ws"))

    @property
    def with_positions(self) -> bool:
        return bool(self.config.get("with_positions"))

    def _once(self, key, build):
        if key not in self._lazy:
            self._lazy[key] = build()
        return self._lazy[key]

    def _read(self, kind: str) -> DataFrame | None:
        """``kind``'s directories of the snapshot's segments as one
        DataFrame; the ``segment`` column comes from the directory names
        (manifest rows carry their own)."""
        def build():
            base = os.path.join(self.root, kind)
            paths = [p for p in (os.path.join(base, f"segment={s}")
                                 for s in self.segments) if os.path.isdir(p)]
            if kind == "terms_sorted" and (
                    not paths or len(paths) < len(self.segments)):
                return None  # see read_terms_sorted
            if not paths:
                # No committed segment: the historical PATH_NOT_FOUND,
                # through a glob a writer's ``segment=<n>.__tmp__``
                # staging dir can never satisfy — a reader racing the
                # first commit must error, not scan a half-written file.
                paths = [os.path.join(base, "segment=*",
                                      "__no_committed_segments__")]
            reader = self.spark.read
            if kind != "manifest":
                reader = reader.option("basePath", base)
            return reader.parquet(*paths)
        return self._once(kind, build)

    @property
    def postings(self) -> DataFrame:
        return self._read("postings")

    @property
    def terms(self) -> DataFrame:
        return self._read("terms")

    @property
    def terms_sorted(self) -> DataFrame | None:
        return self._read("terms_sorted")

    @property
    def doc_stats(self) -> DataFrame:
        return self._read("doc_stats")

    @property
    def manifest(self) -> DataFrame:
        return self._read("manifest")

    @property
    def scalars(self) -> tuple[float, float]:
        """(n_docs, avgdl) of the segment set, computed once through
        ``wand._corpus_scalars``."""
        from . import wand  # wand imports this module

        return self._once("scalars",
                          lambda: wand._corpus_scalars(self.spark, self))

    def files(self, kind: str) -> dict[int, list[str]]:
        """Each segment's parquet files of ``kind`` (``postings``,
        ``terms``), listed once: the file lists :func:`_read_bucketed`
        reads. A committed segment without a ``kind`` directory (a
        zero-posting segment re-homed by ``_rehome_segments``) lists
        none. With no committed segment it raises the historical
        PATH_NOT_FOUND, as the Spark read of ``kind`` does."""
        def build():
            if not self.segments:
                self._read(kind)  # raises: nothing committed
            return {s: [e.path for e in _parquet_files(self._seg_dir(kind, s))]
                    for s in self.segments}
        return self._once(("files", kind), build)

    def one_task(self) -> bool:
        """Whether the snapshot's postings files are one task's worth of
        data by Spark's own measure: their sizes sum to at most
        ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` (read from
        the session on each call), the size AQE coalesces a shuffle's
        partitions to. Queries then read the postings in one task and
        the dictionary on the driver, with pyarrow. That read decodes
        every row group it opens, so its cost grows with the index; up
        to this size it beat or tied Spark's parquet scan in every
        measurement (EXPLAIN.md). The listing stops at the first segment
        past the cap."""
        cap = int(self.spark.sparkContext._jvm.org.apache.spark.network
                  .util.JavaUtils.byteStringAsBytes(self.spark.conf.get(
                      "spark.sql.adaptive.advisoryPartitionSizeInBytes")))

        def build():
            left = cap
            for s in self.segments:
                for e in _parquet_files(self._seg_dir("postings", s)):
                    left -= e.stat().st_size
                if left < 0:
                    return False
            return True
        return self._once(("one_task", cap), build)

    def _seg_dir(self, kind: str, s: int) -> str:
        return os.path.join(self.root, kind, f"segment={s}")

    def term_filter(self, terms) -> Column:
        """The predicate selecting ``terms``' rows of a bucketed table
        (postings, terms): the crc32 bucket under the index's own bucket
        count, then the term, both pushed into the parquet scan."""
        q, bs = _query_buckets(terms, self.buckets)
        return F.col("bucket").isin(bs) & F.col("term").isin(q)


# one snapshot per (Spark application, index path), replaced when the
# listing changes
_SNAPSHOTS: dict[tuple, IndexSnapshot] = {}


def _listing(root: str) -> tuple:
    """An index's listing identity: the committed marker names, each
    with its directory's inode and mtime (a rebuild into the same path
    recommits the same names), and the tombstone generation names. Two
    directory scans, no Spark job."""
    try:
        with os.scandir(os.path.join(root, "manifest")) as it:
            markers = tuple(sorted(
                (e.name, e.inode(), e.stat().st_mtime_ns)
                for e in it if _MARKER_RE.fullmatch(e.name)))
    except FileNotFoundError:
        markers = ()
    return markers, _tombstone_gens(root)


def open_snapshot(spark: SparkSession, index) -> IndexSnapshot:
    """The current snapshot of the index at path ``index``, or ``index``
    itself if it is a snapshot already. The snapshot is memoized and
    served while the listing is unchanged, so warm queries reuse its
    DataFrames (building one re-lists the index files, ~0.15 s a query)
    and statistics, and the first call after a commit — by this process
    or another — sees the commit in full. A change in tombstone
    generations alone keeps the segment set's DataFrames, scalars and
    memo."""
    if isinstance(index, IndexSnapshot):
        return index
    root = os.path.abspath(index)
    key = (spark.sparkContext.applicationId, root)
    ident = _listing(root)
    old = _SNAPSHOTS.get(key)
    if old is not None and old.identity == ident:
        return old
    dead = _read_tombstones(root, ident[1])
    if old is not None and old.identity[0] == ident[0]:
        snap = replace(old, tombstones=dead, identity=ident)
    else:
        snap = IndexSnapshot(
            spark, root,
            tuple(sorted(int(m[0].split("=")[1]) for m in ident[0])),
            dead, ident)
    _SNAPSHOTS[key] = snap
    return snap


def read_manifest(spark: SparkSession, index_dir: str) -> DataFrame:
    return open_snapshot(spark, index_dir).manifest


# ------------------------------------------------------------ deletions --
#
# Tombstone deletes (Lucene live-docs semantics, segment files immutable):
# ``delete_docs`` records doc_ids under ``<index>/tombstones/del=<n>/``
# without touching postings. Every query path MASKS tombstoned docs out of
# results while corpus statistics (n_docs / avgdl / df) keep counting them
# — exactly Lucene's behavior between a delete and the merge that purges
# it — and ``compact_index`` physically drops them and recomputes the
# statistics. Driver state is the deduped doc_id array: bounded by
# deletes-since-last-compaction (the same bound Lucene accepts for its
# per-segment live-docs bitsets); at 10^12-file scale the compaction
# cadence bounds it, and the array ships to scan tasks once per query.

TOMBSTONES_DIRNAME = "tombstones"


def sorted_isin(sorted_ref: np.ndarray, values: np.ndarray) -> np.ndarray:
    """Vectorized membership of ``values`` in a SORTED int array."""
    if sorted_ref is None or sorted_ref.size == 0 or values.size == 0:
        return np.zeros(values.size, dtype=bool)
    pos = np.clip(np.searchsorted(sorted_ref, values),
                  0, sorted_ref.size - 1)
    return sorted_ref[pos] == values


def _tombstone_gens(index_dir: str) -> tuple:
    # Strict match: a crashed deleter's 'del=<n>.__tmp__<pid>' staging dir
    # (or any other stray name) must never be visible as a generation —
    # readers would see half-written parquet and the next delete_docs
    # would crash parsing the generation number.
    d = os.path.join(index_dir, TOMBSTONES_DIRNAME)
    if not os.path.isdir(d):
        return ()
    return tuple(sorted(x for x in os.listdir(d)
                        if re.fullmatch(r"del=\d+", x)))


_TOMBSTONE_TMP_GC_AGE_SEC = 3600.0


def _gc_stale_tombstone_tmps(base: str) -> None:
    """Remove abandoned ``*.__tmp__*`` staging dirs from a crashed deleter.

    Only dirs older than an hour are collected, so a LIVE concurrent
    deleter mid-write (makedirs → write_table → os.replace, a
    sub-second window) can never lose its staging dir to GC. Strict
    ``_tombstone_gens`` matching already hides tmp dirs from readers;
    this just stops them accumulating forever."""
    try:
        names = os.listdir(base)
    except OSError:
        return
    now = time.time()
    for x in names:
        if ".__tmp__" not in x:
            continue
        p = os.path.join(base, x)
        try:
            if now - os.path.getmtime(p) < _TOMBSTONE_TMP_GC_AGE_SEC:
                continue
        except OSError:
            continue  # vanished: its owner committed or cleaned up
        shutil.rmtree(p, ignore_errors=True)


def delete_docs(spark: SparkSession, index_dir: str, doc_ids) -> int:
    """Mask documents out of every subsequent query WITHOUT rewriting any
    segment file. ``doc_ids`` is an iterable of ints or a one-column
    DataFrame. Each call commits one ``del=<n>`` generation atomically
    (write-then-rename, same discipline as segment commits); readers see
    all generations unioned. Returns the number of ids recorded.

    Statistics are intentionally NOT updated here — deleted docs still
    count in df/avgdl until ``compact_index`` purges them (documented
    Lucene-parity semantics; the ``topk_bm25_deleted`` vs
    ``topk_bm25_purged`` oracle pair pins both sides)."""
    import pyarrow.parquet as pq

    if isinstance(doc_ids, DataFrame):
        col = doc_ids.columns[0]
        doc_ids = [r[0] for r in doc_ids.select(col).distinct().collect()]
    ids = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
    if ids.size == 0:
        return 0
    base = os.path.join(index_dir, TOMBSTONES_DIRNAME)
    os.makedirs(base, exist_ok=True)
    _gc_stale_tombstone_tmps(base)
    gens = _tombstone_gens(index_dir)
    n = max((int(g.split("=")[1]) for g in gens), default=-1) + 1
    for _ in range(64):  # concurrent deleters race on n: first rename wins
        dst = os.path.join(base, f"del={n}")
        tmp = dst + f".__tmp__{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}),
                       os.path.join(tmp, "part-0.parquet"))
        try:
            os.replace(tmp, dst)
            return int(ids.size)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            n += 1
    raise RuntimeError(f"delete_docs: could not commit a generation under {base}")


def _read_tombstones(index_dir: str, gens: tuple) -> np.ndarray | None:
    """Sorted unique doc_ids of the tombstone generations ``gens``, or
    None if there are none. Read with pyarrow, no Spark job."""
    import pyarrow.parquet as pq

    base = os.path.join(index_dir, TOMBSTONES_DIRNAME)
    parts = [
        pq.read_table(os.path.join(base, g, f), columns=["doc_id"])["doc_id"]
        .to_numpy(zero_copy_only=False)
        for g in gens for f in sorted(os.listdir(os.path.join(base, g)))
        if f.endswith(".parquet")
    ]
    if not parts:
        return None
    arr = np.unique(np.concatenate(parts)).astype(np.int64)
    return arr if arr.size else None


def tombstone_ids(index_dir) -> np.ndarray | None:
    """Sorted unique tombstoned doc_ids, or None if there are none: a
    snapshot's, or those of an index path's current generations."""
    if isinstance(index_dir, IndexSnapshot):
        return index_dir.tombstones
    return _read_tombstones(index_dir, _tombstone_gens(index_dir))


def drop_docs(df: DataFrame, ids: np.ndarray | None) -> DataFrame:
    """``df`` without the rows whose ``doc_id`` is in ``ids`` (e.g.
    :func:`tombstone_ids`) — a broadcast anti-join; ``None`` keeps all."""
    if ids is None:
        return df
    dead = df.sparkSession.createDataFrame([(int(x),) for x in ids],
                                           "doc_id bigint")
    return df.join(F.broadcast(dead), "doc_id", "left_anti")


def read_postings(spark: SparkSession, index_dir: str) -> DataFrame:
    return open_snapshot(spark, index_dir).postings


def _read_bucketed(files: list[str], terms, buckets: int, cols):
    """THE query-side read of a bucketed table (postings blocks, the
    terms dictionary): the rows of ``terms`` in the parquet ``files``
    (from ``IndexSnapshot.files``), as a pyarrow Table of ``cols``. Read
    in this process, no Spark job: the crc32 bucket and the term are
    pushed into the read as a filter, and only ``cols`` are projected.
    A query's task reads its postings with it and the driver reads the
    dictionary with it, both on the calling thread: a Spark task slot
    is one core, and on the driver a pyarrow thread pool did not speed
    up the read. An empty ``files`` reads zero rows of the same column
    types."""
    import pyarrow.dataset as ds

    q, bs = _query_buckets(terms, buckets)
    schema = pa.schema([ARROW_COLUMNS.field(c) for c in
                        dict.fromkeys(("bucket", "term", *cols))])
    return ds.dataset(list(files), schema=schema, format="parquet").to_table(
        columns=list(cols),
        filter=ds.field("bucket").isin(bs) & ds.field("term").isin(q),
        use_threads=False)


def read_terms(spark: SparkSession, index_dir: str) -> DataFrame:
    """(bucket, term, df) dictionary — per-segment df partials; global df
    per term = sum over segments."""
    return open_snapshot(spark, index_dir).terms


def read_terms_sorted(spark: SparkSession,
                      index_dir: str) -> DataFrame | None:
    """(term, df) term-RANGE-partitioned secondary dictionary (see
    ``_write_terms_sorted``) — or ``None`` when any COMMITTED segment
    predates the feature (e.g. a merge that re-homed segments from an old
    index): a partial sorted dictionary would silently drop that
    segment's df partials from an expansion, so the caller must fall
    back to the bucketed ``read_terms`` scan instead."""
    return open_snapshot(spark, index_dir).terms_sorted


def read_doc_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    return open_snapshot(spark, index_dir).doc_stats


def index_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """Observability: per-segment index statistics from block METADATA
    only — no payload decode, one JVM-side scan. The analog of the
    reference's compression demo + memory probe
    (``InvertedIndexTest.java:13-23``, ``base/helper/MemoryUsage.java``),
    as a queryable DataFrame instead of stdout prints.

    ``compression_ratio`` compares the delta+varint payload bytes against
    plain fixed-width postings (int64 doc + int32 tf + int64 dl = 20
    bytes/posting). Positional indexes include the ``poss`` payload in
    ``payload_bytes`` (raw equivalent intentionally NOT inflated for
    positions — the ratio stays conservative)."""
    snap = open_snapshot(spark, index_dir)
    p = snap.postings
    per_seg = p.groupBy("segment").agg(
        F.countDistinct("term").alias("terms"),
        F.count(F.lit(1)).alias("blocks"),
        F.sum("n_docs").alias("postings"),
        F.sum(_payload_bytes(p.columns)).alias("payload_bytes"),
    )
    m = snap.manifest.select("segment", "row_count", "duration_ms")
    # manifest drives the join: a committed segment with zero postings
    # blocks (all-empty documents) must still be reported, with zeros
    return (
        m.join(per_seg, "segment", "left")
        .fillna(0, subset=["terms", "blocks", "postings", "payload_bytes"])
        .withColumn("raw_bytes",
                    (F.col("postings") * F.lit(20)).cast("bigint"))
        .withColumn(
            "compression_ratio",
            F.when(F.col("payload_bytes") > 0,
                   F.round(F.col("raw_bytes") / F.col("payload_bytes"), 3)),
        )
        .orderBy("segment")
    )


def write_debug_index(spark: SparkSession, index_dir: str,
                      out_dir: str) -> None:
    """S8 — the uncompressed index writer (``InvertedIndex.java:49-87``'s
    debug sink): decode every block back to plain (term, doc_id, tf, dl)
    rows and write them as ordinary parquet for index forensics (diffable,
    queryable with any tool, no codec required). Forensics = the raw
    physical bytes, so tombstoned docs are INCLUDED (live_only=False)."""
    (
        postings_flat(spark, index_dir, live_only=False)
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite").parquet(out_dir)
    )


def postings_flat(spark: SparkSession, index_dir: str,
                  docs_only: bool = False,
                  terms: list[str] | None = None,
                  live_only: bool = True,
                  segments: list[int] | None = None) -> DataFrame:
    """Decode blocks back to (term, doc_id[, tf, dl]) rows — index-backed
    boolean queries and invariant tests build on this.

    ``docs_only=True`` skips the tf/dl payload decode AND prunes those
    columns out of the parquet scan — boolean AND/OR only need docIDs
    (the reference's ``getKeys`` vs ``getPairs`` split,
    ``InvertedIndex.java:138-161``). ``terms`` prunes BELOW the decode:
    the bucket + term predicates reach the parquet scan, so only the
    query terms' blocks are ever decompressed (a filter above the Python
    UDF cannot be pushed through it — it must be applied to the blocks).
    ``live_only=True`` (default) masks tombstoned docs — every user-facing
    read honors deletes; pass False for index forensics on the raw bytes
    (``write_debug_index``).
    """
    snap = open_snapshot(spark, index_dir)
    blocks = snap.postings
    dead = snap.tombstones if live_only else None
    if segments is not None:
        # partition pruning on the segment=<s> directory layout — point
        # lookups (explain_score) decode one doc-disjoint segment only
        blocks = blocks.where(F.col("segment").isin([int(s)
                                                     for s in segments]))
    if terms is not None:
        blocks = blocks.where(snap.term_filter(terms))

    payload = () if docs_only else ("tfs", "dls")

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            d = decode_blocks(pdf, payload)
            out = pd.DataFrame({
                "term": np.repeat(pdf["term"].to_numpy(),
                                  pdf["n_docs"].to_numpy(dtype=np.int64)),
                "doc_id": d["docs"],
                **({} if docs_only else {"tf": d["tfs"], "dl": d["dls"]}),
            })
            if dead is not None:
                out = out[~sorted_isin(dead, d["docs"])]
            if len(out):
                yield out

    return blocks.select("term", "n_docs", "doc_gaps", *payload).mapInPandas(
        explode, schema="term string, doc_id bigint"
        + ("" if docs_only else ", tf bigint, dl bigint"))
