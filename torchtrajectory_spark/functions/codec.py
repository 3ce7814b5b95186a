"""Delta-gap + varint (LEB128) block codec, vectorized in numpy.

Full-text analog of T-Torch's posting compression
(``base/invertedIndex/InvertedIndex.java:26-27,116-117,141-142``):
sorted docIDs get delta + varint (analog of JavaFastPFOR's
``IntegratedIntCompressor`` = delta + IntegratedBinaryPacking + VByte);
unsorted payloads (tf / positions) get plain varint (analog of
``IntCompressor`` = FastPFOR + VByte).

Roundtrip property ``decode(encode(x)) == x`` mirrors the reference's only
meaningful test (``InvertedIndexTest.java:90-147``) — asserted here with
Hypothesis in tests/test_codec.py.

Everything operates on whole numpy arrays — no per-element Python in the
encode/decode hot path beyond a loop over *byte positions* (<= 10).
"""

from __future__ import annotations

import numpy as np

_MAX_VARINT_BYTES = 10  # ceil(64 / 7)
_THRESHOLDS = [np.uint64(1) << np.uint64(7 * i) for i in range(1, _MAX_VARINT_BYTES)]


def encode_u64(values: np.ndarray) -> bytes:
    """Varint-encode a uint64 array (vectorized)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return b""
    nbytes = np.ones(n, dtype=np.int64)
    for t in _THRESHOLDS:
        nbytes += v >= t
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(nbytes[:-1], out=starts[1:])
    out = np.zeros(int(starts[-1] + nbytes[-1]), dtype=np.uint8)
    for j in range(int(nbytes.max())):
        sel = nbytes > j
        chunk = (v[sel] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbytes[sel] - 1 > j).astype(np.uint8) << 7
        out[starts[sel] + j] = chunk.astype(np.uint8) | cont
    return out.tobytes()


def decode_u64(buf: bytes) -> np.ndarray:
    """Decode varint bytes back to a uint64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    pos = np.arange(b.size, dtype=np.int64) - np.repeat(starts, lengths)
    parts = (b & 0x7F).astype(np.uint64) << (7 * pos).astype(np.uint64)
    return np.add.reduceat(parts, starts)


def encode_sorted(values: np.ndarray) -> bytes:
    """Delta-gap + varint for a non-decreasing int array (docIDs)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    gaps = np.empty_like(v)
    gaps[0] = v[0]
    np.subtract(v[1:], v[:-1], out=gaps[1:])
    return encode_u64(gaps)


def decode_sorted(buf: bytes) -> np.ndarray:
    """Inverse of encode_sorted; returns int64 array."""
    gaps = decode_u64(buf)
    return np.cumsum(gaps, dtype=np.uint64).astype(np.int64)


def encode_u32s(values: np.ndarray) -> bytes:
    """Plain varint for small unsorted payloads (tfs / positions)."""
    return encode_u64(np.ascontiguousarray(values, dtype=np.uint64))


def decode_u32s(buf: bytes) -> np.ndarray:
    return decode_u64(buf).astype(np.int64)


# --- batch (run-sliced) variants -------------------------------------------
#
# The block writers encode hundreds of thousands of SHORT runs per task
# (posting blocks average a handful of docs); per-call numpy overhead
# (~15 array ops per encode) dominates at that granularity. These variants
# run ONE vectorized encode over the whole column and slice the byte
# stream at run boundaries — byte-identical to calling the per-run
# functions on each slice (asserted in tests/test_codec.py).


def _varint_bytes_and_offsets(v: np.ndarray,
                              starts: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Varint-encode `v` in one pass; return (buffer, byte offset of each
    run boundary in `starts`, plus the end offset)."""
    n = v.size
    if n == 0:
        return b"", np.zeros(len(starts) + 1, dtype=np.int64)
    nbytes = np.ones(n, dtype=np.int64)
    for t in _THRESHOLDS:
        nbytes += v >= t
    byte_starts = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(nbytes, out=byte_starts[1:])
    out = np.zeros(int(byte_starts[-1]), dtype=np.uint8)
    for j in range(int(nbytes.max())):
        sel = nbytes > j
        chunk = (v[sel] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbytes[sel] - 1 > j).astype(np.uint8) << 7
        out[byte_starts[:-1][sel] + j] = chunk.astype(np.uint8) | cont
    bounds = np.concatenate([byte_starts[starts], byte_starts[-1:]])
    return out.tobytes(), bounds


def encode_u64_runs(values: np.ndarray, starts: np.ndarray) -> list[bytes]:
    """Plain-varint encode each run ``values[starts[i]:starts[i+1]]``;
    equivalent to ``[encode_u64(run) for run in runs]`` in one pass."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    starts = np.asarray(starts, dtype=np.int64)
    buf, bounds = _varint_bytes_and_offsets(v, starts)
    return [buf[a:b] for a, b in zip(bounds[:-1].tolist(), bounds[1:].tolist())]


def encode_sorted_runs(values: np.ndarray, starts: np.ndarray) -> list[bytes]:
    """Delta-gap + varint per run, delta reset at each run start;
    equivalent to ``[encode_sorted(run) for run in runs]`` in one pass."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    starts = np.asarray(starts, dtype=np.int64)
    if v.size == 0:
        return [b""] * max(0, len(starts))
    gaps = np.empty_like(v)
    gaps[0] = v[0]
    np.subtract(v[1:], v[:-1], out=gaps[1:])
    gaps[starts] = v[starts]  # reset delta at every run boundary
    buf, bounds = _varint_bytes_and_offsets(gaps, starts)
    return [buf[a:b] for a, b in zip(bounds[:-1].tolist(), bounds[1:].tolist())]


def decode_u64_concat(bufs, counts: np.ndarray) -> np.ndarray:
    """Decode a sequence of plain-varint buffers in ONE pass.

    Varint streams are self-delimiting, so decoding the concatenation
    equals concatenating the decodes; ``counts`` (values per buffer) is
    accepted for interface symmetry and validated cheaply."""
    buf = b"".join(bufs)
    out = decode_u64(buf)
    total = int(np.sum(counts)) if len(counts) else 0
    if out.size != total:
        raise ValueError(f"decoded {out.size} values, expected {total}")
    return out


def restart_cumsum(gaps: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Prefix sums of ``gaps`` that restart at every run: run i covers
    the next ``lens[i]`` values (zero-length runs allowed), and its sums
    start from its own first gap. One global cumsum, then each run's
    base is subtracted — the inverse of a delta chain reset at every run
    start (docIDs per block, positions per posting). Returns int64."""
    lens = np.asarray(lens, dtype=np.int64)
    if gaps.size == 0:
        return np.empty(0, dtype=np.int64)
    nz = lens[lens > 0]
    starts = np.concatenate(([0], np.cumsum(nz)[:-1]))
    flat = np.cumsum(gaps, dtype=np.uint64)
    base = flat[starts] - gaps[starts].astype(np.uint64)
    return (flat - np.repeat(base, nz)).astype(np.int64)


def decode_sorted_concat(bufs, counts: np.ndarray) -> np.ndarray:
    """Decode a sequence of ``encode_sorted`` buffers in ONE pass: each
    buffer's delta chain restarts at its own first value."""
    return restart_cumsum(decode_u64_concat(bufs, counts), counts)
