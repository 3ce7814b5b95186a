"""Codec roundtrip properties — mirrors the reference's only real test
(InvertedIndexTest.java:90-147: compress→uncompress == identity)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from torchtrajectory_spark.functions import codec


def test_empty():
    assert codec.encode_u64(np.array([], dtype=np.uint64)) == b""
    assert codec.decode_u64(b"").size == 0
    assert codec.decode_sorted(b"").size == 0


def test_known_values():
    v = np.array([0, 1, 127, 128, 300, 2**31, 2**63 - 1], dtype=np.uint64)
    assert (codec.decode_u64(codec.encode_u64(v)) == v).all()


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(xs):
    v = np.array(xs, dtype=np.uint64)
    out = codec.decode_u64(codec.encode_u64(v))
    assert (out == v).all()


@given(
    st.lists(st.integers(min_value=0, max_value=2**62), max_size=400).map(sorted)
)
@settings(max_examples=200, deadline=None)
def test_sorted_roundtrip(xs):
    # non-decreasing incl. duplicates and adversarial gaps
    v = np.array(xs, dtype=np.int64)
    out = codec.decode_sorted(codec.encode_sorted(v))
    assert (out == v).all()


def test_adversarial_gaps():
    v = np.array([0, 0, 2**31, 2**31, 2**62], dtype=np.int64)
    assert (codec.decode_sorted(codec.encode_sorted(v)) == v).all()


def test_compression_ratio_sequential():
    # analog of the reference's micro-demo (InvertedIndexTest.java:13-23):
    # sequential ints must compress to ~1 byte/doc via delta+varint
    v = np.arange(100_000, dtype=np.int64)
    enc = codec.encode_sorted(v)
    assert len(enc) < 110_000  # ~1.05 bytes per posting
    assert (codec.decode_sorted(enc) == v).all()


# --- batch (run-sliced) variants: byte-identity vs per-run calls ---------


@given(
    st.lists(st.integers(min_value=0, max_value=2**63 - 1),
             min_size=1, max_size=300),
    st.data(),
)
@settings(max_examples=150, deadline=None)
def test_u64_runs_byte_identity(xs, data):
    v = np.array(xs, dtype=np.uint64)
    cuts = data.draw(
        st.lists(st.integers(min_value=1, max_value=len(xs)), max_size=8)
    )
    starts = np.array(sorted({0, *cuts} - {len(xs)}), dtype=np.int64)
    got = codec.encode_u64_runs(v, starts)
    bounds = np.concatenate([starts, [len(xs)]])
    want = [codec.encode_u64(v[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]
    assert got == want
    counts = np.diff(bounds)
    back = codec.decode_u64_concat(got, counts)
    assert (back == v).all()


@given(
    st.lists(st.integers(min_value=0, max_value=2**62),
             min_size=1, max_size=300).map(sorted),
    st.data(),
)
@settings(max_examples=150, deadline=None)
def test_sorted_runs_byte_identity(xs, data):
    v = np.array(xs, dtype=np.int64)
    cuts = data.draw(
        st.lists(st.integers(min_value=1, max_value=len(xs)), max_size=8)
    )
    starts = np.array(sorted({0, *cuts} - {len(xs)}), dtype=np.int64)
    got = codec.encode_sorted_runs(v, starts)
    bounds = np.concatenate([starts, [len(xs)]])
    want = [codec.encode_sorted(v[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]
    assert got == want
    counts = np.diff(bounds)
    # each run is sorted within itself, so concat-decode must rebuild v
    back = codec.decode_sorted_concat(got, counts)
    assert (back == v).all()
    # the restart cumsum alone, over the concatenated gap stream
    gaps = codec.decode_u64_concat(got, counts)
    assert (codec.restart_cumsum(gaps, counts) == v).all()
    # zero-length runs are skipped
    padded = np.insert(counts, [0, len(counts)], 0)
    assert (codec.restart_cumsum(gaps, padded) == v).all()


def test_runs_empty_and_single():
    assert codec.encode_u64_runs(np.array([], dtype=np.uint64),
                                 np.array([], dtype=np.int64)) == []
    assert codec.encode_sorted_runs(
        np.array([7], dtype=np.int64), np.array([0], dtype=np.int64)
    ) == [codec.encode_sorted(np.array([7], dtype=np.int64))]
    assert codec.decode_sorted_concat([], np.array([], dtype=np.int64)).size == 0
