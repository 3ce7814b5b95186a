"""Sorted secondary term dictionary (Lucene FST-analog; VERDICT r4 #5).

The primary terms table is crc32-bucketed to co-partition with the
postings, so a prefix expansion over it must scan every bucket file.
``terms_sorted`` is the same (term, df) rows range-partitioned + sorted
on ``term`` (Lucene's sorted term dictionary / ``TermsEnum.seekCeil``
analog): a prefix becomes the range [p, succ(p)) whose bounds push into
the parquet scan, and the term-range file layout makes file/row-group
min-max statistics prune the read to O(1) of the vocabulary.

Pinned here:
  * ``_prefix_upper`` is EXACTLY the prefix-set upper bound (property
    test: startswith(p) <=> p <= s < succ(p), codepoint == UTF-8 order);
  * the written layout is disjoint term ranges across files, so a
    prefix range intersects a strict subset of files (the pruning
    precondition, asserted from the parquet footers themselves);
  * both range bounds reach the scan as PushedFilters;
  * expansion results are IDENTICAL on the sorted path, the bucketed
    fallback, and a pre-feature index (``terms_sorted`` absent);
  * ``read_terms_sorted`` refuses a PARTIAL sorted dictionary (any
    committed segment without its dir — e.g. a merge that re-homed
    segments from an old index) so an expansion can never silently
    drop a segment's df partials.
"""

from __future__ import annotations

import os
import shutil

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from torchtrajectory_spark.operators.index import (
    IndexPaths,
    build_index,
    read_terms,
    read_terms_sorted,
)
from torchtrajectory_spark.operators.wand import (
    _prefix_range_pred,
    _prefix_upper,
    expand_prefix,
    expand_wildcard,
)
from torchtrajectory_spark.sources.corpus import synth_corpus

BUCKETS = 8
SEGS = 2


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    from torchtrajectory_spark.operators import index as index_mod

    d = str(tmp_path_factory.mktemp("sorted_idx"))
    # file count is vocabulary-sized (TERMS_SORTED_ROWS_PER_FILE); shrink
    # the target so the tiny fixture vocabulary still splits into several
    # range files — otherwise file-level pruning has nothing to prune
    old = index_mod.TERMS_SORTED_ROWS_PER_FILE
    index_mod.TERMS_SORTED_ROWS_PER_FILE = 32
    try:
        build_index(
            spark, synth_corpus(spark, 400, partitions=6), d,
            id_col="doc_id", text_col="content", analyzer="code",
            n_segments=SEGS, buckets=BUCKETS,
        )
    finally:
        index_mod.TERMS_SORTED_ROWS_PER_FILE = old
    return d


# --------------------------------------------------------- _prefix_upper --

@settings(max_examples=300, deadline=None)
@given(st.text(min_size=1, max_size=6), st.text(max_size=8))
def test_prefix_upper_is_exact_range_bound(prefix, s):
    """s startswith prefix  <=>  prefix <= s < succ(prefix).

    Python str comparison is codepoint order, which equals UTF-8 byte
    order (what Spark's BinaryComparison and parquet min/max use), so
    proving the property here proves it for the pushed-down range."""
    upper = _prefix_upper(prefix)
    in_range = s >= prefix and (upper is None or s < upper)
    assert in_range == s.startswith(prefix)


def test_prefix_upper_edge_cases():
    assert _prefix_upper("a") == "b"
    # trailing max codepoint: carry into the previous position
    assert _prefix_upper("a" + chr(0x10FFFF)) == "b"
    # all-max prefix has no finite upper bound
    assert _prefix_upper(chr(0x10FFFF) * 3) is None
    # increment landing in the surrogate gap snaps past it
    assert _prefix_upper(chr(0xD7FF)) == chr(0xE000)


# ------------------------------------------------------- layout + plans --

def _file_term_ranges(seg_dir: str) -> list[tuple[str, str]]:
    import pyarrow.parquet as pq

    ranges = []
    for f in sorted(os.listdir(seg_dir)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(seg_dir, f)).metadata
        if md.num_rows == 0:
            continue
        schema_names = [md.schema.column(i).name
                        for i in range(md.num_columns)]
        ci = schema_names.index("term")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            stats = md.row_group(rg).column(ci).statistics
            assert stats is not None and stats.has_min_max, (
                "term column must carry min/max statistics — they ARE "
                "the pruning mechanism")
            mins.append(stats.min)
            maxs.append(stats.max)
        ranges.append((min(mins), max(maxs)))
    return ranges


def test_sorted_layout_is_disjoint_and_prefix_prunable(spark, idx):
    """Files hold disjoint term ranges; a prefix range intersects a
    strict subset of them. This is the parquet-footer-level precondition
    that makes the pushed range prune at any scale."""
    p = IndexPaths(idx)
    total, touched = 0, 0
    for s in range(SEGS):
        seg_dir = p.seg(p.terms_sorted, s)
        ranges = _file_term_ranges(seg_dir)
        assert len(ranges) > 1, "need >1 file for pruning to mean anything"
        by_min = sorted(ranges)
        for (lo1, hi1), (lo2, _) in zip(by_min, by_min[1:]):
            assert hi1 < lo2, f"overlapping file ranges {hi1!r} vs {lo2!r}"
        lo, hi = "re", _prefix_upper("re")  # terms like 'return'
        hits = [r for r in ranges if not (r[1] < lo or r[0] >= hi)]
        total += len(ranges)
        touched += len(hits)
    assert 0 < touched < total, (touched, total)


def test_prefix_range_pushes_both_bounds(spark, idx):
    df = read_terms_sorted(spark, idx).where(_prefix_range_pred("re"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "GreaterThanOrEqual(term,re)" in pushed, plan
    assert "LessThan(term,rf)" in pushed, plan


# ------------------------------------------------ identity across paths --

def test_expansion_identical_on_all_paths(spark, idx, tmp_path):
    sorted_res = expand_prefix(spark, idx, "re")
    assert sorted_res, "fixture corpus must contain 're*' terms"

    # brute truth from the primary dictionary
    rows = (
        read_terms(spark, idx)
        .where(F.col("term").startswith("re"))
        .groupBy("term").agg(F.sum("df").alias("df"))
        .collect()
    )
    brute = {r["term"]: float(r["df"]) for r in rows}
    assert sorted_res == dict(sorted(brute.items(),
                                     key=lambda kv: (-kv[1], kv[0]))[:64])

    wc_sorted = expand_wildcard(spark, idx, "re*rn")

    # pre-feature index: copy, drop terms_sorted entirely -> fallback
    old = str(tmp_path / "old_idx")
    shutil.copytree(idx, old)
    shutil.rmtree(IndexPaths(old).terms_sorted)
    assert read_terms_sorted(spark, old) is None
    assert expand_prefix(spark, old, "re") == sorted_res
    assert expand_wildcard(spark, old, "re*rn") == wc_sorted


def test_partial_sorted_dictionary_is_refused(spark, idx, tmp_path):
    """One committed segment without its sorted dir (re-homed from a
    pre-feature index) must disable the sorted path for the WHOLE index —
    a partial read would silently drop that segment's df partials."""
    part = str(tmp_path / "partial_idx")
    shutil.copytree(idx, part)
    pp = IndexPaths(part)
    shutil.rmtree(pp.seg(pp.terms_sorted, 0))
    assert read_terms_sorted(spark, part) is None
    assert expand_prefix(spark, part, "re") == expand_prefix(spark, idx, "re")
