"""MultiTermQuery expansions: wildcard + fuzzy (and the shared cap core).

Lucene's WildcardQuery / FuzzyQuery rewrite to a scoring boolean over
the dictionary terms that match (``MultiTermQuery.SCORING_BOOLEAN_REWRITE``);
here that is a dictionary scan (wildcard: anchored regex with a
literal-prefix pushdown; fuzzy: codegen ``levenshtein`` behind a
length-window pre-filter) feeding the standard multi-term block-max WAND
scan — each expanded term with its own idf. Rank/score identity to an
explicit multi-term query over the same expansion is the invariant pinned
here; the engine-vs-DuckDB score identity is pinned by the registry
oracle gate (``topk_bm25_wildcard`` / ``topk_bm25_fuzzy``).
"""

from __future__ import annotations

import pytest

from torchtrajectory_spark.engine import Engine
from torchtrajectory_spark.operators.index import build_index
from torchtrajectory_spark.operators.wand import (
    expand_fuzzy,
    expand_prefix,
    expand_wildcard,
    topk_bm25_index,
    topk_bm25_index_fuzzy,
    topk_bm25_index_wildcard,
    wildcard_regex,
)
from torchtrajectory_spark.sources.corpus import synth_corpus

N_ROWS = 300
BUCKETS = 8
SEGS = 3
K = 10


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("expidx"))
    build_index(
        spark, synth_corpus(spark, N_ROWS, partitions=6), d,
        id_col="doc_id", text_col="content", analyzer="code",
        meta_cols=("repo", "lang"),
        n_segments=SEGS, buckets=BUCKETS,
    )
    return d


def test_wildcard_regex_translation():
    assert wildcard_regex("s?a*") == "^s.a.*$"
    assert wildcard_regex("re*rn") == "^re.*rn$"
    assert wildcard_regex("plain") == "^plain$"
    # non-alnum literals are escaped one by one (never \\Q..\\E, which
    # RE2 does not support) so Java and DuckDB parse the same string
    assert wildcard_regex("a.b*") == "^a\\.b.*$"


def test_wildcard_expansion_matches_vocabulary(spark, idx):
    got = sorted(expand_wildcard(spark, idx, "re*rn"))
    assert got == ["return"]
    # '?' is exactly one char: 'class' matches ?lass, 'ass' does not
    assert sorted(expand_wildcard(spark, idx, "?lass")) == ["class"]
    # leading wildcard (the documented slow path) still answers
    got = sorted(expand_wildcard(spark, idx, "*port"))
    assert got == ["export", "import"]


def test_fuzzy_expansion_edit_bounds(spark, idx):
    e1 = expand_fuzzy(spark, idx, "clas", max_edits=1)
    assert "class" in e1
    for t in e1:
        assert abs(len(t) - 4) <= 1
    # widening the radius only grows the expansion
    e2 = expand_fuzzy(spark, idx, "clas", max_edits=2)
    assert set(e1) <= set(e2) and len(e2) > len(e1)


def test_expansion_cap_is_df_descending(spark, idx):
    full = expand_prefix(spark, idx, "id_1", max_terms=10_000)
    assert len(full) > 3
    capped = expand_prefix(spark, idx, "id_1", max_terms=3)
    assert len(capped) == 3
    # the cap keeps the highest-df terms (ties term ASC)
    want = sorted(full, key=lambda t: (-full[t], t))[:3]
    assert sorted(capped) == sorted(want)
    for t in capped:
        assert capped[t] == full[t]


def test_wildcard_topk_equals_explicit_multiterm(spark, idx):
    exp = expand_wildcard(spark, idx, "re*")
    want = topk_bm25_index(spark, idx, sorted(exp), K).collect()
    got = topk_bm25_index_wildcard(spark, idx, "re*", K).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_fuzzy_topk_equals_explicit_multiterm(spark, idx):
    exp = expand_fuzzy(spark, idx, "clas", max_edits=1)
    want = topk_bm25_index(spark, idx, sorted(exp), K).collect()
    got = topk_bm25_index_fuzzy(spark, idx, "clas", K, max_edits=1).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_empty_expansion_stable_schema(spark, idx):
    for df in (
        topk_bm25_index_wildcard(spark, idx, "zzz*qqq", K),
        topk_bm25_index_fuzzy(spark, idx, "zzzzzzzzzz", K, max_edits=1),
    ):
        assert df.columns == ["doc_id", "score"]
        assert df.count() == 0


def test_engine_facade_memoizes_expansion(spark, idx, monkeypatch):
    from torchtrajectory_spark.operators import wand as wand_mod

    calls = []
    for name in ("expand_wildcard", "expand_fuzzy"):
        real = getattr(wand_mod, name)
        monkeypatch.setattr(
            wand_mod, name,
            lambda *a, _real=real, _name=name, **kw:
                calls.append(_name) or _real(*a, **kw))
    eng = Engine.from_index(spark, idx)
    a = eng.find_topk_wildcard("re*rn", K).collect()
    n = len(calls)
    assert calls.count("expand_wildcard") <= 1
    b = eng.find_topk_wildcard("re*rn", K).collect()  # warm: memo hit
    assert a == b
    assert len(calls) == n
    f = eng.find_topk_fuzzy("clas", K, max_edits=1).collect()
    n = len(calls)
    assert calls.count("expand_fuzzy") <= 1
    eng.find_topk_fuzzy("clas", K, max_edits=1).collect()  # memo hit
    assert len(calls) == n
    assert [r["doc_id"] for r in f] == [
        r["doc_id"]
        for r in topk_bm25_index_fuzzy(
            spark, idx, "clas", K, max_edits=1
        ).collect()
    ]


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@given(
    st.text(alphabet="ab1*?", min_size=0, max_size=10),
    st.text(alphabet="ab1_", min_size=0, max_size=12),
)
@settings(max_examples=200, deadline=None)
def test_wildcard_regex_matches_fnmatch(pattern, candidate):
    """Property: the anchored-regex translation agrees with Python's
    fnmatch glob semantics for * and ? (no char classes in our surface),
    on random patterns and candidate terms."""
    import fnmatch
    import re

    got = re.fullmatch(wildcard_regex(pattern)[1:-1], candidate) is not None
    assert got == fnmatch.fnmatchcase(candidate, pattern)
