"""Engine facade parity: each public method == the underlying operator."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from torchtrajectory_spark.engine import Engine
from torchtrajectory_spark.operators.boolean import bool_and, bool_or
from torchtrajectory_spark.operators.phrase import phrase_count
from torchtrajectory_spark.operators.topk import topk_bm25, topk_bm25_filtered
from torchtrajectory_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    docs = load_table(spark, SF, "documents")
    d = str(tmp_path_factory.mktemp("engine_idx"))
    eng = Engine.build(
        spark, docs, d, id_col="doc_id", text_col="text", analyzer="ws",
        meta_cols=("lang", "source"), n_segments=2, buckets=8,
        with_positions=True,
    )
    return eng, docs


def _ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


def test_find_topk(spark, engine):
    eng, docs = engine
    got = eng.find_topk(["spark", "join"], 10).collect()
    exp = topk_bm25(docs, ["spark", "join"], 10).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in exp]


def test_find_topk_filtered(spark, engine):
    eng, docs = engine
    got = eng.find_topk(["spark", "join"], 10,
                        where=F.col("lang") == "en").collect()
    exp = topk_bm25_filtered(docs, ["spark", "join"], 10,
                             F.col("lang") == "en").collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in exp]


def test_boolean_paths(spark, engine):
    eng, docs = engine
    assert _ids(eng.find_on_path(["dup", "vector"])) == _ids(
        bool_or(docs, ["dup", "vector"]))
    assert _ids(eng.find_on_strict_path(["spark", "query"])) == _ids(
        bool_and(docs, ["spark", "query"]))


def test_phrase_and_resolve(spark, engine):
    eng, docs = engine
    got = {(r["doc_id"], r["n_occ"])
           for r in eng.find_phrase(["table", "hash"]).collect()}
    exp = {(r["doc_id"], r["n_occ"])
           for r in phrase_count(docs, ["table", "hash"]).collect()}
    assert got == exp

    resolved = eng.resolve(eng.find_topk(["spark"], 5))
    rows = resolved.collect()
    assert len(rows) == 5
    assert {"lang", "source", "content_sha256"} <= set(resolved.columns)


def test_with_bm25_changes_scores(spark, engine):
    eng, _ = engine
    a = eng.find_topk(["spark", "join"], 5).collect()
    b = eng.with_bm25(0.5, 0.2).find_topk(["spark", "join"], 5).collect()
    assert any(abs(x["score"] - y["score"]) > 1e-12 for x, y in zip(a, b))


def test_manifest_rows(spark, engine):
    eng, _ = engine
    m = eng.manifest().toPandas()
    assert len(m) == 2 and (m["status"] == "ok").all()


def test_find_in_range(spark, engine):
    eng, docs = engine
    got = _ids(eng.find_in_range(F.col("lang").isin("en", "fr")))
    exp = _ids(docs.where(F.col("lang").isin("en", "fr")).select("doc_id"))
    assert got == exp


def test_find_topk_many_rank_identical_and_memoized(spark, engine):
    """find_topk_many == find_topk per query, and the per-term-set df
    lookup job runs once: a repeated term set is a driver-side memo hit
    (VERDICT r3 task #4 — the remaining per-query job on the warm path)."""
    eng, _ = engine
    queries = {"a": ["spark", "join"], "b": ["dup", "vector"],
               "c": ["zzz_not_a_term"]}
    batch = eng.find_topk_many(queries, 5).collect()
    by_q: dict[str, list] = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append(
            (r["doc_id"], round(r["score"], 9)))
    for qid, q in queries.items():
        exp = [(r["doc_id"], round(r["score"], 9))
               for r in eng.find_topk(q, 5).collect()]
        assert sorted(by_q.get(qid, []), key=lambda t: (-t[1], t[0])) == exp

    # memoization: same term set (any order) -> same IndexMeta object
    from torchtrajectory_spark.operators.wand import query_term_meta

    m1 = query_term_meta(spark, eng.index_dir, ["join", "spark"])
    m2 = query_term_meta(spark, eng.index_dir, ["spark", "join"])
    assert m1 is m2
    assert set(m1.term_df) <= {"spark", "join"}


def test_find_topk_plan_touches_only_query_buckets(spark, engine, tmp_path,
                                                   monkeypatch):
    """The query path must never materialize the whole dictionary or scan
    non-query buckets (VERDICT r1 item 7 done-criterion): the plan holds
    no postings or terms scan and no shuffle, and every read goes through
    the one bucketed-table reader with only the query's term — hence its
    crc32 bucket — as the filter, returning exactly that term's blocks."""
    import json

    from torchtrajectory_spark.operators import wand as wand_mod
    from torchtrajectory_spark.operators.index import open_snapshot

    eng, _ = engine
    log = str(tmp_path / "reads.jsonl")
    real = wand_mod._read_bucketed

    def spy(files, terms, buckets, cols):
        t = real(files, terms, buckets, cols)
        # runs in the segment tasks' Python workers too: log to a file
        with open(log, "a") as f:
            f.write(json.dumps({
                "files": list(files), "terms": sorted(terms),
                "buckets": buckets,
                "rows": sorted([r["term"], r["n_docs"], r["doc_gaps"].hex()]
                               for r in t.to_pylist()) if "n_docs"
                in t.column_names else None}) + "\n")
        return t

    monkeypatch.setattr(wand_mod, "_read_bucketed", spy)
    snap = open_snapshot(spark, eng.index_dir)
    assert snap.one_task()
    snap.memo.clear()  # the dictionary read goes through the reader too
    df = eng.find_topk(["spark"], 5)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "FileScan" not in plan
    with open(log) as f:
        reads = [json.loads(line) for line in f]
    post = [r for r in reads if r["rows"] is not None]
    assert len(post) == len(snap.segments) and len(reads) == len(post) + 1
    for r in reads:
        assert r["terms"] == ["spark"] and r["buckets"] == snap.buckets
    assert {f for r in post for f in r["files"]} == {
        f for fs in snap.files("postings").values() for f in fs}
    want = sorted(
        [r["term"], r["n_docs"], bytes(r["doc_gaps"]).hex()]
        for r in snap.postings.where(F.col("term") == "spark").collect())
    assert want and sorted(x for r in post for x in r["rows"]) == want


def test_blockmax_ranks_exactly_on_skewed_corpus(spark, tmp_path):
    """T4/T5 on a corpus whose block maxes actually discriminate
    (tf/length spread — the regime the reference's restDistance abandon
    targets, ``EdgeInvertedIndex.findTopK:148-170``): the theta-pruned
    scan over this skewed block layout must return exactly the
    brute-force top-k, and the full Spark path the identical ranking.

    Layout: 4096 docs, one segment -> 32 blocks of 128 docs for the
    all-docs term "hot". Docs 0-127 (block 0): tf=40, short dl. The
    rest: tf=1, long dl. UB ordering front-loads block 0; the first
    1024-candidate chunk settles the top-k and theta stops the scan."""
    import numpy as np
    import pandas as pd

    from torchtrajectory_spark.config import BM25_B, BM25_K1
    from torchtrajectory_spark.functions import codec
    from torchtrajectory_spark.functions.bm25 import idf_py, tf_sat_np
    from torchtrajectory_spark.operators.index import build_index, read_postings
    from torchtrajectory_spark.operators.wand import (
        IndexMeta,
        _corpus_scalars,
        _segment_topk,
    )

    n, hot_tf, k = 4096, 40, 5
    rows = []
    for i in range(n):
        if i < 128:
            text = " ".join(["hot"] * hot_tf + [f"x{i}"] * 2)
        else:
            text = " ".join(["hot"] + [f"x{i}"] * 120)
        rows.append((i, text))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "skew_idx")
    build_index(spark, df, out, id_col="doc_id", text_col="text",
                analyzer="ws", n_segments=1, buckets=8, resume=False)

    pdf = (read_postings(spark, out).where(F.col("term") == "hot")
           .toPandas())
    total_blocks = len(pdf)
    assert total_blocks == n // 128  # one segment, full blocks

    n_docs, avgdl = _corpus_scalars(spark, out)
    assert n_docs == n
    idf = {"hot": idf_py(float(n), n_docs)}
    meta = IndexMeta(n_docs, avgdl, {"hot": float(n)})
    got = _segment_topk(
        pdf[["term", "n_docs", "max_tf", "min_dl", "doc_gaps", "tfs",
             "dls"]],
        ["hot"], k, meta, BM25_K1, BM25_B,
    )

    # brute-force oracle over the SAME stored postings, fully decoded
    docs = np.concatenate([codec.decode_sorted(g) for g in pdf["doc_gaps"]])
    tfs = np.concatenate([codec.decode_u32s(bytes(b)) for b in pdf["tfs"]])
    dls = np.concatenate([codec.decode_u32s(bytes(b)) for b in pdf["dls"]])
    scores = idf["hot"] * tf_sat_np(tfs.astype(float), dls.astype(float),
                                    avgdl, BM25_K1, BM25_B)
    sel = np.lexsort((docs, -scores))[:k]
    assert list(got["doc_id"]) == list(docs[sel])
    assert np.allclose(got["score"].to_numpy(), scores[sel])

    # and the full Spark path returns the identical ranking
    eng = Engine.from_index(spark, out)
    spark_rows = eng.find_topk(["hot"], k).collect()
    assert [r["doc_id"] for r in spark_rows] == list(got["doc_id"])


def test_find_topk_many_filtered_rank_identical(spark, engine):
    """find_topk_many(where=...) == find_topk(where=...) per query: the
    batch path's cogrouped allowed-set carries the same F2-in-the-loop
    semantics as the single-query filtered scorer (heap membership
    restricted, scores index-wide)."""
    eng, _ = engine
    pred = F.col("lang").isin("en", "fr")
    queries = {"a": ["spark", "join"], "b": ["dup", "vector"],
               "c": ["zzz_not_a_term"]}
    batch = eng.find_topk_many(queries, 5, where=pred).collect()
    by_q: dict[str, list] = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append(
            (r["doc_id"], round(r["score"], 9)))
    for qid, q in queries.items():
        exp = [(r["doc_id"], round(r["score"], 9))
               for r in eng.find_topk(q, 5, where=pred).collect()]
        assert sorted(by_q.get(qid, []), key=lambda t: (-t[1], t[0])) == exp
    # the predicate actually bites: filtered != unfiltered for >= 1 query
    unfiltered = eng.find_topk_many(queries, 5).collect()
    ub_q: dict[str, list] = {}
    for r in unfiltered:
        ub_q.setdefault(r["query_id"], []).append(r["doc_id"])
    assert any(sorted(d for d, _ in by_q.get(q, [])) != sorted(ub_q.get(q, []))
               for q in queries)


def test_find_topk_many_filtered_empty_predicate(spark, engine):
    """A predicate matching zero docs returns an empty frame (stable
    schema, no exception) — the cogrouped scorer must handle segments
    whose allowed set is empty."""
    eng, _ = engine
    out = eng.find_topk_many(
        {"a": ["spark", "join"], "b": ["zzz_not_a_term"]}, 5,
        where=F.col("lang") == "no_such_lang",
    )
    assert [f.name for f in out.schema.fields] == ["query_id", "doc_id",
                                                   "score"]
    assert out.count() == 0


def test_explain_score_sums_to_topk_score(spark, engine):
    """Lucene Explanation analog: per-term contributions of a doc sum to
    its find_topk score exactly (same float64 formula, no re-derivation)."""
    eng, _ = engine
    q = ["spark", "join", "window"]
    top = eng.find_topk(q, 3).collect()
    for r in top:
        parts = eng.explain_score(q, r["doc_id"]).collect()
        assert parts, f"no breakdown rows for doc {r['doc_id']}"
        assert sum(p["contribution"] for p in parts) == pytest.approx(
            r["score"], abs=1e-12
        )
        for p in parts:
            assert p["tf"] >= 1 and p["df"] >= 1
            assert p["idf"] > 0 and p["contribution"] > 0
        assert [p["term"] for p in parts] == sorted(p["term"] for p in parts)


def test_explain_score_absent_and_unknown_terms(spark, engine):
    eng, docs = engine
    # a doc NOT containing 'spark': breakdown lists only present terms
    has = {r["doc_id"] for r in docs.where(
        F.array_contains(F.split(F.lower("text"), " "), "spark")
    ).select("doc_id").collect()}
    missing = next(r["doc_id"] for r in docs.select("doc_id").collect()
                   if r["doc_id"] not in has)
    parts = eng.explain_score(["spark", "join"], missing).collect()
    assert all(p["term"] != "spark" for p in parts)
    # wholly unknown term set: empty frame with the stable schema
    empty = eng.explain_score(["zzz_not_a_term"], 0)
    assert empty.columns == ["term", "tf", "df", "idf", "contribution"]
    assert empty.count() == 0


def test_find_topk_boolean_matches_composed_semantics(spark, engine):
    """BooleanQuery kernel == manual composition: docs with ALL must
    terms minus ANY must_not, ranked by the unfiltered should scores."""
    eng, docs = engine
    should, must, must_not = ["spark", "join"], ["batch"], ["slow"]
    base = {r["doc_id"]: r["score"]
            for r in eng.find_topk(should, 10_000).collect()}
    toks = F.split(F.lower("text"), " ")
    ok_ids = {
        r["doc_id"]
        for r in docs.where(
            F.array_contains(toks, "batch") & ~F.array_contains(toks, "slow")
        ).select("doc_id").collect()
    }
    want = sorted(
        ((d, s) for d, s in base.items() if d in ok_ids),
        key=lambda t: (-t[1], t[0]),
    )[:10]
    got = [(r["doc_id"], r["score"])
           for r in eng.find_topk_boolean(should, 10, must=must,
                                          must_not=must_not).collect()]
    assert got == want  # clause filtering never changes scores


def test_find_topk_boolean_edge_cases(spark, engine):
    eng, _ = engine
    # must term absent from the corpus -> empty, stable schema
    r = eng.find_topk_boolean(["spark"], 5, must=["zzz_not_a_term"])
    assert r.columns == ["doc_id", "score"] and r.count() == 0
    # must_not covering every should match -> empty
    r2 = eng.find_topk_boolean(["spark"], 5, must_not=["spark"])
    assert r2.count() == 0
    # no clauses degenerates to plain find_topk
    a = eng.find_topk_boolean(["spark", "join"], 10).collect()
    b = eng.find_topk(["spark", "join"], 10).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b
    ]
    with pytest.raises(ValueError, match="should"):
        eng.find_topk_boolean([], 5, must=["spark"])


def test_facet_counts_matches_corpus(spark, engine):
    """Facet tally == corpus-side groupBy over the same boolean match,
    both modes; ordering is (count DESC, value ASC)."""
    eng, docs = engine
    terms = ["spark", "join"]
    toks = F.split(F.lower("text"), " ")
    for mode, cond in (
        ("or", F.array_contains(toks, "spark")
               | F.array_contains(toks, "join")),
        ("and", F.array_contains(toks, "spark")
                & F.array_contains(toks, "join")),
    ):
        want = [
            (r["lang"], r["n"]) for r in
            docs.where(cond).groupBy("lang").agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), F.col("lang").asc())
            .limit(10).collect()
        ]
        got = [(r["value"], r["n_docs"])
               for r in eng.facet_counts(terms, "lang", 10,
                                         mode=mode).collect()]
        assert got == want, mode


def test_facet_counts_edge_cases(spark, engine):
    eng, _ = engine
    assert eng.facet_counts(["zzz_not_a_term"], "lang", 5).count() == 0
    with pytest.raises(ValueError, match="mode"):
        eng.facet_counts(["spark"], "lang", 5, mode="xor")


def test_parse_simple_query():
    from torchtrajectory_spark.engine import parse_simple_query

    assert parse_simple_query("spark jo* +batch -slow") == (
        ["spark", "jo*"], ["batch"], ["slow"]
    )
    assert parse_simple_query("a a +b +b -c") == (["a"], ["b"], ["c"])
    # bare '+'/'-' are terms, not empty clauses
    assert parse_simple_query("+ -") == (["+", "-"], [], [])
    assert parse_simple_query("") == ([], [], [])


def test_search_compiles_to_boolean(spark, engine):
    """search() == find_topk_boolean over the parsed clauses with the
    prefix expansion folded into the scoring set."""
    from torchtrajectory_spark.operators.wand import expand_prefix

    eng, _ = engine
    got = eng.search("spark jo* +batch -slow", 10).collect()
    should = sorted({"spark", *expand_prefix(spark, eng.index_dir, "jo")})
    want = eng.find_topk_boolean(should, 10, must=["batch"],
                                 must_not=["slow"]).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]
    with pytest.raises(ValueError, match="scoring"):
        eng.search("+batch -slow", 10)


def test_snippets_window_semantics(spark, engine):
    """Snippet == brute-force window around the first match; edges clamp."""
    from torchtrajectory_spark.operators.snippet import snippets

    _, docs = engine
    terms, w = ["spark", "join"], 3
    got = {r["doc_id"]: (r["pos"], r["snippet"])
           for r in snippets(docs, terms, w).collect()}
    pdf = docs.select("doc_id", "text").toPandas()
    expected = {}
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        toks = [t for t in (text or "").lower().split(" ") if t]
        pos = min((toks.index(t) + 1 for t in set(terms) if t in toks),
                  default=None)
        if pos is not None:
            lo, hi = max(1, pos - w), min(len(toks), pos + w)
            expected[doc_id] = (pos, " ".join(toks[lo - 1:hi]))
    assert got == expected and got


def test_search_rejects_wildcard_filter_clauses(spark, engine):
    eng, _ = engine
    for q in ("spark +jo*", "spark -jo*"):
        with pytest.raises(ValueError, match="filter clause"):
            eng.search(q, 5)


def test_highlight_over_resolved_results(spark, engine):
    """Engine.highlight = snippets composed over an already-retrieved
    result set: every returned row keeps its score, carries a snippet
    containing >=1 query term, and the row set is exactly the top-k docs
    that contain a term (BM25 top-k only scores docs containing >=1)."""
    eng, docs = engine
    terms = ["spark", "join"]
    tk = eng.find_topk(terms, 5)
    out = eng.highlight(tk, docs, terms).collect()
    assert 0 < len(out) <= 5
    got_ids = sorted(r["doc_id"] for r in out)
    assert got_ids == sorted(r["doc_id"] for r in tk.collect())
    for r in out:
        assert any(t in r["snippet"].split() for t in terms)
        assert r["pos"] >= 1 and r["score"] > 0


def test_highlight_defaults_to_index_analyzer(spark, tmp_path):
    """An index built with analyzer="code" must highlight with the SAME
    tokenization by default: 'foo(bar)' matches term 'foo' under the
    code analyzer but is a single alien token under ws — the old
    hardcoded ws default returned zero snippets for a doc the index
    matched. Also pins highlight over a non-default id_col (snippets()
    normalizes its id column internally)."""
    docs = spark.createDataFrame(
        [(1, "alpha foo(bar) baz"), (2, "no match here")],
        "file_id bigint, text string")
    d = str(tmp_path / "code_idx")
    eng = Engine.build(spark, docs, d, id_col="file_id",
                       text_col="text", analyzer="code",
                       n_segments=1, buckets=4)
    assert eng._analyzer == "code"
    tk = eng.find_topk(["foo"], 5)
    out = eng.highlight(tk, docs, ["foo"], id_col="file_id").collect()
    assert [r["doc_id"] for r in out] == [1]
    assert "foo" in out[0]["snippet"].split()
    # explicit ws override: 'foo(bar)' never tokenizes to 'foo' -> empty
    assert eng.highlight(tk, docs, ["foo"], id_col="file_id",
                         analyzer="ws").count() == 0


def test_suggest_matches_brute_df_ranking(spark, engine):
    """Engine.suggest == brute-force df ranking over the tokenized
    corpus: k highest-df terms with the prefix, df DESC / term ASC."""
    eng, docs = engine
    got = [(r["term"], r["df"]) for r in eng.suggest("s", 10).collect()]
    from collections import Counter

    from torchtrajectory_spark.functions.tokenizer import tokenize_py

    df = Counter()
    for r in docs.select("text").collect():
        for t in set(tokenize_py(r["text"], "ws")):
            if t.startswith("s"):
                df[t] += 1
    exp = sorted(df.items(), key=lambda x: (-x[1], x[0]))[:10]
    assert got == exp and got


def test_more_like_this_excludes_source_and_ranks(spark, engine):
    """Engine.more_like_this: interesting-term selection == brute
    tf×idf ranking of the source text, the source doc never appears in
    the output, and the result equals find_topk over those terms."""
    from collections import Counter

    from torchtrajectory_spark.functions.bm25 import idf_py
    from torchtrajectory_spark.functions.tokenizer import tokenize_py
    from torchtrajectory_spark.operators.wand import query_term_meta

    eng, docs = engine
    src_id = 3
    text = docs.where(F.col("doc_id") == src_id).first()["text"]
    out = eng.more_like_this(text, 5, max_terms=4,
                             exclude_doc_id=src_id).collect()
    assert out and all(r["doc_id"] != src_id for r in out)
    # reproduce the interesting-term selection by hand
    tf = Counter(tokenize_py(text, "ws"))
    meta = query_term_meta(spark, eng.index_dir, sorted(tf))
    scored = sorted(
        (-int(round(n * idf_py(meta.term_df[t], meta.n_docs) * 1e6)), t)
        for t, n in tf.items() if meta.term_df.get(t, 0.0) > 0)
    terms = [t for _, t in scored[:4]]
    exp = eng.find_topk(terms, 5,
                        where=F.col("doc_id") != src_id).collect()
    assert [(r["doc_id"], r["score"]) for r in out] == \
        [(r["doc_id"], r["score"]) for r in exp]


def test_find_topk_regexp_equals_expanded_find_topk(spark, engine):
    """RegexpQuery == find_topk over the hand-expanded matching terms
    (anchored full-term match), and a non-matching pattern returns an
    empty frame with the stable schema."""
    eng, docs = engine
    got = eng.find_topk_regexp("s(park|low)", 10).collect()
    exp = eng.find_topk(["spark", "slow"], 10).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == \
        [(r["doc_id"], r["score"]) for r in exp] and got
    none = eng.find_topk_regexp("zz+[0-9]", 10)
    assert none.count() == 0 and none.columns == ["doc_id", "score"]


def test_regexp_literal_prefix_is_conservative(spark):
    """The extracted prefix must hold for every match of the pattern —
    quantified trailing literals drop, alternation kills it."""
    from torchtrajectory_spark.operators.wand import regexp_literal_prefix

    assert regexp_literal_prefix("spark") == "spark"
    assert regexp_literal_prefix("spa.k") == "spa"
    assert regexp_literal_prefix("spar?k") == "spa"  # 'r' optional
    assert regexp_literal_prefix("spa(rk|de)") == "spa"
    assert regexp_literal_prefix("sp|ark") == ""
    assert regexp_literal_prefix("sp(ar)|k") == ""  # depth-0 alternation
    # escaped metachars are literals: \( opens no group, so the | after
    # it is top-level and a match may bypass the prefix entirely
    assert regexp_literal_prefix(r"abc\(x|y") == ""
    assert regexp_literal_prefix(r"abc\|d") == "abc"  # \| is a literal pipe
    # inside a character class, ( | ) are literal — no depth, no kill
    assert regexp_literal_prefix("abc[(|)]") == "abc"
    assert regexp_literal_prefix("abc[]x]|y") == ""  # leading ] literal
    assert regexp_literal_prefix("spar*k") == "spa"
    assert regexp_literal_prefix("spar{0,2}k") == "spa"
    assert regexp_literal_prefix("[sz]park") == ""


def test_spell_matches_brute_levenshtein_ranking(spark, engine):
    """Engine.spell == brute-force (dist ASC, df DESC, term ASC) over
    the tokenized corpus vocabulary, input term excluded."""
    from collections import Counter

    from torchtrajectory_spark.functions.tokenizer import tokenize_py

    eng, docs = engine
    got = [(r["term"], r["dist"], r["df"])
           for r in eng.spell("sorw", 10, max_edits=2).collect()]

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    df = Counter()
    for r in docs.select("text").collect():
        for t in set(tokenize_py(r["text"], "ws")):
            df[t] += 1
    cand = [(t, lev("sorw", t), n) for t, n in df.items()
            if t != "sorw" and lev("sorw", t) <= 2]
    exp = sorted(cand, key=lambda x: (x[1], -x[2], x[0]))[:10]
    assert got == exp and len(got) >= 2


def test_collapse_equals_per_group_filtered_topk(spark, engine):
    """Field collapsing == one filtered find_topk(k=1) per group value
    (both score with index-wide statistics), groups ranked by their
    best score; and the collapsed docs are group-distinct."""
    eng, docs = engine
    terms = ["spark", "join", "window"]
    got = eng.find_topk_collapse(terms, "lang", 3).collect()
    langs = [r["lang"] for r in
             docs.select("lang").distinct().collect() if r["lang"]]
    best = []
    for v in langs:
        rows = eng.find_topk(terms, 1,
                             where=F.col("lang") == v).collect()
        if rows:
            best.append((v, rows[0]["doc_id"], rows[0]["score"]))
    exp = sorted(best, key=lambda x: (-x[2], x[0]))[:3]
    assert [(r["value"], r["doc_id"], r["score"]) for r in got] == exp
    assert len({r["value"] for r in got}) == len(got) and got


def test_find_sorted_matches_brute_length_ranking(spark, engine):
    """Doc-values sort == brute (token count DESC, doc_id ASC) over the
    docs matching any query term; ascending flips the order."""
    from torchtrajectory_spark.functions.tokenizer import tokenize_py

    eng, docs = engine
    terms = ["spark", "join"]
    got = [(r["doc_id"], r["sort_value"])
           for r in eng.find_sorted(terms, "dl", 7).collect()]
    rows = [(r["doc_id"], tokenize_py(r["text"], "ws"))
            for r in docs.select("doc_id", "text").collect()]
    m = [(d, float(len(t))) for d, t in rows if set(t) & set(terms)]
    exp = sorted(m, key=lambda x: (-x[1], x[0]))[:7]
    assert got == exp and got
    asc = [(r["doc_id"], r["sort_value"])
           for r in eng.find_sorted(terms, "dl", 7,
                                    ascending=True).collect()]
    assert asc == sorted(m, key=lambda x: (x[1], x[0]))[:7]


def test_count_matches_brute_boolean(spark, engine):
    """Engine.count == brute boolean match count, both modes; deleted
    docs leave the count."""
    from torchtrajectory_spark.functions.tokenizer import tokenize_py

    eng, docs = engine
    terms = ["spark", "join"]
    rows = [(r["doc_id"], set(tokenize_py(r["text"], "ws")))
            for r in docs.select("doc_id", "text").collect()]
    n_or = sum(1 for _, t in rows if t & set(terms))
    n_and = sum(1 for _, t in rows if set(terms) <= t)
    assert eng.count(terms, "or").first()["n_docs"] == n_or
    assert eng.count(terms, "and").first()["n_docs"] == n_and


def test_fielded_topk_matches_brute_per_field_sum(spark, engine, tmp_path):
    """Multi-field boosted search == brute per-field BM25 (each field
    with its OWN statistics) boosted and summed per doc — and a doc
    matching ONLY the low-boost field can still rank (exact match-set
    combine, not a top-k fusion)."""
    from collections import Counter

    from torchtrajectory_spark.engine import Engine
    from torchtrajectory_spark.functions.tokenizer import tokenize_py

    eng, docs = engine
    src_idx = str(tmp_path / "src_idx")
    eng_src = Engine.build(
        spark, docs, src_idx, id_col="doc_id", text_col="lang",
        analyzer="ws", n_segments=2, buckets=8,
    )
    terms = ["spark", "fr"]
    got = Engine.find_topk_fielded(
        {"text": (eng, 1.0), "lang": (eng_src, 2.0)}, terms, 8).collect()

    def brute_scores(col, q):
        rows = [(r["doc_id"], tokenize_py(r[col], "ws"))
                for r in docs.select("doc_id", col).collect()]
        n = float(len(rows))
        avgdl = sum(len(t) for _, t in rows) / n
        df = Counter()
        for _, toks in rows:
            for t in set(toks):
                if t in q:
                    df[t] += 1
        import math
        out = {}
        for did, toks in rows:
            tf = Counter(toks)
            s = 0.0
            for t in q:
                if tf.get(t) and df.get(t):
                    idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
                    s += idf * tf[t] * (eng.k1 + 1) / (
                        tf[t] + eng.k1 * (1 - eng.b
                                          + eng.b * len(toks) / avgdl))
            if s:
                out[did] = s
        return out

    st, sl = brute_scores("text", terms), brute_scores("lang", terms)
    tot = Counter()
    for d, s in st.items():
        tot[d] += 1.0 * s
    for d, s in sl.items():
        tot[d] += 2.0 * s
    exp = sorted(tot.items(), key=lambda x: (-x[1], x[0]))[:8]
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == \
        [(d, round(s, 9)) for d, s in exp] and got


def test_find_topk_hybrid_matches_manual_rrf(spark, engine):
    """Engine.find_topk_hybrid == hand-computed RRF over its two input
    lists (ranks on u6 scores, doc_id tie-break, 1/(60+r))."""
    eng, docs = engine
    from torchtrajectory_spark.operators.similarity import cosine_topk
    from torchtrajectory_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    terms, qid, k, n = ["spark", "join"], 0, 5, 10
    got = [(r["doc_id"], r["rrf_u6"])
           for r in eng.find_topk_hybrid(terms, emb, qid, k, n=n).collect()]

    bm = [(r["doc_id"], round(r["score"] * 1e6))
          for r in eng.find_topk(terms, n).collect()]
    cs = [(r["vec_id"], r["cos_u6"])
          for r in cosine_topk(emb, qid, n).collect()]
    w = {}
    for lst in (bm, cs):
        ranked = sorted(lst, key=lambda t: (-t[1], t[0]))
        for r, (d, _) in enumerate(ranked, start=1):
            w[d] = w.get(d, 0.0) + 1.0 / (60 + r)
    exp = sorted(w.items(), key=lambda t: (-t[1], t[0]))[:k]
    exp = [(d, round(v * 1e6)) for d, v in exp]
    assert got == exp


# ---------------- r5 additions: searchAfter / msm / synonym / ranges ----


def test_search_after_pages_tile_the_ranking(spark, engine):
    """Pages via the (score, doc_id) cursor tile the deep ranking
    exactly: page1 + page2(after=page1[-1]) == find_topk(2k)."""
    eng, _ = engine
    q, k = ["spark", "join"], 5
    deep = eng.find_topk(q, 2 * k).collect()
    page1 = eng.find_topk(q, k).collect()
    after = (float(page1[-1]["score"]), int(page1[-1]["doc_id"]))
    page2 = eng.find_topk(q, k, after=after).collect()
    got = [(r["doc_id"], r["score"]) for r in page1 + page2]
    exp = [(r["doc_id"], r["score"]) for r in deep]
    assert got == exp  # rank AND score identity, fp-exact


def test_search_after_composes_with_filter(spark, engine):
    """Filtered rankings paginate too: page1+page2 under the same
    predicate tile the filtered deep ranking exactly."""
    eng, _ = engine
    q, k = ["spark", "join"], 4
    pred = F.col("lang") == "en"
    deep = eng.find_topk(q, 2 * k, where=pred).collect()
    page1 = eng.find_topk(q, k, where=pred).collect()
    after = (float(page1[-1]["score"]), int(page1[-1]["doc_id"]))
    page2 = eng.find_topk(q, k, where=pred, after=after).collect()
    got = [(r["doc_id"], r["score"]) for r in page1 + page2]
    exp = [(r["doc_id"], r["score"]) for r in deep]
    assert got == exp


def test_msm_bounds_and_degenerate_or(spark, engine):
    """m=1 == the plain OR ranking (fp-exact); every m=2 hit matches
    >= 2 distinct terms; m out of range raises."""
    eng, docs = engine
    q = ["spark", "query", "sort"]
    or_rows = [(r["doc_id"], r["score"])
               for r in eng.find_topk(q, 8).collect()]
    m1_rows = [(r["doc_id"], r["score"])
               for r in eng.find_topk_msm(q, 1, 8).collect()]
    assert m1_rows == or_rows
    hits2 = eng.find_topk_msm(q, 2, 8).collect()
    assert hits2
    texts = {r["doc_id"]: r["text"]
             for r in docs.where(
                 F.col("doc_id").isin([h["doc_id"] for h in hits2]))
             .collect()}
    for h in hits2:
        toks = set(texts[h["doc_id"]].lower().split())
        assert len(toks & set(q)) >= 2
    with pytest.raises(ValueError, match="out of range"):
        eng.find_topk_msm(q, 4, 8)
    with pytest.raises(ValueError, match="out of range"):
        eng.find_topk_msm(q, 0, 8)


def test_synonym_singleton_groups_equal_plain_query(spark, engine):
    """All-singleton groups degrade SynonymQuery to the plain multi-term
    ranking (tf unchanged, df blended over one member == its own df)."""
    eng, _ = engine
    q = ["spark", "join"]
    plain = [(r["doc_id"], round(r["score"], 9))
             for r in eng.find_topk(q, 8).collect()]
    syn = [(r["doc_id"], round(r["score"], 9))
           for r in eng.find_topk_synonyms([[t] for t in q], 8).collect()]
    assert syn == plain


def test_synonym_blends_df_and_sums_tf(spark, engine):
    """A two-member group scores with df = max member df and tf summed —
    checked against a brute-force pandas reference."""
    import math

    eng, docs = engine
    g = ["spark", "scan"]
    rows = docs.select("doc_id", "text").collect()
    toks = {r["doc_id"]: r["text"].lower().split() for r in rows}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    dfs = {t: sum(1 for tk in toks.values() if t in tk) for t in g}
    idf = math.log(1 + (n - max(dfs.values()) + 0.5)
                   / (max(dfs.values()) + 0.5))
    k1, b = eng.k1, eng.b
    exp = {}
    for d, tk in toks.items():
        tf = sum(tk.count(t) for t in g)
        if tf:
            dl = len(tk)
            exp[d] = idf * tf * (k1 + 1) / (
                tf + k1 * (1 - b + b * dl / avgdl))
    want = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))[:6]
    got = [(r["doc_id"], r["score"])
           for r in eng.find_topk_synonyms([g], 6).collect()]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9


def test_facet_ranges_partitions_the_match_set(spark, engine):
    """Range-facet counts sum to the boolean match count and bucket
    edges are width-aligned; NULL/zero-width guarded."""
    eng, _ = engine
    q = ["spark", "join"]
    rows = eng.facet_ranges(q, "dl", 25.0).collect()
    assert rows
    total = sum(r["n_docs"] for r in rows)
    n_match = eng.count(q, mode="or").collect()[0]["n_docs"]
    assert total == n_match
    los = [r["bucket_lo"] for r in rows]
    assert los == sorted(los)
    assert all(lo % 25.0 == 0 for lo in los)
    with pytest.raises(ValueError, match="width"):
        eng.facet_ranges(q, "dl", 0.0)


def test_boosted_unit_weights_equal_plain_and_validate(spark, engine):
    """All-1.0 boosts == plain find_topk fp-exact; a 0/negative boost
    raises; a real boost reorders by the boosted score (brute-checked)."""
    import math

    eng, docs = engine
    q = ["spark", "join"]
    plain = [(r["doc_id"], r["score"]) for r in eng.find_topk(q, 8).collect()]
    unit = [(r["doc_id"], r["score"])
            for r in eng.find_topk_boosted({t: 1.0 for t in q}, 8).collect()]
    assert unit == plain
    with pytest.raises(ValueError, match="boosts"):
        eng.find_topk_boosted({"spark": 0.0}, 5).collect()
    # brute-force reference with weights
    w = {"spark": 3.0, "join": 0.25}
    rows = docs.select("doc_id", "text").collect()
    toks = {r["doc_id"]: r["text"].lower().split() for r in rows}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    k1, b = eng.k1, eng.b
    exp = {}
    for d, tk in toks.items():
        s = 0.0
        for t, wt in w.items():
            tf = tk.count(t)
            if tf:
                df = sum(1 for x in toks.values() if t in x)
                idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
                s += wt * idf * tf * (k1 + 1) / (
                    tf + k1 * (1 - b + b * len(tk) / avgdl))
        if s > 0:
            exp[d] = s
    want = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))[:6]
    got = [(r["doc_id"], r["score"])
           for r in eng.find_topk_boosted(w, 6).collect()]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9


def test_batch_afters_match_single_search_after(spark, engine):
    """Per-query cursors inside the batch: each paginated member equals
    its single-query searchAfter run; page-1 members are unaffected."""
    eng, _ = engine
    k = 5
    qs = {"a": ["spark", "join"], "b": ["dup", "scan"]}
    # page-1 cursors from single-query runs
    p1a = eng.find_topk(qs["a"], k).collect()
    cur_a = (float(p1a[-1]["score"]), int(p1a[-1]["doc_id"]))
    single_a2 = [(r["doc_id"], r["score"])
                 for r in eng.find_topk(qs["a"], k, after=cur_a).collect()]
    single_b1 = [(r["doc_id"], r["score"])
                 for r in eng.find_topk(qs["b"], k).collect()]
    rows = eng.find_topk_many(qs, k, afters={"a": cur_a}).collect()
    got = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    assert got["a"] == single_a2  # paginated member == single searchAfter
    assert got["b"] == single_b1  # page-1 member untouched


def test_batch_afters_int_ids_and_unknown_key(spark, engine):
    """``afters`` keys are coerced like the query ids (an int id pages
    its query), and a key that names no query raises instead of silently
    serving page 1."""
    eng, _ = engine
    k = 5
    qs = {1: ["spark", "join"], 2: ["dup", "scan"]}
    p1 = eng.find_topk(qs[1], k).collect()
    cur = (float(p1[-1]["score"]), int(p1[-1]["doc_id"]))
    single = [(r["doc_id"], r["score"])
              for r in eng.find_topk(qs[1], k, after=cur).collect()]
    rows = eng.find_topk_many(qs, k, afters={1: cur}).collect()
    got = sorted(((r["doc_id"], r["score"]) for r in rows
                  if r["query_id"] == "1"), key=lambda x: (-x[1], x[0]))
    assert got == single
    with pytest.raises(ValueError, match="not query ids"):
        eng.find_topk_many(qs, k, afters={"l": cur})


def test_phrase_scored_matches_brute_reference(spark, engine):
    """Scored PhraseQuery == brute pandas reference: summed
    constituent-term idf × tf_sat(phrase occurrences, dl)."""
    import math

    eng, docs = engine
    ph = ["table", "hash"]
    rows = docs.select("doc_id", "text").collect()
    toks = {r["doc_id"]: r["text"].lower().split() for r in rows}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    k1, b = eng.k1, eng.b
    idf_total = sum(
        math.log(1 + (n - df + 0.5) / (df + 0.5))
        for df in (sum(1 for tk in toks.values() if t in tk) for t in ph))
    exp = {}
    for d, tk in toks.items():
        n_occ = sum(
            1 for i in range(len(tk) - len(ph) + 1)
            if tk[i:i + len(ph)] == ph)
        if n_occ:
            dl = len(tk)
            exp[d] = idf_total * n_occ * (k1 + 1) / (
                n_occ + k1 * (1 - b + b * dl / avgdl))
    want = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))[:6]
    got = [(r["doc_id"], r["score"])
           for r in eng.find_topk_phrase(ph, 6).collect()]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9


def test_phrase_scored_requires_positions(spark, tmp_path):
    from torchtrajectory_spark.operators.phrase import topk_bm25_index_phrase
    from torchtrajectory_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    d = str(tmp_path / "nopos")
    Engine.build(spark, docs, d, id_col="doc_id", text_col="text",
                 analyzer="ws", n_segments=1, buckets=8)
    with pytest.raises(ValueError, match="no positions"):
        topk_bm25_index_phrase(spark, d, ["table", "hash"], 5)


def test_phrase_scored_slop_zero_equals_exact(spark, engine, monkeypatch):
    """slop=0 counts exactly the exact-phrase matches, so the sloppy
    scoring degenerates to the exact PhraseQuery ranking fp-exactly.
    The three calls on one phrase share the snapshot's term-meta memo:
    the dictionary read runs at most once."""
    from torchtrajectory_spark.operators import wand as wand_mod

    calls = []
    real = wand_mod._read_term_df

    def counting(*a, **kw):
        calls.append(a)
        return real(*a, **kw)

    monkeypatch.setattr(wand_mod, "_read_term_df", counting)
    eng, _ = engine
    ph = ["table", "hash"]
    exact = [(r["doc_id"], r["score"])
             for r in eng.find_topk_phrase(ph, 8).collect()]
    sloppy0 = [(r["doc_id"], r["score"])
               for r in eng.find_topk_phrase(ph, 8, slop=0).collect()]
    assert sloppy0 == exact
    # widening the window can only add matches (tf monotone in slop)
    s3 = {r["doc_id"]: r["score"]
          for r in eng.find_topk_phrase(ph, 50, slop=3).collect()}
    assert set(d for d, _ in exact) <= set(s3)
    assert len(calls) <= 1
