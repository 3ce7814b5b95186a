"""Engine facade — the reference's public API surface, Spark-native.

Mirrors T-Torch's ``queryEngine/Engine.java`` entry points one-to-one
(``findTopK:43-49``, ``findOnPath:64-123``, ``findInRange:141-151``, the
builder ``Engine.Builder`` and the runtime-tunable scorer params
``Engine.update:165-167``), so a user of the reference can switch by
mapping each call:

    Engine.getBuilder().baseURI(p).build()  -> Engine.from_index(spark, p)
    engine.findTopK(q, k)                   -> engine.find_topk(terms, k)
    engine.findOnPath(q)                    -> engine.find_on_path(terms)
    engine.findOnStrictPath(q)              -> engine.find_on_strict_path(terms)
    engine.findInRange(window)              -> metadata predicates via
                                               find_topk(where=...)
    resolver (trajectory -> coordinates)    -> engine.resolve(result)
    engine.update("simFunc", ...)           -> engine.with_bm25(k1, b)

Every method returns a lazy DataFrame — compose further or ``.collect()``.
Each call reads one snapshot of the index (``operators.index.open_snapshot``),
and a returned DataFrame keeps it.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import BM25_B, BM25_K1, DEFAULT_K
from .operators import boolean, phrase as phrase_ops
from .operators.index import build_index, open_snapshot
from .operators.wand import (
    query_term_meta,
    topk_bm25_index,
    topk_bm25_index_many,
)


def parse_simple_query(query: str) -> tuple[list[str], list[str], list[str]]:
    """Split a simple-syntax query into (should, must, must_not) —
    whitespace-separated clauses, ``+``/``-`` prefixes strip into the
    filter sets, everything else (including trailing-``*`` patterns)
    stays in should. Duplicates collapse; order is input order."""
    should: list[str] = []
    must: list[str] = []
    must_not: list[str] = []
    for raw in str(query).split():
        if raw.startswith("+") and len(raw) > 1:
            must.append(raw[1:])
        elif raw.startswith("-") and len(raw) > 1:
            must_not.append(raw[1:])
        else:
            should.append(raw)
    return (list(dict.fromkeys(should)), list(dict.fromkeys(must)),
            list(dict.fromkeys(must_not)))


@dataclass
class Engine:
    """An opened index. Each call reads the index's current snapshot,
    so a commit — a streamed segment, ``add_documents``, a compacted
    index swapped into place, or a write by another process — is visible
    in full from the next call on, with no reopen. Each query method is
    one operator call on that snapshot with the Engine's (k1, b); the
    bucket count and the term statistics come from the snapshot, whose
    memo (``IndexSnapshot.memo``, filled by ``wand.query_term_meta`` and
    the expansions) lets warm repeats skip the dictionary read — for the
    free functions too — and survives a delete (masking changes no
    statistic). ``index_dir`` may also be an ``IndexSnapshot``, which
    pins every call to it."""

    spark: SparkSession
    index_dir: str
    k1: float = BM25_K1
    b: float = BM25_B

    # ------------------------------------------------- construction ----
    @classmethod
    def from_index(cls, spark: SparkSession, index_dir: str) -> "Engine":
        """Open an existing index (the reference's query-time bootstrap,
        ``QueryPool`` ctor); raises if there is none."""
        open_snapshot(spark, index_dir).config  # raises without an index
        return cls(spark, index_dir)

    @classmethod
    def build(cls, spark: SparkSession, corpus: DataFrame, index_dir: str,
              **build_kwargs) -> "Engine":
        """Build (or resume) the index, then open it — the offline entry
        (``MapMatching.start`` -> index build, SURVEY.md §3.3)."""
        build_index(spark, corpus, index_dir, **build_kwargs)
        return cls.from_index(spark, index_dir)

    def with_bm25(self, k1: float, b: float) -> "Engine":
        """Runtime scorer-parameter swap (Engine.update analog)."""
        return replace(self, k1=k1, b=b)

    def _snap(self):
        return open_snapshot(self.spark, self.index_dir)

    @property
    def _analyzer(self) -> str:
        return self._snap().analyzer

    # --------------------------------------------------- query API -----
    def find_topk(self, terms: list[str], k: int = DEFAULT_K,
                  where: Column | None = None,
                  after: tuple[float, int] | None = None) -> DataFrame:
        """Top-k BM25 (findTopK). ``where`` is a metadata predicate over
        the doc_stats columns — the in-loop constraint (F2). ``after`` is
        a (score, doc_id) cursor — the last row of the previous page —
        for deep pagination (Lucene ``searchAfter``): only docs ranking
        strictly after it are returned, at page-one cost (the pruned scan
        never holds a k*page heap). The cursor score must be the exact
        float64 collected from that row: ties at the cursor compare by
        float equality, so a score that lost bits in transit (JSON with
        few digits, float32) drops or repeats rows at the page boundary.
        ``where`` and ``after`` compose — filtered rankings paginate too
        (Lucene searchAfter with a filter clause).

        Term statistics are fetched per QUERY (``query_term_meta``: a
        bucket-pruned dictionary lookup for just the query terms) — never
        the full dictionary, which is unbounded driver state at the
        10^12-file / hash-bounded-vocabulary posture (SURVEY.md §7.6)."""
        return topk_bm25_index(self.spark, self._snap(), terms, k,
                               k1=self.k1, b=self.b, after=after,
                               predicate=where)

    def find_topk_boosted(self, weights: dict, k: int = DEFAULT_K) -> DataFrame:
        """Top-k BM25 with per-term query boosts (Lucene ``BoostQuery``):
        ``weights`` maps term -> positive weight; each term's idf scales
        by its weight, block-max bounds scale with it, so the pruned scan
        stays exact. weight=1.0 for every term == plain ``find_topk``."""
        return topk_bm25_index(
            self.spark, self._snap(), sorted({str(t) for t in weights}), k,
            k1=self.k1, b=self.b,
            boosts={str(t): float(w) for t, w in weights.items()},
        )

    def find_topk_phrase(self, phrase: list[str],
                         k: int = DEFAULT_K,
                         slop: int | None = None) -> DataFrame:
        """PhraseQuery as a SCORING query (Lucene PhraseQuery ranking):
        docs containing the exact phrase ranked by BM25 with the phrase
        frequency as tf and the summed constituent-term idf as weight.
        ``slop`` switches to the sloppy-phrase analog (ordered proximity
        tuple count as tf). Requires a positional index
        (``with_positions=True``)."""
        from .operators.phrase import topk_bm25_index_phrase

        return topk_bm25_index_phrase(self.spark, self._snap(), phrase, k,
                                      k1=self.k1, b=self.b, slop=slop)

    def find_topk_msm(self, terms: list[str], min_should_match: int,
                      k: int = DEFAULT_K) -> DataFrame:
        """Top-k BM25 over docs matching at least ``min_should_match``
        distinct query terms (Lucene
        ``BooleanQuery.setMinimumNumberShouldMatch``); m=1 is the plain
        OR ranking, m=len(terms) the AND ranking."""
        from .operators.queryext import topk_bm25_index_msm

        return topk_bm25_index_msm(self.spark, self._snap(), terms,
                                   min_should_match, k, k1=self.k1, b=self.b)

    def find_topk_synonyms(self, groups: list[list[str]],
                           k: int = DEFAULT_K) -> DataFrame:
        """Top-k BM25 where each group scores as ONE pseudo-term (Lucene
        ``SynonymQuery``): tf = sum of member tfs, df = max member df —
        an alias set never double-counts idf the way a boolean OR would.
        Single-term groups are plain terms, so mixed queries compose."""
        from .operators.queryext import topk_bm25_index_synonym

        return topk_bm25_index_synonym(self.spark, self._snap(), groups, k,
                                       k1=self.k1, b=self.b)

    def find_topk_many(self, queries: dict[str, list[str]],
                       k: int = DEFAULT_K,
                       where: Column | None = None,
                       afters: dict | None = None) -> DataFrame:
        """Batch top-k BM25 — the PREFERRED entry for evaluating a query
        SET (the reference's driver-side loop over ``findTopK``,
        ``EdgeInvertedIndex.java:102``, re-expressed as one job). Returns
        (query_id, doc_id, score); per query, rows are rank- and
        score-identical to ``find_topk`` run alone (tested). One postings
        scan covers the union of all terms, each term's blocks decode
        ONCE, and the per-query fixed stage cost is paid once for the
        whole set (measured 8.7x over the loop at 20 queries). ``where``
        applies the same doc_stats metadata predicate to every query in
        the set (F2-in-the-loop, as in ``find_topk``). ``afters`` maps
        query_id -> (score, doc_id) cursor for per-query searchAfter
        pagination inside the batch — mixed page-1 and page-N members
        share the one scan."""
        return topk_bm25_index_many(self.spark, self._snap(), queries, k,
                                    k1=self.k1, b=self.b, predicate=where,
                                    afters=afters)

    def find_topk_prefix(self, prefix: str, k: int = DEFAULT_K,
                         max_terms: int = 64) -> DataFrame:
        """Prefix top-k BM25 (Lucene ``PrefixQuery`` with the scoring
        boolean rewrite): expand ``prefix`` against the term dictionary
        (df-descending cap at ``max_terms``), score the expansion as a
        multi-term query — each matched term with its own idf. The
        expansion (terms + their df) is memoized per (prefix, max_terms),
        so warm repeats skip the dictionary scan."""
        from .operators.wand import topk_bm25_index_prefix

        return topk_bm25_index_prefix(self.spark, self._snap(), prefix, k,
                                      max_terms=max_terms, k1=self.k1,
                                      b=self.b)

    def find_topk_wildcard(self, pattern: str, k: int = DEFAULT_K,
                           max_terms: int = 64) -> DataFrame:
        """Wildcard top-k BM25 (Lucene ``WildcardQuery``, scoring boolean
        rewrite): ``*`` matches any run, ``?`` one character; the
        dictionary expansion (df-descending cap at ``max_terms``) scores
        as a multi-term query and is memoized per (pattern, cap)."""
        from .operators.wand import topk_bm25_index_wildcard

        return topk_bm25_index_wildcard(self.spark, self._snap(), pattern, k,
                                        max_terms=max_terms, k1=self.k1,
                                        b=self.b)

    def find_topk_fuzzy(self, term: str, k: int = DEFAULT_K,
                        max_edits: int = 2,
                        max_terms: int = 64) -> DataFrame:
        """Fuzzy top-k BM25 (Lucene ``FuzzyQuery``, scoring boolean
        rewrite): every indexed term within ``max_edits`` Levenshtein
        edits of ``term`` scores with its own idf. Expansion memoized per
        (term, edits, cap)."""
        from .operators.wand import topk_bm25_index_fuzzy

        return topk_bm25_index_fuzzy(self.spark, self._snap(), term, k,
                                     max_edits=max_edits,
                                     max_terms=max_terms, k1=self.k1,
                                     b=self.b)

    def find_topk_regexp(self, pattern: str, k: int = DEFAULT_K,
                         max_terms: int = 64) -> DataFrame:
        """Regexp top-k BM25 (Lucene ``RegexpQuery``, scoring boolean
        rewrite): the anchored pattern expands against the term
        dictionary (engine-portable regex subset — no backreferences or
        lookaround; df-descending cap at ``max_terms``) and scores as a
        multi-term query. Expansion memoized per (pattern, cap)."""
        from .operators.wand import topk_bm25_index_regexp

        return topk_bm25_index_regexp(self.spark, self._snap(), pattern, k,
                                      max_terms=max_terms, k1=self.k1,
                                      b=self.b)

    def spell(self, term: str, k: int = 5,
              max_edits: int = 2) -> DataFrame:
        """Spell suggestion / did-you-mean (Lucene ``DirectSpellChecker``
        analog): indexed terms within ``max_edits`` Levenshtein edits of
        ``term`` (the input itself excluded), as (term, dist, df) —
        dist ASC, df DESC, term ASC."""
        from .operators.wand import spell_suggest_terms

        return spell_suggest_terms(self.spark, self._snap(), term, k,
                                   max_edits)

    def find_topk_collapse(self, terms: list[str], group_col: str,
                           k: int = DEFAULT_K) -> DataFrame:
        """Field collapsing (Lucene grouping / Elasticsearch ``collapse``
        analog): the k best GROUP VALUES of a doc-store metadata column,
        each represented by its best-scoring matching document —
        (value, doc_id, score), exact semantics (every match scored, not
        a post-filter over a retrieved top-N)."""
        from .operators.grouping import collapse_topk

        return collapse_topk(self.spark, self._snap(), terms, group_col, k,
                             k1=self.k1, b=self.b)

    @staticmethod
    def find_topk_fielded(fields: dict, terms: list[str],
                          k: int = DEFAULT_K) -> DataFrame:
        """Multi-field boosted search (Lucene ``MultiFieldQueryParser``
        analog): ``fields`` maps a field name to (Engine, boost) — each
        field is its own index with its own statistics and (k1, b)
        similarity, and every query term queries every field:
        score(doc) = sum over fields of boost * BM25_field. EXACT
        semantics (each field contributes its full match-set scores, not
        a top-k fusion); per-field term statistics ride each field
        snapshot's memo."""
        from .operators.fielded import combine_fielded
        from .operators.wand import scores_bm25_index_all

        return combine_fielded([
            (scores_bm25_index_all(eng.spark, eng._snap(), terms, k1=eng.k1,
                                   b=eng.b), float(boost))
            for _name, (eng, boost) in sorted(fields.items())], k)

    def find_topk_boolean(self, should: list[str], k: int = DEFAULT_K,
                          must: list[str] | tuple = (),
                          must_not: list[str] | tuple = ()) -> DataFrame:
        """Boolean-clause top-k (Lucene ``BooleanQuery``): ``should``
        terms score, ``must`` terms all required (non-scoring filters),
        ``must_not`` excludes. One filtered postings read + one kernel
        stage for all three clause sets; statistics memoized on the
        union of the clause terms."""
        from .operators.wand import topk_bm25_index_boolean

        return topk_bm25_index_boolean(self.spark, self._snap(), should, k,
                                       must=must, must_not=must_not,
                                       k1=self.k1, b=self.b)

    def search(self, query: str, k: int = DEFAULT_K,
               max_terms: int = 64) -> DataFrame:
        """Simple query syntax (Lucene SimpleQueryParser subset):
        whitespace-separated clauses — bare terms score (should),
        ``+term`` is a required non-scoring filter, ``-term`` excludes,
        a trailing ``*`` on a bare term expands as a prefix into the
        scoring set. Compiles onto :meth:`find_topk_boolean`.

            eng.search("spark jo* +batch -slow", k=10)
        """
        should, must, must_not = parse_simple_query(query)
        for t in (*must, *must_not):
            if "*" in t or "?" in t:
                # a wildcard filter clause would intersect with a term
                # that (almost) never exists — reject loudly rather than
                # silently return 0 rows
                raise ValueError(
                    f"wildcard in filter clause {t!r}: expansion is "
                    "supported for scoring (bare) terms only"
                )
        for t in should:
            # the only pattern position this syntax supports is ONE
            # trailing '*' (prefix). 'sp?rk' / 'sp*rk' scored as literal
            # terms would silently match (almost) nothing — reject loudly
            # and point at expand_wildcard, mirroring the filter-clause
            # rejection above (ADVICE r4).
            if "?" in t or "*" in t[:-1]:
                raise ValueError(
                    f"unsupported pattern {t!r}: simple syntax allows "
                    "only a trailing '*' prefix pattern — use "
                    "Engine.find_topk_wildcard / expand_wildcard for "
                    "mid-term '*' or '?' patterns"
                )
        from .operators.wand import _memo_meta, expand_prefix

        snap = self._snap()
        bare = [t for t in should if not t.endswith("*")]
        for pat in [t[:-1] for t in should if t.endswith("*")]:
            bare.extend(_memo_meta(
                snap, ("prefix", pat, int(max_terms)),
                lambda p=pat: expand_prefix(self.spark, snap, p, max_terms),
            ).term_df)
        if not bare:
            raise ValueError(
                f"query {query!r} has no scoring terms (bare or prefix)"
            )
        # the expansion and the scoring read the same snapshot
        return replace(self, index_dir=snap).find_topk_boolean(
            sorted(set(bare)), k, must=must, must_not=must_not)

    def find_sorted(self, terms: list[str], sort_col: str,
                    k: int = DEFAULT_K, mode: str = "or",
                    ascending: bool = False) -> DataFrame:
        """Doc-values sort (Lucene ``Sort`` analog): the k docs matching
        the boolean query ordered by a numeric doc-store column instead
        of relevance — (doc_id, sort_value), NULL values dropped."""
        from .operators.boolean import sort_by_field

        return sort_by_field(self.spark, self._snap(), terms, sort_col,
                             k, mode=mode, ascending=ascending)

    def count(self, terms: list[str], mode: str = "or") -> DataFrame:
        """Total-hits count (Lucene ``TotalHitCountCollector`` analog):
        one row (n_docs) — the number of live docs matching the boolean
        query. Rides the same segment-local block decode as ``bool_*``;
        only per-segment partial counts leave the kernel."""
        from .operators.boolean import bool_and_index_blocks, bool_or_index_blocks

        if mode not in ("or", "and"):
            raise ValueError(f"count: unknown mode {mode!r}")
        fn = bool_or_index_blocks if mode == "or" else bool_and_index_blocks
        m = fn(self.spark, self._snap(), terms)
        return m.agg(F.count("doc_id").alias("n_docs"))

    def facet_counts(self, terms: list[str], facet_col: str,
                     k: int = DEFAULT_K, mode: str = "or") -> DataFrame:
        """Facet counts over a boolean match (Lucene facets analog):
        (value, n_docs) for the top-k values of ``facet_col`` among docs
        matching the terms (``mode`` = "or" / "and")."""
        from .operators.boolean import facet_counts

        return facet_counts(self.spark, self._snap(), terms, facet_col,
                            k=k, mode=mode)

    def facet_ranges(self, terms: list[str], facet_col: str, width: float,
                     mode: str = "or") -> DataFrame:
        """Numeric range facet / histogram aggregation over a boolean
        match: (bucket_lo, n_docs) per non-empty ``width``-wide bucket of
        a numeric doc-store column (``dl`` — the index's own doc value —
        always works), bucket ASC."""
        from .operators.boolean import facet_ranges

        return facet_ranges(self.spark, self._snap(), terms, facet_col,
                            width, mode=mode)

    def highlight(self, result: DataFrame, docs: DataFrame,
                  terms: list[str], width: int = 5,
                  id_col: str = "doc_id", text_col: str = "text",
                  analyzer: str | None = None) -> DataFrame:
        """Snippets over an ALREADY-RETRIEVED result set (the Lucene
        highlighter contract): broadcast the k result rows against the
        caller's doc store ``docs`` (the index stores no raw text), then
        run the zero-Python snippet scan over k rows — never the corpus.
        ``result`` is an engine result frame (keyed ``doc_id``, the
        index's output column whatever the corpus id was named);
        ``id_col``/``text_col`` name the columns of the caller's doc
        store. Returns result columns + (pos, snippet). ``analyzer``
        defaults to the INDEX's configured analyzer — highlighting must
        tokenize the way the match did, or a doc that matched can yield
        no snippet."""
        from .operators.snippet import snippets

        if analyzer is None:
            analyzer = self._analyzer
        # The read-only snippet scan has a JVM-parity tokenizer for the
        # code analyzer (tokens_code_jvm, parity pinned in
        # test_tokenizer) — keep highlight zero-Python.
        if analyzer == "code":
            analyzer = "code_jvm"
        # Normalize the DOC-STORE side to the result's key (renaming the
        # result instead would collide when it already carries the doc
        # store's id column, e.g. a resolve()d frame): snippets() emits
        # "doc_id" too, so every join below is unambiguous.
        d = docs if id_col == "doc_id" else \
            docs.withColumnRenamed(id_col, "doc_id")
        resolved = d.join(F.broadcast(result.select("doc_id")), "doc_id")
        sn = snippets(resolved, terms, width, id_col="doc_id",
                      text_col=text_col, analyzer=analyzer)
        return result.join(F.broadcast(sn), "doc_id")

    def find_topk_hybrid(self, terms: list[str], emb: DataFrame,
                         query_vec_id: int, k: int = DEFAULT_K,
                         n: int | None = None, c: int = 60,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
        """Hybrid lexical+vector retrieval: BM25 top-n fused with
        embedding-cosine top-n by Reciprocal Rank Fusion (1/(c+rank),
        c=60 — the Lucene/OpenSearch hybrid default). ``emb`` is the
        caller's embedding table; ``query_vec_id`` names the query
        vector in it (ids shared with the indexed doc ids). Returns
        (doc_id, rrf_u6) top-k."""
        from .operators.fusion import rrf_fuse
        from .operators.similarity import cosine_topk

        n = int(n) if n is not None else max(int(k) * 2, 10)
        bm = self.find_topk(terms, n).select(
            "doc_id",
            F.round(F.col("score") * 1e6).cast("bigint").alias("score_u6"),
        )
        cos = cosine_topk(emb, query_vec_id, n,
                          id_col=id_col, vec_col=vec_col) \
            .select(F.col("vec_id").alias("doc_id"), "cos_u6")
        return rrf_fuse([(bm, "score_u6"), (cos, "cos_u6")], k, c=c)

    def suggest(self, prefix: str, k: int = 10) -> DataFrame:
        """Prefix autocomplete over the term dictionary (the Lucene
        suggester analog): (term, df), df-descending / term-ascending —
        a range scan over ``terms_sorted`` when present."""
        from .operators.wand import suggest_terms

        return suggest_terms(self.spark, self._snap(), prefix, k)

    def more_like_this(self, text: str, k: int = DEFAULT_K,
                       max_terms: int = 6,
                       exclude_doc_id: int | None = None) -> DataFrame:
        """Lucene ``MoreLikeThis``: re-analyze ``text`` with the index's
        analyzer, rank its distinct terms by tf × idf against THIS
        index's statistics (``retrieveInterestingTerms``), take the top
        ``max_terms`` (quantized score-u6 DESC, term ASC — engine-
        portable tie-breaks), and score them as a multi-term BM25 query.
        ``exclude_doc_id`` masks the source document from the ranking
        (statistics still count it — masked-delete semantics). Driver
        state is O(distinct terms of ONE document), the same contract as
        Lucene's re-analyze path."""
        from collections import Counter

        from .functions.bm25 import idf_py
        from .functions.tokenizer import tokenize_py

        snap = self._snap()
        an = "code" if snap.analyzer == "code_jvm" else snap.analyzer
        tf = Counter(tokenize_py(str(text), an))
        if not tf:
            raise ValueError("empty MoreLikeThis source text")
        meta = query_term_meta(self.spark, snap, list(tf))
        scored = sorted(
            (-int(round(n * idf_py(meta.term_df[t], meta.n_docs) * 1e6)), t)
            for t, n in tf.items()
            if meta.term_df.get(t, 0.0) > 0  # unindexed terms can't match
        )
        terms = [t for _, t in scored[:int(max_terms)]]
        if not terms:
            terms = ["\x00__no_indexed_source_terms__"]  # 0 rows, stable schema
        where = (F.col("doc_id") != int(exclude_doc_id)
                 if exclude_doc_id is not None else None)
        # term selection and scoring read the same snapshot
        return replace(self, index_dir=snap).find_topk(terms, k, where=where)

    def explain_score(self, terms: list[str], doc_id: int) -> DataFrame:
        """Per-term BM25 breakdown for one document (Lucene
        ``Explanation`` analog): (term, tf, df, idf, contribution);
        the contributions sum to the doc's ``find_topk`` score exactly
        (tested). Rides the memoized per-term-set statistics."""
        from .operators.wand import explain_score

        return explain_score(self.spark, self._snap(), terms, doc_id,
                             k1=self.k1, b=self.b)

    def add_documents(self, corpus: DataFrame,
                      meta_cols: tuple[str, ...] | None = None,
                      n_segments: int = 1,
                      verify_disjoint: bool = False) -> int:
        """Incremental batch ingest into the opened index
        (``IndexWriter.addDocuments`` analog): new docs become fresh
        appended segments; queries afterwards are rank- and
        score-identical to a fresh build over the union corpus (the next
        call reads the new snapshot, with its own statistics)."""
        from .operators.index import add_documents

        return add_documents(self.spark, self.index_dir, corpus,
                             meta_cols=meta_cols, n_segments=n_segments,
                             verify_disjoint=verify_disjoint)

    def delete(self, doc_ids) -> int:
        """Tombstone documents (Lucene live-docs semantics): every
        subsequent query masks them out; corpus statistics keep counting
        them until ``compact_index`` physically purges. Accepts an
        iterable of ids or a one-column DataFrame; returns the count
        recorded. The next snapshot keeps the term-statistics memo
        (masking does not change df/avgdl by design)."""
        from .operators.index import delete_docs

        return delete_docs(self.spark, self.index_dir, doc_ids)

    def find_on_path(self, terms: list[str]) -> DataFrame:
        """Boolean OR — docs sharing >=1 term (findOnPath / J2)."""
        return boolean.bool_or_index_blocks(self.spark, self._snap(), terms)

    def find_on_strict_path(self, terms: list[str]) -> DataFrame:
        """Boolean AND — docs containing all terms (findOnStrictPath /
        J3)."""
        return boolean.bool_and_index_blocks(self.spark, self._snap(), terms)

    def find_phrase(self, phrase: list[str]) -> DataFrame:
        """Exact consecutive-token phrase (positional index required)."""
        return phrase_ops.phrase_count_index(self.spark, self._snap(), phrase)

    def find_near(self, terms: list[str], slop: int = 0) -> DataFrame:
        """Ordered proximity query (SpanNear analog, positional index
        required): terms in query order, whole window bounded by
        (n-1) + slop; n_occ counts the qualifying position tuples.
        slop=0 equals :meth:`find_phrase` (tested)."""
        return phrase_ops.near_count_index(self.spark, self._snap(), terms,
                                           slop)

    def find_in_range(self, predicate: Column) -> DataFrame:
        """Range/window query over the doc store metadata (findInRange /
        J4 analog): the geometric window of the reference becomes a
        metadata predicate over doc_stats columns; at scale the predicate
        prunes partitions/row groups of the doc_stats table. Tombstoned
        docs are masked out (broadcast anti-join — the tombstone set is
        bounded by deletes-since-compaction)."""
        from .operators.index import drop_docs

        snap = self._snap()
        return drop_docs(snap.doc_stats.where(predicate).select("doc_id"),
                         snap.tombstones)

    @staticmethod
    def find_in_radius(points: DataFrame, lat: float, lng: float,
                       radius_m: float) -> DataFrame:
        """Circle query over a point table (the reference's
        ``findInRange(new Circle(...))``, ``VertexGridIndex.java:288-299``):
        grid-cell candidates, exact haversine refine (F4)."""
        from .operators.trajectory import points_in_radius

        return points_in_radius(points, lat, lng, radius_m)

    @staticmethod
    def find_knn(points: DataFrame, lat: float, lng: float,
                 k: int = DEFAULT_K) -> DataFrame:
        """k nearest points to a center (the reference's incremental ring
        search, ``VertexGridIndex.incrementallyFind:338-393`` / J5): grid
        rings expand over the cell histogram until the k-th distance is
        provably bounded, then an exact haversine refine."""
        from .operators.trajectory import knn_points

        return knn_points(points, lat, lng, k)

    def resolve(self, result: DataFrame) -> DataFrame:
        """Join a (doc_id, ...) result against the doc store metadata —
        the TrajectoryResolver step (J7)."""
        ds = self._snap().doc_stats.drop("segment")
        return result.join(ds, "doc_id", "left")

    # ------------------------------------------------- introspection ---
    def manifest(self) -> DataFrame:
        """Per-segment lineage + metrics rows."""
        return self._snap().manifest
