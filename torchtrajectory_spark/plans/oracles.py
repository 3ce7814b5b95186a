"""ANSI-SQL (DuckDB) oracle builders for every SQL-expressible operator.

Each function returns a SQL string over the driver-registered views
(``documents``, ``events``, ``lineitem``, ...). Column names and value
encodings (e.g. ``score_u6`` = round(score*1e6) BIGINT) are kept in exact
lockstep with the Spark implementations so the driver's order-insensitive
value-hash comparison passes bit-for-bit.

Tokenization parity: Spark ``filter(split(lower(text),' '), x -> x != '')``
== DuckDB ``string_split(lower(text), ' ')`` filtered on non-empty.
"""

from __future__ import annotations

from ..config import BM25_B, BM25_K1


def _terms_list(terms: list[str]) -> str:
    return ", ".join("'" + t.replace("'", "''") + "'" for t in terms)


TOK_CTE = """
tok AS (
  SELECT doc_id, t.term
  FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
    FROM documents
  ) t
  WHERE term <> ''
)
""".strip()


def bm25_topk_sql(terms: list[str], k: int,
                  k1: float = BM25_K1, b: float = BM25_B) -> str:
    tl = _terms_list(sorted(set(terms)))
    return f"""
WITH {TOK_CTE},
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2
),
dl AS (
  SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1
),
stats AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl
),
dfs AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf WHERE term IN ({tl}) GROUP BY 1
),
scores AS (
  SELECT tf.doc_id,
         sum(
           ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
           * tf.tf * ({k1} + 1)
           / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl))
         ) AS score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, CAST(round(score * 1e6) AS BIGINT) AS score_u6
FROM scores
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def bm25_topk_batch_sql(queries: dict[str, list[str]], k: int,
                        k1: float = BM25_K1, b: float = BM25_B) -> str:
    """Batch top-k: per-query BM25 rankings from ONE shared tok/tf/dl
    pass, row_number()-limited per query — the exact semantics of
    ``topk_bm25_index_many`` (same tie-break: score DESC, doc_id ASC)."""
    qmap = {str(qid): sorted(set(str(t) for t in ts))
            for qid, ts in queries.items()}
    all_terms = sorted({t for ts in qmap.values() for t in ts})
    tl = _terms_list(all_terms)
    qvals = ", ".join(
        f"('{qid}', '{t.replace(chr(39), chr(39) * 2)}')"
        for qid in sorted(qmap) for t in qmap[qid]
    )
    return f"""
WITH {TOK_CTE},
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2
),
dl AS (
  SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1
),
stats AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl
),
dfs AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf WHERE term IN ({tl}) GROUP BY 1
),
q(query_id, term) AS (VALUES {qvals}),
scores AS (
  SELECT q.query_id, tf.doc_id,
         sum(
           ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
           * tf.tf * ({k1} + 1)
           / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl))
         ) AS score
  FROM q
  JOIN tf USING (term)
  JOIN dfs ON dfs.term = tf.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY q.query_id, tf.doc_id
),
ranked AS (
  SELECT query_id, doc_id,
         CAST(round(score * 1e6) AS BIGINT) AS score_u6,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS rn
  FROM scores
)
SELECT query_id, doc_id, score_u6 FROM ranked WHERE rn <= {k}
""".strip()


def bm25_topk_batch_filtered_sql(queries: dict[str, list[str]], k: int,
                                 pred_sql: str, k1: float = BM25_K1,
                                 b: float = BM25_B) -> str:
    """Batch top-k with a metadata predicate on candidates: per-query
    rankings restricted to predicate-selected docs while scores keep
    corpus-wide statistics — ``topk_bm25_index_many(predicate=...)``
    semantics (filter the heap, not the stats; same tie-break)."""
    qmap = {str(qid): sorted(set(str(t) for t in ts))
            for qid, ts in queries.items()}
    all_terms = sorted({t for ts in qmap.values() for t in ts})
    tl = _terms_list(all_terms)
    qvals = ", ".join(
        f"('{qid}', '{t.replace(chr(39), chr(39) * 2)}')"
        for qid in sorted(qmap) for t in qmap[qid]
    )
    return f"""
WITH {TOK_CTE},
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2
),
dl AS (
  SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1
),
stats AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl
),
dfs AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf WHERE term IN ({tl}) GROUP BY 1
),
q(query_id, term) AS (VALUES {qvals}),
scores AS (
  SELECT q.query_id, tf.doc_id,
         sum(
           ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
           * tf.tf * ({k1} + 1)
           / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl))
         ) AS score
  FROM q
  JOIN tf USING (term)
  JOIN dfs ON dfs.term = tf.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY q.query_id, tf.doc_id
),
ranked AS (
  SELECT s.query_id, s.doc_id,
         CAST(round(s.score * 1e6) AS BIGINT) AS score_u6,
         row_number() OVER (
           PARTITION BY s.query_id ORDER BY s.score DESC, s.doc_id ASC
         ) AS rn
  FROM scores s JOIN documents d ON s.doc_id = d.doc_id
  WHERE {pred_sql}
)
SELECT query_id, doc_id, score_u6 FROM ranked WHERE rn <= {k}
""".strip()


def bm25_topk_filtered_sql(terms: list[str], k: int, pred_sql: str,
                           k1: float = BM25_K1, b: float = BM25_B) -> str:
    """Top-k with metadata predicate on candidates, index-wide stats (F2
    in-the-loop semantics: constraint filters the heap, not the stats)."""
    tl = _terms_list(sorted(set(terms)))
    return f"""
WITH {TOK_CTE},
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2
),
dl AS (
  SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1
),
stats AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl
),
dfs AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf WHERE term IN ({tl}) GROUP BY 1
),
scores AS (
  SELECT tf.doc_id,
         sum(
           ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
           * tf.tf * ({k1} + 1)
           / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl))
         ) AS score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT s.doc_id, CAST(round(s.score * 1e6) AS BIGINT) AS score_u6
FROM scores s JOIN documents d ON s.doc_id = d.doc_id
WHERE {pred_sql}
ORDER BY s.score DESC, s.doc_id ASC
LIMIT {k}
""".strip()


def phrase_count_sql(phrase: list[str]) -> str:
    """Positional phrase query: docs where the terms occur consecutively,
    with occurrence count (Z2 position-payload analog)."""
    n = len(phrase)
    conds = " AND ".join(
        f"t[i + {j}] = '" + t.replace("'", "''") + "'"
        for j, t in enumerate(phrase)
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents
),
occ AS (
  SELECT doc_id,
         CASE WHEN len(t) >= {n} THEN
           CAST(len(list_filter(range(1, len(t) - {n - 2}),
                                i -> {conds})) AS BIGINT)
         ELSE 0 END AS n_occ
  FROM toks
)
SELECT doc_id, n_occ FROM occ WHERE n_occ > 0
""".strip()


def _near_occ_body(terms: list[str], slop: int) -> str:
    """Nested DuckDB list-lambda expression counting strictly increasing
    position tuples (one per query term, in order, window <= (n-1)+slop)
    over a token-list column ``t`` — the exact tuple-counting semantics
    of ``count_near_tuples``. Shared by the count and scored oracles."""
    n = len(terms)
    if n == 0:
        raise ValueError("empty proximity query")
    lim = n - 1 + int(slop)

    def esc(t: str) -> str:
        return t.replace("'", "''")

    def inner(j: int, prev: str) -> str:
        var = f"p{j}"
        rng = f"range({prev} + 1, least(p0 + {lim}, len(t)) + 1)"
        if j == n - 1:
            return (f"len(list_filter({rng}, "
                    f"{var} -> t[{var}] = '{esc(terms[j])}'))")
        return (
            f"coalesce(list_sum(list_transform({rng}, {var} -> "
            f"CASE WHEN t[{var}] = '{esc(terms[j])}' THEN {inner(j + 1, var)} "
            f"ELSE 0 END)), 0)"
        )

    if n == 1:
        return f"len(list_filter(t, x -> x = '{esc(terms[0])}'))"
    return (
        f"coalesce(list_sum(list_transform(range(1, len(t) + 1), p0 -> "
        f"CASE WHEN t[p0] = '{esc(terms[0])}' THEN {inner(1, 'p0')} "
        f"ELSE 0 END)), 0)"
    )


def phrase_near_sql(terms: list[str], slop: int) -> str:
    """Ordered proximity oracle (SpanNear analog) — see
    :func:`_near_occ_body` for the tuple-count expression."""
    body = _near_occ_body(terms, slop)
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents
),
occ AS (
  SELECT doc_id, CAST({body} AS BIGINT) AS n_occ FROM toks
)
SELECT doc_id, n_occ FROM occ WHERE n_occ > 0
""".strip()


def bool_or_sql(terms: list[str]) -> str:
    tl = _terms_list(sorted(set(terms)))
    return f"""
WITH {TOK_CTE}
SELECT DISTINCT doc_id FROM tok WHERE term IN ({tl})
""".strip()


def bool_and_sql(terms: list[str]) -> str:
    ts = sorted(set(terms))
    tl = _terms_list(ts)
    return f"""
WITH {TOK_CTE}
SELECT doc_id
FROM tok
WHERE term IN ({tl})
GROUP BY doc_id
HAVING count(DISTINCT term) = {len(ts)}
""".strip()


def term_stats_sql(terms: list[str]) -> str:
    """df + idf (x1e6, BIGINT) for a fixed term list — dictionary build."""
    tl = _terms_list(sorted(set(terms)))
    return f"""
WITH {TOK_CTE},
tf AS (SELECT doc_id, term FROM tok GROUP BY doc_id, term),
n AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n_docs FROM tok)
SELECT term,
       count(*) AS df,
       CAST(round(ln(1 + (n.n_docs - count(*) + 0.5) / (count(*) + 0.5)) * 1e6)
            AS BIGINT) AS idf_u6
FROM tf CROSS JOIN n
WHERE term IN ({tl})
GROUP BY term, n.n_docs
""".strip()


def doc_stats_sql() -> str:
    """dl + sha256(content) — the per-row invariant surface."""
    return f"""
WITH {TOK_CTE},
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id)
SELECT d.doc_id, coalesce(dl.dl, 0) AS dl, sha256(d.text) AS content_sha256
FROM documents d LEFT JOIN dl ON d.doc_id = dl.doc_id
""".strip()


def time_filter_contains_sql(lo: str, hi: str) -> str:
    """Events strictly inside a time interval (F2 'contains' semantics,
    reference TimeInterval.java:19-33)."""
    return f"""
SELECT event_id, user_id, event_type
FROM events
WHERE ts > TIMESTAMP '{lo}' AND ts < TIMESTAMP '{hi}'
""".strip()


def time_span_overlap_sql(lo: str, hi: str) -> str:
    """Per-user activity span overlapping a query interval (F2 'joins')."""
    return f"""
WITH spans AS (
  SELECT user_id, min(ts) AS ts_start, max(ts) AS ts_end, count(*) AS n_events
  FROM events GROUP BY user_id
)
SELECT user_id, n_events
FROM spans
WHERE ts_start <= TIMESTAMP '{hi}' AND ts_end >= TIMESTAMP '{lo}'
""".strip()


def grid_cells_sql(cell: float) -> str:
    """Tile-ID bucketing + per-cell counts (C4/J4 grid analog)."""
    return f"""
SELECT CAST(floor(value / {cell}) AS BIGINT) AS cell,
       count(*) AS n,
       CAST(round(sum(value) * 100) AS BIGINT) AS sum_value_c
FROM events
GROUP BY 1
""".strip()


def resolve_topk_sql(terms: list[str], k: int) -> str:
    """Top-k + doc-store resolution join (J7 analog: ids -> content)."""
    inner = bm25_topk_sql(terms, k)
    return f"""
WITH topk AS ({inner})
SELECT topk.doc_id, topk.score_u6, d.lang, d.n_chars
FROM topk JOIN documents d ON topk.doc_id = d.doc_id
""".strip()


def ebd_topk_sql(terms: list[str], k: int) -> str:
    """EBD intersection distance top-k (kernels.ebd_topk). Exact rational
    arithmetic (set sizes) before a single float division -> bit-stable."""
    tl = _terms_list(sorted(set(terms)))
    nq = len(set(terms))
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split(lower(text), ' '),
                                   x -> x <> '')) AS t
  FROM documents
),
d AS (
  SELECT doc_id,
         1.0 - CAST(len(list_intersect(t, [{tl}])) AS DOUBLE)
               / CAST(greatest(len(t), {nq}) AS DOUBLE) AS dist
  FROM toks
)
SELECT doc_id, CAST(round(dist * 1e6) AS BIGINT) AS dist_u6
FROM d
ORDER BY dist ASC, doc_id ASC
LIMIT {k}
""".strip()


def user_hops_sql() -> str:
    """Per-user consecutive-point haversine hops (window lag + C1 formula,
    per-hop rounded to meters before the sum for order independence)."""
    hav = (
        "round(2.0 * 6371000.0 * asin(sqrt("
        "sin(radians(lat - plat) / 2) * sin(radians(lat - plat) / 2)"
        " + cos(radians(plat)) * cos(radians(lat))"
        " * sin(radians(lng - plng) / 2) * sin(radians(lng - plng) / 2)"
        ")))"
    )
    return f"""
WITH pts AS (
  SELECT user_id, ts, event_id,
         value % 120 - 60 AS lat,
         (value * 3) % 360 - 180 AS lng
  FROM events
),
hops AS (
  SELECT user_id,
         lag(lat) OVER w AS plat, lag(lng) OVER w AS plng,
         lat, lng
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, count(*) AS n_hops,
       CAST(sum(CAST({hav} AS BIGINT)) AS BIGINT) AS total_m
FROM hops
WHERE plat IS NOT NULL
GROUP BY user_id
""".strip()


def points_in_window_sql(lat_lo: float, lat_hi: float,
                         lng_lo: float, lng_hi: float) -> str:
    """Range-query oracle: the grid candidate phase is a superset filter,
    so the exact answer is just the plain bounding-box predicate."""
    return f"""
WITH pts AS (
  SELECT event_id, user_id,
         value % 120 - 60 AS lat,
         (value * 3) % 360 - 180 AS lng
  FROM events
)
SELECT event_id, user_id
FROM pts
WHERE lat BETWEEN {lat_lo} AND {lat_hi}
  AND lng BETWEEN {lng_lo} AND {lng_hi}
""".strip()


def best_then_combine_sql() -> str:
    """A4 two-level aggregation: per-(user, type) max then per-user sum."""
    return """
WITH best AS (
  SELECT user_id, event_type,
         CAST(round(max(value) * 100) AS BIGINT) AS best_c
  FROM events GROUP BY 1, 2
)
SELECT user_id, count(*) AS n_types,
       CAST(sum(best_c) AS BIGINT) AS sum_best_c
FROM best GROUP BY user_id
""".strip()


def resolve_topk_json_sql(terms: list[str], k: int) -> str:
    """C8 JSON result formatting: DuckDB to_json(struct_pack(...)) renders
    byte-identically to Spark to_json(struct(...)) for these types."""
    inner = bm25_topk_sql(terms, k)
    return f"""
WITH topk AS ({inner})
SELECT topk.doc_id,
       to_json(struct_pack(
         doc_id := topk.doc_id,
         score_u6 := topk.score_u6,
         lang := d.lang,
         n_chars := d.n_chars
       )) AS result_json
FROM topk JOIN documents d ON topk.doc_id = d.doc_id
""".strip()


def anti_visited_sql(terms: list[str], visited_terms: list[str]) -> str:
    """OR-match minus docs matching a 'visited' term set (U3/F6 analog)."""
    a = bool_or_sql(terms)
    b = bool_or_sql(visited_terms)
    return f"SELECT doc_id FROM ({a}) EXCEPT SELECT doc_id FROM ({b})"


def points_in_radius_sql(lat_c: float, lng_c: float,
                         radius_m: float) -> str:
    """Radius-query oracle (F4): plain haversine predicate (the tile
    candidate phase is a superset filter), formula written operand-for-
    operand as functions/geo.haversine_m sequences it."""
    hav = (
        f"2.0 * 6371000.0 * asin(sqrt("
        f"sin(radians({lat_c!r} - lat) / 2) * sin(radians({lat_c!r} - lat) / 2)"
        f" + cos(radians(lat)) * cos(radians({lat_c!r}))"
        f" * sin(radians({lng_c!r} - lng) / 2) * sin(radians({lng_c!r} - lng) / 2)"
        f"))"
    )
    return f"""
WITH pts AS (
  SELECT event_id, user_id,
         value % 120 - 60 AS lat,
         (value * 3) % 360 - 180 AS lng
  FROM events
)
SELECT event_id, user_id, CAST(round({hav}) AS BIGINT) AS dist_m
FROM pts
WHERE {hav} <= {radius_m!r}
""".strip()


def _hav_sql(lat_c: float, lng_c: float) -> str:
    """Haversine vs a fixed center, operand-for-operand as
    functions/geo.haversine_m sequences it."""
    return (
        f"2.0 * 6371000.0 * asin(sqrt("
        f"sin(radians({lat_c!r} - lat) / 2) * sin(radians({lat_c!r} - lat) / 2)"
        f" + cos(radians(lat)) * cos(radians({lat_c!r}))"
        f" * sin(radians({lng_c!r} - lng) / 2) * sin(radians({lng_c!r} - lng) / 2)"
        f"))"
    )


def points_near_track_sql(track: list[tuple[float, float]],
                          eps_m: float) -> str:
    """ε-ball candidate-join oracle (J6): a point qualifies when its
    distance to the NEAREST track point is <= eps (the grid candidate
    phase is a superset filter); dist_m = rounded least() over the same
    per-point haversine expressions the Spark plan evaluates."""
    mind = "least(" + ", ".join(
        _hav_sql(la, ln) for la, ln in track
    ) + ")"
    return f"""
WITH pts AS (
  SELECT event_id, user_id,
         value % 120 - 60 AS lat,
         (value * 3) % 360 - 180 AS lng
  FROM events
)
SELECT event_id, user_id, CAST(round({mind}) AS BIGINT) AS dist_m
FROM pts
WHERE {mind} <= {eps_m!r}
""".strip()


def knn_points_sql(lat_c: float, lng_c: float, k: int) -> str:
    """k-NN oracle (J5): exhaustive haversine ORDER BY + LIMIT — the ring
    expansion is a candidate strategy only; results must be identical."""
    hav = (
        f"2.0 * 6371000.0 * asin(sqrt("
        f"sin(radians({lat_c!r} - lat) / 2) * sin(radians({lat_c!r} - lat) / 2)"
        f" + cos(radians(lat)) * cos(radians({lat_c!r}))"
        f" * sin(radians({lng_c!r} - lng) / 2) * sin(radians({lng_c!r} - lng) / 2)"
        f"))"
    )
    return f"""
WITH pts AS (
  SELECT event_id, user_id,
         value % 120 - 60 AS lat,
         (value * 3) % 360 - 180 AS lng
  FROM events
)
SELECT event_id, user_id, CAST(round({hav}) AS BIGINT) AS dist_m
FROM pts
ORDER BY {hav} ASC, event_id ASC
LIMIT {k}
""".strip()


def densify_hops_sql(step_deg: float, user_id: int) -> str:
    """J8 densification oracle: same lag pairing, same closed-form step
    count (no trig), same interpolation op order, same single-user
    resolve-time scope."""
    seglen = ("sqrt((lat - plat) * (lat - plat) "
              "+ (lng - plng) * (lng - plng))")
    return f"""
WITH pts AS (
  SELECT user_id, ts, event_id,
         value % 120 - 60 AS lat,
         (value * 3) % 360 - 180 AS lng
  FROM events WHERE user_id = {user_id}
),
hops AS (
  SELECT user_id, event_id,
         lag(lat) OVER w AS plat, lag(lng) OVER w AS plng,
         lat, lng
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
d AS (
  SELECT user_id, event_id, plat, plng, lat, lng,
         CAST(floor({seglen} / {step_deg!r}) AS BIGINT) AS n_extra
  FROM hops WHERE plat IS NOT NULL
),
e AS (
  SELECT user_id, event_id, plat, plng, lat, lng, n_extra,
         unnest(range(0, n_extra + 1)) AS seq
  FROM d
)
SELECT user_id, event_id, seq,
       CAST(round((plat + (lat - plat)
            * (CAST(seq AS DOUBLE) / CAST(n_extra + 1 AS DOUBLE))) * 1e6)
            AS BIGINT) AS lat_u6,
       CAST(round((plng + (lng - plng)
            * (CAST(seq AS DOUBLE) / CAST(n_extra + 1 AS DOUBLE))) * 1e6)
            AS BIGINT) AS lng_u6
FROM e
""".strip()


def _bm25_topk_core(term_pred: str, k: int, k1: float, b: float,
                    doc_where: str = "", result_where: str = "",
                    corpus: str = "documents",
                    extra_ctes: str = "",
                    scores_having: str = "") -> str:
    """Shared BM25 top-k skeleton with five seams: ``term_pred`` selects
    the scoring terms (IN list / starts_with / a subquery), ``doc_where``
    restricts the corpus BEFORE statistics (purged-delete semantics),
    ``result_where`` restricts only the RANKING (masked-delete semantics
    — statistics still count the excluded docs, Lucene-parity),
    ``corpus`` swaps the (doc_id, text) source (e.g. a chunked derived
    table), and ``extra_ctes`` splices extra CTEs between ``stats`` and
    ``dfs`` (they may reference tok/tf/dl/stats and be referenced by
    ``term_pred`` — the MoreLikeThis term-selection seam). Must end with
    a trailing comma when non-empty. ``scores_having`` adds a HAVING
    clause to the per-doc score aggregate (the minimum-should-match
    seam: e.g. ``count(*) >= 2``)."""
    tok_src = corpus + (f" WHERE {doc_where}" if doc_where else "")
    rw = f"WHERE {result_where}\n" if result_where else ""
    sh = f"\n  HAVING {scores_having}" if scores_having else ""
    return f"""
WITH tok AS (
  SELECT doc_id, t.term
  FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
    FROM {tok_src}
  ) t
  WHERE term <> ''
),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2
),
dl AS (
  SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1
),
stats AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl
),
{extra_ctes}dfs AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf WHERE {term_pred} GROUP BY 1
),
scores AS (
  SELECT tf.doc_id,
         sum(
           ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
           * tf.tf * ({k1} + 1)
           / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl))
         ) AS score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id{sh}
)
SELECT doc_id, CAST(round(score * 1e6) AS BIGINT) AS score_u6
FROM scores
{rw}ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def bm25_topk_prefix_sql(prefix: str, k: int,
                         k1: float = BM25_K1, b: float = BM25_B) -> str:
    """Prefix query oracle: every corpus term starting with ``prefix``
    scores as its own query term (idf per matched term, per-doc sum) —
    the boolean rewrite of Lucene's PrefixQuery. Valid as long as the
    engine-side expansion cap is not hit (fixture expansions are small;
    the cap path is pinned by a Spark-only test)."""
    p = prefix.replace("'", "''")
    return _bm25_topk_core(f"starts_with(term, '{p}')", k, k1, b)


def sort_by_field_sql(terms: list[str], k: int, mode: str = "or") -> str:
    """Doc-values-sort oracle: docs matching the boolean query ordered
    by token count (the index's dl doc value) DESC, doc_id ASC."""
    ts = sorted(set(terms))
    having = (f"HAVING count(DISTINCT term) = {len(ts)}"
              if mode == "and" else "")
    return f"""
WITH {TOK_CTE},
m AS (
  SELECT doc_id FROM tok WHERE term IN ({_terms_list(ts)})
  GROUP BY doc_id {having}
),
dl AS (
  SELECT doc_id, count(*)::DOUBLE AS sort_value FROM tok GROUP BY 1
)
SELECT doc_id, sort_value
FROM m JOIN dl USING (doc_id)
ORDER BY sort_value DESC, doc_id ASC
LIMIT {int(k)}
""".strip()


def count_hits_sql(terms: list[str], mode: str = "or") -> str:
    """Total-hits oracle: number of docs matching the boolean query."""
    ts = sorted(set(terms))
    having = (f"HAVING count(DISTINCT term) = {len(ts)}"
              if mode == "and" else "")
    return f"""
WITH {TOK_CTE}
SELECT count(*)::BIGINT AS n_docs FROM (
  SELECT doc_id FROM tok WHERE term IN ({_terms_list(ts)})
  GROUP BY doc_id {having}
)
""".strip()


def fielded_topk_sql(terms: list[str], fields: dict[str, float], k: int,
                     k1: float = BM25_K1, b: float = BM25_B) -> str:
    """Multi-field boosted-BM25 oracle (MultiFieldQueryParser analog):
    one full per-field CTE suite (tok/tf/dl/stats/dfs/scores — each
    field has its OWN statistics, the Lucene per-field layout), then the
    boosted union summed per doc. ``fields`` maps a documents column to
    its boost."""
    tl = _terms_list(sorted(set(terms)))
    ctes, units = [], []
    for col, boost in sorted(fields.items()):
        ctes.append(f"""
tok_{col} AS (
  SELECT doc_id, t.term
  FROM (
    SELECT doc_id, unnest(string_split(lower({col}), ' ')) AS term
    FROM documents
  ) t
  WHERE term <> ''
),
tf_{col} AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok_{col} GROUP BY 1, 2
),
dl_{col} AS (
  SELECT doc_id, count(*)::DOUBLE AS dl FROM tok_{col} GROUP BY 1
),
stats_{col} AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl_{col}
),
dfs_{col} AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf_{col}
  WHERE term IN ({tl}) GROUP BY 1
),
scores_{col} AS (
  SELECT tf.doc_id,
         sum(
           ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({k1} + 1)
           / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / s.avgdl))
         ) AS score
  FROM tf_{col} tf
  JOIN dfs_{col} d USING (term)
  JOIN dl_{col} dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats_{col} s
  GROUP BY tf.doc_id
)""".strip())
        units.append(
            f"SELECT doc_id, score * {float(boost)} AS score "
            f"FROM scores_{col}"
        )
    body = ",\n".join(ctes)
    union = "\n  UNION ALL\n  ".join(units)
    return f"""
WITH {body},
u AS (
  {union}
)
SELECT doc_id, CAST(round(sum(score) * 1e6) AS BIGINT) AS score_u6
FROM u
GROUP BY doc_id
ORDER BY sum(score) DESC, doc_id ASC
LIMIT {int(k)}
""".strip()


def bm25_topk_regexp_sql(pattern: str, k: int,
                         k1: float = BM25_K1, b: float = BM25_B) -> str:
    """Regexp query oracle (Lucene RegexpQuery boolean rewrite): every
    corpus term FULLY matching the anchored pattern scores as its own
    query term. ``regexp_full_match`` mirrors the engine's ``^(?:p)$``
    rlike anchoring; the pattern must stay in the Java/RE2-common
    subset (the engine's documented contract)."""
    p = pattern.replace("'", "''")
    return _bm25_topk_core(f"regexp_full_match(term, '{p}')", k, k1, b)


def spell_suggest_sql(term: str, k: int, max_edits: int = 2) -> str:
    """Spell-suggestion oracle (DirectSpellChecker analog): corpus terms
    within ``max_edits`` Levenshtein edits of ``term`` (input excluded),
    (term, dist, df) ordered dist ASC, df DESC, term ASC."""
    t = term.replace("'", "''")
    return f"""
WITH tok AS (
  SELECT doc_id, t.term
  FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
    FROM documents
  ) t
  WHERE term <> ''
),
terms AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY 1
)
SELECT term, CAST(levenshtein(term, '{t}') AS INT) AS dist, df
FROM terms
WHERE term <> '{t}' AND levenshtein(term, '{t}') <= {int(max_edits)}
ORDER BY dist ASC, df DESC, term ASC
LIMIT {int(k)}
""".strip()


def collapse_topk_sql(terms: list[str], group_col: str, k: int,
                      k1: float = BM25_K1, b: float = BM25_B) -> str:
    """Field-collapsing oracle: BM25-score every doc matching any query
    term (index-wide statistics, same formula as the top-k core), pick
    each non-NULL group value's best doc (score DESC, doc_id ASC), rank
    groups (best score DESC, value ASC), limit k."""
    tl = _terms_list(sorted(set(terms)))
    return f"""
WITH tok AS (
  SELECT doc_id, t.term
  FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
    FROM documents
  ) t
  WHERE term <> ''
),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2
),
dl AS (
  SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1
),
stats AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl
),
dfs AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf WHERE term IN ({tl}) GROUP BY 1
),
scores AS (
  SELECT tf.doc_id,
         sum(
           ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
           * tf.tf * ({k1} + 1)
           / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl))
         ) AS score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
grouped AS (
  SELECT CAST(d.{group_col} AS VARCHAR) AS value, s.doc_id, s.score,
         row_number() OVER (
           PARTITION BY d.{group_col}
           ORDER BY s.score DESC, s.doc_id ASC
         ) AS rn
  FROM scores s JOIN documents d USING (doc_id)
  WHERE d.{group_col} IS NOT NULL
)
SELECT value, doc_id, CAST(round(score * 1e6) AS BIGINT) AS score_u6
FROM grouped
WHERE rn = 1
ORDER BY score DESC, value ASC
LIMIT {int(k)}
""".strip()


def suggest_prefix_sql(prefix: str, k: int) -> str:
    """Prefix-autocomplete oracle: the k highest-df corpus terms
    starting with ``prefix`` — df = docs containing the term, ties
    term ASC (exactly the engine's suggest_terms ordering)."""
    p = prefix.replace("'", "''")
    return f"""
WITH tok AS (
  SELECT doc_id, t.term
  FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
    FROM documents
  ) t
  WHERE term <> ''
)
SELECT term, count(DISTINCT doc_id)::BIGINT AS df
FROM tok
WHERE starts_with(term, '{p}')
GROUP BY 1
ORDER BY df DESC, term ASC
LIMIT {int(k)}
""".strip()


def more_like_this_sql(src_doc_id: int, k: int, max_terms: int,
                       k1: float = BM25_K1, b: float = BM25_B) -> str:
    """MoreLikeThis oracle: interesting terms = the source document's
    distinct terms ranked by tf × idf (idf over the whole corpus,
    quantized to u6 before ordering — matching the engine's
    engine-portable tie-breaks), top ``max_terms`` (u6 DESC, term ASC),
    scored as a multi-term BM25 query with the source doc masked from
    the ranking only (statistics still count it)."""
    src = int(src_doc_id)
    mlt = f"""df_all AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1
),
mlt AS (
  SELECT term FROM (
    SELECT tf.term,
           CAST(round(
             tf.tf * ln(1 + (stats.n_docs - df_all.df + 0.5)
                            / (df_all.df + 0.5)) * 1e6
           ) AS BIGINT) AS s_u6
    FROM tf
    JOIN df_all USING (term)
    CROSS JOIN stats
    WHERE tf.doc_id = {src}
  )
  ORDER BY s_u6 DESC, term ASC
  LIMIT {int(max_terms)}
),
"""
    return _bm25_topk_core("term IN (SELECT term FROM mlt)", k, k1, b,
                           result_where=f"doc_id <> {src}",
                           extra_ctes=mlt)


def train_val_split_sql(val_pct: int) -> str:
    """Deterministic split oracle: identical sha256-prefix bucketing."""
    return f"""
SELECT doc_id,
       CASE WHEN ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 4))
                 ::BIGINT % 100 < {int(val_pct)}
            THEN 'val' ELSE 'train' END AS split
FROM documents
""".strip()


def chunk_documents_sql(chunk_tokens: int, overlap: int,
                        doc_where: str = "") -> str:
    """Context-window chunking oracle: same start grid (0, step, ...),
    inclusive 1-based slice, short trailing chunks kept."""
    c = int(chunk_tokens)
    step = c - int(overlap)
    where = f"WHERE {doc_where}" if doc_where else ""
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents {where}
),
ch AS (
  SELECT doc_id, t,
         unnest(range(0, len(t), {step})) AS s
  FROM toks WHERE len(t) > 0
)
SELECT doc_id,
       CAST(s / {step} AS BIGINT) AS chunk_id,
       array_to_string(t[s + 1:s + {c}], ' ') AS chunk_text,
       CAST(least({c}, len(t) - s) AS BIGINT) AS n_tokens
FROM ch
""".strip()


def chunk_corpus_subquery(chunk_tokens: int, overlap: int,
                          uid_mul: int) -> str:
    """Derived (doc_id, text) table of chunk windows — the chunked
    corpus a RAG index serves; chunk uid = doc_id * uid_mul + chunk_id
    (same composite id as the Spark side)."""
    c = int(chunk_tokens)
    step = c - int(overlap)
    return f"""(
  SELECT doc_id * {int(uid_mul)} + CAST(s / {step} AS BIGINT) AS doc_id,
         array_to_string(t[s + 1:s + {c}], ' ') AS text
  FROM (
    SELECT doc_id, t, unnest(range(0, len(t), {step})) AS s
    FROM (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
      FROM documents
    ) WHERE len(t) > 0
  )
)""".strip()


def bm25_topk_chunks_sql(terms: list[str], k: int, chunk_tokens: int,
                         overlap: int, uid_mul: int,
                         k1: float = BM25_K1, b: float = BM25_B) -> str:
    """Top-k BM25 over the CHUNKED corpus (retrieval-over-chunks, the
    RAG shape): statistics and ranking both live at chunk granularity."""
    tl = _terms_list(sorted(set(terms)))
    return _bm25_topk_core(
        f"term IN ({tl})", k, k1, b,
        corpus=chunk_corpus_subquery(chunk_tokens, overlap, uid_mul),
    )


def snippets_sql(terms: list[str], width: int) -> str:
    """Snippet oracle: window of ``width`` tokens each side of the FIRST
    occurrence of any query term (1-based), space-joined — the exact
    semantics of ``operators.snippet.snippets`` (list_position yields 0
    for absent and least skips NULLs in both engines)."""
    ts = sorted(set(terms))
    ps = [
        "nullif(list_position(t, '" + t.replace("'", "''") + "'), 0)"
        for t in ts
    ]
    pos = ps[0] if len(ps) == 1 else f"least({', '.join(ps)})"
    w = int(width)
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents
),
m AS (
  SELECT doc_id, t, {pos} AS pos FROM toks
)
SELECT doc_id,
       CAST(pos AS BIGINT) AS pos,
       array_to_string(
         t[greatest(1, pos - {w}):least(len(t), pos + {w})], ' '
       ) AS snippet
FROM m WHERE pos IS NOT NULL
""".strip()


def snippets_resolved_sql(terms: list[str], k: int, width: int) -> str:
    """Snippets over the RESOLVED top-k result set (the 10^12-file
    highlighter contract): BM25 top-k ids -> doc store join -> the exact
    window semantics of ``snippets_sql``, evaluated over k rows only."""
    ts = sorted(set(terms))
    ps = [
        "nullif(list_position(t, '" + t.replace("'", "''") + "'), 0)"
        for t in ts
    ]
    pos = ps[0] if len(ps) == 1 else f"least({', '.join(ps)})"
    w = int(width)
    inner = bm25_topk_sql(terms, k)
    return f"""
WITH topk AS ({inner}),
toks AS (
  SELECT d.doc_id, topk.score_u6,
         list_filter(string_split(lower(d.text), ' '), x -> x <> '') AS t
  FROM documents d JOIN topk ON d.doc_id = topk.doc_id
),
m AS (
  SELECT doc_id, score_u6, t, {pos} AS pos FROM toks
)
SELECT doc_id, score_u6,
       CAST(pos AS BIGINT) AS pos,
       array_to_string(
         t[greatest(1, pos - {w}):least(len(t), pos + {w})], ' '
       ) AS snippet
FROM m WHERE pos IS NOT NULL
""".strip()


def bm25_topk_search_sql(bare: list[str], prefixes: list[str],
                         must: list[str], must_not: list[str], k: int,
                         k1: float = BM25_K1, b: float = BM25_B) -> str:
    """Simple-syntax search oracle: bare terms + prefix expansions score
    (should), must/must_not are the BooleanQuery filter clauses. Valid
    while the engine-side expansion cap is not hit (same caveat as the
    prefix oracle)."""
    preds = []
    if bare:
        preds.append(f"term IN ({_terms_list(sorted(set(bare)))})")
    for p in sorted(set(prefixes)):
        preds.append("starts_with(term, '" + p.replace("'", "''") + "')")
    conds = []
    if must:
        ms = sorted(set(must))
        conds.append(
            f"doc_id IN (SELECT doc_id FROM tok "
            f"WHERE term IN ({_terms_list(ms)}) "
            f"GROUP BY doc_id HAVING count(DISTINCT term) = {len(ms)})"
        )
    if must_not:
        conds.append(
            f"doc_id NOT IN (SELECT doc_id FROM tok "
            f"WHERE term IN ({_terms_list(sorted(set(must_not)))}))"
        )
    return _bm25_topk_core(f"({' OR '.join(preds)})", k, k1, b,
                           result_where=" AND ".join(conds))


def facet_counts_sql(terms: list[str], facet_col: str, k: int,
                     mode: str = "or") -> str:
    """Facet oracle: top-k facet values (count DESC, value ASC) among
    docs matching the boolean query."""
    ts = sorted(set(terms))
    tl = _terms_list(ts)
    having = (f"HAVING count(DISTINCT term) = {len(ts)}"
              if mode == "and" else "")
    return f"""
WITH {TOK_CTE},
m AS (
  SELECT doc_id FROM tok WHERE term IN ({tl}) GROUP BY doc_id {having}
)
SELECT CAST(d.{facet_col} AS VARCHAR) AS value,
       count(*) AS n_docs
FROM documents d JOIN m USING (doc_id)
GROUP BY 1
ORDER BY n_docs DESC, value ASC NULLS LAST
LIMIT {k}
""".strip()


def bm25_topk_boolean_sql(should: list[str], k: int,
                          must: list[str] | tuple = (),
                          must_not: list[str] | tuple = (),
                          k1: float = BM25_K1, b: float = BM25_B) -> str:
    """BooleanQuery oracle: should terms score (index-wide statistics),
    must restricts the RANKING to docs containing ALL of them, must_not
    excludes docs containing ANY — filter clauses never change scores
    (Lucene non-scoring clause semantics)."""
    conds = []
    if must:
        ms = sorted(set(must))
        conds.append(
            f"doc_id IN (SELECT doc_id FROM tok "
            f"WHERE term IN ({_terms_list(ms)}) "
            f"GROUP BY doc_id HAVING count(DISTINCT term) = {len(ms)})"
        )
    if must_not:
        conds.append(
            f"doc_id NOT IN (SELECT doc_id FROM tok "
            f"WHERE term IN ({_terms_list(sorted(set(must_not)))}))"
        )
    tl = _terms_list(sorted(set(should)))
    return _bm25_topk_core(f"term IN ({tl})", k, k1, b,
                           result_where=" AND ".join(conds))


def bm25_explain_sql(terms: list[str],
                     k1: float = BM25_K1, b: float = BM25_B) -> str:
    """Score-explanation oracle: per-term BM25 components for the
    deterministic top-1 doc of the query (score DESC, doc_id ASC) —
    tf / df as integers, idf / contribution rounded at 1e-6 like the
    top-k score hashes."""
    tl = _terms_list(sorted(set(terms)))
    return f"""
WITH tok AS (
  SELECT doc_id, t.term
  FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
    FROM documents
  ) t
  WHERE term <> ''
),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2
),
dl AS (
  SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1
),
stats AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl
),
dfs AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf WHERE term IN ({tl}) GROUP BY 1
),
scores AS (
  SELECT tf.doc_id,
         sum(
           ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
           * tf.tf * ({k1} + 1)
           / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl))
         ) AS score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
top1 AS (
  SELECT doc_id FROM scores ORDER BY score DESC, doc_id ASC LIMIT 1
)
SELECT tf.term,
       CAST(tf.tf AS BIGINT) AS tf,
       CAST(dfs.df AS BIGINT) AS df,
       CAST(round(ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
                  * 1e6) AS BIGINT) AS idf_u6,
       CAST(round(ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
                  * tf.tf * ({k1} + 1)
                  / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl))
                  * 1e6) AS BIGINT) AS contrib_u6
FROM tf
JOIN dfs USING (term)
JOIN dl ON tf.doc_id = dl.doc_id
CROSS JOIN stats
WHERE tf.doc_id = (SELECT doc_id FROM top1)
ORDER BY tf.term
""".strip()


def bm25_topk_wildcard_sql(pattern: str, k: int,
                           k1: float = BM25_K1, b: float = BM25_B) -> str:
    """Wildcard query oracle: the pattern's anchored-regex translation
    (same string the engine hands to Spark ``rlike`` — metachars escaped
    individually so Java and RE2 parse it identically) selects the
    scoring terms; the boolean rewrite of Lucene's WildcardQuery."""
    from ..operators.wand import wildcard_regex

    rx = wildcard_regex(pattern).replace("'", "''")
    return _bm25_topk_core(f"regexp_matches(term, '{rx}')", k, k1, b)


def bm25_topk_fuzzy_sql(term: str, max_edits: int, k: int,
                        k1: float = BM25_K1, b: float = BM25_B) -> str:
    """Fuzzy query oracle: every corpus term within ``max_edits``
    Levenshtein edits scores as its own query term (DuckDB and Spark
    both implement plain unweighted edit distance — cross-checked by the
    engine-vs-oracle hash gate)."""
    t = str(term).replace("'", "''")
    return _bm25_topk_core(
        f"levenshtein(term, '{t}') <= {int(max_edits)}", k, k1, b
    )


def bm25_topk_deleted_sql(terms: list[str], k: int, del_pred_sql: str,
                          k1: float = BM25_K1, b: float = BM25_B) -> str:
    """Masked-delete oracle: docs matching ``del_pred_sql`` are excluded
    from the RANKING but still count in n_docs/avgdl/df — the tombstone
    semantics between ``delete_docs`` and compaction."""
    tl = _terms_list(sorted(set(terms)))
    return _bm25_topk_core(f"term IN ({tl})", k, k1, b,
                           result_where=f"NOT ({del_pred_sql})")


def bm25_topk_purged_sql(terms: list[str], k: int, del_pred_sql: str,
                         k1: float = BM25_K1, b: float = BM25_B) -> str:
    """Purged-delete oracle: docs matching ``del_pred_sql`` are gone from
    the corpus entirely — statistics recompute over the survivors. This
    is the post-``compact_index`` semantics of a tombstoned index."""
    tl = _terms_list(sorted(set(terms)))
    return _bm25_topk_core(f"term IN ({tl})", k, k1, b,
                           doc_where=f"NOT ({del_pred_sql})")


def bm25_topk_after_sql(terms: list[str], k: int, page: int = 2,
                        k1: float = BM25_K1, b: float = BM25_B) -> str:
    """searchAfter oracle: page ``page`` of the ranking = rows
    (page-1)*k+1 .. page*k under (score DESC, doc_id ASC) — what the
    engine's (score, doc_id) cursor must reproduce without a deep heap.
    Standalone rather than on ``_bm25_topk_core``: the final select is a
    rank WINDOW over the scores CTE, not the core's ORDER-BY-LIMIT."""
    tl = _terms_list(sorted(set(terms)))
    lo, hi = (int(page) - 1) * int(k), int(page) * int(k)
    return f"""
WITH {TOK_CTE},
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2
),
dl AS (
  SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1
),
stats AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl
),
dfs AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf WHERE term IN ({tl}) GROUP BY 1
),
scores AS (
  SELECT tf.doc_id,
         sum(
           ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
           * tf.tf * ({k1} + 1)
           / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl))
         ) AS score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
  FROM scores
)
SELECT doc_id, CAST(round(score * 1e6) AS BIGINT) AS score_u6
FROM ranked
WHERE rn > {lo} AND rn <= {hi}
ORDER BY score DESC, doc_id ASC
""".strip()


def bm25_topk_msm_sql(terms: list[str], m: int, k: int,
                      k1: float = BM25_K1, b: float = BM25_B) -> str:
    """minimum-should-match oracle: only docs matching >= ``m`` distinct
    query terms rank; score is the usual per-term BM25 sum over their
    matched terms (index-wide statistics). Rides the shared skeleton via
    the ``scores_having`` seam (tf has one row per distinct (doc, term),
    so count(*) is the distinct matched-term count)."""
    tl = _terms_list(sorted(set(terms)))
    return _bm25_topk_core(f"term IN ({tl})", k, k1, b,
                           scores_having=f"count(*) >= {int(m)}")


def bm25_topk_synonym_sql(groups: list[list[str]], k: int,
                          k1: float = BM25_K1, b: float = BM25_B) -> str:
    """SynonymQuery oracle: each group scores as ONE pseudo-term —
    tf = sum of member tfs in the doc, df = max of member dfs (Lucene's
    blended docFreq). Standalone rather than on ``_bm25_topk_core``:
    the scores CTE aggregates GROUP-blended (gtf/gdf) inputs, a
    structurally different skeleton."""
    pairs = sorted({(str(t), gi) for gi, g in enumerate(groups)
                    for t in g})
    vals = ", ".join(f"('{t.replace(chr(39), chr(39) * 2)}', {gi})"
                     for t, gi in pairs)
    tl = _terms_list(sorted({t for t, _ in pairs}))
    return f"""
WITH {TOK_CTE},
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2
),
dl AS (
  SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1
),
stats AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl
),
syn AS (
  SELECT * FROM (VALUES {vals}) v(term, grp)
),
dfs AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf WHERE term IN ({tl}) GROUP BY 1
),
gdf AS (
  SELECT syn.grp, max(dfs.df) AS df FROM dfs JOIN syn USING (term) GROUP BY 1
),
gtf AS (
  SELECT tf.doc_id, syn.grp, sum(tf.tf) AS tf
  FROM tf JOIN syn USING (term) GROUP BY 1, 2
),
scores AS (
  SELECT gtf.doc_id,
         sum(
           ln(1 + (stats.n_docs - gdf.df + 0.5) / (gdf.df + 0.5))
           * gtf.tf * ({k1} + 1)
           / (gtf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl))
         ) AS score
  FROM gtf
  JOIN gdf USING (grp)
  JOIN dl ON gtf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY gtf.doc_id
)
SELECT doc_id, CAST(round(score * 1e6) AS BIGINT) AS score_u6
FROM scores
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def facet_ranges_sql(terms: list[str], width: float,
                     mode: str = "or") -> str:
    """Range-facet oracle over the ``dl`` doc value (token count):
    floor(dl / width) * width buckets of docs matching the boolean
    query, (bucket_lo, n_docs) per non-empty bucket, bucket ASC."""
    ts = sorted(set(terms))
    tl = _terms_list(ts)
    having = (f"HAVING count(DISTINCT term) = {len(ts)}"
              if mode == "and" else "")
    w = float(width)
    return f"""
WITH {TOK_CTE},
m AS (
  SELECT doc_id FROM tok WHERE term IN ({tl}) GROUP BY doc_id {having}
),
dl AS (
  SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1
)
SELECT floor(dl.dl / {w}) * {w} AS bucket_lo,
       count(*) AS n_docs
FROM m JOIN dl USING (doc_id)
GROUP BY 1
ORDER BY bucket_lo ASC
""".strip()


def date_histogram_sql(event_type: str) -> str:
    """Date-histogram oracle: per-day event counts + distinct users for
    one event type (Elasticsearch ``date_histogram`` aggregation analog;
    string day + integer counts only — engine-portable encodings,
    order-independent aggregates)."""
    et = event_type.replace("'", "''")
    return f"""
SELECT strftime(ts, '%Y-%m-%d') AS day,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users
FROM events
WHERE event_type = '{et}'
GROUP BY 1
ORDER BY day ASC
""".strip()


def index_stats_sql() -> str:
    """Manifest-metrics oracle: the engine answers from checkpointed
    build metrics (manifest row_count / sum_dl per segment); this
    recomputes both from the raw corpus with the same ws analyzer."""
    return f"""
WITH {TOK_CTE}
SELECT (SELECT count(*) FROM documents) AS n_docs,
       (SELECT count(*) FROM tok) AS sum_dl
""".strip()


def bm25_topk_boosted_sql(weights: dict, k: int,
                          k1: float = BM25_K1, b: float = BM25_B) -> str:
    """BoostQuery oracle: each term's BM25 contribution multiplied by
    its query boost (idf scaling, Lucene BoostQuery semantics).
    Standalone rather than on ``_bm25_topk_core``: the boost joins a
    VALUES weight map INTO the score expression, a seam the core's
    scores CTE does not carry."""
    pairs = sorted((str(t), float(w)) for t, w in weights.items())
    vals = ", ".join(
        f"('{t.replace(chr(39), chr(39) * 2)}', {w!r})" for t, w in pairs)
    tl = _terms_list([t for t, _ in pairs])
    return f"""
WITH {TOK_CTE},
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2
),
dl AS (
  SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1
),
stats AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl
),
bst AS (
  SELECT * FROM (VALUES {vals}) v(term, w)
),
dfs AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf WHERE term IN ({tl}) GROUP BY 1
),
scores AS (
  SELECT tf.doc_id,
         sum(
           bst.w * ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
           * tf.tf * ({k1} + 1)
           / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl))
         ) AS score
  FROM tf
  JOIN dfs USING (term)
  JOIN bst ON bst.term = tf.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, CAST(round(score * 1e6) AS BIGINT) AS score_u6
FROM scores
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def bm25_topk_phrase_sql(phrase: list[str], k: int,
                         k1: float = BM25_K1, b: float = BM25_B) -> str:
    """Scored PhraseQuery oracle (Lucene PhraseQuery ranking): docs
    containing the exact phrase, scored
    [sum over phrase positions of idf(term)] * tf_sat(n_occ, dl) —
    the summed constituent-term idf weights the PHRASE frequency
    (duplicated terms contribute once per position, as Lucene's
    Similarity receives one TermStatistics per phrase term; a term
    absent from the corpus contributes idf(df=0), as in the engine)."""
    n = len(phrase)
    conds = " AND ".join(
        f"t[i + {j}] = '" + t.replace("'", "''") + "'"
        for j, t in enumerate(phrase)
    )
    tl = _terms_list(sorted(set(phrase)))
    pv = ", ".join(
        f"({i}, '" + t.replace("'", "''") + "')"
        for i, t in enumerate(phrase)
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents
),
occ AS (
  SELECT doc_id, len(t)::DOUBLE AS dl,
         CASE WHEN len(t) >= {n} THEN
           CAST(len(list_filter(range(1, len(t) - {n - 2}),
                                i -> {conds})) AS BIGINT)
         ELSE 0 END AS n_occ
  FROM toks
),
dl AS (
  SELECT doc_id, len(t)::DOUBLE AS dl FROM toks WHERE len(t) > 0
),
stats AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl
),
tf AS (
  SELECT doc_id, t.term FROM (
    SELECT doc_id, unnest(t) AS term FROM toks
  ) t
),
dfs AS (
  SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
  FROM tf WHERE term IN ({tl}) GROUP BY 1
),
pp AS (
  SELECT * FROM (VALUES {pv}) v(pos, term)
),
widf AS (
  SELECT sum(ln(1 + (stats.n_docs - coalesce(dfs.df, 0) + 0.5)
                  / (coalesce(dfs.df, 0) + 0.5)))
         AS idf_total
  FROM pp LEFT JOIN dfs USING (term) CROSS JOIN stats
),
scores AS (
  SELECT occ.doc_id,
         widf.idf_total * occ.n_occ * ({k1} + 1)
         / (occ.n_occ + {k1} * (1 - {b} + {b} * occ.dl / stats.avgdl))
         AS score
  FROM occ CROSS JOIN widf CROSS JOIN stats
  WHERE occ.n_occ > 0
)
SELECT doc_id, CAST(round(score * 1e6) AS BIGINT) AS score_u6
FROM scores
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def bm25_topk_near_sql(terms: list[str], slop: int, k: int,
                       k1: float = BM25_K1, b: float = BM25_B) -> str:
    """Scored sloppy-phrase oracle: ordered-proximity tuple count as tf,
    summed constituent-term idf as weight — the ``slop`` variant of
    :func:`bm25_topk_phrase_sql` over the shared tuple-count body."""
    body = _near_occ_body(terms, slop)
    tl = _terms_list(sorted(set(terms)))
    pv = ", ".join(
        f"({i}, '" + t.replace("'", "''") + "')"
        for i, t in enumerate(terms)
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents
),
occ AS (
  SELECT doc_id, len(t)::DOUBLE AS dl, CAST({body} AS BIGINT) AS n_occ
  FROM toks
),
dl AS (
  SELECT doc_id, len(t)::DOUBLE AS dl FROM toks WHERE len(t) > 0
),
stats AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl
),
tf AS (
  SELECT doc_id, t.term FROM (
    SELECT doc_id, unnest(t) AS term FROM toks
  ) t
),
dfs AS (
  SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
  FROM tf WHERE term IN ({tl}) GROUP BY 1
),
pp AS (
  SELECT * FROM (VALUES {pv}) v(pos, term)
),
widf AS (
  SELECT sum(ln(1 + (stats.n_docs - coalesce(dfs.df, 0) + 0.5)
                  / (coalesce(dfs.df, 0) + 0.5)))
         AS idf_total
  FROM pp LEFT JOIN dfs USING (term) CROSS JOIN stats
),
scores AS (
  SELECT occ.doc_id,
         widf.idf_total * occ.n_occ * ({k1} + 1)
         / (occ.n_occ + {k1} * (1 - {b} + {b} * occ.dl / stats.avgdl))
         AS score
  FROM occ CROSS JOIN widf CROSS JOIN stats
  WHERE occ.n_occ > 0
)
SELECT doc_id, CAST(round(score * 1e6) AS BIGINT) AS score_u6
FROM scores
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()
