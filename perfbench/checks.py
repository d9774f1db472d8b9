"""Output checks: every op's result against an independent answer.

Catalog entries and pipeline outputs are compared with DuckDB the way
``scripts/check_oracle.py`` compares (its ``row_set`` canonical form,
imported unchanged), with a relative tolerance as a second chance for
double sums that two engines add up in different orders. Index queries
are checked against a first-principles BM25 over the documents that
survive at query time, written with the catalog's own ``_TOKS``/``_SCORE``
DuckDB fragments. ``minhash_neardup``, whose DuckDB oracle is all-pairs
brute force (too slow past fixture scale), is recomputed here instead,
the way ``check_oracle.GOLDEN_CHECKS`` does for non-SQL entries.
"""

from __future__ import annotations

import math

import duckdb
import pyarrow as pa

from check_oracle import canon, row_set
from etl_mark1_spark.catalog import ORACLE
from etl_mark1_spark.catalog.query_side import _SCORE, _TOKS

#: relative tolerance for doubles the engines sum in different orders
REL_TOL = 1e-9


def connect(tables: dict[str, str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{path}')")
    return con


def fetch(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, (int, float)) or \
            isinstance(b, float) and isinstance(a, (int, float)):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)
    return canon(a) == canon(b)


def same_rows(cols_a: list[str], rows_a: list[tuple],
              cols_b: list[str], rows_b: list[tuple]) -> bool:
    """Order-insensitive equality of two result sets: check_oracle's exact
    canonical row set first, then row-by-row with doubles compared to
    REL_TOL (rows ordered by their non-double values, then
    the doubles)."""
    if sorted(cols_a) != sorted(cols_b) or len(rows_a) != len(rows_b):
        return False
    if row_set(cols_a, rows_a) == row_set(cols_b, rows_b):
        return True

    def ordered(cols, rows):
        idx = sorted(range(len(cols)), key=lambda i: cols[i])
        out = [tuple(r[i] for i in idx) for r in rows]
        return sorted(out, key=lambda r: (
            [canon(v) for v in r if not isinstance(v, float)],
            [v for v in r if isinstance(v, float)]))

    return all(len(x) == len(y) and all(map(_close, x, y))
               for x, y in zip(ordered(cols_a, rows_a),
                               ordered(cols_b, rows_b)))


# -- index queries: first-principles BM25 over surviving documents -------

def _quote(terms) -> str:
    return ", ".join("'" + t.replace("'", "''") + "'" for t in terms)


def bm25_sql(terms: list[str]) -> str:
    """Exhaustive BM25 top-10 (the answer MaxScore must also return)."""
    return f"""
    WITH {_TOKS},
    q AS (SELECT * FROM toks WHERE tok IN ({_quote(terms)})),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM q GROUP BY 1, 2),
    dft AS (SELECT tok, count(DISTINCT doc_id) AS df FROM q GROUP BY 1)
    {_SCORE}
    GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10"""


def query_string_sql(must: list[str], should: list[str],
                     must_not: list[str]) -> str:
    """``+must should -must_not``: candidates hold every must term and no
    must_not term; BM25 over must + should with df counted before the
    candidate restriction."""
    pos = must + [t for t in should if t not in must]
    excl = (f"AND doc_id NOT IN (SELECT doc_id FROM toks "
            f"WHERE tok IN ({_quote(must_not)}))") if must_not else ""
    return f"""
    WITH {_TOKS},
    q AS (SELECT * FROM toks WHERE tok IN ({_quote(pos)})),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM q GROUP BY 1, 2),
    dft AS (SELECT tok, count(DISTINCT doc_id) AS df FROM q GROUP BY 1),
    cand AS (SELECT doc_id FROM toks WHERE tok IN ({_quote(must)})
             GROUP BY doc_id HAVING count(DISTINCT tok) = {len(must)})
    {_SCORE}
    WHERE doc_id IN (SELECT doc_id FROM cand) {excl}
    GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10"""


def prf_sql(term: str, fb_docs: int = 5, fb_terms: int = 3,
            beta: float = 0.5) -> str:
    """The ``prf_search_docs`` oracle with the seeded term: first-pass
    BM25 picks the feedback docs, their top summed-tf·idf terms rejoin
    the query at weight ``beta``. The expansion terms' df counts every
    document of the index's segments, deleted or not (the view
    ``indexed``): the engine ranks them by its dictionary, whose df is
    the ingest-time count until a compaction applies the tombstones."""
    t = _quote([term])
    return f"""
    WITH {_TOKS},
    q1 AS (SELECT * FROM toks WHERE tok = {t}),
    tf1 AS (SELECT doc_id, count(*) AS tf FROM q1 GROUP BY 1),
    df1 AS (SELECT count(DISTINCT doc_id) AS df FROM q1),
    fb AS (SELECT doc_id FROM (
              SELECT t1.doc_id,
                     round(ln(1 + (n - df + 0.5) / (df + 0.5))
                           * tf * 2.2
                           / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)),
                           6) AS bm25
              FROM tf1 t1 JOIN dl ON t1.doc_id = dl.doc_id, df1, stats)
           ORDER BY bm25 DESC, doc_id LIMIT {fb_docs}),
    dfall AS (SELECT tok, count(DISTINCT doc_id) AS df FROM (
                SELECT doc_id,
                       unnest(list_filter(string_split_regex(
                           lower(text), '\\s+'), x -> x <> '')) AS tok
                FROM indexed) GROUP BY 1),
    fbtf AS (SELECT tok, count(*) AS stf FROM toks
             WHERE doc_id IN (SELECT doc_id FROM fb) AND tok <> {t}
             GROUP BY 1),
    exp AS (SELECT tok FROM (
               SELECT e.tok,
                      round(e.stf * ln(1 + (n - f.df + 0.5)
                                       / (f.df + 0.5)), 6) AS w
               FROM fbtf e JOIN dfall f USING (tok), stats)
            ORDER BY w DESC, tok LIMIT {fb_terms}),
    qt AS (SELECT {t} AS tok, 1.0 AS w
           UNION ALL SELECT tok, {beta} AS w FROM exp),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
           WHERE tok IN (SELECT tok FROM qt) GROUP BY 1, 2),
    dft AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks
            WHERE tok IN (SELECT tok FROM qt) GROUP BY 1)
    SELECT doc_id,
           round(sum(w * ln(1 + (n - df + 0.5) / (df + 0.5))
                     * tf * 2.2
                     / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))),
                 6) AS bm25
    FROM tf JOIN dl USING (doc_id) JOIN dft USING (tok)
         JOIN qt USING (tok), stats
    GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10"""


def index_query_sql(spec: dict) -> str:
    kind = spec["query"]
    if kind in ("bm25", "maxscore"):
        return bm25_sql(spec["terms"])
    if kind == "query_string":
        return query_string_sql(spec["must"], spec["should"],
                                spec["must_not"])
    if kind == "prf":
        return prf_sql(spec["terms"][0])
    raise ValueError(f"unknown query kind {kind!r}")


def ranked_equal(got: list[tuple], want: list[tuple]) -> bool:
    """Same documents, each score within 1e-6 (both sides round to 6dp)."""
    g, w = dict(got), dict(want)
    return g.keys() == w.keys() and all(
        abs(g[k] - w[k]) <= 1e-6 for k in w)


# -- catalog entries checked by recomputation ---------------------------

def _norm(text: str) -> str:
    return " ".join(text.lower().split())


#: shared prefix tokens a candidate pair needs (the l-prefix filter)
PREFIX_SHARED = 8


def minhash_clusters(docs: dict[int, str], k: int = 5,
                     threshold: float = 0.8) -> dict[int, int]:
    """``minhash_neardup``'s exact answer: connected components (min-id
    label) of the graph joining documents whose k-char shingle sets have
    Jaccard >= threshold. Candidates come from an l-prefix filter: with
    tokens in one global (frequency, token) order, two sets with Jaccard
    >= t overlap in >= ceil(t * |s|) tokens for either set s, so their
    first |s| - ceil(t * |s|) + l tokens share at least l tokens. DuckDB
    joins the prefixes; every candidate is then verified exactly."""
    sets = {}
    for i, text in docs.items():
        nt = _norm(text)
        sets[i] = {nt[j:j + k] for j in range(max(len(nt) - k + 1, 1))}
    ids = [i for i, s in sets.items() for _ in s]
    grams = [g for s in sets.values() for g in s]
    con = duckdb.connect()
    con.register("sh", pa.table({"doc_id": ids, "g": grams}))
    cand = con.execute(f"""
        WITH fr AS (SELECT g, count(*) AS f FROM sh GROUP BY g),
        sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        pre AS (SELECT doc_id, g, n FROM (
            SELECT doc_id, g, n, row_number() OVER (
                PARTITION BY doc_id ORDER BY f, g) AS rk
            FROM sh JOIN fr USING (g) JOIN sz USING (doc_id))
          WHERE rk <= n - ceil({threshold} * n) + {PREFIX_SHARED})
        SELECT a.doc_id, b.doc_id FROM pre a JOIN pre b
          ON a.g = b.g AND a.doc_id < b.doc_id
        WHERE least(a.n, b.n) >= {threshold} * greatest(a.n, b.n)
        GROUP BY a.doc_id, b.doc_id, a.n, b.n
        HAVING count(*) >= least({PREFIX_SHARED},
                                 ceil({threshold} * greatest(a.n, b.n)))
        """).fetchall()
    con.close()
    parent = {i: i for i in sets}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, j in cand:
        inter = len(sets[i] & sets[j])
        if inter / (len(sets[i]) + len(sets[j]) - inter) >= threshold:
            a, b = find(i), find(j)
            parent[max(a, b)] = min(a, b)
    return {i: find(i) for i in sets}


def text_expected(con, entry: str, docs: dict[int, str]
                  ) -> tuple[list[str], list[tuple]]:
    if entry == "minhash_neardup":
        labels = minhash_clusters(docs)
        return ["doc_id", "cluster_id"], sorted(labels.items())
    return fetch(con, ORACLE[entry])
