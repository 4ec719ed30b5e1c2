"""Correctness checks, all evaluated on DuckDB over the generated Parquet
and run outside the timed region.

- migrate/resume: the sink's CSV rows must equal, as a multiset, the
  spec's filters + join chain + projection evaluated by DuckDB.
- curate: each query's rows must hash-match its registry oracle under
  the registry's exactness conventions (order-insensitive, columns
  matched by name, doubles compared at 9 decimals).
"""

from __future__ import annotations

import hashlib
import math

import duckdb

SINK_COLUMNS = {
    "customer_id": "BIGINT", "customer_name": "VARCHAR",
    "order_key": "BIGINT", "order_total": "DOUBLE", "extended_price": "DOUBLE",
}


def connect(tables: dict[str, str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name, path in tables.items():
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def migrate_oracle_sql(filters: dict[str, str]) -> str:
    """The migrate spec's transform, written independently in SQL."""
    return f"""
    SELECT c.c_custkey AS customer_id, c.c_name AS customer_name,
           o.o_orderkey AS order_key, o.o_totalprice AS order_total,
           l.l_extendedprice AS extended_price
    FROM (SELECT * FROM customer WHERE {filters['customer']}) c
    JOIN (SELECT * FROM orders WHERE {filters['orders']}) o
      ON c.c_custkey = o.o_custkey
    JOIN (SELECT * FROM lineitem WHERE {filters['lineitem']}) l
      ON o.o_orderkey = l.l_orderkey"""


def sink_sql(sink_dir: str) -> str:
    return (f"SELECT * FROM read_csv('{sink_dir}/*.csv', header=true, "
            f"columns={SINK_COLUMNS!r})")


def multiset_diff(con: duckdb.DuckDBPyConnection, left_sql: str,
                  right_sql: str) -> tuple[int, int, int]:
    """(rows of left, rows only in left, rows only in right), counting
    duplicates: both difference counts are 0 iff the multisets match."""
    return con.sql(f"""
        WITH l AS MATERIALIZED ({left_sql}), r AS MATERIALIZED ({right_sql})
        SELECT (SELECT count(*) FROM l),
               (SELECT count(*) FROM (SELECT * FROM l EXCEPT ALL SELECT * FROM r)),
               (SELECT count(*) FROM (SELECT * FROM r EXCEPT ALL SELECT * FROM l))
    """).fetchone()


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------

def _cell(v):
    # (is_null, value) keeps NULLs sortable against any column type
    if v is None:
        return (True, "")
    if isinstance(v, float):
        return (False, "NaN") if math.isnan(v) else (False, round(v, 9))
    return (False, v)


def result_digest(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result: columns sorted by name,
    rows normalized and sorted, then hashed with the row count."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = sorted(tuple(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    h.update(repr(len(norm)).encode())
    for r in norm:
        h.update(repr(r).encode())
    return h.hexdigest()


# The registry oracle for dedup_ngram_jaccard verifies every pair that
# shares any shingle with list_intersect; on this corpus that is ~10^6
# candidate pairs and takes minutes on DuckDB. This is the same
# definition computed as the Spark operator does it: |A ∩ B| is the
# number of shingles a pair shares (shingle lists are distinct per
# document), so the threshold needs only per-document set sizes. The
# helper tests prove it equal to the registry oracle on a 330-document
# corpus.
def ngram_jaccard_sql() -> str:
    from oracle_cassandra_migrator_spark.queries.extensions import _SHINGLE_CTE

    return f"""
    WITH {_SHINGLE_CTE},
    ex AS (SELECT doc_id, unnest(shingles) AS tok, len(shingles) AS n FROM sh),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     count(*) AS k, any_value(a.n) AS na, any_value(b.n) AS nb
              FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b, round(CAST(k AS DOUBLE) / (na + nb - k), 6) AS jaccard
    FROM inter WHERE CAST(k AS DOUBLE) / (na + nb - k) >= 0.5
    """


def curate_oracle_sql(name: str) -> str:
    from oracle_cassandra_migrator_spark.queries import ORACLES

    return ngram_jaccard_sql() if name == "dedup_ngram_jaccard" else ORACLES[name]


def curate_expected(con: duckdb.DuckDBPyConnection, names: list[str]) -> dict[str, str]:
    """Query name -> digest of its oracle's result."""
    out = {}
    for name in names:
        rel = con.sql(curate_oracle_sql(name))
        out[name] = result_digest([d[0] for d in rel.description], rel.fetchall())
    return out
