"""Correctness checks, run after the timed window.

Every check reduces both sides to the canonical digest of the engine's
oracle-parity test (row count, sorted column names, order-insensitive value
hash), so a mismatch means different rows, not a different rendering.
"""

from __future__ import annotations

import datetime as dt

import duckdb

from servihabitat_etl_spyke_spark.catalog import TABLES
from tests.test_oracle_parity import table_digest

CUSTOMER_VISIBLE = "c_custkey, c_name, c_nationkey, c_mktsegment"
_ID = {"orders": "o_orderkey", "customer": "c_custkey",
       "documents": "doc_id", "events": "event_id"}
_DOC_SEARCH = ("CAST(doc_id AS VARCHAR)", "text", "lang", "source")


def _lit(v) -> str:
    if isinstance(v, dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def autoapi_sql(kind: str, p: dict) -> tuple[str, str | None]:
    """DuckDB query equivalent to one AutoAPI request: (items SQL, total
    SQL or None). Pages order by the requested key with the id tiebreak,
    as the list-query contract defines."""
    n = 25
    if kind == "eq_page":
        where = f"WHERE CAST(o_orderstatus AS VARCHAR) = {_lit(p['status'])}"
        return (f"SELECT * FROM orders {where} ORDER BY o_totalprice DESC, "
                f"o_orderkey LIMIT {n} OFFSET {n * p['page']}",
                f"SELECT count(*) FROM orders {where}")
    if kind == "range_list":
        c = p["column"]
        return (f"SELECT * FROM orders WHERE {c} >= {_lit(p['from'])} AND "
                f"{c} <= {_lit(p['to'])} ORDER BY o_orderkey LIMIT {n}", None)
    if kind == "tag_search":
        return (f"SELECT {CUSTOMER_VISIBLE} FROM customer WHERE "
                f"lower(c_mktsegment) = {_lit(p['segment'].lower())} "
                f"ORDER BY c_custkey LIMIT {n}", None)
    if kind == "free_text":
        q = _lit(p["text"].lower())
        pred = " OR ".join(f"contains(lower({c}), {q})" for c in _DOC_SEARCH)
        return (f"SELECT * FROM documents WHERE {pred} ORDER BY doc_id "
                f"LIMIT {n}", None)
    if kind == "group_options":
        k = p["key"]
        return (f"SELECT DISTINCT {k} AS option FROM orders ORDER BY option "
                f"LIMIT 100", None)
    if kind == "deep_page":
        return (f"SELECT * FROM events ORDER BY ts DESC, event_id "
                f"LIMIT {n} OFFSET {n * p['page']}", None)
    if kind == "point_read":
        m = p["model"]
        cols = CUSTOMER_VISIBLE if m == "customer" else "*"
        return f"SELECT {cols} FROM {m} WHERE {_ID[m]} = {p['id']}", None
    raise ValueError(f"unknown template {kind!r}")


def duckdb_run(sql: str, tables_dir: str) -> tuple[list[str], list[tuple]]:
    """Run ``sql`` once over the parquet tables in ``tables_dir``."""
    with duckdb.connect() as con:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{tables_dir}/{t}.parquet'")
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()


def rows_digest(cols: list[str], rows) -> tuple:
    return table_digest(list(cols), [tuple(r) for r in rows])


def dict_rows_digest(rows: list[dict]) -> tuple:
    """Digest of dict rows that all share one key set."""
    cols = sorted(rows[0]) if rows else []
    return table_digest(cols, [tuple(r[c] for c in cols) for r in rows])
