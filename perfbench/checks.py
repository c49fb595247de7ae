"""Result fingerprints and the expected values they are checked against.

A fingerprint is what the repository's correctness gate compares: the row
count plus an order-insensitive hash of the values, taken after
``tests/oracle_utils.normalize`` (columns sorted by name, dtypes
canonicalised, rows sorted). Expected fingerprints come from each
registry query's DuckDB oracle over the same generated parquet tables.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from tests.oracle_utils import duckdb_conn, normalize


def fingerprint(pdf: pd.DataFrame) -> dict:
    norm = normalize(pdf)
    h = hashlib.sha256()
    h.update(repr([(c, str(t)) for c, t in norm.dtypes.items()]).encode())
    if len(norm):
        h.update(pd.util.hash_pandas_object(norm, index=False).values.tobytes())
    return {"rows": int(len(norm)), "hash": h.hexdigest()}


#: Oracle of the month-pruned reads of the published fact: the fact has
#: one row per lineitem, partitioned by its order's month.
MONTH_COUNTS_SQL = """
    SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER) AS order_month,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1"""


def expected_fingerprints(data_dir: str, oracles: dict[str, str]) -> dict[str, dict]:
    con = duckdb_conn(data_dir)
    try:
        return {name: fingerprint(con.execute(sql).fetchdf()) for name, sql in oracles.items()}
    finally:
        con.close()


def oracle_frame(data_dir: str, sql: str) -> pd.DataFrame:
    con = duckdb_conn(data_dir)
    try:
        return con.execute(sql).fetchdf()
    finally:
        con.close()
