"""Correctness oracle: DuckDB over the raw parquet the index was built from.

``Oracle`` loads the raw tables into an in-memory database and exposes the
star under the names the engine's SQL uses, including
its renamed nation/region copies, so a generated statement runs here
unchanged. ``same_rows`` compares two results as multisets, with numbers
equal to a relative 1e-6 and dates compared by value.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

STAR_VIEWS = {
    "custnation": "SELECT n_nationkey AS cn_nationkey, n_name AS c_nation,"
                  " n_regionkey AS cn_regionkey FROM nation",
    "custregion": "SELECT r_regionkey AS cr_regionkey, r_name AS c_region"
                  " FROM region",
    "suppnation": "SELECT n_nationkey AS sn_nationkey, n_name AS s_nation,"
                  " n_regionkey AS sn_regionkey FROM nation",
    "suppregion": "SELECT r_regionkey AS sr_regionkey, r_name AS s_region"
                  " FROM region",
}
TABLES = ["lineitem", "orders", "customer", "supplier", "part", "nation", "region"]


class Oracle:
    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET enable_progress_bar = false")
        self.con.execute("SET TimeZone = 'UTC'")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE TABLE {t} AS SELECT * FROM '{path}'")
        for name, sql in STAR_VIEWS.items():
            self.con.execute(f"CREATE VIEW {name} AS {sql}")

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def close(self) -> None:
        self.con.close()


def _norm(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    return v


def _key(row: tuple) -> tuple:
    # sort key: floats rounded so that values equal within tolerance sort
    # together; type name first so mixed None/value columns still compare
    out = []
    for v in row:
        if isinstance(v, float):
            v = float(f"{v:.5g}") if math.isfinite(v) else str(v)
        out.append((type(v).__name__, v))
    return tuple(out)


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))
    return a == b


def same_rows(got, want) -> bool:
    """True when ``got`` and ``want`` hold the same rows in any order."""
    g = sorted((tuple(_norm(v) for v in r) for r in got), key=_key)
    w = sorted((tuple(_norm(v) for v in r) for r in want), key=_key)
    if len(g) != len(w):
        return False
    return all(
        len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
        for a, b in zip(g, w)
    )
