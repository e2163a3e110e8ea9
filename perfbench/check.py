"""Output checks: oracle digests for registered queries and the DuckDB
replay the ``cdc`` tables are compared with.

Query results are digested with ``tools/check_correctness.py``'s
normalization (rows sorted, columns sorted by name, values stringified),
so a result that passes here passes the repository's oracle gate too.
"""

from __future__ import annotations

import importlib.util
import os
import time

import duckdb
import pyarrow as pa


def load_check_correctness(root: str):
    """Import ``tools/check_correctness.py`` from the checkout at ``root``."""
    path = os.path.join(root, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _plain(tbl: pa.Table) -> pa.Table:
    """Zone-aware timestamps to naive UTC wall time: what ``collect()``
    returns under the engine's UTC session zone and what DuckDB returns
    for the oracle's plain TIMESTAMP columns."""
    fields = [
        pa.field(f.name, pa.timestamp(f.type.unit))
        if pa.types.is_timestamp(f.type) and f.type.tz is not None
        else f
        for f in tbl.schema
    ]
    return tbl.cast(pa.schema(fields))


def _rowlike(v):
    # Arrow structs come back as dicts; Spark Rows and DuckDB structs are
    # sequences, which the normalization renders as "[a,b]".
    if isinstance(v, dict):
        return tuple(_rowlike(x) for x in v.values())
    if isinstance(v, list):
        return [_rowlike(x) for x in v]
    return v


def arrow_digest(cc, tbl: pa.Table) -> tuple[int, str]:
    tbl = _plain(tbl)
    cols = tbl.column_names
    rows = [tuple(_rowlike(r[c]) for c in cols) for r in tbl.to_pylist()]
    return len(rows), cc.table_digest(rows, cols)


def oracle_digests(cc, fixture_dir: str, tables, oracles: dict[str, str]):
    """name -> ((rows, digest), seconds) for each oracle, run in DuckDB on
    the same fixture files the Spark side reads."""
    out = {}
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(fixture_dir, t)}.parquet'")
        for name, sql in oracles.items():
            t0 = time.perf_counter()
            res = con.execute(sql)
            rows = res.fetchall()
            cols = [d[0] for d in res.description]
            dt = time.perf_counter() - t0
            out[name] = ((len(rows), cc.table_digest(rows, cols)), dt)
    finally:
        con.close()
    return out


# ---------------------------------------------------------------------------
# cdc replay
# ---------------------------------------------------------------------------

def fingerprint(con, relation: str) -> tuple[int, int]:
    """(row count, sum of row hashes): an order-insensitive multiset
    fingerprint of every column of ``relation``."""
    cols = [r[0] for r in con.execute(f"DESCRIBE {relation}").fetchall()]
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({', '.join(sorted(cols))})::HUGEINT), 0) "
        f"FROM {relation}"
    ).fetchone()
    return int(n), int(h)


class Replay:
    """The ``cdc`` tables' expected contents, replayed in DuckDB from the
    same seeded base and batches the workload commits.

    After batch ``k`` (1-based):
    - ``upserted(k)``: MERGE update-or-insert of batches 1..k over the
      base, the last batch to touch a key winning;
    - ``appended(k)``: the base plus every batch's new keys;
    - ``ws_orders(k)`` / ``ws_lines(k)``: every batch's orders and
      lineitem rows, appended."""

    def __init__(self, base: pa.Table, key: str = "o_orderkey"):
        self.con = duckdb.connect()
        self.key = key
        self.cols = ", ".join(base.column_names)
        self.con.register("src", base)
        self.con.execute(f"CREATE TABLE base AS SELECT {self.cols} FROM src")
        self.con.execute(
            f"CREATE TABLE changes AS SELECT 0::INT AS b, 0::BIGINT AS first_new, "
            f"{self.cols} FROM base LIMIT 0"
        )
        self.con.execute(
            "CREATE TABLE lines (b INT, l_orderkey BIGINT, l_linenumber INT, "
            "l_quantity DOUBLE, l_extendedprice DOUBLE)"
        )
        self.n = 0

    def add(self, batch) -> None:
        """Append the next batch (it becomes batch ``self.n``)."""
        self.n += 1
        self.con.register("src", batch.orders)
        self.con.execute(
            f"INSERT INTO changes SELECT {self.n}, {batch.first_new_key}, "
            f"{self.cols} FROM src"
        )
        self.con.register("src", batch.lines)
        self.con.execute(f"INSERT INTO lines SELECT {self.n}, * FROM src")

    def upserted(self, k: int) -> str:
        return (
            f"(SELECT {self.cols} FROM (SELECT 0 AS b, {self.cols} FROM base "
            f"UNION ALL SELECT b, {self.cols} FROM changes WHERE b <= {k}) "
            f"QUALIFY row_number() OVER (PARTITION BY {self.key} "
            f"ORDER BY b DESC) = 1)"
        )

    def appended(self, k: int) -> str:
        return (
            f"(SELECT {self.cols} FROM base UNION ALL SELECT {self.cols} "
            f"FROM changes WHERE b <= {k} AND {self.key} >= first_new)"
        )

    def ws_orders(self, k: int) -> str:
        return f"(SELECT {self.cols} FROM changes WHERE b <= {k})"

    def ws_lines(self, k: int) -> str:
        return f"(SELECT * EXCLUDE (b) FROM lines WHERE b <= {k})"

    def expect(self, relation: str) -> tuple[int, int]:
        return fingerprint(self.con, relation)

    def actual(self, tbl: pa.Table) -> tuple[int, int]:
        self.con.register("result", tbl)
        return fingerprint(self.con, "result")

    def close(self) -> None:
        self.con.close()
