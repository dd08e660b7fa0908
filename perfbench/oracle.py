"""DuckDB oracle: the expected table contents, kept in step with every
operation the benchmark sends to the engine.

Each scan's action is ``count(*)`` plus an order-independent sum of a
per-row integer hash over every column.  The hash is one SQL expression
that Spark and DuckDB evaluate identically (whole-cent prices, date
parts, ASCII codes), so expected and actual results compare exactly.
"""

from __future__ import annotations

from typing import Optional, Tuple

import duckdb
import pyarrow as pa


def _ymd(col: str) -> str:
    return f"(year({col}) * 10000 + month({col}) * 100 + day({col}))"


def _cents(col: str) -> str:
    return f"CAST(round({col} * 100) AS BIGINT)"


HASH = " + ".join([
    "l_orderkey * 7", "l_partkey * 3", "l_suppkey * 5",
    "l_linenumber * 11", f"{_cents('l_quantity')} * 13",
    _cents("l_extendedprice"), f"{_cents('l_discount')} * 17",
    f"{_cents('l_tax')} * 19", "ascii(l_returnflag) * 23",
    "ascii(l_linestatus) * 29", _ymd("l_shipdate")])


def spark_checksum(df) -> Tuple[int, int]:
    """The scan action: (row count, hash sum) of ``df``."""
    row = df.selectExpr("count(*) AS n", f"sum({HASH}) AS h").collect()[0]
    return int(row["n"]), int(row["h"] or 0)

class Oracle:
    """Named DuckDB tables mirroring the engine's tables."""

    def __init__(self) -> None:
        self.db = duckdb.connect()

    def close(self) -> None:
        self.db.close()

    def create(self, name: str, rows: pa.Table) -> None:
        self.db.register("__src", rows)
        self.db.execute(f"CREATE OR REPLACE TABLE {name} AS "
                        f"SELECT * FROM __src")
        self.db.unregister("__src")

    def insert(self, name: str, rows: pa.Table) -> None:
        self.db.register("__src", rows)
        cols = ", ".join(rows.column_names)
        self.db.execute(f"INSERT INTO {name} ({cols}) "
                        f"SELECT {cols} FROM __src")
        self.db.unregister("__src")

    def delete(self, name: str, where_sql: str) -> int:
        n = self.count(name, where_sql)
        self.db.execute(f"DELETE FROM {name} WHERE {where_sql}")
        return n

    def upsert(self, name: str, rows: pa.Table, key: str) -> None:
        self.db.register("__src", rows)
        self.db.execute(f"DELETE FROM {name} WHERE {key} IN "
                        f"(SELECT {key} FROM __src)")
        self.db.unregister("__src")
        self.insert(name, rows)

    def count(self, name: str, where_sql: str = "TRUE") -> int:
        return int(self.db.execute(
            f"SELECT count(*) FROM {name} WHERE {where_sql}").fetchone()[0])

    def checksum(self, name: str, where_sql: str = "TRUE"
                 ) -> Tuple[int, int]:
        n, h = self.db.execute(
            f"SELECT count(*), sum({HASH}) FROM {name} "
            f"WHERE {where_sql}").fetchone()
        return int(n), int(h or 0)


def mismatch(what: str, got, want) -> Optional[str]:
    """None when equal; else a short description."""
    if got == want:
        return None
    return f"{what}: got {got!r}, want {want!r}"
