"""Seeded input generators.

Every input the benchmark hands the engine comes from here, drawn from a
``numpy.random.Generator`` built from the run's ``--seed``: the same seed
gives byte-identical tables.  Shapes follow the TPC-H-style lineitem
test table.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

EPOCH = dt.date(1970, 1, 1)
# the first l_shipdate of every generated history
FIRST_DAY = (dt.date(1995, 1, 1) - EPOCH).days

LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()),
    ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()),
    ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()),
    ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()),
    ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()),
    ("l_linestatus", pa.string()),
    ("l_shipdate", pa.date32()),
])


def day(n: int) -> dt.date:
    """The date ``n`` days after the epoch."""
    return EPOCH + dt.timedelta(days=int(n))


def lineitem(rng: np.random.Generator, n: int, first_key: int,
             day_range, ordered: bool = False) -> pa.Table:
    """``n`` lineitem rows with unique ``l_orderkey`` values
    ``first_key .. first_key + n - 1`` (one line per order keeps the key
    usable for MERGE/upsert).  Prices carry two decimals and quantities
    are whole, so checksums over them are exact integers.  ``ordered``
    sorts ship dates so keys grow with time (keys cluster by date, as in
    an ingest stream)."""
    qty = rng.integers(1, 51, n).astype("float64")
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    cols = {
        "l_orderkey": np.arange(first_key, first_key + n, dtype="int64"),
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": rng.integers(1, 8, n).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
    }
    days = rng.integers(day_range[0], day_range[1] + 1, n).astype("int32")
    if ordered:
        days.sort()
    return pa.table({**{k: pa.array(v) for k, v in cols.items()},
                     "l_shipdate": pa.array(days, pa.date32())},
                    schema=LINEITEM_SCHEMA)
