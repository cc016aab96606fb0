"""Seeded inputs besides ``synth.repofiles``: a lineitem-shaped fact
table, and the raw byte count the throughput metrics divide by.

The table is a pure function of its seed and has the schema of the
TPC-H sf0.1 ``lineitem.parquet`` fixture: evenly spaced order keys with
one to seven lines per order, uniform part and supplier keys, and the
usual price, discount, tax, flag and ship-date columns.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("us")),
])

REPOFILES_COLUMNS = ("repo", "path", "commit", "lang", "content")

#: rows per distinct l_partkey: a point lookup returns about this many
PART_FANOUT = 30


#: base order keys are multiples of this, so appended orders can take
#: the keys in between and land in every range part
ORDER_STEP = 4


def lineitem(n_rows: int, seed: int, order_keys=None) -> pa.Table:
    """About ``n_rows`` lineitem rows. Order keys are ``ORDER_STEP``,
    ``2 * ORDER_STEP``, ... unless ``order_keys`` gives them (the first
    as many as the rows need)."""
    rng = np.random.default_rng(seed)
    lines = rng.integers(1, 8, size=n_rows + 1)
    ends = np.cumsum(lines)
    n_orders = int(np.searchsorted(ends, n_rows)) + 1
    lines = lines[:n_orders]
    n = int(lines.sum())
    if order_keys is None:
        order_keys = ORDER_STEP * np.arange(1, n_orders + 1, dtype=np.int64)
    orderkey = np.repeat(np.asarray(order_keys[:n_orders], np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    n_parts = max(1, n_rows // PART_FANOUT)
    partkey = rng.integers(1, n_parts + 1, size=n, dtype=np.int64)
    suppkey = rng.integers(1, max(2, n_rows // 600) + 1, size=n,
                           dtype=np.int64)
    quantity = rng.integers(1, 51, size=n).astype(np.float64)
    price = 900.0 + (partkey % 20000) / 10.0
    extended = np.round(quantity * price, 2)
    discount = rng.integers(0, 11, size=n) / 100.0
    tax = rng.integers(0, 9, size=n) / 100.0
    flags = np.array(["R", "A", "N"])[rng.integers(0, 3, size=n)]
    status = np.array(["O", "F"])[rng.integers(0, 2, size=n)]
    day0 = np.datetime64("1992-01-02", "D").astype(np.int64)
    days = day0 + rng.integers(0, 2526, size=n)
    shipdate = (days * 86_400_000_000).astype("datetime64[us]")
    return pa.table({
        "l_orderkey": orderkey, "l_partkey": partkey, "l_suppkey": suppkey,
        "l_linenumber": linenumber, "l_quantity": quantity,
        "l_extendedprice": extended, "l_discount": discount, "l_tax": tax,
        "l_returnflag": pa.array(flags.tolist(), pa.string()),
        "l_linestatus": pa.array(status.tolist(), pa.string()),
        "l_shipdate": pa.array(shipdate, pa.timestamp("us")),
    }, schema=LINEITEM_SCHEMA)


def raw_bytes(tbl: pa.Table) -> int:
    """Bytes of the values of every column: UTF-8 bytes for strings,
    the type's width for fixed-width columns."""
    total = 0
    for col in tbl.columns:
        if (pa.types.is_string(col.type) or pa.types.is_binary(col.type)
                or pa.types.is_large_string(col.type)
                or pa.types.is_large_binary(col.type)):
            total += int(pc.sum(pc.binary_length(col)).as_py() or 0)
        else:
            total += col.type.bit_width // 8 * len(col)
    return total
