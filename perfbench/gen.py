"""Seeded input generators, one per workload.

Every generator is a pure function of its seed (and size): the same seed
gives byte-identical inputs, so two runs of one seed exercise the same
cells and event files.  The program under test only ever sees what these
functions return or write.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: TPC-H's ship modes; lineitem's short-string column
_SHIPMODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])
_COMMENT_WORDS = np.array(
    "carefully final deposits sleep quickly regular accounts haggle "
    "furiously express packages nag slyly ironic requests boost".split()
)
#: strings that send the writer's escape path and the reader's unescape
#: path to work: the five XML entities and multi-byte UTF-8
_SPECIAL_COMMENTS = np.array([
    'fish & chips', '<tag> inside', 'say "hi"', "it's late", "a < b > c",
    "café crème", "naïve façade", "Ñoño", "数据流", "€£¥ ∑∏", "emoji 😀🎉",
    "ID бизнес-аккаунта",
])
_TS_LO = 694_224_000_000_000  # 1992-01-01 UTC, µs
_TS_HI = 915_062_400_000_000  # 1998-12-31 UTC, µs

#: lineitem-shaped column order and Arrow types (long, int, double, short
#: string, timestamp — lineitem's type mix, plus a short comment string)
LINEITEM_TYPES = [
    ("l_orderkey", pa.int64()),
    ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()),
    ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()),
    ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()),
    ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()),
    ("l_shipmode", pa.string()),
    ("l_shipdate", pa.timestamp("us", tz="UTC")),
    ("l_comment", pa.string()),
]
NULL_SHARE = 0.02
SPECIAL_SHARE = 0.01


def lineitem(seed: int, n_rows: int) -> pa.Table:
    """A lineitem-shaped table: ~2% nulls in every column, ~1% of comments
    carrying XML-special or non-ASCII text."""
    rng = np.random.default_rng([seed, 1])
    price = np.round(rng.uniform(900.0, 105_000.0, n_rows), 2)
    cols = {
        "l_orderkey": np.sort(rng.integers(1, 6_000_000, n_rows)),
        "l_partkey": rng.integers(1, 200_000, n_rows),
        "l_suppkey": rng.integers(1, 10_000, n_rows),
        "l_linenumber": rng.integers(1, 8, n_rows).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_rows).astype(np.float64),
        # full-precision doubles next to the 2-decimal price: the exact
        # read-back check covers every repr digit, not just cents
        "l_extendedprice": np.where(rng.random(n_rows) < 0.5, price, price * 1.0000001),
        "l_discount": rng.integers(0, 11, n_rows) / 100.0,
        "l_tax": rng.integers(0, 9, n_rows) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_rows),
        "l_shipmode": rng.choice(_SHIPMODES, n_rows),
        "l_shipdate": rng.integers(_TS_LO, _TS_HI, n_rows),
    }
    words = rng.choice(_COMMENT_WORDS, (n_rows, 3))
    comments = np.char.add(np.char.add(words[:, 0], " "), np.char.add(words[:, 1], " "))
    comments = np.char.add(comments, words[:, 2]).astype(object)
    special = rng.random(n_rows) < SPECIAL_SHARE
    comments[special] = rng.choice(_SPECIAL_COMMENTS, int(special.sum()))
    cols["l_comment"] = comments
    arrays = []
    for name, typ in LINEITEM_TYPES:
        mask = rng.random(n_rows) < NULL_SHARE
        arrays.append(pa.array(cols[name], type=typ, mask=mask))
    return pa.Table.from_arrays(arrays, names=[n for n, _ in LINEITEM_TYPES])


_EVENT_TYPES = np.array(["click", "view", "purchase", "error", "signup"])
EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


def events(seed: int, file_index: int, n_rows: int) -> pa.Table:
    """One events-shaped file's rows; ``event_id`` is unique across files."""
    rng = np.random.default_rng([seed, 3, file_index])
    base = file_index * n_rows
    return pa.table({
        "event_id": pa.array(np.arange(base, base + n_rows, dtype=np.int64)),
        "ts": pa.array(
            1_704_067_200_000_000 + base * 1_000_000 + rng.integers(0, 10**9, n_rows),
            type=pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, 100, n_rows)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_rows)),
        "value": pa.array(np.round(rng.uniform(0.0, 100.0, n_rows), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_rows)]),
    }, schema=EVENT_SCHEMA)


def write_parquet_atomic(table: pa.Table, path: str) -> None:
    """Write then rename, so a directory watcher never sees a partial file."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)
