"""Seeded TPC-H-shaped input generation for the benchmark.

Every table is drawn from ``numpy.random.default_rng(seed)`` streams,
so one seed always yields the same bytes on disk. Multi-file tables
assign each row to a file by a seeded hash of its key (never by
round-robin or arrival order), so a file's contents do not depend on
how many workers wrote it. ``digest`` hashes the written files; equal
digests prove two runs measured the same data.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
INSTRUCTS = ["COLLECT COD", "DELIVER IN PERSON", "NONE", "TAKE BACK RETURN"]
WORDS = [
    "furiously", "quickly", "carefully", "blithely", "final", "regular",
    "ironic", "pending", "express", "bold", "deposits", "packages",
    "requests", "accounts", "foxes", "pinto", "beans", "theodolites",
]
NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA",
    "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
EPOCH_1992 = np.datetime64("1992-01-01")
ORDER_DAYS = 2405  # 1992-01-01 .. 1998-08-02, the TPC-H order-date range


def _rng(seed: int, table: str) -> np.random.Generator:
    # one independent stream per table: adding a column to one table
    # leaves every other table's bytes unchanged
    tag = int.from_bytes(hashlib.sha256(table.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, tag])


def _comments(rng: np.random.Generator, n: int) -> np.ndarray:
    """Free text with the RFC-4180 hazards real CSVs carry: embedded
    commas and doubled quotes (no newlines — Spark normalizes CRLF
    inside quoted fields, see sources/csv_source.py)."""
    words = np.array(WORDS, dtype=object)
    a, b, c = (words[rng.integers(0, len(WORDS), n)] for _ in range(3))
    shape = rng.integers(0, 4, n)
    out = np.where(shape == 0, a + ", " + b + " " + c, a + " " + b + " " + c)
    return np.where(shape == 3, out + ' "' + a + '"', out)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def file_of(keys: np.ndarray, seed: int, n_files: int) -> np.ndarray:
    """File index per key: a seeded 64-bit mix (splitmix64 finalizer)
    of the key, so file membership is a pure function of (key, seed)."""
    with np.errstate(over="ignore"):
        z = keys.astype(np.uint64) + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return (z % np.uint64(n_files)).astype(np.int64)


def nation() -> pa.Table:
    n = len(NATIONS)
    return pa.table(
        {
            "n_nationkey": np.arange(n, dtype=np.int64),
            "n_name": NATIONS,
            "n_regionkey": np.arange(n, dtype=np.int64) % 5,
        }
    )


def customer(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "customer")
    keys = np.arange(1, n + 1, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, len(NATIONS), n),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n)],
            "c_comment": _comments(rng, n),
        }
    )


def orders(seed: int, n: int, n_customers: int) -> pa.Table:
    rng = _rng(seed, "orders")
    # sparse keys like TPC-H (8 of every 32 used), so lookups can miss
    keys = (np.arange(n, dtype=np.int64) // 8) * 32 + np.arange(n) % 8 + 1
    days = rng.integers(0, ORDER_DAYS, n)
    return pa.table(
        {
            "o_orderkey": keys,
            "o_custkey": rng.integers(1, n_customers + 1, n),
            "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[
                rng.integers(0, 3, n)
            ],
            "o_totalprice": _money(rng, 850.0, 500000.0, n),
            "o_orderdate": pa.array(EPOCH_1992 + days.astype("timedelta64[D]")),
            "o_orderpriority": np.array(PRIORITIES, dtype=object)[
                rng.integers(0, 5, n)
            ],
            "o_clerk": [f"Clerk#{c:09d}" for c in rng.integers(1, 1001, n)],
            "o_shippriority": np.zeros(n, dtype=np.int64),
            "o_comment": _comments(rng, n),
        }
    )


def lineitem(seed: int, order_tbl: pa.Table, per_order: int) -> pa.Table:
    rng = _rng(seed, "lineitem")
    okeys = np.repeat(order_tbl.column("o_orderkey").to_numpy(), per_order)
    odays = np.repeat(
        (
            order_tbl.column("o_orderdate").to_numpy().astype("datetime64[D]")
            - EPOCH_1992
        ).astype(np.int64),
        per_order,
    )
    n = len(okeys)
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = odays + rng.integers(1, 122, n)
    base = EPOCH_1992 + np.zeros(n, dtype="timedelta64[D]")
    flags = np.where(ship < 1260, np.where(rng.random(n) < 0.5, "R", "A"), "N")
    return pa.table(
        {
            "l_orderkey": okeys,
            "l_partkey": rng.integers(1, 20001, n),
            "l_suppkey": rng.integers(1, 1001, n),
            "l_linenumber": np.tile(np.arange(1, per_order + 1), len(okeys) // per_order),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": flags.astype(object),
            "l_linestatus": np.where(ship < 1260, "F", "O").astype(object),
            "l_shipdate": pa.array(base + ship.astype("timedelta64[D]")),
            "l_commitdate": pa.array(
                base + (odays + rng.integers(30, 91, n)).astype("timedelta64[D]")
            ),
            "l_shipinstruct": np.array(INSTRUCTS, dtype=object)[rng.integers(0, 4, n)],
            "l_shipmode": np.array(SHIPMODES, dtype=object)[rng.integers(0, 7, n)],
            "l_comment": _comments(rng, n),
        }
    )


def write_csv(tbl: pa.Table, path: str) -> None:
    pacsv.write_csv(tbl, path, pacsv.WriteOptions(quoting_style="needed"))


def write_csv_dir(tbl: pa.Table, key: str, seed: int, n_files: int, path: str) -> None:
    """Split ``tbl`` into ``n_files`` CSVs by the seeded hash of ``key``;
    each file keeps key order."""
    os.makedirs(path, exist_ok=True)
    part = file_of(tbl.column(key).to_numpy(), seed, n_files)
    for i in range(n_files):
        write_csv(tbl.filter(pa.array(part == i)), os.path.join(path, f"part-{i:02d}.csv"))


def digest(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes, in
    sorted order), shortened to 16 hex digits."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for f in sorted(filenames):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]
