"""Inputs and expected outputs of the registry workload.

`generate_events` writes a seeded `events` table with the schema and the
shape of the repository's test-data `events` table (TESTDATA.md), as read
from its sf0.001, sf0.01 and sf0.1 files:

- 1,000,000 rows and 15,000 users per unit of scale factor, so 66.7 rows
  per user at every scale; user_id uniform over [0, users);
- ts stored as parquet timestamp[us] (FIXTURES.md lists ts[ns]; the files
  hold microseconds), uniform over the 30 days from 2024-01-01 00:00 UTC,
  with event_id numbering the rows in ts order;
- value exponential with mean 50 (median 34.77 at sf0.1), rounded to
  cents; event_type uniform over 5 names; props `{"k": N}`, N uniform
  over 0-99.

`oracle_hashes` runs each key's DuckDB oracle SQL on that file and hashes
the rows exactly as `OutputHash.scala` hashes the Spark output: columns
sorted by name, numbers as the bits of their double value, strings
verbatim, nulls as `n`, one SHA-256 per row folded into a polynomial hash
modulo 2^61 - 1.
"""
import hashlib
import struct
from decimal import Decimal

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
ROWS_PER_SF = 1_000_000
USERS_PER_SF = 15_000
START_US = 1704067200 * 1_000_000  # 2024-01-01 00:00:00 UTC
SPAN_US = 30 * 86400 * 1_000_000
MEAN_VALUE = 50.0

M = (1 << 61) - 1
BASE = 1000003


def generate_events(path, seed, sf):
    rng = np.random.default_rng(seed)
    rows = round(ROWS_PER_SF * sf)
    users = round(USERS_PER_SF * sf)
    ts = START_US + np.sort(rng.integers(0, SPAN_US, rows, dtype=np.int64))
    table = pa.table({
        "event_id": pa.array(np.arange(rows, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, rows, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), rows)]),
        "value": pa.array(np.round(rng.exponential(MEAN_VALUE, rows), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
    })
    pq.write_table(table, path)


def _cell(v):
    if v is None:
        return "n"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, (int, float, Decimal)):
        d = float(v)
        if d != d:
            return "d7ff8000000000000"
        bits = struct.unpack(">Q", struct.pack(">d", 0.0 if d == 0.0 else d))[0]
        return "d" + format(bits, "x")
    if isinstance(v, str):
        return "s" + v
    raise TypeError(f"no canonical form for {type(v).__name__}")


def _hash(cursor):
    names = [d[0] for d in cursor.description]
    order = sorted(range(len(names)), key=names.__getitem__)
    h, n = 0, 0
    while True:
        batch = cursor.fetchmany(65536)
        if not batch:
            break
        for row in batch:
            text = "\x1f".join(_cell(row[i]) for i in order)
            v = int.from_bytes(hashlib.sha256(text.encode("utf-8")).digest()[:8], "big")
            h = (h * BASE + (v & M) % M) % M
            n += 1
    return f"{h:016x}:{n}"


def oracle_hashes(tables_dir, sql_by_key):
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{tables_dir}/events.parquet')")
        return {key: _hash(con.execute(sql)) for key, sql in sorted(sql_by_key.items())}
    finally:
        con.close()
