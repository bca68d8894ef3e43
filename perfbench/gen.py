"""Seeded input generator for the three benchmark workloads.

Every input the engine sees is written here, with DuckDB, from the
read-only source tables. The same ``seed`` always gives byte-for-byte the
same rows in the same order; the engine only ever receives the generated
directory.

- ``tpch``: the sf0.1 relational tables; the seed sets the row order
  within each file.
- ``llm``: ``documents`` (sf0.01) and ``embeddings`` (sf0.1) with a seeded
  row order. The document operators are bound by job count, not rows, and
  the DuckDB oracle of ``dedup_clusters`` (a recursive CTE) takes seconds
  at sf0.1; the embeddings are at sf0.1 because below that size
  incremental dedup takes its JVM kernel instead of its Arrow kernel.
- ``ingest``: ``events`` split into event-time-ordered epoch files with a
  tz-aware ``ts`` (``TIMESTAMP WITH TIME ZONE`` in UTC, which Spark reads
  as ``TimestampType``; a naive ``timestamp[us]`` makes ``withWatermark``
  fail with ``EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE``). Files are written and
  stamped in event-time order, because the file stream source orders files
  by modification time, and out-of-order files let the watermark drop most
  rows as late. The seed draws the file boundaries and the rows replayed
  as duplicates into the following file. ``customer`` plus a seeded update
  set (updates, deletes, inserts) feed the MERGE step.
"""

from __future__ import annotations

import os
import random

import duckdb

#: the repo's read-only testdata tables (TESTDATA.md)
TESTDATA = "/root/testdata"
SOURCE_SF01 = f"{TESTDATA}/sf0.1"
SOURCE_SF001 = f"{TESTDATA}/sf0.01"

#: tables the ``tpch`` operations read, with the unique row key that the
#: seeded row order hashes
TPCH_TABLES = {
    "lineitem": ["l_orderkey", "l_linenumber"],
    "orders": ["o_orderkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "nation": ["n_nationkey"],
    "region": ["r_regionkey"],
}

#: epoch files in the ``ingest`` inputs
EPOCH_FILES = 6
#: share of an epoch file's rows replayed as duplicates in the next file
REPLAY_FRACTION = 0.02
#: share of customers updated, and of those, one in DELETE_EVERY is deleted
UPDATE_EVERY = 20
DELETE_EVERY = 5
INSERTS = 50
#: keys of inserted customers start here, above every existing key
NEW_KEYS = 20_000_000


def _order(keys: list[str], seed: int) -> str:
    return f"ORDER BY hash({', '.join(keys)}, {int(seed)}::BIGINT)"


def _copy(con, select: str, path: str) -> None:
    con.execute(f"COPY ({select}) TO '{path}' (FORMAT PARQUET)")


def gen_tpch(out: str, seed: int) -> None:
    con = duckdb.connect()
    for table, rowkey in TPCH_TABLES.items():
        _copy(con, f"SELECT * FROM '{SOURCE_SF01}/{table}.parquet' "
                   f"{_order(rowkey, seed)}", f"{out}/{table}.parquet")


def gen_llm(out: str, seed: int) -> None:
    con = duckdb.connect()
    for table, key, src in (("documents", "doc_id", SOURCE_SF001),
                            ("embeddings", "vec_id", SOURCE_SF01)):
        _copy(con, f"SELECT * FROM '{src}/{table}.parquet' "
                   f"{_order([key], seed)}", f"{out}/{table}.parquet")


def epoch_bounds(n_rows: int, n_files: int, seed: int) -> list[int]:
    """Row offsets cutting ``n_rows`` event-time-ordered rows into
    ``n_files`` contiguous files: equal splits, each cut jittered by up to
    40% of a file by the seed."""
    rng = random.Random(seed)
    width = n_rows / n_files
    cuts = [round(i * width + rng.uniform(-0.4, 0.4) * width)
            for i in range(1, n_files)]
    return [0, *cuts, n_rows]


def gen_ingest(out: str, seed: int) -> None:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(
        "CREATE TABLE ev AS SELECT row_number() OVER "
        "(ORDER BY ts, event_id) - 1 AS rn, event_id, "
        "CAST(ts AS TIMESTAMPTZ) AS ts, user_id, event_type, value, props "
        f"FROM '{SOURCE_SF01}/events.parquet'")
    n = con.execute("SELECT count(*) FROM ev").fetchone()[0]
    bounds = epoch_bounds(n, EPOCH_FILES, seed)
    replay_mod = round(1 / REPLAY_FRACTION)
    cols = "event_id, ts, user_id, event_type, value, props"
    os.makedirs(f"{out}/epochs")
    # every file gets an mtime one second after the previous one, in
    # event-time order: the stream source replays files by mtime
    stamp = 1_700_000_000
    for i in range(EPOCH_FILES):
        lo, hi = bounds[i], bounds[i + 1]
        sel = f"SELECT {cols} FROM ev WHERE rn >= {lo} AND rn < {hi}"
        if i > 0:
            plo = bounds[i - 1]
            sel = (f"SELECT {cols} FROM ev WHERE rn >= {plo} AND rn < {lo}"
                   f" AND hash(event_id, {int(seed)}::BIGINT) % {replay_mod}"
                   f" = 0 UNION ALL {sel}")
        path = f"{out}/epochs/part-{i:05d}.parquet"
        _copy(con, sel, path)
        os.utime(path, (stamp + i, stamp + i))
    cust = f"'{SOURCE_SF01}/customer.parquet'"
    _copy(con, f"SELECT * FROM {cust} {_order(['c_custkey'], seed)}",
          f"{out}/customer.parquet")
    h = f"hash(c_custkey, {int(seed)}::BIGINT)"
    _copy(con, f"""
        SELECT c_custkey,
               round(c_acctbal + ({h} % 10000) / 100.0, 2) AS c_acctbal,
               ({h} // {UPDATE_EVERY}) % {DELETE_EVERY} = 0 AS is_del
        FROM {cust} WHERE {h} % {UPDATE_EVERY} = 0
        UNION ALL
        SELECT {NEW_KEYS} + i AS c_custkey,
               round((hash(i, {int(seed)}::BIGINT) % 100000) / 100.0, 2),
               false
        FROM range({INSERTS}) t(i)
        ORDER BY c_custkey""", f"{out}/customer_updates.parquet")


GENERATORS = {"tpch": gen_tpch, "llm": gen_llm, "ingest": gen_ingest}


def generate(kind: str, out: str, seed: int) -> None:
    """Write the ``kind`` inputs for ``seed`` into ``out`` (created; must
    not exist yet)."""
    os.makedirs(out)
    GENERATORS[kind](out, seed)
