"""The three workloads: their operations, and the output check of each.

An operation is two timed calls into the engine's public surface: ``call``
builds the result (an operator or gate call returning a DataFrame; any
eager job inside it counts here), and ``action`` forces it. ``check``
runs outside the timed window and returns a problem string, or ``None``
when the output is right.

Why each workload exists (each stresses a different layer, so that an
optimisation of one layer moves one workload and not the others):

- ``tpch_sf1``: read-only relational work plus the paper's puffy-table
  reshape over replicated sf0.1 tables. Executor compute, shuffle and scan
  dominate; jobs per query are few and nothing crosses into Python.
  Partition-count and shuffle work should show here, driver and Arrow
  work should not.
- ``llm_curation``: the LLM-data path (MinHash-LSH candidates resolved
  into clusters by connected components, PageRank, incremental embedding
  dedup).
  Tens of small jobs per operator, eager checkpoints and collects inside
  the calls, and Arrow batches to Python workers: the driver-bound and
  Arrow-bound case.
- ``ingest_merge``: the write path that nothing else measures: a file
  stream with watermarked dedup committing each micro-batch as a snapshot
  version, a MERGE upsert, small-file compaction, and a snapshot
  read-back. Many small jobs and manifest commits per epoch.
"""

from __future__ import annotations

import glob
import json
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any

import pandas as pd
from pyspark.sql import types as T

from puffbird_spark.operators.layout import (
    compact_small_files,
    read_snapshot,
    write_snapshot,
)
from puffbird_spark.operators.merge import merge_upsert
from puffbird_spark.queries import ORACLES, QUERIES
from puffbird_spark.streaming import (
    read_parquet_stream,
    snapshot_epoch_sink,
    streaming_dedup,
    write_foreach_batch,
)

from tools.check_oracle import canonical_rows, dtype_problems


@dataclass
class Pass:
    """What one pass's operations share: the session, the generated
    inputs, a fresh directory for this pass's writes, a DuckDB connection
    with a view per generated table, and the run's cache of oracle
    results."""

    spark: Any
    inputs: str
    out: str
    duck: Any
    oracles: dict[str, Any]
    #: job groups of streaming queries (their jobs run under their ids)
    stream_ids: list[str] = field(default_factory=list)
    #: per-layer numbers the operations measure themselves
    notes: dict[str, Any] = field(default_factory=dict)


@dataclass(frozen=True)
class Op:
    name: str
    call: Callable[[Pass], Any]
    action: Callable[[Pass, Any], Any]
    check: Callable[[Pass, Any], str | None]


@dataclass(frozen=True)
class Workload:
    name: str
    gen_kind: str
    ops: tuple[Op, ...]
    #: whether its operations run Python workers (set-up then starts them)
    python_workers: bool = False


# ------------------------------------------------------------------ checks


def compare_frames(sdf: pd.DataFrame, odf: pd.DataFrame) -> str | None:
    """The comparison of ``tools/check_oracle.py``: row count, column
    names, hard dtype seams, then the canonicalised value multiset."""
    if len(sdf) != len(odf):
        return f"rowcount spark={len(sdf)} duckdb={len(odf)}"
    if sorted(sdf.columns) != sorted(odf.columns):
        return f"columns spark={sorted(sdf.columns)} duckdb={sorted(odf.columns)}"
    fails, _ = dtype_problems(sdf, odf)
    if fails:
        return "; ".join(fails)
    if canonical_rows(sdf) != canonical_rows(odf):
        return "values differ from the DuckDB oracle"
    return None


def oracle_check(name: str) -> Callable[[Pass, Any], str | None]:
    def check(p: Pass, pdf: pd.DataFrame) -> str | None:
        if name not in p.oracles:
            p.oracles[name] = p.duck.sql(ORACLES[name]).df()
        return compare_frames(pdf, p.oracles[name])
    return check


#: exact order-insensitive aggregates, valid in Spark SQL and DuckDB, that
#: stand for an output too large to collect: the timed action computes
#: them over every output column, and the check compares them with the
#: same aggregates over the DuckDB oracle
FINGERPRINTS = {
    "engine_to_long_roundtrip": [
        "count(*)", "sum(l_orderkey)",
        "sum(CAST(l_quantity_level0 AS BIGINT) * (l_orderkey % 1000003))",
        "sum(CAST(l_quantity AS DECIMAL(18,2)) * (l_quantity_level0 + 1))",
    ],
    "window_rank": [
        "count(*)", "sum(o_custkey)",
        "sum(CAST(rn AS BIGINT) * (o_orderkey % 1000003))",
        "sum(CAST(o_totalprice AS DECIMAL(18,2)) * rn)",
    ],
}


def _fingerprint(exprs: list[str]) -> Callable[[Pass, Any], tuple]:
    def action(p: Pass, df) -> tuple:
        return tuple(df.selectExpr(*exprs).collect()[0])
    return action


def fingerprint_check(key: str, exprs: list[str],
                      source: Callable[[Pass], str]
                      ) -> Callable[[Pass, Any], str | None]:
    """Compare the aggregates the action computed with the same
    aggregates DuckDB computes over ``source(p)`` (cached per run)."""
    def check(p: Pass, got: tuple) -> str | None:
        if key not in p.oracles:
            p.oracles[key] = p.duck.sql(
                f"SELECT {', '.join(exprs)} FROM ({source(p)})").fetchone()
        want = p.oracles[key]
        if [Decimal(str(v)) for v in got] != [Decimal(str(v)) for v in want]:
            return f"aggregates {got} differ from DuckDB's {want}"
        return None
    return check


def _collect(p: Pass, df) -> pd.DataFrame:
    return df.toPandas()


def gate_op(name: str) -> Op:
    """A registered gate: ``QUERIES[name]`` over the generated inputs,
    checked against its DuckDB twin in ``ORACLES``."""
    call = lambda p: QUERIES[name](p.spark, p.inputs)  # noqa: E731
    if name not in FINGERPRINTS:
        return Op(name, call, _collect, oracle_check(name))
    exprs = FINGERPRINTS[name]
    return Op(name, call, _fingerprint(exprs),
              fingerprint_check(name, exprs, lambda p: ORACLES[name]))


# ----------------------------------------------------------- ingest_merge

EVENT_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def _snapshot_files(table: str) -> str:
    """DuckDB source over the shards of a snapshot table's latest
    manifest (read straight from disk, not through Spark)."""
    latest = sorted(glob.glob(f"{table}/manifests/v*.json"))[-1]
    with open(latest) as fh:
        shards = json.load(fh)["shards"]
    files = [f for s in shards for f in glob.glob(f"{table}/{s}/*.parquet")]
    return "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"


def _stream_call(p: Pass):
    stream = read_parquet_stream(
        p.spark, f"{p.inputs}/epochs", EVENT_SCHEMA, max_files_per_trigger=1)
    return streaming_dedup(stream, ["event_id"], ts_col="ts",
                           watermark="2 hours")


def _stream_action(p: Pass, deduped):
    commit = snapshot_epoch_sink(f"{p.out}/events")
    sink_s: list[float] = []

    def sink(df, epoch_id):
        t0 = time.perf_counter()
        commit(df, epoch_id)
        sink_s.append(time.perf_counter() - t0)

    q = write_foreach_batch(deduped, sink, f"{p.out}/checkpoint").start()
    p.stream_ids += [str(q.id), str(q.runId)]
    q.awaitTermination()
    progress = q.recentProgress
    epoch_s = [b["durationMs"]["triggerExecution"] / 1e3 for b in progress]
    state = (progress[-1].get("stateOperators") if progress else None) or [{}]
    p.notes.update(sink_s=sink_s, epoch_s=epoch_s,
                   state_rows=state[0].get("numRowsTotal", 0))
    return q


def _stream_check(p: Pass, _q) -> str | None:
    want = p.duck.sql(
        f"SELECT count(DISTINCT event_id) FROM "
        f"'{p.inputs}/epochs/*.parquet'").fetchone()[0]
    rows, ids = p.duck.sql(
        f"SELECT count(*), count(DISTINCT event_id) FROM "
        f"{_snapshot_files(p.out + '/events')}").fetchone()
    p.notes["committed_rows"] = rows
    if rows != want or ids != want:
        return f"committed {rows} rows / {ids} ids, expected {want}"
    return None


def _merge_call(p: Pass):
    target = p.spark.read.parquet(f"{p.inputs}/customer.parquet")
    updates = p.spark.read.parquet(f"{p.inputs}/customer_updates.parquet")
    return merge_upsert(target, updates, keys=["c_custkey"],
                        delete_col="is_del")


def _merge_action(p: Pass, merged):
    return write_snapshot(p.spark, merged, f"{p.out}/customer",
                          mode="overwrite")


MERGE_REPLAY = """
SELECT coalesce(c.c_custkey, u.c_custkey) AS c_custkey, c.c_name,
       c.c_nationkey, coalesce(u.c_acctbal, c.c_acctbal) AS c_acctbal,
       c.c_mktsegment
FROM '{inputs}/customer.parquet' c
FULL JOIN '{inputs}/customer_updates.parquet' u USING (c_custkey)
WHERE NOT coalesce(u.is_del, false)
"""


def _merge_check(p: Pass, _version) -> str | None:
    got = p.duck.sql(
        f"SELECT * FROM {_snapshot_files(p.out + '/customer')}").df()
    return compare_frames(got, p.duck.sql(
        MERGE_REPLAY.format(inputs=p.inputs)).df())


def _compact_call(p: Pass):
    return compact_small_files(p.spark, f"{p.inputs}/epochs",
                               f"{p.out}/epochs_compacted")


def _compact_check(p: Pass, stats) -> str | None:
    src, dst = (f"'{p.inputs}/epochs/*.parquet'",
                f"'{p.out}/epochs_compacted/*.parquet'")
    n_src, n_dst = p.duck.sql(
        f"SELECT (SELECT count(*) FROM {src}), "
        f"(SELECT count(*) FROM {dst})").fetchone()
    if n_src != n_dst:
        return f"compaction kept {n_dst} of {n_src} rows"
    if stats["n_files_out"] >= stats["n_files_in"]:
        return f"{stats['n_files_in']} files compacted to {stats['n_files_out']}"
    return None


#: what the read-back must show: one row per distinct event of the inputs
READ_FINGERPRINT = ["count(*)", "sum(event_id)", "sum(user_id)"]
DISTINCT_EVENTS = ("SELECT DISTINCT event_id, user_id "
                   "FROM '{inputs}/epochs/*.parquet'")


# --------------------------------------------------------------- registry

WORKLOADS = {
    w.name: w for w in (
        Workload(
            "tpch_sf1", "tpch",
            (gate_op("q3_shipping_priority"),
             gate_op("q5_region_revenue"),
             gate_op("q18_large_volume_customers"),
             gate_op("q21_waiting_suppliers"),
             gate_op("engine_to_long_roundtrip"),
             gate_op("window_rank"))),
        Workload(
            "llm_curation", "llm",
            (gate_op("dedup_clusters"),
             gate_op("graph_pagerank"),
             gate_op("dedup_incremental_embedding")),
            python_workers=True),
        Workload(
            "ingest_merge", "ingest",
            (Op("stream_dedup_commit", _stream_call, _stream_action,
                _stream_check),
             Op("merge_upsert", _merge_call, _merge_action, _merge_check),
             Op("compact_small_files", _compact_call, lambda p, s: s,
                _compact_check),
             Op("read_snapshot",
                lambda p: read_snapshot(p.spark, f"{p.out}/events"),
                _fingerprint(READ_FINGERPRINT),
                fingerprint_check(
                    "read_snapshot", READ_FINGERPRINT,
                    lambda p: DISTINCT_EVENTS.format(inputs=p.inputs))))),
    )
}
