"""Benchmark for puffbird_spark: one workload per run, one JSON result line.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload tpch_sf1 --seed 1 --seconds 10 --trace 0

A run generates its inputs from ``--seed`` (``gen.py``), launches the
driver JVM and sets up a fresh ``local[K]`` session (``setup_s``: JVM
launch, session start and warm-up), then drives the workload's operations
as a closed loop from one client: one pass in the fresh session
(``cold_pass_s``), then warm passes until the passes have taken
``--seconds`` (at least one; ``pass_s.p50`` is their median). Each
operation is timed from outside, as its call plus the action that forces
the result. Every output is checked outside the timed window; an
operation that raises or fails its check counts in ``failed``.

One set-up per run: a second one in the same JVM would measure a
different thing (no JVM launch, warm classes), and one in a new JVM costs
as much as the first, which the benchmark's time budget does not fund.

``--trace 1`` runs the passes twice: untraced, then in a second session
with Spark's event log on and every operation tagged with a job group.
The log is parsed (``eventlog.py``) into the per-layer metrics, and the
traced minus the untraced ``pass_s.p50`` is reported as the tracing
overhead.

The last line of stdout is the result; a readable report goes to stderr,
and a JSON report with host context and kernel choices to
``perfbench/.work/reports/``. Everything the run writes stays under
``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import glob
from collections import Counter
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TMP = os.path.join(WORK, "tmp")

#: Spark local[K]: the same on every run, at most the host's cores
K = min(4, os.cpu_count() or 1)
SHUFFLE_PARTITIONS = 2 * K
DRIVER_MEMORY = "2g"
#: a run starting above this 1-minute load average per core, or with a
#: pass that lost more than this share of CPU time to steal, is flagged
LOAD_FLAG_PER_CORE = 1.0
STEAL_FLAG = 0.05

sys.path[:0] = [HERE, ROOT]

import duckdb  # noqa: E402
import pyspark  # noqa: E402
from pyspark import SparkConf, SparkContext  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from puffbird_spark.session import get_spark  # noqa: E402
from puffbird_spark.telemetry import drain_kernels  # noqa: E402

import gen  # noqa: E402
from eventlog import parse as parse_eventlog  # noqa: E402
from workloads import WORKLOADS, Pass, Workload  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s.p50": "s",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit."""
    units = {
        "session.start_s": "s", "session.warmup_s": "s",
        "operators.call_s": "s", "operators.call_jobs": "count",
        "operators.action_s": "s", "operators.action_jobs": "count",
        "operators.pinned_rdds": "count",
    }
    for w in WORKLOADS.values():
        for op in w.ops:
            units.update({
                f"operators.{op.name}.call_s": "s",
                f"operators.{op.name}.call_jobs": "count",
                f"operators.{op.name}.action_s": "s",
                f"operators.{op.name}.action_jobs": "count",
            })
    units.update({
        "engine.to_long.call_s": "s", "engine.to_long.action_s": "s",
        "driver.gap_s": "s", "driver.gap_share": "ratio",
        "driver.jobs": "count", "driver.stages": "count",
        "executor.tasks": "count", "executor.task_s": "s",
        "executor.cpu_s": "s", "executor.gc_s": "s",
        "executor.busy": "ratio",
        "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
        "spill.bytes": "bytes",
        "sources.scan_bytes": "bytes", "sources.scan_rows": "rows",
        "arrow.bytes_to_py": "bytes", "arrow.bytes_from_py": "bytes",
        "arrow.py_run_s": "s", "arrow.py_start_s": "s",
        "streaming.epochs": "count", "streaming.sink_s": "s",
        "streaming.trigger_s": "s", "streaming.state_rows": "rows",
        "streaming.epoch_s.p50": "s", "streaming.epoch_s.p90": "s",
        "streaming.rows_per_s": "1/s",
        "layout.bytes_written": "bytes", "layout.files_written": "count",
        "layout.compact_s": "s", "layout.read_s": "s",
        "layout.stored_bytes_per_input_byte": "ratio",
        "trace.pass_s.p50": "s", "trace.untraced_pass_s.p50": "s",
        "trace.overhead_s": "s",
    })
    return units


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) jiffies of the host's CPUs since boot, from
    ``/proc/stat``. Busy is user + nice + system + irq + softirq; steal is
    time a virtualised host ran other guests while these CPUs had work."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def unstolen(wall_s: float, ticks0: tuple[int, int],
             ticks1: tuple[int, int]) -> float:
    """``wall_s`` without the share of it the host stole from the CPUs
    that had work: wall x busy / (busy + steal). On an unshared host this
    is the wall time; on a shared one it removes the other guests' load,
    which the program did not cause."""
    busy, steal = ticks1[0] - ticks0[0], ticks1[1] - ticks0[1]
    return wall_s * busy / (busy + steal) if busy + steal else wall_s


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - T_START:7.2f}] {msg}", file=sys.stderr,
          flush=True)


# ------------------------------------------------------------ session


def isolate() -> None:
    """Keep every file Spark, its JVM and Python write under ``WORK``."""
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = TMP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the JVM that builds the driver's command line writes a perf-data
    # file to /tmp unless told not to
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def launch_jvm() -> float:
    """Start the driver JVM (once per run); returns seconds taken."""
    conf = SparkConf().setAll([
        ("spark.driver.memory", DRIVER_MEMORY),
        # a fixed-size heap: RSS then does not depend on when G1 decides
        # to grow it; no perf-data file, which the JVM would write to /tmp
        ("spark.driver.extraJavaOptions",
         f"-Djava.io.tmpdir={TMP} -Xms{DRIVER_MEMORY} -XX:-UsePerfData"),
    ])
    t0 = time.perf_counter()
    SparkContext._ensure_initialized(conf=conf)
    return time.perf_counter() - t0


def shutdown_jvm() -> None:
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def warm_up(spark, python_workers: bool) -> None:
    """A tiny shuffle and, for a workload that runs Python workers, one
    worker per core: the infrastructure a first operation would otherwise
    pay for."""
    spark.range(1000).groupBy(F.col("id") % 7).count().collect()
    if python_workers:
        @F.pandas_udf("long")
        def ident(s):
            return s

        spark.range(K * 100, numPartitions=K).select(ident("id")).collect()


def setup(app: str, python_workers: bool, eventlog_dir: str | None = None):
    """A fresh session, warmed up. Returns (spark, start_s, warmup_s)."""
    conf = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
    }
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": f"file://{eventlog_dir}",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name=app, master=f"local[{K}]",
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    t1 = time.perf_counter()
    warm_up(spark, python_workers)
    return spark, t1 - t0, time.perf_counter() - t1


def release_pinned(spark) -> int:
    """Count the RDDs an operation left persisted, then unpersist them
    (blocking), so the next operation starts from a clean block manager."""
    pinned = list(spark.sparkContext._jsc.getPersistentRDDs().values())
    for rdd in pinned:
        rdd.unpersist(True)
    return len(pinned)


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    total_kb = 0
    for pid in (jvm_pid, os.getpid()):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


# ------------------------------------------------------------ passes


def run_pass(w: Workload, spark, inputs: str, duck, run_dir: str,
             tag: str, oracles: dict) -> dict:
    """One pass over the workload's operations. Returns the per-op
    records, the pass wall (sum of timed op walls), failures and notes."""
    out = f"{run_dir}/{tag}"
    os.makedirs(out)
    p = Pass(spark, inputs, out, duck, oracles)
    sc = spark.sparkContext
    records, failed = [], 0
    for op in w.ops:
        rec = {"op": op.name, "error": None}
        sc.setJobGroup(f"{tag}|{op.name}|call", op.name)
        ticks0 = cpu_ticks()
        t0 = time.time()
        t1 = result = None
        try:
            obj = op.call(p)
            t1 = time.time()
            sc.setJobGroup(f"{tag}|{op.name}|action", op.name)
            result = op.action(p, obj)
        except Exception as e:  # noqa: BLE001 — count it, keep measuring
            rec["error"] = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        t2 = time.time()
        ticks1 = cpu_ticks()
        t1 = t1 or t2
        sc.setJobGroup(f"{tag}|checks", "outside the timed window")
        rec.update(start=t0, call_end=t1, end=t2, call_s=t1 - t0,
                   action_s=t2 - t1, unstolen_s=unstolen(t2 - t0, ticks0,
                                                         ticks1),
                   busy_ticks=ticks1[0] - ticks0[0],
                   steal_ticks=ticks1[1] - ticks0[1],
                   kernels=drain_kernels(),
                   pinned_rdds=release_pinned(spark))
        if rec["error"] is None:
            try:
                rec["error"] = op.check(p, result)
            except Exception as e:  # noqa: BLE001 — a broken check fails
                rec["error"] = f"check raised {type(e).__name__}: {e}"
                traceback.print_exc(file=sys.stderr)
        rec["check_s"] = time.time() - t2
        if rec["error"]:
            failed += 1
            log(f"FAIL {w.name}/{op.name} ({tag}): {rec['error']}")
        records.append(rec)
    sc.setJobGroup(f"{tag}|idle", "between passes")
    return {
        "tag": tag, "ops": records, "failed": failed,
        "wall_s": sum(r["call_s"] + r["action_s"] for r in records),
        "unstolen_s": sum(r["unstolen_s"] for r in records),
        "steal": _share(sum(r["steal_ticks"] for r in records),
                        sum(r["busy_ticks"] for r in records)),
        "notes": p.notes, "stream_ids": p.stream_ids, "out": out,
    }


def _share(steal: int, busy: int) -> float:
    return steal / (steal + busy) if steal + busy else 0.0


def run_passes(w: Workload, spark, inputs: str, duck, run_dir: str,
               seconds: float, prefix: str, oracles: dict) -> list[dict]:
    """A cold pass, then warm passes until all passes took ``seconds``."""
    passes = []
    while not passes or len(passes) < 2 or sum(
            p["wall_s"] for p in passes) < seconds:
        i = len(passes)
        passes.append(run_pass(w, spark, inputs, duck, run_dir,
                               f"{prefix}{i}", oracles))
        log(f"{prefix}{i}: {passes[-1]['wall_s']:.3f}s, "
            f"{passes[-1]['unstolen_s']:.3f}s unstolen "
            f"(steal {passes[-1]['steal']:.1%}) "
            + " ".join(f"{r['op']}={r['call_s']:.2f}+{r['action_s']:.2f}"
                       for r in passes[-1]["ops"]))
    return passes


# ------------------------------------------------------------ metrics


def _dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    n_bytes = n_files = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                n_bytes += os.path.getsize(os.path.join(dirpath, f))
                n_files += 1
    return n_bytes, n_files


def _quantile(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[
        round(q * 100) - 1]


def pass_layers(ps: dict, inputs: str) -> dict[str, float]:
    """Per-layer numbers the benchmark measures itself, for one pass."""
    m: dict[str, float] = {"operators.pinned_rdds": 0}
    for r in ps["ops"]:
        m[f"operators.{r['op']}.call_s"] = r["call_s"]
        m[f"operators.{r['op']}.action_s"] = r["action_s"]
        m["operators.pinned_rdds"] += r["pinned_rdds"]
    m["operators.call_s"] = sum(r["call_s"] for r in ps["ops"])
    m["operators.action_s"] = sum(r["action_s"] for r in ps["ops"])
    if "operators.engine_to_long_roundtrip.call_s" in m:
        m["engine.to_long.call_s"] = m[
            "operators.engine_to_long_roundtrip.call_s"]
        m["engine.to_long.action_s"] = m[
            "operators.engine_to_long_roundtrip.action_s"]
    notes = ps["notes"]
    if "epoch_s" in notes:
        sink = sum(notes["sink_s"])
        m.update({
            "streaming.epochs": len(notes["sink_s"]),
            "streaming.sink_s": sink,
            "streaming.trigger_s": sum(notes["epoch_s"]) - sink,
            "streaming.state_rows": notes["state_rows"],
            "streaming.rows_per_s": (
                notes.get("committed_rows", 0)
                / m["operators.stream_dedup_commit.action_s"]),
        })
    stored, m["layout.files_written"] = _dir_bytes(ps["out"], ".parquet")
    if stored:
        m["layout.stored_bytes_per_input_byte"] = stored / _dir_bytes(
            inputs, ".parquet")[0]
    m["layout.compact_s"] = m.get("operators.compact_small_files.call_s", 0)
    m["layout.read_s"] = (m.get("operators.read_snapshot.call_s", 0)
                          + m.get("operators.read_snapshot.action_s", 0))
    return m


def trace_layers(ps: dict, elog) -> dict[str, float]:
    """Per-layer numbers from the event log, for one traced pass."""
    # a streaming query runs its jobs under its own id as job group
    stream_group = next((f"{ps['tag']}|{r['op']}|action" for r in ps["ops"]
                         if r["op"] == "stream_dedup_commit"), None)
    stream_ids = set(ps["stream_ids"])

    def resolve(group):
        return stream_group if group in stream_ids else group

    counters = elog.group_counters(resolve)
    m: dict[str, float] = {}
    tot: Counter = Counter()
    gap = 0.0
    for r in ps["ops"]:
        base = f"{ps['tag']}|{r['op']}"
        call = counters.get(base + "|call", Counter())
        action = counters.get(base + "|action", Counter())
        m[f"operators.{r['op']}.call_jobs"] = call["jobs"]
        m[f"operators.{r['op']}.action_jobs"] = action["jobs"]
        tot += call + action
        gap += (r["end"] - r["start"]) - elog.busy_s(
            r["start"] * 1e3, r["end"] * 1e3)
    wall = ps["wall_s"]
    m.update({
        "operators.call_jobs": sum(
            v for k, v in m.items() if k.endswith(".call_jobs")),
        "operators.action_jobs": sum(
            v for k, v in m.items() if k.endswith(".action_jobs")),
        "driver.gap_s": gap, "driver.gap_share": gap / wall,
        "driver.jobs": tot["jobs"], "driver.stages": tot["stages"],
        "executor.tasks": tot["tasks"], "executor.task_s": tot["task_s"],
        "executor.cpu_s": tot["cpu_s"], "executor.gc_s": tot["gc_s"],
        "executor.busy": tot["task_s"] / (wall * K),
        "shuffle.write_bytes": tot["shuffle_write_bytes"],
        "shuffle.read_bytes": tot["shuffle_read_bytes"],
        "spill.bytes": tot["spill_bytes"],
        "sources.scan_bytes": tot["scan_bytes"],
        "sources.scan_rows": tot["scan_rows"],
        "arrow.bytes_to_py": tot["py_bytes_sent"],
        "arrow.bytes_from_py": tot["py_bytes_recv"],
        "arrow.py_run_s": tot["py_run_s"],
        "arrow.py_start_s": tot["py_start_s"],
        "layout.bytes_written": tot["write_bytes"],
    })
    return m


def median_of(passes_metrics: list[dict[str, float]]) -> dict[str, float]:
    keys = set().union(*passes_metrics)
    return {k: statistics.median(pm.get(k, 0.0) for pm in passes_metrics)
            for k in keys}


def epoch_quantiles(passes: list[dict]) -> dict[str, float]:
    epochs = [e for ps in passes for e in ps["notes"].get("epoch_s", ())]
    if not epochs:
        return {}
    return {"streaming.epoch_s.p50": _quantile(epochs, 0.5),
            "streaming.epoch_s.p90": _quantile(epochs, 0.9)}


# ------------------------------------------------------------ main


def host_context(seed: int, workload: str) -> dict:
    return {
        "workload": workload, "seed": seed, "k": K,
        "nproc": os.cpu_count(), "spark": pyspark.__version__,
        "python": platform.python_version(),
        "loadavg_start": list(os.getloadavg()),
    }


def open_duck(inputs: str):
    duck = duckdb.connect()
    duck.execute("SET TimeZone = 'UTC'")
    for path in sorted(glob.glob(f"{inputs}/*.parquet")):
        table = os.path.basename(path)[:-len(".parquet")]
        duck.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
    return duck


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    w = WORKLOADS[args.workload]
    isolate()

    host = host_context(args.seed, w.name)
    if host["loadavg_start"][0] > LOAD_FLAG_PER_CORE * (os.cpu_count() or 1):
        log(f"WARNING: host loaded at start (loadavg "
            f"{host['loadavg_start']}); timings may be inflated")

    # only this run's inputs and outputs live on disk
    runs = os.path.join(WORK, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    eventlog_dir = os.path.join(WORK, "eventlog")
    shutil.rmtree(eventlog_dir, ignore_errors=True)
    run_dir = os.path.join(runs, f"{w.name}-{args.seed}")
    inputs = os.path.join(run_dir, "inputs")
    t0 = time.perf_counter()
    gen.generate(w.gen_kind, inputs, args.seed)
    log(f"inputs for seed {args.seed}: {time.perf_counter() - t0:.2f}s")
    duck = open_duck(inputs)
    oracles: dict = {}

    setup_ticks = cpu_ticks()
    jvm_s = launch_jvm()
    jvm_pid = SparkContext._gateway.proc.pid
    spark = traced = None
    try:
        spark, start_s, warm_s = setup(f"perfbench-{w.name}",
                                       w.python_workers)
        setup_s = unstolen(jvm_s + start_s + warm_s, setup_ticks,
                           cpu_ticks())
        log(f"setup: JVM {jvm_s:.2f}s, session {start_s:.2f}s, "
            f"warm-up {warm_s:.2f}s")
        untraced = run_passes(w, spark, inputs, duck, run_dir, args.seconds,
                              "p", oracles)
        if args.trace:
            spark.stop()
            spark, _, _ = setup(f"perfbench-{w.name}-traced",
                                w.python_workers, eventlog_dir)
            traced = run_passes(w, spark, inputs, duck, run_dir,
                                args.seconds, "t", oracles)
        rss = peak_rss_mb(jvm_pid)
        app_id = spark.sparkContext.applicationId
        spark.stop()
        spark = None
    finally:
        if spark is not None:
            spark.stop()
        shutdown_jvm()

    all_passes = untraced + (traced or [])
    attempted = sum(len(ps["ops"]) for ps in all_passes)
    failed = sum(ps["failed"] for ps in all_passes)
    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": untraced[0]["unstolen_s"],
        "pass_s.p50": statistics.median(
            ps["unstolen_s"] for ps in untraced[1:]),
        "peak_rss_mb": rss,
    }
    kernels = {r["op"]: r["kernels"] for ps in all_passes
               for r in ps["ops"] if r["kernels"]}
    if traced:
        elog = parse_eventlog(glob.glob(f"{eventlog_dir}/{app_id}*")[0])
        layers = median_of([{**pass_layers(ps, inputs),
                             **trace_layers(ps, elog)} for ps in traced[1:]])
        layers.update(epoch_quantiles(traced[1:]))
        t_p50 = statistics.median(ps["unstolen_s"] for ps in traced[1:])
        layers.update({
            "trace.pass_s.p50": t_p50,
            "trace.untraced_pass_s.p50": e2e["pass_s.p50"],
            "trace.overhead_s": t_p50 - e2e["pass_s.p50"],
        })
    else:
        layers = median_of([pass_layers(ps, inputs) for ps in untraced[1:]])
        layers.update(epoch_quantiles(untraced[1:]))
    layers.update({"session.start_s": jvm_s + start_s,
                   "session.warmup_s": warm_s})
    host["loadavg_end"] = list(os.getloadavg())
    host["steal_max"] = max(ps["steal"] for ps in all_passes)
    if host["steal_max"] > STEAL_FLAG:
        log(f"WARNING: the host gave {host['steal_max']:.1%} of a pass's CPU "
            f"time to other guests; timings may be inflated")

    units = per_layer_units() if args.trace else END_TO_END
    values = layers if args.trace else e2e
    metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit}
               for name, unit in units.items()}
    report = {
        "host": host, "metrics": metrics, "end_to_end": e2e,
        "per_layer": layers, "fail_ratio": failed / attempted,
        "kernels": kernels,
        "wall_s": {"setup": jvm_s + start_s + warm_s,
                   "passes": [ps["wall_s"] for ps in all_passes]},
        "passes": [{"tag": ps["tag"], "wall_s": ps["wall_s"],
                    "unstolen_s": ps["unstolen_s"],
                    "steal": ps["steal"],
                    "ops": [{k: r[k] for k in ("op", "call_s", "action_s",
                                               "check_s", "pinned_rdds",
                                               "error")}
                            for r in ps["ops"]]} for ps in all_passes],
    }
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    with open(os.path.join(WORK, "reports", f"{w.name}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)

    log(f"host: {json.dumps(host)}")
    log(f"fail_ratio: {failed}/{attempted} = {failed / attempted:.4f}")
    for name, v in sorted({**e2e, **layers}.items()):
        unit = END_TO_END.get(name) or per_layer_units().get(name, "")
        log(f"{name}: {v:.6g} {unit}")
    for op, picks in sorted(kernels.items()):
        log(f"kernel {op}: {picks}")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
