"""Isolated per-query measurement for optimization work (guide §1).

Times named registry queries with bench.py's own session set-up and
``measure`` loop (local[$SPARK_GRAFT_CPUS], shuffle=2x cpus): cold +
warm med3 with the bench's count() action, optionally the
noop sink (--noop: computes every column, the guide §1.4 measurement),
and writes .explain("formatted") to plans/<tag>/<name>_<suffix>.txt
when --plans TAG_SUFFIX is given (e.g. --plans r14/before).

Usage:
    python tools/opt_measure.py [--sf-dir DIR] [--noop] [--runs N]
        [--plans r14/before] name [name ...]
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--plans", default=None,
                    help="write explain('formatted') to plans/<PLANS>/"
                         "<name>.txt (e.g. r14/before -> plans/r14/"
                         "<name>_before.txt)")
    args = ap.parse_args()

    from bench import BENCH_OVERRIDES, bench_session, host_loadavg, measure
    from puffbird_spark.queries import QUERIES

    spark = bench_session("puffbird-spark-opt-measure", args.sf_dir)
    print(f"# loadavg at start: {host_loadavg()}", file=sys.stderr)

    plan_dir = suffix = None
    if args.plans:
        tag, _, suffix = args.plans.partition("/")
        plan_dir = os.path.join(REPO, "plans", tag)
        os.makedirs(plan_dir, exist_ok=True)

    def force(df):
        if args.noop:
            df.write.format("noop").mode("overwrite").save()
            return -1
        return df.count()

    for name in args.names:
        fn = BENCH_OVERRIDES.get(name) or QUERIES[name]
        spark.sparkContext.setJobDescription(f"opt-measure: {name}")
        df, n, cold, samples, _ = measure(
            spark, fn, args.sf_dir, args.runs, force)
        med = statistics.median(samples) if samples else float("nan")
        print(f"{name}: cold {cold:.3f}s warm {med:.3f}s "
              f"med{len(samples)} "
              f"[{','.join(f'{s:.2f}' for s in samples)}]"
              f" ({n} rows)")
        if plan_dir:
            out = os.path.join(plan_dir, f"{name}_{suffix or 'plan'}.txt")
            with open(out, "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            print(f"# plan -> {out}", file=sys.stderr)
        spark.sparkContext.setJobDescription(None)
    print(f"# loadavg at end: {host_loadavg()}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
