"""Driver contract for bench.py stdout (VERDICT r4 #2).

The round driver snapshots only the LAST 2000 characters of bench stdout
(`tail` in BENCH_r*.json) and JSON-parses the final line. Round 4's line
(cold dict + warm dict + ratio_vs_prev for 35 queries) overflowed that
capture and the official record came back ``parsed: null``. These tests
pin the stdout payload to a fixed key set whose worst-case serialized
size stays well under the capture limit.
"""

import json

import bench


def _worst_case_line() -> str:
    # 4-digit integer part + 2 dp is the worst realistic width for a
    # per-query timing at any SF the driver runs (9999.99 s/query)
    cold = {name: 9999.99 for name in bench.BENCH_QUERIES}
    warm = {name: 9999.99 for name in bench.BENCH_QUERIES}
    record = bench.build_stdout_record(cold, warm, "0.1")
    return json.dumps(record, separators=(",", ":"))


def test_stdout_line_fits_driver_capture_with_headroom():
    """The line must stay under the driver's capture with room to spare,
    even at absurd per-query widths."""
    line = _worst_case_line()
    assert len(line) <= bench.STDOUT_LINE_BUDGET == 1200, (
        f"bench stdout line would be {len(line)} chars; budget is "
        f"{bench.STDOUT_LINE_BUDGET}"
    )


def test_stdout_record_shape():
    line = _worst_case_line()
    record = json.loads(line)
    assert set(record) == {
        "metric", "value", "unit", "value_warm", "queries", "sf"}
    assert record["unit"] == "sec"
    assert record["sf"] == 0.1
    # per-query stdout is the OFFICIAL warm med3 scalar — the driver's
    # spec'd {"queries": {name: sec}} shape — for the fixed stdout set,
    # while the totals cover every bench entry
    for name, warm_s in record["queries"].items():
        assert isinstance(warm_s, (int, float)), name
    assert set(record["queries"]) == set(bench.STDOUT_QUERIES)
    assert set(bench.STDOUT_QUERIES) <= set(bench.BENCH_QUERIES)
    assert len(set(bench.STDOUT_QUERIES)) == len(bench.STDOUT_QUERIES)
    # totals are sums of the per-query colds/warms (2 dp)
    assert record["value"] == round(
        sum(9999.99 for _ in bench.BENCH_QUERIES), 2)


def test_sidecar_holds_complete_record(tmp_path):
    """The bench_full.json sidecar must carry EVERY query's [cold, warm]
    — the fixed stdout set loses no information."""
    cold = {name: 1.234 for name in bench.BENCH_QUERIES}
    warm = {name: 0.567 for name in bench.BENCH_QUERIES}
    path = bench.write_full_sidecar(
        cold, warm, "0.1", path=str(tmp_path / "bench_full.json"),
        loadavg=([1.0, 2.0, 3.0], [4.0, 5.0, 6.0]))
    with open(path) as fh:
        payload = json.load(fh)
    assert set(payload["queries"]) == set(bench.BENCH_QUERIES)
    assert all(v == [1.234, 0.567] for v in payload["queries"].values())
    assert payload["total_cold"] == round(sum(cold.values()), 3)
    assert payload["loadavg_start"] == [1.0, 2.0, 3.0]
    assert payload["loadavg_end"] == [4.0, 5.0, 6.0]


def test_stdout_keys_do_not_depend_on_timings():
    """Two runs whose warm times rank the entries in opposite orders
    report the same stdout keys: no entry drops off the line because it
    measured fast on one run."""
    names = bench.BENCH_QUERIES
    cold = {n: 1.0 for n in names}
    rising = {n: float(i) for i, n in enumerate(names)}
    falling = {n: float(len(names) - i) for i, n in enumerate(names)}
    a = bench.build_stdout_record(cold, rising, "0.1")
    b = bench.build_stdout_record(cold, falling, "0.1")
    assert list(a["queries"]) == list(b["queries"]) == list(
        bench.STDOUT_QUERIES)
