"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The unit tests are instant. The run tests start Spark on the real
workloads with ``--seconds 1`` (set-up plus one timed unit, two when
traced) and take about six minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import fixture, oracle, run, trace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


# -- unit tests ---------------------------------------------------------------


def test_union_length_merges_overlaps_and_clips():
    assert trace.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert trace.union_length([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert trace.union_length([], 0, 1) == 0


def test_parse_metric_reads_totals_units_and_rounding():
    def parse(text, kind):
        value, rounding = trace.parse_metric(text, kind)
        return pytest.approx(value), pytest.approx(rounding)

    assert parse("2.8 s", "time") == (2.8, 0.05)
    assert parse("382 ms", "time") == (0.382, 0.0005)
    assert parse("1.2 m", "time") == (72.0, 3.0)
    assert parse("143.1 KiB", "size") == (143.1 * 1024, 0.05 * 1024)
    multi = "total (min, med, max (stageId: taskId))\n15 ms (0 ms, 15 ms, 15 ms (stage 3.0: task 2))"
    assert parse(multi, "time") == (0.015, 0.0005)
    assert parse("1,234", "count") == (1234, 0.5)


def test_percentile_interpolates():
    assert run.percentile([1, 2, 3, 4], 50) == 2.5
    assert run.percentile([5], 90) == 5
    assert run.percentile([], 50) == 0.0


def test_fixture_is_a_function_of_the_seed():
    a, b = fixture.make_tables(7, 0.001), fixture.make_tables(7, 0.001)
    assert all(a[t].equals(b[t]) for t in fixture.TABLES)
    assert not a["lineitem"].equals(fixture.make_tables(8, 0.001)["lineitem"])


def test_oracle_accepts_only_the_two_roundings_of_a_midpoint():
    # olap_q3_shipping_priority: exact revenue 316351.975, engine .98, DuckDB .97
    assert oracle.mismatch(["revenue", "k"], [(316351.98, 288)],
                           *oracle.canon(["k", "revenue"], [(288, 316351.97)])) is None
    # agg_cube: exact avg_price 252220.10375, engine .1037, DuckDB .1038
    assert oracle.midpoint_pair(252220.1037, 252220.1038)
    assert oracle.midpoint_pair(316351.0, 316350.99)
    # anything wider, or on values the query did not round, still fails
    assert not oracle.midpoint_pair(316351.99, 316351.97)
    assert not oracle.midpoint_pair(25.0, 26.0)
    assert not oracle.midpoint_pair(0.123456, 0.123457)
    assert oracle.mismatch(["k", "v"], [(1, 2.5), (2, 7.25)],
                           *oracle.canon(["k", "v"], [(1, 2.5)])) is not None
    assert oracle.mismatch(["k", "v"], [(1, 2.51)],
                           *oracle.canon(["k", "v"], [(2, 2.5)])) is not None


def test_event_chunks_expectations():
    gen = fixture.EventChunks(seed=3, rows_per_chunk=50, n_ticks=4)
    landed = [gen.chunk(t) for t in range(4)]
    assert sum(c is None for c in landed) == 1 and landed[0] is not None
    assert gen.expected_ids() == set(range(150))
    latest = gen.expected_latest()
    for t in (c for c in landed if c is not None):
        ts = t.column("ts").cast("int64").to_pylist()
        for u, k, e in zip(t.column("user_id").to_pylist(), ts, t.column("event_id").to_pylist()):
            assert latest[u] >= (k, e)


# -- runs ---------------------------------------------------------------------


def _run(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _short(workload, trace_on, *extra):
    return _run("--workload", workload, "--seed", "1", "--seconds", "1",
                "--trace", str(trace_on), *extra)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_printed_with_units(workload):
    r = _result(_short(workload, 0))
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in r["metrics"].items()} == want
    assert all(v["value"] > 0 for v in r["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_per_layer_metric(workload):
    r = _result(_short(workload, 1))
    assert r["correct"] and r["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in r["metrics"].items()} == want
    m = {k: v["value"] for k, v in r["metrics"].items()}
    # the designed split: Python workers only where the mix has them,
    # sinks and streaming only on the ETL workload
    if workload == "curation_mix":
        assert m["udf_workers.run_s"] > 0 and m["session.cached_bytes"] > 0
    if workload == "olap_mix":
        assert m["udf_workers.run_s"] == 0 and m["sinks.versions"] == 0
    if workload == "etl_ticks":
        assert m["sinks.versions"] > 0 and m["streaming.batches"] > 0


def test_injected_failure_raises_error_rate():
    r = _result(_short("olap_mix", 1, "--inject-failure"))
    # one failure in each of the checked warm pass, the untimed pass and
    # the two or more timed passes
    assert not r["correct"] and r["failed"] >= 4
    assert r["metrics"]["ops.error_rate"]["value"] == pytest.approx(r["failed"] / r["attempted"])


def test_refuses_to_run_without_the_engine():
    bare = os.path.join(ROOT, ".perfbench", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        proc = _run("--workload", "olap_mix", "--seed", "1", "--seconds", "1", cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
