"""perfbench — the engine's end-to-end and per-layer benchmark.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 6 --trace 0

Runs one workload (``olap_mix``, ``curation_mix`` or ``etl_ticks``) from
the root of a source checkout: generates the inputs from ``--seed``,
starts one Spark driver at ``local[<cores>]``, sets up (session, table
warm-up, one checked warm pass, untimed passes), then runs whole units (query passes or
ETL cycles) in a closed loop with one caller until ``--seconds`` have
passed. Outputs are checked outside the timed section. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if __name__ == "__main__":
    # import perfbench as a package from the checkout root; the script's
    # own directory must not shadow the stdlib (perfbench/trace.py, `trace`)
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") not in (HERE, ROOT)]

from perfbench import workloads as wl  # noqa: E402
from perfbench.trace import (  # noqa: E402
    ProgressLog,
    RssSampler,
    StatusReader,
    Tracer,
    process_tree,
    union_length,
)

WORKLOADS = ("olap_mix", "curation_mix", "etl_ticks")
SF = 0.001  # fixture scale: lineitem 6k rows, orders 1.5k, documents 500


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str):
    """One local driver with the engine's session confs; every scratch
    path Spark, the JVM and the Python workers use is under ``work``."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no JVM (spark-submit's launcher included) writes /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Spark's Python workers must import the engine package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from pyspark.sql import SparkSession

    from seamless_sharepoint_etl_spark import session

    n = cores()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", "1g")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # C1 only: a run's JVM lives under a minute, too short for C2 to
        # settle; C1 warms up faster and varies less from run to run
        .config("spark.driver.extraJavaOptions",
                f"-XX:TieredStopAtLevel=1 -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    session.configure(spark)
    return spark


def stop_session(spark, timeout: float = 30.0) -> None:
    """Stop Spark, end the JVM and wait for it and every Python worker."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + timeout
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and not _is_zombie(pid):
            if time.time() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
                deadline = time.time() + 5
            time.sleep(0.05)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


class Bench:
    def __init__(self, args):
        self.args = args
        self.work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.tracer = Tracer(enabled=bool(args.trace))
        self.setup: dict[str, float] = {}
        self.units: list[dict] = []
        self.errors: list[str] = []

    # -- phases ---------------------------------------------------------------

    def run(self) -> dict:
        from perfbench import fixture

        a = self.args
        shutil.rmtree(self.work, ignore_errors=True)
        self.sf_dir = os.path.join(self.work, "sf")
        fixture.write_tables(fixture.make_tables(a.seed, SF), self.sf_dir)
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_session(self.work)
            self.setup["start_s"] = time.perf_counter() - t0
            try:
                self._run_workload(spark)
            finally:
                self.peak_rss = rss.peak
                stop_session(spark)
        if a.trace:
            self.tracer.write(os.path.join(ROOT, ".perfbench", f"spans-{a.workload}-{a.seed}.jsonl"))
        return self.result()

    def _run_workload(self, spark) -> None:
        from seamless_sharepoint_etl_spark import io

        from perfbench.oracle import Oracle

        a = self.args
        reader = StatusReader(spark) if a.trace else None
        progress = ProgressLog(spark) if a.trace and a.workload == "etl_ticks" else None
        self.runner = runner = wl.Runner(self.tracer, reader, progress)

        if a.workload == "etl_ticks":
            self.load = wl.EtlTicks(spark, self.sf_dir, a.seed, self.work)
        elif a.workload == "olap_mix":
            self.load = wl.QueryMix(spark, self.sf_dir, a.seed, wl.OLAP_MIX, wl.OLAP_TABLES)
        else:
            self.load = wl.QueryMix(spark, self.sf_dir, a.seed, wl.CURATION_MIX, wl.CURATION_TABLES)
        t0 = time.perf_counter()
        for t in self.load.tables:
            io.load_table(spark, self.sf_dir, t).write.format("noop").mode("overwrite").save()
        self.setup["table_warm_s"] = time.perf_counter() - t0
        if a.inject_failure:
            self._inject_failure()

        t0 = time.perf_counter()
        self.load.run_unit(runner, 0, warm=True)
        for i in range(self.load.extra_warm):
            self.load.run_unit(runner, -1 - i, warm=True, check=False)
        self.setup["warm_pass_s"] = time.perf_counter() - t0
        if reader is not None:
            self.storage0 = reader.storage()

        # timed section: whole units until --seconds have passed; a traced
        # run alternates untraced and traced units to measure the overhead
        t_start = time.perf_counter()
        unit = 1
        while True:
            traced = bool(a.trace) and unit % 2 == 0
            u0 = time.perf_counter()
            self.load.run_unit(runner, unit, traced=traced)
            self.units.append({"unit": unit, "traced": traced, "wall_s": time.perf_counter() - u0})
            if a.workload == "etl_ticks" and reader is not None and traced:
                self.units[-1]["sinks"] = self.load.sink_state(unit)
            unit += 1
            done = time.perf_counter() - t_start >= a.seconds
            if done and (not a.trace or len(self.units) >= 2):
                break
        if reader is not None:
            self.storage1 = reader.storage()

        t_check = time.perf_counter()
        oracle = Oracle(self.sf_dir, list(io.TABLES))
        try:
            self.errors = self.load.check(runner.records, oracle)
        finally:
            oracle.close()
        for e in self.errors:
            wl.log(f"check failed: {e}")
        wl.log(f"setup {self.setup}; units {[round(u['wall_s'], 3) for u in self.units]};"
               f" check {time.perf_counter() - t_check:.2f}s")
        wl.log("ops " + " ".join(f"{r.name}:{r.kind}:{r.wall_s:.2f}" for r in runner.records))
        if a.workload == "etl_ticks":
            self.freshness = [f for u in self.load.cycles if u > 0 for f in self.load.freshness(u)]
            self.load.cleanup()

    def _inject_failure(self) -> None:
        """Test hook: one extra op per unit that raises inside the engine."""
        inner = self.load.run_unit

        def run_unit(runner, unit, warm=False, traced=False, check=True):
            inner(runner, unit, warm=warm, traced=traced, check=check)
            runner.op("injected_failure", "warm" if warm else "query", "injected",
                      [("build", "injected", lambda _: 1 / 0)], unit, traced)

        self.load.run_unit = run_unit

    # -- metrics --------------------------------------------------------------

    def result(self) -> dict:
        return {
            "correct": self._failed() == 0,
            "attempted": len(self.runner.records),
            "failed": self._failed(),
            "metrics": self.per_layer() if self.args.trace else self.end_to_end(),
        }

    def _failed(self) -> int:
        """Ops that raised plus outputs that failed their check."""
        return sum(not r.ok for r in self.runner.records) + len(self.errors)

    def _timed(self, traced: bool):
        return [r for r in self.runner.records if r.kind != "warm" and r.traced == traced]

    def end_to_end(self) -> dict:
        return {
            "setup_s": _m(sum(self.setup.values()), "s"),
            "peak_rss_mb": _m(self.peak_rss / 2**20, "MB"),
        }

    def per_layer(self) -> dict:
        traced = self._timed(True)
        units = [u for u in self.units if u["traced"]]
        n = max(1, len(units))
        m: dict[str, dict] = {}

        def put(name, value, unit):
            m[name] = _m(value, unit)

        put("session.start_s", self.setup["start_s"], "s")
        put("session.table_warm_s", self.setup["table_warm_s"], "s")
        put("session.warm_pass_s", self.setup["warm_pass_s"], "s")
        put("session.persisted_rdds", self.storage1[0], "count")
        put("session.persisted_rdds_growth", (self.storage1[0] - self.storage0[0]) / max(1, len(self.units)), "count/pass")
        put("session.cached_bytes", self.storage1[1], "B")

        per_pass = {}
        for r in traced:
            for k, v in r.readings["metrics"].items():
                per_pass[k] = per_pass.get(k, 0.0) + v
        gap = sum(
            r.wall_s - union_length(r.readings["job_intervals"], r.start, r.start + r.wall_s)
            for r in traced
        )
        keys = {
            "io.input_bytes": "B/pass", "io.files_read": "count/pass",
            "io.scan_s": "s/pass", "io.metadata_s": "s/pass",
            "exec.jobs": "count/pass", "exec.stages": "count/pass", "exec.tasks": "count/pass",
            "exec.job_wall_s": "s/pass", "exec.executor_run_s": "s/pass",
            "exec.executor_cpu_s": "s/pass", "exec.gc_s": "s/pass",
            "shuffle.write_bytes": "B/pass", "shuffle.read_bytes": "B/pass",
            "shuffle.fetch_wait_s": "s/pass", "shuffle.spill_bytes": "B/pass",
            "udf_workers.run_s": "s/pass", "udf_workers.start_s": "s/pass",
            "udf_workers.init_s": "s-with-idle/pass", "udf_workers.bytes_sent": "B/pass",
            "udf_workers.bytes_returned": "B/pass",
        }
        for k, unit in keys.items():
            put(k, per_pass.get(k, 0.0) / n, unit)
        put("exec.driver_gap_s", gap / n, "s/pass")

        for mod in wl.MODULES:
            mine = [r for r in traced if r.module == mod]
            put(f"{mod}.build_s", sum(r.steps.get("build", 0.0) for r in mine) / n, "s/pass")
            put(f"{mod}.op_s", sum(r.steps.get("action", 0.0) for r in mine) / n, "s/pass")

        self._etl_metrics(put, traced, units, n)

        timed = self._timed(False) + traced
        walls_t = [u["wall_s"] for u in units]
        walls_u = [u["wall_s"] for u in self.units if not u["traced"]]
        # demoted from end-to-end: a run times only one or two units, and
        # on a shared host unit time and op latencies varied by more than
        # the largest allowed bound (0.25) across ten runs (README.md,
        # Steadiness)
        put("ops.wall_s", median(walls_u), "s")
        put("ops.count", len(timed), "count")
        put("ops.p50_s", median([r.wall_s for r in timed]), "s")
        put("ops.p90_s", percentile([r.wall_s for r in timed], 90.0), "s")
        put("ops.error_rate", self._failed() / len(self.runner.records), "ratio")
        put("trace.overhead", median(walls_t) / median(walls_u) - 1.0 if walls_u else 0.0, "ratio")
        put("trace.spans", len(self.tracer.spans), "count")
        return m

    def _etl_metrics(self, put, traced, units, n) -> None:
        etl = self.args.workload == "etl_ticks"
        timed = [r for r in self.runner.records if r.kind == "etl"] if etl else []

        def p50(name):
            return median([r.wall_s for r in timed if r.name == name])

        put("etl.source_scan_p50_s", p50("source_scan"), "s")
        put("etl.append_tick_p50_s", p50("append"), "s")
        put("etl.upsert_tick_p50_s", p50("upsert"), "s")
        put("etl.snapshot_read_p50_s", p50("snapshot_read"), "s")
        put("etl.flagship_tick_p50_s",
            median([r.wall_s for r in timed if r.name.startswith("flagship")]), "s")
        put("etl.freshness_p50_s", median(self.freshness) if etl else 0.0, "s")

        sources = [r for r in traced if r.name == "source_scan"]
        put("sources.rest.scan_s", sum(r.wall_s for r in sources) / n, "s/pass")
        put("sources.rest.rows", len(sources) * getattr(self.load, "source_rows", 0) / n, "count/pass")

        batches = trigger = add_batch = wal = overhead = 0.0
        for r in traced:
            if r.name not in ("append", "upsert"):
                continue
            prog = r.readings.get("progress", [])
            batches += sum(1 for p in prog if p["rows"] > 0)
            t_exec = sum(p["durations_ms"].get("triggerExecution", 0) for p in prog) / 1e3
            trigger += t_exec
            add_batch += sum(p["durations_ms"].get("addBatch", 0) for p in prog) / 1e3
            wal += sum(p["durations_ms"].get("walCommit", 0) + p["durations_ms"].get("commitOffsets", 0)
                       for p in prog) / 1e3
            overhead += r.wall_s - t_exec
        put("streaming.batches", batches / n, "count/pass")
        put("streaming.trigger_s", trigger / n, "s/pass")
        put("streaming.add_batch_s", add_batch / n, "s/pass")
        put("streaming.wal_commit_s", wal / n, "s/pass")
        put("streaming.query_overhead_s", overhead / n, "s/pass")

        states = [u["sinks"] for u in units if "sinks" in u]
        k = max(1, len(states))

        def avg(key):
            return sum(s[key] for s in states) / k

        put("sinks.versions", avg("versions"), "count")
        put("sinks.files_live", avg("files_live"), "count")
        put("sinks.bytes_live", avg("bytes_live"), "B")
        put("sinks.bytes_written", avg("bytes_written"), "B")
        put("sinks.files_rewritten", avg("files_written") - avg("files_live"), "count")
        put("sinks.rewrite_ratio", sum(s["upsert_written"] / s["upsert_live"] for s in states if s["upsert_live"]) / k, "ratio")
        put("sinks.manifest_bytes", avg("manifest_bytes"), "B")
        put("sinks.read_s", sum(r.wall_s for r in traced if r.name == "snapshot_read") / n, "s/pass")
        put("etl.space_amp", sum(s["bytes_total"] / s["bytes_live"] for s in states if s["bytes_live"]) / k, "ratio")

        commits = [r.wall_s for r in timed if r.name == "flagship_commit"]
        retries = [r.wall_s for r in timed if r.name == "flagship_retry"]
        put("pipelines.commit_tick_s", median(commits), "s")
        put("pipelines.noop_retry_s", median(retries), "s")


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--inject-failure", action="store_true",
                   help="add one op per unit that raises (tests error accounting)")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, wl.PKG)):
        print(f"perfbench: engine package {wl.PKG}/ not found under {ROOT}", file=sys.stderr)
        return 2
    bench = Bench(args)
    try:
        result = bench.run()
    finally:
        shutil.rmtree(bench.work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
