"""The three workloads and the op runner.

A workload runs in *units*: one pass over a query mix (in a seeded
order per pass) or one ``etl_ticks`` cycle. Every op is a short list of
steps, each a call into one engine layer, timed as a span. Outputs are
kept and checked after the timed section.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

PKG = "seamless_sharepoint_etl_spark"

# Short JVM-only star-schema queries, one or more per operator module:
# plan building, Catalyst planning and job launch dominate; no Python
# workers, session artifacts or sinks.
OLAP_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
OLAP_MIX = [
    "olap_q3_shipping_priority",
    "olap_q6_forecast_revenue",
    "olap_q21_late_suppliers",
    "rel_project_filter_predicates",
    "agg_pricing_summary",
    "agg_cube",
    "join_shuffle_fact",
    "join_broadcast_dim",
    "win_running_sum",
    "sort_top_k_global",
    "diag_k_anonymity",
]

# LLM-curation operators, one or more per module: Arrow Python workers
# (the PNG decoder, pandas UDFs) and the session-scoped shingle/token/edge
# artifacts carry the work.
CURATION_TABLES = ("documents", "embeddings")
CURATION_MIX = [
    "udf_scalar_pandas",
    "dedup_containment",
    "text_pmi_collocations",
    "text_weighted_sample",
    "sim_filtered_topk",
    "graph_neardup_cc_exact",
    "mm_png_decode_features",
    "udf_apply_in_pandas",
]

# the modules whose build/op time the traced run reports
MODULES = [
    "operators.analytics",
    "operators.aggregates",
    "operators.joins",
    "operators.windows",
    "operators.relational",
    "operators.sorts_setops",
    "operators.quality",
    "llm_ops.dedup",
    "llm_ops.text",
    "llm_ops.similarity",
    "llm_ops.graph",
    "llm_ops.multimodal",
    "llm_ops.curation",
    "functions.udfs",
]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


@dataclass
class OpRecord:
    name: str
    kind: str
    module: str
    unit: int
    traced: bool
    start: float
    wall_s: float = 0.0
    steps: dict = field(default_factory=dict)
    ok: bool = True
    error: str | None = None
    result: object = None
    readings: dict | None = None


class Runner:
    """Runs ops as spans; in traced units also reads the status stores."""

    def __init__(self, tracer, reader=None, progress=None):
        self.tracer = tracer
        self.reader = reader
        self.progress = progress
        self.records: list[OpRecord] = []

    def op(self, name, kind, module, steps, unit, traced=False) -> OpRecord:
        """``steps`` is a list of (span name, layer, fn); each fn gets the
        previous step's result. An exception fails the op, never the run."""
        tracer = self.tracer
        op_id = tracer.new_op()
        mark = self.reader.mark() if traced else None
        rec = OpRecord(name, kind, module, unit, traced, time.time())
        t0 = time.perf_counter()
        with tracer.span(name, "op", op_id) as root:
            value = None
            try:
                for span_name, layer, fn in steps:
                    s0 = time.perf_counter()
                    with tracer.span(span_name, layer, op_id):
                        value = fn(value)
                    rec.steps[span_name] = time.perf_counter() - s0
                rec.result = value
            except Exception as exc:  # the op fails; the benchmark goes on
                rec.ok, rec.error = False, f"{type(exc).__name__}: {exc}"[:500]
                log(f"op {name} failed: {rec.error}")
                traceback.print_exc(file=sys.stderr)
        rec.wall_s = time.perf_counter() - t0
        if traced:
            with tracer.span("status_read", "trace", op_id):
                rec.readings = self.reader.read(mark)
                if self.progress is not None:
                    rec.readings["progress"] = self.progress.take()
            root.attrs.update(rec.readings)
        self.records.append(rec)
        return rec


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _collect(df) -> tuple:
    return df.columns, df.collect()


def read_manifest(root: str) -> dict:
    """The sink's committed snapshot, read from its on-disk manifest log
    (``_manifest/LATEST`` names the current ``v<N>.json``)."""
    import json

    mdir = os.path.join(root, "_manifest")
    try:
        with open(os.path.join(mdir, "LATEST")) as fh:
            with open(os.path.join(mdir, fh.read().strip())) as vh:
                return json.load(vh)
    except FileNotFoundError:
        return {"version": 0, "files": [], "txns": []}


def _epoch_us(col) -> list[int]:
    import pyarrow as pa

    scale = {"s": 1_000_000, "ms": 1_000, "us": 1, "ns": 1}[col.type.unit]
    vals = col.cast(pa.int64()).to_pylist()
    return [v // 1000 for v in vals] if col.type.unit == "ns" else [v * scale for v in vals]


class QueryMix:
    """``olap_mix`` / ``curation_mix``: registry queries in a seeded order
    per pass; the warm pass collects each result for the oracle check."""

    def __init__(self, spark, sf_dir, seed, names, tables):
        from seamless_sharepoint_etl_spark import registry

        self.spark, self.sf_dir, self.seed = spark, sf_dir, seed
        self.tables = tables
        # The checked pass collects; the timed passes write to the noop
        # sink, whose plans are compiled afresh. Without one untimed noop
        # pass the first timed pass ran up to 1.8x slower (curation_mix).
        self.extra_warm = 1
        reg = registry.queries()
        self.queries = {n: reg[n] for n in names}
        self.oracles = {n: registry.oracle_sql()[n] for n in names}

    def module_of(self, name) -> str:
        return self.queries[name].__module__.removeprefix(PKG + ".")

    def order(self, unit: int) -> list[str]:
        names = list(self.queries)
        random.Random(self.seed * 1000 + unit).shuffle(names)
        return names

    def run_unit(self, runner: Runner, unit: int, warm=False, traced=False, check=True) -> None:
        """One pass; the checked warm pass collects the results instead of
        writing them to the noop sink."""
        collect = warm and check
        for name in self.order(unit):
            fn, sf = self.queries[name], self.sf_dir
            runner.op(
                name,
                "warm" if warm else "query",
                self.module_of(name),
                [("build", self.module_of(name), lambda _, fn=fn: fn(self.spark, sf)),
                 ("action", "collect" if collect else "write.noop",
                  _collect if collect else _noop)],
                unit,
                traced,
            )

    def check(self, records, oracle) -> list[str]:
        """Compare every warm-pass result with its DuckDB oracle."""
        from .oracle import mismatch

        bad = []
        for r in records:
            if r.kind != "warm" or not r.ok or r.result is None:
                continue
            cols, rows = r.result
            diff = mismatch(cols, rows, *oracle.rows(self.oracles[r.name]))
            if diff:
                bad.append(f"{r.name}: {diff}")
            r.result = None  # release the rows
        return bad


@dataclass
class Cycle:
    """One ``etl_ticks`` cycle: its own stream source, checkpoints and
    sinks, starting empty, and its chunk generator."""

    root: str
    chunks: object
    landed: list = field(default_factory=list)  # (tick, rows so far, land time)
    reads: list = field(default_factory=list)  # (tick, count, end time)
    flagship_counts: list = field(default_factory=list)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)


class EtlTicks:
    """The reference's cron job as ticks. Before a tick the generator may
    land a chunk of events; each tick then runs a REST source fetch, the
    streaming append and upsert (MERGE) jobs into the manifest sinks, a
    snapshot read, and every ``FLAGSHIP_EVERY``-th tick the flagship
    incremental append (the first call commits, later ones are the
    no-op retries a cron rerun produces)."""

    ROWS_PER_CHUNK = 2000
    FLAGSHIP_EVERY = 2

    TICKS = 3

    def __init__(self, spark, sf_dir, seed, work):
        from seamless_sharepoint_etl_spark import pipelines
        from seamless_sharepoint_etl_spark.sources import rest

        self.spark, self.sf_dir, self.seed, self.work = spark, sf_dir, seed, work
        self.tables = ("orders", "customer")  # the REST source and the flagship read these
        self.extra_warm = 0  # the warm cycle already runs every op twice
        self.cycles: dict[int, Cycle] = {}
        self.source_sql = rest.REST_PAGED_SCAN_SQL
        self.flagship_sql = pipelines.INCREMENTAL_LOAD_SQL
        # The registry's scan stages the REST endpoint's pages under /tmp;
        # point it into the work dir instead. The engine writes the pages
        # on the warm cycle's first fetch (in set-up) and skips the build
        # on every later fetch.
        if not hasattr(rest, "_endpoint_for"):
            raise RuntimeError("sources.rest._endpoint_for is gone; update the benchmark")
        endpoint = os.path.join(work, "rest_endpoint")
        rest._endpoint_for = lambda _sf_dir: endpoint
        self.source_scan = rest.QUERIES["src_rest_paged_scan"][0]

    def run_unit(self, runner: Runner, unit: int, warm=False, traced=False, check=True) -> None:
        from seamless_sharepoint_etl_spark import pipelines, sinks
        from seamless_sharepoint_etl_spark.streaming import jobs

        from .fixture import EventChunks, land_chunk

        spark, sf = self.spark, self.sf_dir
        # the warm cycle is two busy ticks: it reaches every op, the MERGE
        # into a non-empty sink and the flagship retry included
        n_ticks, every = (2, 1) if warm else (self.TICKS, self.FLAGSHIP_EVERY)
        cyc = Cycle(
            os.path.join(self.work, f"cycle-{unit:03d}"),
            EventChunks(self.seed * 1000 + unit, self.ROWS_PER_CHUNK, n_ticks,
                        n_idle=0 if warm else 1),
        )
        self.cycles[unit] = cyc
        src, app, ups = cyc.path("src"), cyc.path("append"), cyc.path("upsert")
        total = 0
        kind = "warm" if warm else "etl"

        def op(name, module, steps):
            return runner.op(name, kind, module, steps, unit, traced)

        for tick in range(n_ticks):
            chunk = cyc.chunks.chunk(tick)
            if chunk is not None:
                total += chunk.num_rows
                cyc.landed.append((tick, total, land_chunk(chunk, src, tick)))
            op("source_scan", "sources.rest", [
                ("build", "sources.rest", lambda _: self.source_scan(spark, sf)),
                ("action", "collect" if warm else "write.noop", _collect if warm else _noop)])
            op("append", "streaming.jobs", [
                ("call", "streaming.jobs", lambda _: jobs.run_stream_to_manifest_sink(
                    spark, src, cyc.path("ckpt-append"), app))])
            op("upsert", "streaming.jobs", [
                ("call", "streaming.jobs", lambda _: jobs.run_stream_to_upsert_sink(
                    spark, src, cyc.path("ckpt-upsert"), ups))])
            read = op("snapshot_read", "sinks", [
                ("build", "sinks", lambda _: sinks.read_snapshot(spark, app)),
                ("action", "sinks", lambda df: 0 if df is None else df.count())])
            if read.ok:
                cyc.reads.append((tick, read.result, read.start + read.wall_s))
            if tick % every == 0:
                name = "flagship_commit" if tick == 0 else "flagship_retry"
                rec = op(name, "pipelines", [
                    ("call", "pipelines", lambda _: pipelines.run_incremental_append(
                        spark, sf, cyc.path("flagship")))])
                if rec.ok:
                    cyc.flagship_counts.append(rec.result)

    def freshness(self, unit: int) -> list[float]:
        """Per landed chunk: seconds from landing to the end of the first
        snapshot read that counted its rows."""
        cyc, out = self.cycles[unit], []
        for tick, rows_so_far, landed in cyc.landed:
            for rtick, count, end in cyc.reads:
                if rtick >= tick and count >= rows_so_far:
                    out.append(end - landed)
                    break
        return out

    def check(self, records, oracle) -> list[str]:
        """Sinks against the generator; flagship and source against DuckDB."""
        import pyarrow.parquet as pq

        from .oracle import mismatch

        bad = []
        flagship_rows = oracle.count(self.flagship_sql)
        for unit, cyc in self.cycles.items():
            tag = f"cycle {unit}"
            app = read_manifest(cyc.path("append"))["files"]
            ids = [
                i
                for f in app
                for i in pq.read_table(os.path.join(cyc.path("append"), f),
                                       columns=["event_id"]).column(0).to_pylist()
            ]
            want = cyc.chunks.expected_ids()
            if len(ids) != len(want) or set(ids) != want:
                bad.append(f"{tag}: append sink holds {len(ids)} ids, expected {len(want)}")
            ups = read_manifest(cyc.path("upsert"))["files"]
            got = {}
            for f in ups:
                t = pq.read_table(os.path.join(cyc.path("upsert"), f),
                                  columns=["user_id", "ts", "event_id"])
                ts = _epoch_us(t.column("ts"))
                for u, k, e in zip(t.column("user_id").to_pylist(), ts,
                                   t.column("event_id").to_pylist()):
                    if u in got:
                        bad.append(f"{tag}: user {u} twice in the serving table")
                    got[u] = (k, e)
            if got != cyc.chunks.expected_latest():
                bad.append(f"{tag}: serving table differs from latest event per user")
            for count in cyc.flagship_counts:
                if count != flagship_rows:
                    bad.append(f"{tag}: flagship sink has {count} rows, expected {flagship_rows}")
            for tick, count, _end in cyc.reads:
                want_rows = max((r for t, r, _ in cyc.landed if t <= tick), default=0)
                if count != want_rows:
                    bad.append(f"{tag} tick {tick}: snapshot read {count} rows, expected {want_rows}")
        want_cols, want_rows = oracle.rows(self.source_sql)
        self.source_rows = len(want_rows)
        for r in records:
            if r.name == "source_scan" and r.kind == "warm" and r.ok:
                diff = mismatch(*r.result, want_cols, want_rows)
                if diff:
                    bad.append(f"source_scan: {diff}")
                r.result = None
        return bad

    def sink_state(self, unit: int) -> dict:
        """Files and bytes under one cycle's sink roots."""
        cyc = self.cycles[unit]
        st = {"versions": 0, "files_live": 0, "bytes_live": 0, "files_written": 0,
              "bytes_written": 0, "bytes_total": 0, "manifest_bytes": 0,
              "upsert_written": 0, "upsert_live": 0}
        for name in ("append", "upsert", "flagship"):
            root = cyc.path(name)
            if not os.path.isdir(root):
                continue
            snap = read_manifest(root)
            live = sum(os.path.getsize(os.path.join(root, f)) for f in snap["files"])
            st["versions"] += snap["version"]
            st["files_live"] += len(snap["files"])
            st["bytes_live"] += live
            for dirpath, _dirs, files in os.walk(root):
                for f in files:
                    size = os.path.getsize(os.path.join(dirpath, f))
                    st["bytes_total"] += size
                    if os.sep + "_manifest" in dirpath:
                        st["manifest_bytes"] += size
                    elif f.endswith(".parquet"):
                        st["files_written"] += 1
                        st["bytes_written"] += size
                        if name == "upsert":
                            st["upsert_written"] += size
            if name == "upsert":
                st["upsert_live"] = live
        return st

    def cleanup(self) -> None:
        for cyc in self.cycles.values():
            shutil.rmtree(cyc.root, ignore_errors=True)
