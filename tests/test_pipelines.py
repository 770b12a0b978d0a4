"""Reference-parity semantics of the incremental ETL (SURVEY.md §2 A1-A11)."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_DIR


def test_watermark_frontier_strictness(spark):
    """Every loaded row is strictly beyond the sink watermark (A4/A11)."""
    from seamless_sharepoint_etl_spark import io, pipelines

    sink = io.sharepoint_rows(spark, SF_DIR)
    wm = sink.agg(F.max("po_number")).first()[0]
    fresh = pipelines.incremental_load(spark, SF_DIR)
    assert fresh.filter(F.col("po_number") <= wm).count() == 0
    # union of sink + fresh covers the whole source exactly once
    items_n = io.seamless_items(spark, SF_DIR).count()
    assert sink.count() + fresh.count() == items_n


def test_rerun_idempotence(spark, tmp_path):
    """Re-running the same frontier does not duplicate rows (A11, §7.3#5)."""
    from seamless_sharepoint_etl_spark import pipelines

    from seamless_sharepoint_etl_spark import sinks

    out = str(tmp_path / "sink")
    n1 = pipelines.run_incremental_append(spark, SF_DIR, out)
    n2 = pipelines.run_incremental_append(spark, SF_DIR, out)
    assert n1 == n2
    assert sinks.read_snapshot(spark, out).count() == n1
    assert len(sinks.committed_txns(out)) == 1  # one txn, not two


def test_routing_split_covers_everything(spark):
    """A12: the two routes partition the source exactly."""
    from seamless_sharepoint_etl_spark import io, pipelines

    routed = pipelines.routed(spark, SF_DIR)
    total = io.seamless_items(spark, SF_DIR).count()
    by_route = dict(routed.groupBy("route").count().collect())
    assert sum(by_route.values()) == total
    assert set(by_route) <= {"over_1500", "under_1500"}


def test_routed_write_single_pass(spark, tmp_path):
    from seamless_sharepoint_etl_spark import pipelines

    out = str(tmp_path / "routed")
    counts = pipelines.write_routed(spark, SF_DIR, out)
    written = spark.read.parquet(out)
    assert written.count() == sum(counts.values())
    assert set(r["route"] for r in written.select("route").distinct().collect()) == set(
        counts
    )


def test_routed_write_partition_pruning(spark, tmp_path):
    """The $1500 split written with partitionBy(route) prunes at read:
    a route predicate becomes a PartitionFilter (directory skip), never
    a data filter — the physical evidence that the A12 split scales."""
    from seamless_sharepoint_etl_spark import pipelines

    out = str(tmp_path / "routed")
    counts = pipelines.write_routed(spark, SF_DIR, out)
    assert set(counts) == {"over_1500", "under_1500"}

    back = spark.read.parquet(out).filter("route = 'over_1500'")
    assert back.count() == counts["over_1500"]
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(route" in plan, plan
    # the route predicate must NOT appear as a pushed data filter —
    # it's resolved at directory level
    assert "PushedFilters: []" in plan, plan


def test_manifest_sink_crash_between_write_and_commit(spark, tmp_path, monkeypatch):
    """Kill-point test (SURVEY §7.3#5): a crash AFTER the distributed
    data write but BEFORE the manifest flip must leave the sink
    logically unchanged — readers never see the half-committed batch,
    and vacuum sweeps the orphan files."""
    import os

    from seamless_sharepoint_etl_spark import io, sinks

    root = str(tmp_path / "sink")
    base = io.load_table(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    sinks.commit_append(base.limit(5), root, txn_id="t1")
    before = sinks.read_snapshot(spark, root).count()
    assert before == 5

    # crash injection: os.replace is THE commit point — die just before
    real_replace = os.replace

    def boom(src, dst):
        if os.path.basename(dst) == "LATEST":
            raise RuntimeError("simulated crash before manifest flip")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", boom)
    try:
        sinks.commit_append(base.limit(9), root, txn_id="t2")
        raise AssertionError("crash injection did not fire")
    except RuntimeError:
        pass
    monkeypatch.setattr(os, "replace", real_replace)

    # reader still sees exactly the pre-crash snapshot
    assert sinks.read_snapshot(spark, root).count() == before
    assert sinks.committed_txns(root) == {"t1"}
    # the orphaned txn-t2 data files exist on disk but are invisible;
    # vacuum removes them and never touches committed files
    orphans = sinks.vacuum(root)
    assert orphans and all("txn-t2" in p for p in orphans)
    assert sinks.read_snapshot(spark, root).count() == before

    # the recovered writer retries the SAME txn id → lands exactly once
    sinks.commit_append(base.limit(9), root, txn_id="t2")
    assert sinks.read_snapshot(spark, root).count() == before + 9
    sinks.commit_append(base.limit(9), root, txn_id="t2")  # duplicate retry
    assert sinks.read_snapshot(spark, root).count() == before + 9


def test_manifest_sink_exactly_once_retry(spark, tmp_path):
    """Re-committing an already-committed txn id is a durable no-op."""
    from seamless_sharepoint_etl_spark import io, sinks

    root = str(tmp_path / "sink")
    base = io.load_table(spark, SF_DIR, "region")
    s1 = sinks.commit_append(base, root, txn_id="batch-1")
    s2 = sinks.commit_append(base, root, txn_id="batch-1")
    assert s1["version"] == s2["version"] == 1
    assert sinks.read_snapshot(spark, root).count() == base.count()


def test_sink_time_travel_reads_past_snapshots(spark, tmp_path):
    """Every committed version stays readable by number until vacuum;
    vacuum then keeps only the latest snapshot's files (Delta-style
    retention tradeoff, documented in read_snapshot)."""
    import pytest as _pytest

    from seamless_sharepoint_etl_spark import io, sinks

    root = str(tmp_path / "tt_sink")
    base = io.load_table(spark, SF_DIR, "orders").select("o_orderkey")
    sinks.commit_append(base.limit(3), root, txn_id="t1")
    sinks.commit_append(base.limit(5), root, txn_id="t2")
    sinks.commit_append(base.limit(7), root, txn_id="t3")

    assert sinks.read_snapshot(spark, root, version=1).count() == 3
    assert sinks.read_snapshot(spark, root, version=2).count() == 3 + 5
    assert sinks.read_snapshot(spark, root).count() == 3 + 5 + 7
    with _pytest.raises(ValueError):
        sinks.read_snapshot(spark, root, version=9)

    # vacuum keeps only LATEST's files — history remains listed in old
    # manifests but their data is gone; latest is untouched
    assert sinks.vacuum(root) == []  # all files still referenced by LATEST
    assert sinks.read_snapshot(spark, root).count() == 15


def test_commit_upsert_file_granular_copy_on_write(spark, tmp_path):
    """commit_upsert rewrites ONLY files containing incoming keys: an
    upsert whose keys live in txn-2's file leaves txn-1's file
    referenced untouched in the new manifest, matched rows are
    replaced, new keys inserted, and a txn retry is a no-op."""
    from seamless_sharepoint_etl_spark import sinks

    root = str(tmp_path / "upsink")
    a = spark.range(0, 5).selectExpr("id AS k", "CAST(0 AS LONG) AS v").coalesce(1)
    b = spark.range(10, 15).selectExpr("id AS k", "CAST(0 AS LONG) AS v").coalesce(1)
    sinks.commit_append(a, root, txn_id="t1")
    snap1_files = set(sinks.commit_append(b, root, txn_id="t2")["files"])
    t1_files = {f for f in snap1_files if "txn-t1" in f}
    assert t1_files

    up = spark.createDataFrame([(10, 99), (100, 7)], ["k", "v"]).coalesce(1)
    snap2 = sinks.commit_upsert(spark, up, root, ["k"], txn_id="t3")
    # txn-1's file (keys 0-4, untouched) carries over by reference;
    # txn-2's file (contains k=10) was rewritten
    assert t1_files <= set(snap2["files"])
    assert not any("txn-t2" in f for f in snap2["files"])

    rows = {
        (r["k"], r["v"]) for r in sinks.read_snapshot(spark, root).collect()
    }
    want = {(i, 0) for i in range(5)} | {(i, 0) for i in (11, 12, 13, 14)} | {
        (10, 99),
        (100, 7),
    }
    assert rows == want

    again = sinks.commit_upsert(spark, up, root, ["k"], txn_id="t3")
    assert again["version"] == snap2["version"]
