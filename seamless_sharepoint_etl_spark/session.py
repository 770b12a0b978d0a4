"""SparkSession factory with the engine's canonical configuration.

The driver supplies its own session to ``__spark_entry__``; this factory
is for tests, bench runs, and standalone use. ``configure()`` applies the
*dynamic* (session-settable) knobs to any session, including a
driver-provided one — notably the legacy nanos-as-long parquet flag the
``events`` table needs (its parquet ts column is TIMESTAMP(NANOS), which
Spark 4 otherwise refuses to read).

Scale posture (100 TB): AQE is the load-bearing setting — it coalesces
shuffle partitions, switches sort-merge→broadcast when runtime stats
allow, and splits skewed partitions. Shuffle partitions default to the
local core count here but are sized ``~2-3× total executor cores`` (or
left to AQE's advisory size) on a real cluster.
"""

from __future__ import annotations

import os
import warnings

from pyspark.errors import PySparkException
from pyspark.sql import SparkSession

# Dynamic (session-level) confs — safe to apply to an existing session.
DYNAMIC_CONF: dict[str, str] = {
    # events.parquet stores TIMESTAMP(NANOS); read as long, convert in io.py.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow transfer for every pandas_udf / applyInPandas / toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Runtime re-planning: partition coalescing, skew-join split,
    # broadcast-join conversion from runtime statistics.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let Python DataSources absorb Catalyst filters (sources/rest.py).
    "spark.sql.python.filterPushdown.enabled": "true",
    # Deterministic wall-clock-free semantics for tests/oracles.
    "spark.sql.session.timeZone": "UTC",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's dynamic confs to an existing session (idempotent).

    A conf the session refuses (static on some builds, or a value it
    rejects) is named in one ``RuntimeWarning``; the engine then runs on
    the session's own value (io.py re-checks the one truly required flag).
    """
    refused = []
    for k, v in DYNAMIC_CONF.items():
        try:
            spark.conf.set(k, v)
        except PySparkException as e:
            refused.append(f"{k}={v} ({e.getCondition() or type(e).__name__})")
    if refused:
        warnings.warn(
            "session.configure: confs not applied: " + "; ".join(refused),
            RuntimeWarning,
            stacklevel=2,
        )
    return spark


def get_spark(app_name: str = "seamless-sharepoint-etl-spark") -> SparkSession:
    """Build (or reuse) the canonical local session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver contract);
    shuffle partitions match so a local run has no dangling tiny tasks.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # keep catalog data out of the repo cwd (bucketed-layout tables
        # pass explicit external paths; this catches the default dir)
        .config("spark.sql.warehouse.dir", "/tmp/sse-warehouse")
    )
    for k, v in DYNAMIC_CONF.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())
