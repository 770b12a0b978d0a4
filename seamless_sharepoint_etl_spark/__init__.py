"""seamless_sharepoint_etl_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the data-processing
capabilities of the reference ETL job (MAPC/seamless-sharepoint-etl,
surveyed in SURVEY.md), extended with the relational / window /
streaming / LLM-data-pipeline operator surface required by the driver
contract (SURVEY.md §2 Tier B).

Design rules (see SURVEY.md §7):
  * DataFrame/SQL only — the logical plan is declared, Catalyst +
    Tungsten + AQE pick the physical strategy.
  * No driver-side collects inside operators; everything stays
    distributed and scales by partitioning.
  * Python UDFs only where built-ins genuinely cannot express the
    semantics, and then always Arrow-batched (pandas_udf /
    applyInPandas / mapInPandas), never row-at-a-time.
  * Never the RDD API (foreachPartition, .rdd.map, parallelize, ...):
    it opens a second Python worker pool, one worker per task slot,
    beside the SQL/Arrow pool the Python kernels already hold.
"""

__version__ = "0.1.0"
