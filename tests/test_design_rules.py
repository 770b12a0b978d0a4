"""Static checks of the package design rules stated in its ``__init__``."""

from __future__ import annotations

import ast
import os

import seamless_sharepoint_etl_spark as pkg

_PKG_DIR = os.path.dirname(pkg.__file__)
# called anywhere: both run Python through the RDD worker pool
_RDD_METHODS = {"foreachPartition", "parallelize"}
# called on `.rdd`: every Python-function RDD op; getNumPartitions
# only asks the JVM for the partition count
_RDD_ALLOWED = {"getNumPartitions"}


def rdd_api_calls(source: str) -> list[tuple[int, str]]:
    """(line, call) for each RDD-API call in ``source``; comments and
    strings are not code, so a mention in either does not count."""
    found = []
    for node in ast.walk(ast.parse(source)):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        attr, owner = node.func.attr, node.func.value
        on_rdd = isinstance(owner, ast.Attribute) and owner.attr == "rdd"
        if attr in _RDD_METHODS or (on_rdd and attr not in _RDD_ALLOWED):
            found.append((node.lineno, f".rdd.{attr}(" if on_rdd else f"{attr}("))
    return sorted(found)


def test_rdd_api_detector():
    snippet = """
df.foreachPartition(f)
df.repartition(8).foreachPartition(lambda it: None)
sc.parallelize([1, 2])
df.rdd.map(lambda r: r).collect()
df.rdd.flatMap(f)
df.rdd.mapPartitions(f)
df.rdd.foreach(f)
n = df.rdd.getNumPartitions()
# .rdd.map(lambda r: r) and foreachPartition( in a comment
s = "df.rdd.map(f) parallelize(x)"
"""
    assert [call for _, call in rdd_api_calls(snippet)] == [
        "foreachPartition(",
        "foreachPartition(",
        "parallelize(",
        ".rdd.map(",
        ".rdd.flatMap(",
        ".rdd.mapPartitions(",
        ".rdd.foreach(",
    ]


def test_package_never_calls_the_rdd_api():
    """Python on executors runs through the SQL/Arrow worker pool only:
    an RDD-API call opens a second pool, one worker per task slot."""
    offenders = []
    for root, _dirs, files in os.walk(_PKG_DIR):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path, encoding="utf-8") as fh:
                    for line, call in rdd_api_calls(fh.read()):
                        offenders.append(f"{os.path.relpath(path, _PKG_DIR)}:{line} {call}")
    assert not offenders, offenders
