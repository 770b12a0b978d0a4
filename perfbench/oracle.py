"""Output checks: registry queries against their DuckDB oracle SQL.

Same comparison as the engine's driver contract: row count, sorted
column names, and an order-insensitive multiset of rows with floats
rounded to 1e-6. One difference: two floats that the query rounded to
two to four decimals may differ by one unit in their last place.

That is the midpoint case. The seeded money columns are on a cent grid,
so a query such as ``round(sum(price * (1 - discount)), 2)`` or
``round(round(sum(price), 2) / count(*), 4)`` sometimes has an exact
value that lies on the rounding midpoint (316351.975; 252220.10375).
Spark and DuckDB each compute it in double arithmetic, with their own
summation order and rounding method, and land on either side of it:
on one seed the engine returns the exact decimal rounding and DuckDB
does not, on another the reverse. Neither output is wrong, so the
check accepts either neighbour and nothing wider.
"""

from __future__ import annotations

import math


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def _row_key(row: tuple):
    """Sort key that orders rows by their non-float values first, so a
    last-place float difference does not change which rows are paired."""
    return (
        tuple(repr(v) for v in row if not isinstance(v, float)),
        tuple(v for v in row if isinstance(v, float)),
    )


def canon(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Sort columns by name and rows as a multiset."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted((tuple(norm(r[i]) for i in order) for r in rows), key=_row_key)
    return [columns[i] for i in order], out


def _decimals(v: float) -> int:
    """Decimals ``repr`` shows; exponent forms count as many."""
    text = repr(v)
    if "e" in text:
        return 99
    return len(text.split(".")[1]) if "." in text else 0


def midpoint_pair(a: float, b: float) -> bool:
    """True when ``a`` and ``b`` show two to four decimals and differ by
    exactly one unit in the last of them: the two roundings of a value
    on the midpoint between them."""
    k = max(_decimals(a), _decimals(b))
    if not 2 <= k <= 4:
        return False
    unit = 10.0**-k
    slack = max(unit * 1e-3, 4 * math.ulp(max(abs(a), abs(b))))
    return abs(abs(a - b) - unit) <= slack


def same_row(s: tuple, o: tuple) -> bool:
    return len(s) == len(o) and all(
        a == b or (isinstance(a, float) and isinstance(b, float) and midpoint_pair(a, b))
        for a, b in zip(s, o)
    )


class Oracle:
    """DuckDB connection with one view per fixture table."""

    def __init__(self, sf_dir: str, tables: list[str]):
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        rel = self.con.sql(sql)
        return canon(list(rel.columns), rel.fetchall())

    def count(self, sql: str) -> int:
        return self.con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]

    def close(self) -> None:
        self.con.close()


def mismatch(spark_cols, spark_rows, oracle_cols, oracle_rows) -> str | None:
    """None when equal, else a one-line description of the difference."""
    sc, sr = canon(list(spark_cols), spark_rows)
    if sc != oracle_cols:
        return f"columns spark={sc} oracle={oracle_cols}"
    if len(sr) != len(oracle_rows):
        return f"rows spark={len(sr)} oracle={len(oracle_rows)}"
    for s, o in zip(sr, oracle_rows):
        if not same_row(s, o):
            return f"first differing row spark={s!r} oracle={o!r}"
    return None
