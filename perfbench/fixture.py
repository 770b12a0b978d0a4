"""Seeded input generator: the star-schema fixture tables and the
``etl_ticks`` event chunks.

The engine reads ten parquet tables from one directory (see
FIXTURES.md for the schemas). This module writes them from a seed, with
the same column domains as the engine's reference fixtures: uniform
keys, five market segments, 25 brands, 64 part names, a 30-word
document vocabulary with planted near-duplicate documents, and
unit-norm random 64-d embeddings with a few planted near-duplicates.
The same ``(seed, sf)``
always yields byte-identical tables.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line"
    " merge order part query row scan slow small sort spark stream table the"
    " value vector window"
).split()
_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in µs since the epoch
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01


def _rows(base: int, sf: float) -> int:
    return max(1, int(round(base * sf / 0.001)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n_days: int, n: int, start_us: int) -> pa.Array:
    us = start_us + rng.integers(0, n_days, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Random texts over a small vocabulary; about 5% of documents are
    near-copies of an earlier one (a few tokens swapped, one ``dup``
    token inserted), so the dedup and graph operators find real pairs."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(words) // 30)):
                words[int(rng.integers(0, len(words)))] = _VOCAB[
                    int(rng.integers(0, len(_VOCAB)))
                ]
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        else:
            words = [_VOCAB[j] for j in rng.integers(0, len(_VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    lang_p = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([_LANGS[j] for j in rng.choice(5, n, p=lang_p)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    labels = rng.integers(0, 10, n)
    vecs = rng.normal(0.0, 1.0, (n, dim))
    # a few near-duplicate vectors for the near-dup similarity ops
    for i in rng.choice(np.arange(1, n), max(1, n // 100), replace=False):
        vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(0.0, 0.01, dim)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = _rows(150, sf), _rows(10, sf)
    n_part, n_ord, n_li = _rows(200, sf), _rows(1500, sf), _rows(6000, sf)
    n_ev = _rows(1000, sf)
    n_docs = 500 if sf <= 0.01 else _rows(50, sf)
    n_emb = 500 if sf <= 0.01 else _rows(20, sf)
    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    }
    t["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }
    t["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array([_SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]),
    }
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    }
    t["part"] = {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(
            [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
        ),
        "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([_PART_TYPES[j] for j in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)
        ),
    }
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _days(rng, 2404, n_ord, _EPOCH_1995),
        "o_orderpriority": pa.array([_PRIORITIES[j] for j in rng.integers(0, 5, n_ord)]),
    }
    t["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([("F", "O")[j] for j in rng.integers(0, 2, n_li)]),
        "l_shipdate": _days(rng, 2499, n_li, _EPOCH_1995 + _DAY_US),
    }
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, _rows(15, sf), n_ev), pa.int64()),
        "event_type": pa.array([_EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)]),
        "value": pa.array(_money(rng, 0.01, 500.0, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)
    return {name: pa.table(cols) for name, cols in t.items()}


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# etl_ticks: the cron job's arriving event chunks
# ---------------------------------------------------------------------------

EVENT_ARROW_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
    ]
)


# etl_ticks arrivals: Zipf-skewed users over a key space that grows per
# tick; a share of each chunk arrives late
_ZIPF_A = 1.3
_BASE_KEYS, _KEY_GROWTH = 200, 50
_LATE_SHARE, _LATE_HOURS = 0.1, 6


@dataclass
class EventChunks:
    """Seeded chunk generator for one ``etl_ticks`` cycle.

    Users are Zipf-skewed over a key space that grows by ``_KEY_GROWTH``
    per tick; ``_LATE_SHARE`` of a chunk's events carry a timestamp up to
    ``_LATE_HOURS`` before the tick's clock; ``n_idle`` of the ticks after
    the first, at seeded positions, are idle (no chunk). ``events`` keeps
    every generated row so the sinks can be checked against it.
    """

    seed: int
    rows_per_chunk: int
    n_ticks: int
    n_idle: int = 1
    events: list[pa.Table] = field(default_factory=list)
    _next_id: int = 0

    def __post_init__(self) -> None:
        self._rng = np.random.default_rng(self.seed)
        n_idle = min(self.n_idle, self.n_ticks - 1)
        self.idle = set(self._rng.choice(np.arange(1, self.n_ticks), n_idle, replace=False).tolist())

    def chunk(self, tick: int) -> pa.Table | None:
        """Rows landing before ``tick``; None on an idle tick. Tick 0 is
        never idle, so every cycle has something to load."""
        rng = self._rng
        if tick in self.idle:
            return None
        n = self.rows_per_chunk
        keys = _BASE_KEYS + _KEY_GROWTH * tick
        users = (rng.zipf(_ZIPF_A, n) - 1) % keys
        clock = _EPOCH_2024 + tick * 3_600_000_000
        ts = clock + rng.integers(0, 3_600_000_000, n)
        late = rng.choice(n, int(n * _LATE_SHARE), replace=False)
        ts[late] -= rng.integers(0, _LATE_HOURS * 3_600_000_000, late.size)
        ids = np.arange(self._next_id, self._next_id + n)
        self._next_id += n
        table = pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "user_id": pa.array(users, pa.int64()),
                "event_type": pa.array([_EVENT_TYPES[j] for j in rng.integers(0, 5, n)]),
                "value": pa.array(_money(rng, 0.01, 500.0, n)),
            },
            schema=EVENT_ARROW_SCHEMA,
        )
        self.events.append(table)
        return table

    def expected_ids(self) -> set[int]:
        return {i for t in self.events for i in t.column("event_id").to_pylist()}

    def expected_latest(self) -> dict[int, tuple]:
        """user_id → (ts µs, event_id) of the user's latest event, ties
        on ts broken by the larger event_id (the upsert job's rule)."""
        best: dict[int, tuple] = {}
        for t in self.events:
            ts = t.column("ts").cast(pa.int64()).to_pylist()
            for u, k, e in zip(t.column("user_id").to_pylist(), ts, t.column("event_id").to_pylist()):
                if u not in best or (k, e) > best[u]:
                    best[u] = (k, e)
        return best


def land_chunk(table: pa.Table, src_dir: str, seq: int) -> float:
    """Atomically publish ``table`` as the ``seq``-th file of the stream
    source directory; returns the wall-clock landing time. The file is
    written under a hidden name (the file source skips those) and
    renamed into place, with an mtime strictly after earlier chunks so
    the source's mtime ordering is the landing order."""
    import time

    os.makedirs(src_dir, exist_ok=True)
    tmp = os.path.join(src_dir, f".chunk-{seq:05d}.parquet.tmp")
    dst = os.path.join(src_dir, f"chunk-{seq:05d}.parquet")
    pq.write_table(table, tmp)
    os.utime(tmp, (1_700_000_000 + seq, 1_700_000_000 + seq))
    os.replace(tmp, dst)
    return time.time()
