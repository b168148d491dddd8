"""Seeded input generators: the star-schema, events and documents tables the
registry queries read, and the pre-built json records of the stream
workload. The same seed always gives the same inputs.

Row counts and value domains follow the fixture profile in FIXTURES.md
(uniform keys, TPC-H-style dimension names, exponential event values,
5% near-duplicate documents), scaled linearly by ``sf``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

TS_US = pa.timestamp("us")
DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _days(rng: np.random.Generator, n: int, start_us: int, span_days: int) -> pa.Array:
    return pa.array(start_us + rng.integers(0, span_days, n) * DAY_US, TS_US)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float, tables: set[str]) -> dict[str, pa.Table]:
    """Build the requested tables. Each table draws from its own child
    stream of ``seed``, so asking for a subset never changes a table."""
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 200)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 1000)
    n_users = max(int(15_000 * sf), 20)
    n_docs = max(int(50_000 * sf), 100)
    names = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents",
    ]
    rngs = dict(zip(names, (np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(len(names)))))
    out: dict[str, pa.Table] = {}
    for name in names:
        if name not in tables:
            continue
        r = rngs[name]
        if name == "region":
            out[name] = pa.table({
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": REGIONS,
            })
        elif name == "nation":
            out[name] = pa.table({
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            })
        elif name == "customer":
            out[name] = pa.table({
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
                "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
            })
        elif name == "supplier":
            out[name] = pa.table({
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
            })
        elif name == "part":
            keys = np.arange(n_part, dtype=np.int64)
            out[name] = pa.table({
                "p_partkey": keys,
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
                "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
                "p_size": r.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
            })
        elif name == "orders":
            out[name] = pa.table({
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
                "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _days(r, n_ord, EPOCH_1995, 2400),
                "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
            })
        elif name == "lineitem":
            out[name] = pa.table({
                "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
                "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
                "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
                "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
                "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
                "l_discount": r.integers(0, 11, n_line) / 100.0,
                "l_tax": r.integers(0, 9, n_line) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
                "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
                "l_shipdate": _days(r, n_line, EPOCH_1995 + DAY_US, 2500),
            })
        elif name == "events":
            ts = np.sort(EPOCH_2024 + r.integers(0, 30 * DAY_US, n_ev))
            out[name] = pa.table({
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": pa.array(ts, TS_US),
                "user_id": r.integers(0, n_users, n_ev).astype(np.int64),
                "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
                "value": np.round(r.exponential(50.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
            })
        elif name == "documents":
            lens = r.integers(8, 100, n_docs)
            texts = [" ".join(np.array(WORDS)[r.integers(0, len(WORDS), k)]) for k in lens]
            # 5% near-duplicates: another document's text with a suffix word
            dups = r.choice(n_docs, n_docs // 20, replace=False)
            for d, src in zip(dups, r.integers(0, n_docs, len(dups))):
                if src != d:
                    texts[d] = texts[src] + " dup"
            out[name] = pa.table({
                "doc_id": np.arange(n_docs, dtype=np.int64),
                "text": texts,
                "lang": np.array(LANGS)[r.choice(5, n_docs, p=LANG_P)],
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            })
    return out


def write_tables(tables: dict[str, pa.Table], dest: str) -> None:
    """One parquet file per table, the layout ``sources.load_table`` and the
    DuckDB oracle views both read."""
    os.makedirs(dest, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(dest, f"{name}.parquet"))


# --- stream workload -------------------------------------------------------

#: json schema of one ``events`` record on the wire (values in integer cents)
EVENT_SCHEMA = "event_id bigint, user_id bigint, value bigint"

#: the emulated topic's on-disk schema (sources.kafka_emulator.WIRE_SCHEMA)
WIRE = pa.schema([
    ("key", pa.binary()),
    ("value", pa.binary()),
    ("topic", pa.string()),
    ("partition", pa.int32()),
    ("offset", pa.int64()),
    ("timestamp", pa.timestamp("us", tz="UTC")),
])


@dataclass
class EventPool:
    """Pre-built events, indexed by event id: ``user``, ``cents`` and the
    json wire payload of each."""

    user: np.ndarray
    cents: np.ndarray
    payload: list[bytes]

    def table(self, lo: int, hi: int, stamp_us: int) -> pa.Table:
        """Events ``lo .. hi-1`` as a wire table, every record stamped
        ``stamp_us``. One partition, so offsets equal event ids."""
        n = hi - lo
        return pa.table(
            [
                pa.nulls(n, pa.binary()),
                pa.array(self.payload[lo:hi], pa.binary()),
                pa.array(["events"] * n, pa.string()),
                pa.array(np.zeros(n, np.int32)),
                pa.array(np.arange(lo, hi, dtype=np.int64)),
                pa.array(np.full(n, stamp_us, np.int64)).cast(WIRE.field("timestamp").type),
            ],
            schema=WIRE,
        )


def make_events(seed: int, n: int, n_users: int = 200, zipf_a: float = 1.1) -> EventPool:
    """Events with Zipf-skewed ``user_id`` (hot keys) and exponential values
    in integer cents, json-encoded up front so the generator thread only
    stamps and writes."""
    r = np.random.default_rng(np.random.SeedSequence([seed, 7]))
    user = ((r.zipf(zipf_a, n) - 1) % n_users).astype(np.int64)
    cents = np.maximum(np.round(r.exponential(5000.0, n)), 1).astype(np.int64)
    payload = [
        b'{"event_id":%d,"user_id":%d,"value":%d}' % t
        for t in zip(range(n), user.tolist(), cents.tolist())
    ]
    return EventPool(user, cents, payload)
