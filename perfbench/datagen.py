"""Seeded generator of the star-schema tables the registered queries read.

One parquet FILE per table, one row group each, with the column names
and physical types of the schema in ``FIXTURES.md``:

- dimensions ``region nation customer supplier part``;
- facts ``orders lineitem`` (order and ship dates are naive
  ``timestamp[us]`` at midnight, 1995..2001);
- ``events`` (30 days of naive ``timestamp[us]`` event times, rising
  with ``event_id``; exponential ``value`` with mean 50);
- ``documents`` (10..99 words from a 30-word vocabulary, 5% near
  duplicates ending in `` dup``) and ``embeddings`` (64 float32).

Every numeric measure is fixed-point with 2 decimals, which the
library's integer-sum parity paths rely on.  Row counts follow TPC-H
ratios times the scale factor; ``ROWS_SF1`` is the single place they
live.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: rows per table at scale factor 1 (region and nation are fixed)
ROWS_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
COLORS = ("red", "blue", "green", "small", "large", "steel", "brass", "black")
NOUNS = ("widget", "bolt", "ring", "anvil", "gear", "spring", "valve", "nut")
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.44, 0.14, 0.14, 0.14, 0.14)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000


def rows(sf: float) -> dict[str, int]:
    """Row count of every table at scale factor ``sf``."""
    out = {"region": len(REGIONS), "nation": 25}
    for name, n in ROWS_SF1.items():
        out[name] = max(1, int(round(n * sf)))
    out["documents"] = out["embeddings"] = max(500, out["documents"])
    return out


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform fixed-point values with 2 decimals in [lo, hi]."""
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return cents / 100.0


def _days(rng, first: str, last: str, n: int) -> pa.Array:
    """Uniform midnight timestamps between two ISO dates, inclusive."""
    d0 = dt.date.fromisoformat(first).toordinal()
    d1 = dt.date.fromisoformat(last).toordinal()
    epoch = dt.date(1970, 1, 1).toordinal()
    days = rng.integers(d0, d1 + 1, n) - epoch
    return pa.array(days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _labels(prefix: str, keys: np.ndarray, width: int) -> list[str]:
    return [f"{prefix}{k:0{width}d}" for k in keys]


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = rows(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": list(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    keys = np.arange(n["customer"], dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": keys,
        "c_name": _labels("Customer#", keys, 9),
        "c_nationkey": rng.integers(0, 25, len(keys)).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(keys)),
        "c_mktsegment": rng.choice(SEGMENTS, len(keys)),
    })
    keys = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": keys,
        "s_name": _labels("Supplier#", keys, 9),
        "s_nationkey": rng.integers(0, 25, len(keys)).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, len(keys)),
    })
    keys = np.arange(n["part"], dtype=np.int64)
    names = [f"{c} {w}" for c in COLORS for w in NOUNS]
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": rng.choice(names, len(keys)),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(keys))],
        "p_type": rng.choice(PART_TYPES, len(keys)),
        "p_size": rng.integers(1, 51, len(keys)).astype(np.int32),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0,
    })
    keys = np.arange(n["orders"], dtype=np.int64)
    out["orders"] = pa.table({
        "o_orderkey": keys,
        "o_custkey": rng.integers(0, n["customer"], len(keys)),
        "o_orderstatus": rng.choice(STATUSES, len(keys)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, len(keys)),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", len(keys)),
        "o_orderpriority": rng.choice(PRIORITIES, len(keys)),
    })
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": np.round(rng.uniform(0.0, 0.1, m), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, m), 2),
        "l_returnflag": rng.choice(("A", "N", "R"), m),
        "l_linestatus": rng.choice(("F", "O"), m),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m),
    })
    m = n["events"]
    start = (
        dt.date(2024, 1, 1).toordinal() - dt.date(1970, 1, 1).toordinal()
    ) * _DAY_US
    offsets = np.sort(rng.integers(0, 30 * _DAY_US, m))
    out["events"] = pa.table({
        "event_id": np.arange(m, dtype=np.int64),
        "ts": pa.array(start + offsets, pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, int(round(15_000 * sf))), m),
        "event_type": rng.choice(EVENT_TYPES, m),
        "value": np.maximum(
            np.round(rng.exponential(50.0, m), 2), 0.01
        ),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, m)],
    })
    m = n["documents"]
    texts: list[str] = []
    for i in range(m):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": np.arange(m, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, m, p=LANG_WEIGHTS),
        "source": [f"src{i % 20}" for i in range(m)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.normal(0.0, 0.1, (m, 64)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), 64
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, m).astype(np.int32),
    })
    return out


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<table>.parquet``; return row
    counts.  Files are written under a temporary name and renamed, so a
    reader never sees a partial file."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in _tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        tmp = path + ".tmp"
        pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
        os.replace(tmp, path)
        counts[name] = table.num_rows
    return counts
