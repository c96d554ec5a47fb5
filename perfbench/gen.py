"""Seeded input generators for the benchmark.

Every table is a pure function of ``(seed, scale)``: the same seed
gives byte-identical parquet files, another seed gives other data.
The schemas and value distributions restate the engine's test
tables (TPC-H-ish star schema, an ``events`` click stream, a text
``documents`` corpus and an ``embeddings`` table), so every registry
query and its DuckDB oracle run unchanged on the generated
directory. ``scale`` follows the test tables' scale factors: at
scale 0.1, ``events`` has 100 000 rows and ``lineitem`` about
600 000.

Only NumPy and PyArrow are used, so generation never touches the
program under test.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
P_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
P_WORDS = ("large", "hot", "blue", "ring", "bolt", "green", "steel", "red")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

#: 2024-01-01T00:00:00 in epoch microseconds; events span 30 days
EVENTS_START_US = 1_704_067_200_000_000
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000
#: 1995-01-01 in epoch microseconds; orders span ~6.6 years
ORDERS_START_US = 788_918_400_000_000
DAY_US = 86_400 * 1_000_000


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, table) so adding a table
    never shifts another table's draws."""
    return np.random.default_rng([seed, *stream.encode()])


def events_table(seed: int, n: int) -> pa.Table:
    """Click stream: time-ordered Poisson-like arrivals over 30 days,
    uniform users and event types, exponential ``value``."""
    rng = rng_for(seed, "events")
    ts = np.sort(rng.integers(0, EVENTS_SPAN_US, n)) + EVENTS_START_US
    n_users = max(10, int(n * 0.015))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(np.minimum(rng.exponential(50.0, n), 560.0), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents_table(seed: int, n: int) -> pa.Table:
    """Text corpus: bag-of-words documents over a 30-word vocabulary,
    10-100 words each, with 5% near-duplicates (an earlier document
    plus a trailing ``dup`` token)."""
    rng = rng_for(seed, "documents")
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings_table(seed: int, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    """Unit vectors around ``k`` random centroids; ``label`` is the
    centroid id."""
    rng = rng_for(seed, "embeddings")
    centroids = rng.normal(size=(k, dim))
    labels = rng.integers(0, k, n).astype(np.int32)
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def tpch_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """region / nation / supplier / part / customer / orders /
    lineitem with the test tables' uniform, uncorrelated draws."""
    rng = rng_for(seed, "tpch")
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_cust = max(150, int(150_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    region = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": pa.array(REGIONS)}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
        }
    )
    words = np.array(P_WORDS)
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(
                np.char.add(np.char.add(words[rng.integers(0, 8, n_part)], " "),
                            words[rng.integers(0, 8, n_part)])
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }
    )
    odate = ORDERS_START_US + rng.integers(0, 2404, n_ord) * DAY_US
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pa.array(np.array(("O", "F", "P"))[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
            "o_orderdate": pa.array(odate, type=pa.timestamp("us")),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }
    )
    # ~4 lines per order over a random subset of orders, like the
    # test tables (not every order has lines)
    n_li = 4 * n_ord
    l_order = np.sort(rng.integers(0, n_ord, n_li))
    first = np.r_[True, l_order[1:] != l_order[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(n_li), 0))
    linenumber = (np.arange(n_li) - run_start) % 7 + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_order.astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(linenumber.astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.array(("A", "N", "R"))[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(("O", "F"))[rng.integers(0, 2, n_li)]),
            "l_shipdate": pa.array(
                ORDERS_START_US + (1 + rng.integers(0, 2499, n_li)) * DAY_US,
                type=pa.timestamp("us"),
            ),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "supplier": supplier,
        "part": part,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
    }


def write_table(table: pa.Table, path: str) -> None:
    """Deterministic parquet write: fixed row-group size and codec,
    no creation-time metadata."""
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20,
                   write_statistics=True)


def write_sf_dir(seed: int, scale: float, out_dir: str, tables: tuple[str, ...]) -> str:
    """Write the named tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    built: dict[str, pa.Table] = {}
    if any(t in tables for t in ("region", "nation", "supplier", "part",
                                 "customer", "orders", "lineitem")):
        built.update(tpch_tables(seed, scale))
    if "events" in tables:
        built["events"] = events_table(seed, int(1_000_000 * scale))
    if "documents" in tables:
        built["documents"] = documents_table(seed, max(50, int(50_000 * scale)))
    if "embeddings" in tables:
        built["embeddings"] = embeddings_table(seed, max(50, int(20_000 * scale)))
    for name in tables:
        write_table(built[name], os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ------------------------------------------------ lambda_cycle arrivals


@dataclass
class Arrivals:
    """A time-ordered split of an events table into a bootstrap base
    and arrival increments, with late facts re-timed into earlier
    increments. ``ts_us`` holds the (possibly re-timed) event time of
    every fact; ``parts[i]`` the row indices of increment ``i``
    (``parts[0]`` is the base)."""

    ts_us: np.ndarray
    parts: list[np.ndarray]


def split_arrivals(
    seed: int, ts: np.ndarray, base_share: float, n_increments: int, late_share: float
) -> Arrivals:
    """Split time-ordered facts (sorted event times ``ts``): the first
    ``base_share`` is the base, the rest is cut into ``n_increments`` increments of
    seeded sizes (±30% around equal). In every increment,
    ``late_share`` of its facts (exactly rounded) take an event time
    drawn uniformly from the time range of earlier increments, so
    they arrive late."""
    rng = rng_for(seed, "arrivals")
    n_rows = len(ts)
    n_base = int(n_rows * base_share)
    w = rng.uniform(0.7, 1.3, n_increments)
    cuts = n_base + np.round(np.cumsum(w) / w.sum() * (n_rows - n_base)).astype(int)
    bounds = [0, n_base, *cuts.tolist()]
    parts = [np.arange(bounds[i], bounds[i + 1]) for i in range(len(bounds) - 1)]
    ts_out = ts.copy()
    for i in range(1, len(parts)):
        idx = parts[i]
        n_late = int(round(len(idx) * late_share))
        chosen = np.sort(rng.choice(idx, n_late, replace=False))
        ts_out[chosen] = rng.integers(ts[0], ts[parts[i - 1][-1]], n_late)
    return Arrivals(ts_us=ts_out, parts=parts)


def zipf_keys(seed: int, keys: list[str], n: int, s: float, absent_share: float,
              absent_keys: list[str]) -> list[str]:
    """``n`` lookup keys: ranks drawn Zipf(``s``) over a seeded
    permutation of ``keys``; ``absent_share`` of draws replaced by
    keys that were never exported."""
    rng = rng_for(seed, "lookups")
    order = rng.permutation(len(keys))
    ranks = np.arange(1, len(keys) + 1, dtype=np.float64)
    p = ranks ** -s
    p /= p.sum()
    picks = rng.choice(len(keys), n, p=p)
    out = [keys[order[r]] for r in picks]
    absent = rng.random(n) < absent_share
    for i in np.flatnonzero(absent):
        out[i] = absent_keys[int(rng.integers(0, len(absent_keys)))]
    return out
