"""Seeded generator for the benchmark's inputs.

Two kinds of input:

* ``write_tables``: the ten fixture tables (TPC-H-like star schema,
  ``events``, ``documents``, ``embeddings``) with the shapes, key ranges
  and value distributions the engine's queries expect at a given scale
  factor.  They come from a fixed table seed, so every run of every
  workload reads the same warehouse and the per-run ``--seed`` only
  changes what the workload does with it.
* ``write_event_chunks``: the CDC backlog of ``cdc-stream`` — the
  ``events`` table cut at seeded points into parquet chunks, with a
  seeded share of rows held back into later chunks (late, out-of-order
  arrival), one strictly increasing mtime per chunk.

All files are written with pyarrow directly, so the same arguments give
byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
EMB_DIM = 64
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
_US_PER_DAY = 86_400_000_000


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (sf0.1: 600,000
    lineitems, 100,000 events over 1,500 users, 5,000 documents)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
        "users": max(1, round(15_000 * sf)),
    }


def _dates(rng, n: int, start: str, days: int) -> pa.Array:
    """Uniform whole days from ``start`` as microsecond NTZ timestamps."""
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, days, n) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng, n: int) -> pa.Table:
    """Word-soup documents; ~5% are an earlier document plus " dup"
    (near duplicates for the LSH / SimHash / Jaccard operators) and a
    few are exact copies."""
    texts: list[str] = []
    lengths = rng.integers(10, 101, n)
    words = np.array(WORDS)
    near_dup = rng.random(n) < 0.05
    exact_dup = rng.random(n) < 0.002
    for i in range(n):
        if i > 0 and near_dup[i]:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and exact_dup[i]:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), lengths[i])]))
    lang_p = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
    langs = ["en", "de", "es", "fr", "zh"]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array([langs[k] for k in rng.choice(5, n, p=lang_p)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM), pa.int32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def _events(rng, n: int, users: int) -> pa.Table:
    """Events over 30 days from 2024-01-01, exponential gaps, ordered by
    ``ts`` and ``event_id``."""
    span_us = 30 * _US_PER_DAY
    gaps = rng.exponential(span_us / (n + 1), n)
    ts = np.datetime64("2024-01-01", "us").astype(np.int64) + np.minimum(
        np.cumsum(gaps).astype(np.int64), span_us - 1
    )
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": _choice(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def make_tables(sf: float, seed: int = TABLE_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    part_names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    return {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
                "c_name": _names("Customer", n["customer"]),
                "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
                "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
                "c_mktsegment": _choice(
                    rng,
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                    n["customer"],
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
                "s_name": _names("Supplier", n["supplier"]),
                "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
                "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
                "p_name": _choice(rng, part_names, n["part"]),
                "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n["part"]),
                "p_type": _choice(
                    rng,
                    ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                    n["part"],
                ),
                "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
                "o_custkey": pa.array(
                    rng.integers(0, n["customer"], n["orders"]), pa.int64()
                ),
                "o_orderstatus": _choice(rng, ["F", "O", "P"], n["orders"]),
                "o_totalprice": _money(rng, n["orders"], 1000.0, 500_000.0),
                "o_orderdate": _dates(rng, n["orders"], "1995-01-01", 2405),
                "o_orderpriority": _choice(
                    rng,
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    n["orders"],
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(
                    rng.integers(0, n["orders"], n["lineitem"]), pa.int64()
                ),
                "l_partkey": pa.array(
                    rng.integers(0, n["part"], n["lineitem"]), pa.int64()
                ),
                "l_suppkey": pa.array(
                    rng.integers(0, n["supplier"], n["lineitem"]), pa.int64()
                ),
                "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
                "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
                "l_extendedprice": _money(rng, n["lineitem"], 900.0, 105_000.0),
                "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
                "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
                "l_returnflag": _choice(rng, ["A", "N", "R"], n["lineitem"]),
                "l_linestatus": _choice(rng, ["F", "O"], n["lineitem"]),
                "l_shipdate": _dates(rng, n["lineitem"], "1995-01-02", 2499),
            }
        ),
        "events": _events(rng, n["events"], n["users"]),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }


def write_tables(out_dir: str, sf: float, seed: int = TABLE_SEED) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row
    counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def chunk_plan(
    n_rows: int, seed: int, n_chunks: int = 48, late_share: float = 0.03, max_delay: int = 4
) -> np.ndarray:
    """Chunk index for each row of the ``ts``-ordered events table.

    Rows are cut at ``n_chunks - 1`` seeded points; then a seeded
    ``late_share`` of rows is moved 1..``max_delay`` chunks later (never
    past the last chunk), so they arrive after newer events."""
    rng = np.random.default_rng([seed, n_rows])
    n_chunks = max(1, min(n_chunks, n_rows))
    cuts = np.sort(rng.choice(np.arange(1, n_rows), n_chunks - 1, replace=False))
    chunk = np.searchsorted(cuts, np.arange(n_rows), side="right")
    late = rng.random(n_rows) < late_share
    delay = rng.integers(1, max_delay + 1, n_rows)
    return np.where(late, np.minimum(chunk + delay, n_chunks - 1), chunk)


def write_event_chunks(
    events: pa.Table, out_dir: str, seed: int, n_chunks: int = 48, base_mtime: int = 1_700_000_000
) -> list[str]:
    """Write the CDC backlog for ``seed`` into ``out_dir``.

    Each chunk's rows are shuffled (out of order inside a micro-batch as
    well) and its mtime is ``base_mtime + 10 * i``, so the file source
    delivers chunk ``i`` as micro-batch ``i``.  Returns the file paths
    in arrival order."""
    events = events.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    plan = chunk_plan(events.num_rows, seed, n_chunks)
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(int(plan.max()) + 1):
        idx = np.flatnonzero(plan == i)
        if idx.size == 0:
            continue
        path = os.path.join(out_dir, f"chunk_{i:03d}.parquet")
        pq.write_table(events.take(rng.permutation(idx)), path)
        mtime = base_mtime + 10 * i
        os.utime(path, (mtime, mtime))
        paths.append(path)
    return paths
