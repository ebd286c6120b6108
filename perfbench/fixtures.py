"""Seeded inputs for the benchmark.

Everything a workload feeds the program is generated here from the
run's seed, inside the run's own directory:

- the ten testdata tables (`tables.TESTDATA_TABLES`), one parquet file
  each, with the column names, types and value domains the query
  corpus expects (TPC-H-style star schema, an `events` stream, a text
  corpus with near-duplicates, unit-norm embeddings);
- taxi-trip JSONL micro-batches for the live lakehouse, made by
  `sources.generator` with `corrupt_some` applied, and per simulated
  day a file of that day's corrupted trips, repaired.

`scale` multiplies the row counts of the scaled tables relative to
the sf0.1 layout (600k lineitem rows at scale 1.0).
"""

from __future__ import annotations

import json
import os
from random import Random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the tables that scale; region/nation are fixed
BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["red", "blue", "hot", "cold", "new", "old", "large", "small"]
PART_NOUN = ["bolt", "ring", "rod", "plate", "gear", "anvil", "widget", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EMBED_DIM = 64
NEAR_DUP_SHARE = 0.05

_DAY_US = 86_400 * 1_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word salad over a 30-word vocabulary; a fixed share of the
    documents, at seeded positions, are near-duplicates (an earlier
    text plus one extra token), which the dedup and similarity
    operators must find."""
    words = np.array(VOCAB)
    lengths = rng.integers(8, 100, n)
    n_dups = min(n - 1, round(n * NEAR_DUP_SHARE))
    dups = set((rng.choice(n - 1, n_dups, replace=False) + 1).tolist())
    texts: list[str] = []
    for i in range(n):
        if i in dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), lengths[i])]))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_WEIGHTS).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def table_data(seed: int, scale: float) -> dict[str, pa.Table]:
    """All ten tables, a pure function of (seed, scale)."""
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(round(c * scale))) for t, c in BASE_ROWS.items()}
    n_cust, n_supp, n_part, n_ord = (
        n["customer"], n["supplier"], n["part"], n["orders"])
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    d0 = _epoch_us(1995, 1, 1)
    order_days = (_epoch_us(2001, 8, 1) - d0) // _DAY_US
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(d0 + rng.integers(0, order_days + 1, n_ord) * _DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
    })
    n_li = n["lineitem"]
    ship_days = (_epoch_us(2001, 11, 4) - d0) // _DAY_US
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": np.round(rng.uniform(0.0, 0.10, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": _ts(d0 + rng.integers(1, ship_days + 1, n_li) * _DAY_US),
    })
    n_ev = n["events"]
    e0 = _epoch_us(2024, 1, 1)
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(e0 + rng.integers(0, 30 * _DAY_US, n_ev))),
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = _documents(rng, n["documents"])
    n_emb = n["embeddings"]
    vecs = rng.standard_normal((n_emb, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(
            list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return out


def write_tables(out_dir: str, seed: int, scale: float) -> None:
    """Write every table as `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in table_data(seed, scale).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")


def trip_batch(seed: int, batch: int, rows: int) -> tuple[list[str], list[str]]:
    """(sent, repaired): the JSONL lines of micro-batch `batch`, `rows`
    generated trips with globally unique sequence numbers of which
    `corrupt_some` corrupts about a tenth into the reference's invalid
    classes; and the lines of the corrupted trips as generated, which
    the writer re-sends later as corrections."""
    from de_gcp_lakehouse_iceberg_spark.sources.generator import (
        corrupt_some,
        generate_trip,
    )

    rng = Random(seed * 1_000_003 + batch)
    trips = [generate_trip(rng, batch * rows + j) for j in range(rows)]
    sent = corrupt_some(trips, seed=seed * 7_919 + batch, frac=0.1)
    repaired = [t for t, s in zip(trips, sent) if t != s]
    return ([json.dumps(t) + "\n" for t in sent],
            [json.dumps(t) + "\n" for t in repaired])


def _write(path: str, lines: list[str]) -> tuple[str, int]:
    data = "".join(lines).encode()
    with open(path, "wb") as f:
        f.write(data)
    return path, len(data)


def write_trip_days(
    out_dir: str, seed: int, days: int, batches_per_day: int, rows: int
) -> list[dict]:
    """Per simulated day, its JSONL files: `batches`, [(path, bytes)]
    of its micro-batches, and `corrections`, (path, bytes, rows) of the
    day's corrupted trips, repaired."""
    os.makedirs(out_dir, exist_ok=True)
    out = []
    for d in range(days):
        batches, repaired = [], []
        for b in range(d * batches_per_day, (d + 1) * batches_per_day):
            sent, fixed = trip_batch(seed, b, rows)
            batches.append(_write(os.path.join(out_dir, f"batch_{b:05d}.jsonl"), sent))
            repaired += fixed
        path, nbytes = _write(
            os.path.join(out_dir, f"corrections_{d:04d}.jsonl"), repaired)
        out.append({"batches": batches, "corrections": (path, nbytes, len(repaired))})
    return out
