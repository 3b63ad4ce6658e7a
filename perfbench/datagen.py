"""Seeded generator for the engine's input tables.

Writes the ten parquet tables the catalog reads (TPC-H-style star schema,
an ``events`` stream, a ``documents`` corpus and an ``embeddings`` table)
with the column names, types and value domains of the engine's testdata
at scale factor ``sf``. Same ``(seed, sf)`` gives byte-identical tables;
another seed gives other values drawn from the same distributions, so
row counts, key cardinalities and per-query work stay the same.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBED_DIM = 64
NEAR_DUP_FRAC = 0.05

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def table_sizes(sf: float) -> dict[str, int]:
    """Row count of each table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": max(10, round(10_000 * sf)),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(round(lo * 100), round(hi * 100), n) / 100.0, 2)


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def generate(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """Build every table as a DataFrame; each table draws from its own stream."""
    n = table_sizes(sf)
    streams = np.random.SeedSequence(seed).spawn(len(TABLES))
    rng = {t: np.random.default_rng(s) for t, s in zip(TABLES, streams)}
    i32, i64 = np.int32, np.int64
    out: dict[str, pd.DataFrame] = {}

    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS}
    )
    nk = np.arange(25, dtype=i32)
    out["nation"] = pd.DataFrame(
        {"n_nationkey": nk, "n_name": [f"NATION_{k}" for k in nk], "n_regionkey": nk % 5}
    )

    r, c = rng["customer"], n["customer"]
    ck = np.arange(c, dtype=i64)
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": r.integers(0, 25, c).astype(i32),
            "c_acctbal": _money(r, -1000, 10000, c),
            "c_mktsegment": _pick(r, SEGMENTS, c),
        }
    )

    r, s = rng["supplier"], n["supplier"]
    sk = np.arange(s, dtype=i64)
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": r.integers(0, 25, s).astype(i32),
            "s_acctbal": _money(r, -1000, 10000, s),
        }
    )

    r, p = rng["part"], n["part"]
    pk = np.arange(p, dtype=i64)
    out["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": _pick(r, PART_ADJ, p) + " " + _pick(r, PART_NOUN, p),
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, p)],
            "p_type": _pick(r, PART_TYPES, p),
            "p_size": r.integers(1, 51, p).astype(i32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )

    r, o = rng["orders"], n["orders"]
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(o, dtype=i64),
            "o_custkey": r.integers(0, c, o).astype(i64),
            "o_orderstatus": _pick(r, ["F", "O", "P"], o),
            "o_totalprice": _money(r, 1000, 500000, o),
            "o_orderdate": _days(r, "1995-01-01", 2404, o),
            "o_orderpriority": _pick(r, PRIORITIES, o),
        }
    )

    r, li = rng["lineitem"], n["lineitem"]
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": r.integers(0, o, li).astype(i64),
            "l_partkey": r.integers(0, p, li).astype(i64),
            "l_suppkey": r.integers(0, s, li).astype(i64),
            "l_linenumber": r.integers(1, 8, li).astype(i32),
            "l_quantity": r.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(r, 900, 105000, li),
            "l_discount": r.integers(0, 11, li) / 100.0,
            "l_tax": r.integers(0, 9, li) / 100.0,
            "l_returnflag": _pick(r, ["A", "N", "R"], li),
            "l_linestatus": _pick(r, ["F", "O"], li),
            "l_shipdate": _days(r, "1995-01-02", 2498, li),
        }
    )

    r, e = rng["events"], n["events"]
    span_us = 30 * 86_400 * 1_000_000
    gaps = r.exponential(span_us / e, e)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(e, dtype=i64),
            "ts": ts,
            "user_id": r.integers(0, max(1, c // 10), e).astype(i64),
            "event_type": _pick(r, EVENT_TYPES, e),
            "value": np.round(r.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, e)],
        }
    )

    r, d = rng["documents"], n["documents"]
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[r.integers(0, len(vocab), k)]) for k in r.integers(10, 101, d)]
    dups = np.flatnonzero(r.random(d) < NEAR_DUP_FRAC)
    originals = np.setdiff1d(np.arange(d), dups)
    for i, src in zip(dups, r.choice(originals, len(dups))):
        texts[i] = texts[src] + " dup"
    doc_id = np.arange(d, dtype=i64)
    out["documents"] = pd.DataFrame(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": _pick(r, LANGS, d, p=LANG_P),
            "source": [f"src{k % 20}" for k in doc_id],
            "n_chars": np.asarray([len(t) for t in texts], dtype=i64),
        }
    )

    r, v = rng["embeddings"], n["embeddings"]
    vec = r.standard_normal((v, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(v, dtype=i64),
            "embedding": list(vec),
            "label": r.integers(0, 10, v).astype(i32),
        }
    )
    return out


def write(out_dir: str, sf: float, seed: int) -> int:
    """Write every table to ``out_dir/<table>.parquet``; returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, df in generate(sf, seed).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1, "embedding", pa.array(df["embedding"].tolist(), pa.list_(pa.float32()))
            )
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1, len(df)))
        total += os.path.getsize(path)
    return total

