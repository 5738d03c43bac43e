"""Seeded parquet tables for the operator-mix workload.

The tables have the schemas of the engine's contract fixtures (FIXTURES.md
§4) at about 1/100 of TPC-H scale: TPC-H-shaped ``nation``, ``supplier``,
``part``, ``orders`` and ``lineitem``, a ``documents`` text corpus over
a small engineering vocabulary and a clustered 64-dim ``embeddings``
table.  Only the tables the operator mix reads are written.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {"supplier": 100, "part": 2000, "orders": 15000, "lineitem": 60000,
         "documents": 500, "embeddings": 500}
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
COLORS = "red green blue hot cold large small steel".split()
THINGS = "gear bolt ring nut spring valve pipe plate".split()
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000


def _write(df: pd.DataFrame, schema: pa.Schema, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False),
                   path)


def _days(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    us = EPOCH_1995_US + rng.integers(lo, hi, n) * DAY_US
    return us.astype("datetime64[us]")


def write_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write the operator-mix tables for ``seed``; returns row counts."""
    rng = np.random.default_rng([seed, 7])
    os.makedirs(out_dir, exist_ok=True)
    path = lambda t: os.path.join(out_dir, f"{t}.parquet")  # noqa: E731
    n = SIZES

    _write(pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }), pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                   ("n_regionkey", pa.int32())]), path("nation"))

    _write(pd.DataFrame({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:04d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n["supplier"]), 2),
    }), pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                   ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]),
        path("supplier"))

    parts = n["part"]
    _write(pd.DataFrame({
        "p_partkey": np.arange(parts, dtype=np.int64),
        "p_name": [f"{COLORS[a]} {THINGS[b]}" for a, b in
                   zip(rng.integers(0, 8, parts), rng.integers(0, 8, parts))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, parts)],
        "p_type": rng.choice(["LARGE", "SMALL", "ECONOMY", "STANDARD",
                              "MEDIUM", "PROMO"], parts),
        "p_size": rng.integers(1, 51, parts).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(parts) % 1000) / 10.0, 2),
    }), pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                   ("p_brand", pa.string()), ("p_type", pa.string()),
                   ("p_size", pa.int32()), ("p_retailprice", pa.float64())]),
        path("part"))

    no = n["orders"]
    odate = _days(rng, no, 0, 2400)
    _write(pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, 1500, no),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": odate,
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no),
    }), pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                   ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                   ("o_orderdate", pa.timestamp("us")),
                   ("o_orderpriority", pa.string())]), path("orders"))

    nl = n["lineitem"]
    okey = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, parts, nl),
        "l_suppkey": rng.integers(0, n["supplier"], nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": odate[okey] + rng.integers(1, 122, nl) * np.timedelta64(1, "D"),
    }), pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                   ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                   ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                   ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                   ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                   ("l_shipdate", pa.timestamp("us"))]), path("lineitem"))

    nd = n["documents"]
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(8, 100))))
             for _ in range(nd)]
    _write(pd.DataFrame({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "zh", "es", "de", "fr"], nd),
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                   ("lang", pa.string()), ("source", pa.string()),
                   ("n_chars", pa.int64())]), path("documents"))

    ne = n["embeddings"]
    centers = rng.normal(0.0, 0.15, (10, 64))
    label = rng.integers(0, 10, ne)
    vecs = (centers[label] + rng.normal(0.0, 0.05, (ne, 64))).astype(np.float32)
    _write(pd.DataFrame({
        "vec_id": np.arange(ne, dtype=np.int64),
        "embedding": list(vecs),
        "label": label.astype(np.int32),
    }), pa.schema([("vec_id", pa.int64()),
                   ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())]), path("embeddings"))
    return dict(n, nation=25)
