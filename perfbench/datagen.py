"""Deterministic synthetic tables with the registry's table contract.

The registry queries read ten parquet tables (a TPC-H-like star schema
plus `events`, `documents` and `embeddings`). The benchmark cannot rely
on data outside its checkout, so it writes its own copy here: same
column names, parquet types and value distributions, row counts scaled
by `sf` exactly as the registry's test data (lineitem = 6M x sf). The
seed picks the draw; sizes and distributions do not depend on it.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (lo + rng.integers(0, (hi - lo).astype(int) + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pd.DataFrame:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(_WORDS), int(lens.sum()))
    bounds = np.concatenate([[0], np.cumsum(lens)])
    text = [" ".join(_WORDS[w] for w in words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    # 5% near-duplicates: another document's text plus one extra token
    for i in rng.choice(n, n // 20, replace=False):
        text[i] = text[int(rng.integers(0, n))] + " dup"
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"),
        "text": text,
        "lang": rng.choice(_LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype="int64"),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype("int32")),
    })


def make_tables(sf: float, seed: int) -> dict[str, pa.Table | pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    colors = "large hot blue old cold red small new".split()
    nouns = "ring bolt plate gear widget rod anvil gizmo".split()
    out: dict[str, pa.Table | pd.DataFrame] = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{colors[a]} {nouns[b]}"
                for a, b in rng.integers(0, 8, (n_part, 2))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
            "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        }),
    }
    ev_ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": np.datetime64("2024-01-01", "us") + ev_ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, int(15_000 * sf), n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = _documents(rng, int(50_000 * sf))
    out["embeddings"] = _embeddings(rng, int(20_000 * sf))
    return out


def ensure_tables(root: str, sf: float, seed: int) -> str:
    """Write the tables for (`sf`, `seed`) under `root` once; return their dir."""
    sf_dir = os.path.join(root, f"seed{seed}", f"sf{sf:g}")
    done = os.path.join(sf_dir, "_COMPLETE")
    if os.path.exists(done):
        return sf_dir
    os.makedirs(sf_dir, exist_ok=True)
    for name, tbl in make_tables(sf, seed).items():
        if isinstance(tbl, pd.DataFrame):
            tbl = pa.Table.from_pandas(tbl, preserve_index=False)
        tmp = os.path.join(sf_dir, f".{name}.parquet.tmp")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(sf_dir, f"{name}.parquet"))
    open(done, "w").close()
    return sf_dir
