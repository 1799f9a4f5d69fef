"""Seeded generator of the tables the ``__spark_entry__`` queries read.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as parquet with the column names and types of the
harness tables (TPC-H-like star schema, an event stream, a text corpus and
unit-norm embeddings).  Row counts scale with ``sf`` the way the harness
tables do: sf0.01 has 60,000 lineitems and 500 documents.  The same
``(seed, sf)`` always gives the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
COLORS = ("red", "blue", "green", "black", "white", "small", "large", "steel")
THINGS = ("bolt", "ring", "widget", "gear", "nut", "pipe", "valve", "plate")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EMB_DIM = 64
N_LABELS = 10


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, int((hi_d - lo_d).astype(int)) + 1, n)
    return (lo_d + off).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pd.DataFrame:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document (the dedup/LSH inputs)
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = str(rng.choice(VOCAB))
            words.append("dup")
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(8, 95))))
        texts.append(" ".join(words))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int) -> pd.DataFrame:
    centers = rng.normal(size=(N_LABELS, EMB_DIM))
    label = rng.integers(0, N_LABELS, n)
    v = centers[label] + rng.normal(scale=1.5, size=(n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                         "embedding": list(v),
                         "label": label.astype(np.int32)})


def tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng([seed, int(sf * 1e6)])
    f = sf / 0.01
    n_supp = max(10, round(100 * f))
    n_cust = max(150, round(1500 * f))
    n_part = max(200, round(2000 * f))
    n_ord = max(1500, round(15000 * f))
    n_line = 4 * n_ord
    n_ev = max(1000, round(10000 * f))
    n_users = max(15, n_cust // 10)
    n_doc = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))

    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    ev_ts = np.sort(ts0 + rng.integers(0, 30 * 86400 * 10**6, n_ev)
                    .astype("timedelta64[us]"))
    return {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": list(REGIONS)}),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": rng.integers(0, 5, 25).astype(np.int32)}),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)}),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{rng.choice(COLORS)} {rng.choice(THINGS)}"
                       for _ in range(n_part)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(
                900 + (np.arange(n_part) % 1000) / 10, 2)}),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord)}),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), n_line),
            "l_linestatus": rng.choice(("F", "O"), n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)}),
        "events": pd.DataFrame({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ev_ts,
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": _money(rng, 0.01, 490.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }


def write(out_dir: str, seed: int, sf: float) -> str:
    """Write the tables under ``out_dir`` (replacing what is there)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(seed, sf).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return out_dir
