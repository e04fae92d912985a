"""Seeded input generator for the benchmark.

Writes the tables the engine reads (`documents`, `embeddings`, the
TPC-H-shaped star schema and `events`) as parquet, in the same
distribution family as the engine's test data: a 30-word vocabulary with
document lengths of 10-100 words and ~5% near-duplicates (an earlier
document plus the token "dup"), unit float32 embeddings with ten labels,
and uniform keys for the relational tables. The same seed gives the same
bytes; the engine only ever sees the written files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

VOCAB = (
    "spark table row scan filter join agg window sort hash merge batch "
    "stream key value part query vector data column the a fast slow big "
    "small line order customer group"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
DIM = 64
N_LABELS = 10


def doc_texts(rng: np.random.Generator, n: int, dup_frac: float = 0.05,
              prior: "list[str] | None" = None) -> tuple[list[str], list[bool]]:
    """`n` texts and, per text, whether it is a near-duplicate. Exactly
    round(n * dup_frac) of them (where an earlier source exists) copy an
    earlier text of at least 30 words, from `prior` or from this call's
    other texts, and append "dup"."""
    texts = [" ".join(VOCAB[w] for w in rng.choice(len(VOCAB), size=int(rng.integers(10, 101))))
             for _ in range(n)]
    long_prior = [t for t in (prior or []) if len(t.split()) >= 30]
    first_long = next((i for i, t in enumerate(texts) if len(t.split()) >= 30), n)
    cands = [i for i in range(n) if long_prior or i > first_long]
    k = min(int(round(n * dup_frac)), len(cands))
    pos = set(int(i) for i in rng.choice(cands, size=k, replace=False)) if k else set()
    for i in sorted(pos):
        sources = long_prior + [texts[j] for j in range(i)
                                if j not in pos and len(texts[j].split()) >= 30]
        texts[i] = sources[int(rng.integers(len(sources)))] + " dup"
    return texts, [i in pos for i in range(n)]


def unit_vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.standard_normal((n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts, _ = doc_texts(rng, n)
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, size=n, p=LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng: np.random.Generator, n: int) -> pd.DataFrame:
    vecs = unit_vectors(rng, n)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, N_LABELS, size=n).astype(np.int32),
    })


def _dates(rng, n, start="1995-01-01", days=2400):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, size=n)).astype("datetime64[us]")


def relational(rng: np.random.Generator, scale: float) -> dict[str, pd.DataFrame]:
    """TPC-H-shaped tables at `scale` (1.0 = 1,500 customers, 60,000
    line items) plus a 30-day `events` stream."""
    n_cust, n_supp = int(1500 * scale), max(10, int(100 * scale))
    n_part, n_ord = int(2000 * scale), int(15000 * scale)
    n_line, n_ev, n_users = int(60000 * scale), int(10000 * scale), 150
    region = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    customer = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust),
    })
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
    part = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _dates(rng, n_ord),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    okeys = np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64)
    linenum = np.ones(n_line, dtype=np.int32)
    same = np.r_[False, okeys[1:] == okeys[:-1]]
    for i in np.nonzero(same)[0]:
        linenum[i] = linenum[i - 1] + 1
    perm = rng.permutation(n_line)
    lineitem = pd.DataFrame({
        "l_orderkey": okeys,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": linenum,
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _dates(rng, n_line, "1995-01-02", 2500),
    }).iloc[perm].reset_index(drop=True)
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
    events = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(
            ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(np.abs(rng.exponential(50.0, n_ev)), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem, "events": events}


def write_tables(out_dir: str, tables: dict[str, pd.DataFrame]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
