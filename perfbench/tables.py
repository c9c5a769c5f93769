"""Seeded generator for the query suite's tables.

Writes the ten parquet tables the query registry reads (``region nation
customer supplier part orders lineitem events documents embeddings``)
with the same schemas, row counts and distributions as the repository's
fixed sf0.x test tables (README.md compares them figure by figure):
uniform TPC-H-ish keys and categories; a time-ordered event stream of
~67 events per user with exponential(50) values; bag-of-words documents
of 10-99 words over a 30-word vocabulary, one in twenty of them another
document's text plus "dup"; isotropic unit-norm 64-d embeddings. One
parquet file and one row group per table, as pandas writes them, so
scans see the same single-split layout.

The tables are a pure function of (seed, sf): the benchmark generates
them inside its own working directory instead of reading shared data.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data part column order scan a slow agg key "
    "window table merge vector join"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_line = max(10, int(6_000_000 * sf))
    n_ev = max(10, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(10, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}
    )
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pd.DataFrame(
        {"n_nationkey": nk, "n_name": [f"NATION_{k}" for k in nk], "n_regionkey": nk % 5}
    )
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pd.DataFrame({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pd.DataFrame({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    # strictly increasing timestamps over 30 days, microsecond resolution
    gaps = rng.exponential(1.0, n_ev)
    offs_us = np.cumsum(gaps) / gaps.sum() * (30 * 86400e6 - 60e6) + rng.uniform(0, 60e6)
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offs_us.astype(np.int64).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_words = rng.integers(10, 100, n_docs)
    words = rng.choice(_VOCAB, int(n_words.sum()))
    cuts = np.cumsum(n_words)[:-1]
    texts = [" ".join(ws) for ws in np.split(words, cuts)]
    # one document in twenty is another one's text plus a trailing "dup"
    n_dup = n_docs // 20
    dups = rng.choice(n_docs, n_dup, replace=False)
    originals = np.setdiff1d(np.arange(n_docs), dups)
    for i, j in zip(dups, rng.choice(originals, n_dup)):
        texts[i] = texts[j] + " dup"
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{k % 20}" for k in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    # isotropic, as in the fixed tables: pairwise cosines of ~0 +- 1/8,
    # so near-duplicates are rare and the label is independent of the vector
    vecs = rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels,
    })
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, df in make_tables(seed, sf).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
        counts[name] = len(df)
    return counts
