"""Seeded generator for the analytics and corpus tables the `sql` and
`corpus` workloads read.

The engine's query modules read ten parquet tables from one directory
(`graft.sources.Tables.names`): a TPC-H-shaped star schema, an `events`
stream, a `documents` text corpus and an `embeddings` vector table. This
module writes them with the column names, types and value domains the
query modules and their DuckDB oracles expect, from a numpy seed alone, so
the benchmark never depends on data outside its checkout.

Row counts follow the scale factor `sf` (lineitem = 6,000,000 x sf);
`documents` and `embeddings` keep a floor of 500 rows, as small corpora
do not exercise the dedup and similarity operators otherwise.
"""
import os

import numpy as np
import pandas as pd

WORDS = ("a the data row column table key value part line order customer "
         "query scan join filter group sort hash merge agg window stream "
         "batch spark vector small big fast slow").split()
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PART_ADJ = np.array(["small", "large", "red", "blue", "hot", "cold", "old", "new"])
PART_NOUN = np.array(["bolt", "gear", "ring", "rod", "plate", "widget", "anvil", "gizmo"])
PART_TYPES = np.array(["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])

D0 = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000


def _days(rng, n, lo, hi):
    """Midnight timestamps, uniform over whole days in [lo, hi]."""
    return D0 + rng.integers(lo, hi + 1, n) * np.timedelta64(1, "D")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(rng.choice(PART_ADJ, n_part), " "),
                              rng.choice(PART_NOUN, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, 0, 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_li),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n_li),
        "l_shipdate": _days(rng, n_li, 1, 2499)})
    ev_off = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ev_off.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(15, n_ev * 3 // 200), n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    out["documents"] = _documents(rng, n_doc)
    out["embeddings"] = _embeddings(rng, n_emb)
    return out


def _documents(rng, n):
    """Random-word documents; 5% are an earlier document plus ' dup'."""
    words = np.array(WORDS)
    lens = rng.integers(10, 101, n)
    text = [" ".join(rng.choice(words, k)) for k in lens]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        j = int(rng.integers(0, n))
        if j != i and not text[j].endswith(" dup"):
            text[i] = text[j] + " dup"
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})


def _embeddings(rng, n, dim=64, labels=10):
    """Unit vectors drawn around one weak centroid per label."""
    cent = rng.standard_normal((labels, dim))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    label = rng.integers(0, labels, n)
    v = rng.standard_normal((n, dim)) + 0.56 * cent[label]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(v.astype(np.float32)),
        "label": label.astype(np.int32)})


def write(out_dir, sf, seed):
    """Write all tables under `out_dir` unless a complete copy is there."""
    done = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(sf, seed).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False,
                      engine="pyarrow", compression="snappy")
    open(done, "w").close()
    return out_dir


def sizes(out_dir):
    """Rows per table, from the parquet footers."""
    import pyarrow.parquet as pq
    return {f[:-8]: pq.ParquetFile(os.path.join(out_dir, f)).metadata.num_rows
            for f in sorted(os.listdir(out_dir)) if f.endswith(".parquet")}
