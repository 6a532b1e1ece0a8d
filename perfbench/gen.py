"""Seeded input generators for the benchmark.

Each table follows the shape of the engine's star-schema test data
(TPC-H-like `lineitem`/`orders`/`customer`/`nation`/`region` plus
`events`, `documents` and `embeddings`) at a given scale factor `sf`: the
same columns, types, key ranges and category sets (README.md, Inputs,
compares `documents` with the sf0.1 data). The same seed always gives the
same bytes of data.
"""
import os

import numpy as np
import pandas as pd

WORDS = ("a the data spark stream batch table row column key value join "
         "group agg filter sort scan hash merge window query order line "
         "part customer vector small big fast slow").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DAY_US = 86_400_000_000


def _ts(base, offsets_us):
    return pd.Series(np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]"))


def _write(df, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_parquet(path, index=False)


def star(rng, sf):
    n_cust, n_ord, n_li = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
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
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2405, n_ord) * DAY_US),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, int(200_000 * sf), n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, max(1, int(10_000 * sf)), n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_li) * DAY_US)})
    return out


def events(rng, sf):
    n = int(1_000_000 * sf)
    ts = np.sort(rng.integers(0, 30 * DAY_US, n))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts("2024-01-01", ts),
        "user_id": rng.integers(0, int(15_000 * sf), n, dtype=np.int64),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents(rng, sf):
    """Documents as in the engine's test data: 10-99 words drawn from one
    30-word vocabulary (so language ID sees only the English stopwords
    'a' and 'the'), a `lang` label drawn independently of the text, and a
    twentieth of the docs rewritten as another doc's text plus " dup"
    (near duplicates; two rewrites of the same doc are exact duplicates).
    """
    n = int(50_000 * sf)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))])
             for _ in range(n)]
    for i in np.sort(rng.choice(n, n // 20, replace=False)):
        texts[i] = texts[rng.integers(0, n)] + " dup"
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def embeddings(rng, sf):
    n, dim, labels = int(20_000 * sf), 64, 10
    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    v = centers[label] + rng.normal(scale=0.6, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(v),
        "label": label.astype(np.int32)})


def write_tables(seed, sf, names, out_dir):
    """Write the named tables as `<out_dir>/<name>.parquet`."""
    rng = np.random.default_rng(seed)
    tables = {}
    if {"region", "nation", "customer", "orders", "lineitem"} & set(names):
        tables.update(star(rng, sf))
    if "events" in names:
        tables["events"] = events(rng, sf)
    if "documents" in names:
        tables["documents"] = documents(rng, sf)
    if "embeddings" in names:
        tables["embeddings"] = embeddings(rng, sf)
    for name in names:
        _write(tables[name], os.path.join(out_dir, f"{name}.parquet"))


def event_files(seed, sf, n_files, out_dir):
    """Cut `events` in event-time order into `n_files` parquet files; the
    seed shuffles row order within each file.
    """
    rng = np.random.default_rng(seed)
    ev = events(rng, sf)
    for i, idx in enumerate(np.array_split(np.arange(len(ev)), n_files)):
        part = ev.iloc[rng.permutation(idx)]
        _write(part, os.path.join(out_dir, "events_parts", f"part-{i:05d}.parquet"))
