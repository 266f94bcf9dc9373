"""Seeded input generators for the benchmark workloads.

Every table has the schema and value domains of the engine's test tables
(TESTDATA.md, FIXTURES.md: a TPC-H-ish star schema plus `events`,
`documents`, `embeddings`), so the declared queries and their DuckDB oracles
run unchanged over it. The
same seed always gives byte-identical parquet files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400 * 1_000_000
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
WORDS = np.array(
    "query row stream the spark line small fast group customer batch sort value "
    "hash filter big data dup part column order scan a slow agg key window table "
    "merge vector join".split())
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _write(table, path, files=1):
    """One parquet file, or a directory of `files` part files (row-sliced)."""
    if files == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def events_table(rng, n, days, first_id=0, t0_us=EPOCH_2024_US):
    """`events` rows over `days` days, sorted by time like an append log.

    `value` is exponential around 50 with two decimals; values under 1 give
    the zero-duration segments the pipeline must drop.
    """
    ts = np.sort(t0_us + rng.integers(0, days * DAY_US, n))
    value = np.round(np.minimum(rng.exponential(50.0, n), 560.0), 2)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def write_events(out_dir, seed, n, days, files):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    t = events_table(rng, n, days)
    _write(t, os.path.join(out_dir, "events.parquet"), files)
    return t


def documents_table(rng, n, dup_share):
    """Word-soup documents; `dup_share` of them are near-copies of an
    earlier document with one to three words replaced (a few exact)."""
    lens = rng.integers(10, 101, n)
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            words = texts[rng.integers(0, i)].split(" ")
            for _ in range(rng.integers(0, 4)):
                words[rng.integers(0, len(words))] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(WORDS[rng.integers(0, len(WORDS), lens[i])]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(rng, n, dim=64, labels=10):
    label = rng.integers(0, labels, n)
    centers = rng.normal(0, 1, (labels, dim))
    v = centers[label] * 0.5 + rng.normal(0, 1, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, start, end, n):
    lo = np.datetime64(start, "ms").astype(np.int64)
    hi = np.datetime64(end, "ms").astype(np.int64)
    d = rng.integers(lo // 86_400_000, hi // 86_400_000 + 1, n) * 86_400_000
    return pa.array(d, type=pa.timestamp("ms"))


def write_star(out_dir, seed, sf, dup_share):
    """All ten tables at scale factor `sf` (sf0.1: 600k lineitem rows,
    100k events, 5000 documents, 2000 embeddings)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    tables = {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                                               "FURNITURE"])[rng.integers(0, 5, n_cust)])}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(np.char.add(np.char.add(
                np.array(["blue", "cold", "hot", "red", "small", "new", "old", "large"])[
                    rng.integers(0, 8, n_part)], " "),
                np.array(["ring", "plate", "gear", "rod", "bolt", "anvil", "widget"])[
                    rng.integers(0, 7, n_part)])),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                                         "PROMO"])[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2))}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                                  "5-LOW"])[rng.integers(0, 5, n_ord)])}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.array(["N", "A", "R"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": _dates(rng, "1995-01-02", "2001-11-04", n_li)}),
        "events": events_table(rng, int(1_000_000 * sf), 30),
        "documents": documents_table(rng, int(50_000 * sf), dup_share),
        "embeddings": embeddings_table(rng, int(20_000 * sf)),
    }
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
