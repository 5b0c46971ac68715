"""Seeded synthetic inputs for the benchmark.

`write_tables` writes the catalog tables (TPC-H-ish star schema plus
`events`, `documents` and `embeddings`) with the column names, types and
value ranges the program's readers expect, so the catalog and stream
workloads run on inputs that depend only on `--seed` and the scale factor.
`split_events` cuts the `events` table into ts-ordered files for the
file-replay stream.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

WORDS = ("a the data row column table key value group order sort join merge "
         "hash scan filter agg window stream batch query spark vector line "
         "part customer big small fast slow").split()
LANGS = (["en", "de", "es", "fr", "zh"], [0.41, 0.14, 0.15, 0.15, 0.15])
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
PART_ADJ = ["blue", "red", "hot", "cold", "new", "old", "small", "large", "bright"]
PART_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget"]
DAY_US = 86_400_000_000


def _i32(a):
    return pa.array(a, type=pa.int32())


def _i64(a):
    return pa.array(a, type=pa.int64())


def _days(rng, day0, days, n):
    """Midnight timestamps (us, no time zone) in [day0, day0 + days)."""
    return pa.array((rng.integers(0, days, n, dtype=np.int64) + day0) * DAY_US,
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _make(name, sf, rng):
    n_cust = max(30, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(40, int(200_000 * sf))
    n_ord = max(300, int(1_500_000 * sf))
    if name == "region":
        return {"r_regionkey": _i32(np.arange(5)),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    if name == "nation":
        return {"n_nationkey": _i32(np.arange(25)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": _i32(np.arange(25) % 5)}
    if name == "customer":
        return {"c_custkey": _i64(np.arange(n_cust)),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": _i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)}
    if name == "supplier":
        return {"s_suppkey": _i64(np.arange(n_supp)),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": _i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}
    if name == "part":
        return {"p_partkey": _i64(np.arange(n_part)),
                "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                                     rng.choice(PART_NOUN, n_part))],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(
                    ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
                "p_size": _i32(rng.integers(1, 51, n_part)),
                "p_retailprice": np.round(rng.uniform(900.0, 999.9, n_part), 1)}
    if name == "orders":
        return {"o_orderkey": _i64(np.arange(n_ord)),
                "o_custkey": _i64(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _days(rng, 9131, 2404, n_ord),  # 1995-01-01 .. 2001-08-01
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)}
    if name == "lineitem":
        n = max(1200, int(6_000_000 * sf))
        qty = rng.integers(1, 51, n).astype(np.float64)
        return {"l_orderkey": _i64(rng.integers(0, n_ord, n)),
                "l_partkey": _i64(rng.integers(0, n_part, n)),
                "l_suppkey": _i64(rng.integers(0, n_supp, n)),
                "l_linenumber": _i32(rng.integers(1, 8, n)),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
                "l_discount": rng.integers(0, 11, n) / 100.0,
                "l_tax": rng.integers(0, 9, n) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n),
                "l_linestatus": rng.choice(["F", "O"], n),
                "l_shipdate": _days(rng, 9132, 2499, n)}  # 1995-01-02 .. 2001-11-04
    if name == "events":
        # ts-ordered over the 30 days from 2024-01-01
        n = max(1000, int(1_000_000 * sf))
        ts = np.sort(rng.integers(0, 30 * DAY_US, n, dtype=np.int64)) + 19723 * DAY_US
        return {"event_id": _i64(np.arange(n)),
                "ts": pa.array(ts, type=pa.timestamp("us")),
                "user_id": _i64(rng.integers(0, max(10, int(15_000 * sf)), n)),
                "event_type": rng.choice(EVENT_TYPES, n),
                "value": np.round(rng.gamma(2.0, 50.0, n), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}
    if name == "documents":
        # bag-of-words texts; 1 % copied over another document, half of those
        # with one word changed, so the dedup families find clusters
        n = max(500, int(50_000 * sf))
        texts = [" ".join(rng.choice(WORDS, k)) for k in rng.integers(8, 100, n)]
        for j, (s, d) in enumerate(zip(rng.integers(0, n, max(2, n // 100)),
                                       rng.integers(0, n, max(2, n // 100)))):
            words = texts[s].split()
            if j % 2:
                words[rng.integers(0, len(words))] = rng.choice(WORDS)
            texts[d] = " ".join(words)
        return {"doc_id": _i64(np.arange(n)), "text": texts,
                "lang": rng.choice(LANGS[0], n, p=LANGS[1]),
                "source": [f"src{i % 20}" for i in range(n)],
                "n_chars": _i64([len(x) for x in texts])}
    if name == "embeddings":
        # 64-d unit vectors clustered by label
        n = max(500, int(20_000 * sf))
        labels = rng.integers(0, 10, n)
        v = rng.normal(0.0, 1.0, (10, 64))[labels] + rng.normal(0.0, 1.5, (n, 64))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        return {"vec_id": _i64(np.arange(n)),
                "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
                "label": _i32(labels)}
    raise ValueError(name)


def write_tables(out_dir, sf, seed, only=TABLES):
    """Write the tables named in `only` as `<out_dir>/<name>.parquet`. Each
    table draws from its own stream of the seed, so its rows do not depend
    on which other tables are written. Returns the row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name in only:
        table = pa.table(_make(name, sf, np.random.default_rng([seed, TABLES.index(name)])))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def split_events(events_file, out_dir, n_files):
    """Split events into `n_files` ts-ordered parquet files, named so that a
    lexicographic listing is ts order. Returns the row count of each file."""
    os.makedirs(out_dir, exist_ok=True)
    table = pq.read_table(events_file).sort_by("ts")
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    sizes = []
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out_dir, f"events-{i:04d}.parquet"))
        sizes.append(part.num_rows)
    return sizes
