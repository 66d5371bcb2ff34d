"""Seeded generator for the benchmark's input tables.

Writes the ten tables the registry queries read (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet
file each) with the same schemas, physical types, key domains and value
distributions as the test corpus described in TESTDATA.md and
FIXTURES.md section B. Row counts scale with `sf` exactly as there
(lineitem = 6,000,000 x sf, events = 1,000,000 x sf).

The same (seed, sf) always gives byte-identical values, so a benchmark run
is reproducible from its seed and never reads data from outside its
checkout.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()


def _days(start, end):
    return (np.datetime64(end) - np.datetime64(start)).astype(int)


def _dates(rng, n, start, end):
    """Midnight timestamps uniform over [start, end], as timestamp[us]."""
    d = np.datetime64(start, "us") + rng.integers(
        0, _days(start, end) + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf, names=TABLES):
    """name -> pyarrow.Table for the named tables at scale `sf`. Each table
    draws from its own stream of the seed, so a subset generates the same
    rows as the full set."""
    names = set(names)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    out = {}

    def rng_for(name):
        return np.random.default_rng([seed, TABLES.index(name)])

    if "region" in names:
        out["region"] = pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": pa.array(REGIONS, s)})
    if "nation" in names:
        out["nation"] = pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    if "customer" in names:
        rng = rng_for("customer")
        out["customer"] = pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99), f64),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)})
    if "supplier" in names:
        rng = rng_for("supplier")
        out["supplier"] = pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99), f64)})
    if "part" in names:
        rng = rng_for("part")
        pnames = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
        pk = np.arange(n_part)
        out["part"] = pa.table({
            "p_partkey": pa.array(pk, i64),
            "p_name": pa.array(rng.choice(pnames, n_part), s),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part), s),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 1), f64)})
    if "orders" in names:
        rng = rng_for("orders")
        out["orders"] = pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
            "o_totalprice": pa.array(_money(rng, n_ord, 1000, 500000), f64),
            "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)})
    if "lineitem" in names:
        rng = rng_for("lineitem")
        out["lineitem"] = pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
            "l_extendedprice": pa.array(_money(rng, n_line, 900, 105000), f64),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100, f64),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100, f64),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), s),
            "l_shipdate": _dates(rng, n_line, "1995-01-02", "2001-11-04")})
    if "events" in names:
        out["events"] = events(rng_for("events"), n_ev, max(1, n_cust // 10))
    if "documents" in names:
        out["documents"] = documents(rng_for("documents"), n_doc)
    if "embeddings" in names:
        out["embeddings"] = embeddings(rng_for("embeddings"), n_emb)
    return out


def events(rng, n, n_users):
    """The Kafka-shaped source table: event_id is the offset, ts ascends
    over 30 days as TIMESTAMP(MICROS) (the test corpus's physical type)."""
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    value = np.maximum(0.01, rng.exponential(50.0, n))
    precise = rng.random(n) < 0.1
    value = np.where(precise, np.round(value, 4), np.round(value, 2))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string())})


def documents(rng, n):
    """Word-bag documents over a 30-word vocabulary; ~5% are copies of an
    earlier document with a trailing `dup` token (near-duplicate pairs)."""
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(rng, n, dim=64):
    """Unit-norm float vectors clustered around one centroid per label."""
    label = rng.integers(0, 10, n)
    centroids = rng.normal(0, 1, (10, dim))
    v = centroids[label] * 0.15 + rng.normal(0, 1, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * dim, dim), pa.int32()),
        pa.array(v.reshape(-1), pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(label, pa.int32())})


def write(seed, sf, out_dir, names=TABLES):
    """Write the named tables as `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(seed, sf, names).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def stage_events(seed, sf, stage_dir, n_files, flush_size):
    """Split the events table into `n_files` parquet files at seeded cut
    points (one streaming micro-batch each). No file's row count is a
    multiple of `flush_size`, so batch edges fall inside rotation chunks and
    about half of the commits merge into an already committed chunk.
    Writes `manifest.tsv` (file name, row count) in offset order."""
    tbl = tables(seed, sf, ["events"])["events"]
    n = tbl.num_rows
    rng = np.random.default_rng(seed + 7919)
    base = n / n_files
    sizes = []
    while len(sizes) < n_files - 1:
        k = int(base * rng.uniform(0.8, 1.2))
        if k % flush_size:
            sizes.append(k)
    sizes.append(n - sum(sizes))
    if sizes[-1] % flush_size == 0:
        sizes[-1] -= 1
        sizes[-2] += 1
    os.makedirs(stage_dir, exist_ok=True)
    manifest, off = [], 0
    for i, k in enumerate(sizes):
        name = f"batch-{i:04d}.parquet"
        pq.write_table(tbl.slice(off, k), os.path.join(stage_dir, name))
        manifest.append(f"{name}\t{k}\n")
        off += k
    with open(os.path.join(stage_dir, "manifest.tsv"), "w") as f:
        f.writelines(manifest)

