"""Seeded generator for the benchmark's input tables.

Writes the ten tables graft's queries read (`region` ... `embeddings`)
as single parquet files under `<out>/<table>.parquet`, with the same
column names, types and parquet encodings as the harness fixtures
described in FIXTURES.md (section B): int64 keys, int32 dimension keys,
microsecond timestamps without a zone, `list<float>` embeddings of
dimension 64. Tables above 16k rows are cut into up to eight row
groups. Row counts follow the TPC-H scale factor `sf`
(lineitem ~ 6e6 * sf rows). The same seed always gives the same bytes.

Distributions mirror the fixtures: uniform keys and categories,
lineitem dates in 1995-2001, documents drawn from a 30-word vocabulary
with about 5% near-duplicates (an earlier document plus a " dup"
token), and unit-norm embeddings loosely clustered by label.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = np.array(["en", "es", "zh", "de", "fr"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_ADJ = ["blue", "red", "small", "hot", "old", "large", "cold", "new"]
PART_NOUN = ["anvil", "ring", "widget", "bolt", "plate", "rod", "gizmo", "gear"]
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
DIM = 64
US_PER_DAY = 86_400_000_000


def _days(s):
    return int(np.datetime64(s, "D").astype(np.int64))


def _ts_days(days):
    return pa.array(days.astype(np.int64) * US_PER_DAY, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    # several row groups per file, so Spark splits the larger tables
    # into one scan task per core instead of reading each in one task
    t = pa.table(cols)
    pq.write_table(t, os.path.join(out, f"{name}.parquet"), compression="snappy",
                   row_group_size=max(16384, -(-t.num_rows // 8)))


def tables(sf, seed):
    """Yield (name, {column: array}) for every table at scale `sf`."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_events = max(1_000, int(1_000_000 * sf))
    n_docs = max(50, int(50_000 * sf))

    yield "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(REGIONS)}
    yield "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    yield "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))}
    yield "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))}
    pk = np.arange(n_part, dtype=np.int64)
    retail = np.round(900 + (pk % 1000) / 10, 1)
    yield "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(retail)}
    odate = rng.integers(_days("1995-01-01"), _days("2001-08-01") + 1, n_ord)
    yield "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": _ts_days(odate),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))}

    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lineno = (np.arange(len(okey)) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    n_li = len(okey)
    order = rng.permutation(n_li)
    okey, lineno = okey[order], lineno[order]
    lpart = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    yield "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(lpart),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lineno.astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * retail[lpart] * rng.uniform(1.0, 2.1, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n_li)),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n_li)),
        "l_shipdate": _ts_days(odate[okey] + rng.integers(1, 122, n_li))}

    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    gaps = rng.exponential(30 * US_PER_DAY / n_events, n_events)
    yield "events", {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(start + np.cumsum(gaps).astype(np.int64), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, int(15_000 * sf)), n_events).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50, n_events), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)])}

    vocab = np.array(VOCAB)
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 100))]))
    yield "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))}

    centroids = rng.normal(0, 1, (10, DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    label = rng.integers(0, 10, n_docs)
    vec = rng.normal(0, 1 / np.sqrt(DIM), (n_docs, DIM)) + 0.15 * centroids[label]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", {
        "vec_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_docs * DIM + 1, DIM, dtype=np.int32)),
            pa.array(vec.ravel())),
        "label": pa.array(label.astype(np.int32))}


def generate(out, sf, seed):
    """Write every table for (`sf`, `seed`) into directory `out`."""
    os.makedirs(out, exist_ok=True)
    for name, cols in tables(sf, seed):
        _write(out, name, cols)
