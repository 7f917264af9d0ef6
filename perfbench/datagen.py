"""Seeded synthetic tables for the benchmark.

Writes `{name}.parquet` files with the schemas the graft loaders and
queries expect (TPC-H-like star schema, an `events` stream table and a
`documents`/`embeddings` text corpus). The same seed always gives the
same bytes-for-bytes table contents.

Timestamps are written tz-naive, so Spark reads `l_shipdate` and
`o_orderdate` as TIMESTAMP_NTZ, like the fixture tables the queries are
written against.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 4,352 made-up words. Random texts over a vocabulary this large share
# few shingles and have unrelated simhashes, so the only near-duplicate
# edges are the planted ones and the components graph has the same shape
# whatever the seed.
SYLLABLES = "ba ko mi ru te zo la ne pi su da fe gu ho ji ka".split()
VOCAB = [a + b for a in SYLLABLES for b in SYLLABLES] + \
        [a + b + c for a in SYLLABLES for b in SYLLABLES for c in SYLLABLES]
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]
SEGMENTS = ["BUILDING", "FURNITURE", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]

DAY_MS = 86_400_000
EPOCH_1995_MS = 788_918_400_000  # 1995-01-01T00:00:00
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def _ts_ms(values):
    return pa.array(values.astype("int64"), type=pa.timestamp("ms"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def lineitem(rng, n_orders, n_part, n_supp):
    """TPC-H order: order keys ascending, 1..7 lines per order."""
    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    shipdate = EPOCH_1995_MS + rng.integers(0, 2500, n) * DAY_MS
    return pa.table({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, n_part, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n)),
        "l_shipdate": _ts_ms(shipdate),
    })


def orders(rng, n_orders, n_cust):
    return pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_orders)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _ts_ms(EPOCH_1995_MS + rng.integers(0, 2400, n_orders) * DAY_MS),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders)),
    })


def customer(rng, n):
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n)),
    })


def supplier(rng, n):
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "s_suppkey": keys,
        "s_name": pa.array([f"Supplier#{k:09d}" for k in keys]),
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })


def part(rng, n):
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    return pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": pa.array(rng.choice(names, n)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n)),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2),
    })


def nation():
    return pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })


def region():
    return pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })


def events(rng, n, n_users):
    ts = EPOCH_2024_US + np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": _money(rng, 0.01, 500.0, n),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n):
    """Random-vocabulary texts; every twentieth doc is an earlier
    original with ' dup' appended, so the near-duplicate operators find
    the same number of clusters whatever the seed."""
    texts = []
    for i in range(n):
        if i > 0 and i % 20 == 0:
            j = int(rng.integers(0, i))
            texts.append(texts[j - 1 if j > 0 and j % 20 == 0 else j] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n, dim=64):
    """Random unit vectors of the 64 dimensions the queries read. A
    vector within cosine 0.3 of an earlier one with the same label is
    drawn again, so no pair reaches the near-duplicate threshold (0.40),
    the vectors add no edges to the components graph, and its shape
    does not depend on the seed."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    v = np.empty((n, dim), dtype=np.float32)
    for i in range(n):
        same = v[:i][labels[:i] == labels[i]]
        while True:
            x = rng.normal(size=dim)
            x /= np.linalg.norm(x)
            if same.size == 0 or (same @ x).max() < 0.3:
                break
        v[i] = x
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": labels,
    })


def write_lineitem(out_dir, seed, scale):
    """`lineitem` alone, about 6 M rows per unit of scale."""
    rng = np.random.default_rng([seed, 1])
    t = lineitem(rng, int(1_500_000 * scale), int(200_000 * scale), int(10_000 * scale))
    pq.write_table(t, f"{out_dir}/lineitem.parquet")


def write_all(out_dir, seed, scale):
    """Every table, sized like the fixtures at scale factor `scale`."""
    rng = np.random.default_rng([seed, 2])
    n_orders = int(1_500_000 * scale)
    n_cust = int(150_000 * scale)
    n_part = int(200_000 * scale)
    n_supp = int(10_000 * scale)
    tables = {
        "region": region(),
        "nation": nation(),
        "customer": customer(rng, n_cust),
        "supplier": supplier(rng, n_supp),
        "part": part(rng, n_part),
        "orders": orders(rng, n_orders, n_cust),
        "lineitem": lineitem(rng, n_orders, n_part, n_supp),
        "events": events(rng, int(1_000_000 * scale), int(15_000 * scale)),
        "documents": documents(rng, int(50_000 * scale)),
        "embeddings": embeddings(rng, int(50_000 * scale)),
    }
    for name, t in tables.items():
        pq.write_table(t, f"{out_dir}/{name}.parquet")
