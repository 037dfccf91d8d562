"""Seeded input generator for the graft benchmark.

Every table is a pure function of (workload, seed): the same seed gives
byte-identical parquet files. Schemas follow the TPC-H-ish test tables
the repository's gates read (`graft.Tables`), so the gate functions and
their DuckDB oracles run on these files unchanged. Sizes are chosen so
a run stays within the benchmark's time budget: graft's per-commit
cost is mostly fixed, so larger tables would add little but set-up time.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# (rows of orders, customers) for the change-feed loop, lineitem orders
# for the bulk merge, orders for the read mix, docs/vectors for the ops.
SIZES = {
    "cdc_trickle": {"orders": 8000, "customers": 1000},
    "bulk_merge": {"orders": 20000},
    "read_mix": {"orders": 60000},
    "ops_batch": {"documents": 200, "embeddings": 200},
}

VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small big customer "
         "query stream group filter vector").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
DAY0 = np.datetime64("1992-01-01", "D")
DAYS = 2400


def _rng(seed, salt):
    return np.random.default_rng([seed, salt])


def orders(seed, n, n_cust):
    r = _rng(seed, 1)
    key = np.arange(1, n + 1, dtype=np.int64)
    # every customer gets the same number of orders, so moving a customer
    # re-joins the same amount of work whatever the seed; the 2% of keys
    # past the last customer match none, so the left join keeps unmatched
    # rows (the null-nation group)
    cust = (r.permutation(n) % int(n_cust * 1.02) + 1).astype(np.int64)
    status = r.choice(np.array(["F", "O", "P"]), n, p=[0.49, 0.49, 0.02])
    price = np.round(r.uniform(900.0, 450000.0, n), 2)
    # dates rise with the key (ingest order), so a date range is a
    # clustered, zone-prunable predicate after optimize(o_orderdate)
    day = np.sort(r.integers(0, DAYS, n))
    prio = r.choice(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPEC", "5-LOW"]), n)
    return pa.table({
        "o_orderkey": key,
        "o_custkey": cust,
        "o_orderstatus": status,
        "o_totalprice": price,
        "o_orderdate": (DAY0 + day).astype("datetime64[D]"),
        "o_orderpriority": prio,
    })


def customers(seed, n):
    r = _rng(seed, 2)
    key = np.arange(1, n + 1, dtype=np.int64)
    return pa.table({
        "c_custkey": key,
        "c_name": np.array([f"Customer#{k:09d}" for k in key]),
        "c_nationkey": r.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": r.choice(np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                           "HOUSEHOLD", "MACHINERY"]), n),
    })


def lineitem(seed, n_orders):
    r = _rng(seed, 3)
    lines = r.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n = len(okey)
    qty = r.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": okey,
        "l_partkey": r.integers(1, 20001, n).astype(np.int64),
        "l_suppkey": r.integers(1, 1001, n).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n), 2),
        "l_discount": np.round(r.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": r.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": r.choice(np.array(["F", "O"]), n),
        "l_shipdate": (DAY0 + r.integers(0, DAYS, n)).astype("datetime64[D]"),
    })


def documents(seed, n):
    """Bag-of-words documents with planted near-duplicates in a fixed
    shape: an eighth of the documents are one-word edits of an original
    and another eighth one-word edits of those edits, so the
    near-duplicate operators find real pairs and three-document clusters,
    and every seed gives clusters of the same depth (the number of
    connected-component rounds follows it)."""
    r = _rng(seed, 4)
    n_copies = n // 4
    n_orig = n - n_copies
    words = [[VOCAB[j] for j in r.integers(0, len(VOCAB), int(r.integers(8, 45)))]
             for _ in range(n_orig)]

    def edit(w):
        w = list(w)
        w[int(r.integers(0, len(w)))] = VOCAB[int(r.integers(0, len(VOCAB)))]
        return w

    # long enough originals that one or two edits keep Jaccard >= 0.5
    long_ones = [i for i, w in enumerate(words) if len(w) >= 20]
    sources = r.choice(long_ones, n_copies - n_copies // 2, replace=False)
    first = [edit(words[i]) for i in sources]
    words += first + [edit(w) for w in first[: n_copies // 2]]
    words = [words[i] for i in r.permutation(n)]
    text = np.array([" ".join(w) for w in words])
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": r.choice(np.array(LANGS), n, p=LANG_P),
        "source": np.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def embeddings(seed, n, dim=64, labels=10):
    r = _rng(seed, 5)
    centers = r.normal(0.0, 1.0, (labels, dim))
    lab = r.integers(0, labels, n)
    v = centers[lab] + r.normal(0.0, 0.9, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": lab.astype(np.int32),
    })


def generate(workload, seed, out_dir):
    """Writes the workload's input tables as `<out_dir>/<table>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    s = SIZES[workload]
    tables = {}
    if "customers" in s:
        tables["customer"] = customers(seed, s["customers"])
    if workload == "bulk_merge":
        tables["lineitem"] = lineitem(seed, s["orders"])
    elif "orders" in s:
        tables["orders"] = orders(seed, s["orders"], s.get("customers", 1))
    if "documents" in s:
        tables["documents"] = documents(seed, s["documents"])
        tables["embeddings"] = embeddings(seed, s["embeddings"])
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
