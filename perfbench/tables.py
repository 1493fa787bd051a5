"""Seeded input tables for the batch-registry workload, and its oracle check.

`write(dir, seed)` writes the seven tables the workload's registry entries
read, in the schemas of the repo's test data (TESTDATA.md) at about the
sf0.01 size: customer, supplier, orders, lineitem, events, documents and
embeddings, one parquet file each. The same seed gives the same tables.

`check(tables_dir, results_dir)` compares each entry's result, as the
harness wrote it, with the entry's DuckDB oracle the way `tools/compare.py`
does: columns sorted by name, rows sorted, every cell equal.
"""
import datetime
import glob
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# The search corpus's vocabulary (perfbench Corpus.Vocab)
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
         "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
         "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]

CUSTOMERS, SUPPLIERS, PARTS, ORDERS = 1500, 100, 2000, 15000
EVENTS, USERS, DOCS, VECS, DIM, LABELS = 10000, 100, 500, 500, 64, 10


def _save(dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dir, f"{name}.parquet"))


def write(dir, seed):
    os.makedirs(dir, exist_ok=True)
    r = random.Random(seed)
    day = datetime.datetime(1995, 1, 1)

    _save(dir, "customer", {
        "c_custkey": pa.array(range(CUSTOMERS), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(CUSTOMERS)],
        "c_nationkey": pa.array([r.randrange(25) for _ in range(CUSTOMERS)], pa.int32()),
        "c_acctbal": [round(r.uniform(-999, 9999), 2) for _ in range(CUSTOMERS)],
        "c_mktsegment": [r.choice(SEGMENTS) for _ in range(CUSTOMERS)],
    })
    _save(dir, "supplier", {
        "s_suppkey": pa.array(range(SUPPLIERS), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(SUPPLIERS)],
        "s_nationkey": pa.array([r.randrange(25) for _ in range(SUPPLIERS)], pa.int32()),
        "s_acctbal": [round(r.uniform(-999, 9999), 2) for _ in range(SUPPLIERS)],
    })

    o_dates = [day + datetime.timedelta(days=r.randrange(2400)) for _ in range(ORDERS)]
    _save(dir, "orders", {
        "o_orderkey": pa.array(range(ORDERS), pa.int64()),
        "o_custkey": pa.array([r.randrange(CUSTOMERS) for _ in range(ORDERS)], pa.int64()),
        "o_orderstatus": [r.choice("FOP") for _ in range(ORDERS)],
        "o_totalprice": [round(r.uniform(1000, 400000), 2) for _ in range(ORDERS)],
        "o_orderdate": pa.array(o_dates, pa.timestamp("us")),
        "o_orderpriority": [r.choice(PRIORITIES) for _ in range(ORDERS)],
    })
    li = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                          "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                          "l_linestatus", "l_shipdate")}
    for o in range(ORDERS):
        for n in range(1, 2 + r.randrange(6)):
            li["l_orderkey"].append(o)
            li["l_partkey"].append(r.randrange(PARTS))
            li["l_suppkey"].append(r.randrange(SUPPLIERS))
            li["l_linenumber"].append(n)
            li["l_quantity"].append(float(1 + r.randrange(50)))
            li["l_extendedprice"].append(round(r.uniform(900, 105000), 2))
            li["l_discount"].append(r.randrange(11) / 100)
            li["l_tax"].append(r.randrange(9) / 100)
            li["l_returnflag"].append(r.choice("ANR"))
            li["l_linestatus"].append(r.choice("OF"))
            li["l_shipdate"].append(o_dates[o] + datetime.timedelta(days=1 + r.randrange(120)))
    for k in ("l_orderkey", "l_partkey", "l_suppkey"):
        li[k] = pa.array(li[k], pa.int64())
    li["l_linenumber"] = pa.array(li["l_linenumber"], pa.int32())
    li["l_shipdate"] = pa.array(li["l_shipdate"], pa.timestamp("us"))
    _save(dir, "lineitem", li)

    ts, t = [], datetime.datetime(2024, 1, 1)
    for _ in range(EVENTS):
        t += datetime.timedelta(microseconds=r.randrange(1, 400_000_000))
        ts.append(t)
    _save(dir, "events", {
        "event_id": pa.array(range(EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        # skewed users, so the count-min heavy hitters are a few users
        "user_id": pa.array([int(USERS * r.random() ** 2) for _ in range(EVENTS)], pa.int64()),
        "event_type": [r.choice(EVENT_TYPES) for _ in range(EVENTS)],
        "value": [round(r.uniform(0, 20), 2) for _ in range(EVENTS)],
        "props": [f'{{"k": {r.randrange(100)}}}' for _ in range(EVENTS)],
    })

    # One doc in ten is a near-copy of an earlier one (a few tokens
    # changed), so the dedup entries find pairs.
    texts = []
    for i in range(DOCS):
        if i >= 10 and r.random() < 0.1:
            toks = r.choice(texts).split(" ")
            for _ in range(max(1, len(toks) // 20)):
                toks[r.randrange(len(toks))] = r.choice(VOCAB)
        else:
            toks = [r.choice(VOCAB) for _ in range(8 + r.randrange(93))]
        texts.append(" ".join(toks))
    _save(dir, "documents", {
        "doc_id": pa.array(range(DOCS), pa.int64()),
        "text": texts,
        "lang": [r.choice(LANGS) for _ in range(DOCS)],
        "source": [f"src{i % 20}" for i in range(DOCS)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })

    # Vectors around one centre per label.
    centres = [[r.gauss(0, 1) for _ in range(DIM)] for _ in range(LABELS)]
    labels = [r.randrange(LABELS) for _ in range(VECS)]
    vecs = [[c + r.gauss(0, 0.35) for c in centres[lab]] for lab in labels]
    _save(dir, "embeddings", {
        "vec_id": pa.array(range(VECS), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _canon(rows):
    return sorted((tuple(r) for r in rows), key=lambda t: tuple((x is None, str(x)) for x in t))


def check(tables_dir, results_dir):
    """{entry: None if its result matches the oracle, else what differs}."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = {}
    for entry, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(results_dir, entry, "*.parquet"))
        if not files:
            out[entry] = "no result was written"
            continue
        try:
            tbl = pq.read_table(files[0])
            ores = con.sql(sql)
            ocols = sorted(ores.columns)
            odata = ores.df()[ocols].values.tolist()
        except Exception as e:  # noqa: BLE001 - any failure is a wrong answer
            out[entry] = f"oracle failed: {e}"
            continue
        scols = sorted(tbl.column_names)
        if scols != ocols:
            out[entry] = f"columns {scols} != oracle {ocols}"
            continue
        a, b = _canon(tbl.to_pandas()[scols].values.tolist()), _canon(odata)
        if a != b:
            diff = next((f"row {i}: {x} != oracle {y}" for i, (x, y) in enumerate(zip(a, b)) if x != y),
                        f"{len(a)} rows != oracle {len(b)}")
            out[entry] = diff
        else:
            out[entry] = None
    return out
