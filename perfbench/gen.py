"""Seeded inputs for the graft benchmark.

Everything the program under test reads is made here from `--seed`: the
star-schema and text/vector tables (same schemas, value ranges and planted
near-duplicates as graft's synthetic test data), the `table_ops` call
stream and the `index_maintain` stream batches.
The same seed always gives byte-identical inputs.
"""
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per table: one scale, at which a `table_ops` call takes a few
# hundred milliseconds and an index round a few seconds on a 4-core box.
ROWS = {
    "region": 5, "nation": 25, "customer": 1500, "supplier": 100,
    "part": 2000, "orders": 15000, "lineitem": 60000, "events": 10000,
    "documents": 500, "embeddings": 500,
}
WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
LANGS = (("en", 0.44), ("zh", 0.14), ("de", 0.14), ("fr", 0.14), ("es", 0.14))
DIM = 64
DUP_SHARE = 0.05

# id ranges of generated stream rows: above every corpus id, one block per
# round, so ids never collide with the corpus or with each other
STREAM_ID_BASE = 1_000_000
STREAM_ID_BLOCK = 10_000


def _ts(days_from_epoch):
    return (np.asarray(days_from_epoch, dtype=np.int64) * 86_400_000_000).astype(
        "datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed):
    """All ten tables as pyarrow Tables, keyed by name."""
    rng = np.random.default_rng(seed)
    n = ROWS
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(rng.integers(9131, 11536, no)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(rng.integers(9132, 11630, nl))})
    ne = n["events"]
    secs = np.sort(rng.uniform(0, 30 * 86400, ne))
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us")
               + (secs * 1e6).astype(np.int64)).astype("datetime64[us]"),
        "user_id": rng.integers(0, 150, ne).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], ne),
        "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    t["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    v = rng.standard_normal((nv, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(v.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32)})
    return t


def _documents(rng, nd):
    langs = [l for l, _ in LANGS]
    probs = [p for _, p in LANGS]
    texts = []
    for i in range(nd):
        if i > 0 and rng.random() < DUP_SHARE:
            # planted near-duplicate: an earlier document plus one word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(WORDS, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(langs, nd, p=probs),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})


# ------------------------------------------------------------ call streams

def table_ops_calls(seed, n_cycles=200):
    """The seeded `table_ops` call stream: one dict per call, `kind` names
    the graft call and the remaining keys are its seeded constants. The
    stream is made of cycles that each hold every call kind once, in a
    seeded order, so any window of the stream has nearly the same mix
    (5 of the 19 calls of a cycle, 26%, are writes)."""
    r = random.Random(seed * 7919 + 1)
    kinds = [_loc_cmp, _loc_isin, _loc_contains, _loc_startswith, _select,
             _head, _iloc, _value_counts, _link, _linked_column, _view,
             _snapshot, *(_query_row(row) for row in QUERY_ROWS),
             _set, _set_where, _append, _delete_rows, _update_changed]
    calls = []
    for k in range(n_cycles):
        cycle = list(kinds)
        r.shuffle(cycle)
        for make in cycle:
            c = make(r)
            c["i"] = len(calls)
            c["cycle"] = k
            calls.append(c)
    return calls


def _loc_cmp(r):
    col, lo, hi = r.choice([("l_quantity", 1, 50), ("l_extendedprice", 900, 105000),
                            ("l_discount", 0, 10)])
    v = r.randint(lo, hi)
    if col == "l_discount":
        v = v / 100.0
    return {"kind": "loc_cmp", "table": "lineitem", "col": col,
            "op": r.choice(["<", ">=", "=="]), "value": float(v),
            "cols": ["l_orderkey", "l_partkey", col]}


def _loc_isin(r):
    col, dom = r.choice([("o_custkey", ROWS["customer"]),
                         ("o_orderkey", ROWS["orders"])])
    return {"kind": "loc_isin", "table": "orders", "col": col,
            "values": sorted(r.sample(range(dom), r.randint(3, 40)))}


def _loc_contains(r):
    return {"kind": "loc_contains", "table": "part", "col": "p_name",
            "pat": r.choice(["blue", "ring", "old ", "gi", "d w", "plate"])}


def _loc_startswith(r):
    col, pats = r.choice([("c_name", [f"Customer#00000{d}" for d in range(10)]),
                          ("c_mktsegment", ["AU", "BU", "FU", "HO", "MA"])])
    return {"kind": "loc_startswith", "table": "customer", "col": col,
            "pat": r.choice(pats)}


def _select(r):
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority"]
    return {"kind": "select", "table": "orders",
            "cols": sorted(r.sample(cols, r.randint(1, 3)))}


def _head(r):
    return {"kind": "head", "table": "orders", "n": r.randint(5, 200),
            "order": r.choice(["o_totalprice", "o_orderdate", "o_custkey"])}


def _iloc(r):
    a = r.randint(0, ROWS["orders"] - 300)
    return {"kind": "iloc", "table": "orders", "start": a,
            "stop": a + r.randint(1, 300)}


def _value_counts(r):
    t, col = r.choice([("lineitem", "l_returnflag"), ("orders", "o_orderpriority"),
                       ("customer", "c_mktsegment"), ("part", "p_type")])
    return {"kind": "value_counts", "table": t, "col": col}


def _link(r):
    return {"kind": "link", "table": "orders", "other": "customer",
            "segment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                 "HOUSEHOLD", "MACHINERY"]),
            "max_key": r.randint(10, 400)}


def _linked_column(r):
    return {"kind": "linked_column", "table": "orders", "other": "lineitem",
            "formula": r.choice(["count_links", "rollup-sum", "rollup-avg",
                                 "findmax", "findmin"]),
            "value_col": r.choice(["l_quantity", "l_extendedprice"]),
            "max_key": r.randint(10, 400)}


def _view(r):
    return {"kind": "view", "table": "orders",
            "view": r.choice(["urgent_open", "big_recent", "priority_mix"])}


def _snapshot(r):
    return {"kind": "snapshot", "table": "events",
            "as_of_day": r.randint(1, 30)}


def _query_row(row):
    # expression-only rows of SparkEntry.queries: the `queries` and
    # `functions` layers under the same per-call floor as the API calls
    return lambda r: {"kind": "query_row", "row": row}


def _set(r):
    return {"kind": "set", "table": "orders", "col": "o_totalprice",
            "factor": r.choice([0.5, 1.25, 2.0, 3.0])}


def _set_where(r):
    return {"kind": "set_where", "table": "orders", "col": "o_orderstatus",
            "status": r.choice(["F", "O", "P"]),
            "min_price": float(r.randint(1000, 500000))}


def _append(r):
    return {"kind": "append", "table": "orders", "max_key": r.randint(10, 2000)}


def _delete_rows(r):
    return {"kind": "delete_rows", "table": "orders",
            "priority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                  "4-NOT SPECIFIED", "5-LOW"])}


def _update_changed(r):
    return {"kind": "update_changed", "table": "orders", "col": "o_orderstatus",
            "status": r.choice(["F", "O", "P"]),
            "max_price": float(r.randint(1000, 500000))}


WRITE_KINDS = {"set", "set_where", "append", "delete_rows", "update_changed"}

QUERY_ROWS = ["q_text_tokens", "q_text_fingerprint"]


# ------------------------------------------------------------ stream batches

def rotate_text(text, k):
    """An injective alphabet rotation of the lowercase letters (the way
    graft's ScaleUp tool makes novel text), so a rotated document shares no
    shingles with the corpus it came from."""
    return "".join(chr((ord(c) - 97 + k) % 26 + 97) if "a" <= c <= "z" else c
                   for c in text)


def index_batches(seed, tables, n_rounds=60, batch=40, copy_share=0.5,
                  n_probe=24):
    """Seeded stream batches for `index_maintain`: per round one text batch
    and one vector batch of `batch` rows each. About `copy_share` of each
    batch are near-duplicate copies of corpus rows under fresh ids; the rest
    are novel rows (rotated text, per-element scaled vectors). Each row
    records whether it was planted as a copy, and of which corpus id.
    The end-of-run probes copy corpus rows and early stream rows under ids
    above every stream id."""
    r = random.Random(seed * 15485863 + 3)
    docs = tables["documents"].to_pydict()
    vecs = tables["embeddings"].to_pydict()
    nd, nv = len(docs["doc_id"]), len(vecs["vec_id"])
    rounds = []
    for k in range(n_rounds):
        base = STREAM_ID_BASE + k * STREAM_ID_BLOCK
        text_rows, vec_rows = [], []
        for j in range(batch):
            src = r.randrange(nd)
            t = docs["text"][src]
            if r.random() < copy_share:
                text_rows.append({"id": base + j, "text": t,
                                  "copy_of": docs["doc_id"][src]})
            else:
                text_rows.append({"id": base + j,
                                  "text": rotate_text(t, 1 + r.randrange(25)),
                                  "copy_of": None})
        for j in range(batch):
            src = r.randrange(nv)
            v = [float(x) for x in vecs["embedding"][src]]
            if r.random() < copy_share:
                s = 1.0 + r.random()
                vec_rows.append({"id": base + batch + j,
                                 "vec": [x * s for x in v],
                                 "copy_of": vecs["vec_id"][src]})
            else:
                vec_rows.append({"id": base + batch + j,
                                 "vec": [x * (0.25 + 1.5 * r.random()) for x in v],
                                 "copy_of": None})
        rounds.append({"text": text_rows, "vec": vec_rows})
    probe_base = STREAM_ID_BASE + n_rounds * STREAM_ID_BLOCK
    early = [row for rd in rounds[:4] for row in rd["text"]]
    early_v = [row for rd in rounds[:4] for row in rd["vec"]]
    probe_text, probe_vec = [], []
    for j in range(n_probe):
        t = docs["text"][r.randrange(nd)] if j % 2 else r.choice(early)["text"]
        probe_text.append({"id": probe_base + j, "text": t})
        v = ([float(x) for x in vecs["embedding"][r.randrange(nv)]] if j % 2
             else r.choice(early_v)["vec"])
        probe_vec.append({"id": probe_base + n_probe + j, "vec": [x * 0.9 for x in v]})
    return {"rounds": rounds, "probe_text": probe_text, "probe_vec": probe_vec}


WORKLOAD_INPUTS = {
    "table_ops": lambda seed, tables: table_ops_calls(seed),
    "index_maintain": index_batches,
}


def write_inputs(seed, workload, out_dir):
    """Everything one run of `workload` needs, under `out_dir`: the tables
    in `data/` and the workload's call stream or batches in
    `<workload>.json`."""
    tables = make_tables(seed)
    data = os.path.join(out_dir, "data")
    os.makedirs(data, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(data, f"{name}.parquet"))
    with open(os.path.join(out_dir, f"{workload}.json"), "w") as f:
        json.dump(WORKLOAD_INPUTS[workload](seed, tables), f)
