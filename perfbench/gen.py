"""Seeded generator for the benchmark's input tables.

Writes the star schema the graft query registry reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as parquet directories. Column names, types and value
distributions follow the repository's test data; row counts scale with
`sf` (sf 0.01 = 60 000 lineitem rows). Documents come in 10-member
near-duplicate clusters: member 0 is the base text and member r > 0
appends the token "rep<r>", the same shape `graft.tools.Datagen`
produces when it scales data up by 10. The same (sf, seed) always
gives byte-identical files.

Usage: python3 gen.py <out_dir> <sf> <seed> [maintenance cycles]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "red", "small", "green"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
CLUSTER = 10
MAX_DOCS = 500

EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def days(a, b, rng, n):
    """n uniform timestamps (whole days) in [a, b]."""
    lo = (np.datetime64(a, "D") - np.datetime64("1970-01-01", "D")).astype(int)
    hi = (np.datetime64(b, "D") - np.datetime64("1970-01-01", "D")).astype(int)
    d = rng.integers(lo, hi + 1, n).astype("int64")
    return pa.array(d * 86_400_000_000, pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, table, files):
    path = os.path.join(out, f"{name}.parquet")
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // files)
    for i in range(files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def files_for(rows):
    return int(min(16, max(1, -(-rows // 40_000))))


def sizes(sf):
    """Row counts: customer, supplier, part, orders, lineitem, events,
    users, documents, embeddings. Documents stop at sf 0.01's 500: the
    dedup pipelines cost far more per row than the TPC-H plans, and one
    pass runs both."""
    return (int(150_000 * sf), int(10_000 * sf), int(200_000 * sf), int(1_500_000 * sf),
            int(6_000_000 * sf), int(1_000_000 * sf), int(15_000 * sf),
            min(MAX_DOCS, int(50_000 * sf) // CLUSTER * CLUSTER),
            int(50_000 * sf) // CLUSTER * CLUSTER)


def generate(out, sf, seed, cycles=0):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_li, n_ev, n_users, n_docs, n_vec = sizes(sf)

    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    pk = np.arange(n_part)
    tables["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    tables["orders"] = orders(rng, np.arange(n_ord), n_cust)
    tables["lineitem"] = lineitem(rng, rng.integers(0, n_ord, n_li), n_part, n_supp)
    start = (np.datetime64("2024-01-01T00:00:00", "us") - EPOCH).astype("int64")
    span = 30 * 86_400_000_000
    ts = np.sort(start + rng.integers(0, span, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": money(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    tables["documents"] = documents(rng, n_docs // CLUSTER)
    tables["embeddings"] = embeddings(rng, n_vec // CLUSTER)

    os.makedirs(out, exist_ok=True)
    for name, t in tables.items():
        write(out, name, t, files_for(t.num_rows))
    if cycles:
        maintenance(out, sf, seed, cycles)


def orders(rng, keys, n_cust):
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": days("1995-01-01", "2001-08-01", rng, n),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)])})


def lineitem(rng, orderkeys, n_part, n_supp):
    n = len(orderkeys)
    return pa.table({
        "l_orderkey": pa.array(orderkeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": days("1995-01-02", "2001-11-04", rng, n)})


def maintenance(out, sf, seed, cycles):
    """Seeded DML cycles for the maintain workload, written under
    <out>/maintain: ops.txt has one op per line,
      <cycle> insert orders <batch file>   (new keys, primary-key checked)
      <cycle> update orders <lo> <hi>      (o_orderkey range)
      <cycle> delete lineitem <lo> <hi>    (l_orderkey range)
      <cycle> merge orders <batch file>    (half existing keys, half new)
    and the batches are parquet files beside it.
    """
    n_cust, n_supp, n_part, n_ord = sizes(sf)[:4]
    rng = np.random.default_rng([seed, 1])
    mdir = os.path.join(out, "maintain")
    os.makedirs(mdir, exist_ok=True)
    batch = max(10, n_ord // 500)      # 0.2 % of orders per insert / merge
    upd = max(10, n_ord // 200)        # 0.5 % of order keys updated
    dele = max(5, n_ord // 400)        # 0.25 % of order keys' lineitems deleted
    next_key = n_ord
    lines = []
    for c in range(1, cycles + 1):
        keys = np.arange(next_key, next_key + batch)
        next_key += batch
        pq.write_table(orders(rng, keys, n_cust), os.path.join(mdir, f"c{c}_orders.parquet"))
        lines.append(f"{c} insert orders c{c}_orders.parquet")
        lo = int(rng.integers(0, n_ord - upd))
        lines.append(f"{c} update orders {lo} {lo + upd - 1}")
        lo = int(rng.integers(0, n_ord - dele))
        lines.append(f"{c} delete lineitem {lo} {lo + dele - 1}")
        old = rng.choice(n_ord, batch - batch // 2, replace=False)
        new = np.arange(next_key, next_key + batch // 2)
        next_key += batch // 2
        pq.write_table(orders(rng, np.concatenate([old, new]), n_cust),
                       os.path.join(mdir, f"c{c}_merge.parquet"))
        lines.append(f"{c} merge orders c{c}_merge.parquet")
    with open(os.path.join(mdir, "ops.txt"), "w") as f:
        f.write("\n".join(lines) + "\n")


def documents(rng, n_base):
    words = np.array(WORDS)
    base = []
    for i in range(n_base):
        if i > 0 and rng.random() < 0.05:
            # planted near-duplicate of an earlier base document
            base.append(base[int(rng.integers(0, i))] + " dup")
        else:
            base.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))]))
    langs = np.array(LANGS)[rng.choice(len(LANGS), n_base, p=LANG_P)]
    ids, texts, lang, source = [], [], [], []
    for i, t in enumerate(base):
        for r in range(CLUSTER):
            ids.append(i * CLUSTER + r)
            texts.append(t if r == 0 else f"{t} rep{r}")
            lang.append(langs[i])
            source.append(f"src{i % 20}")
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": lang,
        "source": source,
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(rng, n_base):
    v = rng.normal(0.0, 1.0, (n_base, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_base)
    ids, vecs, lab = [], [], []
    for i in range(n_base):
        for r in range(CLUSTER):
            e = v[i].astype(np.float32)
            e[0] += np.float32(r) * np.float32(0.001)
            ids.append(i * CLUSTER + r)
            vecs.append(e)
            lab.append(labels[i])
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array([list(map(float, e)) for e in vecs], pa.list_(pa.float32())),
        "label": pa.array(lab, pa.int32())})


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]),
             int(sys.argv[4]) if len(sys.argv) > 4 else 0)
