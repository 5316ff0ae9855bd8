"""Seeded stand-in for the engine's star-schema test tables.

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one parquet file each, with the column names
and types `graft.sources.Tables` reads. Sizes follow the sf0.01 tables
(60,000 lineitem rows). The same seed gives byte-identical tables.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data table query join scan sort key value part line order "
         "customer stream batch window group agg hash merge filter column "
         "spark fast slow big small row index file page cache plan").split()


def _ts(us):
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _choice(r, options, n):
    return pa.array([options[i] for i in r.integers(0, len(options), n)])


def tables(seed):
    r = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_line, n_ev = 1500, 100, 2000, 15000, 60000, 10000
    n_doc, n_vec = 500, 500
    day_us = 86400 * 10**6
    t1992 = 694224000 * 10**6  # 1992-01-01
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _choice(r, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = ["small", "red", "blue", "green", "large", "shiny", "old", "new"]
    noun = ["ring", "widget", "bolt", "gear", "valve", "spring", "plate"]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(r.integers(0, len(adj), n_part), r.integers(0, len(noun), n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": _choice(r, ["ECONOMY", "SMALL", "STANDARD", "PROMO", "LARGE"], n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _choice(r, ["F", "O", "P"], n_ord),
        "o_totalprice": np.round(r.uniform(1000, 400000, n_ord), 2),
        "o_orderdate": _ts(t1992 + r.integers(0, 2400, n_ord) * day_us),
        "o_orderpriority": _choice(r, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    qty = r.integers(1, 51, n_line).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2000, n_line), 2),
        "l_discount": np.round(r.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(r.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": _choice(r, ["A", "N", "R"], n_line),
        "l_linestatus": _choice(r, ["F", "O"], n_line),
        "l_shipdate": _ts(t1992 + r.integers(0, 2500, n_line) * day_us)})
    t2024 = 1704067200 * 10**6
    gaps = r.integers(1, 2 * 30 * day_us // n_ev, n_ev)
    out["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts(t2024 + np.cumsum(gaps) // 2),
        "user_id": pa.array(r.integers(0, 150, n_ev), pa.int64()),
        "event_type": _choice(r, ["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.maximum(np.round(r.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i >= 20 and r.random() < 0.15:  # near-duplicate of an earlier document
            words = texts[r.integers(0, i)].split()
            words[r.integers(0, len(words))] = WORDS[r.integers(0, len(WORDS))]
        else:
            words = [WORDS[j] for j in r.integers(0, len(WORDS), r.integers(8, 90))]
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": _choice(r, ["en", "en", "en", "zh", "es", "de", "fr"], n_doc),
        "source": [f"src{s}" for s in r.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = r.standard_normal((n_vec, 64)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_vec), pa.int32())})
    return out


def write(seed, out_dir):
    for name, t in tables(seed).items():
        pq.write_table(t, f"{out_dir}/{name}.parquet")
