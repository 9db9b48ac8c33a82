"""Generate the catalog tables `stream_replay` and `record.py` read: the
TPC-H-like star schema plus `events`, `documents` and `embeddings`, one
parquet file per table, with the column names, types and value domains the
engine's `Tables` loader and catalog queries expect.

Row counts scale with `sf` the way the engine's test tables do
(lineitem = 6M x sf, events = 1M x sf, ...). The output depends only on
`sf` and `seed`, so the recorded query fingerprints stay valid.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = np.array(["en", "fr", "zh", "de", "es"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _day_ts(rng, n, start, end):
    """Uniform whole-day timestamps in [start, end] as datetime64[us]."""
    s, e = np.datetime64(start, "D"), np.datetime64(end, "D")
    days = rng.integers(0, (e - s).astype(int) + 1, n)
    return (s + days).astype("datetime64[us]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def generate(out, sf, seed=42):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_user = max(15, int(15_000 * sf))
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())
    f64 = lambda a: pa.array(a, pa.float64())
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)

    _write(out, "region", {
        "r_regionkey": i32(np.arange(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": i32(np.arange(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32(np.arange(25) % 5)})
    _write(out, "customer", {
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": f64(money(-999.99, 9999.99, n_cust)),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                    "BUILDING", "FURNITURE"], n_cust)})
    _write(out, "supplier", {
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": f64(money(-999.99, 9999.99, n_supp))})
    adj = np.array(["blue", "old", "red", "small", "new", "large", "hot", "cold"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
    pk = np.arange(n_part)
    _write(out, "part", {
        "p_partkey": i64(pk),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "),
                              rng.choice(noun, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": f64(np.round(900 + (pk % 1000) / 10, 1))})
    _write(out, "orders", {
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": f64(money(1000, 500_000, n_ord)),
        "o_orderdate": _day_ts(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
        "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": f64(rng.integers(1, 51, n_li).astype(float)),
        "l_extendedprice": f64(money(900, 105_000, n_li)),
        "l_discount": f64(rng.integers(0, 11, n_li) / 100),
        "l_tax": f64(rng.integers(0, 9, n_li) / 100),
        "l_returnflag": rng.choice(["R", "N", "A"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _day_ts(rng, n_li, "1995-01-02", "2001-11-04")})
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev))
    _write(out, "events", {
        "event_id": i64(np.arange(n_ev)),
        "ts": (np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": i64(rng.integers(0, n_user, n_ev)),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], n_ev),
        "value": f64(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(WORDS)
    texts = [" ".join(rng.choice(words, int(k)))
             for k in rng.integers(10, 101, n_doc)]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] += " dup"
    # a few exact re-deliveries: copy an earlier document's text verbatim
    for i in rng.choice(np.arange(1, n_doc), n_doc // 625, replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    _write(out, "documents", {
        "doc_id": i64(np.arange(n_doc)),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": i64([len(t) for t in texts])})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": i64(np.arange(n_emb)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_emb))})

