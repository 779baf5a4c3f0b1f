"""Seeded corpus generator for the benchmark.

Writes the ten tables graft's entries read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the column names, physical types and value
domains of the project's TPC-H-style test data (TESTDATA.md). Row counts scale with
`sf` exactly as that data does (lineitem = 6M * sf). The same seed and
sizes always give byte-identical files.

`organic=K` multiplies documents and embeddings K times the way
`tools/scale_up.py --organic` does: copy c >= 1 shifts ids by c * STRIDE,
appends " og<c> w<doc_id % 997>" to each text and shifts embedding dim 0
by c * 1e-3, so every copy of a document is a near-duplicate of the
others and distinct contents grow K-fold.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STRIDE = 10_000_000
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
ADJ = ["blue", "cold", "hot", "red", "small", "new", "green", "large"]
NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "pipe"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENTS = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _days(rng, n, lo, hi):
    lo_d = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - lo_d).astype(int) + 1
    return (lo_d + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def _documents(rng, n):
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    ends = np.cumsum(lens)
    texts = [" ".join(VOCAB[w] for w in words[e - k:e]) for e, k in zip(ends, lens)]
    # 5% of documents repeat an earlier document plus " dup" (near duplicates)
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return texts


def generate(out, seed, sf, organic=1):
    """Write the corpus for (seed, sf, organic) into directory `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = int(50_000 * sf), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    _write(out, "region", {"r_regionkey": pa.array(range(5), i32),
                           "r_name": pa.array(REGIONS)})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), i32),
                           "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                           "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pa.array(np.array(PRIOS)[rng.integers(0, 5, n_ord)])})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    month_us = 30 * 86_400 * 1_000_000
    offs = np.sort(rng.choice(month_us, n_ev, replace=False))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), i64),
        "event_type": pa.array(np.array(EVENTS)[rng.integers(0, 5, n_ev)]),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})

    texts = _documents(rng, n_doc)
    langs = np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vec)
    doc_cols = {k: [] for k in ["doc_id", "text", "lang", "source", "n_chars"]}
    emb_cols = {k: [] for k in ["vec_id", "embedding", "label"]}
    for c in range(organic):
        ids = np.arange(n_doc)
        salt = [""] * n_doc if c == 0 else [f" og{c} w{i % 997}" for i in ids]
        t = [a + b for a, b in zip(texts, salt)]
        doc_cols["doc_id"].append(ids + c * STRIDE)
        doc_cols["text"].extend(t)
        doc_cols["lang"].append(langs)
        doc_cols["source"].extend(f"src{i % 20}" for i in ids)
        doc_cols["n_chars"].append(np.array([len(x) for x in t], dtype=np.int64))
        v = vecs.copy()
        v[:, 0] += np.float32(c * 1e-3)
        emb_cols["vec_id"].append(np.arange(n_vec) + c * STRIDE)
        emb_cols["embedding"].extend(list(v))
        emb_cols["label"].append(labels)
    _write(out, "documents", {
        "doc_id": pa.array(np.concatenate(doc_cols["doc_id"]), i64),
        "text": pa.array(doc_cols["text"]),
        "lang": pa.array(np.concatenate(doc_cols["lang"])),
        "source": pa.array(doc_cols["source"]),
        "n_chars": pa.array(np.concatenate(doc_cols["n_chars"]), i64)})
    _write(out, "embeddings", {
        "vec_id": pa.array(np.concatenate(emb_cols["vec_id"]), i64),
        "embedding": pa.array(emb_cols["embedding"], pa.list_(pa.float32())),
        "label": pa.array(np.concatenate(emb_cols["label"]), i32)})
