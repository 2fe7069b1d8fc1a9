"""Seeded input generator for the perfbench workloads.

`base_tables(out, seed, sf)` writes the ten tables graft's queries read
(region nation customer supplier part orders lineitem events documents
embeddings), one single-row-group parquet file each, with the schemas, value
domains (the documents' 31-word vocabulary and 10-99 words per text
included) and row counts of the sf0.01 or sf0.1 TPC-H-like test tables graft
is developed and benchmarked on (TESTDATA.md).

`dup_corpus(base, out, seed)` derives the `llm_corpus_dup` input from a base
directory: every table except `documents` is symlinked unchanged, and the
documents get seeded duplicates appended - 20% of docs gain 1-4 exact copies
(2.5 on average), 10% gain one near copy (a few words replaced) - so the
dedup operators see a corpus in which collapsing duplicates first pays off.
The seed picks the documents; the amount of duplication is fixed.

The same arguments always give byte-identical files (`dir_digest`).
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86_400_000_000
# rows of customer, supplier, part, orders, lineitem, events, distinct event
# users, documents and embeddings in the test tables of each scale factor
ROWS = {"0.01": (1_500, 100, 2_000, 15_000, 60_000, 10_000, 150, 500, 500),
        "0.1": (15_000, 1_000, 20_000, 150_000, 600_000, 100_000, 1_500, 5_000, 2_000)}


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"),
                   row_group_size=1 << 30)


def _ts(start, offsets_us):
    base = int(np.datetime64(start, "us").astype(np.int64))
    return pa.array(base + np.asarray(offsets_us, dtype=np.int64),
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng, n_words):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def base_tables(out, seed, sf):
    """The ten tables at the size of the test tables of scale factor sf."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part, n_ord, n_line, n_ev, n_users, n_docs, n_vecs = ROWS[sf]

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    order_days = 2404  # 1995-01-01 .. 2001-08-01
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts("1995-01-01",
                           rng.integers(0, order_days, n_ord) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts("1995-01-02",
                          rng.integers(0, order_days + 100, n_line) * DAY_US)})
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts("2024-01-01",
                  np.sort(rng.integers(0, 30 * DAY_US, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(np.maximum(rng.exponential(50.0, n_ev), 0.01), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [_text(rng, n) for n in rng.integers(10, 100, n_docs)]
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_vecs, dtype=np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels})


def dup_corpus(base, out, seed, exact_share=0.2, near_share=0.1):
    """Documents of `base` plus seeded exact and near copies; other tables
    are symlinks into `base`. Returns (doc count, distinct-text count)."""
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        if t != "documents":
            os.symlink(os.path.relpath(os.path.join(base, t + ".parquet"), out),
                       os.path.join(out, t + ".parquet"))
    docs = pq.read_table(os.path.join(base, "documents.parquet")).to_pydict()
    rng = np.random.default_rng([seed, 2])
    n = len(docs["doc_id"])
    exact = set(rng.choice(n, round(n * exact_share), replace=False).tolist())
    near = set(rng.choice(n, round(n * near_share), replace=False).tolist())
    extra = []  # (source doc, text) of each appended copy
    for k, i in enumerate(sorted(exact)):
        extra += [(i, docs["text"][i])] * (1 + k % 4)
    for i in sorted(near):
        words = docs["text"][i].split(" ")
        for _ in range(1 + len(words) // 25):
            words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
        extra.append((i, " ".join(words)))
    extra = [extra[j] for j in rng.permutation(len(extra))]
    orig = list(range(n)) + [i for i, _ in extra]
    text = list(docs["text"]) + [t for _, t in extra]
    _write(out, "documents", {
        "doc_id": np.arange(len(orig), dtype=np.int64),
        "text": text,
        "lang": [docs["lang"][i] for i in orig],
        "source": [docs["source"][i] for i in orig],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})
    return len(orig), len(set(text))


def dir_digest(d):
    """sha256 over the bytes of every table file of `d`, in table order."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(d, t + ".parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()
