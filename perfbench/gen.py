"""Seeded input tables for the benchmark.

The relational star (region .. lineitem, events) and the base `documents`
corpus follow the column layout and value ranges of the repository's sf0.1
test tables (TESTDATA.md, FIXTURES.md): uniform keys, two-decimal prices,
day-granular dates, a 30-word vocabulary for the documents with a 5% tail of
near-duplicates (the parent text plus a trailing " dup" token) and a few exact
copies. They are generated from a fixed base seed, so every run of a workload
reads the same star; the run's `--seed` only picks the op order
(`prep_queries`) or the letter cipher of the corpus (`corpus_increment`).
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
SF = 0.1

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, size=n)
    return (d * 86_400_000_000).astype("datetime64[us]")


def star_tables() -> dict:
    """The TPC-H-like star plus `events`, as pyarrow tables."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_li, n_ev = int(1_500_000 * SF), int(6_000_000 * SF), int(1_000_000 * SF)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    adjs = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    names = np.array([f"{a} {b}" for a in adjs for b in nouns])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    evtypes = np.array(["click", "error", "purchase", "signup", "view"])

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2), f64),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)], s)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2), f64)})
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(ptypes[rng.integers(0, 6, n_part)], s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1), f64)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)], s),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2), f64),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01"), pa.timestamp("us")),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)], s)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), f64),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_li), 2), f64),
        "l_discount": pa.array(np.round(rng.uniform(0, 10, n_li)) / 100.0, f64),
        "l_tax": pa.array(np.round(rng.uniform(0, 8, n_li)) / 100.0, f64),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)], s),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)], s),
        "l_shipdate": pa.array(_days(rng, n_li, "1995-01-02", "2001-11-04"), pa.timestamp("us"))})
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), i64),
        "event_type": pa.array(evtypes[rng.integers(0, 5, n_ev)], s),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    return t


def base_documents() -> list:
    """(doc_id, text, lang, source) rows of the sf0.1 word-soup corpus."""
    rnd = random.Random(BASE_SEED)
    rows = []
    for i in range(int(50_000 * SF)):
        if i > 20 and rnd.random() < 0.05:
            parent = rows[rnd.randrange(len(rows))][1]
            text = parent if rnd.random() < 0.03 else parent + " dup"
        else:
            text = " ".join(rnd.choice(VOCAB) for _ in range(rnd.randint(10, 100)))
        lang = rnd.choices(LANGS, LANG_P)[0]
        rows.append((i, text, lang, f"src{i % 20}"))
    return rows


def cipher_alphabet(seed: int) -> str:
    """Seeded permutation of a-z (Fisher-Yates), as ScaleRehearsal's cipher."""
    rnd = random.Random(1000 + seed)
    arr = [chr(c) for c in range(ord("a"), ord("z") + 1)]
    for i in range(len(arr) - 1, 0, -1):
        j = rnd.randrange(i + 1)
        arr[i], arr[j] = arr[j], arr[i]
    return "".join(arr)


def documents_replica(rows: list, seed: int) -> pa.Table:
    """Letter-cipher replica of the corpus that keeps every `doc_id`.

    Same cipher shape as `ScaleRehearsal.documentsReplica` (a bijection on
    [a-zA-Z], so lengths, word boundaries and near-duplicate structure are
    preserved), but ids are not shifted: the incremental rows split the
    pages at max(page_id)*4/5, which shifted ids would leave empty.
    """
    lower = "abcdefghijklmnopqrstuvwxyz"
    perm = cipher_alphabet(seed)
    table = str.maketrans(lower + lower.upper(), perm + perm.upper())
    texts = [r[1].translate(table) for r in rows]
    return pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
        "source": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def ensure_star(out_dir: str) -> None:
    """Write the star tables once; later runs reuse them."""
    done = os.path.join(out_dir, "_READY")
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_tables().items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(done, "w") as f:
        f.write("ok\n")


def ensure_corpus(out_dir: str, seed: int) -> None:
    path = os.path.join(out_dir, "documents.parquet")
    if os.path.exists(path):
        return
    os.makedirs(out_dir, exist_ok=True)
    _write(documents_replica(base_documents(), seed), path)
