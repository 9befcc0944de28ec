"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the program reads (region, nation, supplier,
customer, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the column names, physical types, value domains
and row-count rules of the project's fixture data (FIXTURES.md): a
TPC-H-like star schema, a month of click events, a 31-word text corpus
in which 5% of documents are a copy of another with " dup" appended,
and unit-norm 64-d float embeddings.

The data is a function of (scale, DATA_SEED) only; the workload seed
never changes it, so the oracle fingerprints of the fixed inputs can be
stored with the benchmark.

Usage: python3 perfbench/gen.py <out_dir> <scale>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = "blue cold hot large new old small shiny".split()
NOUN = "anvil bolt gear plate ring rod spring widget".split()
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def row_counts(scale):
    n = lambda base, floor=1: max(floor, int(round(base * scale)))
    return dict(supplier=n(10_000), customer=n(150_000), part=n(200_000),
                orders=n(1_500_000), lineitem=n(6_000_000),
                events=n(1_000_000), users=n(15_000),
                documents=n(50_000, 500), embeddings=n(20_000, 500))


def _days(rng, start, span_days, size):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days + 1, size).astype("timedelta64[D]")


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def tables(scale):
    rng = np.random.Generator(np.random.PCG64(DATA_SEED))
    c = row_counts(scale)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ns = c["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    nc = c["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})
    npart = c["part"]
    keys = np.arange(npart)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10.0, 1)})
    no = c["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2403, no), pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})
    nl = c["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, nl), pa.timestamp("us"))})
    ne = c["events"]
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, ne)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, c["users"], ne), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = c["documents"]
    lengths = rng.integers(10, 101, nd)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), n)]) for n in lengths]
    # near duplicates: 5% of documents copy another document and append
    # " dup"; 0.2% are exact copies (what the exact-dedup queries find)
    dup_ids = rng.choice(nd, nd // 20, replace=False)
    originals = np.setdiff1d(np.arange(nd), dup_ids)
    for i in dup_ids:
        texts[i] = texts[rng.choice(originals)] + " dup"
    for i in rng.choice(originals, max(1, nd // 500), replace=False):
        texts[i] = texts[rng.choice(originals)]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv = c["embeddings"]
    v = rng.standard_normal((nv, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return out


def write(out_dir, scale):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


CHANGE_KEYS = {"orders": "o_orderkey", "documents": "doc_id"}


def change_batch(base, table, seed, cycle, share=0.02):
    """A seeded change batch for `table` (orders or documents): one row per
    key with an `op` of update, insert or delete (3:1:1) and a full
    replacement payload. Updates and deletes pick keys of the base table
    (a key an earlier batch deleted makes its update a no-op, as MERGE
    defines); inserts take keys above every key any batch can use."""
    rng = np.random.Generator(np.random.PCG64([seed, cycle, sorted(CHANGE_KEYS).index(table)]))
    key = CHANGE_KEYS[table]
    n_base = base.num_rows
    n = max(10, int(n_base * share))
    n_upd, n_del = n * 3 // 5, n // 5
    n_ins = n - n_upd - n_del
    old = rng.choice(base.column(key).to_numpy(), n_upd + n_del, replace=False)
    fresh = n_base * 2 + cycle * n + np.arange(n_ins)
    keys = np.concatenate([old, fresh])
    ops = ["update"] * n_upd + ["delete"] * n_del + ["insert"] * n_ins
    if table == "orders":
        n_cust = 150_000 * n_base // 1_500_000
        cols = {
            "o_custkey": pa.array(rng.integers(0, max(1, n_cust), n), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 1000, 500000, n),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", 2403, n), pa.timestamp("us")),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)]}
    else:
        words = np.array(WORDS)
        texts = [" ".join(words[rng.integers(0, len(WORDS), k)])
                 for k in rng.integers(10, 101, n)]
        texts = [t + " dup" if i % 4 == 0 else t for i, t in enumerate(texts)]
        cols = {
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64())}
    out = pa.table({key: pa.array(keys, pa.int64()), "op": ops, **cols})
    return out.cast(pa.schema([pa.field(key, pa.int64()), pa.field("op", pa.string())]
                              + [base.schema.field(c) for c in cols]))


def merge(prev, batch, key):
    """MERGE semantics of graft.api.Upsert.mergeInto, as the oracle's
    expected version of a refreshed table: matched delete drops the row,
    matched update or insert replaces it, unmatched insert adds it,
    unmatched update or delete does nothing."""
    import pyarrow.compute as pc
    kept = prev.filter(pc.invert(pc.is_in(prev.column(key), batch.column(key))))
    op = batch.column("op")
    landed = batch.filter(pc.or_(
        pc.equal(op, "insert"),
        pc.and_(pc.equal(op, "update"), pc.is_in(batch.column(key), prev.column(key)))))
    return pa.concat_tables([kept, landed.select(prev.column_names).cast(prev.schema)])


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]))
