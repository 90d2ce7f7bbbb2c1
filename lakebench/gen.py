"""Deterministic corpus generator for the lake benchmark.

Writes a TPC-H-shaped base (the schema of FIXTURES.md section B: region,
nation, customer, supplier, part, orders, lineitem, documents,
embeddings) and replicates it REPS (10) times with key shifts, the same
replication rule as `graft.ScaleBench`: replica i adds i * 1e9 to every
TPC-H surrogate key and i * 1e6 to doc/vec ids, while document text and
embedding vectors stay identical across replicas.

The corpus is input data: it is generated from a fixed generator seed,
not from the run seed, so every run of every workload reads the same
bytes. Layout under <out>:

  <table>/part-NN.parquet   the replica, FILES_PER_TABLE files per table;
                            orders and lineitem in date order (SORTS)
  orders_frag/frag-NN.parquet  the replica's orders split in o_orderdate
                               order into FRAGMENTS files (point_frag)
"""

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEY_SHIFT = 1_000_000_000
ID_SHIFT = 1_000_000
CORPUS_SEED = 42
REPS = 10
FILES_PER_TABLE = 2
FRAGMENTS = 25
# orders and lineitem are written in date order, as a lake that ingests
# them day by day holds them, so each file covers one date range and
# min/max file skipping has work to do on the TPC-H date predicates
SORTS = {
    "orders": [("o_orderdate", "ascending"), ("o_orderkey", "ascending")],
    "lineitem": [("l_shipdate", "ascending"), ("l_orderkey", "ascending"),
                 ("l_linenumber", "ascending")],
}

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
COLORS = "red blue green hot small big black white pale dark steel rose olive".split()
NOUNS = "anvil bolt gear ring widget gizmo".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EPOCH_DAY0 = np.datetime64("1995-01-01")
ORDER_DAYS = int((np.datetime64("2001-08-01") - EPOCH_DAY0).astype(int))


def base_tables(sf):
    """One replica's worth of tables at scale `sf` (sf 0.01: 15k orders)."""
    rng = np.random.default_rng(CORPUS_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_docs, n_vecs = 500, 500

    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                       "r_name": REGIONS})
    nation = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                       "n_name": [f"NATION_{i}" for i in range(25)],
                       "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    part = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{c} {n}" for c, n in zip(rng.choice(COLORS, n_part), rng.choice(NOUNS, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": retail})

    odate = EPOCH_DAY0 + rng.integers(0, ORDER_DAYS + 1, n_ord).astype("timedelta64[D]")
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})

    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    lnum = np.concatenate([np.arange(1, k + 1, dtype=np.int32) for k in lines])
    pkey = rng.integers(0, n_part, n_li, dtype=np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    lineitem = pa.table({
        "l_orderkey": okey,
        "l_partkey": pkey,
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey] * rng.uniform(1.0, 2.1, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"))})

    # one document in ten is a near-copy of an earlier one (a few words
    # swapped), so minhash finds candidates beyond the replica copies and
    # the Jaccard verify both accepts and rejects some of them
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), int(rng.integers(1, 4))):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = list(rng.choice(WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    documents = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["de", "en", "en", "en", "es", "fr", "zh"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vecs = rng.normal(0.0, 0.125, (n_vecs, 64)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs, dtype=np.int32)})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem, "documents": documents, "embeddings": embeddings}


SHIFTS = {
    "customer": {"c_custkey": KEY_SHIFT},
    "supplier": {"s_suppkey": KEY_SHIFT},
    "part": {"p_partkey": KEY_SHIFT},
    "orders": {"o_orderkey": KEY_SHIFT, "o_custkey": KEY_SHIFT},
    "lineitem": {"l_orderkey": KEY_SHIFT, "l_partkey": KEY_SHIFT, "l_suppkey": KEY_SHIFT},
    "documents": {"doc_id": ID_SHIFT},
    "embeddings": {"vec_id": ID_SHIFT},
}


def replicate(name, t):
    shifts = SHIFTS.get(name)
    if not shifts:
        return t
    parts = []
    for i in range(REPS):
        cols = [pa.array(t.column(c).to_numpy() + i * shifts[c]) if c in shifts else t.column(c)
                for c in t.column_names]
        parts.append(pa.Table.from_arrays(cols, schema=t.schema))
    return pa.concat_tables(parts)


def write_split(t, d, n, prefix):
    os.makedirs(d, exist_ok=True)
    step = -(-t.num_rows // n)
    for i in range(n):
        chunk = t.slice(i * step, step)
        if chunk.num_rows:
            pq.write_table(chunk, os.path.join(d, f"{prefix}-{i:02d}.parquet"))


def generate(out, sf):
    for name, t in base_tables(sf).items():
        rep = replicate(name, t)
        if name in SORTS:
            rep = rep.sort_by(SORTS[name])
        write_split(rep, os.path.join(out, name),
                    FILES_PER_TABLE if rep.num_rows > 1000 else 1, "part")
        if name == "orders":
            write_split(rep, os.path.join(out, "orders_frag"), FRAGMENTS, "frag")


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--sf", type=float, default=0.01)
    a = ap.parse_args()
    generate(a.out, a.sf)
