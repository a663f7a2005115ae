"""Seeded sf-layout tables for the benchmark workloads.

One directory per seed holds the relational tables the SQL pool reads,
the event micro-batches the streaming drive consumes, and the
documents/embeddings the curate -> index -> serve chain reads. The same
seed always gives the same data. Schemas match the tables `graft.Tables`
loads (timestamps are TIMESTAMP_MICROS without a zone).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts are fixed (lineitem's, at 1-7 lines per order, varies by
# well under 1%); values depend on the seed, so every seed costs about
# the same amount of work.
SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "events": 10000, "users": 400, "docs": 800, "vecs": 800, "append": 200}
N_PROBES = 64
DIM = 64
EVENT_BATCHES = 2

WORDS = ("spark line column order small sort fast value scan hash slow group "
         "batch agg filter query big key window row part table stream merge "
         "data join vector customer the a").split()
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _cents(rng, lo, hi, n):
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ts(base, seconds):
    return (np.datetime64(base, "us") + (seconds * 1_000_000).astype("timedelta64[us]"))


def _write(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def _relational(rng, d, n):
    _write(f"{d}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{d}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{d}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"])})
    _write(f"{d}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n["supplier"])})
    _write(f"{d}/part.parquet", {
        "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
        "p_name": rng.choice(["large ring", "hot bolt", "blue ring", "small nut"], n["part"]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL", "MEDIUM"], n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": _cents(rng, 900, 2000, n["part"])})
    day = 86400
    odate = _ts("1995-01-01", rng.integers(0, 2400, n["orders"]) * day)
    _write(f"{d}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _cents(rng, 1000, 500000, n["orders"]),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"])})
    per = rng.integers(1, 8, n["orders"])
    nl = int(per.sum())
    okey = np.repeat(np.arange(n["orders"]), per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per])
    ship = odate[okey] + (rng.integers(1, 122, nl) * day * 1_000_000).astype("timedelta64[us]")
    _write(f"{d}/lineitem.parquet", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _cents(rng, 900, 100000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": pa.array(ship, pa.timestamp("us"))})


def _events(rng, d, n):
    secs = np.sort(rng.integers(0, 30 * 86400 * 1000, n["events"])) / 1000.0
    ts = _ts("2024-01-01", secs)
    cols = {
        "event_id": pa.array(np.arange(n["events"]), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], n["events"]), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n["events"]),
        "value": _cents(rng, 0, 560, n["events"]),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]}
    _write(f"{d}/events.parquet", cols)
    # Seeded arrival order: every event lands in one of EVENT_BATCHES
    # files, each file is one micro-batch (maxFilesPerTrigger=1), and the
    # files arrive in a seeded order (names and mtimes follow it).
    table = pa.table(cols)
    which = rng.integers(0, EVENT_BATCHES, n["events"])
    bdir = f"{d}/events_batches"
    os.makedirs(bdir)
    for pos, b in enumerate(rng.permutation(EVENT_BATCHES)):
        path = f"{bdir}/part-{pos:05d}.parquet"
        pq.write_table(table.filter(pa.array(which == b)), path)
        os.utime(path, (1_700_000_000 + pos, 1_700_000_000 + pos))


def _documents(rng, d, n):
    # Originals are 80-120 random words. Some get exact copies, some one
    # near-duplicate (a single word swapped, Jaccard of word 3-shingles
    # >= 0.92), never both from a copy, so every true pair sits far above
    # the 0.8 threshold and the 16x8 MinHash banding finds it with
    # probability > 1 - 1e-5 per pair.
    texts, originals, varied = [], [], set()
    for i in range(n["docs"]):
        r = rng.random()
        if originals and r < 0.06:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
        elif originals and r < 0.20:
            src = originals[int(rng.integers(0, len(originals)))]
            if src in varied:
                texts.append(" ".join(rng.choice(WORDS, int(rng.integers(80, 121)))))
                originals.append(i)
                continue
            varied.add(src)
            words = texts[src].split(" ")
            words[int(rng.integers(0, len(words)))] = "variant"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(80, 121)))))
            originals.append(i)
    _write(f"{d}/documents.parquet", {
        "doc_id": pa.array(np.arange(n["docs"]), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "fr", "zh", "de"], n["docs"]),
        "source": [f"src{k}" for k in rng.integers(0, 20, n["docs"])],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _vectors(rng, n, centers, ids):
    c = centers[rng.integers(0, len(centers), n)]
    v = c + rng.normal(0, 0.05, (n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})


def _embeddings(rng, d, n):
    centers = rng.normal(0, 1, (40, DIM))
    base = _vectors(rng, n["vecs"], centers, np.arange(n["vecs"]))
    pq.write_table(base, f"{d}/embeddings.parquet")
    # append batch: perturbed replicas of stored vectors under fresh ids
    src = base.column("embedding").to_numpy(zero_copy_only=False)
    pick = rng.integers(0, n["vecs"], n["append"])
    rep = np.stack([src[i] for i in pick]) + rng.normal(0, 0.01, (n["append"], DIM))
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n["vecs"], n["vecs"] + n["append"]), pa.int64()),
        "embedding": pa.array(list(rep.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n["append"]), pa.int32())}),
        f"{d}/embeddings_append.parquet")
    probes = _vectors(rng, N_PROBES, centers, np.arange(N_PROBES))
    pq.write_table(probes, f"{d}/probes.parquet")


def generate(seed, d, scale=1.0):
    """Write every table for `seed` into the (new, empty) directory `d`.
    `scale` < 1 shrinks every row count (used for warm-up inputs)."""
    os.makedirs(d)
    rng = np.random.default_rng(seed)
    n = {k: max(50, int(v * scale)) for k, v in SIZES.items()}
    _relational(rng, d, n)
    _events(rng, d, n)
    _documents(rng, d, n)
    _embeddings(rng, d, n)
