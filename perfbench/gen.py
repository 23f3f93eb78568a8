"""Seeded input generators for the benchmark workloads.

Every table is a pure function of (seed, sizes): the same seed writes the same
rows. Shapes follow the engine's test tables (events, the TPC-H-like star
schema the analytics endpoints read, documents and embeddings), scaled to the
sizes in SIZES so that one pass over all workloads stays within a couple of
minutes on four cores.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["purchase", "view", "click", "signup", "error"]
EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86400 * 1_000_000

SIZES = {
    "etl_batch": {"events": 5000, "users": 200, "days": 30},
    "etl_stream": {"events": 4000, "users": 200, "days": 30, "files": 8},
    "api_queries": {"events": 20000, "users": 500, "days": 30,
                    "orders": 30000, "customers": 3000, "suppliers": 200,
                    "parts": 4000},
    "corpus_ops": {"documents": 2000, "embeddings": 1000, "dim": 64,
                   "ann_queries": 32},
}

WORDS = ("a the data spark scan sort hash join filter group agg window row "
         "column table query key value order part line customer fast slow "
         "big small batch stream merge vector").split()
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]


def _rng(seed, salt):
    return np.random.default_rng([seed, salt])


def events(seed, n, users, days):
    """Raw events shaped like events.parquet: ts-ordered ids, 5 types,
    µs timestamps over `days` days, 2-decimal values and a JSON props map."""
    r = _rng(seed, 1)
    ts = np.sort(r.integers(0, days * DAY_US, n)) + EPOCH_US
    kind = r.integers(0, len(EVENT_TYPES), n)
    value = np.round(r.gamma(2.0, 40.0, n), 2)
    value[kind == EVENT_TYPES.index("error")] += 0.01
    k = r.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in kind]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {int(x)}}}' for x in k]),
    })


def star_schema(seed, orders, customers, suppliers, parts):
    """region, nation, customer, supplier, part, orders, lineitem with the
    column names, types and value domains of the engine's test tables."""
    r = _rng(seed, 2)
    ts = lambda lo, hi, m: pa.array(  # noqa: E731 — day-resolution timestamps
        (r.integers(lo, hi, m) * DAY_US + 788918400 * 1_000_000),
        type=pa.timestamp("us"))
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    customer = pa.table({
        "c_custkey": pa.array(np.arange(customers, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(customers)],
        "c_nationkey": pa.array(r.integers(0, 25, customers).astype(np.int32)),
        "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, customers), 2)),
        "c_mktsegment": pa.array(r.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            customers))})
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(suppliers, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(suppliers)],
        "s_nationkey": pa.array(r.integers(0, 25, suppliers).astype(np.int32)),
        "s_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, suppliers), 2))})
    adj = ["large", "hot", "blue", "small", "shiny", "red", "green"]
    noun = ["ring", "bolt", "anvil", "widget", "gear", "pipe", "valve", "nut", "cog"]
    part = pa.table({
        "p_partkey": pa.array(np.arange(parts, dtype=np.int64)),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(r.integers(0, len(adj), parts), r.integers(0, len(noun), parts))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, parts)],
        "p_type": pa.array(r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                     "SMALL", "STANDARD"], parts)),
        "p_size": pa.array(r.integers(1, 51, parts).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(parts) % 1000) / 10, 2))})
    o = pa.table({
        "o_orderkey": pa.array(np.arange(orders, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, customers, orders).astype(np.int64)),
        "o_orderstatus": pa.array(r.choice(["F", "O", "P"], orders)),
        "o_totalprice": pa.array(np.round(r.uniform(1000, 500000, orders), 2)),
        "o_orderdate": ts(0, 2404, orders),
        "o_orderpriority": pa.array(r.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], orders))})
    per = r.integers(1, 8, orders)
    n = int(per.sum())
    okey = np.repeat(np.arange(orders, dtype=np.int64), per)
    line = np.concatenate([np.arange(1, p + 1) for p in per]).astype(np.int32)
    qty = r.integers(1, 51, n).astype(np.float64)
    partkey = r.integers(0, parts, n).astype(np.int64)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(partkey),
        "l_suppkey": pa.array(r.integers(0, suppliers, n).astype(np.int64)),
        "l_linenumber": pa.array(line),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * (900 + (partkey % 1000) / 10), 2)),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(r.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(r.choice(["F", "O"], n)),
        "l_shipdate": ts(1, 2500, n)})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": o, "lineitem": lineitem}


def documents(seed, n):
    """Short texts over a small vocabulary; about a fifth are permuted or
    lightly edited copies of an earlier document (the near-dup population)."""
    r = _rng(seed, 3)
    texts = []
    for i in range(n):
        roll = r.random()
        if i > 10 and roll < 0.1:
            w = texts[int(r.integers(0, i))].split(" ")
            r.shuffle(w)
        elif i > 10 and roll < 0.2:
            w = texts[int(r.integers(0, i))].split(" ")
            for _ in range(max(1, len(w) // 12)):
                w[int(r.integers(0, len(w)))] = WORDS[int(r.integers(0, len(WORDS)))]
        else:
            w = list(r.choice(WORDS, int(r.integers(8, 100))))
        texts.append(" ".join(w))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(r.choice(LANGS, n)),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})


def embeddings(seed, n, dim):
    """Unit vectors around 10 labelled centres; a tenth are small
    perturbations of an earlier vector (cosine near-duplicates)."""
    r = _rng(seed, 4)
    centres = r.normal(size=(10, dim))
    label = r.integers(0, 10, n)
    v = centres[label] * 0.35 + r.normal(size=(n, dim))
    dup = np.flatnonzero(r.random(n) < 0.1)
    dup = dup[dup > 0]
    src = (r.random(len(dup)) * dup).astype(np.int64)
    v[dup] = v[src] + r.normal(scale=0.05, size=(len(dup), dim))
    label[dup] = label[src]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32))})


def ann_queries(seed, n, emb):
    """The seeded ANN query cohort: noisy copies of corpus vectors, with ids
    outside the corpus id range, as text lines `qid v1 v2 ...`."""
    r = _rng(seed, 5)
    base = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
    v = base[r.integers(0, len(base), n)] + r.normal(scale=0.05, size=(n, base.shape[1]))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return [" ".join([str(1_000_000 + i)] + [repr(float(x)) for x in row.astype(np.float32)])
            for i, row in enumerate(v)]


def _write(table, path):
    pq.write_table(table, path)


def stream_files(table, out_dir, files):
    """Split a ts-ordered event table into `files` time-ordered parquet files,
    with strictly increasing mtimes so the file source replays them in order."""
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    base = 1_700_000_000
    for i in range(files):
        lo, hi = i * n // files, (i + 1) * n // files
        p = os.path.join(out_dir, f"part-{i:04d}.parquet")
        _write(table.slice(lo, hi - lo), p)
        os.utime(p, (base + i, base + i))


def generate(workload, seed, data_dir):
    """Write the inputs of `workload` for `seed` under `data_dir`; return a
    dict of facts about them for the run record."""
    s = SIZES[workload]
    os.makedirs(data_dir, exist_ok=True)
    if workload in ("etl_batch", "etl_stream", "api_queries"):
        ev = events(seed, s["events"], s["users"], s["days"])
        _write(ev, os.path.join(data_dir, "events.parquet"))
    if workload == "etl_stream":
        stream_files(ev, os.path.join(data_dir, "stream"), s["files"])
    if workload == "api_queries":
        for name, t in star_schema(seed, s["orders"], s["customers"],
                                   s["suppliers"], s["parts"]).items():
            _write(t, os.path.join(data_dir, f"{name}.parquet"))
    if workload == "corpus_ops":
        _write(documents(seed, s["documents"]), os.path.join(data_dir, "documents.parquet"))
        emb = embeddings(seed, s["embeddings"], s["dim"])
        _write(emb, os.path.join(data_dir, "embeddings.parquet"))
        with open(os.path.join(data_dir, "ann_queries.txt"), "w") as f:
            f.write("\n".join(ann_queries(seed, s["ann_queries"], emb)) + "\n")
    return dict(s)
