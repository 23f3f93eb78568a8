"""Independent correctness checks: DuckDB recomputes every checked output
from the same generated inputs, outside every timed window.

Each check returns a list of failure messages (empty = pass). Oracle results
are cached under .bench_build/oracle-cache by (inputs hash, SQL hash);
`run.py --refresh-oracle` recomputes them.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import pickle

import duckdb
import numpy as np

EVENT_TYPES = ["purchase", "view", "click", "signup", "error"]
# the floor the IVF search must reach against brute force (k = 5, nProbe = 8
# of sqrt(n) cells); 0.74-0.80 was measured on 1,500 vectors in 39 cells
ANN_RECALL_FLOOR = 0.6
# q_x_embed_neardup_lsh's verify threshold (random-projection LSH has no
# exact oracle: its pairs are checked for soundness instead)
LSH_THRESHOLD = 0.25


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _key(row):
    return tuple((0, round(x, 6)) if isinstance(x, float) else
                 (1, "") if x is None else (2, str(x)) for x in row)


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9) or (
            math.isnan(a) and math.isnan(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def compare_rows(name, expected, got):
    """Multiset compare of two row lists, doubles to a relative 1e-9."""
    exp = sorted((tuple(_norm(v) for v in r) for r in expected), key=_key)
    out = sorted((tuple(_norm(v) for v in r) for r in got), key=_key)
    if len(exp) != len(out):
        return [f"{name}: {len(out)} rows, oracle has {len(exp)}"]
    for i, (e, g) in enumerate(zip(exp, out)):
        if not all(_same(x, y) for x, y in zip(e, g)) or len(e) != len(g):
            return [f"{name}: row {i} differs: got {g}, oracle {e}"]
    return []


class Oracle:
    """DuckDB over the generated inputs, with results cached on disk."""

    def __init__(self, data, cache_dir, refresh):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        self.cache_dir, self.refresh = cache_dir, refresh
        h = hashlib.sha256()
        for f in sorted(os.listdir(data)):
            p = os.path.join(data, f)
            if os.path.isfile(p):
                with open(p, "rb") as fh:
                    h.update(f.encode() + hashlib.sha256(fh.read()).digest())
                if f.endswith(".parquet"):
                    self.con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{p}')")
        self.inputs = h.hexdigest()

    def rows(self, sql):
        """(column names, rows) of `sql` over the inputs, cached."""
        key = hashlib.sha256((self.inputs + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".pkl")
        if not self.refresh and os.path.isfile(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        cur = self.con.execute(sql)
        res = ([d[0] for d in cur.description], cur.fetchall())
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "wb") as fh:
            pickle.dump(res, fh)
        os.replace(path + ".tmp", path)
        return res

    def read(self, glob_path, cols="*"):
        """(column names, rows) of a Spark-written parquet table (not cached)."""
        cur = self.con.execute(
            f"SELECT {cols} FROM read_parquet('{glob_path}', hive_partitioning = false)")
        return [d[0] for d in cur.description], cur.fetchall()


def check_against_sql(o, name, sql, table_glob):
    """The Spark table equals the oracle SQL's rows, matched by column name."""
    cols, exp = o.rows(sql)
    gcols, got = o.read(table_glob)
    if sorted(cols) != sorted(gcols):
        return [f"{name}: columns {gcols}, oracle has {cols}"]
    idx = [gcols.index(c) for c in cols]
    return compare_rows(name, exp, [tuple(r[i] for i in idx) for r in got])


def etl_batch(o, out):
    wh = out["warehouse"]
    fails = []
    for t in EVENT_TYPES:
        _, exp = o.rows(f"SELECT event_id FROM events WHERE event_type = '{t}'")
        _, got = o.read(f"{wh}/entities/{t}/*/*.parquet", "event_id")
        fails += compare_rows(f"entities/{t} keys", exp, got)
    _, exp = o.rows("""
        WITH p AS (SELECT event_id, user_id, ts, value AS amount FROM events
                   WHERE event_type = 'purchase'),
             v AS (SELECT user_id, ts, value AS price FROM events WHERE event_type = 'view')
        SELECT p.event_id, p.amount, v.price, p.amount * coalesce(v.price, 1.0)
        FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts""")
    _, got = o.read(f"{wh}/enriched_purchases/*/*.parquet", "event_id, amount, price, in_stable")
    fails += compare_rows("enriched_purchases vs ASOF JOIN", exp, got)
    sql = json.load(open(out["oracle"]))
    fails += check_against_sql(o, "daily_user_state", sql["q_e2e_daily_state"],
                               f"{wh}/daily_user_state/*.parquet")
    fails += check_against_sql(o, "gold_pl_state", sql["q_e2e_pl_state"],
                               f"{wh}/gold_pl_state/*.parquet")
    return fails


def etl_stream(o, out):
    _, matched = o.rows("""
        SELECT DISTINCT p.event_id, v.value FROM events p JOIN events v
          ON p.user_id = v.user_id AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
        WHERE p.event_type = 'purchase' AND v.event_type = 'view'""")
    _, unmatched = o.rows("""
        SELECT event_id FROM events p WHERE event_type = 'purchase' AND NOT EXISTS (
          SELECT 1 FROM events v WHERE v.event_type = 'view' AND v.user_id = p.user_id
            AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts)""")
    unmatched = {r[0] for r in unmatched}
    fails = []
    for sink in out["sinks"].split(","):
        _, got = o.read(f"{sink}/*.parquet", "p_event_id, price")
        fails += compare_rows(f"{os.path.basename(sink)} priced rows vs interval join",
                              matched, [r for r in got if r[1] is not None])
        stray = [r[0] for r in got if r[1] is None and r[0] not in unmatched]
        if stray:
            fails.append(f"{os.path.basename(sink)}: null-price rows for matched "
                         f"purchases {stray[:5]}")
        if len(set(got)) != len(got):
            fails.append(f"{os.path.basename(sink)}: duplicate (p_event_id, price) keys")
    return fails


def api_queries(o, out):
    sql = json.load(open(out["oracle"]))
    fails = []
    for e in out["endpoints"].split(","):
        d = os.path.join(out["gold"], e)
        with open(os.path.join(d, "_CURRENT")) as fh:
            version = fh.read().strip()
        fails += check_against_sql(o, e, sql[e], f"{d}/{version}/*.parquet")
    return fails


def corpus_ops(o, out, data):
    sql = json.load(open(out["oracle"]))
    fails = []
    _, emb = o.rows("SELECT vec_id, embedding FROM embeddings ORDER BY vec_id")
    ids = np.array([r[0] for r in emb])
    mat = np.array([r[1] for r in emb], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    for row, q in sql.items():
        if q:
            fails += check_against_sql(o, row, q, f"{out['out']}/{row}/*.parquet")
            continue
        # no oracle: every returned pair's cosine, recomputed, clears the
        # threshold and equals the reported (4-decimal) value
        _, pairs = o.read(f"{out['out']}/{row}/*.parquet", "a, b, cos_sim")
        if not pairs:
            fails.append(f"{row}: no pairs")
            continue
        p = np.array(pairs, dtype=np.float64)
        a, b = np.searchsorted(ids, p[:, 0]), np.searchsorted(ids, p[:, 1])
        c = np.einsum("ij,ij->i", mat[a], mat[b])
        bad = np.flatnonzero((c < LSH_THRESHOLD - 1e-6) | (np.abs(np.round(c, 4) - p[:, 2]) > 1.5e-4))
        if len(bad):
            i = bad[0]
            fails.append(f"{row}: pair {pairs[i][:2]} reports {p[i, 2]}, recomputed {c[i]:.6f}")
    # ANN: recomputed cosine for every returned neighbour, and recall@k
    queries = {}
    with open(os.path.join(data, "ann_queries.txt")) as fh:
        for line in fh:
            p = line.split()
            queries[int(p[0])] = np.array([float(x) for x in p[1:]], dtype=np.float32)
    got = {}
    with open(out["ann_results"]) as fh:
        for line in fh:
            q, rank, n = map(int, line.split())
            got.setdefault(q, []).append((rank, n))
    hits = total = 0
    for q, res in got.items():
        qv = queries[q].astype(np.float64)
        cos = mat @ qv / np.linalg.norm(qv)
        res.sort()
        got_cos = [cos[np.searchsorted(ids, n)] for _, n in res]
        if [r for r, _ in res] != list(range(1, len(res) + 1)) or any(
                a < b - 1e-6 for a, b in zip(got_cos, got_cos[1:])):
            fails.append(f"ann query {q}: ranks not ordered by recomputed cosine")
        k = len(res)
        best = set(ids[np.argsort(-cos, kind="stable")[:k]])
        hits += len(best & {n for _, n in res})
        total += k
    if not got:
        fails.append("ann: no search results")
    elif hits / total < ANN_RECALL_FLOOR:
        fails.append(f"ann: recall@k {hits / total:.3f} below the floor {ANN_RECALL_FLOOR}")
    return fails


def run(workload, data, out, cache_dir, refresh=False):
    o = Oracle(data, cache_dir, refresh)
    if workload == "etl_batch":
        return etl_batch(o, out)
    if workload == "etl_stream":
        return etl_stream(o, out)
    if workload == "api_queries":
        return api_queries(o, out)
    return corpus_ops(o, out, data)
