"""Seeded generator for the benchmark's input tables.

Writes the ten tables the queries read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with
the parquet schemas, key domains and per-scale row counts of the
project's reference fixtures (TESTDATA.md), drawn from the same
distributions: uniform keys and measures, a 30-word document
vocabulary with 5% near-duplicate documents, unit-norm 64-d embeddings
clustered by label.

A base corpus is drawn once per scale from a fixed seed; the run's seed
then relabels it: every entity key (customer, supplier, part, order,
user, document, vector) is mapped through a seeded permutation of its
own domain, the attributes derived from a key are recomputed, and each
table's rows are shuffled. Join fan-outs, group sizes, graph shape and
near-duplicate structure are therefore the same under every seed,
while key values, tie-breaks, hash placement and row order differ, so
runs under different seeds do the same amount of work on different
inputs. The same (seed, sf) gives byte-identical tables.

Usage: python3 perfbench/gen.py <out_dir> <seed> <sf>
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "large", "hot", "cold", "blue", "old", "small", "new"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod",
             "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ["join", "hash", "row", "batch", "scan", "column", "customer",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "table", "data", "agg", "value", "key", "stream", "window", "a",
         "spark", "part", "group", "big", "sort", "query", "fast", "the"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
DIM = 64
BASE_SEED = 20240101
REPLAY_FILES = 2
REPLAY_T0 = 1_700_000_000  # epoch second of doc_id 0 in the replay


def _us(d):
    return int((d - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)


def _days(rng, n, lo, hi):
    """n midnight timestamps (µs) uniform over [lo, hi]."""
    span = (hi - lo).days
    day = rng.integers(0, span + 1, n)
    return _us(lo) + day * 86_400_000_000


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(sf):
    rng = np.random.default_rng(BASE_SEED)
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_line = max(1, int(6_000_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_users = max(1, n_cust // 10)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS, s)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99), f64),
        "c_mktsegment": pa.array(
            rng.choice(SEGMENTS, n_cust).tolist(), s)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99), f64)})
    keys = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))], s),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part).tolist(), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(
            np.round(900.0 + (keys % 1000) / 10.0, 1), f64)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(STATUSES, n_ord).tolist(), s),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0), f64),
        "o_orderdate": pa.array(_days(
            rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
            ts),
        "o_orderpriority": pa.array(
            rng.choice(PRIORITIES, n_ord).tolist(), s)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(
            rng.integers(1, 51, n_line).astype(np.float64), f64),
        "l_extendedprice": pa.array(
            _money(rng, n_line, 900.0, 105000.0), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array(
            rng.choice(["A", "N", "R"], n_line).tolist(), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line).tolist(), s),
        "l_shipdate": pa.array(_days(
            rng, n_line, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
            ts)})
    start = _us(dt.datetime(2024, 1, 1))
    month = 30 * 86_400_000_000
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.sort(start + rng.integers(0, month, n_ev)), ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev).tolist(), s),
        "value": pa.array(np.maximum(
            0.01, np.round(rng.exponential(50.0, n_ev), 2)), f64),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    texts = [" ".join(rng.choice(VOCAB, n).tolist())
             for n in rng.integers(10, 101, n_doc)]
    # 5% near-duplicates: a copy of another document plus one token
    for d in rng.choice(n_doc, n_doc // 20, replace=False):
        src = int(rng.integers(0, n_doc))
        if src != d:
            texts[d] = texts[src] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P).tolist(), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, DIM))
    vecs = 0.2 * centers[labels] + rng.normal(0.0, 1.0, (n_emb, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(vecs.astype(np.float32).tolist(),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return out


def _relabel(tbl, maps, derived, rng):
    """Map key columns through their domain's permutation, recompute
    derived columns, shuffle the rows."""
    cols = {}
    for name in tbl.column_names:
        col = tbl.column(name)
        if name in maps:
            col = pa.array(maps[name][col.to_numpy()], col.type)
        cols[name] = col
    for name, fn in derived.items():
        if name in cols:
            cols[name] = pa.array(fn(cols), tbl.schema.field(name).type)
    out = pa.table(cols)
    return out.take(pa.array(rng.permutation(out.num_rows)))


def tables(seed, sf):
    base = base_tables(sf)
    rng = np.random.default_rng(seed)

    def perm(table):
        return rng.permutation(base[table].num_rows)

    cust, supp, part = perm("customer"), perm("supplier"), perm("part")
    order, doc, vec = perm("orders"), perm("documents"), perm("embeddings")
    users = rng.permutation(max(1, base["customer"].num_rows // 10))
    maps = {"c_custkey": cust, "o_custkey": cust, "s_suppkey": supp,
            "l_suppkey": supp, "p_partkey": part, "l_partkey": part,
            "o_orderkey": order, "l_orderkey": order, "user_id": users,
            "doc_id": doc, "vec_id": vec}
    keys = lambda c, k: c[k].to_numpy()  # noqa: E731
    derived = {
        "c_name": lambda c: [f"Customer#{k:09d}" for k in keys(c, "c_custkey")],
        "s_name": lambda c: [f"Supplier#{k:09d}" for k in keys(c, "s_suppkey")],
        "p_retailprice": lambda c: np.round(
            900.0 + (keys(c, "p_partkey") % 1000) / 10.0, 1),
        "source": lambda c: [f"src{k % 20}" for k in keys(c, "doc_id")],
    }
    return {name: _relabel(tbl, maps, derived, rng)
            for name, tbl in base.items()}


def replay_parts(docs):
    """The documents as a finite stream for the streaming operators:
    (doc_id, text, ts), ts one second per doc_id, cut into REPLAY_FILES
    tables of ascending ts (one micro-batch each). The fixtures' 500
    documents span 500 s, inside the dedup operator's one-hour
    watermark, so the replay's exact answer is the batch answer."""
    t = docs.select(["doc_id", "text"]).sort_by("doc_id")
    ts = (t["doc_id"].to_numpy() + REPLAY_T0) * 1_000_000
    t = t.append_column("ts", pa.array(ts, pa.timestamp("us", tz="UTC")))
    cuts = [t.num_rows * i // REPLAY_FILES for i in range(REPLAY_FILES + 1)]
    return [t.slice(a, b - a) for a, b in zip(cuts, cuts[1:])]


def write(out_dir, seed, sf):
    """Write the tables for (seed, sf) into out_dir unless a previous
    call already completed there (a marker file is written last)."""
    done = os.path.join(out_dir, "_COMPLETE")
    stamp = f"seed={seed} sf={sf} replay={REPLAY_FILES}\n"
    if os.path.exists(done):
        with open(done) as f:
            if f.read() == stamp:
                return
    replay = os.path.join(out_dir, "replay")
    os.makedirs(replay, exist_ok=True)
    tbls = tables(seed, sf)
    for name, tbl in tbls.items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
    # a file stream takes files oldest first: order them by mtime
    for i, part in enumerate(replay_parts(tbls["documents"])):
        path = os.path.join(replay, f"part-{i}.parquet")
        pq.write_table(part, path)
        os.utime(path, (REPLAY_T0 + i, REPLAY_T0 + i))
    with open(done, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
