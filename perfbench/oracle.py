"""Per-seed expected results: DuckDB runs each query's oracle SQL
(SparkEntry.oracleSql) over the seed's tables, and the result is
fingerprinted with fingerprint.py. q38's expected partition comes from
the project's independent Girvan-Newman replay (tools/gn_golden.py
--edges), written into the seed's own directory. Results are cached
next to the seed's tables, keyed by a hash of the SQL they came from.
The streaming operators have no SQL oracle; their expected results are
their batch twins' (see twins)."""
import hashlib
import json
import os
import subprocess
import sys

import duckdb

from fingerprint import fingerprint

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
GN_QUERY = "q38_gn_communities"
GN_EDGES_FROM = "q37_betweenness"


def _sha(*parts):
    return hashlib.sha256("\0".join(parts).encode()).hexdigest()


def _connect(data_dir):
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def _gn_expected(con, q37_sql, data_dir, root):
    """q38's expected rows via tools/gn_golden.py --edges, on the edge
    list the q37 oracle's edge CTEs build (as gn_golden.py does)."""
    edge_sql = (q37_sql.split(",\nwalk AS (")[0] +
                "\nSELECT src, dst FROM ed ORDER BY src, dst")
    edges = con.execute(edge_sql).fetchall()
    edge_file = os.path.join(data_dir, "gn_edges.txt")
    golden = os.path.join(data_dir, "gn_golden.txt")
    with open(edge_file, "w") as f:
        f.write("\n".join(f"{a} {b}" for a, b in edges))
    if os.path.exists(golden):
        os.remove(golden)
    subprocess.run(
        [sys.executable, os.path.join(root, "tools", "gn_golden.py"),
         "--edges", edge_file, "--out", golden],
        check=True, capture_output=True, timeout=120)
    rows = []
    with open(golden) as f:
        for line in f:
            p = line.split()
            if p and p[0] == "R":
                rows.append((int(p[1]), int(p[2]), float(p[3])))
    return ["community", "csize", "best_q"], rows


def expected(queries, oracle_sql, self_gating, data_dir, root):
    """{query: {"mode": ..., "fp": ..., "rows": ...}} for `queries`.
    mode is "oracle" (compare fingerprints), "self_gating" (correct
    when rows > 0), or "missing"/"oracle_error" (every call fails)."""
    cache_path = os.path.join(data_dir, "oracle.json")
    try:
        with open(cache_path) as f:
            cache = json.load(f)
    except FileNotFoundError:
        cache = {}
    out, con = {}, None
    for q in queries:
        if q in self_gating:
            out[q] = {"mode": "self_gating"}
            continue
        if q == GN_QUERY:
            key = _sha(oracle_sql.get(GN_EDGES_FROM, ""), "gn_golden")
        elif q in oracle_sql:
            key = _sha(oracle_sql[q])
        else:
            out[q] = {"mode": "missing"}
            continue
        if cache.get(q, {}).get("key") == key:
            out[q] = cache[q]
            continue
        con = con or _connect(data_dir)
        try:
            if q == GN_QUERY:
                cols, rows = _gn_expected(
                    con, oracle_sql[GN_EDGES_FROM], data_dir, root)
            else:
                cur = con.execute(oracle_sql[q])
                cols = [d[0] for d in cur.description]
                rows = cur.fetchall()
            entry = {"mode": "oracle", "key": key,
                     "fp": fingerprint(cols, rows), "rows": len(rows)}
        except Exception as e:  # an oracle that cannot run fails the query
            entry = {"mode": "oracle_error", "key": key,
                     "error": str(e).splitlines()[0][:300]}
        out[q] = cache[q] = entry
    if con is not None:
        con.close()
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        os.replace(tmp, cache_path)
    return out


def twins(results):
    """Expected results of the streaming operators: the same operator
    run on the batch frame of the replayed rows, fingerprinted in the
    benchmark's JVM ({name: {"fp", "rows"} or {"error"}})."""
    return {q: ({"mode": "twin", "fp": r["fp"], "rows": r["rows"]}
                if "fp" in r else {"mode": "twin_error", "error": r["error"]})
            for q, r in results.items()}


def check(call, exp):
    """None when the call's result is correct, else the reason."""
    if call.get("error"):
        return call["error"]
    mode = exp["mode"]
    if mode == "self_gating":
        return None if call["rows"] > 0 else "self-gating query returned 0 rows"
    if mode in ("oracle", "twin"):
        if call["fp"] == exp["fp"]:
            return None
        whose = "oracle" if mode == "oracle" else "batch twin"
        return (f"fingerprint differs from the {whose}'s "
                f"({call['rows']} rows, {whose} {exp['rows']})")
    if mode in ("oracle_error", "twin_error"):
        return f"{mode.split('_')[0]} failed: {exp['error']}"
    return "no oracle registered and not declared self-gating"
