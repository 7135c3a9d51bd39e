#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the query library.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload olap|mining --seed N --seconds S \
      --trace 0|1

One run: build the library and the benchmark driver (once per checkout,
with sbt), generate the seed's tables (cached under perfbench/.work),
start one JVM that sets up a Spark session, then times a cold pass and
warm passes over the workload's queries (see
src/main/scala/perfbench/Main.scala), check every call's result against
the DuckDB oracle for the seed, and print a self-describing report
whose last line is one JSON object:
  {"correct", "attempted", "failed", "metrics"}
With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json; with --trace 1 the per-layer ones, from a run with a
Spark listener attached on some warm passes and not on others.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

# Each workload: the queries it calls in order, by module, and the scale
# of its tables (rows relative to the reference fixtures' sf=1), and how
# many warm passes an untraced run makes at least. The st_* names are
# streaming operators replayed on a finite file stream (see
# Main.streamOps).
WORKLOADS = {
    "olap": {"sf": 0.01, "min_warm": 2, "queries": [
        "q01_pricing_summary",  # ops.Relational
        "q31_hourly_window",  # ops.Windows
        "q07_top_words", "q17_token_stats",  # ops.Text
        "q144_hll_distinct",  # sketch.Sketches
        "q42_blob_meta",  # multimodal.Multimodal
        "st_exact_dedup"]},  # streaming.Streams, watermark state
    "mining": {"sf": 0.01, "min_warm": 2, "queries": [
        "q111_vocab_encode",  # ops.Pipeline
        "q24_neardup_lsh",  # mining.SetSimilarity
        "q26_cosine_topk",  # mining.VectorSimilarity
        "q28_son_itemsets",  # mining.Son
        "q87_item_cf",  # mining.Recommend (builds the CF memo artifacts)
        "q34_triangles",  # graph.Graphs
        "q38_gn_communities",  # graph.GirvanNewman
        "q39_kmeans_assign",  # cluster.KMeans
        "q41_bfr"]},  # cluster.Bfr
}
HEAP = "3g"
RUN_LIMIT_S = 165
CALL_TIMEOUT_S = 60

END_TO_END = [("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"),
              ("query_gmean_s", "s"), ("live_heap_mb", "MB")]
MODULES = ["ops.Relational", "ops.Windows", "ops.Text", "ops.Pipeline",
           "sketch.Sketches", "multimodal.Multimodal", "mining.SetSimilarity",
           "mining.VectorSimilarity", "mining.Son", "mining.Recommend",
           "graph.Graphs", "graph.GirvanNewman", "cluster.KMeans",
           "cluster.Bfr"]
MODULE_METRICS = [("build_jobs", "count"), ("jobs", "count"),
                  ("shuffle_mb", "MB"), ("spill_mb", "MB"),
                  ("retained_mb", "MB")]
PER_LAYER = ([("session.create_s", "s"), ("session.first_job_s", "s"),
              ("Tables.scan_mb", "MB"), ("Tables.scan_rows", "count")] +
             [(f"{m}.{k}", u) for m in MODULES for k, u in MODULE_METRICS] +
             [("Memo.builds", "count"), ("Memo.hits", "count"),
              ("spark.tasks", "count"), ("spark.cpu_s", "s"),
              ("spark.gc_s", "s"), ("spark.sched_delay_s", "s"),
              ("Streams.batch_s", "s"), ("Streams.commit_s", "s"),
              ("Streams.state_rows", "count"), ("Streams.state_mb", "MB"),
              ("query.build_s", "s"), ("query.exec_s", "s"),
              ("trace.overhead_s", "s")])

MB = 1e6


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "src/main/**/*", "perfbench/build.sbt",
            "perfbench/project/*.properties", "perfbench/src/**/*"]
    return sorted(p for pat in pats
                  for p in glob.glob(os.path.join(ROOT, pat), recursive=True)
                  if os.path.isfile(p))


def source_digest(files):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def build(files):
    """sbt-build the library and the driver unless the launch file is
    newer than every source. Returns (classpath, jvm options)."""
    launch = os.path.join(HERE, "target", "launch.txt")
    newest = max(os.path.getmtime(p) for p in files)
    if not (os.path.exists(launch) and os.path.getmtime(launch) >= newest):
        os.makedirs(WORK, exist_ok=True)
        log = os.path.join(WORK, "build.log")
        # offline: dependencies come from the local caches only
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true "
                       "-Dsbt.override.build.repos=true -Xmx2g")
        with open(log, "w") as out:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=850).returncode
        if rc != 0 or not os.path.exists(launch):
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"build failed (rc={rc}), log in {log}", 3)
    with open(launch) as f:
        lines = f.read().splitlines()
    return lines[0], [x for x in lines[1:] if x]


def run_jvm(cp, opts, workload, data, seconds, trace, out, run_id,
            deadline):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    remaining = deadline - time.monotonic()
    # passes stop once the measured window reaches this many seconds;
    # what remains of the limit covers JVM start, set-up and checks
    cap = max(float(seconds), remaining - 55)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + opts +
           ["-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
            "perfbench.Main", "--workload", workload,
            "--queries", ",".join(WORKLOADS[workload]["queries"]),
            "--data", data, "--seconds", str(seconds),
            "--min-warm", str(WORKLOADS[workload]["min_warm"]),
            "--trace", str(trace), "--out", out, "--run-id", run_id,
            "--timeout", str(CALL_TIMEOUT_S), "--cap", f"{cap:.0f}"])
    log = os.path.join(out, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=lf,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, remaining))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"benchmark JVM exceeded the run limit; log in {log}", 4)
    for d in ("spark-local", "checkpoints", "tmp"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    result = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"benchmark JVM failed (rc={rc}); log in {log}", 5)
    with open(result) as f:
        return json.load(f)


def latency(c):
    return c["build_s"] + c["exec_s"]


def end_to_end(res, returned):
    passes = res["passes"]
    warm = [p["wall_s"] for p in passes if p["kind"] == "warm"]
    lat = [latency(c) for c in returned if c["pass"] > 0]
    by_query = {}
    for c in returned:
        if c["pass"] > 0:
            by_query.setdefault(c["query"], []).append(latency(c))
    return {
        "setup_s": res["setup_s"],
        "cold_pass_s": passes[0]["wall_s"],
        "warm_pass_s": statistics.median(warm),
        "query_gmean_s": stats.gmean_of_medians(by_query.values()),
        "live_heap_mb": statistics.median(
            p["live_heap_b"] for p in passes if p["kind"] == "warm") / MB,
    }, lat


def memo_hits(calls):
    """Warm calls of a query that built memo artifacts on the cold pass
    and built none this time, counted per artifact (a diff of
    Memo.buildSeconds around each call)."""
    built = {}
    for c in calls:
        if c["pass"] == 0 and c["memo_built"]:
            built[c["query"]] = len(c["memo_built"])
    return sum(built.get(c["query"], 0) for c in calls
               if c["pass"] > 0 and not c["memo_built"])


def per_layer(res):
    calls, passes = res["calls"], res["passes"]
    traced = {p["pass"] for p in passes if p["kind"] == "warm" and p["traced"]}
    n = len(traced)
    tc = [c for c in calls if c["pass"] in traced]

    def total(key, phases=("build", "exec"), mods=None):
        return sum((c[ph] or {}).get(key, 0) for c in tc for ph in phases
                   if mods is None or c["module"] in mods) / n

    m = {"session.create_s": res["session_create_s"],
         "session.first_job_s": res["first_job_s"],
         "Tables.scan_mb": total("input_b") / MB,
         "Tables.scan_rows": total("input_rows")}
    for mod in MODULES:
        mods = {mod}
        m[f"{mod}.build_jobs"] = total("jobs", ("build",), mods)
        m[f"{mod}.jobs"] = total("jobs", ("exec",), mods)
        m[f"{mod}.shuffle_mb"] = total("shuffle_write_b", mods=mods) / MB
        m[f"{mod}.spill_mb"] = total("spill_b", mods=mods) / MB
        m[f"{mod}.retained_mb"] = sum(
            c["retained_b"] for c in tc if c["module"] == mod) / n / MB
    warm_passes = [p for p in passes if p["kind"] == "warm"]
    m["Memo.builds"] = sum(len(c["memo_built"]) for c in calls
                           if c["pass"] == 0)
    m["Memo.hits"] = memo_hits(calls) / len(warm_passes)
    m["spark.tasks"] = total("tasks")
    m["spark.cpu_s"] = total("cpu_ns") / 1e9
    m["spark.gc_s"] = total("gc_ms") / 1e3
    m["spark.sched_delay_s"] = total("sched_delay_ms") / 1e3
    st = [c["stream"] for c in tc if c["stream"]]
    m["Streams.batch_s"] = sum(x["add_batch_ms"] for x in st) / n / 1e3
    m["Streams.commit_s"] = sum(x["commit_ms"] for x in st) / n / 1e3
    m["Streams.state_rows"] = sum(x["state_rows"] for x in st) / n
    m["Streams.state_mb"] = sum(x["state_b"] for x in st) / n / MB
    m["query.build_s"] = sum(c["build_s"] for c in tc) / n
    m["query.exec_s"] = sum(c["exec_s"] for c in tc) / n
    m["trace.overhead_s"] = trace_overhead(warm_passes)
    return m


def trace_overhead(warm_passes):
    """Mean wall of listener-on minus listener-off warm passes, leaving
    out the first warm pass (always on, and still slowed by JIT). The
    passes after it come in on, off, off, on blocks, so a linear trend
    across them cancels out."""
    later = [p for p in warm_passes if p["pass"] >= 2]
    on = [p["wall_s"] for p in later if p["traced"]]
    off = [p["wall_s"] for p in later if not p["traced"]]
    return statistics.mean(on) - statistics.mean(off)


def self_time_by_kind(spans):
    st = stats.self_times(
        {"id": s["id"], "parent": s["parent"], "start": s["start_s"],
         "end": s["end_s"]} for s in spans)
    out = {}
    for s in spans:
        kind = s["kind"].split(":")[0]
        out[kind] = out.get(kind, 0.0) + st[s["id"]]
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + RUN_LIMIT_S
    wl = WORKLOADS[a.workload]

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isfile(
            os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala"))):
        fail(f"no library sources under {ROOT}: run from a checkout", 2)
    files = source_files()
    cp, opts = build(files)
    deadline = max(deadline, time.monotonic() + RUN_LIMIT_S)

    seed_dir = os.path.join(WORK, "data", f"seed-{a.seed}")
    scale_dir = os.path.join(seed_dir, f"sf{wl['sf']}")
    gen.write(scale_dir, a.seed, wl["sf"])

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}"
    out = os.path.join(WORK, "runs", run_id)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    res = run_jvm(cp, opts, a.workload, scale_dir, a.seconds, a.trace, out,
                  run_id, deadline)

    exp = oracle.expected([q for q in wl["queries"] if q not in res["twins"]],
                          res["oracle_sql"], set(res["self_gating"]),
                          scale_dir, ROOT)
    exp.update(oracle.twins(res["twins"]))
    failures = {}
    failed = 0
    for c in res["calls"]:
        why = oracle.check(c, exp[c["query"]])
        if why is not None:
            failed += 1
            failures.setdefault(c["query"], why)
    attempted = len(res["calls"])
    spans_path = os.path.join(out, "spans.json")
    with open(spans_path, "w") as f:
        json.dump(res["spans"], f)

    # a call that returned a wrong result still has a latency; one that
    # threw or timed out has none
    returned = [c for c in res["calls"] if not c["error"]]
    if not any(c["pass"] > 0 for c in returned):
        fail("no warm call returned a result: " + "; ".join(
            f"{q}: {w}" for q, w in sorted(failures.items())), 6)
    e2e, lat = end_to_end(res, returned)
    n_lat = len(lat)
    print(f"workload {a.workload}: {len(wl['queries'])} calls a pass, tables "
          f"at sf={wl['sf']}, seed {a.seed}")
    print(f"program: git sha {res['git_sha']}, source digest "
      f"{source_digest(files)}")
    print(f"host: nproc {res['cpus']}, loadavg 1m {res['load_before']:.2f} "
      f"before, {res['load_after']:.2f} after")
    print("session conf: " + ", ".join(f"{k}={v}" for k, v in res["conf"].items()
                                   if k.startswith(("spark.sql.", "spark.graft",
                                                    "spark.master"))))
    warm_passes = [x for x in res["passes"] if x["kind"] == "warm"]
    print(f"passes: 1 cold, {len(warm_passes)} warm; {n_lat} warm query "
      "samples")
    print("pooled warm query latency percentiles with >= 10 samples beyond: "
          + (", ".join(f"p{q} {stats.nearest_rank(lat, q):.4f} s"
                       for q in (50, 75, 90, 99)
                       if stats.reportable(n_lat, q)) or "none"))
    for name, unit in END_TO_END:
        count = {"cold_pass_s": 1, "setup_s": 1,
                 "live_heap_mb": len(warm_passes),
                 "warm_pass_s": len(warm_passes)}.get(name, n_lat)
        print(f"  {name:16s} {e2e[name]:12.4f} {unit:5s} (n={count})")
    streams = [c for c in res["calls"] if c["stream"] and c["pass"] > 0]
    if streams:
        print("stream replays: " + ", ".join(sorted({
            f"{c['query']} {c['stream']['batches']} batches, "
            f"{c['stream']['input_rows']} rows, state "
            f"{c['stream']['state_rows']} rows" for c in streams})))
    print(f"peak resident memory (VmHWM) {res['vm_hwm_kb'] * 1024 / MB:.1f} MB")
    memo = {k: v for c in res["calls"] for k, v in c["memo_built"].items()}
    print("memo builds: " + (", ".join(f"{k.split('#')[-1]} {v:.2f}s"
                                   for k, v in sorted(memo.items())) or "none"))
    print(f"fail_frac {failed / attempted:.4f} ({failed} of {attempted} calls)")
    for q, why in sorted(failures.items()):
        print(f"  FAILED {q}: {why}")
    print(f"setup: session {res['session_create_s']:.2f} s, first job "
          f"{res['first_job_s']:.2f} s")
    print(f"spans: {spans_path} (self time by kind: " + ", ".join(
        f"{k} {v:.2f}s" for k, v in self_time_by_kind(res["spans"]).items())
      + ")")
    if a.trace:
        layer = per_layer(res)
        by_mod = {}
        for c in res["calls"]:
            if c["pass"] > 0:
                b = by_mod.setdefault(c["module"], [0.0, 0.0])
                b[0] += c["build_s"] / len(warm_passes)
                b[1] += c["exec_s"] / len(warm_passes)
        print("per warm pass, by module: " + ", ".join(
            f"{k} build {v[0]:.3f}s exec {v[1]:.3f}s"
            for k, v in sorted(by_mod.items())))
        print(f"tracing overhead: {layer['trace.overhead_s']:+.3f} s per warm "
          "pass (listener-on minus listener-off passes after the first, "
          "in on, off, off, on order)")
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
